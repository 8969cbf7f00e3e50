"""Distributed-vs-golden byte-identity + checkpoint/resume protocol."""

import os

import pytest
from pyspark.sql import functions as F

from doc_ocr_spark.datagen import write_corpus_parquet
from doc_ocr_spark.golden import compare_to_golden, golden_rows
from doc_ocr_spark.job import completed_buckets, run_extraction
from doc_ocr_spark.kernel import apply_kernel

N_DOCS = 150


@pytest.fixture(scope="module")
def corpus_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("corpus") / "pages.parquet"
    write_corpus_parquet(str(p), N_DOCS, seed=42)
    return str(p)


def _rows(df):
    return [r.asDict(recursive=True) for r in df.collect()]


def test_kernel_matches_golden_bytewise(spark, corpus_path):
    golden = golden_rows(N_DOCS, seed=42)
    df = spark.read.parquet(corpus_path)
    out = _rows(apply_kernel(df.repartition(7)))
    assert compare_to_golden(out, golden) == []


def test_kernel_partitioning_invariance(spark, corpus_path):
    """Same result regardless of partition count / input order
    (SURVEY.md §5.2.4 determinism gate)."""
    df = spark.read.parquet(corpus_path)
    a = _rows(apply_kernel(df.repartition(2)))
    b = _rows(apply_kernel(df.orderBy(F.rand(seed=1)).repartition(13)))
    assert compare_to_golden(a, b) == []


def test_job_end_to_end_with_lineage(spark, corpus_path, tmp_path):
    out = str(tmp_path / "out")
    m = run_extraction(spark, corpus_path, out, n_buckets=8)
    assert m["docs"] == N_DOCS
    result = spark.read.parquet(out)
    assert result.count() == N_DOCS
    # lineage: one row per bucket, stats add up
    lin = spark.read.parquet(os.path.join(out, "_lineage"))
    assert lin.count() == 8
    assert lin.agg(F.sum("doc_count")).collect()[0][0] == N_DOCS
    assert set(completed_buckets(spark, out)) == set(range(8))
    # golden identity straight off the committed table
    assert compare_to_golden(_rows(result.drop("part_bucket", "bytes_in", "extractor_version")), golden_rows(N_DOCS)) == []


def _on_disk(out):
    """{bucket -> (rows, bytes)} of the committed data files, read
    straight off the filesystem."""
    import pyarrow.parquet as pq

    found = {}
    for d in os.listdir(out):
        if not d.startswith("part_bucket="):
            continue
        b = int(d.split("=", 1)[1])
        for f in os.listdir(os.path.join(out, d)):
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                p = os.path.join(out, d, f)
                rows, size = found.get(b, (0, 0))
                found[b] = (
                    rows + pq.ParquetFile(p).metadata.num_rows,
                    size + os.path.getsize(p),
                )
    return found


def _drop_lineage_of_odd_buckets(out):
    """The "died between data commit and lineage append" window for
    half the buckets: data files stay, their lineage rows go."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from doc_ocr_spark.job import lineage_path

    lin = lineage_path(out)
    table = pq.read_table(lin)
    even = table.filter(
        pc.equal(pc.bit_wise_and(table.column("part_bucket"), pa.scalar(1, pa.int32())), 0)
    )
    shutil.rmtree(lin)
    os.makedirs(lin)
    pq.write_table(even, os.path.join(lin, "part-00000-crash.parquet"))


def test_lineage_costs_no_output_data_read(spark, corpus_path, tmp_path, monkeypatch):
    """Round-1 regression guard: lineage must come from file METADATA
    (footers + listing) and Observation, never from re-reading the
    written output — at the design point that re-read was a second full
    pass over the extracted corpus.  Intercepts DataFrameReader.parquet
    and fails if the output path is ever loaded during the job — the
    first run and a resume after a crash that lost half the lineage —
    and checks that each bucket's lineage row matches its files on
    disk (rows and bytes)."""
    from pyspark.sql.readwriter import DataFrameReader

    out = str(tmp_path / "out_noreread")
    real_parquet = DataFrameReader.parquet
    read_paths = []

    def spy(self, *paths, **opts):
        read_paths.extend(paths)
        return real_parquet(self, *paths, **opts)

    def lineage_matches_disk():
        offenders = [
            p for p in read_paths
            if p.startswith(out) and not p.startswith(os.path.join(out, "_lineage"))
        ]
        assert offenders == [], f"job re-read its own output: {offenders}"
        lin = spark.read.parquet(os.path.join(out, "_lineage")).collect()
        assert len(lin) == len({r.part_bucket for r in lin})  # one row per bucket
        assert sum(r.doc_count for r in lin) == N_DOCS
        assert all(r.bytes_out > 0 for r in lin)
        per_bucket = {r.part_bucket: (r.doc_count, r.bytes_out) for r in lin}
        assert per_bucket == _on_disk(out)
        actual = {
            r.part_bucket: r.n
            for r in real_parquet(spark.read, out)
            .groupBy("part_bucket").agg(F.count("*").alias("n")).collect()
        }
        assert {b: n for b, (n, _) in per_bucket.items()} == actual

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    m = run_extraction(spark, corpus_path, out, n_buckets=8)
    assert m["docs"] == N_DOCS
    lineage_matches_disk()

    _drop_lineage_of_odd_buckets(out)
    read_paths.clear()
    m = run_extraction(spark, corpus_path, out, n_buckets=8, resume=True)
    assert m["resumed"] is True
    assert 0 < m["docs"] < N_DOCS
    lineage_matches_disk()


def test_list_data_files_globs_committed_layout(spark, tmp_path):
    """The one-glob listing returns {} for an absent output and only the
    committed ``part_bucket=*/*.parquet`` files otherwise: never
    _lineage, .crc checksums, _SUCCESS or an in-flight _temporary
    tree.  Glob metacharacters in the output path match literally."""
    from doc_ocr_spark.job import _list_data_files

    out = tmp_path / "listed[v1]{a,b}"
    assert _list_data_files(spark, str(out)) == {}

    def put(rel, n):
        p = out / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(b"x" * n)
        return p

    want = {
        put("part_bucket=0/part-00000-a.c000.snappy.parquet", 11),
        put("part_bucket=0/part-00001-a.c000.snappy.parquet", 12),
        put("part_bucket=7/part-00002-a.c000.snappy.parquet", 13),
    }
    put("part_bucket=0/.part-00000-a.c000.snappy.parquet.crc", 5)
    put("part_bucket=7/_part-00002-a.c000.snappy.parquet", 5)
    put("_SUCCESS", 0)
    put("_lineage/part-00000-l.snappy.parquet", 5)
    put("_lineage/part_bucket=1/part-00000-l.snappy.parquet", 5)
    put("_temporary/0/task/part_bucket=3/part-00003-t.snappy.parquet", 5)
    put("part_bucket=4/_temporary/part-00004-t.snappy.parquet", 5)

    listed = _list_data_files(spark, str(out))
    assert {p.removeprefix("file:") for p in listed} == {str(p) for p in want}
    assert sorted(listed.values()) == [11, 12, 13]


def test_job_resume_skips_completed_buckets(spark, corpus_path, tmp_path):
    """A resume with every bucket committed is a no-op that returns
    before it reads the input (it succeeds after the input is deleted);
    a rerun without --resume refuses the committed output."""
    import shutil

    src = str(tmp_path / "pages.parquet")
    shutil.copy(corpus_path, src)
    out = str(tmp_path / "out2")
    run_extraction(spark, src, out, n_buckets=8)
    before = spark.read.parquet(out).count()
    os.remove(src)
    m = run_extraction(spark, src, out, n_buckets=8, resume=True)
    assert m["resumed"] is True
    assert (m["buckets_run"], m["docs"]) == (0, 0)  # nothing left to do
    assert spark.read.parquet(out).count() == before  # no duplicates
    with pytest.raises(ValueError, match="already has committed lineage"):
        run_extraction(spark, src, out, n_buckets=8)


def test_job_resume_processes_only_pending(spark, corpus_path, tmp_path):
    """Simulate a mid-run failure: first run covers half the buckets."""
    out = str(tmp_path / "out3")
    df = spark.read.parquet(corpus_path)
    # restrict first run to buckets 0-3 by filtering the input on the
    # same stable hash the job uses
    from doc_ocr_spark.job import with_bucket

    half = with_bucket(df, 8).filter(F.col("part_bucket") < 4).drop("part_bucket")
    half_path = str(tmp_path / "half.parquet")
    half.write.parquet(half_path)
    run_extraction(spark, half_path, out, n_buckets=8)
    done = set(completed_buckets(spark, out))
    assert done and done.issubset(set(range(8)))
    m = run_extraction(spark, corpus_path, out, n_buckets=8, resume=True)
    assert spark.read.parquet(out).count() == N_DOCS
    assert compare_to_golden(
        _rows(
            spark.read.parquet(out).drop("part_bucket", "bytes_in", "extractor_version")
        ),
        golden_rows(N_DOCS),
    ) == []


def test_completed_buckets_raises_on_corrupt_lineage(spark, tmp_path):
    """A _lineage that is missing or holds no committed file reads as
    "nothing committed".  An unreadable lineage file must raise: read
    as empty, it would make a --resume run silently recompute every
    bucket."""
    from doc_ocr_spark.job import lineage_path

    out = str(tmp_path / "out_corrupt")
    assert completed_buckets(spark, out) == []
    # a first run that died inside its lineage append leaves only this
    os.makedirs(os.path.join(lineage_path(out), "_temporary", "0"))
    assert completed_buckets(spark, out) == []
    with open(os.path.join(lineage_path(out), "part-0.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        completed_buckets(spark, out)


def test_job_resume_after_crash_between_data_and_lineage(spark, corpus_path, tmp_path):
    """The crash window the dynamic partition overwrite closes: data
    files committed but the lineage append never ran.  A resume must
    REPLACE the orphaned bucket output, not append a duplicate copy."""
    import shutil

    from doc_ocr_spark.job import lineage_path

    out = str(tmp_path / "out4")
    run_extraction(spark, corpus_path, out, n_buckets=8)
    assert spark.read.parquet(out).count() == N_DOCS
    # simulate the crash: wipe the lineage commit, keep the data files
    shutil.rmtree(lineage_path(out))
    assert completed_buckets(spark, out) == []
    m = run_extraction(spark, corpus_path, out, n_buckets=8, resume=True)
    assert m["docs"] == N_DOCS  # everything recomputed...
    assert spark.read.parquet(out).count() == N_DOCS  # ...but not duplicated
    assert compare_to_golden(
        _rows(
            spark.read.parquet(out).drop("part_bucket", "bytes_in", "extractor_version")
        ),
        golden_rows(N_DOCS),
    ) == []
    # lineage recommitted for every bucket
    assert set(completed_buckets(spark, out)) == set(range(8))


def test_job_crash_injected_between_data_commit_and_lineage(
    spark, corpus_path, tmp_path, monkeypatch
):
    """VERDICT r04 item 5: failure INJECTION at the exact boundary the
    dynamic overwrite protects — the run's data write has committed but
    it dies BEFORE the lineage append (injected: the lineage derivation
    raises), on top of partial prior progress (half the buckets already
    committed).  The follow-up resume must neither duplicate the
    orphaned buckets' rows nor drop or recompute the committed ones."""
    from doc_ocr_spark import job as J

    out = str(tmp_path / "out_crash")
    # prior progress: a completed run over the bucket<4 half-corpus
    half = (
        J.with_bucket(spark.read.parquet(corpus_path), 8)
        .filter(F.col("part_bucket") < 4)
        .drop("part_bucket")
    )
    half_path = str(tmp_path / "half_crash.parquet")
    half.write.parquet(half_path)
    run_extraction(spark, half_path, out, n_buckets=8)
    committed = set(completed_buckets(spark, out))
    assert committed == set(range(4))
    n_committed_docs = spark.read.parquet(out).count()

    def _die(*a, **k):
        raise RuntimeError("injected kill between data commit and lineage append")

    monkeypatch.setattr(J, "_lineage_from_files", _die)
    with pytest.raises(RuntimeError, match="injected kill"):
        run_extraction(spark, corpus_path, out, n_buckets=8, resume=True)
    monkeypatch.undo()

    # post-crash state: orphaned data for buckets 4-7, no lineage for them
    assert set(completed_buckets(spark, out)) == committed
    assert spark.read.parquet(out).count() == N_DOCS  # data DID commit

    m = run_extraction(spark, corpus_path, out, n_buckets=8, resume=True)
    # committed buckets were skipped, only the orphaned ones recomputed
    assert m["docs"] == N_DOCS - n_committed_docs
    final = spark.read.parquet(out)
    assert final.count() == N_DOCS  # orphans replaced, not appended-to
    assert final.select("url").distinct().count() == N_DOCS  # nothing dropped
    assert compare_to_golden(
        _rows(final.drop("part_bucket", "bytes_in", "extractor_version")),
        golden_rows(N_DOCS),
    ) == []
    # lineage now covers every bucket exactly once, counts exact
    lin = spark.read.parquet(J.lineage_path(out))
    per_bucket = {r.part_bucket: r.doc_count for r in lin.collect()}
    assert set(per_bucket) == set(range(8))
    actual = {
        r.part_bucket: r.n
        for r in final.groupBy("part_bucket").agg(F.count("*").alias("n")).collect()
    }
    assert per_bucket == actual
