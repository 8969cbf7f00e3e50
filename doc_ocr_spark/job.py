"""The batch extraction job: read -> Arrow kernel -> salted repartition
-> partitioned write + per-partition lineage; checkpoint/resume.
The one exchange follows the kernel (``extract_bucketed``, shared with
streaming ingest), so raw html is never grouped by key.  Giant blobs are
bounded without one: the keyless respread of split-starved scans, the
kernel's ``_BYTE_BUDGET`` flush and ``arrow.maxRecordsPerBatch``.

Launchable via ``spark-submit --py-files doc_ocr_spark.zip job.py`` or
``python -m doc_ocr_spark.job`` (north_rule: spark-submit --py-files on a
multi-executor cluster).

Partitioning / resume protocol (SURVEY.md §3.5):

- every row gets ``part_bucket = pmod(xxhash64(url), n_buckets)`` — a
  stable, data-independent salt of the url, so bucket membership never
  changes between runs (the precondition for resume)
- output is written ``partitionBy(part_bucket)`` with DYNAMIC partition
  overwrite: only the buckets in this run's data are (re)written, so a
  crash between the data commit and the lineage append cannot
  duplicate a bucket on resume — the rerun replaces the orphaned
  partition instead of appending beside it
- after a successful write, one lineage row per bucket (doc_count,
  bytes_out, extractor_version, wall_ms) is appended to
  ``<output>/_lineage``.  Lineage costs NO second data pass (round-1
  re-read the whole written output — a full extra scan at the design
  point): doc_count comes from the parquet FOOTERS of exactly the
  files this run added (metadata-only reads by a small driver thread
  pool — at most ``n_buckets`` files per run), bytes_out from their
  on-disk sizes, and run totals (docs, bytes_in, text bytes) ride the
  write itself via ``Observation``.  After the data write the job runs
  no Spark job besides the one-file lineage append: the data files are
  listed by a single ``globStatus`` of ``part_bucket=*/*.parquet``
- ``--resume`` anti-joins pending buckets against committed lineage and
  processes only the remainder — a failed run never recomputes finished
  buckets

Iceberg note: the sandbox has no Iceberg runtime jar; the layout above
(bucketed partition column + lineage-as-manifest) is the parquet
transcription of an Iceberg ``PARTITIONED BY (bucket(N, url))`` table +
snapshot metadata, and ``read_corpus`` in sources/corpus.py tries the
Iceberg catalog first when one is configured.
"""

from __future__ import annotations

import argparse
import os
import re
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from doc_ocr_spark.core.extractor import KERNEL_VERSION
from doc_ocr_spark.kernel import apply_kernel


def lineage_path(output: str) -> str:
    return os.path.join(output, "_lineage")


def completed_buckets(spark: SparkSession, output: str) -> list[int]:
    """Buckets already committed to lineage (empty on first run, or
    after a first run died inside the lineage append).  Any read error
    propagates: read as empty, it would make --resume recompute all."""
    lineage = lineage_path(output)
    path = spark._jvm.org.apache.hadoop.fs.Path(lineage)
    if not path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path):
        return []
    ldf = spark.read.schema("part_bucket int").parquet(lineage)
    return [r.part_bucket for r in ldf.distinct().collect()]


def _list_data_files(spark: SparkSession, output: str) -> dict[str, int]:
    """{file path -> size} for committed data files under ``output``
    (any Hadoop-supported filesystem).  One ``globStatus`` of
    ``part_bucket=*/*.parquet``: the committed layout is exactly one
    directory level deep, so _lineage, _SUCCESS, .crc checksums and
    in-flight _temporary / .spark-staging trees never match (and the
    names Spark's reader skips, leading ``_`` or ``.``, are dropped).
    Glob metacharacters in ``output`` itself are escaped, so they match
    literally.  An Iceberg catalog would serve the same list from
    manifests."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    literal = re.sub(r"([\\\[\]{}*?])", r"\\\1", output)
    pattern = jvm.org.apache.hadoop.fs.Path(literal, "part_bucket=*/*.parquet")
    statuses = pattern.getFileSystem(conf).globStatus(pattern)
    out: dict[str, int] = {}
    for st in statuses or []:
        path = st.getPath()
        if not path.getName().startswith(("_", ".")):
            out[path.toString()] = int(st.getLen())
    return out


def _bucket_of(path: str) -> int:
    seg = [s for s in path.split("/") if s.startswith("part_bucket=")][-1]
    return int(seg.split("=", 1)[1])


def _num_rows(p: str) -> int:
    """Row count of one parquet file from its footer alone."""
    import pyarrow.parquet as pq

    if p.startswith("file:"):
        return pq.ParquetFile(p[5:]).metadata.num_rows
    if "://" in p:
        # non-local output (hdfs/s3a/...): resolve through
        # pyarrow's filesystem layer — still a footer-only read
        from pyarrow import fs as pafs

        filesystem, path = pafs.FileSystem.from_uri(p)
        with filesystem.open_input_file(path) as f:
            return pq.ParquetFile(f).metadata.num_rows
    return pq.ParquetFile(p).metadata.num_rows


_FOOTER_THREADS = 8


def _lineage_from_files(
    spark: SparkSession, new_files: dict[str, int]
) -> DataFrame:
    """Per-bucket (doc_count, bytes_out) from file METADATA only:
    row counts from parquet footers (a few KB per file, read in the
    driver by a small thread pool), bytes from the listing.  Never
    touches row data.  The driver-side reads stay few at any corpus
    size: the post-kernel exchange puts each bucket in one write
    task, so a run adds at most ``n_buckets`` files.  Returns one
    local row per bucket, built from pandas so that it reaches the JVM
    as an Arrow-backed local relation (a list of tuples would go
    through a Python worker)."""
    from concurrent.futures import ThreadPoolExecutor

    import pandas as pd

    paths = sorted(new_files)
    with ThreadPoolExecutor(min(_FOOTER_THREADS, len(paths))) as pool:
        counts = list(pool.map(_num_rows, paths))
    per_file = pd.DataFrame(
        {
            "part_bucket": [_bucket_of(p) for p in paths],
            "doc_count": counts,
            "bytes_out": [new_files[p] for p in paths],
        }
    )
    per_bucket = per_file.groupby("part_bucket", as_index=False).sum()
    per_bucket = per_bucket.astype(
        {"part_bucket": "int32", "doc_count": "int64", "bytes_out": "int64"}
    )
    return spark.createDataFrame(
        per_bucket, "part_bucket int, doc_count long, bytes_out long"
    )


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "part_bucket", F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")
    )


def extract_bucketed(
    df: DataFrame, n_buckets: int, templates: list[dict] | None = None
) -> DataFrame:
    """Kernel, then the one exchange of every extraction write (batch
    job and streaming ingest): the EXTRACTED rows, ~4x fewer bytes than
    raw html, hash-repartitioned by url-hash bucket.  Each bucket lands
    wholly in one task, so a ``partitionBy("part_bucket")`` write adds
    one file per bucket.  The partition count comes from the session
    (AQE may coalesce it), not from ``n_buckets``."""
    return with_bucket(apply_kernel(df, templates), n_buckets).repartition(
        "part_bucket"
    )


def run_extraction(
    spark: SparkSession,
    input_path: str,
    output: str,
    n_buckets: int = 64,
    resume: bool = False,
    templates: list[dict] | None = None,
    input_format: str = "parquet",
) -> dict:
    """Returns run metrics (docs, bytes, wall seconds, buckets run).

    scan -> ``extract_bucketed`` -> partitioned write.  Shuffling the
    extracted rows instead of raw html measured 0.57 -> 0.87 scaling
    efficiency on the 60k-doc bench.

    ``input_format='warc'`` reads raw WARC/WARC.gz archives
    (sources/warc.py, one task per file — Common Crawl's natural
    parallelism) instead of a parquet pages table; everything
    downstream (kernel, exchange, lineage, resume) is identical.
    """
    t0 = time.monotonic()
    if input_format == "warc":
        from doc_ocr_spark.sources.warc import read_warc

        corpus = read_warc(spark, input_path)
    else:
        corpus = spark.read.parquet(input_path)
    corpus = with_bucket(corpus.select("url", "html"), n_buckets)

    done = set(completed_buckets(spark, output))
    if done and not resume:
        # the output append would silently duplicate finished buckets
        raise ValueError(
            f"{output} already has committed lineage; pass --resume to "
            "process only pending buckets (or use a fresh output path)"
        )
    if done:
        corpus = corpus.filter(~F.col("part_bucket").isin([int(b) for b in done]))

    extracted = extract_bucketed(corpus, n_buckets, templates)

    # run totals ride the write action itself — no separate agg pass
    obs = Observation("extract_metrics")
    extracted = extracted.observe(
        obs,
        F.count(F.lit(1)).alias("docs"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum(F.length("extracted_text")).alias("text_bytes"),
    )

    files_before = _list_data_files(spark, output)
    # DYNAMIC partition overwrite, not append: only the buckets present
    # in this run's data (= the pending ones; committed buckets were
    # filtered out above) have their partitions replaced.  This is the
    # crash-window fix: a run that died BETWEEN the data commit and the
    # lineage append leaves orphaned files in uncommitted buckets, and
    # a resume that appended would duplicate every row of those buckets
    # — with the overwrite the rerun replaces the orphans instead
    # (asserted by test_spark_job.py's crash-resume test).  Committed
    # buckets are untouched either way: absent from the written data,
    # their partitions are not rewritten.
    (
        extracted.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part_bucket")
        .parquet(output)
    )
    metrics = obs.get
    new_files = {
        p: sz
        for p, sz in _list_data_files(spark, output).items()
        if p not in files_before
    }

    # lineage from the committed files' METADATA (written only after a
    # successful output commit -> checkpoint semantics); the round-1
    # version re-read the entire written output here — a second full
    # data pass at the design point
    wall_ms = int((time.monotonic() - t0) * 1000)
    if new_files:
        lineage = (
            _lineage_from_files(spark, new_files)
            .withColumn("extractor_version", F.lit(KERNEL_VERSION))
            .withColumn("wall_ms", F.lit(wall_ms))
            # bytes_in stays in the schema as a nullable long (ADVICE
            # r02): the footer-only lineage path no longer measures it
            # per bucket, but dropping the column made appends to a
            # pre-existing _lineage dir mixed-schema — a later reader
            # selecting bytes_in would get nondeterministic resolution
            .withColumn("bytes_in", F.lit(None).cast("long"))
        )
        # one lineage file per run (the local relation would write one
        # per core)
        lineage.coalesce(1).write.mode("append").parquet(lineage_path(output))
    return {
        "docs": metrics["docs"] or 0,
        "bytes": metrics["bytes_in"] or 0,
        "text_bytes": metrics["text_bytes"] or 0,
        "wall_s": wall_ms / 1000.0,
        "buckets_run": n_buckets - len(done),
        "resumed": bool(done),
    }


def main() -> None:
    from doc_ocr_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--input-format", choices=["parquet", "warc"], default="parquet"
    )
    args = ap.parse_args()
    spark = get_spark("doc_ocr_spark.job", master=args.master)
    m = run_extraction(
        spark,
        args.input,
        args.output,
        n_buckets=args.buckets,
        resume=args.resume,
        input_format=args.input_format,
    )
    rate = m["docs"] / m["wall_s"] if m["wall_s"] else 0.0
    print(
        f"extracted {m['docs']} docs ({m['bytes']} bytes) in {m['wall_s']:.1f}s "
        f"= {rate:.1f} docs/s over {m['buckets_run']} buckets"
    )
    spark.stop()


if __name__ == "__main__":
    main()
