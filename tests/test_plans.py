"""Catalyst behaviours the engine depends on at 100 TB: column pruning
into the kernel scan, predicate pushdown for partition-date pruning,
broadcast of small dims, JVM-side (codegen) operator queries."""

import os

from pyspark.sql import functions as F

from doc_ocr_spark.plans import (
    explain_str,
    pushed_filters,
    read_schema_columns,
    wholestage_codegen_spans,
)


def test_kernel_scan_prunes_columns(spark, tmp_path):
    """Only (url, html) may reach the scan feeding the kernel — never
    text/lang (SURVEY.md §4 'column pruning')."""
    from doc_ocr_spark.datagen import write_corpus_parquet
    from doc_ocr_spark.kernel import apply_kernel

    src = str(tmp_path / "pages.parquet")
    write_corpus_parquet(src, 20)
    df = apply_kernel(spark.read.parquet(src))
    cols = read_schema_columns(df)
    assert set(cols) == {"url", "html"}


def test_filter_pushdown_reaches_scan(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").filter(
        F.col("o_orderstatus") == "F"
    )
    pf = pushed_filters(df)
    assert any("o_orderstatus" in f for f in pf), pf


def test_partition_pruning_on_bucket_output(spark, tmp_path):
    """Reading one bucket of the job's partitioned output must scan only
    that hive partition (the Iceberg bucket-pruning analogue)."""
    from doc_ocr_spark.datagen import write_corpus_parquet
    from doc_ocr_spark.job import run_extraction

    src = str(tmp_path / "pages.parquet")
    write_corpus_parquet(src, 60)
    out = str(tmp_path / "out")
    run_extraction(spark, src, out, n_buckets=4)
    one = spark.read.parquet(out).filter(F.col("part_bucket") == 2)
    plan = explain_str(one)
    assert "PartitionFilters" in plan and "part_bucket" in plan


def test_small_dims_broadcast(spark):
    from doc_ocr_spark.operators.relational import revenue_by_nation

    df = revenue_by_nation(spark, "/root/testdata/sf0.001")
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan


def test_operator_queries_are_codegen(spark):
    """The SQL-side operators must run inside whole-stage codegen (no
    Python in the hot path)."""
    from doc_ocr_spark.operators.dedup import simhash16
    from doc_ocr_spark.operators.relational import q1_pricing_summary

    assert wholestage_codegen_spans(q1_pricing_summary(spark, "/root/testdata/sf0.001")) >= 1
    plan = explain_str(simhash16(spark, "/root/testdata/sf0.001"), "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bucketed_tables_join_without_shuffle(spark):
    """Co-located join via bucketBy: two tables bucketed 8-ways on the
    join key must hash-join with ZERO exchanges (the 100 TB technique
    for repeated large-large joins — shuffle paid once at write time)."""
    import shutil

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS customer_b")
    # the in-memory catalog forgets tables between sessions but the
    # warehouse DIRECTORY persists; clear it or saveAsTable refuses
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("orders_b", "customer_b"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    (orders.write.mode("overwrite").bucketBy(8, "o_custkey")
     .sortBy("o_custkey").format("parquet").saveAsTable("orders_b"))
    (customer.write.mode("overwrite").bucketBy(8, "c_custkey")
     .sortBy("c_custkey").format("parquet").saveAsTable("customer_b"))
    joined = (
        spark.table("orders_b")
        .hint("merge")  # force SMJ so bucketing (not broadcast) is what's proven
        .join(spark.table("customer_b"),
              F.col("o_custkey") == F.col("c_custkey"))
    )
    plan = explain_str(joined, "simple")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan


def test_approx_count_distinct_within_tolerance(spark):
    """The 100 TB estimator (HLL++): approx_count_distinct must land
    within its configured relative error of the exact count (exact
    lives in the oracle-gated distinct_parts_per_supplier)."""
    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    row = li.agg(
        F.countDistinct("l_partkey").alias("exact"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx"),
    ).collect()[0]
    assert abs(row.approx - row.exact) / row.exact < 0.06  # 3x rsd


def test_winnowing_plan_is_map_only(spark):
    """fingerprint_winnow computes window minima IN-ROW — no
    DATA-DEPENDENT exchange (round-2 rework: the window-function
    formulation shuffled every k-gram row, keyed by doc_id).  The one
    exchange allowed is respread's ROUND-ROBIN redistribution of the
    raw rows when the source under-splits (finding #36: the md5 stage
    ran on 2 of 32 cores at the sf1eq point, 34.9 -> 1.9 s); at corpus
    scale the condition makes it a no-op, and round-robin carries no
    key, no skew, no semantic dependence."""
    from doc_ocr_spark.operators.dedup import fingerprint_winnow

    plan = explain_str(fingerprint_winnow(spark, "/root/testdata/sf0.001"), "simple")
    import re

    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all(k == "RoundRobinPartitioning" for k in exchanges), plan
    assert "Window" not in plan, plan


def test_ivf_assignment_aggregates_not_windows(spark):
    """ann_ivf_bucketed's argmax is a max_by aggregation (map-side
    partial combine shrinks the shuffle from n x k rows to ~n) — no
    Window/row_number in the plan."""
    from doc_ocr_spark.operators.similarity import ann_ivf_bucketed

    plan = explain_str(ann_ivf_bucketed(spark, "/root/testdata/sf0.001"), "simple")
    assert "Window" not in plan, plan
    assert "partial_max_by" in plan or "HashAggregate" in plan or "SortAggregate" in plan, plan


def test_norms_and_buckets_need_no_shuffle(spark):
    """Embedding norms are an in-row projection (round 1 spent a shuffle
    per norm/agg), and the hyperplane bucket bits are computed map-side
    in embedding_cosine_dedup's mapInPandas kernel: the (vec_id,
    embedding, nrm) frame both similarity kernels read must carry no
    Exchange."""
    from doc_ocr_spark.operators.similarity import _emb_with_norms

    plan = explain_str(
        _emb_with_norms(spark, "/root/testdata/sf0.001"), "simple"
    )
    assert "Exchange" not in plan, plan


def test_in_subquery_decorrelates_to_semi_join(spark):
    """Catalyst must rewrite the IN-subquery to a (broadcast) semi join
    — no nested-loop per-row subquery execution."""
    from doc_ocr_spark.operators.relational4 import (
        high_value_customers_in_subquery,
    )

    plan = explain_str(
        high_value_customers_in_subquery(spark, "/root/testdata/sf0.001"),
        "simple",
    )
    assert "LeftSemi" in plan or "SemiJoin" in plan, plan


def test_stratified_sample_is_map_only(spark):
    """The hash-stratified sampler is a pure function of (doc_id, lang):
    its plan must be scan -> project/filter with no Exchange, so the
    kept set is identical at any parallelism."""
    from doc_ocr_spark.operators.sampling import stratified_sample

    plan = explain_str(stratified_sample(spark, "/root/testdata/sf0.001"), "simple")
    assert "Exchange" not in plan, plan


def test_repetition_stats_is_map_only(spark):
    """The top-bigram count is the longest equal-run of the sorted
    in-row bigram array — the plan must be scan+project with no Window,
    no join, and no KEYED exchange (the explode+agg form shuffled a row
    per distinct bigram).  Round 6: the conditional respread may add
    ONE round-robin redistribution of the raw rows when the scan is
    split-starved (a structural no-op at corpus scale; gating tested in
    test_respread_gating) — hash/range exchanges remain banned."""
    from doc_ocr_spark.operators.sampling import repetition_stats

    plan = explain_str(repetition_stats(spark, "/root/testdata/sf0.001"), "simple")
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan, plan
    assert "Window" not in plan and "Join" not in plan, plan


def test_nn_bucket_self_join_reuses_assignment(spark):
    """ann_nn_within_bucket's probe and index sides must filter one
    shared IVF assignment subtree (centroid sims + ranking window), so
    the assignment executes once for both cogroup inputs: the final
    adaptive plan must contain a ReusedExchange."""
    from doc_ocr_spark.operators.similarity import ann_nn_within_bucket

    df = ann_nn_within_bucket(spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan


def test_domain_quota_partial_window_limit(spark):
    """The per-domain cap must partial-limit BEFORE the shuffle (Spark's
    WindowGroupLimit Partial): a hot domain forwards at most QUOTA rows
    per map task instead of its full volume."""
    from doc_ocr_spark.operators.sampling import domain_quota

    plan = explain_str(domain_quota(spark, "/root/testdata/sf0.001"), "simple")
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, plan


def test_contamination_joins_broadcast(spark):
    """The benchmark shingle set is tiny by construction — the overlap
    test must be a broadcast join, never a corpus-sized shuffle join."""
    from doc_ocr_spark.operators.sampling import contamination_flags

    plan = explain_str(contamination_flags(spark, "/root/testdata/sf0.001"), "simple")
    assert "BroadcastHashJoin" in plan, plan


def test_jaccard_broadcasts_only_bounded_relations(spark):
    """VERDICT r02 item 3: the jaccard plan must not hint-broadcast any
    O(n_docs) relation (the per-doc `sizes` aggregate).  The only
    permissible hints wrap the df-cap hot-shingle blacklist, whose
    cardinality is bounded by construction (each member needs > cap
    docs) — structurally: every ResolvedHint's child subtree carries
    the `df > cap` filter.  The sizes joins are plain equi-joins; AQE
    may still broadcast them at runtime when they actually fit, which
    is the correct adaptive behavior."""
    from doc_ocr_spark.operators.dedup import ngram_jaccard_pairs

    df = ngram_jaccard_pairs(spark, "/root/testdata/sf0.001")
    lines = df._jdf.queryExecution().analyzed().toString().splitlines()
    hints = [i for i, l in enumerate(lines) if "ResolvedHint" in l]
    assert hints, "df-cap blacklist broadcast hint disappeared"
    for i in hints:
        window = "\n".join(lines[i : i + 4])
        assert "Filter (df#" in window, window


def test_curation_decision_joins_materialized_signals(spark):
    """corpus_curation (VERDICT r02 item 2) must be the signals/decision
    split: the decision plan reads EXACTLY two parquet relations — one
    `documents` identity scan and the materialized signals table — with
    no re-derivation of any signal (no window, no Python UDF) and a
    broadcastable join at this SF."""
    from doc_ocr_spark.operators.sampling import corpus_curation

    plan = explain_str(corpus_curation(spark, "/root/testdata/sf0.001"), "simple")
    assert plan.count("FileScan parquet") == 2, plan
    from doc_ocr_spark import staging

    assert os.path.join(staging.stage_root(), "signals") in plan, plan
    assert "WindowGroupLimit" not in plan and "Window" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_curation_signals_frame_plan_shape(spark):
    """The one-time signals MATERIALIZATION keeps each signal's scale
    shape: the quota signal's WindowGroupLimit partial pass survives
    (joined from domain_quota — an inline row_number would lose it and
    shuffle hot domains' full volume), contamination broadcasts, and no
    Python UDF appears anywhere in the DAG.  The round-5 near-dup
    signal is allowed its two sort-merge joins: the losers join into
    the base (doc_id-keyed, so its output partitioning feeds the
    table's final repartition(doc_id) write) and dedup_clusters' own
    labels-x-keepers join (cluster_id-keyed).  Both build sides derive
    from the label-propagation fixpoint — a checkpointed RDD with no
    stats for a broadcast estimate, and at 100 TB cluster losers can
    be a large corpus fraction, so broadcasting would be wrong
    anyway."""
    from doc_ocr_spark.operators.sampling import curation_signals_frame

    plan = explain_str(
        curation_signals_frame(spark, "/root/testdata/sf0.001"), "simple"
    )
    assert plan.count("FileScan parquet") <= 7, plan
    assert "WindowGroupLimit" in plan, plan
    assert plan.count("SortMergeJoin") <= 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_asof_join_is_union_sort_no_join(spark):
    """The as-of attribution must run as ONE window over a union — no
    join operator and exactly one shuffle — instead of a pairwise
    range join whose candidates blow up with per-user activity."""
    from doc_ocr_spark.operators.sessionize import asof_click_attribution

    plan = explain_str(asof_click_attribution(spark, "/root/testdata/sf0.001"), "simple")
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_dup_span_flags_single_corpus_scan(spark):
    """The df>=2 side and the per-doc side must share the distinct
    (doc, span) subtree: the final adaptive plan carries a
    ReusedExchange and exactly ONE documents scan."""
    from doc_ocr_spark.operators.dedup import dup_span_flags

    df = dup_span_flags(spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    assert "ReusedExchange" in plan, plan
    assert plan.count("FileScan") == 1, plan


def test_tfidf_two_scans_no_join_on_term(spark):
    """tfidf's df comes from a count window over the tf table (not a
    groupBy+join re-derivation, which re-scanned the corpus when AQE
    broadcast one side): final plan = the tf-stream scan plus the
    count-only n_docs scan, and no hash join on term."""
    from doc_ocr_spark.operators.textstats import tfidf_top_terms

    df = tfidf_top_terms(spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    assert plan.count("FileScan") == 2, plan
    assert "BroadcastHashJoin" not in plan and "SortMergeJoin" not in plan, plan


def test_respread_gating(spark, tmp_path):
    """respread must (a) round-robin a split-starved scan up to the
    session parallelism, (b) be an identity when the scan already
    provides enough partitions, (c) respect the min_bytes floor
    for compute-light inputs, and (d) count as starved a scan whose
    byte splits outnumber the cores but whose row groups do not."""
    from doc_ocr_spark.operators import respread

    p = str(tmp_path / "t.parquet")
    spark.range(1000).write.parquet(p)  # small single-ish-file table
    one = spark.read.parquet(p).coalesce(1)
    par = spark.sparkContext.defaultParallelism

    spread = respread(one)
    assert spread.rdd.getNumPartitions() == par
    assert "RoundRobinPartitioning" in spread._jdf.queryExecution().toString()

    # floor: a tiny input stays on the scan layout
    floored = respread(spark.read.parquet(p), min_bytes=1 << 30)
    assert "RoundRobinPartitioning" not in floored._jdf.queryExecution().toString()

    # already-parallel input is untouched
    wide = one.repartition(par + 4)
    assert respread(wide) is wide

    # row-group starvation: a file of two row groups that Spark still
    # cuts into >= par byte splits has only two splits holding work
    rg2 = _random_pages_parquet(tmp_path / "rg2.parquet", n_row_groups=2)
    cut = spark.read.parquet(rg2)
    assert cut.rdd.getNumPartitions() >= par
    spread = respread(cut)
    assert spread.rdd.getNumPartitions() == par
    assert "RoundRobinPartitioning" in spread._jdf.queryExecution().toString()

    # the same bytes in >= par row groups already keep every slot busy
    rgpar = _random_pages_parquet(tmp_path / "rgpar.parquet", n_row_groups=par)
    busy = spark.read.parquet(rgpar)
    assert busy.rdd.getNumPartitions() >= par
    assert respread(busy) is busy


def _random_pages_parquet(path, n_row_groups: int, mb: int = 20) -> str:
    """One uncompressed parquet file of ``mb`` MB of incompressible
    payload in ``n_row_groups`` equal row groups (~20 MB is what the
    16m maxPartitionBytes session cuts into >= 4 byte splits)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows, size = 2000, mb << 20
    blob = os.urandom(size // rows)
    table = pa.table(
        {
            "url": [f"https://rg.test/{i}" for i in range(rows)],
            "html": [blob] * rows,
        }
    )
    pq.write_table(
        table,
        str(path),
        row_group_size=rows // n_row_groups,
        compression="none",
        use_dictionary=False,
    )
    assert pq.ParquetFile(str(path)).metadata.num_row_groups == n_row_groups
    return str(path)


def test_respread_floor_sized_without_local_stat(spark, tmp_path, monkeypatch):
    """The min_bytes floor is sized through the filesystem of the input
    URI, not a local ``os.path.getsize``: an input whose size the local
    stat cannot resolve (a remote URI) still respreads when starved and
    above the floor."""
    from doc_ocr_spark.operators import respread

    src = _random_pages_parquet(tmp_path / "remote.parquet", n_row_groups=1, mb=2)

    def _no_local_stat(path):
        raise OSError(f"no local stat for {path}")

    monkeypatch.setattr(os.path, "getsize", _no_local_stat)
    starved = spark.read.parquet(src)
    spread = respread(starved, min_bytes=1 << 20)
    assert "RoundRobinPartitioning" in spread._jdf.queryExecution().toString()
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_extraction_writes_exchange_once_after_kernel(spark, tmp_path, monkeypatch):
    """The batch job and streaming ingest place their output the same
    way: below the kernel only respread's keyless round-robin may move
    the raw html, and the one keyed exchange, by part_bucket, sits above
    it.  The writer is stopped before it runs a job; the plan is read
    off the DataFrame it was handed.  The batch job starts no Spark job
    before its write (its input schema is given, not inferred)."""
    import re

    import pytest
    from pyspark.sql.readwriter import DataFrameWriter

    from doc_ocr_spark.job import run_extraction
    from doc_ocr_spark.streaming import write_extracted_batch

    class _Stop(Exception):
        pass

    written = []

    def _capture(self, *args, **kwargs):
        written.append(self._df)
        raise _Stop

    monkeypatch.setattr(DataFrameWriter, "parquet", _capture)
    # one row group of 2 MB: split-starved and above the kernel's floor
    src = _random_pages_parquet(tmp_path / "pages.parquet", n_row_groups=1, mb=2)
    sc = spark.sparkContext
    sc.setJobGroup("before-write", "jobs run before the extraction write")
    try:
        with pytest.raises(_Stop):
            run_extraction(spark, src, str(tmp_path / "out"), n_buckets=8)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    assert list(sc.statusTracker().getJobIdsForGroup("before-write")) == []
    with pytest.raises(_Stop):
        write_extracted_batch(spark.read.parquet(src), 0, str(tmp_path / "s"), 8)

    for df in written:
        plan = explain_str(df, "simple").split("== Physical Plan ==")[-1]
        above, below = plan.split("MapInArrow", 1)
        below_kernel = re.findall(r"Exchange (\w+)", below)
        assert below_kernel == ["RoundRobinPartitioning"], plan
        assert len(re.findall(r"Exchange hashpartitioning\(part_bucket", above)) == 1, plan
        assert len(re.findall(r"Exchange ", above)) == 1, plan
