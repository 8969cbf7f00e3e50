"""Similarity search over the ``embeddings`` table (array<float>, 64-d).

Parity discipline: dot products are summed as scaled longs
(``floor(p * 1e12)`` per element product — exact, order-independent,
and on codegen's primitive fast path; see operators/__init__.py for why
not DECIMAL), so Spark and DuckDB agree bit-for-bit before the final
6-dp rounding (error bound 64e-12 << 1e-6).

Plan shape:

- Norms and k-means assignment dots are computed IN-ROW with
  ``aggregate(zip_with(...))``.  That deletes a shuffle each: norms
  were explode -> groupBy -> JOIN back; k-means assignment was an
  equi-join on the dimension index — 64 distinct join keys, a
  guaranteed hot-key skew at corpus scale — and is now a broadcast
  nested loop over the k centroid arrays (map-only, the classic
  k-means-on-MapReduce shape).
- The BIG within-bucket pair work (``ann_nn_within_bucket``,
  ``embedding_cosine_dedup``) runs in grouped NumPy kernels that share
  one exact-shortlist loop (``_exact_shortlist``: blocked GEMM, a keep
  rule, then EXACT scaled-long dots for the kept pairs only).
  ``ann_nn_within_bucket`` runs its IVF assignment once: each ranked
  row carries whether it is the vector's primary bucket, so one bucket
  exchange feeds both the probe and the index side.

- ``ann_cosine_topk``   brute-force cosine top-k (the correctness
  baseline; O(q x n), broadcast the query set)
- ``ann_ivf_bucketed``  IVF-style bucket assignment (the scale path:
  each vector is routed to its nearest centroid; at 100 TB the top-k
  search then touches one bucket instead of the full corpus)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from doc_ocr_spark.operators import load, scaled_long

import os as _os

DIM = 64
N_QUERIES = 8       # vec_id < 8 are the query vectors
# IVF centroid count bounds bucket size (~n/k per bucket): like LSH
# plane count it must scale with n (~sqrt(n) classically).  10 fits the
# driver's sf<=0.1 corpora; env-tunable for larger bench points, with
# the oracle generated from the same constant so parity holds at any
# setting.
N_CENTROIDS = int(_os.environ.get("SPARK_GRAFT_IVF_CENTROIDS", "10"))
TOP_K = 5

_S = 1e12  # fix-point scale for per-element products (|p| < 1e3)
_S_SQL = "1000000000000.0"
_SM = 1e6  # scale for unbounded-cardinality accumulators (k-means means)
_SM_SQL = "1000000.0"

def _dot_scaled(a: Column, b: Column) -> Column:
    """Exact in-row scaled-long dot: sum_i floor((a[i]*b[i]) * 1e12).
    Association matches the DuckDB twin ((x*y)*S, left-assoc).

    Round-6 A/B (kept AS-IS on purpose): unrolling the 64 terms into
    one explicit codegen sum measured 44.6 s vs 3.5 s for this form on
    a 1e7-pair microbench — the single generated method blows past
    HotSpot's JIT size threshold (~8 KB bytecode) and the whole stage
    runs as interpreted bytecode.  The zip_with lambda stays small and
    JIT-hot; see OPTIMIZATION_r06.md §dot-variants."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: F.floor(
                x.cast("double") * y.cast("double") * F.lit(_S)
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _norm_expr(e: Column) -> Column:
    """In-row L2 norm: sqrt(exact scaled-long sum of squares / S)."""
    return F.sqrt(_dot_scaled(e, e).cast("double") / F.lit(_S))


def _dot_scaled_sql(a: str, b: str) -> str:
    """DuckDB twin of _dot_scaled (list_transform over the index list)."""
    return (
        f"list_sum(list_transform(generate_series(1, {DIM}), i -> "
        f"CAST(floor(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) * {_S_SQL}) AS BIGINT)))"
    )


def _norm_sql(e: str) -> str:
    return f"sqrt(CAST({_dot_scaled_sql(e, e)} AS DOUBLE) / {_S_SQL})"


def _emb_with_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, nrm) — norms map-side, no shuffle."""
    return load(spark, sf_dir, "embeddings").withColumn(
        "nrm", _norm_expr(F.col("embedding"))
    )


def _sims(left: DataFrame, right: DataFrame) -> DataFrame:
    """Cosine sims for the cross product left x right (left is small and
    broadcast).  Columns: qid, cid, sim (rounded 6dp).  Join + in-row
    dot — no row inflation, no re-aggregation."""
    l = left.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    r = right.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    pairs = r.crossJoin(F.broadcast(l)).filter(F.col("qid") != F.col("cid"))
    return pairs.select(
        "qid",
        "cid",
        F.round(
            (_dot_scaled(F.col("qe"), F.col("ce")).cast("double") / _S)
            / (F.col("qn") * F.col("cn")),
            6,
        ).alias("sim"),
    )


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for the first N_QUERIES vectors.
    respread (finding #36, no floor): the q x n dot stage runs at
    scan parallelism — sf1eq A/B 1.82 -> 0.63 s.  Without the old 2 MB
    floor it takes 0.91x the time at sf0.1 on 4 cores (flat below)."""
    from doc_ocr_spark.operators import respread

    emb = respread(_emb_with_norms(spark, sf_dir))
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    sims = _sims(q, emb)
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cid").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("qid", "cid", "sim", "rank")
    )


_NORMS_CTE = f"""
emb AS (
  SELECT vec_id, embedding, {_norm_sql("embedding")} AS nrm
  FROM embeddings
)
"""


def _sims_sql(left_filter: str) -> str:
    return f"""
sims AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
         round((CAST({_dot_scaled_sql("q.embedding", "c.embedding")} AS DOUBLE) / {_S_SQL})
               / (q.nrm * c.nrm), 6) AS sim
  FROM emb q JOIN emb c ON q.vec_id <> c.vec_id
  WHERE q.vec_id {left_filter}
)
"""


TOPK_SQL = f"""
WITH {_NORMS_CTE}, {_sims_sql(f"< {N_QUERIES}")}
SELECT qid, cid, sim, rank FROM (
  SELECT qid, cid, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
  FROM sims
) WHERE rank <= {TOP_K}
"""


# Multi-probe IVF in the standard FAISS shape: the QUERY side probes its
# top-N_PROBE centroid buckets (the nprobe recall lever), the INDEX side
# keeps only each vector's primary (top-1) bucket.  The index table
# stays n rows — the big-side shuffle does not grow with the recall
# knob — and pair work is ~P*n/k.  The measured grid in
# BENCH/quality_r05.json (finding #30) picked this shape over the
# symmetric one (both sides top-P): P=4 = 0.649 recall @ 11.6 s beat
# symmetric P=2 = 0.639 @ 13.3 s on both axes.  Recall@1 floor >= 0.6
# is asserted in tests/test_dedup_ops.py.
N_PROBE = 4
IVF_PROBE_MODE = "asym"  # the one shape above (recorded by bench.py)
# Lloyd refinement of the IVF centroids before assignment (finding
# #32): the seeded centroids (vec_id < k) are a deterministic stand-in
# for a k-means fit; refining them with R Lloyd rounds raises recall at
# ZERO query-time cost — only the fit (n x k dots per round + a
# (k x DIM)-cell agg) runs up front, once per corpus (_staged_cents).
# Measured P=4 recall@1: sf0.1 0.655 -> 0.690 -> 0.697 and sf0.001
# 0.646 -> 0.728 -> 0.746 at R=0/1/2.  The oracle SQL unrolls the same
# rounds (exactness discipline: scaled-long sums, fixed-order double
# division), so parity is bit-exact.
IVF_REFINE = 1


def _argmax_assign(sims: DataFrame) -> DataFrame:
    """(vec_id, bucket, sim): per-vector max-sim centroid with the
    min-centroid-id tie-break, as a max_by AGGREGATION instead of a
    row_number window — partial (map-side) aggregation reduces the
    shuffle from n x k rows to ~n, and no per-group sort.  Sims are
    exact (scaled-long dots, 6-dp round), so ties are exact ties and
    the struct tie-break matches the oracle's ORDER BY sim DESC, qid."""
    return (
        sims.groupBy(F.col("cid").alias("vec_id"))
        .agg(
            F.max_by(
                F.struct(F.col("qid"), F.col("sim")),
                F.struct(F.col("sim"), (-F.col("qid")).alias("nq")),
            ).alias("best")
        )
        .select("vec_id", F.col("best.qid").alias("bucket"), F.col("best.sim").alias("sim"))
    )


def ann_ivf_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF assignment: route every vector to its max-cosine centroid
    (centroids = vec_id < N_CENTROIDS; deterministic stand-in for a
    k-means fit, which would be seeded at corpus scale).  respread
    (finding #36, no floor): the n x k assignment dots run at scan
    parallelism — sf1eq A/B 16.4 -> 1.4 s.  Without the old 2 MB floor
    it takes 0.85x the time at sf0.1 on 4 cores (flat below)."""
    from doc_ocr_spark.operators import respread

    emb = respread(_emb_with_norms(spark, sf_dir))
    cents = emb.filter(F.col("vec_id") < N_CENTROIDS)
    return _argmax_assign(_sims(cents, emb))


IVF_SQL = f"""
WITH {_NORMS_CTE}, {_sims_sql(f"< {N_CENTROIDS}")}
SELECT cid AS vec_id, qid AS bucket, sim FROM (
  SELECT qid, cid, sim,
         row_number() OVER (PARTITION BY cid ORDER BY sim DESC, qid) AS rank
  FROM sims
) WHERE rank = 1
"""


def _cent_sims(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cid, sim): unrounded cosine of every vector against
    every centroid array — a BROADCAST nested loop over the k centroid
    arrays with in-row dots.  ``emb`` carries (vec_id, embedding, nrm),
    ``cents`` (cid, carr)."""
    cents_n = cents.withColumn("cn", _norm_expr(F.col("carr")))
    return emb.crossJoin(F.broadcast(cents_n)).select(
        "vec_id",
        "cid",
        (
            (_dot_scaled(F.col("embedding"), F.col("carr")).cast("double") / _S)
            / (F.col("nrm") * F.col("cn"))
        ).alias("sim"),
    )


def _nearest_cent(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cid, sim): every vector's max-sim centroid (unrounded
    sim, centroid-id ascending on ties)."""
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("cid").asc())
    return (
        _cent_sims(emb, cents)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", "sim")
    )


def _lloyd_cents(emb: DataFrame, rounds: int) -> DataFrame:
    """``rounds`` Lloyd iterations from the seeded centroids:
    (cid, carr array<double>).  Each round assigns every vector to its
    nearest centroid (_nearest_cent) and recomputes the means;
    scaled-long mean sums and fixed-order divisions keep the arrays
    bit-identical to the oracle's unrolled CTEs.  ``emb`` must carry
    (vec_id, embedding, nrm)."""
    cents = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("carr"),
    )
    for _ in range(rounds):
        assign = _nearest_cent(emb, cents).select("vec_id", "cid")
        # mean accumulator uses the SMALL scale (1e6): unlike every
        # other scaled sum here (bounded by DIM=64 terms), this one
        # adds a term PER ASSIGNED VECTOR — at 1e12 a BIGINT would
        # silently wrap at ~9.2e6 members/centroid in Spark while
        # DuckDB promotes to HUGEINT, breaking engine parity at the
        # 100 TB design point.  1e6 defers overflow to ~9.2e12.
        upd = (
            assign.join(emb, "vec_id")
            .select("cid", F.posexplode("embedding").alias("i", "val"))
            .groupBy("cid", "i")
            .agg(
                (
                    F.sum(scaled_long(F.col("val"), _SM)).cast("double")
                    / F.count(F.lit(1))
                    / _SM
                ).alias("cval")
            )
        )
        cents = upd.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "cval"))),
                lambda s: s["cval"],
            ).alias("carr")
        )
    return cents


_CENTS_STAGE_VERSION = 1


def _staged_cents(spark: SparkSession, sf_dir: str, emb: DataFrame) -> DataFrame:
    """The refined centroid table, FIT ONCE per (corpus, knobs) and
    staged (staging.py content keys) — the FAISS train/search split:
    a real deployment trains the IVF index once and serves many
    queries against it, so the fit's n x k passes are a one-time cost,
    not a per-query one (measured at sf1eq k=100: inline refit added
    ~22 s to every query).  The oracle recomputes the same fit in SQL
    (unrolled CTEs), so parity is unaffected: the staged values are
    bit-identical to the inline computation (exact scaled-long means;
    parquet round-trips doubles losslessly)."""
    from doc_ocr_spark import staging

    key = staging.content_key(
        "ivf_cents",
        _CENTS_STAGE_VERSION,
        staging.file_fingerprint(_os.path.join(sf_dir, "embeddings.parquet")),
        N_CENTROIDS,
        IVF_REFINE,
        DIM,
    )

    def build(tmp: str) -> None:
        _lloyd_cents(emb, IVF_REFINE).coalesce(1).write.parquet(tmp)

    return spark.read.parquet(staging.ensure_staged("ivf_cents", key, build))


def _refined_ranked(spark: SparkSession, sf_dir: str, emb: DataFrame) -> DataFrame:
    """(vec_id, bucket, rank): top-N_PROBE REFINED centroids per vector
    (sim rounded 6dp before ranking, centroid-id ascending on ties —
    both engines rank the identical rounded value).  No self-exclusion:
    refined centroids are means, not corpus vectors.  The fit comes
    from the staged table (train once, assign many)."""
    sims = _cent_sims(emb, _staged_cents(spark, sf_dir, emb)).withColumn(
        "sim", F.round("sim", 6)
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("cid").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= N_PROBE)
        .select("vec_id", F.col("cid").alias("bucket"), "rank")
    )


# The within-bucket pair work of ann_nn_within_bucket and
# embedding_cosine_dedup runs in grouped NumPy kernels.  A JVM pair
# join pays ~8-10 us per candidate pair (OPTIMIZATION_r06.md) because
# every pair materializes a row carrying BOTH embeddings; a kernel
# ships each group's vectors ONCE through one exchange, forms the pair
# products inside NumPy, and returns only a SHORTLIST of candidate
# pairs with their EXACT scaled-long dots; the sim division, 6-dp
# rounding and the final filter or argmax stay in JVM expressions.
#
# Exactness (_exact_shortlist): the kernel preselects by an approximate
# float64 GEMM sim with margin _NN_MARGIN, then recomputes
# floor((x*y)*1e12) as int64 per element for the shortlist — the same
# IEEE ops in the same order as _dot_scaled and the DuckDB oracle, so
# the returned dots are bit-exact.  The margin only has to cover (a)
# two exact sims rounding to the same 6-dp value (<~2e-6 apart) and (b)
# GEMM-vs-exact drift (<~1e-9); 1e-4 is ~50x conservative, so every
# pair the JVM side can select is shortlisted, and extra rows are inert
# under its total-ordered argmax or its exact >= tau filter.
_NN_MARGIN = 1e-4
# Cells per GEMM block: probe rows are blocked so that each float64
# sims buffer holds max(_GEMM_CELLS, |index|) cells (128 MiB up to
# 16M-vector buckets), not a fixed row count times |index|.
_GEMM_CELLS = 1 << 24


def _exact_shortlist(grp, index, keep):
    """(qid, cid, dot, qn, cn) for the (probe, index) pairs of one
    group that ``keep`` selects, with exact scaled-long dots.  The
    probe rows are all of ``grp`` (vec_id, embedding, nrm); the index
    rows are ``grp[index]`` (a boolean mask, or ``slice(None)`` for
    all).  ``keep(approx, qv, cv)`` maps a block of approximate sims
    (probe ids ``qv`` x index ids ``cv``) to a boolean mask."""
    import numpy as np
    import pandas as pd

    if len(grp):
        E = np.stack(grp["embedding"].to_numpy()).astype(np.float64)
    else:
        E = np.empty((0, DIM))
    nr = grp["nrm"].to_numpy(dtype=np.float64)
    vid = grp["vec_id"].to_numpy(dtype=np.int64)
    C, cn, cv = E[index], nr[index], vid[index]
    none = np.empty(0, np.int64)
    qs, cs, dots = [none], [none], [none]
    block = max(1, _GEMM_CELLS // max(1, len(C)))
    for b0 in range(0, len(E) if len(C) else 0, block):
        b1 = min(b0 + block, len(E))
        approx = (E[b0:b1] @ C.T) / nr[b0:b1, None] / cn[None, :]
        qi, ci = np.nonzero(keep(approx, vid[b0:b1], cv))
        qi += b0
        # exact scaled-long dot, same op order as _dot_scaled:
        # (float64(x) * float64(y)) * 1e12, floor, int64, sum
        prod = E[qi] * C[ci]
        qs.append(qi)
        cs.append(ci)
        dots.append(np.floor(prod * _S).astype(np.int64).sum(axis=1))
    qi, ci = np.concatenate(qs), np.concatenate(cs)
    return pd.DataFrame(
        {
            "qid": vid[qi],
            "cid": cv[ci],
            "dot": np.concatenate(dots),
            "qn": nr[qi],
            "cn": cn[ci],
        }
    )


def _keep_near_best(approx, qv, cv):
    """NN rule: every non-self candidate within _NN_MARGIN of its
    probe's best approximate sim."""
    import numpy as np

    approx[qv[:, None] == cv[None, :]] = -np.inf  # no self-pairs
    best = approx.max(axis=1)
    return (approx >= best[:, None] - _NN_MARGIN) & np.isfinite(approx)


def _nn_shortlist_kernel(key, grp):
    """Per-bucket NN shortlist: (qid, bucket, cid, dot, qn, cn) rows
    for every candidate within _NN_MARGIN of its query's best bucket
    sim.  Every row of the bucket probes; the ``primary`` rows (the
    vectors whose top-1 bucket this is) are the index."""
    primary = grp["primary"].to_numpy(dtype=bool)
    out = _exact_shortlist(grp, primary, _keep_near_best)
    out.insert(1, "bucket", int(key[0]))
    return out


def ann_nn_within_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, the scale path end-to-end: IVF-assign every
    vector to a bucket (Lloyd-refined centroids, finding #32), then
    find each vector's nearest neighbour WITHIN its bucket only.  At
    100 TB the pair work is bounded by bucket size instead of n^2 (the
    embedding analogue of LSH-banded MinHash in dedup.py)."""
    emb = _emb_with_norms(spark, sf_dir)
    # the query side probes its top-N_PROBE buckets, the index side
    # keeps its primary bucket only, so a (q, c) pair matches through
    # at most ONE bucket.  One assignment serves both sides: each
    # ranked row carries ``primary`` (rank 1 is within the top
    # N_PROBE, so every index row of a bucket is also one of its probe
    # rows), and one bucket exchange feeds the kernel.
    ranked = _refined_ranked(spark, sf_dir, emb).select(
        "vec_id", "bucket", (F.col("rank") == 1).alias("primary")
    )
    shortlist = (
        emb.select("vec_id", "embedding", "nrm")
        .join(ranked, "vec_id")
        .groupby("bucket")
        .applyInPandas(
            _nn_shortlist_kernel,
            "qid long, bucket long, cid long, dot long, "
            "qn double, cn double",
        )
    )
    sims = shortlist.select(
        "qid", "cid", "bucket",
        F.round(
            (F.col("dot").cast("double") / _S)
            / (F.col("qn") * F.col("cn")),
            6,
        ).alias("sim"),
    )
    # Argmax as a max_by AGGREGATION (same form as _argmax_assign): its
    # map-side partial combine ships ~one row per (task, qid), where a
    # rank=1 window would shuffle and sort every shortlisted sim.  The
    # comparison key (sim, -cid, -bucket) is unique per qid (cid/bucket
    # identify the pair), so the argmax is total and matches the
    # oracle's ORDER BY sim DESC, cid, bucket exactly.  bucket as the
    # FINAL tie-break is inert (the index side holds each vector in one
    # bucket, so a (qid, cid) pair meets at most once).
    return (
        sims.groupBy(F.col("qid").alias("vec_id"))
        .agg(
            F.max_by(
                F.struct("bucket", F.col("cid").alias("nn_id"), "sim"),
                F.struct(
                    "sim",
                    (-F.col("cid")).alias("nc"),
                    (-F.col("bucket")).alias("nb"),
                ),
            ).alias("best")
        )
        .select(
            "vec_id", F.col("best.bucket").alias("bucket"),
            F.col("best.nn_id").alias("nn_id"), F.col("best.sim").alias("sim"),
        )
    )


def _lloyd_ctes(rounds: int) -> str:
    """The unrolled Lloyd-refinement CTEs (cents0 .. cents{rounds}),
    mirroring _kmeans_sql's formulas over the shared ``emb`` CTE."""
    parts = [
        f"""cents0 AS MATERIALIZED (
  SELECT vec_id AS cid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS carr
  FROM embeddings WHERE vec_id < {N_CENTROIDS}
)"""
    ]
    for r in range(rounds):
        parts.append(f"""kassign{r} AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY (CAST({_dot_scaled_sql("e.embedding", "c.carr")} AS DOUBLE) / {_S_SQL})
                                       / (e.nrm * {_norm_sql("c.carr")}) DESC,
                                       c.cid) AS rn
    FROM emb e CROSS JOIN cents{r} c
  ) WHERE rn = 1
),
upd{r} AS MATERIALIZED (
  SELECT a.cid, t.i,
         CAST(sum(CAST(floor(CAST(e.embedding[t.i] AS DOUBLE) * {_SM_SQL}) AS BIGINT)) AS DOUBLE)
           / count(*) / {_SM_SQL} AS cval
  FROM embeddings e
  JOIN kassign{r} a USING (vec_id)
  CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS i) t
  GROUP BY a.cid, t.i
),
cents{r + 1} AS MATERIALIZED (
  SELECT cid, list(cval ORDER BY i) AS carr
  FROM upd{r} GROUP BY cid
)""")
    return ",\n".join(parts)


# ranked assignment against the REFINED centroid arrays: sim is rounded
# 6dp BEFORE ranking (both engines rank the identical rounded value;
# ties -> centroid id), no self-exclusion.  The probe side takes the
# top-N_PROBE buckets, the index side (cassign) the primary one.
NN_BUCKET_SQL = f"""WITH {_NORMS_CTE},
{_lloyd_ctes(IVF_REFINE)},
ranked AS (
  SELECT vec_id, cid, rank FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round((CAST({_dot_scaled_sql("e.embedding", "c.carr")} AS DOUBLE) / {_S_SQL})
                                       / (e.nrm * {_norm_sql("c.carr")}), 6) DESC,
                                       c.cid) AS rank
    FROM emb e CROSS JOIN cents{IVF_REFINE} c
  ) WHERE rank <= {N_PROBE}
),
probe AS (SELECT vec_id, cid AS bucket FROM ranked),
cassign AS (SELECT vec_id, cid AS bucket FROM ranked WHERE rank <= 1),
withq AS (SELECT e.vec_id, e.embedding, e.nrm, a.bucket
          FROM emb e JOIN probe a USING (vec_id)),
withc AS (SELECT e.vec_id, e.embedding, e.nrm, a.bucket
          FROM emb e JOIN cassign a USING (vec_id)),
bsims AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid, q.bucket,
         round((CAST({_dot_scaled_sql("q.embedding", "c.embedding")} AS DOUBLE) / {_S_SQL})
               / (q.nrm * c.nrm), 6) AS sim
  FROM withq q JOIN withc c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
)
SELECT qid AS vec_id, bucket, cid AS nn_id, sim FROM (
  SELECT qid, cid, bucket, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid, bucket) AS rank
  FROM bsims
) WHERE rank = 1
"""


def _hyperplane_signs(n_planes: int, dim: int = DIM, seed: int = 20240816):
    """Deterministic ±1 hyperplane coefficients (seeded stdlib PRNG —
    the k-means-free analogue of fitting random projections; at corpus
    scale these are job config, broadcast like templates)."""
    import random

    out = []
    for j in range(n_planes):
        rng = random.Random(seed + j)
        out.append([1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)])
    return out


# Plane count bounds bucket size: expected bucket ~ n / 2^planes, so
# planes must grow ~log2(n) for the pair work to stay linear.  4 is
# right for the driver's sf<=0.1 correctness corpora (500-2000
# vectors); the sf1-equivalent bench (20k vectors) measured 72 s with
# 4 planes (12.5M candidate pairs) vs 7 s with 9 (512 buckets; the
# residual cost is the corpus's genuine 10-copy dup clusters) — the
# production knob, env-tunable so bench and oracle stay in lockstep
# (both sides are generated from the same constants at import;
# single-band recall drops as planes rise — OR multiple plane-sets
# for recall, as the docstring below notes).
N_PLANES = int(_os.environ.get("SPARK_GRAFT_LSH_PLANES", "4"))
DEDUP_TAU = 0.35
# OR-banding (round 5): B independent plane-sets; a pair is a candidate
# when it collides in ANY band, then every candidate is cosine-verified
# (precision stays 1.0 by construction).  Single-band recall at the tau
# boundary is (1 - theta/pi)^planes ~ 0.14 measured at sf0.1 — the
# banding union is the standard recall lever (same construction as
# MinHash-LSH banding in dedup.py).  Bands are map-only projections;
# only the DISTINCT over candidate pairs shuffles, bounded by the
# candidate count.  Default picked from the measured recall/cost curve
# in BENCH/quality_r05.json (finding #31); floor asserted in tests.
N_BANDS = 4
_SIGNS = _hyperplane_signs(N_PLANES * N_BANDS)


# embedding_cosine_dedup's banded-LSH pair work follows the same
# NumPy-kernel discipline as ann_nn_within_bucket.  The kernels compute
# bucket bits exactly in NumPy (int64 floor sums — the oracle's
# scaled-long sign test), group by (band, bucket), and run the shared
# _exact_shortlist over the within-bucket upper triangle, which emits
# only pairs whose approximate sim clears DEDUP_TAU - _NN_MARGIN with
# their EXACT scaled-long dots; the 6-dp rounding and the >= tau
# filter stay in JVM expressions, so a pair the kernel drops (sim <=
# tau - 1e-4 + ~1e-9 GEMM drift) can never round back up to tau, and
# emitted pairs carry bit-exact dots.  Multi-band duplicates collapse in a DISTINCT
# over the (deterministic) shortlist rows, as the oracle's candidate
# DISTINCT does.
def _make_band_buckets_kernel(n_bands: int, n_planes: int, signs):
    """mapInPandas factory: (vec_id, embedding, nrm) -> one row per band
    with the exact hyperplane bucket id (sign bits of scaled-long
    dots).  Band config is captured in the CLOSURE at DAG-build time —
    worker processes re-import this module and would otherwise see the
    module constants, not a sweep's driver-side overrides (bench_quality
    monkeypatches N_BANDS/_SIGNS)."""

    def kernel(it):
        import numpy as np
        import pandas as pd

        sgn = np.asarray(signs, dtype=np.float64)
        for pdf in it:
            if len(pdf) == 0:
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            vid = pdf["vec_id"].to_numpy(dtype=np.int64)
            emb_col = pdf["embedding"].to_numpy()
            nrm = pdf["nrm"].to_numpy(dtype=np.float64)
            bits = [
                np.floor((E * sgn[j][None, :]) * _S).astype(np.int64).sum(axis=1) >= 0
                for j in range(n_bands * n_planes)
            ]
            out = []
            for b in range(n_bands):
                bucket = np.zeros(len(E), np.int64)
                for i in range(n_planes):
                    bucket += bits[b * n_planes + i].astype(np.int64) << i
                out.append(
                    pd.DataFrame(
                        {
                            "band": np.full(len(E), b, np.int64),
                            "bucket": bucket,
                            "vec_id": vid,
                            "embedding": emb_col,
                            "nrm": nrm,
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    return kernel


def _keep_upper_near_tau(approx, qv, cv):
    """Band rule: upper-triangle pairs whose approximate sim clears
    DEDUP_TAU - _NN_MARGIN."""
    return (qv[:, None] < cv[None, :]) & (approx >= DEDUP_TAU - _NN_MARGIN)


def _band_shortlist_kernel(key, grp):
    """Per-(band, bucket) near-dup shortlist (qid, cid, dot, qn, cn):
    the upper-triangle pairs within DEDUP_TAU - _NN_MARGIN, with exact
    scaled-long dots."""
    return _exact_shortlist(grp, slice(None), _keep_upper_near_tau)


def embedding_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via hyperplane LSH (SimHash over the
    vector space): per band, bucket = sign bits of N_PLANES
    random-hyperplane dots, pairs formed WITHIN a (band, bucket) group
    only (see the kernel header above); candidates from all N_BANDS
    bands are deduped and cosine >= tau verified.  The signed dot is
    summed as scaled longs, so the sign test is an exact integer
    comparison — bucket assignment is bit-identical across engines.

    Scale: each group's pair work is bounded by bucket size (vs n^2);
    more planes -> smaller buckets (precision of the candidate set),
    more bands -> higher recall (classic OR-banding); the DISTINCT
    shuffles only shortlisted pairs.

    respread here is a MEASURED per-op decision (finding #36): the
    per-band bucket-bit dots run at scan parallelism and this query is
    dot-dominated — sf1eq A/B 7.4 -> 4.5 s, but sf0.1 (520 KB input)
    2.35 -> 4.28 s WORSE, so the floor gates it to inputs big enough
    to feed the cores (embedding dots are light per byte next to the
    text family's md5 work).  ann_nn_within_bucket got the same A/B
    and REGRESSED 29.5 -> 105.6 s at sf1eq (its cost is the bucket
    pair work, not the dots; the A/B predates its single-assignment
    form and was not repeated), so it stays on the scan layout."""
    from doc_ocr_spark.operators import respread

    emb = respread(_emb_with_norms(spark, sf_dir), min_bytes=2 << 20)
    withb = emb.select("vec_id", "embedding", "nrm").mapInPandas(
        _make_band_buckets_kernel(N_BANDS, N_PLANES, _SIGNS),
        "band long, bucket long, vec_id long, "
        "embedding array<float>, nrm double",
    )
    shortlist = (
        withb.groupby("band", "bucket")
        .applyInPandas(
            _band_shortlist_kernel,
            "qid long, cid long, dot long, qn double, cn double",
        )
        .distinct()
    )
    sims = shortlist.select(
        "qid", "cid",
        F.round(
            (F.col("dot").cast("double") / _S)
            / (F.col("qn") * F.col("cn")),
            6,
        ).alias("sim"),
    )
    return sims.filter(F.col("sim") >= DEDUP_TAU).select(
        F.col("qid").alias("vec_a"), F.col("cid").alias("vec_b"), "sim"
    )


def _signs_sql_list(j: int) -> str:
    return "[" + ", ".join(str(v) for v in _SIGNS[j]) + "]"


def _band_bucket_sql(b: int) -> str:
    return " + ".join(
        f"(CASE WHEN {_dot_scaled_sql('embedding', f'sgn{b * N_PLANES + i}')} >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(N_PLANES)
    )


_N_SGN = N_PLANES * N_BANDS
_SGN_CTE = "sgn AS (SELECT " + ", ".join(
    f"{_signs_sql_list(j)}::DOUBLE[] AS sgn{j}" for j in range(_N_SGN)
) + ")"

_CAND_UNION = "\n  UNION ALL\n".join(
    f"  SELECT q.vec_id AS qid, c.vec_id AS cid\n"
    f"  FROM withb q JOIN withb c"
    f" ON q.bucket_{b} = c.bucket_{b} AND q.vec_id < c.vec_id"
    for b in range(N_BANDS)
)
EMB_DEDUP_SQL = f"""
WITH {_NORMS_CTE},
{_SGN_CTE},
withb AS (
  SELECT vec_id, embedding, nrm,
         {", ".join(f"{_band_bucket_sql(b)} AS bucket_{b}" for b in range(N_BANDS))}
  FROM emb, sgn
),
cand AS (
  SELECT DISTINCT qid, cid FROM (
{_CAND_UNION}
  )
),
dsims AS (
  SELECT p.qid, p.cid,
         round((CAST({_dot_scaled_sql("q.embedding", "c.embedding")} AS DOUBLE) / {_S_SQL})
               / (q.nrm * c.nrm), 6) AS sim
  FROM cand p
  JOIN emb q ON q.vec_id = p.qid
  JOIN emb c ON c.vec_id = p.cid
)
SELECT qid AS vec_a, cid AS vec_b, sim
FROM dsims WHERE sim >= {DEDUP_TAU}
"""


N_KMEANS_ROUNDS = 2  # init-assign -> update -> re-assign


def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with real Lloyd refinement: seed centroids (vec_id <
    N_CENTROIDS), N_KMEANS_ROUNDS - 1 rounds of [assign -> recompute
    centroid means] (_lloyd_cents), then one final assignment.

    Exactness discipline: every float reduction (dots, norms, centroid
    means) is a scaled-long integer sum, and divisions are written in
    one fixed order — so after any number of rounds the assignment is
    bit-identical between Spark and DuckDB (the oracle runs the same
    unrolled iteration).

    Scale shape: assignment is a BROADCAST nested loop over the k
    centroid arrays with in-row dots — map-only, no shuffle, the
    classic k-means-on-MapReduce layout.  Only the centroid update
    shuffles, and that agg is (k x DIM) cells regardless of corpus
    size (explode + partial map-side combine).  respread (finding
    #36, no floor): the map-only assignment dots run at scan
    parallelism — sf1eq A/B 29.2 -> 3.0 s.  Without the old 2 MB floor
    it takes 0.80x the time at sf0.1 on 4 cores (flat below).
    """
    from doc_ocr_spark.operators import respread

    emb = respread(load(spark, sf_dir, "embeddings")).withColumn(
        "nrm", _norm_expr(F.col("embedding"))
    )
    assign = _nearest_cent(emb, _lloyd_cents(emb, N_KMEANS_ROUNDS - 1))
    return assign.select(
        "vec_id", F.col("cid").alias("bucket"), F.round("sim", 6).alias("sim")
    )


def _kmeans_sql() -> str:
    ctes = [
        f"""
vn AS MATERIALIZED (
  SELECT vec_id, embedding, {_norm_sql("embedding")} AS vn
  FROM embeddings
),
cents0 AS MATERIALIZED (
  SELECT vec_id AS cid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS carr
  FROM embeddings WHERE vec_id < {N_CENTROIDS}
)"""
    ]
    for r in range(N_KMEANS_ROUNDS):
        ctes.append(f"""
assign{r} AS MATERIALIZED (
  SELECT vec_id, cid, sim FROM (
    SELECT e.vec_id, c.cid,
           (CAST({_dot_scaled_sql("e.embedding", "c.carr")} AS DOUBLE) / {_S_SQL})
             / (e.vn * {_norm_sql("c.carr")}) AS sim,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY (CAST({_dot_scaled_sql("e.embedding", "c.carr")} AS DOUBLE) / {_S_SQL})
                                       / (e.vn * {_norm_sql("c.carr")}) DESC,
                                       c.cid) AS rn
    FROM vn e CROSS JOIN cents{r} c
  ) WHERE rn = 1
)""")
        if r < N_KMEANS_ROUNDS - 1:
            ctes.append(f"""
upd{r} AS MATERIALIZED (
  SELECT a.cid, t.i,
         CAST(sum(CAST(floor(CAST(e.embedding[t.i] AS DOUBLE) * {_SM_SQL}) AS BIGINT)) AS DOUBLE)
           / count(*) / {_SM_SQL} AS cval
  FROM embeddings e
  JOIN assign{r} a USING (vec_id)
  CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS i) t
  GROUP BY a.cid, t.i
),
cents{r + 1} AS MATERIALIZED (
  SELECT cid, list(cval ORDER BY i) AS carr
  FROM upd{r} GROUP BY cid
)""")
    last = N_KMEANS_ROUNDS - 1
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
SELECT vec_id, cid AS bucket, round(sim, 6) AS sim FROM assign{last}
"""
    )


KMEANS_SQL = _kmeans_sql()


ORACLES = {
    "ann_cosine_topk": TOPK_SQL,
    "ann_ivf_bucketed": IVF_SQL,
    "ann_nn_within_bucket": NN_BUCKET_SQL,
    "embedding_cosine_dedup": EMB_DEDUP_SQL,
    "ann_ivf_kmeans": KMEANS_SQL,
}

QUERIES = {
    "ann_cosine_topk": ann_cosine_topk,
    "ann_ivf_bucketed": ann_ivf_bucketed,
    "ann_nn_within_bucket": ann_nn_within_bucket,
    "embedding_cosine_dedup": embedding_cosine_dedup,
    "ann_ivf_kmeans": ann_ivf_kmeans,
}
