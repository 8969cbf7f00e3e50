"""Deduplication operators over the ``documents`` table.

The training-data-pipeline family: exact hash dedup, n-gram Jaccard
near-dup, MinHash(+LSH bucketing), SimHash, winnowing fingerprints.
Spark side stays entirely JVM-side (split / explode / md5 / window — no
Python UDFs); MinHash signatures are lexicographic minima of md5 hex
strings, which both Spark and DuckDB compute identically (no engine-
specific hash functions anywhere).

Scale notes (100 TB design point):
- the shingle inverted index is the shuffle-heavy step; it shuffles
  (doc_id, shingle) pairs hashed by shingle — uniform by construction
- LSH candidate generation joins on (band, signature), which bounds the
  candidate pair set; the full O(n^2) Jaccard join exists only as the
  small-scale oracle-checkable baseline
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc_ocr_spark.operators import load, respread

N_MINHASH = 8
JACCARD_THRESHOLD = 0.5


# Shingles travel as 44-bit md5 prefixes, not raw word 3-grams (r04
# A/B at sf0.1: jaccard 2.9-3.4 -> 2.4-2.6 s, minhash 2.7-3.2 ->
# 2.3-2.4 s, identical result rows).  The shingle stream feeds the
# engine's widest shuffles (inverted index, collect_set) and its pair
# joins/array_intersect — an 11-char fixed-width key beats a ~20-30
# char phrase on every one of those, and the md5 paid per occurrence
# is cheaper than what it saves.  Jaccard over hashed shingles equals
# Jaccard over raw shingles up to 2^-44 collisions; the oracle CTE and
# every consumer share the rule, and the staged-table cache keys fold
# the CTE text so the change self-invalidates.
SHINGLE_HASH_CHARS = 11


def _hex_to_long(c):
    """The 44-bit hex shingle key as a BIGINT (bijective, so distinct
    counts/joins/set sizes are unchanged).  Round 6 (guide §2.3
    "narrower types"): an 8-byte primitive long beats an 11-char
    UTF8String on every downstream shuffle hash, join probe and
    array_intersect; only engine-internal keys change — no oracle
    output ever exposes the key itself."""
    return F.conv(c, 16, 10).cast("long")


def _shingles(
    docs: DataFrame, distinct: bool = True, as_long: bool = False
) -> DataFrame:
    """Hashed word 3-gram shingles per doc (docs with <3 words drop
    out, mirrored by the oracle's empty range).  ``distinct=False``
    skips the per-(doc_id, s) dedup exchange — for consumers that
    filter the stream first (e.g. a broadcast semi-join against a small
    shingle set) and dedup the far smaller remainder.  ``as_long=True``
    emits the key through :func:`_hex_to_long` for consumers that never
    need the hex text back (the distinct then dedups 8-byte longs)."""
    docs = respread(docs)  # finding #36: md5 stage runs at scan parallelism
    w = F.split(F.col("text"), " ")
    key = F.substring(
        F.md5(
            F.concat_ws(
                " ",
                F.element_at("w", F.col("i")),
                F.element_at("w", F.col("i") + 1),
                F.element_at("w", F.col("i") + 2),
            )
        ),
        1,
        SHINGLE_HASH_CHARS,
    )
    if as_long:
        key = _hex_to_long(key)
    out = (
        docs.select("doc_id", w.alias("w"))
        .filter(F.size("w") >= 3)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("w") - 2)).alias("i"),
            "w",
        )
        .select("doc_id", key.alias("s"))
    )
    return out.distinct() if distinct else out


_SHINGLES_CTE = f"""
words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i FROM words),
shingles AS (SELECT DISTINCT doc_id,
  substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, {SHINGLE_HASH_CHARS}) AS s
FROM idx)
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content; keeper = min doc_id."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.count(F.lit(1)).alias("n_dups"),
        F.min("doc_id").alias("keep_id"),
    )


EXACT_SQL = """
SELECT md5(text) AS text_hash, count(*) AS n_dups, min(doc_id) AS keep_id
FROM documents GROUP BY md5(text)
"""


# Inverted-index DF cap: a shingle present in more than this many docs
# contributes O(df^2) candidate pairs — ONE ubiquitous boilerplate
# shingle turns the self-join quadratic on a hot key.  Dropping
# high-df shingles BEFORE the join bounds every key's fan-out; the
# semantics become "Jaccard over shingles with df <= cap" (sizes and
# intersections both over the filtered sets, so the ratio stays
# internally consistent), which is the standard boilerplate-blind
# near-dup measure.  The oracle mirrors the cap.
JACCARD_DF_CAP = 100


def _df_capped(sh: DataFrame, cap: int = JACCARD_DF_CAP) -> DataFrame:
    # anti-join against the HOT set only: shingles above the cap are by
    # construction few (each needs > cap docs), so the blacklist
    # broadcasts and the cap costs one map-side filter, not a shuffle
    # join against the full (s, df) table
    hot = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > cap)
        .select("s")
    )
    return sh.join(F.broadcast(hot), "s", "left_anti")


def _jaccard_pairs(sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs sharing >=1 shingle."""
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # sizes is O(n_docs) rows — NEVER hint it broadcast (VERDICT r02
    # item 3: an unconditional broadcast of a per-doc relation is a
    # guaranteed driver OOM at corpus scale).  Plain equi-joins let AQE
    # pick broadcast only when the runtime size actually fits.
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ),
        )
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup baseline: inverted-index join + Jaccard filter, with the
    df cap bounding hot-shingle fan-out (see JACCARD_DF_CAP).  Round 6:
    the shingle key converts to a long immediately after hashing
    (:func:`_hex_to_long`) so the distinct, the df-cap agg, the
    inverted-index self-join and the 71M-row pair agg all hash 8-byte
    primitives instead of 11-char strings."""
    sh = _df_capped(
        _shingles(load(spark, sf_dir, "documents"), as_long=True)
    )
    return _jaccard_pairs(sh).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    ).select("doc_a", "doc_b", "jaccard")


JACCARD_SQL = f"""
WITH {_SHINGLES_CTE},
dfreq AS (SELECT s, count(*) AS df FROM shingles GROUP BY s),
capped AS (
  SELECT sh.doc_id, sh.s FROM shingles sh
  JOIN dfreq USING (s) WHERE df <= {JACCARD_DF_CAP}
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY 1)
SELECT doc_a, doc_b,
       round(CAST(inter AS DOUBLE) / (za.n + zb.n - inter), 6) AS jaccard
FROM inter JOIN sizes za ON doc_a = za.doc_id JOIN sizes zb ON doc_b = zb.doc_id
WHERE round(CAST(inter AS DOUBLE) / (za.n + zb.n - inter), 6) >= {JACCARD_THRESHOLD}
"""


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ss: array<string>) — the distinct shingle SET per doc in
    ONE shuffle (collect_set dedups in the agg, so no separate
    DISTINCT exchange).  Everything downstream (signatures, sizes,
    intersection verify) runs JVM-side on the array column."""
    exploded = _shingles(load(spark, sf_dir, "documents"), distinct=False)
    return exploded.groupBy("doc_id").agg(F.collect_set("s").alias("ss"))


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup (the scale path): signature_k =
    min(md5(k || ':' || shingle)) — lexicographic min over hex strings,
    engine-portable; candidates share >=1 of the {N_MINHASH} signature
    bands (r=1); candidates are then verified with true Jaccard via
    array_intersect on the two shingle sets.

    Plan shape (the 100 TB story): ONE wide shuffle builds the per-doc
    shingle set; signatures are array_min(transform(...)) computed
    map-side; the band self-join is bounded by band-bucket sizes; the
    verify join touches only candidate pairs.  No cache, no recompute —
    the set table is the single reused input and Spark re-reads it from
    the shuffle output.
    """
    sets = _shingle_sets(spark, sf_dir)
    sig_cols = [
        F.array_min(
            F.transform("ss", lambda s: F.md5(F.concat(F.lit(f"{k}:"), s)))
        ).alias(f"sig{k}")
        for k in range(N_MINHASH)
    ]
    sigs = sets.select("doc_id", *sig_cols)
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(k).alias("band"), F.col(f"sig{k}").alias("h"))
                for k in range(N_MINHASH)
            ])
        ).alias("bh"),
    ).select("doc_id", "bh.band", "bh.h")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("ssa"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("ssb"))
    joined = cand.join(sa, "doc_a").join(sb, "doc_b")
    inter = F.size(F.array_intersect("ssa", "ssb"))
    union = F.size("ssa") + F.size("ssb") - inter
    jac = F.round(inter.cast("double") / union, 6).alias("jaccard")
    return (
        joined.select("doc_a", "doc_b", jac)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


MINHASH_SQL = f"""
WITH {_SHINGLES_CTE},
sets AS (SELECT doc_id, list(s) AS ss FROM shingles GROUP BY doc_id),
sigs AS (
  SELECT doc_id,
         {", ".join(f"list_min(list_transform(ss, s -> md5('{k}:' || s))) AS sig{k}" for k in range(N_MINHASH))}
  FROM sets
),
bands AS (
  {" UNION ALL ".join(f"SELECT doc_id, {k} AS band, sig{k} AS h FROM sigs" for k in range(N_MINHASH))}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(za.ss, zb.ss)) AS inter,
         len(za.ss) + len(zb.ss) - len(list_intersect(za.ss, zb.ss)) AS un
  FROM cand c
  JOIN sets za ON c.doc_a = za.doc_id
  JOIN sets zb ON c.doc_b = zb.doc_id
)
SELECT doc_a, doc_b, round(CAST(inter AS DOUBLE) / un, 6) AS jaccard
FROM verified
WHERE round(CAST(inter AS DOUBLE) / un, 6) >= {JACCARD_THRESHOLD}
"""


def _simhash_bit_exprs() -> list[str]:
    """16 signed bit-sum expressions from the first 4 md5 hex nibbles of
    each token (portable: md5 + instr + integer arithmetic only)."""
    exprs = []
    for bit in range(16):
        k, r = bit // 4, bit % 4
        nib = f"(instr('0123456789abcdef', substr(md5(word), {k + 1}, 1)) - 1)"
        exprs.append(
            f"sum((CAST(floor({nib} / {2 ** r}) AS INT) % 2) * 2 - 1) AS b{bit}"
        )
    return exprs


def simhash16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16-bit demo width): sign of per-bit weighted sums over
    token hashes; tokens weighted by multiplicity."""
    docs = respread(load(spark, sf_dir, "documents"))  # finding #36
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    sums = words.groupBy("doc_id").agg(
        *[F.expr(e) for e in _simhash_bit_exprs()]
    )
    hash_expr = " + ".join(
        f"(CASE WHEN b{bit} > 0 THEN {2 ** bit} ELSE 0 END)" for bit in range(16)
    )
    return sums.select("doc_id", F.expr(f"{hash_expr} AS simhash"))


SIMHASH_SQL = f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
sums AS (
  SELECT doc_id, {", ".join(_simhash_bit_exprs())}
  FROM words GROUP BY doc_id
)
SELECT doc_id,
  {" + ".join(f"(CASE WHEN b{bit} > 0 THEN {2 ** bit} ELSE 0 END)" for bit in range(16))} AS simhash
FROM sums
"""


WINNOW_K = 8   # k-gram length (chars)
WINNOW_W = 4   # window: one selection per W consecutive k-gram hashes
# The k-gram hash is the first 11 hex nibbles (44 bits) of md5 — the
# r04 A/B: sliding-min over the short fixed-width key runs the sf0.1
# query in 3.5 s vs 4.45 s for the full 32-nibble key (the doubling
# zip_with compares keys O(m log W) times, so key width is the hot
# dimension once md5 itself is paid).  A 44-bit prefix IS the hash
# function (winnowing admits any deterministic hash); the oracle and
# the independent reference implementation share the same rule, so
# parity and the t = W+K-1 guarantee are unaffected.
WINNOW_HASH_CHARS = 11
_POS_PAD = 7   # zero-pad width for the position tie-break suffix
# (10^7 chars of text headroom per doc — far above web-page extract sizes)


def fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE winnowing (Schleimer/Wilkerson/Aiken 2003): hash EVERY
    k-gram, slide a window of W consecutive hashes, select each
    window's minimum — ties broken to the RIGHTMOST position — and
    fingerprint = the distinct selected (hash, pos) set.  Guarantee:
    any substring match of length >= W + K - 1 shares a fingerprint
    (position-robust, unlike round 1's single global-min which this
    replaces).

    Engine-portable rightmost-min trick: the window minimum is taken
    over ``md5hex || lpad(10^9 - i)`` — lexicographic order on the
    fixed-width key compares hash first, then DESCENDING position, so
    both engines pick the identical (min hash, max pos) selection.
    The position suffix is stripped AFTER selection: the fingerprint
    set is the distinct selected HASHES, so the guarantee holds across
    documents (a shared substring shares hashes, not positions).
    Output: one row per doc with the selection count and an md5 over
    the sorted selection set (scalar cells for the driver canon).

    Plan shape: entirely IN-ROW array expressions — k-gram keys via
    transform(sequence), window minima via array_min(slice), dedup/sort
    in-row — so the whole operator is a map-only projection with NO
    shuffle.  An explode + window-function formulation measures about
    the same wall time at sf0.1 (interpreted array lambdas vs a
    partitionBy(doc_id) exchange+sort of every k-gram row), but at
    corpus scale the window form shuffles ~len(text) rows per document
    for a computation that is strictly per-doc-local — the map-only
    form is the one that survives 100x."""
    docs = respread(load(spark, sf_dir, "documents"))  # finding #36
    # Loud overflow guard (ADVICE r04): the rightmost-position tie-break
    # term is 10^_POS_PAD - i, which goes NEGATIVE past 10^_POS_PAD
    # characters — lpad would emit keys starting with '-' and silently
    # break the selection order (on BOTH engines, so parity would mask
    # it).  Oversized docs must fail, not degrade; evaluated once per
    # row before any hashing.
    max_len = 10 ** _POS_PAD
    m = F.when(
        F.length("text") < F.lit(max_len),
        F.greatest(F.length("text") - (WINNOW_K - 1), F.lit(1)),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("fingerprint_winnow: doc_id="),
                F.col("doc_id").cast("string"),
                F.lit(
                    f" has length(text) >= 10^{_POS_PAD}; raise _POS_PAD "
                    "for corpora with longer documents"
                ),
            )
        ).cast("int")
    )
    keys = F.transform(
        F.sequence(F.lit(1), m),
        lambda i: F.concat(
            F.substring(
                F.md5(F.col("text").substr(i, F.lit(WINNOW_K))),
                1,
                WINNOW_HASH_CHARS,
            ),
            F.lpad((F.lit(10 ** _POS_PAD) - i).cast("string"), _POS_PAD + 1, "0"),
        ),
    )
    with_keys = docs.select("doc_id", m.alias("m"), keys.alias("keys"))
    # sliding window-min via sparse-table doubling (r03 A/B, BENCH
    # finding: ~4% over the array_min(slice) form at sf0.1 — md5
    # dominates either way, but this allocates no per-position slice):
    # p_d[j] = min(keys[j .. j+2^d-1]) by zip_with-ing p_{d-1} with its
    # 2^{d-1}-shifted self; a non-power-of-two W takes the classic
    # overlapped min of two 2^k windows.  zip_with pads the shifted
    # (shorter) side with null and least() ignores nulls, so trailing
    # positions degrade to truncated-window minima — exactly the
    # positions the final slice drops (one selection per FULL window;
    # truncated trailing frames would re-select with a weaker
    # guarantee).
    mcol = F.col("m")
    col = F.col("keys")
    width = 1
    while width * 2 <= WINNOW_W:
        col = F.zip_with(
            col,
            F.slice(col, 1 + width, F.greatest(mcol - width, F.lit(0))),
            lambda x, y: F.least(x, y),
        )
        width *= 2
    if width < WINNOW_W:
        off = WINNOW_W - width
        col = F.zip_with(
            col,
            F.slice(col, 1 + off, F.greatest(mcol - off, F.lit(0))),
            lambda x, y: F.least(x, y),
        )
    sels = F.transform(
        F.slice(col, 1, F.greatest(mcol - (WINNOW_W - 1), F.lit(1))),
        lambda x: F.substring(x, 1, WINNOW_HASH_CHARS),
    )
    fp = F.array_sort(F.array_distinct(sels))
    return with_keys.select(
        "doc_id",
        F.size(fp).alias("n_fp"),
        F.md5(F.concat_ws(",", fp)).alias("fingerprint"),
    )


FINGERPRINT_SQL = f"""
WITH pos AS (
  SELECT doc_id, text,
         unnest(generate_series(1, greatest(length(text) - {WINNOW_K - 1}, 1))) AS i
  FROM documents
),
grams AS (
  SELECT doc_id, i,
         substr(md5(substr(text, i, {WINNOW_K})), 1, {WINNOW_HASH_CHARS})
           || lpad(CAST({10 ** _POS_PAD} - i AS VARCHAR), {_POS_PAD + 1}, '0') AS key
  FROM pos
),
sel AS (
  SELECT doc_id, i,
         substr(min(key) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING), 1, {WINNOW_HASH_CHARS}) AS sel,
         count(*) OVER (PARTITION BY doc_id) AS m
  FROM grams
)
SELECT doc_id,
       len(list_distinct(list(sel))) AS n_fp,
       md5(array_to_string(list_sort(list_distinct(list(sel))), ',')) AS fingerprint
FROM sel
WHERE i <= greatest(m - {WINNOW_W - 1}, 1)
GROUP BY doc_id
"""

# adaptive label propagation: switch pointer doubling on after this
# many plain rounds (clique graphs finish in 2-3; dragging past this
# means a high-diameter component)
_ADAPT_AFTER = 5

MINHASH_PAIRS_VERSION = 1


def minhash_pairs_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the LSH-verified pair table ONCE per corpus (same
    staging discipline as sampling.curation_signals_path): in a real
    dedup pipeline pair GENERATION and cluster RESOLUTION are separate
    stages with a materialization between — clustering re-runs (new
    thresholds, incremental batches) must not re-shingle the corpus.
    Staged under ``staging.stage_root`` (env-overridable; shared storage
    on a cluster).  The key folds the corpus CONTENT fingerprint plus
    every constant the pair table depends on — minhash width, Jaccard
    threshold AND the shingle definition itself (ADVICE r03: a shingle
    change must invalidate without a manual version bump)."""
    import os

    from doc_ocr_spark import staging

    src = os.path.join(sf_dir, "documents.parquet")
    key = staging.content_key(
        MINHASH_PAIRS_VERSION,
        staging.file_fingerprint(src),
        N_MINHASH,
        JACCARD_THRESHOLD,
        _SHINGLES_CTE,  # canonical text of the shingle definition
    )

    def build(tmp: str) -> None:
        minhash_lsh_pairs(spark, sf_dir).write.mode("overwrite").parquet(tmp)

    return staging.ensure_staged("pairs", key, build)


def propagate_min_labels(
    pairs: DataFrame, max_rounds: int = 30
) -> tuple[DataFrame, int]:
    """Pregel-style min-label propagation to fixpoint over an undirected
    pair graph.  Returns ``(labels(doc_id, cluster_id), n_rounds)``.

    Each round: label = min(own, neighbours') over fully distributed
    joins; the round count is bounded by the largest component's
    DIAMETER.  For near-dup graphs (perturbed cliques) the measured
    diameter is 1-2 — at sf1eq the 501k-edge graph converges in 2
    rounds — so simple propagation is the default.  The adversarial
    chain fixture (tests/test_dedup_ops.py) measures ~100% of a
    high-diameter graph's cost as round count x fixed per-round
    overhead, so a pointer-jumping shortcut —
    label(d) = min(label(d), label(label(d))), one extra self-join per
    round — collapses the round count from O(diameter) to
    O(log diameter).  It stays OFF for the first rounds:
    clique-shaped dedup graphs converge at diameter 1-2 in 2-3 rounds
    either way, and there the shortcut join is pure overhead (measured
    in the fixture; BENCH/BASELINE.md finding #24).  So propagation is
    ADAPTIVE: plain rounds first, shortcut switched on from round
    ``_ADAPT_AFTER`` — cliques never pay the extra join,
    arbitrary-diameter graphs still fit the round budget (diameter-30
    chain test).  Non-convergence raises
    instead of silently truncating: a truncated propagation would split
    real clusters and let multiple keepers survive dedup.

    Per-round discipline: `updated` is materialized with an EAGER
    ``localCheckpoint`` — not a bare persist.  Each round references the
    previous labels TWICE (neighbour-min + the hop join), so a persist
    (which caches execution but keeps the full logical plan) doubles the
    plan tree every round: 2^rounds plan nodes, a driver OOM at ~13
    rounds — found by this module's high-diameter chain fixture.  The
    checkpoint truncates lineage to a LogicalRDD each round, keeping
    plan size O(1) in rounds; the convergence probe rides the SAME
    materializing action via Observation (one job per round).  Old
    rounds' checkpoint blocks are dereferenced each iteration and freed
    by the context cleaner.
    """
    from pyspark.sql import Observation

    # undirected edge list, cached: every iteration joins against it
    edges = (
        pairs.select("doc_a", "doc_b")
        .union(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint(eager=True)  # materialize round 0, flat plan
    )
    converged = False
    rounds = 0
    for rnd in range(max_rounds):
        neigh = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(edges.doc_a.alias("doc_id"))
            .agg(F.min("cluster_id").alias("neigh_min"))
        )
        new_label = F.least(
            F.col("cluster_id"),
            F.coalesce(F.col("neigh_min"), F.col("cluster_id")),
        )
        hopped = labels.join(neigh, "doc_id", "left").select(
            "doc_id",
            F.col("cluster_id").alias("old_cluster_id"),
            new_label.alias("cluster_id"),
        )
        if rnd >= _ADAPT_AFTER:
            # plain rounds are free for the diameter-1-2 clique graphs
            # real near-dup corpora produce; dragging past _ADAPT_AFTER
            # rounds means a high-diameter component, and from there
            # rounds double their reach, so any diameter fits the budget.
            # Pointer jumping: follow the label one more step —
            # cluster_id values are themselves doc_ids in `labels`, so
            # label(label(d)) is an inner self-join on the hop result
            parent = hopped.select(
                F.col("doc_id").alias("p_id"),
                F.col("cluster_id").alias("p_cluster"),
            )
            hopped = (
                hopped.join(parent, hopped.cluster_id == parent.p_id)
                .select(
                    "doc_id",
                    "old_cluster_id",
                    F.least("cluster_id", "p_cluster").alias("cluster_id"),
                )
            )
        obs = Observation(f"cc_round_{rnd}")
        updated = (
            hopped.select(
                "doc_id",
                "cluster_id",
                (F.col("cluster_id") < F.col("old_cluster_id")).alias("_changed"),
            )
            .observe(obs, F.sum(F.col("_changed").cast("long")).alias("n_changed"))
            # eager: one job materializes the round, fires the
            # observation, and truncates lineage (see docstring)
            .localCheckpoint(eager=True)
        )
        changed = obs.get["n_changed"] or 0
        labels = updated  # old round's blocks freed by context cleaner
        rounds = rnd + 1
        if changed == 0:
            converged = True
            break
    labels = labels.drop("_changed")
    edges.unpersist()
    if not converged:
        # silent truncation would split real clusters (multiple keepers
        # survive dedup) — fail loudly instead
        raise RuntimeError(
            "propagate_min_labels: label propagation did not converge "
            f"within {max_rounds} rounds; raise the bound for this graph"
        )
    return labels, rounds


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER resolution — the step after pair generation in a
    real dedup pipeline: connected components over the LSH-verified
    pair graph, keeper = min doc_id per component.

    Reads the MATERIALIZED pair table (`minhash_pairs_path`) rather
    than re-deriving the minhash DAG inline — measured at the sf1eq
    point the inline pair DAG was ~90% of the query's wall time while
    the actual propagation converged in 2 rounds (the near-dup graph
    is cliques; diameter ~1).

    Spark side is Pregel-style min-label propagation iterated to
    fixpoint (each round: label = min(own, neighbours'); a driver loop
    over fully distributed joins — the iteration count is the graph
    diameter, which for near-dup clusters is tiny).  The DuckDB oracle
    computes the same fixpoint via a recursive-CTE transitive closure
    (fine at oracle scale, NOT the scale path).
    """
    pairs = (
        spark.read.schema("doc_a long, doc_b long, jaccard double")
        .parquet(minhash_pairs_path(spark, sf_dir))
        .select("doc_a", "doc_b")
    )
    labels, _ = propagate_min_labels(pairs)
    keepers = labels.groupBy("cluster_id").agg(F.min("doc_id").alias("keep_id"))
    return labels.join(keepers, "cluster_id").select(
        "doc_id", "cluster_id", (F.col("doc_id") == F.col("keep_id")).alias("is_keeper")
    )


# Oracle: symmetric closure via recursive CTE, component id = min over
# the reachable set (small pair graph at oracle SF — the Spark side is
# the scale path).
CLUSTERS_SQL = f"""
WITH RECURSIVE base AS (
  {MINHASH_SQL.strip()}
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM base
  UNION
  SELECT doc_b AS a, doc_a AS b FROM base
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
  FROM reach GROUP BY a
),
keep AS (
  SELECT cluster_id, min(doc_id) AS keep_id FROM comp GROUP BY cluster_id
)
SELECT c.doc_id, c.cluster_id, c.doc_id = k.keep_id AS is_keeper
FROM comp c JOIN keep k USING (cluster_id)
"""


# --- duplicated-span detection (round 5) ------------------------------------
# The substring-level dedup signal from Lee et al. 2021 ("Deduplicating
# Training Data Makes Language Models Better"), adapted to word-window
# granularity: a span that occurs in MORE THAN ONE document is training
# data the model will see repeatedly even after doc-level dedup keeps
# one copy of each near-identical page (boilerplate, quoted passages,
# syndicated paragraphs).  Per document we report how much of it is
# made of such cross-document spans — the flagging pass that precedes
# span REMOVAL in a real pipeline.
#
# Distinct from the existing family: ngram_jaccard/minhash measure
# PAIRWISE document similarity, fingerprint_winnow selects a sketch;
# this measures each span's CORPUS-WIDE document frequency.
#
# Scale shape (100 TB): spans travel as the same 44-bit md5 prefixes as
# the shingle family (uniform shuffle keys by construction).  Three
# partial-agg exchanges, no pair join anywhere: distinct (doc, span),
# groupBy(span) for document frequency (map-side combine collapses a
# boilerplate span to one row per map task — a ubiquitous span is agg
# input, never join fan-out), then groupBy(doc) for the per-doc counts.
# The df>=2 table joins back on the uniform hashed key; a hot span
# contributes its df rows linearly (1:1 join against one df row).
SPAN_WORDS = 8  # window width; docs shorter than this have no spans


def _spans_pos(docs: DataFrame, width: int = SPAN_WORDS) -> DataFrame:
    """ALL hashed ``width``-word windows (stride 1) with their 1-based
    start position: (doc_id, i, s).  Same key discipline as
    :func:`_shingles`."""
    docs = respread(docs)  # finding #36
    w = F.split(F.col("text"), " ")
    window_text = F.concat_ws(
        " ", *[F.element_at("w", F.col("i") + k) for k in range(width)]
    )
    return (
        docs.select("doc_id", w.alias("w"))
        .filter(F.size("w") >= width)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("w") - width + 1)).alias("i"),
            "w",
        )
        .select(
            "doc_id",
            "i",
            _hex_to_long(
                F.substring(F.md5(window_text), 1, SHINGLE_HASH_CHARS)
            ).alias("s"),
        )
    )


def _spans(docs: DataFrame, width: int = SPAN_WORDS) -> DataFrame:
    """Distinct hashed ``width``-word windows per doc: (doc_id, s) —
    :func:`_spans_pos` without the positions."""
    return _spans_pos(docs, width).select("doc_id", "s").distinct()


def dup_span_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-span statistics: of the doc's distinct
    SPAN_WORDS-word windows, how many also occur in ANOTHER document
    (corpus document frequency >= 2), and the ratio — the doc-level
    flag a span-removal pass would consume."""
    docs = load(spark, sf_dir, "documents")
    sp = _spans(docs)
    dupes = (
        sp.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2)
    )
    n_spans = F.count(F.lit(1))
    n_dup = F.count("df")  # non-null only on the df>=2 rows
    return (
        sp.join(dupes, "s", "left")
        .groupBy("doc_id")
        .agg(
            n_spans.alias("n_spans"),
            n_dup.alias("n_dup_spans"),
            (
                F.floor(
                    n_dup.cast("double") / n_spans * F.lit(1e6) + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("dup_ratio"),
        )
    )


def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL step behind :func:`dup_span_flags` — Lee et al.
    2021's substring dedup as a text TRANSFORM: for every duplicated
    span (corpus document frequency >= 2) one canonical copy survives
    in the keeper document (min doc_id containing the span); every
    other document loses the words covered by that span.  Documents
    keep their identity — only covered words are excised — so the
    op composes with doc-level dedup instead of replacing it.

    Output: (doc_id, n_words, n_removed, text_clean) for EVERY doc
    (sub-width and span-free docs pass through verbatim).

    Scale shape (100 TB): positions ride along the same 44-bit hashed
    span keys; every exchange is linear — distinct (doc, span) for the
    keeper/df table, groupBy(span) with map-side combine, the
    positions-x-dup-spans join on the uniform hashed key (1:1 against
    one stats row per span), a distinct on covered (doc, position), a
    left-anti join on (doc, position), and the per-doc rebuild agg.
    A span shared by k docs contributes k*W covered-position rows —
    linear in occurrences, never pairwise.  The rebuild's
    array_sort(collect_list(struct(pos, word))) buffers one document
    per group — bounded by doc length, the same bound the extraction
    kernel already lives with."""
    docs = load(spark, sf_dir, "documents")
    pos = _spans_pos(docs)
    span_stats = (
        pos.select("doc_id", "s")
        .distinct()
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("keeper"))
        .filter(F.col("df") >= 2)
    )
    # Round 6 (guide §3.1): the planner's pre-AQE estimate broadcast the
    # POSITIONS stream as the build side (measured at sf1.0: a 256 MiB
    # broadcast of 2.37M rows every run, with span_stats — 20x smaller —
    # as the probe).  The shuffle_hash hint pins the linear plan the
    # docstring promises: both sides hash-partitioned by the uniform
    # 44-bit key, stats as the per-partition build side; no O(corpus)
    # relation is ever broadcast.
    covered = (
        pos.join(span_stats.hint("shuffle_hash"), "s")
        .filter(F.col("doc_id") != F.col("keeper"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + SPAN_WORDS - 1)
            ).alias("p"),
        )
        .distinct()
    )
    words = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p0", "word")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "word")
    kept = words.join(covered, ["doc_id", "p"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "word"))),
                lambda x: x["word"],
            ),
        ).alias("text_clean"),
    )
    totals = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_words")
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            (
                F.col("n_words") - F.coalesce("n_kept", F.lit(0))
            ).alias("n_removed"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


_SPAN_CAT = " || ' ' || ".join(f"w[i+{k}]" for k in range(SPAN_WORDS))

SPANS_SQL = f"""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
idx AS (
  SELECT doc_id, w, unnest(range(1, len(w) - {SPAN_WORDS - 2})) AS i
  FROM words WHERE len(w) >= {SPAN_WORDS}
),
spans AS (
  SELECT DISTINCT doc_id,
         substr(md5({_SPAN_CAT}), 1, {SHINGLE_HASH_CHARS}) AS s
  FROM idx
),
dupes AS (SELECT s, count(*) AS df FROM spans GROUP BY s HAVING count(*) >= 2)
SELECT doc_id, count(*) AS n_spans, count(df) AS n_dup_spans,
  floor(CAST(count(df) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS dup_ratio
FROM spans LEFT JOIN dupes USING (s)
GROUP BY doc_id
"""


SPAN_REMOVAL_SQL = f"""
WITH words0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
pos AS (
  SELECT doc_id, i, substr(md5({_SPAN_CAT}), 1, {SHINGLE_HASH_CHARS}) AS s
  FROM (
    SELECT doc_id, w, unnest(range(1, len(w) - {SPAN_WORDS - 2})) AS i
    FROM words0 WHERE len(w) >= {SPAN_WORDS}
  )
),
stats AS (
  SELECT s, count(DISTINCT doc_id) AS df, min(doc_id) AS keeper
  FROM pos GROUP BY s HAVING count(DISTINCT doc_id) >= 2
),
covered AS (
  SELECT DISTINCT doc_id, p FROM (
    SELECT doc_id, unnest(range(i, i + {SPAN_WORDS})) AS p
    FROM pos JOIN stats USING (s) WHERE doc_id <> keeper
  )
),
wordpos AS (
  SELECT doc_id, i AS p, w[i] AS word
  FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM words0)
),
kept AS (
  SELECT wp.doc_id, wp.p, wp.word
  FROM wordpos wp LEFT JOIN covered c ON wp.doc_id = c.doc_id AND wp.p = c.p
  WHERE c.doc_id IS NULL
),
rebuilt AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(word, ' ' ORDER BY p) AS text_clean
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, t.n_words,
       t.n_words - coalesce(r.n_kept, 0) AS n_removed,
       coalesce(r.text_clean, '') AS text_clean
FROM (SELECT doc_id, len(string_split(text, ' ')) AS n_words FROM documents) t
LEFT JOIN rebuilt r USING (doc_id)
"""


ORACLES = {
    "dedup_exact": EXACT_SQL,
    "ngram_jaccard_pairs": JACCARD_SQL,
    "minhash_lsh_pairs": MINHASH_SQL,
    "simhash16": SIMHASH_SQL,
    "fingerprint_winnow": FINGERPRINT_SQL,
    "dedup_clusters": CLUSTERS_SQL,
    "dup_span_flags": SPANS_SQL,
    "dedup_span_removal": SPAN_REMOVAL_SQL,
}

QUERIES = {
    "dedup_exact": dedup_exact,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "minhash_lsh_pairs": minhash_lsh_pairs,
    "simhash16": simhash16,
    "fingerprint_winnow": fingerprint_winnow,
    "dedup_clusters": dedup_clusters,
    "dup_span_flags": dup_span_flags,
    "dedup_span_removal": dedup_span_removal,
}
