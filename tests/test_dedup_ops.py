"""Dedup operator semantics beyond the oracle gate: true-winnowing
selection vs an independent Python reference (plus the published
guarantee), and the inverted-index df cap under a hot-shingle corpus."""

import hashlib
import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from doc_ocr_spark.operators import dedup as D
from doc_ocr_spark.operators import similarity as S


def _winnow_ref(text: str, k: int = D.WINNOW_K, w: int = D.WINNOW_W) -> set[str]:
    """Independent sequential winnowing (Schleimer et al. fig. 5 with
    rightmost-min ties): returns the selected HASH set."""
    m = max(len(text) - k + 1, 1)
    hc = D.WINNOW_HASH_CHARS
    keys = []
    for i in range(1, m + 1):
        h = hashlib.md5(text[i - 1 : i - 1 + k].encode("utf-8")).hexdigest()[:hc]
        keys.append(h + str(10**D._POS_PAD - i).zfill(D._POS_PAD + 1))
    sels = set()
    for j in range(max(m - w + 1, 1)):
        sels.add(min(keys[j : j + w])[:hc])
    return sels


def _docs_table(spark, tmp_path, texts):
    d = tmp_path / "sfdir"
    d.mkdir(exist_ok=True)
    spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_winnow_matches_independent_reference(spark, tmp_path):
    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "short",
        "x" * 7,          # shorter than k: one degenerate gram
        "abcdefgh",       # exactly k: single window of one hash
        "aaaaaaaaaaaaaaaaaaaa",  # all-identical grams: tie-break path
        "pack my box with five dozen liquor jugs pack my box with five",
    ]
    sf = _docs_table(spark, tmp_path, texts)
    got = {r.doc_id: (r.n_fp, r.fingerprint) for r in D.fingerprint_winnow(spark, sf).collect()}
    for i, t in enumerate(texts):
        sels = _winnow_ref(t)
        exp_fp = hashlib.md5(",".join(sorted(sels)).encode()).hexdigest()
        assert got[i] == (len(sels), exp_fp), (i, t)


def test_winnow_guarantee_shared_substring_shares_hash(spark, tmp_path):
    """Published guarantee: a common substring of length >= W + K - 1
    shares at least one selected hash between the two documents."""
    t = D.WINNOW_W + D.WINNOW_K - 1
    shared = "zqjvkwxbyfmg"[: t + 3]  # > t chars, rare letters
    a = "lorem ipsum dolor " + shared + " sit amet consectetur"
    b = "completely different prefix text " + shared + " and another tail"
    assert _winnow_ref(a) & _winnow_ref(b)
    # and a pair with NO long shared substring shares nothing
    c = "unrelated content entirely here with no overlap at all ok"
    assert not (_winnow_ref(a) & _winnow_ref(c))


def test_winnow_position_robust_unlike_global_min(spark, tmp_path):
    """The round-1 global-min fingerprint changed whenever any prefix
    shifted content; winnowing selections from an unchanged tail
    survive a prefix edit."""
    tail = " the common long tail that should keep matching fingerprints"
    a = "prefix one" + tail
    b = "a totally different and longer prefix two" + tail
    assert _winnow_ref(a) & _winnow_ref(b)


def test_jaccard_df_cap_bounds_hot_shingle(spark, tmp_path):
    """One shingle shared by EVERY doc (df >> cap) must not generate
    quadratic candidate pairs; genuine near-dups sharing rare shingles
    are still found."""
    hot = "copyright footer boilerplate"
    n = D.JACCARD_DF_CAP + 30
    texts = [f"{hot} unique{i} filler{i} words{i} tail{i}" for i in range(n)]
    # two genuine near-dups: identical long bodies + the hot shingle
    dup = "alpha bravo charlie delta echo foxtrot golf hotel india"
    texts.append(f"{hot} {dup}")
    texts.append(f"{hot} {dup}")
    sf = _docs_table(spark, tmp_path, texts)
    pairs = D.ngram_jaccard_pairs(spark, sf).collect()
    ids = {(r.doc_a, r.doc_b) for r in pairs}
    assert (n, n + 1) in ids          # the real near-dup pair survives
    # the hot shingle alone creates no pairs: everything else disjoint
    assert ids == {(n, n + 1)}
    for r in pairs:
        assert r.jaccard == 1.0       # computed over capped sets only


def test_jaccard_df_cap_mirrored_by_oracle(spark, tmp_path):
    """The oracle SQL applies the same cap (run on the same tiny
    corpus via DuckDB)."""
    import duckdb

    hot = "copyright footer boilerplate"
    n = D.JACCARD_DF_CAP + 10
    texts = [f"{hot} unique{i} filler{i} words{i} tail{i}" for i in range(n)]
    dup = "alpha bravo charlie delta echo foxtrot golf hotel india"
    texts += [f"{hot} {dup}", f"{hot} {dup}"]
    sf = _docs_table(spark, tmp_path, texts)
    spark_rows = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(spark, sf).collect()
    }
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{sf}/documents.parquet/*.parquet')"  # Spark writes a dir
    )
    oracle_rows = set(map(tuple, con.sql(D.JACCARD_SQL).fetchall()))
    assert spark_rows == oracle_rows


def test_cc_high_diameter_chain_converges(spark):
    """Adversarial fixture (VERDICT r03 item 5): near-dup graphs are
    cliques (diameter 1-2), but the propagation must also close a
    PATH graph — diameter 6 here, so label 0 needs 6 rounds to reach
    the far end plus one confirming round.  Asserts both the fixpoint
    and the exact round count (the cost model pointer-doubling would
    amortize)."""
    import time

    from doc_ocr_spark.operators.dedup import propagate_min_labels

    chain = spark.createDataFrame(
        [(k, k + 1) for k in range(6)], "doc_a long, doc_b long"
    )
    t0 = time.monotonic()
    labels, rounds = propagate_min_labels(chain)
    wall = time.monotonic() - t0
    got = {r.doc_id: r.cluster_id for r in labels.collect()}
    assert got == {k: 0 for k in range(7)}, got
    assert rounds == 7, f"diameter-6 chain should take 6+1 rounds, got {rounds}"
    # keep the per-round cost visible when -s is passed (BASELINE note)
    print(f"\nchain cc: {rounds} rounds in {wall:.1f}s = {wall/rounds:.2f}s/round")


def test_cc_two_components_and_isolated_pairs(spark):
    from doc_ocr_spark.operators.dedup import propagate_min_labels

    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (20, 21)], "doc_a long, doc_b long"
    )
    labels, rounds = propagate_min_labels(edges)
    got = {r.doc_id: r.cluster_id for r in labels.collect()}
    assert got == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    assert rounds <= 3


def test_cc_nonconvergence_raises_loudly(spark):
    from doc_ocr_spark.operators.dedup import propagate_min_labels

    chain = spark.createDataFrame(
        [(k, k + 1) for k in range(6)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        propagate_min_labels(chain, max_rounds=3)


def test_cc_pointer_doubling_same_labels_fewer_rounds(spark, monkeypatch):
    """The pointer-jumping shortcut, on from round 0 (``_ADAPT_AFTER``
    = 0) against never (``_ADAPT_AFTER`` past the round budget):
    identical fixpoint, O(log diameter) rounds on the chain."""
    import time

    from doc_ocr_spark.operators import dedup

    chain = spark.createDataFrame(
        [(k, k + 1) for k in range(12)], "doc_a long, doc_b long"
    )
    t0 = time.monotonic()
    monkeypatch.setattr(dedup, "_ADAPT_AFTER", 30)
    plain, r_plain = dedup.propagate_min_labels(chain, max_rounds=30)
    t1 = time.monotonic()
    monkeypatch.setattr(dedup, "_ADAPT_AFTER", 0)
    doubled, r_doubled = dedup.propagate_min_labels(chain, max_rounds=30)
    t2 = time.monotonic()
    want = {k: 0 for k in range(13)}
    assert {r.doc_id: r.cluster_id for r in plain.collect()} == want
    assert {r.doc_id: r.cluster_id for r in doubled.collect()} == want
    assert r_plain == 13  # diameter 12 + confirm round
    assert r_doubled < r_plain / 2, (r_plain, r_doubled)
    print(
        f"\nchain-12 cc: plain {r_plain} rounds {t1-t0:.1f}s, "
        f"doubling {r_doubled} rounds {t2-t1:.1f}s"
    )


def test_lang_id_discriminates_latin_script_languages(spark):
    """Round-4 upgrade: per-language stopword argmax — constructed
    snippets with known languages (the synthetic corpus's text is
    language-independent, so this is the real ground-truth test)."""
    from doc_ocr_spark.operators.textstats import lang_pred_col

    samples = [
        ("the cat sat on the mat and looked out of the window", "en"),
        ("der hund ist nicht in das haus und der garten", "de"),
        ("le chat est dans la maison et les jardins", "fr"),
        ("el perro es grande y los gatos como la casa", "es"),
        ("这是 一个 中文 句子", "zh"),
        ("это русский текст", "ru"),
        ("هذا نص عربي", "ar"),
        ("zzz qqq xxx", "und"),
    ]
    df = spark.createDataFrame([(t,) for t, _ in samples], "text string")
    got = [r.p for r in df.select(lang_pred_col().alias("p")).collect()]
    assert got == [g for _, g in samples], list(zip(got, samples))


def test_cc_adaptive_doubling_closes_extreme_diameter(spark, monkeypatch):
    """Adaptive propagation: a diameter-30 chain — which PLAIN
    propagation cannot close within the 30-round budget — converges
    because the shortcut switches on automatically after round 5."""
    from doc_ocr_spark.operators import dedup

    chain = spark.createDataFrame(
        [(k, k + 1) for k in range(30)], "doc_a long, doc_b long"
    )
    assert dedup._ADAPT_AFTER == 5
    labels, rounds = dedup.propagate_min_labels(chain)
    got = {r.doc_id: r.cluster_id for r in labels.collect()}
    assert got == {k: 0 for k in range(31)}
    assert rounds < 20, rounds
    # plain rounds only (the switch past the round budget) genuinely
    # cannot: loud failure, not truncation
    monkeypatch.setattr(dedup, "_ADAPT_AFTER", 30)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.propagate_min_labels(chain, max_rounds=30)


def test_winnow_overflow_guard_raises_loudly(spark, tmp_path):
    """ADVICE r04: past 10^_POS_PAD characters the rightmost-position
    tie-break term goes negative and would SILENTLY corrupt the
    selection order on both engines (parity masks it).  Oversized docs
    must fail loudly, naming the knob to raise."""
    big = "x" * (10**D._POS_PAD)
    sf = _docs_table(spark, tmp_path, ["a normal sized document", big])
    with pytest.raises(Exception, match="_POS_PAD"):
        D.fingerprint_winnow(spark, sf).collect()
    # one char under the limit is still fine (guard is >=, not fuzzy)
    sf_ok = _docs_table(spark, tmp_path, ["a normal sized document"])
    assert D.fingerprint_winnow(spark, sf_ok).count() > 0


def test_ann_default_nprobe_recall_floor(spark):
    """VERDICT r04 item 1: the shipped multi-probe defaults must keep
    measured recall@1 of `ann_nn_within_bucket` >= 0.6 vs the exact
    all-pairs NN — whatever the default (mode, nprobe, refine)
    combination is (round 5 ships asym/P=4/refine=1: sf0.001 measures
    0.728, vs 0.646 unrefined and 0.232/0.620/0.984 at sym P=1/2/4 —
    deterministic data + deterministic algorithm, so the number is
    stable).  A future knob change cannot silently ship a low-recall
    default again."""
    from pyspark.sql import Window

    from doc_ocr_spark.operators import similarity as S

    assert S.N_PROBE >= 2, "N_PROBE regressed below 2"
    sf = "/root/testdata/sf0.001"
    emb = S._emb_with_norms(spark, sf)
    pairs = S._sims(emb, emb).filter(F.col("qid") != F.col("cid"))
    w = Window.partitionBy("cid").orderBy(F.col("sim").desc(), F.col("qid").asc())
    exact = (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter("rank = 1")
        .select(F.col("cid").alias("vec_id"), F.col("sim").alias("true_sim"))
    )
    approx = S.ann_nn_within_bucket(spark, sf).select(
        "vec_id", F.col("sim").alias("approx_sim")
    )
    r = (
        approx.join(exact, "vec_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("approx_sim") >= F.col("true_sim")).cast("long")
            ).alias("hit"),
        )
        .collect()[0]
    )
    recall = r["hit"] / max(r["n"], 1)
    assert r["n"] == 500
    assert recall >= 0.6, f"recall@1 at default nprobe={S.N_PROBE}: {recall}"


def test_lang_id_accuracy_floor_on_constructed_ground_truth(spark):
    """VERDICT r04 item 3: the per-language stopword argmax landed in
    r04 without an accuracy measurement.  Measured here on the
    deterministic constructed-snippet corpus (the synthetic documents
    table's text is language-independent, so its lang column is a
    label, not ground truth): 0.98-1.00 per language at seed 7.  The
    floor catches a regression in the stopword pools / tie-break order
    without pinning exact values."""
    from doc_ocr_spark.operators.textstats import langid_eval_accuracy

    acc = langid_eval_accuracy(spark)
    assert set(acc) == {"en", "de", "fr", "es", "zh", "ru", "ar", "und"}
    for lang, row in acc.items():
        assert row["n"] == 50
        assert row["acc"] >= 0.9, (lang, row)
    overall = sum(r["acc"] * r["n"] for r in acc.values()) / sum(
        r["n"] for r in acc.values()
    )
    assert overall >= 0.95, acc


def test_retired_ivf_lsh_env_vars_leave_oracles_unchanged():
    """The probe shape, probe depth, refine rounds and band count are
    constants, not env knobs: setting the retired env vars and
    re-importing the module leaves every oracle string as it was."""
    import importlib
    import os

    import doc_ocr_spark.operators.similarity as S

    before = dict(S.ORACLES)
    retired = {
        "SPARK_GRAFT_IVF_PROBE_MODE": "sym",
        "SPARK_GRAFT_IVF_REFINE": "0",
        "SPARK_GRAFT_IVF_NPROBE": "1",
        "SPARK_GRAFT_LSH_BANDS": "1",
    }
    os.environ.update(retired)
    try:
        importlib.reload(S)
        assert S.ORACLES == before
    finally:
        for k in retired:
            os.environ.pop(k)
        importlib.reload(S)


def test_embedding_dedup_default_bands_recall_floor(spark):
    """Round-5 OR-banding (finding #31): the shipped N_BANDS default
    must keep pair recall >= 0.4 vs the exact cosine-threshold pairs
    on the near-uniform (worst-case) corpus — sf0.001 measures 0.475
    at the default 4 bands vs 0.156 single-band — and every emitted
    pair must verify (precision 1.0 by construction)."""
    from doc_ocr_spark.operators import similarity as S

    assert S.N_BANDS >= 2, "N_BANDS regressed below 2"
    sf = "/root/testdata/sf0.001"
    emb = S._emb_with_norms(spark, sf)
    exact = (
        S._sims(emb, emb)
        .filter(F.col("qid") < F.col("cid"))
        .filter(F.col("sim") >= S.DEDUP_TAU)
        .select("qid", "cid")
    )
    n_exact = exact.count()
    lsh = S.embedding_cosine_dedup(spark, sf).select(
        F.col("vec_a").alias("qid"), F.col("vec_b").alias("cid")
    )
    n_lsh = lsh.count()
    found = lsh.join(exact, ["qid", "cid"]).count()
    assert found == n_lsh  # subset of the exact set: precision 1.0
    assert n_exact > 0
    recall = found / n_exact
    assert recall >= 0.4, f"recall at {S.N_BANDS} bands: {recall}"


def test_dup_span_flags_cross_doc_spans_only(spark, tmp_path):
    """dup_span_flags counts a span as duplicated only when it occurs
    in ANOTHER document: two docs sharing an 8-word passage are both
    flagged for exactly the shared windows; a unique doc reports 0;
    within-doc repetition alone does not flag; docs under SPAN_WORDS
    words drop out."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    texts = [
        "one two three " + shared + " four five six",
        shared + " seven eight nine ten eleven twelve",
        "completely unrelated words with no overlap at all anywhere here",
        # within-doc repetition of an 8-gram unique to this doc
        "rep one rep two rep three rep four rep one rep two rep three rep four",
        "too short",
    ]
    sf = _docs_table(spark, tmp_path, texts)
    got = {
        r.doc_id: (r.n_spans, r.n_dup_spans) for r in D.dup_span_flags(spark, sf).collect()
    }
    # the shared passage has 10 words -> 3 common 8-grams; both carriers
    # must flag exactly those (their other windows mix unique context)
    assert got[0][1] == 3 and got[1][1] == 3, got
    assert got[2] == (got[2][0], 0)
    assert got[3][1] == 0, "within-doc repetition must not flag"
    assert 4 not in got, "sub-width docs have no spans"
    # ratio is n_dup/n_spans at 6dp
    rows = {r.doc_id: r for r in D.dup_span_flags(spark, sf).collect()}
    import math
    for i in (0, 1, 2, 3):
        exp = math.floor(rows[i].n_dup_spans / rows[i].n_spans * 1e6 + 0.5) / 1e6
        assert rows[i].dup_ratio == exp


def test_tfidf_ranks_distinctive_term_first(spark, tmp_path):
    """A term unique to one doc must outrank the corpus-wide filler
    terms in that doc, even at lower tf; ties break term-ascending."""
    from doc_ocr_spark.operators import textstats as T

    texts = [
        "common common common zebra",
        "common common common common",
        "common common filler filler",
        "common filler filler filler",
    ]
    sf = _docs_table(spark, tmp_path, texts)
    # the tables lack the lang/source columns; tfidf only needs text
    rows = T.tfidf_top_terms(spark, sf).collect()
    doc0 = sorted([r for r in rows if r.doc_id == 0], key=lambda r: r.rank)
    # zebra: tf=1, df=1 -> score 1*(5)*1e6//2 = 2.5; common: tf=3, df=4
    # -> 3*5*1e6//5 = 3.0 -> common first, zebra second
    assert [r.term for r in doc0][:2] == ["common", "zebra"]
    assert doc0[0].score == 3.0 and doc0[1].score == 2.5
    # doc 3: filler tf=3 df=2 -> 3*5e6//3 = 5.0 beats common tf=1 df=4 -> 1.0
    doc3 = sorted([r for r in rows if r.doc_id == 3], key=lambda r: r.rank)
    assert doc3[0].term == "filler" and doc3[0].score == 5.0


def test_span_removal_keeper_verbatim_loser_excised(spark, tmp_path):
    """dedup_span_removal semantics: the keeper (min doc_id containing
    a duplicated span) keeps its text verbatim; the other carrier
    loses exactly the covered words; unique and sub-width docs pass
    through untouched."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # exactly 8 words
    texts = [
        "one two three " + shared + " four five six",
        shared + " seven eight nine ten eleven twelve",
        "entirely separate words that never overlap with anything else at all",
        "too short",
    ]
    sf = _docs_table(spark, tmp_path, texts)
    got = {r.doc_id: r for r in D.dedup_span_removal(spark, sf).collect()}
    assert got[0].text_clean == texts[0] and got[0].n_removed == 0
    # doc 1: the shared 8 words (positions 1-8) are excised; the rest
    # of the doc survives in order
    assert got[1].text_clean == "seven eight nine ten eleven twelve", got[1]
    assert got[1].n_removed == 8
    assert got[2].text_clean == texts[2] and got[2].n_removed == 0
    assert got[3].text_clean == texts[3] and got[3].n_removed == 0
    # removal is an idempotent-ish guarantee on counts
    for i in range(4):
        assert got[i].n_words == len(texts[i].split(" "))


# Similarity kernels called directly on pandas frames, no Spark session
# (a grouped-map UDF tested through a local call of its function).
# Their Spark plumbing is checked end to end by test_entry_parity
# against the DuckDB oracle; here each kernel is compared with a
# per-element Python reference on small seeded frames.

_SCALE = 1e12


def _ref_dot(x, y) -> int:
    """Scaled-long dot, one element at a time: sum floor((x*y)*1e12)."""
    return sum(math.floor(float(a) * float(b) * _SCALE) for a, b in zip(x, y))


def _sim(dot, xn, yn) -> float:
    """The query's 6-dp cosine from a scaled-long dot and two norms."""
    return round((int(dot) / _SCALE) / (float(xn) * float(yn)), 6)


def _ref_sim(x, y, xn, yn) -> float:
    return _sim(_ref_dot(x, y), xn, yn)


def _vec_frame(ids, vecs) -> pd.DataFrame:
    """(vec_id, embedding, nrm) as the kernels receive it: float32
    embeddings, norms from the exact scaled-long sum of squares."""
    vecs = [np.asarray(v, np.float32) for v in vecs]
    return pd.DataFrame(
        {
            "vec_id": np.asarray(list(ids), np.int64),
            "embedding": vecs,
            "nrm": np.asarray(
                [math.sqrt(_ref_dot(v, v) / _SCALE) for v in vecs], np.float64
            ),
        }
    )


def _clustered(n, n_bases, seed):
    """n float32 vectors around n_bases random directions; the noise
    puts same-base cosine sims around DEDUP_TAU (about 0.4)."""
    rng = np.random.default_rng(seed)
    bases = rng.standard_normal((n_bases, S.DIM))
    noise = 1.2 * rng.standard_normal((n, S.DIM))
    return (bases[rng.integers(0, n_bases, n)] + noise).astype(np.float32)


def _nn_bucket():
    """One bucket's (probe, index) sides.  Probe 100..109 are also
    index rows (self-pairs to skip); probe 336..339 copy index
    136..139 under other ids; index 140 and 141 both copy probe 345,
    an exact tie that the argmax resolves to the smaller cid.  For
    probe 346, index 142 is its double (sim 1) and index 99 a nudged
    copy whose sim also rounds to 1.000000 but is ~1e-7 lower in the
    GEMM: the argmax is 99, so the shortlist must reach below the
    best approximate sim."""
    v = _clustered(50, 4, seed=11)
    nudged = v[46].copy()
    nudged[0] += 0.005
    index = _vec_frame(
        [99] + list(range(100, 143)),
        [nudged] + list(v[:40]) + [v[45], v[45], 2 * v[46]],
    )
    probe = _vec_frame(
        list(range(100, 110)) + list(range(336, 350)),
        list(v[:10]) + list(v[36:50]),
    )
    return probe, index


def test_nn_shortlist_kernel_exact_dots_and_argmax():
    probe, index = _nn_bucket()
    out = S._nn_shortlist_kernel((7,), probe, index)
    assert (out["bucket"] == 7).all()
    assert (out["qid"] != out["cid"]).all()
    cands = list(zip(index["vec_id"], index["embedding"], index["nrm"]))
    emb = dict(zip(index["vec_id"], index["embedding"]))
    ties = 0
    for qid, qe, qn in zip(probe["vec_id"], probe["embedding"], probe["nrm"]):
        sims = {c: _ref_sim(qe, ce, qn, cn) for c, ce, cn in cands if c != qid}
        best = max(sims.values())
        tied = {c for c, s in sims.items() if s == best}
        ties += len(tied) > 1
        rows = out[out["qid"] == qid]
        assert tied <= set(rows["cid"]), (qid, tied)
        assert [_ref_dot(qe, emb[c]) for c in rows["cid"]] == list(rows["dot"])
        # the Spark-side argmax over the shortlist: (sim desc, cid asc)
        got = max(
            (_sim(d, a, b), -c)
            for d, a, b, c in zip(rows["dot"], rows["qn"], rows["cn"], rows["cid"])
        )
        assert got == (best, -min(tied))
    assert ties >= 2


def test_similarity_kernels_empty_inputs():
    probe, index = _nn_bucket()
    cols = ["qid", "bucket", "cid", "dot", "qn", "cn"]
    for p, i in ((probe.iloc[:0], index), (probe, index.iloc[:0])):
        out = S._nn_shortlist_kernel((7,), p, i)
        assert list(out.columns) == cols and len(out) == 0
        assert str(out["dot"].dtype) == "int64"
    for n in (0, 1):
        out = S._band_pair_shortlist(index.iloc[:n], S.DEDUP_TAU, S._NN_MARGIN)
        assert list(out.columns) == ["qid", "cid", "dot", "qn", "cn"]
        assert len(out) == 0
    signs = S._hyperplane_signs(2 * S.N_PLANES)
    kern = S._make_band_buckets_kernel(2, S.N_PLANES, signs)
    assert list(kern(iter([index.iloc[:0]]))) == []


@pytest.mark.parametrize("n_bands", [1, 4])
def test_band_kernels_match_bruteforce(n_bands):
    n_planes = S.N_PLANES
    signs = S._hyperplane_signs(n_planes * n_bands)
    vecs = _clustered(80, 8, seed=23)
    vecs[79] = vecs[78]  # exact duplicate: one bucket in every band
    frame = _vec_frame(range(1000, 1080), vecs)
    kern = S._make_band_buckets_kernel(n_bands, n_planes, signs)
    # mapInPandas hands the kernel several batches, some empty
    buckets = pd.concat(
        list(kern(iter([frame.iloc[:30], frame.iloc[:0], frame.iloc[30:]]))),
        ignore_index=True,
    )
    want_bucket = {
        (b, vid): sum(
            1 << i
            for i in range(n_planes)
            if _ref_dot(v, signs[b * n_planes + i]) >= 0
        )
        for vid, v in zip(frame["vec_id"], frame["embedding"])
        for b in range(n_bands)
    }
    got_bucket = dict(
        zip(zip(buckets["band"], buckets["vec_id"]), buckets["bucket"])
    )
    assert len(buckets) == len(want_bucket) and got_bucket == want_bucket

    pair_kernel = S._make_band_pair_kernel(S.DEDUP_TAU, S._NN_MARGIN)
    short = pd.concat(
        [pair_kernel(k, g) for k, g in buckets.groupby(["band", "bucket"])],
        ignore_index=True,
    )
    assert (short["qid"] < short["cid"]).all()
    emb = dict(zip(frame["vec_id"], frame["embedding"]))
    nrm = dict(zip(frame["vec_id"], frame["nrm"]))
    pairs = list(zip(short["qid"], short["cid"]))
    assert [_ref_dot(emb[q], emb[c]) for q, c in pairs] == list(short["dot"])
    sims = map(_sim, short["dot"], short["qn"], short["cn"])
    got = {p for p, s in zip(pairs, sims) if s >= S.DEDUP_TAU}
    collide = {
        (q, c)
        for q in emb
        for c in emb
        if q < c
        and any(want_bucket[b, q] == want_bucket[b, c] for b in range(n_bands))
    }
    want = {
        (q, c) for q, c in collide
        if _ref_sim(emb[q], emb[c], nrm[q], nrm[c]) >= S.DEDUP_TAU
    }
    assert got == want
    assert (1078, 1079) in want and len(want) < len(collide)


def test_similarity_kernels_same_output_in_small_blocks(monkeypatch):
    probe, index = _nn_bucket()
    frame = _vec_frame(range(60), _clustered(60, 6, seed=5))
    nn = S._nn_shortlist_kernel((3,), probe, index)
    band = S._band_pair_shortlist(frame, S.DEDUP_TAU, S._NN_MARGIN)
    assert len(nn) > 0 and len(band) > 0
    # a few rows per block, then 1 (a bucket wider than the cell budget)
    for cells in (3 * len(index), 1):
        monkeypatch.setattr(S, "_GEMM_CELLS", cells)
        pd.testing.assert_frame_equal(
            S._nn_shortlist_kernel((3,), probe, index), nn
        )
        pd.testing.assert_frame_equal(
            S._band_pair_shortlist(frame, S.DEDUP_TAU, S._NN_MARGIN), band
        )
