"""Seeded inputs, golden rows and oracle hashes for the workloads.

Everything here is a pure function of (workload, seed, size): the same
seed gives byte-identical inputs.  Inputs are cached on disk under the
benchmark's work directory, keyed by (workload, seed, size), so a
repeated seed skips generation; generation time is reported on its own
and never folded into ``setup_s``.
"""

from __future__ import annotations

import hashlib
import json
import math
import multiprocessing
import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

from doc_ocr_spark import datagen
from doc_ocr_spark.core.extractor import extract_document

WARMUP_PAGES = 200
# Extraction workloads get disjoint page sets, and each timed round takes
# the next one: the kernel's per-worker caches (tokens' normalize cache)
# would otherwise warm on repeated input and speed up round after round,
# as no real job's input does.  SETS is what an untraced run uses.
SETS = 3
_SET_STRIDE = 1_000_000  # datagen sequence numbers between two sets
# Extraction sets are generated, golden rows included, by a pool of
# worker processes in chunks of pages; set-up starts after they ended.
_GEN_PROCS = 4
_GEN_CHUNK = 500

PAGES_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)

# The dedup operators read sf-style tables; their oracles run in DuckDB
# over the same files.
DEDUP_OPS = (
    ("dedup", "ngram_jaccard_pairs"),
    ("dedup", "minhash_lsh_pairs"),
    ("similarity", "embedding_cosine_dedup"),
    ("similarity", "ann_nn_within_bucket"),
)
_VOCAB = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector join index shard page cache tree node lock log queue"
).split()
_DIM = 64


def _pages(n: int, seed: int, start: int = 0) -> list[dict]:
    """datagen pages ``start`` .. ``start + n - 1``: the family of a page
    follows from its sequence number (datagen's crawl-weighted wheel of
    all families, empty pages and giant blobs included), so every set
    holds the same family mix whatever the seed."""
    return [datagen.make_page(start + k, seed) for k in range(n)]


def _golden(pages: list[dict]) -> tuple[list[dict], float]:
    """Sequential reference rows (the golden module's row shape) and the
    sequential ``core`` seconds they took."""
    rows = []
    t0 = time.perf_counter()
    for page in pages:
        res = extract_document(page["url"], page["html"])
        rows.append(
            {
                "url": res.url,
                "extracted_text": res.extracted_text,
                "spans": [{"field": f, "start": s, "end": e} for (f, s, e) in res.spans],
                "template_name": res.template_name,
                "complete": res.complete,
                "errors": res.errors,
                "fields_json": res.fields_json,
            }
        )
    return rows, time.perf_counter() - t0


def _write_pages_parquet(pages: list[dict], path: str, compression: str = "snappy") -> None:
    table = pa.Table.from_pylist(pages, schema=PAGES_SCHEMA)
    pq.write_table(table, path, row_group_size=2048, compression=compression)


# -- dedup_ops tables ------------------------------------------------------


# near-duplicate layout of every block of ten documents: row -> the row
# of the block it copies (rows 0 and 3 get copies, the rest are fresh)
_DOC_COPIES = {7: 0, 8: 0, 9: 3}
_VEC_BLOCK = 4  # the last row of every block of four vectors copies the first


def _dedup_tables(n_docs: int, n_vecs: int, seed: int) -> tuple[list[dict], list[dict]]:
    """sf-shaped ``documents`` / ``embeddings`` rows with near-duplicate
    clusters: a near-duplicate copies an earlier row and perturbs it
    (documents: a word swapped and a copy-suffix token, the perturbation
    bench_scale_tables.py applies per copy; embeddings: a small per-copy
    nudge of a few coordinates).  The seed picks the words, coordinates
    and perturbations; the cluster layout and document lengths are the
    same for every seed, so that every seed gives the operators about the
    same amount of work."""
    rng = random.Random(seed * 104729 + 3)
    docs: list[dict] = []
    for i in range(n_docs):
        src = _DOC_COPIES.get(i % 10)
        if src is not None:
            words = docs[i - i % 10 + src]["text"].split(" ")
            k = rng.randrange(len(words))
            words[k] = rng.choice(_VOCAB)
            words.append(f"v{rng.randint(1, 9)}")
        else:
            words = [rng.choice(_VOCAB) for _ in range(8 + (i * 37) % 53)]
        text = " ".join(words)
        docs.append(
            {
                "doc_id": i,
                "text": text,
                "lang": ("en", "de", "zh")[i % 3],
                "source": f"src{i % 8}",
                "n_chars": len(text),
            }
        )
    centers = [[rng.gauss(0.0, 0.15) for _ in range(_DIM)] for _ in range(24)]
    vecs: list[dict] = []
    for i in range(n_vecs):
        if i % _VEC_BLOCK == _VEC_BLOCK - 1:
            src = vecs[i - i % _VEC_BLOCK]
            emb = list(src["embedding"])
            for _ in range(3):
                emb[rng.randrange(_DIM)] += rng.uniform(-0.01, 0.01)
            label = src["label"]
        else:
            label = i % len(centers)
            emb = [c + rng.gauss(0.0, 0.08) for c in centers[label]]
        vecs.append({"vec_id": i, "embedding": emb, "label": label})
    return docs, vecs


def _write_dedup_tables(d: str, docs: list[dict], vecs: list[dict]) -> None:
    pq.write_table(
        pa.Table.from_pylist(
            docs,
            schema=pa.schema(
                [
                    pa.field("doc_id", pa.int64()),
                    pa.field("text", pa.string()),
                    pa.field("lang", pa.string()),
                    pa.field("source", pa.string()),
                    pa.field("n_chars", pa.int64()),
                ]
            ),
        ),
        os.path.join(d, "documents.parquet"),
    )
    pq.write_table(
        pa.Table.from_pylist(
            vecs,
            schema=pa.schema(
                [
                    pa.field("vec_id", pa.int64()),
                    pa.field("embedding", pa.list_(pa.float32())),
                    pa.field("label", pa.int32()),
                ]
            ),
        ),
        os.path.join(d, "embeddings.parquet"),
    )


def _canon_value(v) -> str:
    """One cell in the parity tests' canon (tests/test_entry_parity.py)."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return "b:" + str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "null" if math.isnan(f) else f"f:{f!r}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, pd.Timestamp):
        return f"t:{v.isoformat()}"
    if isinstance(v, bytes):
        return f"y:{v.hex()}"
    return f"{type(v).__name__[0]}:{v}"


def canon_hash(pdf) -> str:
    """Order-insensitive value hash of a pandas result (column names
    sorted, rows canonicalized and sorted)."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = sorted(
        "|".join(_canon_value(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def duckdb_con(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _oracle_hashes(sf_dir: str) -> dict[str, str]:
    from doc_ocr_spark.operators import dedup, similarity

    mods = {"dedup": dedup, "similarity": similarity}
    con = duckdb_con(sf_dir)
    try:
        return {
            name: canon_hash(con.sql(mods[mod].ORACLES[name]).df())
            for mod, name in DEDUP_OPS
        }
    finally:
        con.close()


# -- public ----------------------------------------------------------------


class Inputs:
    """Paths and reference data of one generated workload input: ``sets``
    input sets (dedup_ops has one) and a warm-up input."""

    def __init__(self, meta: dict, root: str, sets: int):
        self.meta = meta
        self.root = root
        self.sets = sets
        self._stats: dict[int, dict] = {}
        self._golden: dict[int, list[dict]] = {}

    def _set_dir(self, i: int) -> str:
        return os.path.join(self.root, f"set{i % self.sets}")

    def path(self, i: int) -> str:
        d = self._set_dir(i)
        return os.path.join(d, self.meta["input"]) if self.meta["input"] else d

    def golden(self, i: int) -> list[dict]:
        i %= self.sets
        if i not in self._golden:
            with open(os.path.join(self._set_dir(i), "golden.json"), encoding="utf-8") as f:
                self._golden[i] = json.load(f)
        return self._golden[i]

    def stats(self, i: int) -> dict:
        """Set ``i``'s html bytes, giant pages and sequential ``core``
        seconds (extraction workloads)."""
        i %= self.sets
        if i not in self._stats:
            with open(os.path.join(self._set_dir(i), "stats.json"), encoding="utf-8") as f:
                self._stats[i] = json.load(f)
        return self._stats[i]

    def warmup_path(self) -> str:
        return os.path.join(self.root, "warmup")


def _write_warmup(pages: list[dict], d: str) -> None:
    """The warm-up input: four files, so that the warm-up job runs four
    kernel tasks and every Python worker imports the kernel."""
    os.makedirs(d)
    for i in range(4):
        _write_pages_parquet(pages[i::4], os.path.join(d, f"part-{i}.parquet"))


def _gen_chunk(job: tuple[int, int, int]) -> tuple[list[dict], list[dict], float]:
    """Pages ``start`` .. ``start + n - 1`` with their golden rows and
    sequential ``core`` seconds (one pool task)."""
    seed, start, n = job
    pages = _pages(n, seed, start)
    return (pages, *_golden(pages))


def _write_set(pool, seed: int, size: dict, i: int, d: str) -> None:
    """Extraction input set ``i``: its pages, golden rows and stats."""
    n, start = size["pages"], i * _SET_STRIDE
    jobs = [(seed, start + k, min(_GEN_CHUNK, n - k)) for k in range(0, n, _GEN_CHUNK)]
    pages, golden, core_s = [], [], 0.0
    for p, g, c in pool.map(_gen_chunk, jobs):
        pages += p
        golden += g
        core_s += c
    os.makedirs(d)
    # one uncompressed file: split-starved on purpose (one split against
    # four slots, so respread fires), and above respread's 1 MiB floor
    _write_pages_parquet(pages, os.path.join(d, "pages.parquet"), compression="none")
    with open(os.path.join(d, "golden.json"), "w", encoding="utf-8") as f:
        json.dump(golden, f, ensure_ascii=False)
    stats = {
        "bytes": sum(len(p["html"] or b"") for p in pages),
        "seq_core_s": core_s,
    }
    with open(os.path.join(d, "stats.json"), "w", encoding="utf-8") as f:
        json.dump(stats, f)


def _write_common(workload: str, seed: int, size: dict, d: str) -> dict:
    """What every run of the workload shares: the warm-up input
    (extraction) or the one table set and its oracle hashes (dedup_ops).
    Returns the workload's meta."""
    os.makedirs(d)
    meta: dict = {"workload": workload, "seed": seed, "size": size}
    if workload == "dedup_ops":
        docs, vecs = _dedup_tables(size["docs"], size["vecs"], seed)
        os.makedirs(os.path.join(d, "set0"))
        _write_dedup_tables(os.path.join(d, "set0"), docs, vecs)
        meta.update(
            input="",
            rows=len(docs) + len(vecs),
            bytes=sum(len(t["text"].encode()) for t in docs) + 4 * _DIM * len(vecs),
            oracle=_oracle_hashes(os.path.join(d, "set0")),
        )
    else:
        warm = _pages(WARMUP_PAGES, seed, start=_SET_STRIDE * 1000)
        _write_warmup(warm, os.path.join(d, "warmup"))
        meta.update(input="pages.parquet", rows=size["pages"])
    with open(os.path.join(d, "meta.json"), "w", encoding="utf-8") as f:
        json.dump(meta, f)
    return meta


def _atomic(path: str, write) -> None:
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    write(tmp)
    os.rename(tmp, path)


def _stop_resource_tracker() -> None:
    """The pool started multiprocessing's resource-tracker process; stop
    it and wait for it, so that no process outlives the generation."""
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()


def ensure_inputs(work: str, workload: str, seed: int, size: dict,
                  sets: int = SETS) -> tuple[Inputs, float]:
    """Generate (or reuse) the inputs of ``workload`` for ``seed``, with
    ``sets`` input sets.  Returns the inputs and the generation seconds
    (0 when everything was cached)."""
    key = f"{workload}-s{seed}-" + "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    root = os.path.join(work, "inputs", key)
    t0 = time.perf_counter()
    if not os.path.exists(os.path.join(root, "meta.json")):
        shutil.rmtree(root, ignore_errors=True)
        _atomic(root, lambda d: _write_common(workload, seed, size, d))
    with open(os.path.join(root, "meta.json"), encoding="utf-8") as f:
        meta = json.load(f)
    if workload == "dedup_ops":
        sets = 1
    todo = [i for i in range(sets) if not os.path.exists(os.path.join(root, f"set{i}"))]
    if todo:
        # spawn: the parent's Arrow threads make fork unsafe
        pool = multiprocessing.get_context("spawn").Pool(_GEN_PROCS)
        try:
            for i in todo:
                _atomic(os.path.join(root, f"set{i}"), lambda t, i=i: _write_set(pool, seed, size, i, t))
        finally:
            pool.close()
            pool.join()
            _stop_resource_tracker()
    return Inputs(meta, root, sets), time.perf_counter() - t0
