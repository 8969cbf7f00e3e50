"""The traced run: per-layer metrics measured from outside the program.

Three sources, all kept apart from the timed (untraced) runs:

- Spark's event log, switched on only in this run's session config and
  parsed after the session stops into per-stage rows (task walls,
  shuffle bytes, spill) and per-SQL-node metrics (MapInArrow data sent
  and returned).
- Prefix pipelines built from the layers' public functions, each ending
  in a sink: scan; +kernel; +exchange; +partitioned write; the full
  ``run_extraction``.  A layer's time is the difference between
  consecutive prefix medians.
- An in-process ``core`` sample: span-recording wrappers installed
  around the names ``core/extractor.py`` imports, and call counters
  around ``line_text`` / ``normalize_text`` where core modules import
  them.  Self time is a span's duration minus its child spans.

The untraced references come first: a ``local[1]`` run of the same
workload in a fresh process (``scaling_eff``), then an untraced
``local[4]`` session in this process (``scaling_eff``,
``trace_overhead``), stopped before the traced session starts.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import sys
import time
from collections import defaultdict

import pyarrow.parquet as pq

# per-layer metric -> unit (the order is the report order)
UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.warc.scan_s": "s",
    "sources.parquet.scan_s": "s",
    "sources.scan_tasks": "count",
    "respread.fired": "count",
    "respread.shuffle_mb": "MB",
    "kernel.stage_s": "s",
    "kernel.arrow_in_mb": "MB",
    "kernel.arrow_out_mb": "MB",
    "kernel.task_count": "count",
    "kernel.task_p50_s": "s",
    "kernel.task_tail_s": "s",
    "kernel.task_tail_pct": "%",
    "kernel.task_skew": "ratio",
    "kernel.overhead_ratio": "ratio",
    "core.htmltok.ms_per_doc": "ms",
    "core.boilerplate.ms_per_doc": "ms",
    "core.extractor.parse_pdftok_ms_per_doc": "ms",
    "core.layout.rotation_ms_per_doc": "ms",
    "core.layout.cluster_lines_ms_per_doc": "ms",
    "core.layout.reading_order_ms_per_doc": "ms",
    "core.templates.match_ms_per_doc": "ms",
    "core.templates.scalar_fields_ms_per_doc": "ms",
    "core.templates.table_ms_per_doc": "ms",
    "core.validate.ms_per_doc": "ms",
    "core.extractor.self_ms_per_doc": "ms",
    "core.layout.line_text_calls_per_doc": "count",
    "core.tokens.normalize_text_calls_per_doc": "count",
    "core.tokens.normalize_cache_hit_ratio": "ratio",
    "core.sample.accounted_ratio": "ratio",
    "job.exchange.shuffle_write_mb": "MB",
    "job.exchange.shuffle_read_mb": "MB",
    "job.exchange.bucket_skew": "ratio",
    "job.write_s": "s",
    "job.write_files": "count",
    "job.write_mb": "MB",
    "job.commit_s": "s",
    "job.resume.scan_per_written": "ratio",
    "job.spill_mb": "MB",
    "operators.dedup.ngram_jaccard_pairs_s": "s",
    "operators.dedup.minhash_lsh_pairs_s": "s",
    "operators.similarity.embedding_cosine_dedup_s": "s",
    "operators.similarity.ann_nn_within_bucket_s": "s",
    "operators.dedup.ngram_jaccard_pairs.rows_per_pair": "ratio",
    "operators.dedup.minhash_lsh_pairs.verified_per_candidate": "ratio",
    "operators.similarity.ann_nn_within_bucket.max_bucket_rows": "count",
    "operators.shuffle_mb": "MB",
    "operators.spill_mb": "MB",
    "operators.dedup.ngram_jaccard_pairs.shuffle_mb": "MB",
    "operators.dedup.minhash_lsh_pairs.shuffle_mb": "MB",
    "operators.similarity.embedding_cosine_dedup.shuffle_mb": "MB",
    "operators.similarity.ann_nn_within_bucket.shuffle_mb": "MB",
    "operators.dedup.ngram_jaccard_pairs.spill_mb": "MB",
    "operators.dedup.minhash_lsh_pairs.spill_mb": "MB",
    "operators.similarity.embedding_cosine_dedup.spill_mb": "MB",
    "operators.similarity.ann_nn_within_bucket.spill_mb": "MB",
    "staging.build_s": "s",
    "staging.hits": "count",
    "scaling_eff": "ratio",
    "trace_overhead": "ratio",
}

_MB = 1e6
_REPS = 2  # repetitions of every traced pipeline
# input sets of a traced run: every kernel-bearing prefix of every
# repetition reads a fresh one (scan shares the kernel prefix's set)
_KERNEL_PREFIXES = ("kernel", "exchange", "write", "full")
TRACE_SETS = len(_KERNEL_PREFIXES) * _REPS
_REF_SHARE = 0.5  # --seconds share of the local[1] reference run


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# -- event log --------------------------------------------------------------


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    """Per-stage, per-task and per-SQL-node rows of one event log,
    grouped by the job description each traced pipeline sets."""

    def __init__(self, path: str):
        self.jobs_by_label: dict[str, list[dict]] = defaultdict(list)
        self.stage_tasks: dict[int, list[dict]] = defaultdict(list)
        self.acc_node: dict[int, tuple[str, str]] = {}  # acc id -> (node, metric)
        self.exec_plans: dict[int, list[str]] = defaultdict(list)
        self.acc_sum: dict[int, float] = defaultdict(float)
        self.stage_accs: dict[int, set[int]] = defaultdict(set)
        with open(path, encoding="utf-8") as f:
            for line in f:
                self._event(json.loads(line))

    def _plan(self, exec_id: int, info: dict) -> None:
        self.exec_plans[exec_id].append(info.get("simpleString", ""))
        for m in info.get("metrics", []):
            self.acc_node[int(m["accumulatorId"])] = (info["nodeName"], m["name"])
        for c in info.get("children", []):
            self._plan(exec_id, c)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            label = props.get("spark.job.description")
            if label:
                self.jobs_by_label[label].append(
                    {
                        "stages": e.get("Stage IDs", []),
                        "exec": int(props.get("spark.sql.execution.id", -1)),
                    }
                )
        elif kind == "SparkListenerTaskEnd":
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                return
            tm = e.get("Task Metrics") or {}
            ti = e["Task Info"]
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            stage = e["Stage ID"]
            self.stage_tasks[stage].append(
                {
                    "wall_s": (ti["Finish Time"] - ti["Launch Time"]) / 1000.0,
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                }
            )
            for acc in ti.get("Accumulables", []):
                self.acc_sum[int(acc["ID"])] += _num(acc.get("Update"))
                self.stage_accs[stage].add(int(acc["ID"]))
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            self._plan(int(e["executionId"]), e["sparkPlanInfo"])

    # queries over one label (one traced pipeline, all its repetitions)

    def stages(self, label: str) -> list[int]:
        return sorted({s for j in self.jobs_by_label.get(label, []) for s in j["stages"]})

    def tasks(self, label: str) -> list[dict]:
        return [t for s in self.stages(label) for t in self.stage_tasks.get(s, [])]

    def total(self, label: str, key: str) -> float:
        return sum(t[key] for t in self.tasks(label))

    def stages_with_node(self, label: str, node: str) -> list[int]:
        ids = {i for i, (n, _) in self.acc_node.items() if node in n}
        return [s for s in self.stages(label) if self.stage_accs.get(s, set()) & ids]

    def node_metric(self, node: str, metric: str, stages: list[int]) -> float:
        ids = {i for i, (n, m) in self.acc_node.items() if node in n and m == metric}
        used: set[int] = set()
        for s in stages:
            used |= self.stage_accs.get(s, set())
        return sum(self.acc_sum[i] for i in ids & used)

    def max_final_tasks(self, label: str) -> float:
        """Tasks of the widest final stage among the label's jobs: the
        partitions a pipeline's last stage ran with."""
        return float(max(
            (len(self.stage_tasks.get(max(j["stages"]), []))
             for j in self.jobs_by_label.get(label, []) if j["stages"]),
            default=0,
        ))

    def plan_has(self, label: str, text: str) -> bool:
        execs = {j["exec"] for j in self.jobs_by_label.get(label, [])}
        return any(text in s for x in execs for s in self.exec_plans.get(x, []))


def _read_event_log(log_dir: str) -> EventLog:
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")
    return EventLog(max(files, key=os.path.getmtime))


def _event_conf(work: str) -> tuple[dict, str]:
    log_dir = os.path.join(work, "eventlog", f"run-{os.getpid()}")
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }, log_dir


# -- core spans -------------------------------------------------------------

# name imported by core/extractor.py -> per-layer metric it feeds
_CORE_SPANS = {
    "decode_html": "core.htmltok.ms_per_doc",
    "tokenize_html": "core.htmltok.ms_per_doc",
    "extract_main_content": "core.boilerplate.ms_per_doc",
    "_parse_pdftok": "core.extractor.parse_pdftok_ms_per_doc",
    "detect_rotation": "core.layout.rotation_ms_per_doc",
    "unrotate_tokens": "core.layout.rotation_ms_per_doc",
    "cluster_lines": "core.layout.cluster_lines_ms_per_doc",
    "reading_order_lines": "core.layout.reading_order_ms_per_doc",
    "match_template": "core.templates.match_ms_per_doc",
    "extract_scalar_field": "core.templates.scalar_fields_ms_per_doc",
    "extract_table": "core.templates.table_ms_per_doc",
    "validate_payload": "core.validate.ms_per_doc",
}


class Spans:
    """In-memory spans (name, start, end, parent index) and call counts."""

    def __init__(self):
        self.records: list[list] = []
        self._stack: list[int] = []
        self.calls: dict[str, int] = defaultdict(int)

    def wrap(self, name: str, fn):
        def traced(*a, **k):
            idx = len(self.records)
            parent = self._stack[-1] if self._stack else -1
            self.records.append([name, time.perf_counter(), 0.0, parent])
            self._stack.append(idx)
            try:
                return fn(*a, **k)
            finally:
                self._stack.pop()
                self.records[idx][2] = time.perf_counter()

        return traced

    def count(self, name: str, fn):
        def counted(*a, **k):
            self.calls[name] += 1
            return fn(*a, **k)

        return counted

    def self_times(self) -> dict[str, float]:
        child = [0.0] * len(self.records)
        for _, t0, t1, parent in self.records:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for (name, t0, t1, _), c in zip(self.records, child):
            out[name] += t1 - t0 - c
        return out


def _sample_pages(inp, n: int) -> list[tuple[str, bytes]]:
    t = pq.read_table(inp.path(0), columns=["url", "html"]).slice(0, n)
    return list(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))


def core_sample(inp, n: int = 400) -> dict[str, float]:
    """Run ``extract_document`` over a fixed slice of the workload's docs
    with the wrappers installed; returns the ``core.*`` metrics."""
    from doc_ocr_spark.core import extractor, templates, tokens

    pages = _sample_pages(inp, n)
    spans = Spans()
    saved = []
    try:
        for name in _CORE_SPANS:
            saved.append((extractor, name, getattr(extractor, name)))
            setattr(extractor, name, spans.wrap(name, getattr(extractor, name)))
        for mod in (extractor, templates):
            for name in ("line_text", "normalize_text"):
                if hasattr(mod, name):
                    saved.append((mod, name, getattr(mod, name)))
                    setattr(mod, name, spans.count(name, getattr(mod, name)))
        tokens._normalize_cached.cache_clear()
        root = spans.wrap("extract_document", extractor.extract_document)
        t0 = time.perf_counter()
        for url, html in pages:
            root(url, html)
        wall = time.perf_counter() - t0
        info = tokens._normalize_cached.cache_info()
    finally:
        for mod, name, fn in reversed(saved):
            setattr(mod, name, fn)
    self_s = spans.self_times()
    docs = max(1, len(pages))
    out = dict.fromkeys(_CORE_SPANS.values(), 0.0)
    for name, metric in _CORE_SPANS.items():
        out[metric] += 1000.0 * self_s.get(name, 0.0) / docs
    out["core.extractor.self_ms_per_doc"] = 1000.0 * self_s.get("extract_document", 0.0) / docs
    out["core.layout.line_text_calls_per_doc"] = spans.calls["line_text"] / docs
    out["core.tokens.normalize_text_calls_per_doc"] = spans.calls["normalize_text"] / docs
    lookups = info.hits + info.misses
    out["core.tokens.normalize_cache_hit_ratio"] = info.hits / lookups if lookups else 0.0
    out["core.sample.accounted_ratio"] = sum(self_s.values()) / wall if wall else 0.0
    return out


# -- traced extraction ------------------------------------------------------


def _tail(xs: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    that percentile.  Below 100 samples that percentile would sit under
    p90 and hide the straggler, so the max (100) is reported instead."""
    xs = sorted(xs)
    if len(xs) < 100:
        return (xs[-1] if xs else 0.0), 100.0
    k = len(xs) - 11  # index with ten samples above it
    return xs[k], 100.0 * (k + 1) / len(xs)


def _untraced(args, cores: int, tally) -> dict[str, float]:
    """The untraced run of this workload in a fresh process at
    ``local[cores]``, timed passes only: its end-to-end metrics.  Its
    output checks count in this run's tally."""
    cmd = [
        sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds * _REF_SHARE), "--trace", "0", "--cores", str(cores),
        "--reference",
    ]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True)
    out = json.loads(res.stdout.strip().splitlines()[-1])
    tally.add(out["attempted"], out["failed"])
    return {k: v["value"] for k, v in out["metrics"].items()}


def _prefix_walls(spark, inp, work: str, tally) -> tuple[dict, dict, list[int], int]:
    """Run every prefix pipeline ``_REPS`` times under its own job
    description; returns the wall seconds and the process tree's CPU
    seconds per prefix, the docs each full job wrote (its output checked
    against golden) and the input set of the last full job."""
    from doc_ocr_spark.job import with_bucket
    from doc_ocr_spark.kernel import apply_kernel
    from perfbench.measure import N_BUCKETS, checked_job, fresh_dir, tree_cpu_s

    def scan(i):
        return spark.read.parquet(inp.path(i)).select("url", "html")

    def kernel(i):
        return apply_kernel(with_bucket(scan(i), N_BUCKETS))

    def exchange(i):
        return with_bucket(kernel(i), N_BUCKETS).repartition(N_BUCKETS, "part_bucket")

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def write(i) -> None:
        (
            exchange(i).write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("part_bucket")
            .parquet(fresh_dir(os.path.join(work, "out", "trace-write")))
        )

    docs: list[int] = []

    def full(i) -> None:
        out = fresh_dir(os.path.join(work, "out", "trace-full"))
        docs.append(checked_job(spark, inp, i, out, tally)[0]["docs"])

    steps = {
        "scan": lambda i: noop(scan(i)),
        "kernel": lambda i: noop(kernel(i)),
        "exchange": lambda i: noop(exchange(i)),
        "write": write,
        "full": full,
    }
    walls: dict[str, list[float]] = defaultdict(list)
    cpus: dict[str, list[float]] = defaultdict(list)
    sc = spark.sparkContext
    for r in range(_REPS):
        for label, step in steps.items():
            k = _KERNEL_PREFIXES.index("kernel" if label == "scan" else label)
            i = r * len(_KERNEL_PREFIXES) + k
            sc.setJobDescription(label)
            c0, t0 = tree_cpu_s(), time.perf_counter()
            step(i)
            walls[label].append(time.perf_counter() - t0)
            cpus[label].append(tree_cpu_s() - c0)
    sc.setJobDescription(None)
    return walls, cpus, docs, i


def _warc_scan_s(spark, inp) -> float:
    """Median wall of the WARC scan prefix (``read_warc`` -> noop) over
    set 0's pages written as four WARC.gz archives.  The workload's job
    reads parquet, so ``sources.warc`` is probed on its own, on the same
    pages."""
    from doc_ocr_spark.sources.warc import read_warc, write_warc_files

    d = os.path.join(inp.root, "set0-warc")
    if not os.path.isdir(d):
        pages = pq.read_table(inp.path(0), columns=["url", "warc_ts", "html"]).to_pylist()
        write_warc_files(pages, d + ".tmp", n_files=4)
        os.rename(d + ".tmp", d)
    spark.sparkContext.setJobDescription("warc_scan")
    walls = []
    for _ in range(_REPS):
        t0 = time.perf_counter()
        read_warc(spark, d).select("url", "html").write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    spark.sparkContext.setJobDescription(None)
    return _median(walls)


def _run_traced_extract(args, inp, sessions, tally, work: str) -> dict:
    from perfbench.measure import data_files, extraction_loop, rebuild
    from perfbench.run import warm_extract

    m = dict.fromkeys(UNITS, 0.0)
    out_root = os.path.join(work, "out", args.workload)

    def untraced_rate() -> float:
        spark = sessions.start(warm_extract(inp))
        ref = extraction_loop(spark, inp, out_root, 0.0, tally)
        sessions.stop()
        return _median([r["docs"] / w for r, w in ref])

    # untraced references: local[1] in a fresh process; local[4] in this
    # one, once before and once after the traced session, so that the
    # shared JVM's warming favours neither side of trace_overhead
    rate1 = _untraced(args, 1, tally)["docs_per_s"]
    rate4 = [untraced_rate()]
    m["session.start_s"], m["session.warmup_s"] = sessions.start_s, sessions.warmup_s
    conf, log_dir = _event_conf(work)
    spark = sessions.start(warm_extract(inp), extra_conf=conf)
    walls, cpus, full_docs, last = _prefix_walls(spark, inp, work, tally)
    m["sources.warc.scan_s"] = _warc_scan_s(spark, inp)
    full_out = os.path.join(work, "out", "trace-full")
    written = data_files(os.path.join(work, "out", "trace-write"))
    spark.sparkContext.setJobDescription("resume")
    resumed = rebuild(spark, inp, last, full_out, tally)[0]
    spark.sparkContext.setJobDescription(None)
    sessions.stop()
    rate4 = statistics.mean(rate4 + [untraced_rate()])
    log = _read_event_log(log_dir)

    med = {k: _median(v) for k, v in walls.items()}
    m["sources.parquet.scan_s"] = med["scan"]
    m["sources.scan_tasks"] = log.max_final_tasks("scan")
    m["respread.fired"] = 1.0 if log.plan_has("kernel", "RoundRobinPartitioning") else 0.0
    m["respread.shuffle_mb"] = max(
        0.0, log.total("kernel", "shuffle_write") - log.total("scan", "shuffle_write")
    ) / _MB / _REPS
    m["kernel.stage_s"] = med["kernel"] - med["scan"]
    k_stages = log.stages_with_node("kernel", "MapInArrow")
    m["kernel.arrow_in_mb"] = log.node_metric(
        "MapInArrow", "data sent to Python workers", k_stages) / _MB / _REPS
    m["kernel.arrow_out_mb"] = log.node_metric(
        "MapInArrow", "data returned from Python workers", k_stages) / _MB / _REPS
    k_tasks = [t for s in k_stages for t in log.stage_tasks.get(s, [])]
    durs = [t["wall_s"] for t in k_tasks]
    m["kernel.task_count"] = len(durs)
    m["kernel.task_p50_s"] = _median(durs)
    m["kernel.task_tail_s"], m["kernel.task_tail_pct"] = _tail(durs)
    if durs and _median(durs):
        m["kernel.task_skew"] = max(durs) / _median(durs)
    kernel_sets = [r * len(_KERNEL_PREFIXES) for r in range(_REPS)]
    m["kernel.overhead_ratio"] = _median([
        (k - s) / inp.stats(i)["seq_core_s"]
        for k, s, i in zip(cpus["kernel"], cpus["scan"], kernel_sets)
    ])
    ex_write = log.total("exchange", "shuffle_write") - log.total("kernel", "shuffle_write")
    ex_read = log.total("exchange", "shuffle_read") - log.total("kernel", "shuffle_read")
    m["job.exchange.shuffle_write_mb"] = max(0.0, ex_write) / _MB / _REPS
    m["job.exchange.shuffle_read_mb"] = max(0.0, ex_read) / _MB / _REPS
    reads = [t["shuffle_read"] for t in log.stage_tasks.get(log.stages("exchange")[-1], [])]
    if reads and _median(reads):
        m["job.exchange.bucket_skew"] = max(reads) / _median(reads)
    m["job.write_s"] = med["write"] - med["exchange"]
    m["job.write_files"] = len(written)
    m["job.write_mb"] = sum(os.path.getsize(f) for f in written) / _MB
    m["job.commit_s"] = med["full"] - med["write"]
    m["job.resume.scan_per_written"] = (
        inp.meta["rows"] / resumed["docs"] if resumed["docs"] else 0.0
    )
    m["job.spill_mb"] = sum(
        log.total(label, "spill") for label in ("scan", "kernel", "exchange", "write", "full")
    ) / _MB / _REPS
    m.update(core_sample(inp))
    traced_rate = _median([d / w for d, w in zip(full_docs, walls["full"])])
    m["scaling_eff"] = rate4 / rate1 / 4
    m["trace_overhead"] = rate4 / traced_rate
    return m


# -- traced dedup operators -------------------------------------------------


def _tail_sql(sql: str, marker: str, tail: str) -> str:
    """``sql`` with everything from its last ``marker`` on replaced by
    ``tail``: reuses an oracle's CTEs for a counting query."""
    return sql[: sql.rindex(marker)] + "\n" + tail


def dedup_counts(sf_dir: str) -> dict[str, float]:
    """Pair-aggregation waste, LSH verify yield and the largest NN index
    bucket, counted in DuckDB with the oracles' own CTEs."""
    from doc_ocr_spark.operators import dedup, similarity
    from perfbench.inputs import duckdb_con

    con = duckdb_con(sf_dir)
    try:
        rows_in, pairs = con.sql(
            _tail_sql(dedup.JACCARD_SQL, "SELECT doc_a, doc_b,",
                      "SELECT sum(inter), count(*) FROM inter")
        ).fetchone()
        verified, cands = con.sql(
            _tail_sql(
                dedup.MINHASH_SQL, "SELECT doc_a, doc_b,",
                "SELECT (SELECT count(*) FROM verified WHERE round(CAST(inter AS DOUBLE) / un, 6)"
                f" >= {dedup.JACCARD_THRESHOLD}), (SELECT count(*) FROM cand)",
            )
        ).fetchone()
        (max_rows,) = con.sql(
            _tail_sql(
                similarity.NN_BUCKET_SQL, "SELECT qid AS vec_id,",
                "SELECT max(n) FROM (SELECT bucket, count(*) AS n FROM withc GROUP BY bucket)",
            )
        ).fetchone()
    finally:
        con.close()
    return {
        "operators.dedup.ngram_jaccard_pairs.rows_per_pair": rows_in / pairs if pairs else 0.0,
        "operators.dedup.minhash_lsh_pairs.verified_per_candidate": verified / cands if cands else 0.0,
        "operators.similarity.ann_nn_within_bucket.max_bucket_rows": float(max_rows or 0),
    }


class StagingProbe:
    """Counts staged-cache hits and build seconds by wrapping
    ``staging.ensure_staged`` (operators call it through the module, so
    the wrapper sees every call)."""

    def __init__(self):
        from doc_ocr_spark import staging

        self._staging = staging
        self._orig = staging.ensure_staged
        self.hits = 0
        self.build_s = 0.0

    def __enter__(self) -> "StagingProbe":
        def ensure_staged(group, key, build, suffix=".parquet"):
            if os.path.exists(self._staging.staged_path(group, key, suffix)):
                self.hits += 1
                return self._orig(group, key, build, suffix)
            t0 = time.perf_counter()
            try:
                return self._orig(group, key, build, suffix)
            finally:
                self.build_s += time.perf_counter() - t0

        self._staging.ensure_staged = ensure_staged
        return self

    def __exit__(self, *exc) -> None:
        self._staging.ensure_staged = self._orig


def _run_traced_dedup(args, inp, sessions, tally, work: str) -> dict:
    from perfbench.inputs import DEDUP_OPS
    from perfbench.measure import ops_pass
    from perfbench.run import warm_dedup

    sf_dir, oracle = inp.path(0), inp.meta["oracle"]
    m = dict.fromkeys(UNITS, 0.0)
    def untraced_s() -> float:
        spark = sessions.start(warm_dedup(inp))
        out = _median([sum(ops_pass(spark, sf_dir, oracle, tally).values()) for _ in range(_REPS)])
        sessions.stop()
        return out

    # untraced reference for trace_overhead, before and after the traced
    # session (see _run_traced_extract)
    plain_s = [untraced_s()]
    m["session.start_s"], m["session.warmup_s"] = sessions.start_s, sessions.warmup_s
    conf, log_dir = _event_conf(work)
    with StagingProbe() as probe:
        spark = sessions.start(warm_dedup(inp), extra_conf=conf)
        passes = [ops_pass(spark, sf_dir, oracle, tally, label=True) for _ in range(_REPS)]
        sessions.stop()
    plain_s = statistics.mean(plain_s + [untraced_s()])
    log = _read_event_log(log_dir)
    for mod, name in DEDUP_OPS:
        key = f"operators.{mod}.{name}"
        m[f"{key}_s"] = _median([p[name] for p in passes])
        m[f"{key}.shuffle_mb"] = log.total(name, "shuffle_write") / _MB / _REPS
        m[f"{key}.spill_mb"] = log.total(name, "spill") / _MB / _REPS
        m["operators.shuffle_mb"] += m[f"{key}.shuffle_mb"]
        m["operators.spill_mb"] += m[f"{key}.spill_mb"]
    every = sorted(log.stage_tasks)
    m["kernel.arrow_in_mb"] = log.node_metric(
        "MapInArrow", "data sent to Python workers", every) / _MB
    m["kernel.arrow_out_mb"] = log.node_metric(
        "MapInArrow", "data returned from Python workers", every) / _MB
    m.update(dedup_counts(sf_dir))
    m["staging.build_s"] = probe.build_s
    m["staging.hits"] = probe.hits
    m["trace_overhead"] = _median([sum(p.values()) for p in passes]) / plain_s
    return m


def run_traced(args, inp, sessions, tally, work: str) -> dict:
    """Per-layer metrics of one workload (every name in ``UNITS``; a
    layer the workload leaves idle reads 0)."""
    if args.workload == "dedup_ops":
        return _run_traced_dedup(args, inp, sessions, tally, work)
    return _run_traced_extract(args, inp, sessions, tally, work)
