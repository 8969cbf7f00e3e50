"""Sessions, the peak-memory sampler, timed passes and output checks."""

from __future__ import annotations

import itertools
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_BUCKETS = 16
_OUT_COLS = [
    "url",
    "extracted_text",
    "spans",
    "template_name",
    "complete",
    "errors",
    "fields_json",
]


# -- process tree -----------------------------------------------------------


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields restart after ')'
        out[int(name)] = int(stat[stat.rindex(b")") + 2 :].split()[1])
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page split
    among the processes that map it.  Python workers are forked from one
    daemon and share most of their pages, so summed RSS would count those
    pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _alive(pid: int) -> bool:
    """Whether ``pid`` still runs; reaps it first when it is this
    process's child, and counts a zombie as ended."""
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2 :].split()[0] != b"Z"


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime: a reaped child's CPU moves into
    its parent's c-fields, so a sum over a live tree loses none of it."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return 0
    fields = stat[stat.rindex(b")") + 2 :].split()
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (JVM,
    Python worker daemons and workers)."""
    me = os.getpid()
    return (_cpu_ticks(me) + sum(_cpu_ticks(p) for p in descendants(me))) / _TICK


class PssSampler:
    """One thread that sums PSS over this process and all of its
    descendants (driver, JVM, Python workers) every ``period_s``."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = _pss_bytes(me) + sum(_pss_bytes(p) for p in descendants(me))
            self.peak = max(self.peak, total)
            self._stop.wait(self.period_s)

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# -- sessions ---------------------------------------------------------------


class Sessions:
    """The process's SparkSession, one at a time.  ``start`` times one
    set-up sample: session start plus warm-up.  The first start in a
    process includes the JVM launch; an untraced run makes only that one."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None
        self.start_s = 0.0
        self.warmup_s = 0.0

    def start(self, warm, extra_conf: dict | None = None):
        """Start the session and run ``warm(spark)``; timed apart.  Staged
        tables are dropped first, so every set-up fills them cold."""
        from doc_ocr_spark.session import get_spark

        drop_staged(os.environ["SPARK_GRAFT_STAGE_DIR"])
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
                # the whole heap resident from the start: peak memory
                # then shows what the run needs beyond the fixed heap,
                # not how far the collector let the heap grow
                f" -Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch"
            ),
            "spark.eventLog.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        }
        conf.update(extra_conf or {})
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        warm(self.spark)
        self.start_s = t1 - t0
        self.warmup_s = time.perf_counter() - t1
        return self.spark

    @property
    def setup_s(self) -> float:
        return self.start_s + self.warmup_s

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, then wait until every process
        this one started (JVM, Python worker daemons) has ended."""
        from pyspark import SparkContext

        pids = descendants(os.getpid())
        self.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 20
        while pids and time.monotonic() < deadline:
            pids = [p for p in pids if _alive(p)]
            time.sleep(0.1)
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        for p in pids:
            while _alive(p):
                time.sleep(0.05)


# -- extraction -------------------------------------------------------------


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def run_job(spark, inp, i: int, out: str, resume: bool = False) -> tuple[dict, float]:
    """One ``job.run_extraction`` call on input set ``i``; returns its
    metrics and wall seconds."""
    from doc_ocr_spark.job import run_extraction

    t0 = time.perf_counter()
    m = run_extraction(
        spark,
        inp.path(i),
        out,
        n_buckets=N_BUCKETS,
        resume=resume,
    )
    return m, time.perf_counter() - t0


def checked_job(spark, inp, i: int, out: str, tally, resume: bool = False) -> tuple[dict, float]:
    """``run_job`` with its output checked against set ``i``'s golden
    rows; a job that raises fails all of its docs."""
    golden = inp.golden(i)
    try:
        m, wall = run_job(spark, inp, i, out, resume)
    except Exception:
        tally.add(len(golden), len(golden))
        raise
    tally.add(len(golden), check_output(out, golden))
    return m, wall


def data_files(out: str) -> list[str]:
    found = []
    for d, _, files in os.walk(out):
        if "_lineage" in d.split(os.sep):
            continue
        found += [os.path.join(d, f) for f in files if f.endswith(".parquet")]
    return sorted(found)


def check_output(out: str, golden: list[dict]) -> int:
    """Documents that are wrong: not byte-identical to golden, missing,
    extra or duplicated.  ``compare_to_golden`` keys both sides by url,
    so duplicates are counted here explicitly."""
    from doc_ocr_spark.golden import compare_to_golden

    rows: list[dict] = []
    for f in data_files(out):
        rows += pq.read_table(f, columns=_OUT_COLS).to_pylist()
    counts = Counter(r["url"] for r in rows)
    dup = {u for u, c in counts.items() if c > 1}
    return len(set(compare_to_golden(rows, golden)) | dup)


def simulate_crash(out: str) -> int:
    """Rewrite ``<out>/_lineage`` to hold every other committed bucket,
    keeping every data file: the "died between data commit and lineage
    append" window.  The same half every time, so that repeated passes
    redo the same work.  Returns the number of buckets left uncommitted."""
    lin = os.path.join(out, "_lineage")
    table = pq.read_table(lin)
    buckets = sorted(set(table.column("part_bucket").to_pylist()))
    keep = buckets[::2]
    kept = table.filter(
        pc.is_in(table.column("part_bucket"), value_set=pa.array(keep, table.schema.field("part_bucket").type))
    )
    shutil.rmtree(lin)
    os.makedirs(lin)
    pq.write_table(kept, os.path.join(lin, "part-00000-crash.parquet"))
    return len(buckets) - len(keep)


class Tally:
    """Attempted/failed operation counts behind ``wrong_output_ratio``."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def add(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed


def repeat(call, budget_s: float, min_calls: int, max_calls: int | None = None) -> list:
    """``call()`` at least ``min_calls`` times, then again while the
    median call still fits in what is left of ``budget_s`` (and fewer
    than ``max_calls`` were made)."""
    out, took = [], []
    t_end = time.perf_counter() + budget_s
    while len(out) < min_calls or (
        (max_calls is None or len(out) < max_calls)
        and time.perf_counter() + statistics.median(took) <= t_end
    ):
        t0 = time.perf_counter()
        out.append(call())
        took.append(time.perf_counter() - t0)
    return out


def extraction_loop(spark, inp, out: str, budget_s: float, tally: Tally,
                    min_calls: int = 2) -> list[tuple[dict, float]]:
    """Per call, one job on the next input set into the fresh output
    ``out``, checked against golden; repeated within ``budget_s`` (see
    ``repeat``).  Returns (job metrics, wall) per call."""
    sets = itertools.count()

    def one() -> tuple[dict, float]:
        return checked_job(spark, inp, next(sets), fresh_dir(out), tally)

    return repeat(one, budget_s, min_calls)


def rebuild(spark, inp, i: int, out: str, tally: Tally) -> tuple[dict, float]:
    """The simulated crash on ``out`` (set ``i``'s committed output), then
    the ``resume=True`` pass, which must leave golden with exactly one
    row per url."""
    simulate_crash(out)
    return checked_job(spark, inp, i, out, tally, resume=True)


def extraction_rounds(spark, inp, out: str, budget_s: float, tally: Tally,
                      min_rounds: int) -> list[tuple[dict, float, float]]:
    """Per round, one job on the next input set into the fresh output
    ``out``, then the simulated crash and the resume pass on that output;
    both checked against golden.  Repeated within ``budget_s`` (see
    ``repeat``) and at most once per input set.  Returns (job metrics,
    job wall, resume wall) per round."""
    sets = iter(range(inp.sets))

    def one() -> tuple[dict, float, float]:
        i = next(sets)
        m, wall = checked_job(spark, inp, i, fresh_dir(out), tally)
        return m, wall, rebuild(spark, inp, i, out, tally)[1]

    return repeat(one, budget_s, min_rounds, inp.sets)


# -- dedup operators --------------------------------------------------------


def op_fn(mod: str, name: str):
    from doc_ocr_spark.operators import dedup, similarity

    return {"dedup": dedup, "similarity": similarity}[mod].QUERIES[name]


def ops_pass(spark, sf_dir: str, oracle: dict, tally: Tally,
             label: bool = False) -> dict[str, float]:
    """Each dedup operator once, its result
    collected and value-hashed against the DuckDB oracle; seconds per
    operator.  With ``label`` each operator's Spark jobs carry its name
    as job description."""
    from perfbench.inputs import DEDUP_OPS, canon_hash

    times = {}
    for mod, name in DEDUP_OPS:
        if label:
            spark.sparkContext.setJobDescription(name)
        t0 = time.perf_counter()
        try:
            pdf = op_fn(mod, name)(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"perfbench: {name} failed: {e!r}", file=sys.stderr)
            tally.add(1, 1)
            raise
        times[name] = time.perf_counter() - t0
        tally.add(1, 0 if canon_hash(pdf) == oracle[name] else 1)
    if label:
        spark.sparkContext.setJobDescription(None)
    return times


def drop_staged(stage_dir: str) -> None:
    """Delete every staged table (the warehouse dir stays)."""
    if not os.path.isdir(stage_dir):
        return
    for e in os.scandir(stage_dir):
        if e.is_dir() and e.name != "warehouse":
            shutil.rmtree(e.path, ignore_errors=True)

