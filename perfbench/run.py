"""perfbench: the extraction engine's seeded benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  The seed generates the workload's
inputs (cached under ``.perfbench_work/``); the unchanged program then
runs on them at ``local[4]``, and every output is checked against a
sequential golden set (extraction) or a DuckDB oracle (dedup
operators).  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones.  Every metric
and workload is defined in ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = {
    "crawl_mix": {"pages": 4000},
    "dedup_ops": {"docs": 1200, "vecs": 1200},
}

DRIVER_MEM = "1g"  # the data is small; a small heap keeps peak memory low

# Warm-up beyond the first job, part of set-up: after the first job a
# call still gets faster for about four more calls (the JVM compiles the
# per-job planning and commit paths), so timed calls that start cold sit
# on that slope and spread with how far down it a run happens to be.
WARM_ROUNDS = 2  # extraction: job + crash + resume on the warm-up input
WARM_PASSES = 2  # dedup_ops: passes of the four operators
MIN_ROUNDS = 2

UNITS = {
    "docs_per_s": "docs/s",
    "mb_per_s": "MB/s",
    "pass_s": "s",
    "rebuild_s": "s",
    "setup_s": "s",
    "peak_pss_mb": "MB",
}


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _prepare_env(cores: int) -> None:
    """Keep every file the run writes inside the checkout."""
    for d in ("tmp", "stage", "spark-local", "eventlog", "out"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # the short-lived launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_STAGE_DIR"] = os.path.join(WORK, "stage")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)  # the session's master is local[cores]
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def warm_extract(inp, rounds: int = 0):
    """Warm-up: one job over the small warm-up input, whose four files
    give four kernel tasks (every Python worker imports the kernel), so
    that the scan, kernel, exchange, write, commit and lineage paths are
    compiled before the first timed job; then ``rounds`` rounds of job,
    simulated crash and resume on the same input."""
    from doc_ocr_spark.job import run_extraction
    from perfbench.measure import N_BUCKETS, fresh_dir, simulate_crash

    def warm(spark) -> None:
        out = fresh_dir(os.path.join(WORK, "out", "prime"))
        run_extraction(spark, inp.warmup_path(), out, n_buckets=N_BUCKETS)
        for _ in range(rounds):
            run_extraction(spark, inp.warmup_path(), fresh_dir(out), n_buckets=N_BUCKETS)
            simulate_crash(out)
            run_extraction(spark, inp.warmup_path(), out, n_buckets=N_BUCKETS, resume=True)

    return warm


def run_extract(args, inp, sessions, tally) -> tuple[dict, dict]:
    from perfbench.measure import extraction_loop, extraction_rounds

    out = os.path.join(WORK, "out", args.workload)
    if args.reference:
        spark = sessions.start(warm_extract(inp))
        calls = extraction_loop(spark, inp, out, args.seconds, tally)
        walls = [w for _, w in calls]
        return {"docs_per_s": median([m["docs"] / w for m, w in calls])}, {"job_s": walls}
    spark = sessions.start(warm_extract(inp, WARM_ROUNDS))
    rounds = extraction_rounds(spark, inp, out, args.seconds, tally, MIN_ROUNDS)
    metrics = {
        "docs_per_s": median([m["docs"] / w for m, w, _ in rounds]),
        "mb_per_s": median([m["bytes"] / 1e6 / w for m, w, _ in rounds]),
        "pass_s": median([w for _, w, _ in rounds]),
        "rebuild_s": median([r for _, _, r in rounds]),
    }
    return metrics, {"job_s": [w for _, w, _ in rounds], "resume_s": [r for _, _, r in rounds]}


def warm_dedup(inp, passes: int = 1):
    """Warm-up: ``passes`` passes of the four operators over the real
    tables; the first compiles their plans, starts the Python workers and
    fills the staged table the timed passes then read warm."""
    from perfbench.inputs import DEDUP_OPS
    from perfbench.measure import op_fn

    def warm(spark) -> None:
        for _ in range(passes):
            for mod, name in DEDUP_OPS:
                op_fn(mod, name)(spark, inp.path(0)).write.format("noop").mode("overwrite").save()

    return warm


def run_dedup(args, inp, sessions, tally) -> tuple[dict, dict]:
    from perfbench.measure import drop_staged, ops_pass, repeat

    sf_dir, oracle = inp.path(0), inp.meta["oracle"]
    spark = sessions.start(warm_dedup(inp, WARM_PASSES))

    each: dict[str, list[float]] = {}

    def one() -> float:
        times = ops_pass(spark, sf_dir, oracle, tally)
        for name, t in times.items():
            each.setdefault(name, []).append(t)
        return sum(times.values())

    def round_() -> tuple[float, float]:
        # a warm pass, then a whole pass after the staged table is
        # dropped (the staged-cache user alone, ~2 s, spread 0.3 over ten
        # seeds, above its 0.25 bound)
        warm = one()
        drop_staged(os.environ["SPARK_GRAFT_STAGE_DIR"])
        return warm, one()

    rounds = repeat(round_, args.seconds, MIN_ROUNDS)
    passes = [p for p, _ in rounds]
    rows, mb = inp.meta["rows"], inp.meta["bytes"] / 1e6
    metrics = {
        "docs_per_s": median([rows / p for p in passes]),
        "mb_per_s": median([mb / p for p in passes]),
        "pass_s": median(passes),
        "rebuild_s": median([c for _, c in rounds]),
    }
    return metrics, {"ops_s": passes, "cold_s": [c for _, c in rounds], **each}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--cores", type=int, default=4,
        help="run at local[N] (the traced run starts a local[1] copy for scaling_eff)",
    )
    ap.add_argument(
        "--reference", action="store_true",
        help="extraction: time the jobs only, no rebuild (the traced run's local[1] reference)",
    )
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "doc_ocr_spark", "job.py")):
        _log(f"no doc_ocr_spark package under {ROOT}: run from a checkout")
        return 2
    _prepare_env(args.cores)

    from perfbench.inputs import SETS, ensure_inputs
    from perfbench.measure import PssSampler, Sessions, Tally
    from perfbench.trace import TRACE_SETS

    inp, gen_s = ensure_inputs(
        WORK, args.workload, args.seed, WORKLOADS[args.workload],
        sets=TRACE_SETS if args.trace else SETS,
    )
    _log(f"inputs {inp.root} ({gen_s:.2f} s to generate)")
    sessions = Sessions(WORK)
    tally = Tally()
    t0 = time.perf_counter()
    detail: dict = {}
    try:
        if args.trace:
            from perfbench.trace import run_traced

            metrics = run_traced(args, inp, sessions, tally, WORK)
        else:
            runner = run_dedup if args.workload == "dedup_ops" else run_extract
            with PssSampler() as mem:
                metrics, detail = runner(args, inp, sessions, tally)
                sessions.shutdown()
            metrics["setup_s"] = sessions.setup_s
            metrics["peak_pss_mb"] = mem.peak / (1 << 20)
    finally:
        sessions.shutdown()
    detail.update(
        gen_s=gen_s,
        run_s=time.perf_counter() - t0,
        session_start_s=sessions.start_s,
        warmup_s=sessions.warmup_s,
        input_meta={k: v for k, v in inp.meta.items() if k != "oracle"},
        metrics=metrics,
    )
    name = f"last-{args.workload}-t{args.trace}-c{args.cores}.json"
    with open(os.path.join(WORK, name), "w", encoding="utf-8") as f:
        json.dump(detail, f, indent=1)
    if args.trace:
        from perfbench.trace import UNITS as units
    else:
        units = UNITS
    out = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
