"""The extraction benchmark: one command per workload run.

    python3 perfbench/run.py --workload refweight_extract --seed 1 \
        --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, sets the system up several
times (fresh driver JVM, input generation, one warm-up job) and reports the
median, runs the workload's job back to back on ``local[<cores>]`` for
``--seconds``, checks the output of the runs, and prints every metric.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is a separate
traced run that reports the per-layer metrics (see ``layers.py``).  The last
line of stdout is one JSON object: correct, attempted, failed, metrics.

Runs from any working directory; everything it writes lives under
``.perfbench_work/`` and ``.perfbench_out/`` at the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# set-ups per run, reported as their median (see ``harness.set_up``)
SETUP_REPS = 3
# untimed jobs before timing: the JIT keeps speeding the rdf_emit job up
# over its first runs in a fresh JVM
WARMUP_JOBS = 2
# timed jobs per run at least, whatever ``--seconds`` says
MIN_RUNS = 3


def _prepare_environment(work: str) -> None:
    """Import path and working directory for this process and every process it
    starts: the driver JVM inherits the environment (and the CPU affinity
    mask whose size sets ``local[N]``), the Python workers inherit both
    from the JVM."""
    sys.path[:0] = [HERE, ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the short-lived launcher JVM of spark-submit
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def run_untraced(wl_cls, work: str, seed: int, seconds: float) -> dict:
    from harness import RssSampler, median, set_up, stop_session, timed_loop

    wl = wl_cls(work, seed)
    spark, setups = set_up(wl, work, SETUP_REPS, WARMUP_JOBS)
    peaks = []
    try:
        with RssSampler() as rss:
            rss.take()

            def job(i):
                wl.job(spark, i)
                peaks.append(rss.take())

            walls = timed_loop(job, seconds, MIN_RUNS)
        attempted, failed = wl.check(spark)
    finally:
        stop_session(spark)
    job_s = median(walls)
    return {
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "setup_s": (median([total for _, total in setups]), "s"),
            "job_s": (job_s, "s"),
            "docs_per_s": (wl.n_docs / job_s, "1/s"),
            "peak_rss_mb": (median(peaks) / 2**20, "MB"),
        },
        "extra": {"failed_share": failed / attempted, "runs": len(walls)},
        "walls": walls,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # on SIGTERM unwind through the ``finally`` blocks that stop Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        _prepare_environment(work)
        # raises ImportError, before any output, without the program beside us
        from workloads import GOLDEN_PATH, WORKLOADS

        if args.workload not in WORKLOADS:
            ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        if not os.path.exists(GOLDEN_PATH):
            raise SystemExit(f"missing {GOLDEN_PATH}")
        wl_cls = WORKLOADS[args.workload]
        if args.trace:
            from layers import run_traced

            res = run_traced(
                wl_cls, work, args.seed, args.seconds,
                os.path.join(ROOT, ".perfbench_out",
                             f"trace-{args.workload}-{args.seed}.json"),
            )
        else:
            res = run_untraced(wl_cls, work, args.seed, args.seconds)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, (value, unit) in res["metrics"].items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    for name, value in res["extra"].items():
        print(f"{args.workload} {name} = {value:.6g}")
    if "walls" in res:
        print(f"{args.workload} job walls (s): " + " ".join(f"{w:.3f}" for w in res["walls"]))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {
            n: {"value": v, "unit": u} for n, (v, u) in res["metrics"].items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
