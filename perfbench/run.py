"""Benchmark entry point.

    python3 perfbench/run.py --workload search_mix --seed 1 --seconds 15 --trace 0

Runs one workload in this process against the package in the checkout this
file lives in (any cwd works), prints a diagnostics line, then as the LAST
stdout line one JSON object {correct, attempted, failed, metrics}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Exits non-zero when a correctness check fails or the run cannot complete.
Scratch data lives under `<checkout>/.perfbench_work/` and is removed at
exit; the traced run's spans go to `<checkout>/.perfbench_runs/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("search_mix", "dedup_gate")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def bootstrap(work: str) -> None:
    """Make the package importable here AND in Spark's Python workers, keep
    every temp file inside the checkout, and size the local master."""
    sys.path[:0] = [p for p in (ROOT, HERE) if p not in sys.path]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(work, "spark-local"))
    if not os.environ.get("SPARK_GRAFT_CPUS"):
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        # keep every job of the run resolvable through the status tracker
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    return conf


def cpu_ticks() -> list[int]:
    """Aggregate CPU tick counters from /proc/stat (index 3 idle, 7 steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = load_spec()
    # a terminated run still stops Spark and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    load_start, ticks_start = os.getloadavg(), cpu_ticks()
    try:
        bootstrap(work)
        import common  # noqa: E402 (needs the bootstrapped path)

        ctx = common.Context(args.workload, args.seed, args.seconds,
                             bool(args.trace), work, T_PROCESS)
        module = __import__(args.workload)
        try:
            ctx.start_spark(spark_conf(work, ctx.tracer.enabled))
            module.run(ctx)
            result = ctx.result(spec)
        finally:
            ctx.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    ticks = [b - a for a, b in zip(ticks_start, cpu_ticks())]
    diagnostics = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        # CPU time the hypervisor gave to other guests during the run
        "cpu_steal_share": round(ticks[7] / max(1, sum(ticks)), 4),
        "wall_s": round(time.perf_counter() - T_PROCESS, 3),
        **ctx.diagnostics,
    }
    if ctx.tracer.enabled:
        runs = os.path.join(ROOT, ".perfbench_runs")
        os.makedirs(runs, exist_ok=True)
        with open(os.path.join(runs, f"{args.workload}-seed{args.seed}-trace.json"),
                  "w") as fh:
            json.dump({"diagnostics": diagnostics, "metrics": result["metrics"],
                       "spans": ctx.tracer.dump()}, fh)
    for f in ctx.failures[:20]:
        print(f"[check failed] {f}", file=sys.stderr)
    print(json.dumps({"diagnostics": diagnostics}, ensure_ascii=False))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
