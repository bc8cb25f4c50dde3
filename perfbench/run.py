"""Benchmark entry point.

    python3 perfbench/run.py --workload candy_etl --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout of the repository. Generates the workload's
inputs from ``--seed`` under ``.perfbench/`` in the checkout, starts a
SparkSession through ``candyspark.session.get_spark()`` with its own defaults
on ``local[<cores>]``, runs the workload, checks every output and prints one
line per metric followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the traced
variant and reports the per-layer metrics (spans are written next to the run's
results under ``.perfbench/results/``). Exits non-zero without a result when
the checkout holds no ``candyspark`` package or the workload cannot be timed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.trace import MemorySampler, Tracer, tree_pids  # noqa: E402


def _process_age() -> float:
    """Seconds since this process started (``/proc/self/stat`` starttime)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _isolate(work: str, cores: int) -> None:
    """Keep every file Spark, the JVM and Python workers write inside ``work``
    and leave ``get_spark()``'s defaults in force."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(cores),
    )
    for var in ("SPARK_MASTER", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_DRIVER_MEM", "SPARK_CONF_DIR"):
        os.environ.pop(var, None)
    os.chdir(work)  # spark-warehouse/, derby.log


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for every process
    this run started to end."""
    from pyspark import SparkContext

    children = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in children):
        time.sleep(0.1)
    for p in children:
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "candyspark", "session.py")):
        print(f"perfbench: no candyspark package under {ROOT}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(ROOT, ".perfbench", "work", f"{tag}-p{os.getpid()}")
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    _isolate(work, cores)

    from perfbench.workloads import Run

    tracer = Tracer(trace_id=f"{tag}-p{os.getpid()}")
    steal0, total0 = _cpu_ticks()
    # memory sampling reads every process's page tables, so only the traced
    # run pays for it; the end-to-end timings run without it
    mem = MemorySampler() if args.trace else contextlib.nullcontext()
    try:
        with mem:
            with tracer.span("session.get_spark") as setup_span:
                from candyspark.session import get_spark

                spark = get_spark(app_name=f"perfbench-{args.workload}")
                spark.range(1).count()
            setup_s = _process_age() - (time.perf_counter() - setup_span.end)
            run = Run(spark, work, args.seed, args.seconds, cores, tracer)
            try:
                WORKLOADS[args.workload][args.trace](run)
            finally:
                _stop_spark(spark)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    # CPU time the hypervisor gave to other guests: a run on a contended host
    # reads slow for reasons outside the program
    steal1, total1 = _cpu_ticks()
    run.info["cpu_steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
    if args.trace:
        run.metrics.update({"session.get_spark.s": setup_span.s, "job.peak_rss_mb": mem.peak_mb})
        run.info.update(peak_rss_sum_mb=mem.peak_rss_sum_mb, max_procs=mem.max_procs)
        names = PER_LAYER
        tracer.dump(os.path.join(results, f"{tag}.spans.json"))
    else:
        run.metrics["setup_s"] = setup_s
        names = END_TO_END
    metrics = {k: {"value": float(run.metrics.get(k, 0.0)), "unit": u} for k, u in names.items()}
    error_rate = run.failed / max(run.attempted, 1)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "error_rate": error_rate,
        "metrics": run.metrics, "info": run.info,
        "errors": run.errors,
    }
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    for err in run.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    for k, v in metrics.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(f"error_rate {error_rate:.6g} share  ({run.failed}/{run.attempted})")
    print(f"info {json.dumps(run.info, default=str)[:2000]}")
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
