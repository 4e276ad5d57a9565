"""CDC-lake benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload bulk_replay --seed 1 \\
        --seconds 10 --trace 0

Runs from the root of a checkout of the repository, against the
package as it is there, on ``local[<number of CPUs>]`` with one
driver process and a single caller (closed loop). Inputs are generated
from ``--seed``; every answer is checked against the package's
reference fold. With ``--trace 0`` the result carries the end-to-end
metrics; with ``--trace 1`` the same workload runs once untraced and
once with spans around the package's public functions, and the result
carries the per-layer metrics (see LAYERS.md). The last line of
standard output is the result:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

The line before it holds the details: sample counts, the error rate,
where the wall time went, and two contention readings that are not
metrics: a fixed spin loop timed before and after, and the CPU time
the hypervisor gave to other guests during the run.
Everything the run writes stays under ``.perfbench/`` in the checkout.
Exits non-zero without a result when the package is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "clinical_trials_etl_spark"

# environment knobs of the package that change what it does; the
# benchmark measures its defaults
_BEHAVIOUR_ENV = ("SPARK_GRAFT_MERGE_MODE", "SPARK_GRAFT_SALT",
                  "SPARK_GRAFT_ICEBERG_TABLE", "SPARK_GRAFT_ICEBERG_EXECUTE")
DRIVER_MEMORY = "1g"


def spin_canary() -> float:
    """Fixed single-thread CPU loop: its wall time rises with
    contention from other tenants of the machine."""
    t0 = time.perf_counter()
    x = 0
    for i in range(4_000_000):
        x += i * i
    return time.perf_counter() - t0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs, so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _isolate(work: str) -> dict:
    """Point every temporary location of Python, the JVMs and Spark
    into ``work``; returns the Spark conf the session needs for it."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    for k in _BEHAVIOUR_ENV:
        os.environ.pop(k, None)
    import tempfile

    tempfile.tempdir = None
    return {
        # a fixed-size heap: peak RSS then follows the work, not the
        # collector's heap resizing
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(c) for c in f.read().split()]
            except FileNotFoundError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for driver JVM pid {pid}")


def stop_all() -> None:
    """Stop Spark, then the driver JVM and every process under it, and
    wait for each to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    kids = _descendants(proc.pid)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}"):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                deadline = time.monotonic() + 5
            time.sleep(0.05)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def parse_args(argv):
    from workloads import SIZES, WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full",
                   help="input sizes; 'tiny' is the smoke test's")
    return p.parse_args(argv)


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to {HERE}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import workloads as wl
    except ImportError as exc:
        print(f"perfbench: cannot import the package: {exc}",
              file=sys.stderr)
        return 2
    args = parse_args(argv)

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    spark_conf = _isolate(work)
    cores = _cores()
    canary = [spin_canary()]
    steal0 = steal_s()
    try:
        t0 = time.perf_counter()
        spark = wl.get_spark("perfbench", cores=cores, extra_conf=spark_conf)
        session_s = time.perf_counter() - t0
        ctx = wl.Context(spark, work, args.seed, wl.SIZES[args.size], cores,
                         spark_conf)
        ctx.wall["session"] = round(session_s, 2)
        out = wl.WORKLOADS[args.workload](ctx, args.seconds,
                                          bool(args.trace))
        setup_s = session_s + sum(ctx.setup.values())
        metrics, detail = wl.end_to_end(out["untraced"])
        metrics["setup_s"] = (setup_s, "s")
        metrics["jvm_peak_rss_mb"] = (jvm_peak_rss_mb(ctx.spark), "MB")
        if args.trace:
            tr = out["tracer"]
            tr.attach_job_counts()
            os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
            tr.dump(os.path.join(ROOT, ".perfbench", f"spans-{args.workload}"
                                 f"-seed{args.seed}.jsonl"))
            metrics = wl.layer_metrics(tr)
            metrics.update(wl.html_kernel_metrics(out["html"], args.seed))
            metrics["session.start_s"] = (session_s, "s")
            metrics["datagen.changelog.s"] = (statistics.median(ctx.gen_s),
                                              "s")
            metrics["trace.overhead_frac"] = (
                out["traced"].cpu_s_per_event()
                / out["untraced"].cpu_s_per_event() - 1.0, "ratio")
            if args.workload == "bulk_replay":
                metrics.update(wl.scaling_reading(
                    ctx, out["logs"], 1.0 / out["untraced"].s_per_event()))
            else:
                metrics["cdc.scaling.ev_per_s_1"] = (0.0, "1/s")
                metrics["cdc.scaling_eff"] = (0.0, "ratio")
        ctx.mark("metrics")
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_all()
        shutil.rmtree(work, ignore_errors=True)
    ctx.mark("stop")
    steal = steal_s() - steal0
    canary.append(spin_canary())

    ops = ctx.ops
    detail.update(workload=args.workload, seed=args.seed, cores=cores,
                  setup=dict(ctx.setup, session_s=session_s),
                  canary_s=canary, steal_s=steal, wall_s=ctx.wall,
                  error_rate=ops.failed / ops.attempted,
                  failures=ops.failures[:10])
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
