"""Indexer benchmark: one workload per invocation.

    python3 perfbench/run.py --workload head_follow --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics of the traced run with
``--trace 1``. The line before it holds the workload's own figures, the run
conditions and host facts. Metric names and units come from
``BENCHMARK.json``. Traced runs also write their spans to
``.perfbench_work/spans/<workload>-seed<seed>.jsonl``. See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# explicit, well below the host's RAM, and committed and touched up front
# (-Xms, AlwaysPreTouch), so peak RSS does not depend on how far the heap
# happened to grow before the run ended
DRIVER_MEMORY = "2g"


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _status_kb(pid: int | str, key: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of the host's CPUs: steal is time the hypervisor
    gave the virtual CPUs to someone else."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f[:8]), f[7] if len(f) > 7 else 0


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def pin_conditions(work: str, cpus: int) -> dict[str, str]:
    """Environment and Spark settings every run uses; returns the extra
    Spark configuration."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    for var in ("MASTER", "SPARK_MASTER"):  # always local[nproc]
        os.environ.pop(var, None)
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
        # the traced run reads job and stage counts back from the status
        # store; untraced runs keep the same setting so the two differ
        # only by tracing
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of input
        proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    for mod in ("eth_indexer_spark", "pyspark"):
        if importlib.util.find_spec(mod) is None:
            print(f"perfbench: cannot import {mod}; run from a full checkout", file=sys.stderr)
            return 2

    import pyspark

    import workloads as wl
    from eth_indexer_spark.session import get_spark
    from tracing import Tracer

    ticks0 = _cpu_ticks()
    work = os.path.join(ROOT, ".perfbench_work")
    cpus = len(os.sched_getaffinity(0))
    conf = pin_conditions(work, cpus)

    t = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
    get_spark_s = time.perf_counter() - t
    tracer = Tracer(spark) if args.trace else None
    b = wl.Bench(spark, ROOT, work, args.seed, args.seconds, tracer)
    try:
        if args.workload == "head_follow":
            metrics = wl.head_follow(b, clients=cpus)
        else:
            metrics = wl.analytics(b)
        peak_kb = _status_kb("self", "VmHWM") + _status_kb(b.jvm_pid, "VmHWM")
        ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
        conditions = {
            "cpus": cpus,
            # a share that varies between runs makes their timings vary too
            "cpu_steal_frac": ticks[1] / ticks[0] if ticks[0] else 0.0,
            "master": spark.sparkContext.master,
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
            "host_mem_mb": round(_mem_total_mb()),
            "java": spark._jvm.System.getProperty("java.version"),
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
        }
        if tracer:
            tracer.close()
            spans_dir = os.path.join(work, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            tracer.write(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        stop_spark(spark)
        shutil.rmtree(b.run_dir, ignore_errors=True)

    # a history-cache build is a one-off per checkout and code version
    metrics["setup_s"] = b.timed_start - T_START - b.cache_build_s
    metrics["peak_rss_mb"] = peak_kb / 1024
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "conditions": conditions, "cache_build_s": b.cache_build_s, **b.detail}
    if tracer:
        layers = dict(b.layers, **{"session.get_spark_s": get_spark_s})
        unknown = set(layers) - {m["name"] for m in spec["per_layer"]}
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        out = {m["name"]: {"value": layers.get(m["name"], 0), "unit": m["unit"]} for m in spec["per_layer"]}
        # the same figures as an untraced run: the difference is the tracing overhead
        detail["end_to_end"] = metrics
    else:
        out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps(detail))
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": out,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
