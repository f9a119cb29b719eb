#!/usr/bin/env python3
"""Benchmark of the engine, end to end and layer by layer.

Run from the repository root:

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 10 --trace 0

Workloads (``perfbench/workloads.py``): ``daily_etl``, ``catalog_mix``.
Inputs are generated from ``--seed`` (``perfbench/gen.py``) under
``.perfbench_work/`` in the repository, the only place the benchmark
writes. Spark runs on ``local[N]`` with N =
``$SPARK_GRAFT_CPUS`` (default: the machine's core count).

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` the engine's public functions are wrapped in spans and the
metrics are the per-layer ones (layers a workload does not exercise
read 0). The line before it is an ``info`` object: traffic properties,
the workload's own named timings and check results. ``--smoke`` shrinks
the inputs for the benchmark's own test.

Exit code 0 only when a result was printed; 2 when the engine package
is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sahithi_metamorph_etl_spark"
SETUPS = 5  # session starts per run; setup_s is their median


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="sf0.001-derived inputs and a minimal loop")
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` and make the engine importable by Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM spark-submit starts, its launcher included, would
    # otherwise keep a perf-data file under /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if o)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def spark_conf(work: str) -> dict[str, str]:
    """Scratch dirs inside ``work`` and a GC log there; the heap size is
    the engine's own."""
    return {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                                         f"-Dderby.system.home={work} "
                                         f"-Xlog:gc:file={os.path.join(work, 'gc.log')}",
    }


_GC_LINE = re.compile(r"(\d+)M->(\d+)M\((\d+)M\)")


def heap_after_gc_peak_mb(work: str) -> float:
    """Largest heap occupancy right after a collection, from the GC log:
    the peak of what the JVM kept live (plus floating garbage), not of
    what it allocated between collections."""
    try:
        with open(os.path.join(work, "gc.log")) as f:
            return float(max((int(m.group(2)) for m in _GC_LINE.finditer(f.read())), default=0))
    except OSError:
        return 0.0


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of process ``pid`` in MB (0 if unreadable)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pool_peaks_mb(spark) -> tuple[float, float]:
    """Sums of the JVM's heap and non-heap memory pools' peak used
    bytes since start, in MB."""
    jvm = spark.sparkContext._jvm
    heap_type = jvm.java.lang.management.MemoryType.HEAP
    heap = non_heap = 0
    for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if p.getType().equals(heap_type):
            heap += p.getPeakUsage().getUsed()
        else:
            non_heap += p.getPeakUsage().getUsed()
    return heap / 2**20, non_heap / 2**20


def jvm_process(spark):
    """The ``subprocess.Popen`` of the JVM PySpark launched (None when
    the session attached to an existing JVM)."""
    return getattr(spark.sparkContext._gateway, "proc", None)


def stop_jvm(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the gateway
    server exits when its standard input closes."""
    proc = jvm_process(spark)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def start_sessions(ctx, wl) -> tuple[object, list[float], list[float]]:
    """Start the session ``SETUPS`` times (stopping all but the last);
    each start is ``get_spark`` plus the workload's first action. The
    first start launches the JVM; later ones reuse it."""
    from sahithi_metamorph_etl_spark.core import session

    if ctx.tracer.enabled:
        ctx.tracer.wrap(session, "get_spark", "core.session.get_spark")
    setups, get_spark_s = [], []
    for i in range(SETUPS):
        ctx.tracer.sc = None  # no live SparkContext until get_spark returns
        t0 = time.perf_counter()
        spark = session.get_spark(app_name="perfbench", extra_conf=spark_conf(ctx.work))
        t1 = time.perf_counter()
        ctx.tracer.sc = spark.sparkContext
        wl.first_action(spark, ctx)
        setups.append(time.perf_counter() - t0)
        get_spark_s.append(t1 - t0)
        if i < SETUPS - 1:
            session.stop_spark()
    return spark, setups, get_spark_s


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    sys.path.insert(0, HERE)
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ctx = workloads.Context(args, work, Tracer(bool(args.trace), f"{args.workload}-{args.seed}"))
    spark = None
    try:
        wl.prepare(ctx)
        ctx.mark("prepare")
        spark, setups, get_spark_s = start_sessions(ctx, wl)
        ctx.mark("setup")
        if ctx.tracer.enabled:
            wl.instrument(spark, ctx)
        res = wl.run(spark, ctx)
        proc = jvm_process(spark)
        py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        heap_mb, non_heap_mb = jvm_pool_peaks_mb(spark)
        mem = {"heap_after_gc_peak_mb": heap_after_gc_peak_mb(work), "heap_peak_used_mb": heap_mb,
               "non_heap_peak_mb": non_heap_mb, "python_peak_rss_mb": py_mb,
               "jvm_peak_rss_mb": vm_hwm_mb(proc.pid) if proc is not None else 0.0}
        e2e = {
            "setup_s": statistics.median(setups),
            "op_p50_s": statistics.median(res.op_s),
            "throughput_per_s": res.work / res.busy_s,
            "peak_mem_mb": mem["heap_after_gc_peak_mb"] + non_heap_mb + py_mb,
        }
        ctx.info.update(setup_runs_s=setups, op_s=res.op_s, e2e=e2e, memory=mem,
                        cpus=int(os.environ["SPARK_GRAFT_CPUS"]), traced=bool(args.trace))
        if ctx.tracer.enabled:
            os.makedirs(os.path.join(work_root, "spans"), exist_ok=True)
            ctx.tracer.dump(os.path.join(work_root, "spans", f"{ctx.tracer.run_id}.jsonl"))
            layers = dict(res.layers)
            layers["core.session.get_spark_s"] = statistics.median(get_spark_s)
            layers.update({f"memory.{k}": v for k, v in mem.items()})
            layers.update({f"trace.{k}": v for k, v in e2e.items()})
            ctx.info["layers"] = layers
            metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                       for m in spec["per_layer"]}
        else:
            metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
    finally:
        if spark is not None:
            stop_jvm(spark)
            ctx.mark("stop")
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"info": ctx.info}, default=str))
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
