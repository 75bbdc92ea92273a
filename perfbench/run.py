"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload nightly_etl --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run writes only under
``.perfbench_work/`` there and removes its own directory when it ends.
With ``--trace 0`` the last line carries the end-to-end metrics; with
``--trace 1`` the same loop runs with every layer wrapped in spans
(perfbench/spans.py) and the last line carries the per-layer metrics.
See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.spans import (  # noqa: E402
    SINK_WRITES,
    Rollup,
    Tracer,
    instrument,
    spark_metrics,
)
from perfbench.workloads import WORKLOADS, median  # noqa: E402

#: driver heap cap for the benchmark's session: a plain ``spark.driver.memory``
#: (no pre-sized heap), below the engine's 16g default because the host's
#: memory is shared and these inputs need far less
DRIVER_MEM = "4g"
#: most full collections made while waiting for the retained heap to settle
RETAINED_ROUNDS = 40
#: readings in a row, 0.25 s apart, that must agree for the heap to count as settled
SETTLED = 4


def _jvm_retained_heap_mb(spark) -> float:
    """Heap the driver JVM still holds once nothing more can be freed:
    full collections, on both sides of py4j, repeated until Spark's
    cleaner has released every block whose DataFrame is gone (pinned
    checkpoints, broadcasts, shuffles) and ``SETTLED`` readings in a row
    agree within 1 MB. What is left is the program's retained state,
    independent of how large the heap may grow."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    reads: list[float] = []
    for _ in range(RETAINED_ROUNDS):
        gc.collect()
        jvm.java.lang.System.gc()
        reads.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        if len(reads) >= SETTLED and max(reads[-SETTLED:]) - min(reads[-SETTLED:]) < 1.0:
            break
        time.sleep(0.25)
    return reads[-1]


def _files_under(path: str) -> set[str]:
    out = set()
    for d, _dirs, files in os.walk(path):
        out.update(os.path.join(d, f) for f in files if not f.startswith((".", "_")))
    return out


def timed_loop(wl, spark, seconds: float) -> list:
    """Closed loop: passes until ``seconds`` of timed wall have elapsed
    (the pass in progress always completes)."""
    passes, spent, k = [], 0.0, 0
    while spent < seconds or not passes:
        p = wl.run_pass(spark, k)
        wl.note_width(spark)
        passes.append(p)
        spent += p.wall
        print(f"perfbench: pass {k}: {p.wall:.3f} s, {len(p.op_walls)} ops", file=sys.stderr)
        k += 1
        if p.failed:  # the run is already incorrect; stop rather than loop on errors
            break
    return passes


def end_to_end(passes, setup_s: float, mem_mb: float) -> dict[str, float]:
    wall = sum(p.wall for p in passes)
    return {
        "setup_s": setup_s,
        "wall_s": median([p.wall for p in passes]),
        "op_p50_s": median([w for p in passes for w in p.op_walls]),
        "items_per_s": sum(p.items for p in passes) / wall if wall > 0 else 0.0,
        "retained_mb": mem_mb,
    }


def declared_metrics(key: str) -> dict[str, str]:
    """Metric name -> unit for one list of BENCHMARK.json (``end_to_end``
    or ``per_layer``): the file is the single source of metric names."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


def layer_metrics(wl, tracer: Tracer, pin_calls: int, passes, session_s: float) -> dict[str, float]:
    """The per-layer metrics of the traced passes. Layers a workload
    never reaches are left out here and read 0 in the output.
    ``trace.wall_s`` is the traced run's ``wall_s``: set against the
    ``wall_s`` of an untraced run of the same seed it gives the tracing
    overhead."""
    kids = tracer.children()
    timed = tracer.spans
    top = [s for s in timed if s.parent is None]
    total = Rollup()
    for s in top:
        total.add(tracer.totals(s, kids))
    wall = sum(p.wall for p in passes)
    m: dict[str, float] = {"session.start_s": session_s}
    m["session.widen_fires"] = wl.widen_fires
    m["session.initial_partitions"] = wl.width
    m.update(spark_metrics(total, wall, wl.cores))
    m["operators.pin_calls"] = pin_calls
    by_id = {s.id: s for s in timed}

    def inside_write(s) -> bool:
        while s.parent is not None:
            s = by_id[s.parent]
            if s.name in SINK_WRITES:
                return True
        return False

    writes = [s for s in timed if s.name in SINK_WRITES and not inside_write(s)]
    out_bytes = sum(tracer.totals(s, kids).output_bytes for s in writes)
    m["sinks.write_s"] = sum(s.wall for s in writes)
    m["sinks.files_written"] = wl.files_written
    inputs = sum(p.input_bytes for p in passes)
    m["sinks.bytes_per_input_byte"] = out_bytes / inputs if inputs else 0.0
    m.update(wl.layer_metrics(tracer))
    m["trace.wall_s"] = median([p.wall for p in passes])
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import etl_sber_spark  # noqa: F401  (fails fast outside a checkout)
    from etl_sber_spark.session import get_spark

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 4),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
    )

    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        wl = WORKLOADS[args.workload](work, args.seed)
        t0 = time.perf_counter()
        wl.prepare()
        print(f"perfbench: inputs {time.perf_counter() - t0:.3f} s", file=sys.stderr)
        t0 = time.perf_counter()
        spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        session_s = time.perf_counter() - t0
        wl.warm(spark)
        wl.note_width(spark)
        setup_s = time.perf_counter() - t0
        print(f"perfbench: session {session_s:.3f} s, setup {setup_s:.3f} s", file=sys.stderr)

        if args.trace:
            tracer = Tracer(spark)
            inst = instrument(tracer)
            wl.tracer = tracer
            files_before = _files_under(wl.output_root) if wl.output_root else set()
        passes = timed_loop(wl, spark, args.seconds)
        if args.trace:
            inst.close()
            wl.tracer = None
            if wl.output_root:
                wl.files_written = len(_files_under(wl.output_root) - files_before)
        else:  # before the check adds state of its own
            jvm_mb = _jvm_retained_heap_mb(spark)
            py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        t_check = time.perf_counter()
        check = wl.check(spark)
        print(f"perfbench: check {time.perf_counter() - t_check:.3f} s", file=sys.stderr)
        for err in check.errors:
            print(f"perfbench: check failed: {err}", file=sys.stderr)
        attempted = sum(len(p.op_walls) for p in passes)
        failed = sum(p.failed for p in passes) + wl.failed_op_count(check)
        if args.trace:
            metrics = layer_metrics(wl, tracer, inst.pin_calls, passes, session_s)
            units = declared_metrics("per_layer")
            undeclared = set(metrics) - set(units)
            if undeclared:
                raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {undeclared}")
            # a layer the workload never reaches reads 0
            metrics = {k: metrics.get(k, 0.0) for k in units}
        else:
            print(f"perfbench: JVM retained heap {jvm_mb:.1f} MB, python peak RSS {py_mb:.1f} MB",
                  file=sys.stderr)
            metrics = end_to_end(passes, setup_s, jvm_mb + py_mb)
            units = declared_metrics("end_to_end")
    finally:
        try:
            if spark is not None:
                jvm = spark.sparkContext._gateway.proc
                try:
                    spark.stop()
                finally:
                    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
                    jvm.wait(timeout=60)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:  # another run still uses it
                pass
    result = {
        "correct": not check.errors and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
