"""Closed-loop benchmark of the database_spark engine.

    python3 perfbench/run.py --workload sparql_lookup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One process, one client: each unit op
starts after the previous one returned.  The run

1. builds the generated tables and the bucketed store once per engine
   source tree (in a child process, outside ``setup_s``);
2. sets up: Spark session, ``TripleStore.load``, input derivation and a
   fixed warm-up sequence;
3. replays the workload's seeded op stream for ``--seconds`` (ending on
   a whole op group), timing every unit op;
4. records host diagnostics and heap, and checks every answer;
5. prints one JSON line: the end-to-end metrics, or with ``--trace 1``
   the per-layer metrics of a run whose op groups alternate between
   untraced and traced.

Everything it writes stays under ``.bench_build/perfbench`` in the
checkout; each run leaves a record (and, traced, its spans) there.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback


def _process_start() -> float:
    """perf_counter() value at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T0 = _process_start()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SCALE = 0.01
GRAPH_NODES = 2000

END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s", "lat_p50_ms": "ms", "retained_mb": "MB",
}


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=SCALE,
                   help="table scale factor (tests use a smaller one)")
    p.add_argument("--inject-wrong", type=int, default=-1, metavar="I",
                   help="corrupt the answer of op I before checking (self-test)")
    p.add_argument("--ingest", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def _environment() -> None:
    """Keep every file Spark and Python write inside the checkout."""
    for d in ("spark-local", "tmp", "warehouse", "records"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(BUILD, "spark-local")
    os.environ["TMPDIR"] = os.path.join(BUILD, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    # no hsperfdata files in the system temp dir from the launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path[:0] = [ROOT, HERE]


def _session():
    from database_spark.session import get_spark

    tmp = os.path.join(BUILD, "tmp")
    spark = get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(BUILD, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _paths(args):
    import ingest

    return ingest.Paths(BUILD, ROOT, args.scale, GRAPH_NODES)


def _set_up(args, tracer_factory):
    """Session, store, derived inputs and warm-up; returns the workload,
    the session and the set-up phase times."""
    import workloads

    times = {}
    t = time.perf_counter()
    spark = _session()
    times["setup.jvm_s"] = time.perf_counter() - t
    try:
        from database_spark.store import TripleStore

        paths = _paths(args)
        kind = workloads.WORKLOADS[args.workload]
        t = time.perf_counter()
        store = TripleStore.load(spark, paths.store) if kind.needs_store else None
        times["setup.load_s"] = time.perf_counter() - t
        wl = kind(workloads.Context(spark, store, paths.tables, args.scale, GRAPH_NODES,
                                    tracer_factory(spark)))
        t = time.perf_counter()
        wl.prepare()
        times["setup.derive_s"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm()
        times["setup.warm_s"] = time.perf_counter() - t
    except BaseException:
        _stop(spark)
        raise
    return wl, spark, times


class _Off:
    """Stand-in tracer for untraced runs."""

    enabled = False

    def __init__(self, spark=None):
        pass

    def span(self, name):
        import contextlib

        return contextlib.nullcontext()


def _timed_phase(wl, args, tracer) -> tuple:
    """Closed loop over the seeded op stream: (one record per unit op,
    elapsed seconds)."""
    import contextlib

    g = wl.group_size
    traced_run = args.trace == 1
    # traced runs alternate untraced and traced groups, first and last
    # untraced, so every traced group sits between two untraced ones and
    # a drift in op time (the JIT still warming) lands on both sets alike
    min_ops = (3 if traced_run else wl.min_groups) * g
    stream = wl.ops(args.seed)
    records = []
    start = time.perf_counter()
    i = 0
    while (i < min_ops or i % g or time.perf_counter() - start < args.seconds
           or (traced_run and (i // g) % 2 == 0)):
        op = next(stream)
        traced = traced_run and (i // g) % 2 == 1
        tracer.enabled = traced
        scope = tracer.op(i) if traced else contextlib.nullcontext()
        t = time.perf_counter()
        try:
            with scope:
                t = time.perf_counter()
                answer = wl.run(op)
                dt = time.perf_counter() - t
            ok = True
        except Exception:  # noqa: BLE001 — a failing op is counted, the loop goes on
            traceback.print_exc(file=sys.stderr)
            answer, ok, dt = None, False, time.perf_counter() - t
        # a traced op's job counts are read back as its scope exits,
        # outside dt
        records.append({"op": op, "answer": answer, "s": dt,
                        "group": i // g, "traced": traced, "ok": ok})
        i += 1
    tracer.enabled = False
    return records, time.perf_counter() - start


def _heap_mb(spark) -> float:
    """Driver JVM heap retained after full GCs: the heap pools' usage as
    each pool's collector left it, so objects allocated after a GC do
    not count.  Freeing is a chain (a GC lets the context cleaner drop
    broadcasts and blocks, which the next GC reclaims), so GCs repeat
    until two readings in a row agree."""
    import gc

    jvm = spark._jvm
    pools = [p for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
             if p.getType().toString() == "Heap memory"]
    readings = []
    for _ in range(12):
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(0.4)
        readings.append(sum(p.getCollectionUsage().getUsed() for p in pools
                            if p.getCollectionUsage() is not None))
        if len(readings) >= 3 and abs(readings[-1] - readings[-2]) < 1e6:
            break
    return readings[-1] / 1e6


def _held_mb(spark) -> float:
    """Block-manager storage (memory + disk) of persisted RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def _tail(samples: list):
    """(percentile, value) at the highest percentile with >= 10 samples
    beyond it, or None when there are too few samples."""
    n = len(samples)
    if n < 20:
        return None
    k = n - 11  # 0-based index of the sample with ten above it
    return round(100.0 * (k + 1) / n, 1), sorted(samples)[k]


def _ensure_store(args) -> float:
    """Build the store in a child process if missing; returns its wall."""
    if _paths(args).ready():
        return 0.0
    t = time.perf_counter()
    cmd = [sys.executable, os.path.abspath(__file__), "--ingest",
           "--workload", args.workload, "--seed", "0", "--scale", str(args.scale)]
    subprocess.run(cmd, cwd=ROOT, check=True, timeout=850)
    return time.perf_counter() - t


def _measure(wl, spark, args):
    """Timed phase between host probes, then heap, storage and checks."""
    import host

    tracer = wl.ctx.tracer
    if args.trace:
        tracer.install()
    for _ in range(2):  # compile and JIT-warm the probe; later calls reuse it
        host.calib_ms(spark)
    calib = [host.calib_ms(spark)]
    ticks0, cpu0 = host.cpu_ticks(), host.tree_cpu_s()
    records, elapsed = _timed_phase(wl, args, tracer)
    cpu1, ticks1 = host.tree_cpu_s(), host.cpu_ticks()
    if args.trace:
        tracer.uninstall()
    retained = _heap_mb(spark)
    diag = {
        "host.steal_pct": host.steal_pct(ticks0, ticks1),
        "host.cpu_ms_per_op": 1000.0 * (cpu1 - cpu0) / len(records),
        "lifecycle.held_mb": _held_mb(spark),
    }
    calib.append(host.calib_ms(spark))
    diag["host.calib_ms"] = statistics.mean(calib)

    answers = [r["answer"] for r in records]
    if 0 <= args.inject_wrong < len(answers):
        answers[args.inject_wrong] = ["injected wrong answer"]
    good = wl.check([r["op"] for r in records], answers)
    failed = sum(1 for r, g in zip(records, good) if not (r["ok"] and g))
    return records, elapsed, diag, retained, calib, failed


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "database_spark", "sparql", "engine.py")):
        print(f"perfbench: no database_spark package under {ROOT}", file=sys.stderr)
        return 2
    _environment()
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    if args.ingest:
        import ingest

        spark = _session()
        try:
            ingest.build(spark, _paths(args), args.scale, GRAPH_NODES)
        finally:
            _stop(spark)
        return 0

    ingest_wall = _ensure_store(args)
    tracer_factory = _Off
    if args.trace:
        from spans import Tracer as tracer_factory
    wl, spark, setup = _set_up(args, tracer_factory)
    setup_s = time.perf_counter() - T0 - ingest_wall
    try:
        records, elapsed, diag, retained, calib, failed = _measure(wl, spark, args)
    finally:
        _stop(spark)

    timed = [r for r in records if not r["traced"]]
    done = sum(1 for r in timed if r["ok"])
    untraced_s = sum(r["s"] for r in timed)
    lat_ms = [r["s"] * 1000.0 for r in timed]
    end_to_end = {
        "setup_s": setup_s,
        "ops_per_s": done / (elapsed if not args.trace else untraced_s),
        "lat_p50_ms": statistics.median(lat_ms),
        "retained_mb": retained,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "attempted": len(records),
        "failed": failed, "elapsed_s": elapsed, "setup_s": setup_s, "setup": setup,
        "calib_ms": calib, "lat_ms": lat_ms, "lat_tail_ms": _tail(lat_ms),
        "end_to_end": end_to_end, "diagnostics": diag,
    }
    stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    if args.trace:
        import layers

        wl.ctx.tracer.dump(os.path.join(BUILD, "records", stamp + "-spans.json"))
        metrics = layers.per_layer(wl, wl.ctx.tracer, records, setup, diag,
                                   _paths(args).ingest_s())
        record["per_layer"] = metrics
        units = layers.UNITS
    else:
        metrics, units = end_to_end, END_TO_END
    with open(os.path.join(BUILD, "records", stamp + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    tail = record["lat_tail_ms"]
    print(f"{args.workload} seed={args.seed}: {len(records)} ops, {failed} failed, "
          f"calib {calib[0]:.0f}/{calib[1]:.0f} ms, steal {diag['host.steal_pct']:.1f}%, "
          + ("lat_tail_ms p%s=%.1f" % tail if tail else "lat_tail_ms unsupported (<20 ops)"))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
