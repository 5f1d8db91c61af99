#!/usr/bin/env python3
"""Spatial benchmark: one workload, one Spark session, one closed-loop client.

Run from the root of a checkout::

    python3 spatialbench/run.py --workload tri_join --seed 1 --seconds 25 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
engine's public entry points (see ``spans.py``) and prints the
per-layer metrics instead. Metric names, units and the default
``--seconds`` come from ``BENCHMARK.json`` next to this directory. The
last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. The line before
it is the run record (cpus, master, versions, load, commit, seed).
Everything the run writes stays under ``.spatialbench/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
BUILD_REPS = 3
MB = 1 << 20
GC_PAUSE_S = 0.2
GC_STABLE_S = 1.5
GC_MAX_S = 15.0


def load_spec() -> dict:
    with open(SPEC) as fh:
        return json.load(fh)


def parse_args(argv, spec):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=float(spec["run_seconds"]))
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--write-digests", action="store_true",
                   help="pin this run's default-seed digests into digests.json")
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def prepare_env(root: str, work: str) -> None:
    """Point every scratch location of the driver, the JVM and the
    Python workers inside the checkout."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))


def vm_hwm_kb() -> int:
    """High-water RSS of this Python process, in KiB."""
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def driver_memory(spark) -> dict:
    """Memory the driver holds at the end of the run, in MB: the JVM's
    live heap (in use after full collections, so garbage G1 has not yet
    reclaimed does not count), its non-heap in use (metaspace, code
    cache), and the Python driver's high-water RSS."""
    gc.collect()  # drops Python proxies, so their JVM objects are garbage
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    storage = spark.sparkContext._jsc.sc().env().memoryManager()
    # a collection lets the context cleaner free the blocks, shuffles and
    # broadcasts of collected objects, one after another, and the next
    # collection reclaims what they held: collect until no block is left
    # and the heap has not shrunk for GC_STABLE_S
    deadline = time.perf_counter() + GC_MAX_S
    prev = stable_since = None
    while True:
        jvm.java.lang.System.gc()
        heap = mx.getHeapMemoryUsage().getUsed()
        now = time.perf_counter()
        if prev is None or storage.storageMemoryUsed() > 0 or prev - heap >= MB:
            stable_since = now
        prev = heap
        if now - stable_since >= GC_STABLE_S or now > deadline:
            break
        time.sleep(GC_PAUSE_S)
    return {"jvm_heap_mb": heap / MB,
            "jvm_nonheap_mb": mx.getNonHeapMemoryUsage().getUsed() / MB,
            "python_hwm_mb": vm_hwm_kb() / 1024.0}


def jvm_gc_s(spark) -> float:
    """Seconds the driver JVM's collectors have spent so far."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def metric_values(names, values: dict) -> dict:
    """``values`` as result metrics, in the order and units of the
    ``BENCHMARK.json`` list ``names``; the two must name the same metrics."""
    want = [m["name"] for m in names]
    if set(want) != set(values):
        raise RuntimeError(f"metrics computed {sorted(set(values) - set(want))} "
                           f"but BENCHMARK.json lists {sorted(set(want) - set(values))}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}


def git_commit(root: str) -> str | None:
    """HEAD of the checkout, or None when ``root`` is not a git
    work tree's top level (an exported checkout inside another repo
    must not report that repo's commit)."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2:
        return None
    return lines[1] if os.path.realpath(lines[0]) == os.path.realpath(root) else None


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM it launched; wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def trace_targets(tracer):
    """Span name -> (engine function, result hook)."""
    import hadoopgis_spark.operators as ops
    import hadoopgis_spark.operators.mbb as mbb
    import hadoopgis_spark.partition as part
    import hadoopgis_spark.sources as src

    def on_sample(s, args, kwargs, out):
        s.info["sample_rows"] = 0 if out[1] is None else int(len(out[1]))

    def on_tiles(s, args, kwargs, out):
        s.info["tiles"] = len(out)

    def on_assign(s, args, kwargs, out):
        # the first traced join's tile table (a companion kNN assigns too)
        tracer.captured.setdefault(
            "tiles_df", args[1] if len(args) > 1 else kwargs["tiles_df"])

    return {
        "operators.mbb.with_mbb": (mbb.with_mbb, None),
        "operators.mbb.extent_count_sample": (mbb.extent_count_sample, on_sample),
        "partition.partition_tiles": (part.partition_tiles, on_tiles),
        "operators.tile.assign_tiles": (ops.assign_tiles, on_assign),
        "operators.spatial_join": (ops.spatial_join, None),
        "operators.knn": (ops.knn_join, None),
        "operators.containment": (ops.containment, None),
        "sources.tsv.read_tsv": (src.read_tsv, None),
        "sources.loader.save_partitioned": (src.save_partitioned, None),
        "sources.loader.load_partitioned": (src.load_partitioned, None),
    }


def timed_loop(wl, seconds: float, tracer=None):
    """Closed loop: the next operation starts when the previous ends.
    Returns (results, latencies, traced flags); a raised operation
    yields ``None``."""
    results, lats, traced = [], [], []
    t_start = time.perf_counter()
    i = 0
    while i == 0 or time.perf_counter() - t_start < seconds:
        # traced runs alternate traced and plain operations, so one run
        # also yields the tracing overhead
        on = tracer is not None and i % 2 == 0
        t0 = time.perf_counter()
        try:
            if on:
                tracer.enabled = True
                tracer.op = i
                with tracer.span("op"):
                    res = wl.op(i, tracer)
            else:
                res = wl.op(i)
        except Exception:  # counted as a failed operation
            log(traceback.format_exc())
            res = None
        finally:
            if tracer is not None:
                tracer.enabled = False
                tracer.op = None
        lats.append(time.perf_counter() - t0)
        results.append(res)
        traced.append(on)
        i += 1
    return results, lats, traced


def traced_companion(wl, tracer) -> list:
    """Traced run only: build and warm the workload's companion (if any),
    then trace one of its operations under a root span named
    ``companion:<layer>``; the operation's verdicts."""
    from layers import COMPANION

    comp = wl.companion()
    if comp is None:
        return []
    comp.build()
    comp.warm()
    tracer.enabled = True
    try:
        with tracer.span(COMPANION + comp.layer):
            res = comp.op(0, tracer)
    except Exception:  # counted as a failed operation
        log(traceback.format_exc())
        res = None
    finally:
        tracer.enabled = False
    return comp.check([res])


def main(argv=None) -> int:
    spec = load_spec()
    args = parse_args(argv, spec)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hadoopgis_spark", "__init__.py")):
        log("spatialbench: no hadoopgis_spark package under the working "
            "directory; run from the root of a checkout")
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".spatialbench", f"{args.workload}-{os.getpid()}")
    records = os.path.join(root, ".spatialbench", "records")
    prepare_env(root, work)

    from workloads import WORKLOADS, load_digests
    import layers
    from spans import Tracer, tail_percentile

    if args.workload not in WORKLOADS:
        log(f"spatialbench: unknown workload {args.workload!r}; "
            f"choose from {sorted(WORKLOADS)}")
        return 2
    import pyspark

    from hadoopgis_spark.session import get_spark

    load1 = os.getloadavg()[0]
    t0 = time.perf_counter()
    spark = get_spark(f"spatialbench-{args.workload}", **{
        "spark.ui.showConsoleProgress": "false",
        # keep the JVM's scratch files inside the checkout
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
    })
    session_s = time.perf_counter() - t0
    try:
        digests_path = os.path.join(HERE, "digests.json")
        wl = WORKLOADS[args.workload](spark, work, args.seed,
                                      {} if args.write_digests else load_digests(digests_path))
        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            tracer.install(trace_targets(tracer))
        builds = []
        for _ in range(BUILD_REPS):
            t = time.perf_counter()
            if tracer is not None:
                tracer.enabled = True
                with tracer.span("build"):
                    wl.build()
                tracer.enabled = False
            else:
                wl.build()
            builds.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(builds) + warm_s

        gc0 = jvm_gc_s(spark)
        results, lats, traced = timed_loop(wl, args.seconds, tracer)
        loop_gc_s = jvm_gc_s(spark) - gc0
        t = time.perf_counter()
        verdicts = wl.check(results)
        check_s = time.perf_counter() - t
        if tracer is not None:
            verdicts += traced_companion(wl, tracer)
        failed = sum(v is not None for v in verdicts)
        for k, v in enumerate(verdicts):
            if v is not None:
                log(f"op {k} wrong or failed: {v}")

        if args.write_digests:
            if failed:
                log("spatialbench: not pinning digests of a failing run")
                return 1
            pinned = load_digests(digests_path)
            pinned[wl.name] = wl.digest_record(results)
            with open(digests_path, "w") as fh:
                json.dump(pinned, fh, indent=1, sort_keys=True)
                fh.write("\n")

        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": os.environ["SPARK_GRAFT_CPUS"],
            "master": spark.sparkContext.master, "pyspark": pyspark.__version__,
            "python": sys.version.split()[0], "loadavg_1m": load1,
            "commit": git_commit(root), "attempted": len(verdicts), "failed": failed,
            "session_s": session_s, "builds_s": builds, "warm_s": warm_s,
            "latencies_s": lats, "loop_gc_s": loop_gc_s, "check_s": check_s,
        }
        if tracer is None:
            # a join run leaves no percentile with ten samples beyond it,
            # and every workload prints every end-to-end metric, so the
            # tail is recorded here, not bounded
            tail_p, tail_v, n = tail_percentile(lats)
            record["tail"] = {"percentile": tail_p, "value_s": tail_v, "samples": n}
            mem = record["memory"] = driver_memory(spark)
            metrics = metric_values(spec["end_to_end"], {
                "setup_s": setup_s, "op_p50_s": statistics.median(lats),
                "driver_mem_mb": sum(mem.values())})
        else:
            tracer.uninstall()
            probe = wl.probe(tracer)
            tracer.collect_jobs()
            names = [m["name"] for m in spec["per_layer"]]
            metrics = metric_values(spec["per_layer"], layers.per_layer(
                names, tracer, wl, results, lats, traced, probe,
                session_s=session_s, warm_s=warm_s))
            record["spans"] = [vars(s) for s in tracer.spans]
            record["jobs"] = tracer.jobs
        os.makedirs(records, exist_ok=True)
        with open(os.path.join(records, f"{args.workload}-s{args.seed}-t{args.trace}-"
                                        f"{int(time.time())}-{os.getpid()}.json"), "w") as fh:
            json.dump(record, fh, default=str)
        print("run_record " + json.dumps({k: v for k, v in record.items()
                                          if k not in ("spans", "jobs")}), flush=True)
        print(json.dumps({"correct": failed == 0, "attempted": len(verdicts),
                          "failed": failed, "metrics": metrics}), flush=True)
        return 0
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
