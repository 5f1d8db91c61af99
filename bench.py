#!/usr/bin/env python
"""Headline benchmark: runs the workload queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric", "value", "unit", "queries", "sf"}.

Each query is materialized through the noop sink (all columns computed,
nothing collected to the driver) after a warmup pass of the session.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

def bench_queries():
    """The bench list IS the registry — generated, not hand-maintained,
    so it can never drift from REGISTRY again (round-7 verdict found 10
    driver-green queries that were never benched). Ordering follows the
    registry (gated prefix first), which keeps per-round BENCH_DETAIL
    diffs stable."""
    from hadoopgis_spark.workload import REGISTRY
    return list(REGISTRY)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from hadoopgis_spark.session import get_spark
    from hadoopgis_spark.workload import REGISTRY

    spark = get_spark("hgs-bench")
    # warm the JVM + parquet footers
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    timings, builds = time_queries(spark, sf_dir, bench_queries(), REGISTRY)
    out, detail = summarize(timings, builds, sf_dir)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_DETAIL.json"), "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    print(json.dumps(out))
    spark.stop()


def time_queries(spark, sf_dir, names, registry):
    """Run each query through the noop sink. Returns ``(timings,
    builds)``: wall seconds per query (-1.0 when it raised) and, for the
    queries that succeeded, the seconds their run spent inside memoized
    one-time builds. A failed query's wall time is not counted, so its
    build time is not either."""
    import hadoopgis_spark.workload as _wl

    timings: dict[str, float] = {}
    builds: dict[str, float] = {}  # memoized one-time build share
    for name in names:
        t0 = time.time()
        b0 = _wl._MEMO_BUILD_SECONDS
        try:
            registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # record failures, keep the bench alive
            print(f"bench {name} failed: {e}", file=sys.stderr)
            timings[name] = -1.0
            continue
        timings[name] = round(time.time() - t0, 3)
        b = round(_wl._MEMO_BUILD_SECONDS - b0, 3)
        if b > 0:
            builds[name] = b
    return timings, builds


def summarize(timings, builds, sf_dir):
    """(stdout line, BENCH_DETAIL.json record) from ``time_queries``
    output."""
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    failed = sorted(n for n, v in timings.items() if v < 0)
    slowest = dict(sorted(
        ((n, v) for n, v in timings.items() if v > 0),
        key=lambda kv: -kv[1])[:10])
    # The stdout line must stay SMALL: the driver's capture window
    # truncated the full 151-entry map in rounds 5-6 ("parsed": null in
    # BENCH_r05/r06.json). The driver contract requires a "queries"
    # key, so it stays — but it holds ONLY the 10 slowest entries, and
    # that truncation is now explicit ("queries_truncated" flag +
    # "detail" pointer) so a consumer summing "queries" as the full
    # per-query map fails loudly instead of silently undercounting.
    # The complete map goes to BENCH_DETAIL.json next to this script.
    total = round(sum(v for v in timings.values() if v > 0), 3)
    build_total = round(sum(builds.values()), 3)
    out = {
        "metric": "workload_total_wall",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_queries": len(timings),
        "n_failed": len(failed),
        "queries": slowest,
        "queries_truncated": True,
        "detail": "BENCH_DETAIL.json",
        # round-14 (additions-only, VERDICT r13 item 7): split the
        # headline into one-time memoized BUILD wall vs steady-state
        # SERVE wall, so round-over-round comparison can separate build
        # placement (which moves with every prefix rotation) from real
        # movement. value == build_total + serve_value by construction.
        "build_total": build_total,
        "serve_value": round(total - build_total, 3),
    }
    # the detail file must not point at itself (round-8 verdict): it IS
    # the full map, so the pointer key is dropped there
    # build-vs-serve split (round 13): "build_seconds" holds, per query,
    # the wall seconds its run spent inside MEMOIZED one-time builds
    # (layouts, persisted indexes, checkpointed shared frames) — charged
    # to whichever query triggered them, so serve time for query q is
    # queries[q] - build_seconds.get(q, 0). Cross-round comparisons
    # should compare serve times; build placement moves with every
    # prefix rotation.
    detail = dict(out, queries=timings, queries_truncated=False,
                  failed=failed, build_seconds=builds)
    del detail["detail"]
    return out, detail


if __name__ == "__main__":
    main()
