"""The benchmark's workloads: inputs from a seed, one timed operation,
and an output check that runs outside the timed span.

Every workload follows the same protocol, driven by ``run.py``:

* ``build()``  — generate the seeded inputs and land them (repeated for
  the median set-up time);
* ``warm()``   — untimed first calls, so the JIT and Python workers are
  warm before timing starts;
* ``op(i)``    — one closed-loop operation: the engine call plus the
  action that consumes its output; returns a small result payload;
* ``check(results)`` — per-operation verdicts against pinned digests
  (default seed) and a brute-force reference through
  ``hadoopgis_spark.geometry`` (every seed);
* ``probe()``  — traced run only: times the lazy layers by materialising
  each layer's public function alone;
* ``companion()`` — traced run only: another workload whose operation is
  traced once, for a layer this workload's own operation does not reach.

The engine is reached only through its public modules, looked up at call
time so the traced run's wrappers are seen.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import hadoopgis_spark.functions.spatial as hspatial
import hadoopgis_spark.geometry as hgeom
import hadoopgis_spark.operators as hops
import hadoopgis_spark.operators.mbb as hmbb
import hadoopgis_spark.sources as hsrc

DEFAULT_SEED = 1
HASH_MOD = 1 << 31
TRI_SIZE = 12.0
PROBE_REPS = 3


def _digest(*cols) -> F.Column:
    """Order-independent digest term: summed xxhash64 folded below 2^31
    so the sum cannot overflow."""
    return F.sum(F.pmod(F.xxhash64(*cols), F.lit(HASH_MOD)))


def noop(df: DataFrame) -> float:
    """Materialise ``df`` to the no-op sink; wall seconds."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def noop_median(df: DataFrame) -> float:
    """Median of :data:`PROBE_REPS` :func:`noop` materialisations."""
    return statistics.median(noop(df) for _ in range(PROBE_REPS))


def tri_xy(spark: SparkSession, n: int, seed: int, extent: float) -> DataFrame:
    """Triangle anchors of ``tools/bench_reference_scale.py::tri_df``:
    hash-derived, so the same (n, seed) gives the same rows on any
    partitioning."""
    df = spark.range(1, n + 1)
    r1 = F.hash(F.col("id"), F.lit(seed)) % 1000000 / 1000000.0
    r2 = F.hash(F.col("id"), F.lit(seed + 1)) % 1000000 / 1000000.0
    return df.select("id", (F.abs(r1) * extent).alias("x"),
                     (F.abs(r2) * extent).alias("y"))


def tri_df(spark: SparkSession, n: int, seed: int, extent: float) -> DataFrame:
    """WKT right triangles at :func:`tri_xy`'s anchors (the reference
    generator's shape and formula)."""
    x, y, s = F.col("x"), F.col("y"), TRI_SIZE
    wkt = F.concat(
        F.lit("POLYGON (("), x, F.lit(" "), y, F.lit(", "),
        x + s, F.lit(" "), y, F.lit(", "),
        x, F.lit(" "), y + s, F.lit(", "),
        x, F.lit(" "), y, F.lit("))"))
    return tri_xy(spark, n, seed, extent).select("id", wkt.alias("geom"))


def tri_wkt(x: float, y: float) -> str:
    """The generator's triangle at anchor (x, y), as Python writes it:
    plain floats, whose repr round-trips exactly."""
    s = TRI_SIZE
    x, y = float(x), float(y)
    return f"POLYGON (({x!r} {y!r}, {x + s!r} {y!r}, {x!r} {y + s!r}, {x!r} {y!r}))"


def load_digests(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


class Workload:
    name = ""

    def __init__(self, spark: SparkSession, work: str, seed: int, digests: dict):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.digests = digests
        self.pinned = digests.get(self.name) if seed == DEFAULT_SEED else None
        self.rng = np.random.default_rng([seed, 7])

    def digest_record(self, results) -> dict:
        """What ``--write-digests`` pins for this workload."""
        raise NotImplementedError

    def probe(self, tracer) -> dict:
        """Per-layer values only a separate materialisation can give."""
        return {}

    def companion(self) -> Workload | None:
        return None


class _PairWorkload(Workload):
    """Shared shape of the two triangle-pair workloads: parquet inputs
    for sides a and b, an operation whose action returns (rows, digest,
    rows of a seeded sample of left ids)."""

    n_a = n_b = 0
    extent = 0.0
    seed_a = seed_b = 0
    stat = ""
    n_check = 40

    def build(self) -> None:
        ain, bin_ = (os.path.join(self.work, "in", s) for s in ("a", "b"))
        sa, sb = self.seed + self.seed_a, self.seed + self.seed_b
        tri_df(self.spark, self.n_a, sa, self.extent).write.mode("overwrite").parquet(ain)
        tri_df(self.spark, self.n_b, sb, self.extent).write.mode("overwrite").parquet(bin_)
        self.a = self.spark.read.parquet(ain)
        self.b = self.spark.read.parquet(bin_)
        self.sample_ids = sorted(int(v) for v in self.rng.choice(
            np.arange(1, self.n_a + 1), self.n_check, replace=False))

    def call(self, a: DataFrame, b: DataFrame) -> DataFrame:
        raise NotImplementedError

    def action(self, out: DataFrame) -> dict:
        row = out.agg(
            F.count(F.lit(1)).alias("n"),
            _digest("id_1", "id_2", F.round(self.stat, 6)).alias("h"),
            F.collect_list(F.when(
                F.col("id_1").isin(self.sample_ids),
                F.struct("id_1", "id_2", self.stat))).alias("s"),
        ).collect()[0]
        return {"n": int(row.n), "h": int(row.h or 0),
                "sample": sorted((int(r[0]), int(r[1]), float(r[2])) for r in row.s)}

    def op(self, i: int, tracer=None) -> dict:
        out = self.call(self.a, self.b)
        if tracer is None:
            return self.action(out)
        with tracer.span(self.layer + ".action"):
            return self.action(out)

    def warm(self) -> None:
        for _ in range(self.warm_calls):
            self.action(self.call(self.a, self.b))

    def digest_record(self, results) -> dict:
        return {"n": results[0]["n"], "h": results[0]["h"]}

    # -- checks ----------------------------------------------------------
    def _anchors(self, n: int, seed: int):
        pdf = tri_xy(self.spark, n, seed, self.extent).toPandas()
        return (pdf["id"].to_numpy(), pdf["x"].to_numpy(), pdf["y"].to_numpy())

    def expected_sample(self) -> list:
        raise NotImplementedError

    def check(self, results) -> list:
        expect = self.expected_sample()
        verdicts = []
        for r in results:
            problems = []
            if r is None:
                verdicts.append("raised")
                continue
            if self.pinned and (r["n"], r["h"]) != (self.pinned["n"], self.pinned["h"]):
                problems.append(f"digest {r['n']},{r['h']} != pinned "
                                f"{self.pinned['n']},{self.pinned['h']}")
            problems += _compare_pairs(r["sample"], expect)
            verdicts.append("; ".join(problems) or None)
        return verdicts


def _compare_pairs(got: list, expect: list) -> list:
    if [(a, b) for a, b, _ in got] != [(a, b) for a, b, _ in expect]:
        missing = sorted(set((a, b) for a, b, _ in expect) - set((a, b) for a, b, _ in got))
        extra = sorted(set((a, b) for a, b, _ in got) - set((a, b) for a, b, _ in expect))
        return [f"sampled pairs differ: missing {missing[:5]} extra {extra[:5]}"]
    bad = [(a, b, d, e) for (a, b, d), (_, _, e) in zip(got, expect)
           if not math.isclose(d, e, rel_tol=1e-9, abs_tol=1e-9)]
    return [f"sampled distances differ: {bad[:3]}"] if bad else []


class TriJoin(_PairWorkload):
    """``spatial_join(a, b, "st_intersects", stats=["mindist"])`` on the
    reference generator's triangles, 5:8 sides. ``max_sample`` is set
    below the input size so the sampled two-pass extent path runs."""

    name = "tri_join"
    layer = "operators.spatial_join"
    n_a, n_b = 16_000, 25_600
    extent = 10_000.0
    seed_a, seed_b = 0, 1000
    max_sample = 20_000
    stat = "mindist"
    warm_calls = 2

    def call(self, a, b):
        return hops.spatial_join(a, b, "st_intersects", stats=["mindist"],
                                 max_sample=self.max_sample)

    def companion(self) -> Workload:
        """The kNN join, traced once in a traced run so the ``operators.knn``
        layer is measured (it is not a timed workload: see ``TriKnn``)."""
        return TriKnn(self.spark, os.path.join(self.work, "knn"), self.seed, self.digests)

    def expected_sample(self) -> list:
        ida, xa, ya = self._anchors(self.n_a, self.seed + self.seed_a)
        idb, xb, yb = self._anchors(self.n_b, self.seed + self.seed_b)
        pos = {int(v): k for k, v in enumerate(ida)}
        out = []
        for i in self.sample_ids:
            k = pos[i]
            near = np.nonzero((np.abs(xb - xa[k]) <= TRI_SIZE + 1e-6)
                              & (np.abs(yb - ya[k]) <= TRI_SIZE + 1e-6))[0]
            ga = tri_wkt(xa[k], ya[k])
            for j in near:
                gb = tri_wkt(xb[j], yb[j])
                if hgeom.intersects(ga, gb):
                    out.append((i, int(idb[j]), float(hgeom.distance(ga, gb))))
        return sorted(out)

    def probe(self, tracer) -> dict:
        """Parse, multicast and refine, each materialised alone over its
        own input checkpointed in memory, so each time is that layer's
        work plus a scan of cached rows; multicast uses the tile table
        the traced join chose (no traced join: no probe)."""
        tiles_df = tracer.captured.get("tiles_df")
        if tiles_df is None:
            return {}
        n_in = self.n_a + self.n_b
        raw = [side.localCheckpoint() for side in (self.a, self.b)]
        parse_s = sum(noop_median(hmbb.with_mbb(r)) for r in raw)
        ma, mb = (hmbb.with_mbb(r).localCheckpoint() for r in raw)
        assigned = sum(hops.assign_tiles(m, tiles_df).count() for m in (ma, mb))
        assign_s = sum(noop_median(hops.assign_tiles(m, tiles_df)) for m in (ma, mb))
        # MBB candidates: the same join over box-native rows, geometry
        # carried as an opaque payload column
        boxes = [m.withColumnRenamed("geom", "wkt") for m in (ma, mb)]
        cands = hops.spatial_join(*boxes, "st_intersects",
                                  max_sample=self.max_sample).localCheckpoint()
        n_cand = cands.count()
        refine_s = noop_median(
            cands.filter(hspatial.st_predicate("st_intersects")(
                F.col("wkt_1"), F.col("wkt_2")))
            .withColumn("mindist", hspatial.st_distance(F.col("wkt_1"), F.col("wkt_2"))))
        return {
            "operators.mbb.parse_s": parse_s,
            "operators.mbb.parse_rows_per_s": n_in / parse_s,
            "operators.tile.assign_s": assign_s,
            "operators.tile.multicast": assigned / n_in,
            "operators.spatial_join.candidates": n_cand,
            "geometry.refine_s": refine_s,
            "geometry.refine_pairs_per_s": n_cand / refine_s,
        }


class TriKnn(_PairWorkload):
    """``knn_join(a, b, k=3, mode="exact")`` at the reference's 2:3 side
    ratio and point density (20k x 30k over a 3000-unit square).

    Not a timed workload: a call is ~14 small Spark jobs, so its latency
    follows the host's scheduling noise (medians of ten runs spread by up
    to a third on a shared 4-core host). It runs as ``tri_join``'s
    companion instead, and can still be run by hand."""

    name = "tri_knn"
    layer = "operators.knn"
    k = 3
    n_a, n_b = 1_000, 1_500
    extent = 3000.0 * math.sqrt((1_000 + 1_500) / 50_000)
    seed_a, seed_b = 7, 77
    stat = "distance"
    warm_calls = 2

    def call(self, a, b):
        return hops.knn_join(a, b, k=self.k, mode="exact")

    def expected_sample(self) -> list:
        ida, xa, ya = self._anchors(self.n_a, self.seed + self.seed_a)
        idb, xb, yb = self._anchors(self.n_b, self.seed + self.seed_b)
        pos = {int(v): k for k, v in enumerate(ida)}
        s = TRI_SIZE
        out = []
        for i in self.sample_ids:
            k = pos[i]
            # box distance lower bound and far-corner upper bound prune
            # the exact kernel to the few pairs that can rank in the top k
            dx = np.maximum(0.0, np.maximum(xb - (xa[k] + s), xa[k] - (xb + s)))
            dy = np.maximum(0.0, np.maximum(yb - (ya[k] + s), ya[k] - (yb + s)))
            lo = np.hypot(dx, dy)
            hi = np.hypot(np.abs(xb - xa[k]) + s, np.abs(yb - ya[k]) + s)
            bound = np.partition(hi, self.k - 1)[self.k - 1]
            near = np.nonzero(lo <= bound)[0]
            ga = tri_wkt(xa[k], ya[k])
            ranked = sorted((float(hgeom.distance(ga, tri_wkt(xb[j], yb[j]))),
                             int(idb[j])) for j in near)
            out += [(i, j, d) for d, j in ranked[:self.k]]
        return sorted(out)


class TileWindows(Workload):
    """Clustered triangles as TSV: ``read_tsv`` -> ``save_partitioned``
    lands the partitioned layout, then a closed loop of seeded windows,
    biased toward the clusters, reads it through ``load_partitioned``."""

    name = "tile_windows"
    n_rows = 20_000
    # more than 32 tile directories, so Spark lists them with a parallel
    # job on every read (spark.sql.sources.parallelPartitionDiscovery.threshold)
    bucket_size = 470
    n_files = 4
    extent = 10_000.0
    n_clusters = 8
    warm_windows = 4
    window_r = 150.0
    n_contain_check = 2

    def __init__(self, *args):
        super().__init__(*args)
        # the cluster layout is part of the workload's definition, not of
        # the sample: seeds draw rows and windows from one fixed mixture,
        # so seed-to-seed spread measures the engine, not the layout
        self.centers = np.random.default_rng(0).uniform(1000.0, 9000.0, (self.n_clusters, 2))
        rng = np.random.default_rng([self.seed, 1])
        n = self.n_rows
        clustered = rng.random(n) < 0.85
        xy = np.where(clustered[:, None],
                      self.centers[rng.integers(0, self.n_clusters, n)]
                      + rng.normal(0.0, 350.0, (n, 2)),
                      rng.uniform(0.0, self.extent, (n, 2)))
        self.xy = np.clip(xy, 0.0, self.extent)
        self.tsv = os.path.join(self.work, "in", "tsv")
        self.path = os.path.join(self.work, "in", "tiles")

    def window(self, i: int) -> str:
        """Window ``i`` of the seeded sequence: a fixed-size diamond (so
        the exact refine runs), 80% of them centred near a cluster."""
        rng = np.random.default_rng([self.seed, 3, i % (1 << 30)])
        if rng.random() < 0.8:
            c = self.centers[rng.integers(0, self.n_clusters)] + rng.normal(0.0, 300.0, 2)
        else:
            c = rng.uniform(0.0, self.extent, 2)
        cx, cy = c.tolist()
        r = self.window_r
        return (f"POLYGON (({cx - r} {cy}, {cx} {cy - r}, {cx + r} {cy}, "
                f"{cx} {cy + r}, {cx - r} {cy}))")

    def write_tsv(self) -> None:
        shutil.rmtree(self.tsv, ignore_errors=True)
        os.makedirs(self.tsv)
        for f, part in enumerate(np.array_split(np.arange(self.n_rows), self.n_files)):
            with open(os.path.join(self.tsv, f"part-{f:05d}.tsv"), "w") as fh:
                fh.writelines(f"{i}\t{tri_wkt(x, y)}\n"
                              for i, (x, y) in zip(part.tolist(), self.xy[part].tolist()))

    def build(self) -> None:
        """Write the TSV, then the load step a user runs: read it, land
        the layout."""
        self.write_tsv()
        df = hsrc.read_tsv(self.spark, self.tsv, geom_idx=2)
        hsrc.save_partitioned(df, self.path, bucket_size=self.bucket_size)

    def warm(self) -> None:
        for i in range(self.warm_windows):
            self.action(hsrc.load_partitioned(self.spark, self.path, self.window(-1 - i)))

    @staticmethod
    def action(out: DataFrame) -> dict:
        row = out.agg(F.count(F.lit(1)).alias("n"), _digest("f1").alias("h"),
                      F.collect_list("f1").alias("ids")).collect()[0]
        return {"n": int(row.n), "h": int(row.h or 0),
                "ids": sorted(int(v) for v in row.ids)}

    def op(self, i: int, tracer=None) -> dict:
        out = hsrc.load_partitioned(self.spark, self.path, self.window(i))
        if tracer is None:
            return dict(self.action(out), i=i)
        with tracer.span("operators.containment.action"):
            return dict(self.action(out), i=i)

    def digest_record(self, results) -> dict:
        return {"windows": [[r["n"], r["h"]] for r in results if r is not None]}

    def expected_ids(self, i: int) -> list:
        wkt = self.window(i)
        x0, y0, x1, y1 = hgeom.Geometry.from_wkt(wkt).bbox
        x, y = self.xy[:, 0], self.xy[:, 1]
        near = np.nonzero((x <= x1) & (x + TRI_SIZE >= x0)
                          & (y <= y1) & (y + TRI_SIZE >= y0))[0]
        return sorted(j for j in near.tolist() if hgeom.intersects(
            tri_wkt(x[j], y[j]), wkt))

    def check(self, results) -> list:
        pinned = (self.pinned or {}).get("windows", [])
        # a seeded few windows also against containment() on the
        # unpartitioned frame (a different code path: no tile pruning,
        # fused parse + refine)
        raw = hsrc.read_tsv(self.spark, self.tsv, geom_idx=2)
        picks = set(self.rng.choice(len(results), min(self.n_contain_check, len(results)),
                                    replace=False).tolist())
        verdicts = []
        for k, r in enumerate(results):
            if r is None:
                verdicts.append("raised")
                continue
            problems = []
            i = r["i"]
            if i < len(pinned) and [r["n"], r["h"]] != pinned[i]:
                problems.append(f"window {i}: digest {r['n']},{r['h']} != pinned {pinned[i]}")
            if r["ids"] != self.expected_ids(i):
                problems.append(f"window {i}: ids differ from the brute-force reference")
            if k in picks:
                ref = self.action(hops.containment(raw, self.window(i)))
                if (ref["n"], ref["h"]) != (r["n"], r["h"]):
                    problems.append(f"window {i}: {r['n']},{r['h']} != containment() "
                                    f"{ref['n']},{ref['h']}")
            verdicts.append("; ".join(problems) or None)
        return verdicts


WORKLOADS = {w.name: w for w in (TriJoin, TriKnn, TileWindows)}
