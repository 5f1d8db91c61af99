"""Partitioned spatial join (J1/J2/J5) — the engine's core operator.

Reference pipeline (``/root/reference/src/framework/query_spjoin.hpp:70-322``):
MBB-extract → sample → partition → multicast tile assignment → per-tile
R*-tree filter-refine join → duplicate removal. The Spark restatement is
one declarative plan:

1. ``with_mbb``   — MBB columns (skipped for box-native data)
2. extent/count   — one tiny agg per side
3. partitioner    — driver-side over a bounded sample (numpy)
4. assignment     — broadcast range join (multicast, J6)
5. pair join      — equi-join on tile_id AND the MBB overlap range
   condition (the filter step, JVM/codegen) — Catalyst/AQE choose the
   physical join; skewed tiles are split by AQE skew-join
6. refine         — exact predicate pandas UDF, only on candidates, and
   only when geometry is richer than its box
7. dedup          — reference-point technique for space partitioners
   (pure column predicate, **zero extra shuffle**, replaces the
   reference's whole dedup MR job ``duplicate_remover.cpp:28-42``);
   ``distinct()`` for MBR partitioners (str/hc) where tiles may overlap

Scale notes: the only driver-side data is the MBB sample (bounded) and
the tile table (≈ n/bucket rows, broadcast). Everything else is
shuffle-on-tile_id. No collect of data rows, ever.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hadoopgis_spark.functions import boxes as B
from hadoopgis_spark.functions.spatial import st_dwithin, st_predicate
from hadoopgis_spark.functions import spatial as S
from hadoopgis_spark.operators.mbb import (
    MBB_COLS,
    extent_and_spans,
    extent_count_sample,
    require_points_geo,
    with_mbb,
)
from hadoopgis_spark.operators.tile import (
    WRAP_X_COLS,
    assign_tiles,
    tiles_dataframe,
    unwrap_x,
    wrap_antimeridian,
)
from hadoopgis_spark.partition import (
    SPACE_PARTITIONERS,
    partition_tiles,
    partition_tiles_two_level,
)

__all__ = ["spatial_join", "default_bucket_size", "STAT_FIELDS"]

STAT_FIELDS = ("area1", "area2", "union", "intersect", "jaccard", "dice", "mindist", "tileid")

_BOX_PREDICATES = {"st_intersects", "st_contains", "st_within", "st_equals",
                   "st_adjacent", "st_dwithin", "st_touches", "st_overlaps",
                   "st_disjoint"}


def default_bucket_size(n_total: int, spark) -> int:
    """Objects per tile. The reference targets ~16 MB of objects per tile
    (``query_spjoin.hpp:146-152``); we target a few tiles per shuffle
    partition so every core stays busy and AQE can rebalance."""
    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return max(64, min(200_000, math.ceil(n_total / max(1, parts * 4))))


def _suffix_all(df: DataFrame, suffix: str) -> DataFrame:
    return df.select([F.col(c).alias(f"{c}{suffix}") for c in df.columns])


# analyzed-plan operators that can only PRESERVE or SHRINK the scan's
# row count — anything else (Generate/explode, Join, Union, Expand,
# FlatMap…) can multiply rows over the same single input directory and
# voids the manifest's upper-bound claim (round-12 advisor fix).
# Omissions are CONSERVATIVE (None → probe job, never a wrong bound);
# the r13 advisor pass added the row-preserving/shrinking Aggregate,
# Window, Sample, and Offset, and tests/test_plans.py pins these node
# names against the running Spark version's analyzed-plan toString.
_ROW_BOUNDED_OPS = frozenset({
    "Filter", "Project", "Relation", "LogicalRelation", "SubqueryAlias",
    "View", "GlobalLimit", "LocalLimit", "Sort", "Deduplicate",
    "Repartition", "RepartitionByExpression", "Distinct",
    "Aggregate", "Window", "Sample", "Offset",
})


def _manifest_rowcount_upper(df: DataFrame) -> int | None:
    """UPPER bound on ``df``'s row count from the zonemap manifest, when
    ``df`` is a row-bounded plan (scan/filter/project/limit shapes only)
    over exactly one manifest-backed table directory — read driver-side
    with ZERO Spark jobs (``inputFiles`` resolves from the already-built
    file index). ``None`` when not resolvable: multiple dirs, no
    manifest, a plan containing any row-multiplying operator (explode,
    self-join, union — ``inputFiles`` still reports one directory for
    those), or input files missing from the manifest (orphans from a
    crash between data-file landing and manifest rewrite hold rows the
    manifest never counted). Callers fall back to a probe job.
    Upper-bound direction is then safe: every admitted operator only
    preserves or shrinks the scan's count, and overestimating steers
    the auto strategy to the always-correct tile path."""
    from hadoopgis_spark.sources import fsio as _fsio

    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return None
    import re

    for line in plan.splitlines():
        m = re.match(r"^[\s:+\-]*'?([A-Za-z]+)", line)
        if m and m.group(1) not in _ROW_BOUNDED_OPS:
            return None
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    paths = [_fsio.uri_to_path(f) for f in files]
    dirs = {os.path.dirname(p) for p in paths}
    if len(dirs) != 1:
        return None
    from hadoopgis_spark.sources.skipping import _load_manifest

    try:
        rows = _load_manifest(None, dirs.pop())
    except Exception:
        return None
    if not rows:
        return None
    per_file: dict[str, int] = {}
    for r in rows:
        per_file[r.file] = int(r.rows)
    # orphan check: an input file the manifest never counted carries
    # rows outside the sum — the "upper bound" would silently undercount
    names = {os.path.basename(p) for p in paths}
    if not names <= set(per_file):
        return None
    return sum(per_file.values())


def spatial_join(
    a: DataFrame,
    b: DataFrame | None = None,
    predicate: str = "st_intersects",
    *,
    geom_col: str = "geom",
    distance: float | None = None,
    geography: bool = False,
    partitioner: str = "bsp",
    bucket_size: int | None = None,
    max_sample: int = 200_000,
    stats: list[str] | None = None,
    suffixes: tuple[str, str] = ("_1", "_2"),
    id_col: str = "id",
    replicate: bool = False,
    keep_mbb: bool = False,
    two_level: bool = False,
    strategy: str = "tile",
) -> DataFrame:
    """Spatial join of ``a`` with ``b`` (self-join when ``b`` is None).

    Parameters mirror the reference CLI (``queryprocessor_params_2d.hpp:26-60``):
    ``predicate`` ∈ the 10 boolean ``st_`` predicates; ``distance`` is
    ``-d`` for ``st_dwithin``; ``partitioner`` is ``-u``; ``bucket_size``
    is ``-z``; ``replicate`` is ``--replicate`` for self-joins
    (``spjoin_2d.hpp:78-84``); ``stats`` are the ``-f`` computed fields
    (``§2.5``: area1, area2, union, intersect, jaccard, dice, mindist,
    tileid).

    Returns all user columns of both sides with ``suffixes``, plus any
    requested stat columns.

    Semantics caveat carried over from the reference: ``st_disjoint`` is
    evaluated among tile-co-located candidate pairs only
    (``spjoin_2d.hpp:159-161``) — it is NOT a global anti-join.

    ``strategy``: ``"tile"`` (default — sample, partition, multicast,
    co-partitioned join; the 100 TB path) or ``"broadcast"`` — ship side
    B to every executor and skip tiling entirely: no shuffle, no
    replication, no dedup. The right choice when B fits in a broadcast
    (the analogue of the reference's join-side size checks,
    ``query_spjoin.hpp:74-95``). ``st_disjoint`` under broadcast is a
    true global anti-semantics evaluation (every pair is seen).
    """
    if predicate == "st_dwithin" and distance is None:
        raise ValueError("st_dwithin requires distance=")
    if predicate in ("st_nearest", "st_nearest2"):
        raise ValueError("use knn_join() for st_nearest/st_nearest2")
    stats = list(stats or [])
    for s in stats:
        if s not in STAT_FIELDS:
            raise ValueError(f"unknown stat field {s!r}; choose from {STAT_FIELDS}")

    self_join = b is None
    if self_join:
        b = a
    sfx1, sfx2 = suffixes

    wkt_mode = geom_col in a.columns
    if wkt_mode != (geom_col in b.columns):
        raise ValueError("both sides must carry the geometry column (or neither)")
    if not wkt_mode and predicate not in _BOX_PREDICATES:
        raise ValueError(f"{predicate} requires a WKT geometry column")

    if strategy not in ("tile", "broadcast", "auto"):
        raise ValueError("strategy must be 'tile', 'broadcast', or 'auto'")

    a = with_mbb(a, geom_col) if wkt_mode else a
    b = (a if self_join else with_mbb(b, geom_col)) if wkt_mode else b
    pad = float(distance or 0.0)
    # geography dwithin: the user's distance is in haversine METERS but
    # every pad below acts in planar DEGREE space — applying meters as
    # degrees multicasts every object to every tile (a 500 m threshold
    # padded every MBB by 500 degrees; the refine kept results correct
    # while the plan degenerated to accidental all-pairs). Convert the
    # meter radius to a conservative per-object degree pad instead
    # (``geo_degree_pad``) and refine with native haversine. Haversine
    # is a point metric, so this mode is points-only (checked below);
    # the same check guards the geography ``mindist`` stat, which would
    # otherwise silently measure box corners.
    geo_dwithin = geography and predicate == "st_dwithin"
    geo_point_check = geography and (geo_dwithin or "mindist" in stats)

    if strategy == "auto":
        # mirror the reference's join-side size check
        # (query_spjoin.hpp:74-95): broadcast a small side, tile otherwise.
        # Default calibrated at sf0.1 (|A|=20k): tile is flat ~0.95 s while
        # BroadcastNestedLoopJoin grows linearly in |B| (0.38 s @1k,
        # 1.44 s @8k, 2.62 s @15k) — crossover ≈ 5k rows, and the NLJ's
        # |A|·|B| probe cost only gets worse as the big side scales up.
        threshold = int(
            a.sparkSession.conf.get("hgs.broadcastRowThreshold", "5000")
        )
        # manifest-backed side: the row count is already in the zonemap
        # manifest — read it driver-side (zero jobs) before paying the
        # limit() probe job. The manifest total is an UPPER bound when b
        # carries filters or a pruned file subset, and an overestimate
        # only ever steers to the always-correct tile path.
        est = _manifest_rowcount_upper(b)
        if est is not None:
            small_b = est <= threshold
        else:
            small_b = b.limit(threshold + 1).count() <= threshold
        strategy = "broadcast" if (small_b and not self_join) else "tile"

    if strategy == "broadcast":
        return _broadcast_join(
            a, b, predicate, self_join, wkt_mode, geom_col, pad, geography,
            stats, suffixes, id_col, replicate, keep_mbb,
        )

    # ---- extent + count + sample (bounded driver data; ONE pass when
    # the footer row bound proves the frame fits the sample budget) ----
    mbb_union = a.select(*MBB_COLS) if self_join else (
        a.select(*MBB_COLS).unionByName(b.select(*MBB_COLS))
    )
    ext, sample = extent_count_sample(
        mbb_union, max_sample, spans=geo_point_check)
    if geo_point_check:
        require_points_geo(ext, "spatial_join(geography=True)")
    x0, y0, x1, y1, n_total = ext[0], ext[1], ext[2], ext[3], int(ext[4])
    if n_total == 0:
        empty = _pair_schema_frame(a, b, sfx1, sfx2, stats, keep_mbb)
        return empty
    bucket = bucket_size or default_bucket_size(n_total, a.sparkSession)
    scaled_bucket = max(1, int(bucket * min(1.0, max_sample / n_total)))
    fit = partition_tiles_two_level if two_level else partition_tiles
    tiles = fit(sample, scaled_bucket, partitioner, cover_plane=True)
    tiles_df = tiles_dataframe(a.sparkSession, tiles)
    use_refpoint = partitioner in SPACE_PARTITIONERS

    # ---- multicast assignment (J6) ------------------------------------
    m1_names = tuple(f"{c}{sfx1}" for c in MBB_COLS)
    m2_names = tuple(f"{c}{sfx2}" for c in MBB_COLS)
    # the assignment pad, the pair-join range pad, and the refpoint
    # dedup pad must be the SAME expression — exactly-once emission
    # relies on the refpoint of the padded intersection lying in a tile
    # both sides were multicast to
    # round 13 (guide §2.3 "compute once, shuffle the value"): the
    # meters→degrees pad is a trig expression of A's latitude only, yet
    # as a bare Column it re-evaluated per (row × tile) candidate in the
    # assignment's broadcast range join AND per candidate pair in the
    # pair join / wrap / refpoint filters. Materialize it ONCE per A row
    # as a real column before anything references it — identical values
    # (same expression over the same inputs), one double carried through
    # the shuffle instead of per-candidate trig.
    geo_pad_col = geo_dwithin and bool(pad)
    pad_a = F.col("_hgs_pad") if geo_pad_col else pad
    # antimeridian wrap (round-12 verdict fix): when the lon span exceeds
    # 180° a true pair's nearer representation may be the wrapped one —
    # multicast ±360° copies of seam-reaching A rows (originals stashed);
    # span ≤ 180° datasets skip this entirely (direct == wrapped there),
    # keeping regional plans byte-identical
    wrap = bool(geo_dwithin and pad and (float(x1) - float(x0)) > 180.0)
    a1 = _suffix_all(a, sfx1)
    if geo_pad_col:
        a1 = a1.withColumn(
            "_hgs_pad",
            B.geo_degree_pad(F.lit(pad), F.col(m1_names[1]), F.col(m1_names[3])),
        )
    if wrap:
        a1 = wrap_antimeridian(a1, pad_a, m1_names, (float(x0), float(x1)))
    at = assign_tiles(a1, tiles_df, pad=pad_a, mbb_cols=m1_names)
    if not use_refpoint:
        at = at.drop("t_xmin", "t_ymin", "t_xmax", "t_ymax")
    bt = assign_tiles(_suffix_all(b, sfx2), tiles_df, mbb_cols=m2_names).drop(
        "t_xmin", "t_ymin", "t_xmax", "t_ymax"
    )

    # ---- pair join: tile equi-join + MBB range condition ---------------
    m1 = [f"{c}{sfx1}" for c in MBB_COLS]
    m2 = [f"{c}{sfx2}" for c in MBB_COLS]
    cond = B.box_intersects(*[F.col(c) for c in m1], *[F.col(c) for c in m2], pad=pad_a)
    joined = at.join(bt, on=["tile_id"], how="inner").filter(cond)
    # m1_eval: the coordinates every REFINE / stat / output must read —
    # the stashed originals under wrap (haversine on a ±360-shifted lon
    # is equal in exact math but not bit-identical; the oracle
    # discipline requires the original coordinates' IEEE tree)
    m1_eval = [WRAP_X_COLS[0], m1[1], WRAP_X_COLS[1], m1[3]] if wrap else m1
    if wrap:
        # exactly-once across representations: a wrapped copy's pair
        # survives only where the DIRECT x-test fails (token-mirror of
        # box_intersects' padded form on the stashed originals); the
        # refpoint dedup below then handles tile duplicates within the
        # single surviving representation
        direct_x = (
            (F.col(m1_eval[0]) - pad_a <= F.col(m2[2]))
            & (F.col(m2[0]) <= F.col(m1_eval[2]) + pad_a)
        )
        is_copy = F.col(m1[0]) != F.col(m1_eval[0])
        joined = joined.filter(~is_copy | ~direct_x)

    # ---- self-join pair rules (spjoin_2d.hpp:78-84) --------------------
    if self_join:
        idc1, idc2 = f"{id_col}{sfx1}", f"{id_col}{sfx2}"
        if idc1 not in joined.columns:
            raise ValueError(f"self-join needs id column {id_col!r}")
        joined = joined.filter(F.col(idc1) != F.col(idc2))
        if not replicate:
            joined = joined.filter(F.col(idc1) < F.col(idc2))

    # ---- refine (exact geometry, candidates only) ----------------------
    g1, g2 = f"{geom_col}{sfx1}", f"{geom_col}{sfx2}"
    if geo_dwithin:
        # points-only (enforced above): the MBB corner IS the point, so
        # the haversine refine stays native column math — no Python
        # boundary (reference constants, spjoin_2d.hpp:167-205); reads
        # m1_eval so wrapped copies refine on their ORIGINAL lon
        # (haversine is periodic, so the wrapped pair passes exactly
        # when the oracle's cross-join form counts it)
        joined = joined.filter(
            B.haversine_m(F.col(m1_eval[0]), F.col(m1_eval[1]),
                          F.col(m2[0]), F.col(m2[1]))
            <= pad
        )
    elif wkt_mode:
        if predicate == "st_dwithin":
            joined = joined.filter(st_dwithin(F.col(g1), F.col(g2), pad, geography=False))
        else:
            joined = joined.filter(st_predicate(predicate)(F.col(g1), F.col(g2)))
    else:
        joined = joined.filter(_box_predicate(predicate, m1, m2, pad))

    # ---- dedup (O4) ----------------------------------------------------
    out_cols = [f"{c}{sfx1}" for c in a.columns if keep_mbb or c not in MBB_COLS] + [
        f"{c}{sfx2}" for c in b.columns if keep_mbb or c not in MBB_COLS
    ]
    if "tileid" in stats:
        out_cols.append("tile_id")
    joined = _append_stats(joined, stats, wkt_mode, g1, g2, m1_eval, m2, geography)
    stat_cols = [s for s in stats if s != "tileid"]
    if use_refpoint:
        # emit the pair only in the tile owning the reference point of the
        # (padded) MBB intersection — globally exactly once, no shuffle;
        # the pad here MUST mirror the assignment pad (degree-converted
        # under geography) or padded-overlap pairs land on unvisited tiles
        pad_c = pad_a if isinstance(pad_a, Column) else F.lit(pad)
        rx = F.greatest(F.col(m1[0]) - pad_c, F.col(m2[0]))
        ry = F.greatest(F.col(m1[1]) - pad_c, F.col(m2[1]))
        on_ref_tile = (
            (rx >= F.col("t_xmin")) & (rx < F.col("t_xmax"))
            & (ry >= F.col("t_ymin")) & (ry < F.col("t_ymax"))
        )
        joined = joined.filter(on_ref_tile)
        if wrap:  # restore original x for keep_mbb outputs
            joined = unwrap_x(joined, m1)
        return joined.select(*out_cols, *stat_cols)
    # MBR partitioners: tiles can overlap → exact-duplicate removal,
    # the reference's dedup job (duplicate_remover.cpp:28-42)
    if wrap:
        joined = unwrap_x(joined, m1)
    return joined.select(*out_cols, *stat_cols).distinct()


def _broadcast_join(
    a, b, predicate, self_join, wkt_mode, geom_col, pad, geography,
    stats, suffixes, id_col, replicate, keep_mbb,
):
    """Broadcast-side-B spatial join: one stage, no shuffle, no dedup.

    Round 13: the join's parallelism is the PROBE side's partitioning.
    A probe that scans as exactly ONE partition (a single-row-group
    parquet file — unsplittable by maxPartitionBytes — or any other
    serial source) runs the whole |A|x|B| candidate evaluation on one
    core; round-robin it across the session's shuffle width first (the
    guide's unsplittable-input fix). Any parallel scan keeps the
    strategy's zero-shuffle contract (pinned in tests): shuffling a big
    probe side merely for width would be a wasted full pass."""
    sfx1, sfx2 = suffixes
    at = _suffix_all(a, sfx1)
    bt = _suffix_all(b, sfx2)
    try:
        serial_probe = at.rdd.getNumPartitions() == 1
    except Exception:
        serial_probe = False
    if serial_probe:
        parts = int(a.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "32"))
        at = at.repartition(parts)
    m1 = [f"{c}{sfx1}" for c in MBB_COLS]
    m2 = [f"{c}{sfx2}" for c in MBB_COLS]
    geo_dwithin = geography and predicate == "st_dwithin"
    pad_a = pad
    geo_wrap = False
    if geography and (geo_dwithin or "mindist" in stats):
        mbb_union = a.select(*MBB_COLS) if self_join else (
            a.select(*MBB_COLS).unionByName(b.select(*MBB_COLS))
        )
        ext = extent_and_spans(mbb_union)
        require_points_geo(ext, "spatial_join(geography=True)")
        if geo_dwithin and pad:
            # meters → conservative per-row degree pad, materialized
            # once per A row (same round-13 note as the tile path: as a
            # bare Column the trig re-evaluated per |A|×|B| candidate)
            at = at.withColumn(
                "_hgs_pad",
                B.geo_degree_pad(F.lit(pad), F.col(m1[1]), F.col(m1[3])),
            )
            pad_a = F.col("_hgs_pad")
            geo_wrap = (
                int(ext[4]) > 0 and float(ext[2]) - float(ext[0]) > 180.0
            )
    cond = B.box_intersects(*[F.col(c) for c in m1], *[F.col(c) for c in m2], pad=pad_a)
    if geo_wrap:
        # antimeridian wrap under broadcast: every pair is evaluated, so
        # the candidate test just ORs the ±360°-shifted A-box variants —
        # extra candidates are harmless (the haversine refine decides)
        def _sx(s: float):
            return B.box_intersects(
                F.col(m1[0]) + F.lit(s), F.col(m1[1]),
                F.col(m1[2]) + F.lit(s), F.col(m1[3]),
                *[F.col(c) for c in m2], pad=pad_a,
            )
        cond = cond | _sx(-360.0) | _sx(360.0)
    if predicate == "st_disjoint":
        # broadcast sees every pair: true global disjoint semantics
        cond = F.lit(True)
    joined = at.join(F.broadcast(bt), cond)
    if self_join:
        idc1, idc2 = f"{id_col}{sfx1}", f"{id_col}{sfx2}"
        if idc1 not in joined.columns:
            raise ValueError(f"self-join needs id column {id_col!r}")
        joined = joined.filter(F.col(idc1) != F.col(idc2))
        if not replicate:
            joined = joined.filter(F.col(idc1) < F.col(idc2))
    g1, g2 = f"{geom_col}{sfx1}", f"{geom_col}{sfx2}"
    if geo_dwithin:
        joined = joined.filter(
            B.haversine_m(F.col(m1[0]), F.col(m1[1]), F.col(m2[0]), F.col(m2[1]))
            <= pad
        )
    elif wkt_mode:
        if predicate == "st_dwithin":
            joined = joined.filter(st_dwithin(F.col(g1), F.col(g2), pad, geography=False))
        else:
            joined = joined.filter(st_predicate(predicate)(F.col(g1), F.col(g2)))
    else:
        joined = joined.filter(_box_predicate(predicate, m1, m2, pad))
    out_cols = [f"{c}{sfx1}" for c in a.columns if keep_mbb or c not in MBB_COLS] + [
        f"{c}{sfx2}" for c in b.columns if keep_mbb or c not in MBB_COLS
    ]
    if "tileid" in stats:
        raise ValueError("tileid stat is undefined under strategy='broadcast'")
    joined = _append_stats(joined, stats, wkt_mode, g1, g2, m1, m2, geography)
    return joined.select(*out_cols, *[s for s in stats if s != "tileid"])


def _box_predicate(predicate: str, m1: list[str], m2: list[str], pad: float) -> Column:
    c1 = [F.col(c) for c in m1]
    c2 = [F.col(c) for c in m2]
    if predicate in ("st_intersects", "st_adjacent"):
        return B.box_intersects(*c1, *c2)
    if predicate == "st_dwithin":
        return B.box_distance(*c1, *c2) <= pad
    if predicate == "st_contains":
        return B.box_contains(*c1, *c2)
    if predicate == "st_within":
        return B.box_contains(*c2, *c1)
    if predicate == "st_equals":
        return (
            (c1[0] == c2[0]) & (c1[1] == c2[1]) & (c1[2] == c2[2]) & (c1[3] == c2[3])
        )
    if predicate == "st_touches":
        return B.box_intersects(*c1, *c2) & (B.box_intersection_area(*c1, *c2) <= 0.0)
    if predicate == "st_overlaps":
        i = B.box_intersection_area(*c1, *c2)
        return (i > 0) & (i < B.box_area(*c1)) & (i < B.box_area(*c2))
    if predicate == "st_disjoint":
        # per-tile caveat: disjoint among co-located candidates
        return ~B.box_intersects(*c1, *c2)
    raise ValueError(f"unsupported box predicate {predicate}")


def _append_stats(
    df: DataFrame,
    stats: list[str],
    wkt_mode: bool,
    g1: str,
    g2: str,
    m1: list[str],
    m2: list[str],
    geography: bool,
) -> DataFrame:
    """Computed output fields (§2.5, ``spjoin_2d.hpp:226-264``) — lazily
    evaluated by Catalyst only when selected."""
    if not stats:
        return df
    c1 = [F.col(c) for c in m1]
    c2 = [F.col(c) for c in m2]
    for s in stats:
        if s == "tileid":
            continue
        if wkt_mode:
            col = {
                "area1": lambda: S.st_area(F.col(g1)),
                "area2": lambda: S.st_area(F.col(g2)),
                "union": lambda: S.st_union_area(F.col(g1), F.col(g2)),
                "intersect": lambda: S.st_intersection_area(F.col(g1), F.col(g2)),
                "jaccard": lambda: S.st_jaccard(F.col(g1), F.col(g2)),
                "dice": lambda: S.st_dice(F.col(g1), F.col(g2)),
                "mindist": lambda: (
                    # points-only under geography (enforced in the
                    # callers): the MBB corner IS the point, so the
                    # haversine stat stays native column math
                    B.haversine_m(F.col(m1[0]), F.col(m1[1]),
                                  F.col(m2[0]), F.col(m2[1]))
                    if geography else S.st_distance(F.col(g1), F.col(g2))
                ),
            }[s]()
        else:
            col = {
                "area1": lambda: B.box_area(*c1),
                "area2": lambda: B.box_area(*c2),
                "union": lambda: B.box_union_area(*c1, *c2),
                "intersect": lambda: B.box_intersection_area(*c1, *c2),
                "jaccard": lambda: B.box_jaccard(*c1, *c2),
                "dice": lambda: B.box_dice(*c1, *c2),
                "mindist": lambda: (
                    B.haversine_m(F.col(m1[0]), F.col(m1[1]),
                                  F.col(m2[0]), F.col(m2[1]))
                    if geography else B.box_distance(*c1, *c2)
                ),
            }[s]()
        df = df.withColumn(s, col)
    return df


def _pair_schema_frame(a, b, sfx1, sfx2, stats, keep_mbb) -> DataFrame:
    cols = [f"{c}{sfx1}" for c in a.columns if keep_mbb or c not in MBB_COLS] + [
        f"{c}{sfx2}" for c in b.columns if keep_mbb or c not in MBB_COLS
    ]
    out = _suffix_all(a, sfx1).join(_suffix_all(b, sfx2), F.lit(False)).select(*cols)
    for s in stats:
        out = out.withColumn("tile_id" if s == "tileid" else s, F.lit(None).cast("double"))
    return out
