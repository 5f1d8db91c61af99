"""Per-layer metrics of a traced run, named after the engine modules.

Units of work are the root spans: each ``build`` (input landing, repeated
for set-up), each traced ``op`` and a traced companion operation, which
counts for its own layer only. A layer metric is the median, over
the units in which the layer ran, of that layer's value in one unit; a
layer that never ran in this workload reports 0.
"""

from __future__ import annotations

import os
import statistics

from spans import subtree

PARTITIONS_READ = "number of partitions read"
COMPANION = "companion:"


def _dur(spans) -> float:
    return sum(s.end - s.start for s in spans)


def _outermost(unit, name):
    """Spans called ``name`` in ``unit`` not nested in another of them."""
    ids = {s.sid for s in unit if s.name == name}
    by_id = {s.sid: s for s in unit}

    def nested(s):
        p = s.parent
        while p is not None and p in by_id:
            if p in ids:
                return True
            p = by_id[p].parent
        return False

    return [s for s in unit if s.sid in ids and not nested(s)]


def _tree(tracer, spans):
    out = []
    for s in spans:
        out += subtree(tracer.spans, s.sid)
    return out


def _operator(tracer, unit, layer, prefix, out) -> None:
    """Call + action metrics of one operator layer in one unit."""
    calls = _outermost(unit, layer)
    if not calls:
        return
    acts = _outermost(unit, layer + ".action")
    tot = tracer.totals(_tree(tracer, calls + acts))
    out[f"{prefix}.call_s"] = _dur(calls)
    out[f"{prefix}.action_s"] = _dur(acts)
    for k in ("jobs", "stages", "tasks", "task_ms", "shuffle_write_bytes",
              "spill_bytes", "driver_s"):
        out[f"{prefix}.{k}"] = tot[k]
    out[f"{prefix}.py4j_calls"] = sum(s.py4j for s in calls + acts)


def unit_metrics(tracer, unit) -> dict:
    out: dict = {}
    ext = _outermost(unit, "operators.mbb.extent_count_sample")
    if ext:
        tot = tracer.totals(_tree(tracer, ext))
        out["operators.mbb.extent_s"] = _dur(ext)
        out["operators.mbb.extent_jobs"] = tot["jobs"]
        out["operators.mbb.extent_task_ms"] = tot["task_ms"]
        out["operators.mbb.sample_rows"] = sum(s.info["sample_rows"] for s in ext)
    fit = _outermost(unit, "partition.partition_tiles")
    if fit:
        out["partition.fit_s"] = _dur(fit)
        out["partition.tiles"] = sum(s.info["tiles"] for s in fit)
    _operator(tracer, unit, "operators.spatial_join", "operators.spatial_join", out)
    _operator(tracer, unit, "operators.knn", "operators.knn", out)
    read = _outermost(unit, "sources.tsv.read_tsv")
    if read:
        out["sources.tsv.read_s"] = _dur(read)
    save = _outermost(unit, "sources.loader.save_partitioned")
    if save:
        tot = tracer.totals(_tree(tracer, save))
        out["sources.loader.save_s"] = _dur(save)
        out["sources.loader.save_jobs"] = tot["jobs"]
        out["sources.loader.save_task_ms"] = tot["task_ms"]
    load = _outermost(unit, "sources.loader.load_partitioned")
    if load:
        out["sources.loader.load_call_s"] = _dur(load)
        out["sources.loader.load_jobs"] = tracer.totals(_tree(tracer, load))["jobs"]
        out["sources.loader.load_py4j_calls"] = sum(s.py4j for s in load)
    act = _outermost(unit, "operators.containment.action")
    if act:
        tot = tracer.totals(_tree(tracer, act))
        out["operators.containment.action_s"] = _dur(act)
        out["operators.containment.tasks"] = tot["tasks"]
        out["operators.containment.task_ms"] = tot["task_ms"]
        out["operators.containment.rows_scanned"] = tot["input_records"]
        out["sources.loader.partitions_read"] = sum(
            s.info["sql"][PARTITIONS_READ] for s in _tree(tracer, act))
    return out


def layout_files(path: str):
    """(bytes, files, tile directories) of a landed layout, metadata
    excluded."""
    size = files = 0
    tiles = set()
    for d, dirs, names in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for n in names:
            if n.startswith(("_", ".")) or n.endswith(".crc"):
                continue
            size += os.path.getsize(os.path.join(d, n))
            files += 1
            tiles.add(d)
    return size, files, len(tiles)


def per_layer(names, tracer, wl, results, lats, traced, probe, *,
              session_s, warm_s) -> dict:
    """Values of the metrics ``names`` (layers that did not run report 0),
    plus any metric computed here that ``names`` lacks, so that the
    caller can refuse a mismatch."""
    tracer.collect_sql([PARTITIONS_READ])
    roots = [s for s in tracer.spans if s.parent is None]
    per_unit = []
    for r in roots:
        m = unit_metrics(tracer, subtree(tracer.spans, r.sid))
        if r.name.startswith(COMPANION):
            # a companion operation stands for its own layer only
            layer = r.name[len(COMPANION):] + "."
            m = {k: v for k, v in m.items() if k.startswith(layer)}
        per_unit.append(m)
    values = dict.fromkeys(names, 0.0)
    for k in set(names).union(*per_unit):
        seen = [m[k] for m in per_unit if k in m]
        if seen:
            values[k] = statistics.median(seen)

    builds = [r.end - r.start for r in roots if r.name == "build"]
    values["bench.build_s"] = statistics.median(builds)
    values["session.start_s"] = session_s
    values["bench.warm_s"] = warm_s
    on = [t for t, f in zip(lats, traced) if f]
    off = [t for t, f in zip(lats, traced) if not f]
    values["bench.op_traced_s"] = statistics.median(on) if on else 0.0
    values["bench.op_untraced_s"] = statistics.median(off) if off else 0.0

    values.update(probe)
    if probe.get("operators.spatial_join.candidates"):
        pairs = statistics.median(r["n"] for r in results if r is not None)
        values["operators.spatial_join.refine_yield"] = (
            pairs / probe["operators.spatial_join.candidates"])
    if getattr(wl, "path", None) and os.path.isdir(wl.path):
        size, files, tiles = layout_files(wl.path)
        in_bytes = sum(os.path.getsize(os.path.join(wl.tsv, n)) for n in os.listdir(wl.tsv))
        values["sources.loader.bytes_written"] = size
        values["sources.loader.files_written"] = files
        values["sources.loader.bytes_per_input_byte"] = size / in_bytes
        values["sources.loader.partitions_total"] = tiles
        rows = [r["n"] for r in results if r is not None]
        values["operators.containment.rows_returned"] = statistics.median(rows) if rows else 0
    return values
