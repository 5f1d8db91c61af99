"""Self-tests of the benchmark's own definitions.

Run from the root of a checkout::

    python3 -m pytest spatialbench -q

The first two groups need no Spark. The last runs the traced benchmark
twice on one seed per workload and requires the structural counts to
repeat exactly (the join's shuffle bytes to 0.1%, see ``NEAR``).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import Span, Tracer, tail_percentile, uncovered  # noqa: E402


class TestTailPercentile:
    def test_forty_samples_give_p75_with_ten_beyond(self):
        vals = list(range(1, 41))
        p, v, n = tail_percentile(vals)
        assert (p, v, n) == (75, 30, 40)
        assert sum(x > v for x in vals) == 10

    @pytest.mark.parametrize("n", range(11, 120))
    def test_highest_percentile_keeping_ten_beyond(self, n):
        vals = [float(x) for x in range(n)]
        p, v, _ = tail_percentile(vals)
        assert sum(x > v for x in vals) >= 10
        # one percentile higher would leave fewer than ten beyond
        rank = -(-(p + 1) * n // 100) - 1
        assert p == 99 or n - 1 - rank < 10

    def test_too_few_samples_fall_back_to_the_maximum(self):
        assert tail_percentile([3.0, 1.0, 2.0]) == (100, 3.0, 3)
        assert tail_percentile([float(x) for x in range(10)]) == (100, 9.0, 10)
        assert tail_percentile([float(x) for x in range(11)]) == (9, 0.0, 11)
        assert tail_percentile([float(x) for x in range(20)]) == (50, 9.0, 20)

    def test_order_does_not_matter(self):
        vals = [5.0, 1.0, 4.0, 2.0, 3.0] * 5
        assert tail_percentile(vals) == tail_percentile(sorted(vals))


def _span(sid, parent, start, end, jobs=()):
    return Span(sid, f"s{sid}", parent, 0, start, end, info={"job_ids": list(jobs)})


class TestSelfTime:
    def test_uncovered_merges_overlaps_and_clips(self):
        assert uncovered(0.0, 10.0, []) == 10.0
        assert uncovered(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0)]) == pytest.approx(7.0)
        assert uncovered(0.0, 10.0, [(-5.0, 1.0), (9.0, 15.0)]) == pytest.approx(8.0)
        assert uncovered(0.0, 10.0, [(20.0, 30.0)]) == 10.0
        assert uncovered(0.0, 10.0, [(0.0, 10.0), (2.0, 3.0)]) == 0.0

    def test_driver_time_is_span_time_no_job_covers(self):
        tracer = Tracer(SimpleNamespace(sparkContext=None))
        tracer.spans = [_span(0, None, 0.0, 10.0, jobs=[1]),
                        _span(1, 0, 2.0, 6.0, jobs=[2, 3])]
        zero = {"stages": 1, "tasks": 2, "task_ms": 5, "shuffle_write_bytes": 7,
                "spill_bytes": 0, "input_records": 3}
        tracer.jobs = {1: dict(zero, start=7.0, end=8.0),
                       2: dict(zero, start=2.5, end=4.0),
                       3: dict(zero, start=3.5, end=5.0)}
        tot = tracer.totals(tracer.spans)
        # jobs cover [2.5, 5.0] and [7, 8] of the root's ten seconds
        assert tot["driver_s"] == pytest.approx(6.5)
        assert (tot["jobs"], tot["tasks"], tot["shuffle_write_bytes"]) == (3, 6, 21)
        # the child alone: four seconds, 2.5 of them under jobs 2 and 3
        assert tracer.totals(tracer.spans[1:])["driver_s"] == pytest.approx(1.5)


STRUCTURAL = {
    "tri_join": ["operators.spatial_join.jobs", "operators.spatial_join.stages",
                 "operators.spatial_join.tasks", "operators.spatial_join.py4j_calls",
                 "operators.mbb.extent_jobs", "operators.mbb.sample_rows",
                 "partition.tiles", "operators.spatial_join.candidates",
                 # from the traced companion kNN join
                 "operators.knn.jobs", "operators.knn.stages", "operators.knn.tasks",
                 "operators.knn.shuffle_write_bytes", "operators.knn.py4j_calls"],
    "tile_windows": ["sources.loader.save_jobs", "sources.loader.files_written",
                     "sources.loader.load_jobs", "sources.loader.load_py4j_calls",
                     "sources.loader.partitions_read", "sources.loader.partitions_total",
                     "operators.containment.tasks", "operators.containment.rows_scanned",
                     "partition.tiles"],
}

# The join's two map stages run concurrently and adaptive execution
# re-plans the join after whichever finishes first, so the final partial
# aggregate's shuffle is written by one or two tasks: a difference of
# about a hundred bytes in 3.6 MB between runs of one seed.
NEAR = {"tri_join": ["operators.spatial_join.shuffle_write_bytes"]}


def _traced_run(workload: str, seed: int) -> dict:
    root = os.path.dirname(HERE)
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=root, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0
    return {k: v["value"] for k, v in res["metrics"].items()}


@pytest.mark.parametrize("workload", sorted(STRUCTURAL))
def test_structural_counts_repeat_exactly(workload):
    first = _traced_run(workload, 3)
    second = _traced_run(workload, 3)
    for k in STRUCTURAL[workload]:
        assert first[k] > 0, k
        assert first[k] == second[k], (k, first[k], second[k])
    for k in NEAR.get(workload, []):
        assert first[k] > 0, k
        assert first[k] == pytest.approx(second[k], rel=1e-3), (k, first[k], second[k])
