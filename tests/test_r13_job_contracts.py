"""Round-13 optimization contracts: the metadata paths that moved off
Spark jobs STAY off Spark jobs, and the iterative operators keep their
reduced per-round action count.

These are job-count contracts, the fixed-latency analogue of the plan
contracts in test_plans.py: at 100 TB the cost that multiplies is the
number of sequential driver actions per operation, so a regression that
quietly reintroduces a Spark job into a metadata path (a one-row
createDataFrame write, a tile-table probe, a per-round isEmpty) is a
scale regression even though results stay identical. Job counts are
measured with the status tracker under a dedicated job group — host
noise cannot move them.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _jobs_during(spark, fn):
    """Run ``fn`` under a fresh job group; return its Spark-job count."""
    import uuid

    group = f"jobcount-{uuid.uuid4().hex[:8]}"
    sc = spark.sparkContext
    sc.setJobGroup(group, "job-count contract")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


class TestMetadataStaysDriverSide:
    def test_load_partitioned_window_prune_runs_zero_jobs(self, spark, tmp_path):
        """The tile-table window prune is driver-side pyarrow + pure
        Python (round 13), and the read names only the kept tile
        directories with the schema stored at save time: PLANNING a
        windowed read must launch no Spark job — jobs run only when the
        returned frame is acted on. The layout has more than 32 tiles,
        so listing the whole layout would run Spark's parallel listing
        job (spark.sql.sources.parallelPartitionDiscovery.threshold)."""
        import os

        from hadoopgis_spark.sources.loader import load_partitioned, save_partitioned

        rows = [(i, float(i % 40) * 5, float(i // 40 % 40) * 5,
                 float(i % 40) * 5 + 2, float(i // 40 % 40) * 5 + 2)
                for i in range(1600)]
        df = spark.createDataFrame(rows, "id long, xmin double, ymin double, xmax double, ymax double")
        p = str(tmp_path / "part")
        save_partitioned(df, p, bucket_size=40)
        assert sum(n.startswith("tile_id=") for n in os.listdir(p)) > 32

        n_jobs, out = _jobs_during(
            spark, lambda: load_partitioned(spark, p, window="0,0,30,30"))
        assert n_jobs == 0, f"window planning launched {n_jobs} Spark jobs"
        assert out.count() > 0  # the pruned read still serves rows

    def test_save_partitioned_single_stats_pass(self, spark, tmp_path):
        """save_partitioned runs ONE stats aggregate (extent+count+max
        spans fused, round 13) plus the data write — pin the total job
        budget so a second sequential stats pass cannot sneak back."""
        from hadoopgis_spark.sources.loader import save_partitioned

        rows = [(i, float(i), float(i), float(i) + 1, float(i) + 1)
                for i in range(100)]
        df = spark.createDataFrame(rows, "id long, xmin double, ymin double, xmax double, ymax double")
        n_jobs, meta = _jobs_during(
            spark, lambda: save_partitioned(df, str(tmp_path / "p"), bucket_size=50))
        # measured 6 on Spark 4.1 (stats agg, sample collect, and the
        # repartition+partitionBy write's AQE stages); the pre-r13
        # shape adds a second sequential stats agg AND a Spark
        # tile-table write on top — pin just under that
        assert n_jobs <= 7, f"save_partitioned ran {n_jobs} jobs"
        assert meta["count"] == 100 and meta["max_obj_w"] == pytest.approx(1.0)

    def test_dedup_index_meta_is_driver_side(self, spark, tmp_path):
        """The band-parameter meta lands as driver-side meta.json and is
        read back without a Spark job (legacy parquet fallback aside)."""
        import os

        from hadoopgis_spark.sources.dedup_index import (_load_meta,
                                                         save_dedup_index)

        docs = spark.createDataFrame(
            [(i, f"alpha beta gamma delta {i % 3}") for i in range(30)],
            "doc_id long, text string")
        save_dedup_index(docs, "jobc", root=str(tmp_path))
        assert os.path.exists(f"{tmp_path}/jobc/meta.json")
        n_jobs, meta = _jobs_during(
            spark, lambda: _load_meta(spark, f"{tmp_path}/jobc"))
        assert n_jobs == 0 and meta["n_bands"] == 4

    def test_manifest_save_runs_zero_jobs(self, spark, tmp_path):
        """The zonemap manifest write is driver-side pyarrow (wave 1):
        a save_range_sorted layout build spends Spark jobs ONLY on the
        data write itself."""
        from hadoopgis_spark.sources.skipping import (_load_manifest,
                                                      _save_manifest)

        from hadoopgis_spark.sources.skipping import _FORMAT

        p = str(tmp_path / "tbl")
        rows = [("f0.parquet", 10, "k", "int", "0", "9", True, _FORMAT, 0)]
        n_jobs, _ = _jobs_during(spark, lambda: _save_manifest(spark, p, rows))
        assert n_jobs == 0, f"manifest write launched {n_jobs} Spark jobs"
        got = _load_manifest(spark, p)
        assert len(got) == 1 and got[0].file == "f0.parquet"


class TestIterativeRoundBudget:
    def test_dup_clusters_one_action_per_round(self, spark):
        """Label propagation runs ONE action per round (round 13: lazy
        checkpoint + changed-count fused; was 3). A two-round component
        (path graph 1-2-3-4) must fit in a tight total job budget."""
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4)], "id_1 long, id_2 long")
        from hadoopgis_spark.operators.dedup import dup_clusters

        n_jobs, labels = _jobs_during(
            spark, lambda: dup_clusters(pairs).collect())
        got = {r.id: r.cluster for r in labels}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1}
        # ONE action per round; AQE materializes each round's shuffle
        # stages as several jobs, so the measured total for this
        # diameter-3 fixture is 25 (4 rounds + init + collect). The
        # pre-r13 shape ran THREE actions per round (eager checkpoint +
        # join diff + isEmpty) — well above this pin.
        assert n_jobs <= 27, f"dup_clusters ran {n_jobs} jobs"

    def test_knn_exact_single_extent_pass(self, spark):
        """Exact kNN's entry statistics are ONE side-tagged aggregate
        (round 13; was space_extent(b) + extent_and_spans(union) — two
        full passes over b). Pin the total job budget for a bounded
        no-straggler fixture."""
        import numpy as np

        rng = np.random.default_rng(7)
        pa = [(i, *map(float, rng.uniform(0, 100, 2))) for i in range(60)]
        rows_a = [(i, x, y, x, y) for i, x, y in pa]
        pb = [(i, *map(float, rng.uniform(0, 100, 2))) for i in range(120)]
        rows_b = [(i, x, y, x, y) for i, x, y in pb]
        a = spark.createDataFrame(rows_a, "id long, xmin double, ymin double, xmax double, ymax double")
        b = spark.createDataFrame(rows_b, "id long, xmin double, ymin double, xmax double, ymax double")
        from hadoopgis_spark.operators.knn import knn_join

        n_jobs, out = _jobs_during(
            spark,
            lambda: knn_join(a, b, k=2, mode="exact", bucket_size=1000).collect())
        assert out and len(out) == 120
        # single-tile point data takes the round-2 skip: tagged extent
        # agg + sample + bt/c1/u checkpoints + u.count + the final
        # collect's AQE stages — measured 18 on Spark 4.1; the pre-r13
        # shape adds a second sequential extent pass over b on top
        assert n_jobs <= 18, f"exact knn ran {n_jobs} jobs"


class TestDriverCallOverhead:
    def test_dataframe_debug_capture_disabled(self, spark):
        """get_spark disables Spark 4's per-call DataFrame call-site
        capture (spark.python.sql.dataFrameDebugging.enabled): with it
        on, every decorated DataFrame/functions call pays extra py4j
        round trips plus a Python stack walk — measured at 73% of the
        py4j round trips on a Column-heavy plan construction (the
        simhash build: 10,135 -> 2,725 send_commands). Static conf, so
        a regression here silently re-taxes every query's planning; pin
        both the conf value and that pyspark's cached gate agrees."""
        assert spark.conf.get(
            "spark.python.sql.dataFrameDebugging.enabled") == "false"
        from pyspark.errors.utils import is_debugging_enabled

        assert is_debugging_enabled() is False

    def test_simhash_construction_stays_lean(self, spark):
        """simhash64 emits its 63 vote aggregates + bit fold as SQL text
        (round 13): building the pairs plan must stay in the hundreds of
        py4j round trips, not the ~10k of per-node Column assembly —
        planning time is pure driver latency at any scale."""
        from py4j import clientserver

        from hadoopgis_spark.operators.dedup import simhash_pairs

        df = spark.createDataFrame(
            [(i, f"alpha beta gamma delta {i}") for i in range(4)],
            "doc_id long, text string")
        orig = clientserver.ClientServerConnection.send_command
        calls = [0]

        def counting(self, *a, **k):
            calls[0] += 1
            return orig(self, *a, **k)

        clientserver.ClientServerConnection.send_command = counting
        try:
            simhash_pairs(df, max_hamming=3)
        finally:
            clientserver.ClientServerConnection.send_command = orig
        assert calls[0] < 2000, (
            f"simhash_pairs construction made {calls[0]} py4j round trips"
        )


class TestSingleCorpusPass:
    """Wave-12 contracts: the threshold/frequency gates materialize
    their small derived table once (durable_checkpoint) so the final
    plan never re-runs the expensive corpus scan per consumer — pinned
    as parquet-scan counts in the initial physical plan (the corpus
    pass now lives in the checkpointed RDD's lineage, executed once)."""

    SF = "/root/testdata/sf0.001"

    @staticmethod
    def _parquet_scans(df) -> int:
        return df._jdf.queryExecution().executedPlan().toString().count(
            "Scan parquet")

    @pytest.mark.parametrize(
        "gate,max_scans",
        [
            # both threshold consumers read the checkpointed light frame
            ("cur_quality_cut", 0),
            # sum_w and the allocation read the checkpointed stats
            ("cur_mixture_alloc", 0),
            # only the join probe side re-explodes the corpus; the
            # count table is checkpointed and the total derives from it
            ("txt_unigram_logprob", 1),
            # doclen/df/scored all read the checkpointed tf
            ("txt_tfidf_topterms", 0),
            # thr/keyed/winners/semi-join all read the checkpointed
            # scored frame (was 8 scans of documents)
            ("cur_pipeline", 0),
        ],
    )
    def test_final_plan_scan_budget(self, spark, gate, max_scans):
        from hadoopgis_spark.workload import REGISTRY

        df = REGISTRY[gate].fn(spark, self.SF)
        n = self._parquet_scans(df)
        assert n <= max_scans, (
            f"{gate}: {n} parquet scans in the final plan "
            f"(expected <= {max_scans} — a consumer re-runs the corpus pass)"
        )
