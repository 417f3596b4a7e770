"""Physical-plan assertions: the optimizations DESIGN.md claims must be
visible in .explain() output — pushdown, broadcast, no dense-side sorts
in the gap-fill plan."""

import pytest
from pyspark.sql import functions as F


class TestPlanShapes:
    def test_filter_pushdown_to_parquet(self, spark):
        df = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        plan = (
            df.filter(F.col("l_quantity") < 10)
            .select("l_orderkey", "l_quantity")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PushedFilters: [" in plan and "LessThan(l_quantity" in plan
        # column pruning: scan schema mentions only the two columns
        assert "l_extendedprice" not in plan.split("ReadSchema")[1][:200]

    def test_broadcast_join_for_small_dims(self, spark):
        import __spark_entry__ as m

        plan = (
            m.q_revenue_by_nation(spark, "/root/testdata/sf0.01")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan

    def test_gapfill_plan_has_no_dense_sort(self, spark):
        """The segment-explosion gap-fill sorts only the small observed
        window input; no Sort node may appear above the explode
        (Generate) node."""
        from chronoxtract_spark.operators.gapfill import (
            gap_fill_minutes,
            turn_rate_1m,
        )

        ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet").select(
            F.col("user_id").cast("string").alias("conv_id"), "ts"
        )
        plan = (
            gap_fill_minutes(turn_rate_1m(ev))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # explode exists...
        assert "Generate explode" in plan
        # ...and nothing sorts its output: every Sort is below the
        # Generate in the plan string (plans print top-down)
        gen_pos = plan.index("Generate explode")
        assert "Sort " not in plan[:gen_pos]

    def test_summary_agg_is_partial_final(self, spark):
        """Moment aggregates must plan as partial+final HashAggregate
        (map-side combine) — the mergeable-state property."""
        df = spark.createDataFrame(
            [("a", float(i)) for i in range(10)], "k string, value double"
        )
        from chronoxtract_spark.functions import moment_state_exprs

        plan = (
            df.groupBy("k")
            .agg(*moment_state_exprs("value"))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("HashAggregate") >= 2  # partial + final


class TestKillResume:
    def test_partial_commit_then_resume_completes(self, spark):
        """SURVEY §5.2 item 6: simulate a crash after the 1m tier
        committed — through the fan-out and tier builder run() uses —
        but before the chunks, 1h and 1d; the re-run must complete the
        missing tables without redoing the committed one, and end with
        the lineage rows and checksums of a clean run."""
        import shutil

        from chronoxtract_spark.operators.gapfill import gap_fill_minutes
        from chronoxtract_spark.plans.rollup import RollupEngine
        from chronoxtract_spark.sources.tableio import temp_warehouse
        from chronoxtract_spark.synth import synth_transcripts

        def lineage(io):
            return {
                (r.tier, r.partition_key): (r.row_count, r.checksum)
                for r in io.read("lineage").collect()
            }

        tr = synth_transcripts(spark, n_conversations=10, seed=9)
        clean_io = temp_warehouse(spark)
        expected = RollupEngine(spark, clean_io).run(tr, source_snapshot="s")

        # "crashed" run: commit only the 1m tier + its lineage, then stop
        io = temp_warehouse(spark)
        eng = RollupEngine(spark, io)
        observed = eng.build_observed(tr)
        days = eng._candidate_days(observed)
        tier_1m = eng.build_rollup_1m(gap_fill_minutes(observed, len(days)))
        eng._write_with_lineage(tier_1m, "rollup_1m", days, "s")
        assert {k[0] for k in lineage(io)} == {"rollup_1m"}

        # resume: full run against the same snapshot
        counts = eng.run(tr, source_snapshot="s")
        assert counts["rollup_1m"] == 0  # skipped, already committed
        assert counts["rollup_1h"] == expected["rollup_1h"]
        assert counts["rollup_1d"] == expected["rollup_1d"]
        assert io.read("rollup_1m").count() == expected["rollup_1m"]
        assert lineage(io) == lineage(clean_io)

        shutil.rmtree(io.root, ignore_errors=True)
        shutil.rmtree(clean_io.root, ignore_errors=True)

    def test_embedding_near_dups_has_no_cross_join(self, spark):
        """The LSH-bucketed near-dup path must plan as equi-joins on the
        bucket key — no CartesianProduct / BroadcastNestedLoopJoin
        anywhere (the O(n^2) shape that can't survive a real corpus)."""
        from chronoxtract_spark.operators.similarity import (
            embedding_near_duplicates,
        )

        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        plan = (
            embedding_near_duplicates(emb, threshold=0.5, n_tables=2)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_hash_sampling_is_map_only(self, spark):
        """Hash sampling / splitting must plan without any Exchange —
        a pure predicate/projection over the scan, so at 10^12 rows it
        costs one pass and zero shuffle."""
        from chronoxtract_spark.operators.sampling import (
            hash_sample,
            stratified_sample,
            with_split,
        )

        docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        for df in (
            hash_sample(docs, "doc_id", 0.5),
            with_split(docs, "doc_id", {"train": 0.9, "test": 0.1}),
            stratified_sample(docs, "doc_id", "lang", {"en": 0.5}, 1.0),
        ):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
