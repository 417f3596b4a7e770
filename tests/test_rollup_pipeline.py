"""End-to-end tests of the north-rule rollup pipeline:
synth transcripts → gap-fill → tiers → chunks → lineage → retention →
resume, plus Spark≡kernel feature parity on the canonical fixture."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from chronoxtract_spark.kernel import stats as k_stats
from chronoxtract_spark.operators import features as ops_features
from chronoxtract_spark.plans.rollup import RollupEngine
from chronoxtract_spark.sources.tableio import temp_warehouse
from chronoxtract_spark.synth import synth_transcripts


@pytest.fixture(scope="module")
def transcripts(spark):
    df = synth_transcripts(spark, n_conversations=40, seed=42)
    df.cache()
    df.count()
    return df


class TestSynth:
    def test_schema_matches_input_hint(self, transcripts):
        assert [
            (f.name, f.dataType.simpleString()) for f in transcripts.schema.fields
        ] == [
            ("conv_id", "string"),
            ("turn_idx", "int"),
            ("role", "string"),
            ("text", "string"),
            ("tool", "string"),
            ("ts", "timestamp"),
        ]

    def test_deterministic(self, spark, transcripts):
        again = synth_transcripts(spark, n_conversations=40, seed=42)
        a = transcripts.orderBy("conv_id", "turn_idx").collect()
        b = again.orderBy("conv_id", "turn_idx").collect()
        assert a == b

    def test_per_turn_text_equality_invariant(self, spark, transcripts):
        """input_hint: per-turn text equality under stable
        (conv_id, turn_idx) ordering after an engine round trip."""
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            transcripts.write.mode("overwrite").parquet(f"{d}/t")
            back = spark.read.parquet(f"{d}/t")
            src = transcripts.select("conv_id", "turn_idx", "text")
            dst = back.select("conv_id", "turn_idx", "text")
            assert src.exceptAll(dst).count() == 0
            assert dst.exceptAll(src).count() == 0

    def test_skewed_lengths(self, transcripts):
        per_conv = transcripts.groupBy("conv_id").count()
        mx = per_conv.agg(F.max("count")).collect()[0][0]
        mn = per_conv.agg(F.min("count")).collect()[0][0]
        assert mx > 10 * mn  # power-law head exists

    def test_ts_monotone_per_conv(self, transcripts):
        from pyspark.sql import Window as W

        w = W.partitionBy("conv_id").orderBy("turn_idx")
        bad = (
            transcripts.withColumn("prev_ts", F.lag("ts").over(w))
            .filter(F.col("prev_ts").isNotNull() & (F.col("ts") <= F.col("prev_ts")))
            .count()
        )
        assert bad == 0


class TestSummaryFeatures:
    def test_spark_equals_kernel_canonical(self, spark):
        x = [1.0, 2.0, 2.0, 3.0, 4.0, 5.0]
        df = spark.createDataFrame(
            [("a", i, float(v)) for i, v in enumerate(x)],
            "series_id string, idx int, value double",
        )
        row = (
            ops_features.summary_features(df, ["series_id"], "value")
            .collect()[0]
            .asDict()
        )
        k = k_stats.time_series_summary(np.array(x))
        for key in ("mean", "median", "min", "max", "range", "sum"):
            assert row[key] == pytest.approx(k[key], rel=1e-12), key
        assert row["absolute_energy"] == pytest.approx(k["absolute_energy"])
        assert row["variance"] == pytest.approx(k["variance"], rel=1e-12)
        assert row["skewness"] == pytest.approx(k["skewness"], rel=1e-9)
        assert row["kurtosis"] == pytest.approx(k["kurtosis"], rel=1e-9)
        assert row["mode"] == k["mode"]
        for qk, qv in (("q05", "q05"), ("q25", "q25"), ("q75", "q75"), ("q95", "q95")):
            assert row[qk] == pytest.approx(k[qv], rel=1e-12)

    def test_skew_null_guard_constant(self, spark):
        df = spark.createDataFrame(
            [("a", float(3.0))] * 4, "series_id string, value double"
        )
        row = ops_features.summary_features(df, ["series_id"], "value").collect()[0]
        assert row.skewness is None and row.kurtosis is None
        assert row.variance == 0.0

    def test_kernel_features_match_direct(self, spark):
        rng = np.random.RandomState(7)
        x = rng.normal(10, 2, 64)
        df = spark.createDataFrame(
            [("a", i, float(v)) for i, v in enumerate(x)],
            "series_id string, idx int, value double",
        )
        row = (
            ops_features.kernel_features(df, ["series_id"], ["idx"], "value")
            .collect()[0]
            .asDict()
        )
        direct = ops_features.compute_kernel_features(x)
        for k, v in direct.items():
            if np.isnan(v):
                assert np.isnan(row[k]), k
            else:
                assert row[k] == pytest.approx(v, rel=1e-9), k


class TestRollupPipeline:
    @pytest.fixture(scope="class")
    def engine_run(self, spark, transcripts):
        io = temp_warehouse(spark)
        eng = RollupEngine(spark, io)
        counts = eng.run(transcripts, source_snapshot="s1")
        yield io, eng, counts
        io_root = io.root
        import shutil

        shutil.rmtree(io_root, ignore_errors=True)

    def test_tier_counts(self, engine_run):
        _io, _eng, counts = engine_run
        assert counts["rollup_1m"] > counts["rollup_1h"] > 0
        assert counts["rollup_1h"] >= counts["rollup_1d"] > 0

    def test_gapfill_dense(self, spark, engine_run):
        io, _eng, _counts = engine_run
        t1m = io.read("rollup_1m")
        # per conversation: row count == minutes between min and max + 1
        spans = t1m.groupBy("conv_id").agg(
            F.count("*").alias("n"),
            (
                (F.unix_timestamp(F.max("minute_ts"))
                 - F.unix_timestamp(F.min("minute_ts"))) / 60 + 1
            ).alias("expected"),
        )
        bad = spans.filter(F.col("n") != F.col("expected")).count()
        assert bad == 0

    def test_day_keyed_gapfill_row_identical(self, spark, transcripts):
        """The day-keyed dense fan-out (the 1m write path) gives, per
        conversation, exactly the rows of its numpy twin
        kernel.gapfill.dense_from_observed over the observed rows: same
        minutes, turns and observed flags, each minute's own UTC day,
        and interpolated rates equal bit for bit — across a
        conversation that crosses midnight and a one-point one."""
        import pandas as pd

        from chronoxtract_spark.kernel.gapfill import dense_from_observed
        from chronoxtract_spark.operators.gapfill import (
            gap_fill_minutes,
            turn_rate_1m,
        )

        crafted = spark.createDataFrame(
            [
                ("midnight", "2026-01-01 23:57:10"),
                ("midnight", "2026-01-01 23:57:40"),
                ("midnight", "2026-01-02 00:04:00"),
                ("one", "2026-01-05 12:00:00"),
            ],
            "conv_id string, ts string",
        ).withColumn("ts", F.to_timestamp("ts"))
        observed = turn_rate_1m(
            transcripts.select("conv_id", "ts").unionByName(crafted)
        )
        n_days = (
            observed.select(F.to_date("minute_ts").alias("d"))
            .distinct()
            .count()
        )
        obs = observed.select(
            "conv_id", F.unix_timestamp("minute_ts").alias("t"), "turns"
        ).toPandas()
        parts = []
        for conv, g in obs.sort_values("t").groupby("conv_id"):
            t, rate, turns, is_obs = dense_from_observed(
                g["t"].to_numpy(), g["turns"].to_numpy()
            )
            parts.append(pd.DataFrame({
                "conv_id": conv, "t": t, "rate": rate,
                "turns": turns.astype(np.int64), "observed": is_obs,
                "day": t // 86400,
            }))
        want = pd.concat(parts).sort_values(["conv_id", "t"])

        got = (
            gap_fill_minutes(observed, n_days)
            .select(
                "conv_id",
                F.unix_timestamp("minute_ts").alias("t"),
                "rate",
                "turns",
                "observed",
                F.unix_date("day").cast("long").alias("day"),
            )
            .toPandas()
            .sort_values(["conv_id", "t"])
        )
        assert {"midnight", "one"} <= set(got["conv_id"])
        assert len(got) == len(want)
        for c in ("conv_id", "t", "turns", "observed", "day"):
            np.testing.assert_array_equal(got[c].to_numpy(), want[c].to_numpy())
        np.testing.assert_array_equal(
            got["rate"].to_numpy(np.float64).view(np.int64),
            want["rate"].to_numpy(np.float64).view(np.int64),
        )

    def test_moment_state_merge_exact(self, spark, engine_run):
        """1d moments derived from the kernel pass's day-window state
        (n, s1..s4) must equal a direct 1d aggregation over the 1m
        tier."""
        io, _eng, _counts = engine_run
        t1m = io.read("rollup_1m")
        t1d = io.read("rollup_1d")
        direct = (
            t1m.groupBy("conv_id", "day")
            .agg(
                F.var_pop("rate").alias("dv"),
                F.avg("rate").alias("dm"),
                F.sum("rate").alias("ds"),
            )
        )
        joined = t1d.join(direct, ["conv_id", "day"]).select(
            "variance", "dv", "mean", "dm", "sum", "ds"
        )
        for r in joined.collect():
            assert r.mean == pytest.approx(r.dm, rel=1e-9)
            assert r.variance == pytest.approx(r.dv, rel=1e-6, abs=1e-9)
            assert r.sum == pytest.approx(r.ds, rel=1e-9)

    def test_chunks_roundtrip(self, spark, engine_run):
        from chronoxtract_spark import compression as cxc

        io, _eng, _counts = engine_run
        chunks = io.read("chunks_1m").limit(5).collect()
        t1m = io.read("rollup_1m")
        assert chunks
        for ch in chunks:
            ts, vals = cxc.decode_chunk(bytes(ch.ts_bytes), bytes(ch.val_bytes))
            rows = (
                t1m.filter(
                    (F.col("conv_id") == ch.conv_id) & (F.col("day") == ch.day)
                )
                .orderBy("minute_ts")
                .select(F.unix_timestamp("minute_ts").alias("t"), "rate")
                .collect()
            )
            assert len(rows) == ch.n
            np.testing.assert_array_equal(ts, [r.t for r in rows])
            np.testing.assert_array_equal(vals, [r.rate for r in rows])

    def test_lineage_rows_exist(self, engine_run):
        io, _eng, counts = engine_run
        lineage = io.read("lineage")
        tiers = {r.tier for r in lineage.select("tier").distinct().collect()}
        assert {"rollup_1m", "rollup_1h", "rollup_1d", "chunks_1m"} <= tiers

    @pytest.mark.parametrize(
        "table, unit", [("rollup_1h", "hour"), ("rollup_1d", "day")]
    )
    def test_tier_full_parity(self, spark, engine_run, table, unit):
        """Every window tier carries the same statistics (quantiles +
        north-star features), and its exact window quantiles equal a
        direct percentile over the 1m rows of the same window."""
        io, _eng, _counts = engine_run
        tier = io.read(table)
        for c in (
            "median", "q05", "q25", "q75", "q95",
            "shannon_entropy", "spectral_power_total", "spectral_peak_freq",
            "spectral_entropy", "mean", "variance", "skewness", "kurtosis",
        ):
            assert c in tier.columns, c
        key = f"{unit}_ts"
        direct = io.read("rollup_1m").groupBy(
            "conv_id", F.date_trunc(unit, "minute_ts").alias(key)
        ).agg(
            F.percentile("rate", F.lit(0.5)).alias("dmed"),
            F.percentile("rate", F.lit(0.95)).alias("dq95"),
        )
        joined = tier.join(direct, ["conv_id", key]).select(
            "median", "dmed", "q95", "dq95"
        ).collect()
        assert len(joined) == tier.count() > 0
        for r in joined:
            assert r.median == pytest.approx(r.dmed, rel=1e-12)
            assert r.q95 == pytest.approx(r.dq95, rel=1e-12)

    def test_lineage_observe_matches_readback(self, spark):
        """The in-flight (df.observe) lineage metrics must equal a
        read-back recomputation — verify_readback=True raises otherwise,
        so a clean run IS the assertion. Also checks the fallback path
        agrees by forcing MAX_OBSERVE_DAYS below the day count."""
        import shutil

        from chronoxtract_spark.plans import rollup as rollup_mod

        tr = synth_transcripts(spark, n_conversations=8, seed=13)
        io = temp_warehouse(spark)
        eng = RollupEngine(spark, io, verify_readback=True)
        counts = eng.run(tr, source_snapshot="audit")
        assert counts["rollup_1m"] > 0
        observe_lineage = {
            (r.tier, r.partition_key): (r.row_count, r.checksum)
            for r in io.read("lineage").collect()
        }
        # read-back fallback on a fresh warehouse: same lineage values
        io2 = temp_warehouse(spark)
        eng2 = RollupEngine(spark, io2)
        old = rollup_mod.MAX_OBSERVE_DAYS, rollup_mod.MAX_OBSERVE_DAYS_SMALL
        rollup_mod.MAX_OBSERVE_DAYS = rollup_mod.MAX_OBSERVE_DAYS_SMALL = 0
        try:
            eng2.run(tr, source_snapshot="audit")
        finally:
            rollup_mod.MAX_OBSERVE_DAYS, rollup_mod.MAX_OBSERVE_DAYS_SMALL = old
        fallback_lineage = {
            (r.tier, r.partition_key): (r.row_count, r.checksum)
            for r in io2.read("lineage").collect()
        }
        assert observe_lineage == fallback_lineage
        shutil.rmtree(io.root, ignore_errors=True)
        shutil.rmtree(io2.root, ignore_errors=True)

    def test_small_tier_bytes_are_canonical(self, spark):
        """A small-tier commit writes the same parquet bytes for the
        same rows however they were partitioned upstream: the shuffle
        before the write hands rows over in map-output order, so the
        write puts them in a canonical order first."""
        import glob
        import os
        import shutil

        days = ["2026-01-01", "2026-01-02", "2026-01-03"]
        rows = [(f"c{i % 23}", days[i % 3], i * 0.37) for i in range(600)]
        files = []
        for data, slices in ((rows, 1), (rows[::-1], 5)):
            upstream = spark.sparkContext.parallelize(data, slices).toDF(
                "conv_id string, day string, value double"
            )
            io = temp_warehouse(spark)
            RollupEngine(spark, io)._write_with_lineage(
                upstream, "t", days, "s", small_tier=True
            )
            per_day = {}
            for d in days:
                paths = glob.glob(os.path.join(io.root, "t", f"day={d}", "part-*"))
                assert paths
                per_day[d] = sorted(open(f, "rb").read() for f in paths)
            files.append(per_day)
            shutil.rmtree(io.root, ignore_errors=True)
        assert files[0] == files[1]

    def test_resume_skips_committed(self, spark, transcripts, engine_run):
        io, eng, counts = engine_run
        counts2 = eng.run(transcripts, source_snapshot="s1")
        assert counts2["rollup_1m"] == 0
        assert counts2["rollup_1h"] == 0
        assert counts2["rollup_1d"] == 0
        # no duplicated rows after the no-op rerun
        assert io.read("rollup_1m").count() == counts["rollup_1m"]

    def test_failed_run_releases_caches(self, spark, transcripts, monkeypatch):
        """A run that fails partway through the 1h write leaves no
        cached frame behind (the observed rows and the kernel cache)."""
        import shutil

        io = temp_warehouse(spark)
        eng = RollupEngine(spark, io, compress=False)
        write = eng._write_with_lineage

        def failing_write(df, table, *args, **kwargs):
            if table == "rollup_1h":
                df.count()  # materialize the kernel cache, then fail
                raise RuntimeError("injected 1h write failure")
            return write(df, table, *args, **kwargs)

        monkeypatch.setattr(eng, "_write_with_lineage", failing_write)
        persistent = spark.sparkContext._jsc.getPersistentRDDs
        before = persistent().size()
        with pytest.raises(RuntimeError, match="injected"):
            eng.run(transcripts, source_snapshot="fail")
        assert persistent().size() == before
        shutil.rmtree(io.root, ignore_errors=True)

    def test_retention_deletes_partitions(self, spark, engine_run):
        io, eng, _counts = engine_run
        days = io.list_partitions("rollup_1m", "day")
        assert len(days) >= 2
        cutoff = days[1]  # drop the oldest day only
        dropped = eng.apply_retention({"rollup_1m": cutoff})
        assert dropped["rollup_1m"] == [days[0]]
        assert io.list_partitions("rollup_1m", "day") == days[1:]
        # lineage records the expiry
        exp = (
            io.read("lineage")
            .filter(F.col("source_snapshot") == "retention-expired")
            .count()
        )
        assert exp >= 1

    def test_fully_expired_table_reads_empty_with_schema(self, spark, engine_run):
        """Expiring EVERY partition must leave a readable empty table
        with the populated-read schema (Iceberg behavior; the parquet
        backend restores it via the schema sidecar) — not an
        UNABLE_TO_INFER_SCHEMA error."""
        io, eng, _counts = engine_run
        populated_schema = io.read("rollup_1d").schema
        days = io.list_partitions("rollup_1d", "day")
        io.delete_partitions("rollup_1d", "day", days)
        got = io.read("rollup_1d")
        assert got.count() == 0
        assert got.schema == populated_schema

    def test_schema_sidecar_tracks_evolution(self, spark):
        """A later append that evolves the schema must refresh the
        sidecar, so the fully-expired fallback answers with the LATEST
        populated-read shape, not the first write's."""
        import shutil
        import tempfile

        from chronoxtract_spark.sources.tableio import ParquetBackend

        root = tempfile.mkdtemp(prefix="cx_sidecar_")
        io2 = ParquetBackend(spark, root)
        df1 = spark.createDataFrame([("2026-01-01", 1)], "day string, a int")
        io2.overwrite_partitions(df1, "t", ["day"])
        # full rewrite to the evolved shape (every footer is v2 — the
        # case where a populated read actually changes schema)
        df2 = spark.createDataFrame(
            [("2026-01-01", 1, "x"), ("2026-01-02", 2, "y")],
            "day string, a int, b string",
        )
        io2.overwrite_partitions(df2, "t", ["day"])
        populated = io2.read("t").schema
        io2.delete_partitions("t", "day", io2.list_partitions("t", "day"))
        got = io2.read("t")
        assert got.count() == 0
        assert got.schema == populated
        assert "b" in got.columns
        shutil.rmtree(root, ignore_errors=True)

    def test_zero_row_write_succeeds_and_keeps_sidecar(self, spark):
        """Writing an EMPTY DataFrame must not fail on the sidecar
        refresh (zero rows → no parquet footers to infer from) and must
        not clobber the sidecar written by an earlier populated write."""
        import shutil
        import tempfile

        from chronoxtract_spark.sources.tableio import ParquetBackend

        root = tempfile.mkdtemp(prefix="cx_zero_")
        io2 = ParquetBackend(spark, root)
        df1 = spark.createDataFrame([("2026-01-01", 1)], "day string, a int")
        io2.overwrite_partitions(df1, "t", ["day"])
        populated = io2.read("t").schema
        empty = spark.createDataFrame([], "day string, a int")
        io2.append(empty, "t", ["day"])  # must not raise
        io2.delete_partitions("t", "day", io2.list_partitions("t", "day"))
        assert io2.read("t").schema == populated
        # a brand-new table whose FIRST write is empty: write succeeds,
        # no sidecar exists yet — nothing to answer an empty read with
        io2.overwrite_partitions(empty, "t2", ["day"])
        shutil.rmtree(root, ignore_errors=True)


def _canon_chunks(df):
    """(conv_id, day) → every chunk column, payloads as bytes."""
    return {
        (r["conv_id"], str(r["day"])): (
            r["chunk_id"], r["t0"], r["n"], bytes(r["ts_bytes"]),
            bytes(r["val_bytes"]), r["checksum"], r["raw_size"],
            r["enc_size"],
        )
        for r in df.collect()
    }


def _lineage(io, snapshot):
    return {
        (r.tier, r.partition_key): (r.row_count, r.checksum)
        for r in io.read("lineage")
        .filter(F.col("source_snapshot") == snapshot)
        .collect()
    }


class TestFusedChunks:
    """run() takes the Gorilla chunks from its one kernel pass, carried
    on the 1d rows; build_chunks stays the standalone operator."""

    def test_run_chunks_equal_build_chunks(self, spark):
        """The chunks_1m table run() writes is, byte for byte, the table
        build_chunks gives over the same observed rows — across a
        conversation spanning three days (one of them all gap-fill), a
        one-turn conversation, and a day holding a single point — with
        exactly one chunk per 1d row."""
        import shutil

        crafted = spark.createDataFrame(
            [
                ("a", "2026-01-01 10:00:00"), ("a", "2026-01-01 10:05:30"),
                ("a", "2026-01-03 12:00:00"),
                ("b", "2026-01-02 08:00:00"),
                ("c", "2026-01-01 23:59:10"), ("c", "2026-01-01 23:59:50"),
                ("c", "2026-01-02 00:00:20"),
            ],
            "conv_id string, ts string",
        ).withColumn("ts", F.to_timestamp("ts"))
        tr = crafted.unionByName(
            synth_transcripts(
                spark, n_conversations=6, seed=3, min_turns=200, max_turns=300
            ).select("conv_id", "ts")
        )
        io = temp_warehouse(spark)
        eng = RollupEngine(spark, io)
        counts = eng.run(tr, source_snapshot="fused")

        got = _canon_chunks(io.read("chunks_1m"))
        assert got == _canon_chunks(eng.build_chunks(eng.build_observed(tr)))
        assert {k for k in got if k[0] == "a"} == {
            ("a", "2026-01-01"), ("a", "2026-01-02"), ("a", "2026-01-03")
        }
        assert got[("b", "2026-01-02")][2] == 1
        assert got[("c", "2026-01-02")][2] == 1

        day_n = {
            (r.conv_id, str(r.day)): r.n
            for r in io.read("rollup_1d").select("conv_id", "day", "n").collect()
        }
        assert counts["rollup_1d"] == len(day_n) == len(got)
        assert day_n == {k: v[2] for k, v in got.items()}
        shutil.rmtree(io.root, ignore_errors=True)

    def test_chunk_write_crash_then_resume(self, spark, monkeypatch):
        """A crash after the 1m commit, inside the chunk write (files
        written, lineage not), must not lose those days' chunks: the
        resumed run rebuilds them from the chunk table's own lineage,
        reads the lineage table once, and ends with the chunk rows and
        every lineage checksum of a clean run."""
        import shutil

        tr = synth_transcripts(spark, n_conversations=10, seed=9)
        clean_io = temp_warehouse(spark)
        RollupEngine(spark, clean_io).run(tr, source_snapshot="s")

        io = temp_warehouse(spark)
        eng = RollupEngine(spark, io)
        write = io.overwrite_partitions

        def crash(df, table, partition_by):
            write(df, table, partition_by)
            if table == "chunks_1m":
                raise RuntimeError("injected crash in the chunk commit")

        monkeypatch.setattr(io, "overwrite_partitions", crash)
        persistent = spark.sparkContext._jsc.getPersistentRDDs
        before = persistent().size()
        with pytest.raises(RuntimeError, match="injected"):
            eng.run(tr, source_snapshot="s")
        assert persistent().size() == before
        assert set(_lineage(io, "s")) == {
            k for k in _lineage(clean_io, "s") if k[0] == "rollup_1m"
        }
        monkeypatch.undo()

        read = io.read
        reads = []

        def counting_read(table):
            reads.append(table)
            return read(table)

        monkeypatch.setattr(io, "read", counting_read)
        counts = eng.run(tr, source_snapshot="s")
        monkeypatch.undo()
        assert reads.count("lineage") == 1
        assert counts["rollup_1m"] == 0
        assert counts["rollup_1d"] > 0
        assert _lineage(io, "s") == _lineage(clean_io, "s")
        assert _canon_chunks(io.read("chunks_1m")) == _canon_chunks(
            clean_io.read("chunks_1m")
        )
        shutil.rmtree(io.root, ignore_errors=True)
        shutil.rmtree(clean_io.root, ignore_errors=True)
