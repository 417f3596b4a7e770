"""Structured Streaming front-end tests: file source + checkpoints so
watermark advancement and state recovery across restarts are real."""

import shutil
import tempfile
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from chronoxtract_spark.streaming import live

SCHEMA = "conv_id string, turn_idx int, ts timestamp"


def _rows(spark, rows):
    return spark.createDataFrame(
        [(c, i, datetime.fromisoformat(t)) for c, i, t in rows], SCHEMA
    )


@pytest.fixture()
def dirs():
    src = tempfile.mkdtemp(prefix="cx_stream_src_")
    ckpt = tempfile.mkdtemp(prefix="cx_stream_ckpt_")
    yield src, ckpt
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)


def _read_stream(spark, src):
    return spark.readStream.schema(SCHEMA).parquet(src)


class TestWatermarkedCounts:
    def test_matches_batch_counts(self, spark, dirs):
        src, ckpt = dirs
        data = _rows(
            spark,
            [
                ("a", 1, "2026-01-01T00:00:10"),
                ("a", 2, "2026-01-01T00:00:50"),
                ("a", 3, "2026-01-01T00:02:00"),
                ("b", 1, "2026-01-01T00:01:30"),
                # sentinel far in the future: advances the watermark so
                # every earlier window closes and emits in append mode
                ("z", 1, "2026-01-01T12:00:00"),
            ],
        )
        data.write.mode("append").parquet(src)
        out = live.watermarked_minute_counts(_read_stream(spark, src))
        name = live.run_to_memory(out, "wm_counts", ckpt)
        got = {
            (r["conv_id"], str(r["minute_ts"]), r["turns"])
            for r in spark.table(name).collect()
        }
        assert ("a", "2026-01-01 00:00:00", 2) in got
        assert ("a", "2026-01-01 00:02:00", 1) in got
        assert ("b", "2026-01-01 00:01:00", 1) in got

    def test_late_rows_beyond_watermark_are_dropped(self, spark, dirs):
        src, ckpt = dirs
        _rows(
            spark,
            [
                ("a", 1, "2026-01-01T00:00:10"),
                ("z", 1, "2026-01-01T06:00:00"),
            ],
        ).write.mode("append").parquet(src)
        out = live.watermarked_minute_counts(
            _read_stream(spark, src), watermark="10 minutes"
        )
        live.run_collect(out, ckpt)

        # second run, same checkpoint: watermark is already at
        # 06:00 - 10min, so a turn at 00:05 is hours late -> dropped
        _rows(
            spark,
            [
                ("a", 9, "2026-01-01T00:05:00"),
                ("z", 2, "2026-01-01T07:00:00"),
            ],
        ).write.mode("append").parquet(src)
        out2 = live.watermarked_minute_counts(
            _read_stream(spark, src), watermark="10 minutes"
        )
        rows = live.run_collect(out2, ckpt)
        got = {(r["conv_id"], str(r["minute_ts"])) for r in rows}
        assert ("a", "2026-01-01 00:05:00") not in got


class TestHourState:
    def test_state_matches_batch_moments(self, spark, dirs):
        src, ckpt = dirs
        rows = [
            ("a", i, f"2026-01-01T00:{mm:02d}:00")
            for i, mm in enumerate([1, 2, 10, 59])
        ] + [("z", 1, "2026-01-02T00:00:00")]
        _rows(spark, rows).write.mode("append").parquet(src)
        out = live.watermarked_hour_state(_read_stream(spark, src))
        name = live.run_to_memory(out, "hour_state", ckpt)
        got = {r["conv_id"]: r for r in spark.table(name).collect()}
        a = got["a"]
        # unit weights: n == s1 == s2 == s3 == s4 == 4, min == max == 1
        assert a["n"] == 4 and a["s1"] == 4.0 and a["s4"] == 4.0
        assert a["min"] == 1.0 and a["max"] == 1.0


class TestStatefulEma:
    def test_ema_survives_restart(self, spark, dirs):
        src, ckpt = dirs
        counts_schema = "conv_id string, minute_ts timestamp, turns long"

        def write(rows):
            spark.createDataFrame(
                [(c, datetime.fromisoformat(t), n) for c, t, n in rows],
                counts_schema,
            ).write.mode("append").parquet(src)

        def run():
            stream = spark.readStream.schema(counts_schema).parquet(src)
            return live.run_collect(
                live.stateful_ema(stream, alpha=0.5), ckpt, output_mode="update"
            )

        write([("a", "2026-01-01T00:00:00", 4), ("a", "2026-01-01T00:01:00", 2)])
        first = {r["conv_id"]: r for r in run()}
        # fold: 4 -> 0.5*2 + 0.5*4 = 3
        assert first["a"]["ema"] == pytest.approx(3.0)

        # restart from checkpoint with new data: state must resume at 3
        write([("a", "2026-01-01T00:02:00", 7)])
        second = {r["conv_id"]: r for r in run()}
        # 0.5*7 + 0.5*3 = 5 — only correct if GroupState survived
        assert second["a"]["ema"] == pytest.approx(5.0)
        assert second["a"]["batch_rows"] == 1


class TestTransformWithState:
    def test_moment_state_survives_restart(self, spark, dirs):
        """transformWithStateInPandas (arbitrary-state v2): the running
        per-conversation moment state must accumulate across micro-
        batches AND across a checkpoint restart, and equal the batch
        aggregation of everything seen so far.

        SKIPS where ``google.protobuf`` is unavailable: Spark's
        state-v2 python protocol is protobuf-based
        (pyspark/sql/streaming/proto/StateMessage_pb2) and this sandbox
        ships no protobuf and no network to fetch one — the same
        fencing as the Iceberg jar. The operator itself
        (live.stateful_moment_state) is complete; the
        applyInPandasWithState path (stateful_ema) is the
        runtime-validated stateful operator here."""
        pytest.importorskip(
            "google.protobuf",
            reason="transformWithState python protocol needs protobuf "
            "(absent in this sandbox)",
        )
        src, ckpt = dirs
        counts_schema = "conv_id string, minute_ts timestamp, turns long"

        def write(rows):
            spark.createDataFrame(
                [(c, datetime.fromisoformat(t), n) for c, t, n in rows],
                counts_schema,
            ).write.mode("append").parquet(src)

        def run():
            stream = spark.readStream.schema(counts_schema).parquet(src)
            return live.run_collect(
                live.stateful_moment_state(stream), ckpt, output_mode="update"
            )

        write([
            ("a", "2026-01-01T00:00:00", 4),
            ("a", "2026-01-01T00:01:00", 2),
            ("b", "2026-01-01T00:00:00", 10),
        ])
        first = {r["conv_id"]: r for r in run()}
        assert first["a"]["n"] == 2
        assert first["a"]["s1"] == pytest.approx(6.0)
        assert first["a"]["s2"] == pytest.approx(20.0)
        assert first["a"]["mean"] == pytest.approx(3.0)
        assert first["a"]["variance"] == pytest.approx(1.0)
        assert first["b"]["max"] == pytest.approx(10.0)

        # restart from checkpoint: state must resume, not reset
        write([("a", "2026-01-01T00:02:00", 6)])
        second = {r["conv_id"]: r for r in run()}
        assert second["a"]["n"] == 3
        assert second["a"]["s1"] == pytest.approx(12.0)
        assert second["a"]["mean"] == pytest.approx(4.0)
        # matches a direct batch aggregation over all rows seen
        assert second["a"]["variance"] == pytest.approx(
            ((16 + 4 + 36) / 3) - 16.0
        )


class TestSessionWindow:
    def test_matches_batch_session_stats(self, spark, dirs):
        src, ckpt = dirs
        rows = [
            ("a", 0, "2026-01-01T00:00:00"),
            ("a", 1, "2026-01-01T00:10:00"),
            ("a", 2, "2026-01-01T02:00:00"),   # > 30 min gap: new session
            ("a", 3, "2026-01-01T02:05:00"),
            ("b", 0, "2026-01-01T00:03:00"),
            # sentinel closes every real session's window
            ("z", 1, "2026-01-01T12:00:00"),
        ]
        _rows(spark, rows).write.mode("append").parquet(src)
        out = live.watermarked_session_stats(
            _read_stream(spark, src), gap="30 minutes"
        )
        name = live.run_to_memory(out, "wm_sessions", ckpt)
        got = {
            (r.conv_id, r.start_s): (r.n_turns, r.end_s, r.duration_s)
            for r in spark.table(name).collect()
        }

        from chronoxtract_spark.operators.sessions import session_stats

        batch = {
            (r.conv_id, r.start_s): (r.n_turns, r.end_s, r.duration_s)
            for r in session_stats(_rows(spark, rows), gap_s=1800)
            .filter(F.col("conv_id") != "z")
            .collect()
        }
        assert batch == got  # closed sessions agree with the batch op
        assert len(got) == 3
        a0 = got[("a", 1767225600)]  # 2026-01-01T00:00:00Z
        assert a0 == (2, 1767226200, 600)


class TestStreamingDedup:
    def test_first_arrival_wins_and_dupes_drop(self, spark, dirs):
        src, ckpt = dirs
        # conv a text duplicated with different whitespace (normalized
        # key collapses them); sentinel advances the watermark
        df = spark.createDataFrame(
            [
                ("a", 0, datetime.fromisoformat("2026-01-01T00:00:00"), "Hello  World"),
                ("a", 1, datetime.fromisoformat("2026-01-01T00:01:00"), " hello world "),
                ("b", 0, datetime.fromisoformat("2026-01-01T00:02:00"), "unique text"),
                ("z", 0, datetime.fromisoformat("2026-01-01T12:00:00"), "sentinel"),
            ],
            "conv_id string, turn_idx int, ts timestamp, text string",
        )
        df.write.mode("append").parquet(src)
        stream = spark.readStream.schema(
            "conv_id string, turn_idx int, ts timestamp, text string"
        ).parquet(src)
        out = live.watermarked_dedup(
            stream, ts_col="ts", watermark="10 minutes",
            normalized_text_col="text",
        )
        name = live.run_to_memory(out.select("conv_id", "turn_idx"), "wm_dedup", ckpt)
        # the internal dedup-key helper column must not leak into the
        # caller's sink schema
        assert "_cx_dedup_key" not in out.columns
        got = {(r.conv_id, r.turn_idx) for r in spark.table(name).collect()}
        # exactly ONE of the two normalized-duplicate rows survives
        # (within a single micro-batch the survivor is arbitrary —
        # the guarantee is uniqueness, not event-time order)
        assert len({("a", 0), ("a", 1)} & got) == 1
        assert ("b", 0) in got

    def test_session_state_survives_restart(self, spark, dirs):
        """A session whose turns arrive in two separate runs against
        the same checkpoint must emit as ONE merged session — the
        session-window state store, not per-batch grouping, defines
        the session."""
        src, ckpt = dirs
        _rows(
            spark,
            [
                ("a", 0, "2026-01-01T00:00:00"),
                ("a", 1, "2026-01-01T00:10:00"),
                # small sentinel: advances the watermark a little but
                # NOT past the open session's close point
                ("y", 0, "2026-01-01T00:20:00"),
            ],
        ).write.mode("append").parquet(src)
        out = live.watermarked_session_stats(
            _read_stream(spark, src), gap="30 minutes", watermark="10 minutes"
        )
        live.run_collect(out, ckpt)

        # second application run, same checkpoint: one more turn in the
        # SAME session, then a far sentinel that closes everything
        _rows(
            spark,
            [
                ("a", 2, "2026-01-01T00:20:00"),
                ("z", 0, "2026-01-01T12:00:00"),
            ],
        ).write.mode("append").parquet(src)
        out2 = live.watermarked_session_stats(
            _read_stream(spark, src), gap="30 minutes", watermark="10 minutes"
        )
        rows = live.run_collect(out2, ckpt)
        sessions = {r.conv_id: r for r in rows if r.conv_id == "a"}
        a = sessions["a"]
        # merged: 3 turns spanning 00:00-00:20, not a 1-turn fragment
        assert a.n_turns == 3
        assert a.duration_s == 1200


class TestStreamingChunks:
    def test_stream_equals_batch_chunks_byte_for_byte(self, spark, dirs):
        """The streaming chunk face (foreachBatch -> full-conversation
        re-encode -> (day, conv_id) dynamic overwrite) must terminate in
        EXACTLY the chunk table one batch build_chunks produces over the
        same events — same Gorilla payload bytes, same crc32, same
        layout — across multiple micro-batches that split conversations
        mid-day and mid-span."""
        import shutil as sh

        from chronoxtract_spark.plans.rollup import RollupEngine
        from chronoxtract_spark.sources.tableio import temp_warehouse
        from chronoxtract_spark.synth import synth_transcripts

        src, ckpt = dirs
        # long conversations so dense spans cross day boundaries (the
        # case the full-conversation re-encode exists for)
        tr = synth_transcripts(
            spark, n_conversations=6, seed=11, min_turns=250, max_turns=400
        ).select("conv_id", "turn_idx", "ts")
        tr.cache()
        # three source files -> three micro-batches, slicing every
        # conversation's turn sequence across batches
        for k in range(3):
            tr.filter(F.pmod("turn_idx", F.lit(3)) == k).coalesce(1).write.mode(
                "append"
            ).parquet(src)

        io = temp_warehouse(spark)
        eng = RollupEngine(spark, io)
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        live.streaming_chunks(stream, eng, ckpt)

        def canon(df):
            return {
                (r["conv_id"], str(r["day"])): (
                    r["n"],
                    r["t0"],
                    r["checksum"],
                    bytes(r["ts_bytes"]),
                    bytes(r["val_bytes"]),
                )
                for r in df.collect()
            }

        got = canon(io.read("chunks_1m_stream"))
        io2 = temp_warehouse(spark)
        eng2 = RollupEngine(spark, io2)
        want = canon(eng2.build_chunks(eng2.build_observed(tr)))
        assert got == want
        assert len(got) > 6  # multi-day chunks actually exercised

        # availableNow with an exhausted source: replay is a no-op
        stream2 = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        live.streaming_chunks(stream2, eng, ckpt)
        assert canon(io.read("chunks_1m_stream")) == want

        tr.unpersist()
        sh.rmtree(io.root, ignore_errors=True)
        sh.rmtree(io2.root, ignore_errors=True)


class TestStreamingHeartbeats:
    def test_islands_match_batch_heartbeat_agg(self, spark, dirs):
        src, ckpt = dirs
        rows = [
            # key a: hbs at 0, 10, 20 min (merge at 15-min liveness),
            # then 60 min (own island)
            ("a", 0, "2026-01-01T00:00:00"),
            ("a", 1, "2026-01-01T00:10:00"),
            ("a", 2, "2026-01-01T00:20:00"),
            ("a", 3, "2026-01-01T01:00:00"),
            ("b", 0, "2026-01-01T00:05:00"),
            # sentinel closes every real island's window
            ("z", 0, "2026-01-01T12:00:00"),
        ]
        _rows(spark, rows).write.mode("append").parquet(src)
        out = live.watermarked_heartbeats(
            _read_stream(spark, src), liveness_s=900
        )
        name = live.run_to_memory(out, "wm_heartbeats", ckpt)
        got = spark.table(name).filter(F.col("conv_id") != "z")
        islands = {
            (r.conv_id, r.first_s): (r.n_hb, r.extent_s)
            for r in got.collect()
        }
        assert islands == {
            ("a", 1767225600): (3, 1200 + 900),
            ("a", 1767229200): (1, 900),
            ("b", 1767225900): (1, 900),
        }

        # per-key rollup of streamed islands == batch heartbeat_agg
        from chronoxtract_spark.operators.counters import heartbeat_agg

        batch = {
            r.conv_id: (r.n_heartbeats, r.n_live_segments, r.uptime_s)
            for r in heartbeat_agg(
                _rows(spark, rows).filter(F.col("conv_id") != "z"),
                keys="conv_id", ts_col="ts", liveness_s=900,
            ).collect()
        }
        streamed = {}
        for r in got.collect():
            n, seg, up = streamed.get(r.conv_id, (0, 0, 0.0))
            streamed[r.conv_id] = (n + r.n_hb, seg + 1, up + r.extent_s)
        assert streamed == batch


class TestStatefulTdigest:
    def test_digest_survives_restart_and_equals_batch(self, spark, dirs):
        """Singleton regime: the streamed digest (built across two
        separate micro-batch runs with a checkpoint restart between
        them) must report EXACTLY the quantiles of a one-shot batch
        digest over all values — same kernel, same merge, so state
        loss or double-counting would show up as a value diff."""
        import numpy as np

        from chronoxtract_spark.kernel.tdigest import (
            tdigest_build,
            tdigest_quantile,
        )

        src, ckpt = dirs
        schema = "conv_id string, minute_ts timestamp, turns double"
        rng = np.random.RandomState(13)
        first = [float(x) for x in rng.gamma(2.0, 5.0, 40)]
        second = [float(x) for x in rng.gamma(2.0, 5.0, 25)]

        def write(vals, t0):
            rows = [
                ("a", datetime.fromisoformat(f"2026-01-01T{t0:02d}:{i:02d}:00"), v)
                for i, v in enumerate(vals[:60])
            ]
            spark.createDataFrame(rows, schema).write.mode("append").parquet(src)

        def run():
            stream = spark.readStream.schema(schema).parquet(src)
            return live.run_collect(
                live.stateful_tdigest(stream, compression=1e6),
                ckpt,
                output_mode="update",
            )

        write(first, 0)
        r1 = {r["conv_id"]: r for r in run()}
        assert r1["a"]["n"] == len(first)
        assert r1["a"]["n_centroids"] == len(first)  # singleton regime

        write(second, 1)
        r2 = {r["conv_id"]: r for r in run()}
        assert r2["a"]["n"] == len(first) + len(second)

        allv = np.asarray(first + second)
        m, w = tdigest_build(allv, compression=1e6)
        for col, q in (("q05", 0.05), ("q25", 0.25), ("q50", 0.5),
                       ("q75", 0.75), ("q95", 0.95)):
            assert r2["a"][col] == pytest.approx(
                tdigest_quantile(m, w, q), rel=1e-12), col

    def test_state_is_bounded_at_production_compression(self, spark, dirs):
        """At compression=50 the per-key state must compress far below
        the number of streamed values — the bounded-state property."""
        import numpy as np

        src, ckpt = dirs
        schema = "conv_id string, minute_ts timestamp, turns double"
        rng = np.random.RandomState(3)
        rows = [
            ("a", datetime.fromisoformat(
                f"2026-01-01T{h:02d}:{i:02d}:00"), float(v))
            for h in range(4)
            for i, v in enumerate(rng.standard_normal(60))
        ]
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        out = {r["conv_id"]: r for r in live.run_collect(
            live.stateful_tdigest(stream, compression=50),
            ckpt, output_mode="update")}
        a = out["a"]
        assert a["n"] == 240
        assert a["n_centroids"] <= 30  # ~delta/2 buckets, << 240 values
        # sane envelope on a standard normal
        assert -1.0 < a["q50"] < 1.0
        assert a["q05"] < a["q25"] < a["q50"] < a["q75"] < a["q95"]


class TestStatefulHeavyHitters:
    def test_stream_equals_batch_after_restart(self, spark, dirs):
        """Lossless regime (budget >= vocabulary): after two
        micro-batch runs with a checkpoint restart between them, the
        streamed top-k must EQUAL exact batch term counts with thr==0
        — state loss or double-counting would move a count."""
        from collections import Counter

        src, ckpt = dirs
        schema = "conv_id string, minute_ts timestamp, text string"
        first = ["alpha beta beta", "gamma alpha", "beta"]
        second = ["alpha alpha", "delta beta gamma gamma"]

        def write(texts, t0):
            rows = [
                ("a", datetime.fromisoformat(f"2026-01-01T{t0:02d}:{i:02d}:00"), t)
                for i, t in enumerate(texts)
            ]
            spark.createDataFrame(rows, schema).write.mode("append").parquet(src)

        def run():
            stream = spark.readStream.schema(schema).parquet(src)
            return live.run_collect(
                live.stateful_heavy_hitters(stream, budget=1 << 10, k=5),
                ckpt,
                output_mode="update",
            )

        write(first, 0)
        r1 = run()
        assert {r["term"]: r["cnt_lb"] for r in r1} == {
            "beta": 3, "alpha": 2, "gamma": 1}

        write(second, 1)
        r2 = sorted(run(), key=lambda r: r["rank"])
        truth = Counter(
            t for doc in first + second for t in doc.split())
        want = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        got = [(r["term"], r["cnt_lb"]) for r in r2]
        assert got == want
        assert all(r["thr"] == 0 and r["cnt_ub"] == r["cnt_lb"] for r in r2)
        assert r2[0]["n"] == sum(truth.values())

    def test_truncation_keeps_sandwich(self, spark, dirs):
        """budget=2 over a 5-term stream: state stays bounded and every
        surviving count brackets the truth in [cnt_lb, cnt_ub]."""
        from collections import Counter

        src, ckpt = dirs
        schema = "conv_id string, minute_ts timestamp, text string"
        docs = [
            "t1 t1 t1 t1 t2 t2 t2 rare1",
            "t1 t1 t2 rare2 rare3",
            "t1 t1 t1 t2 t2 rare1",
        ]
        rows = [
            ("a", datetime.fromisoformat(f"2026-01-01T00:{i:02d}:00"), t)
            for i, t in enumerate(docs)
        ]
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        out = live.run_collect(
            live.stateful_heavy_hitters(stream, budget=2, k=2),
            ckpt, output_mode="update",
        )
        truth = Counter(t for doc in docs for t in doc.split())
        assert out
        for r in out:
            assert r["cnt_lb"] <= truth[r["term"]] <= r["cnt_ub"], (
                r["term"], r["cnt_lb"], r["cnt_ub"], truth[r["term"]])
        # the two dominant terms survive the budget
        assert {r["term"] for r in out} == {"t1", "t2"}


class TestStatefulKmv:
    def test_stream_equals_batch_sketch_both_regimes(self, spark, dirs):
        """The streamed bottom-k state must EQUAL batch kmv_distinct
        over all rows seen — exactly, in both the saw_all regime and
        the estimator regime (same xxhash64 family, bottom-k is
        order-insensitive) — across a checkpoint restart."""
        from chronoxtract_spark.operators.sketches import kmv_distinct

        src, ckpt = dirs
        schema = "conv_id string, minute_ts timestamp, turns double"

        def write(vals, t0):
            rows = [
                ("a", datetime.fromisoformat(f"2026-01-01T{t0:02d}:{i % 60:02d}:00"),
                 float(v))
                for i, v in enumerate(vals)
            ]
            spark.createDataFrame(rows, schema).write.mode("append").parquet(src)

        def run(k):
            stream = spark.readStream.schema(schema).parquet(src)
            return {
                r["conv_id"]: r
                for r in live.run_collect(
                    live.stateful_kmv(stream, k=k), ckpt,
                    output_mode="update")
            }

        first = [float(v) for v in range(40)]
        second = [float(v) for v in range(25, 60)]  # overlap: 40..59 new

        write(first, 0)
        r1 = run(k=16)  # estimator regime: 40 distinct > k
        assert r1["a"]["n_kept"] == 16 and not r1["a"]["saw_all"]

        write(second, 1)
        r2 = run(k=16)
        batch = spark.createDataFrame(
            [("a", float(v)) for v in first + second], "conv_id string, turns double"
        )
        want = kmv_distinct(batch, "conv_id", "turns", k=16).collect()[0]
        assert r2["a"]["n_kept"] == want["n_kept"]
        assert r2["a"]["saw_all"] == want["saw_all"]
        assert r2["a"]["est"] == want["est"]  # exact: same hashes, same k
        assert r2["a"]["n_rows"] == len(first) + len(second)

    def test_lossless_regime_is_exact(self, spark, dirs):
        src, ckpt = dirs
        schema = "conv_id string, minute_ts timestamp, turns double"
        rows = [
            (k, datetime.fromisoformat(f"2026-01-01T00:{i:02d}:00"), float(v))
            for k, vs in (("a", [1, 2, 2, 3]), ("b", [5, 5, 5]))
            for i, v in enumerate(vs)
        ]
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        out = {
            r["conv_id"]: r
            for r in live.run_collect(
                live.stateful_kmv(stream, k=1 << 10), ckpt,
                output_mode="update")
        }
        assert out["a"]["saw_all"] and out["a"]["est"] == 3.0
        assert out["b"]["saw_all"] and out["b"]["est"] == 1.0
