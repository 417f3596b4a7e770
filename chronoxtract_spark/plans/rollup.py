"""The north-rule rollup pipeline.

``transcripts → turn-rate 1m series → gap-fill → feature tiers
(1m/1h/1d) + Gorilla chunks → lineage → retention`` — the full
lifecycle of BASELINE.json:north_star, expressed as one declarative
Spark plan per tier.

Scale design (10^12 turns, 1000 executors):

- The only wide operations are groupBy shuffles keyed on
  ``(conv_id, <time bucket>)``; every tier reuses the same conv_id
  hash partitioning so AQE can pipeline exchanges.
- Mega-thread skew: the turn-rate aggregation key includes the minute
  bucket, so a 10M-turn conversation spreads over its minutes; the
  optional ``salt`` adds ``pmod(xxhash64(conv_id), salts)`` to
  pre-split pathological single-minute hot keys, and AQE skew-join
  splitting is on session-wide (session.get_spark).
- The 1h and 1d tiers come from ONE kernel pass over the observed
  rows (build_rollup_tiers_kernel): the dense series is regenerated
  in-kernel and both tiers' windows are cut from it, each carrying
  mergeable raw-moment state (n, s1..s4, min, max — the reference's
  algebraic trick, src/stats/mod.rs:25-43), exact window quantiles and
  the north-star features; the moments are derived from that state by
  column math (functions.moments_from_state).
- Each day partition commits with a lineage row (row count, checksum,
  source snapshot); re-runs skip partitions whose lineage matches —
  the checkpoint/resume contract.
"""

from __future__ import annotations

import time
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronoxtract_spark import compression as cxc
from chronoxtract_spark import functions as cxf
from chronoxtract_spark.kernel import gapfill as k_gapfill
from chronoxtract_spark.operators import features as ops_features
from chronoxtract_spark.operators.gapfill import gap_fill_minutes, turn_rate_1m

TIERS = ("rollup_1m", "rollup_1h", "rollup_1d")
LINEAGE_TABLE = "lineage"
CHUNK_TABLE = "chunks_1m"


#: per-day lineage metrics ride the write action itself (df.observe)
#: up to this many day partitions per commit; beyond it the engine
#: falls back to a post-write read-back aggregation. The cutover is a
#: measured cost model, not a safety valve: CollectMetrics evaluates
#: its aggregate expressions per input row (~5 ns per expr per row
#: measured on this host), so a D-day commit costs ~2·D·5 ns/row —
#: at D=350 that quadrupled the dense-tier write, while one read-back
#: scan of the just-written (page-cache-warm) files costs a flat
#: ~0.14 µs/row. Breakeven ≈ 14 days of metrics exprs. Incremental
#: daily loads — the regime a 100 TB deployment actually commits in —
#: always ride the observe path; bulk backfills pay one re-scan.
#: SMALL tiers (1h/1d/chunks: a few rows per conv-day) have a higher
#: cap because rows, not days, dominate their metric cost.
MAX_OBSERVE_DAYS = 16
MAX_OBSERVE_DAYS_SMALL = 366

def _day_hash_term(c: str) -> str:
    """SQL term for one column inside the canonical ``row_hash``.

    ``day`` hashes as its epoch-day integer so the digest is invariant
    to the column's physical type (string 'yyyy-MM-dd' on the small
    tiers, DATE on the dense 1m tier and on every partition-inferred
    read-back) and so the dense write never renders per-row strings —
    date→string formatting is the worst-scaling expression on this
    host (BENCH/W1M_COMPONENTS.md: date_format scales 1.29x from 2c to
    8c vs 2.9x+ for integer/date arithmetic)."""
    return "unix_date(cast(day as date))" if c == "day" else c


def _day_dates(days: list[str]):
    """'yyyy-MM-dd' strings → datetime.date literals, so day filters
    compare 4-byte dates instead of coercing the column to string."""
    import datetime

    return [datetime.date.fromisoformat(d) for d in days]


CHUNK_SCHEMA = (
    "conv_id string, day string, chunk_id string, t0 long, n long, "
    "ts_bytes binary, val_bytes binary, checksum long, raw_size long, "
    "enc_size long"
)
CHUNK_COLS = [f.split()[0] for f in CHUNK_SCHEMA.split(", ")]
#: the chunk fields a 1d row of the fused tier pass carries; the chunk's
#: day and ``n`` (the day's point count) are the window's own
TIER_CHUNK_FIELDS = [
    tuple(f.split())
    for f in CHUNK_SCHEMA.split(", ")
    if f.split()[0] not in ("conv_id", "day", "n")
]
TIER_CHUNK_COLS = [c for c, _ in TIER_CHUNK_FIELDS]


def _dense_per_conv(pdf: pd.DataFrame, interpolate: str = "linear"):
    """Conversation values and each conversation's dense gap-filled
    series (kernel.gapfill.dense_from_observed, bit-identical to the 1m
    tier) from one group of slim observed ``(conv_id, t, v)`` rows:
    ``(conv_vals, [(code, t_dense, v_dense), ...])`` in ``conv_vals``
    order."""
    conv_vals, codes = np.unique(pdf["conv_id"].to_numpy(), return_inverse=True)
    t_raw = pdf["t"].to_numpy(np.int64)
    v_raw = pdf["v"].to_numpy(np.float64)
    order = np.lexsort((t_raw, codes))  # stable: ties keep input order
    codes, t_raw, v_raw = codes[order], t_raw[order], v_raw[order]
    cchange = np.flatnonzero(codes[1:] != codes[:-1]) + 1
    cstarts = np.concatenate(([0], cchange))
    cends = np.concatenate((cchange, [len(codes)]))
    series = []
    for s, e in zip(cstarts, cends):
        t, v, _turns, _obs = k_gapfill.dense_from_observed(
            t_raw[s:e], v_raw[s:e], interpolate=interpolate
        )
        series.append((codes[s], t, v))
    return conv_vals, series


def _day_chunks(conv: str, t: np.ndarray, v: np.ndarray) -> list[tuple]:
    """One conversation's dense series split at UTC day boundaries and
    Gorilla-encoded per day (chronoxtract_spark.compression): one
    ``(day, chunk_id, t0, n, ts_bytes, val_bytes, checksum, raw_size,
    enc_size)`` tuple per day, in day order — the only chunk encoder,
    shared by build_chunks and the fused tier pass."""
    day_idx = t // 86400
    change = np.flatnonzero(day_idx[1:] != day_idx[:-1]) + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [len(t)]))
    out = []
    for s, e in zip(starts, ends):
        ch = cxc.encode_chunk(t[s:e], v[s:e])
        day = str(np.datetime64(int(day_idx[s]) * 86400, "s"))[:10]
        out.append((
            day, f"{conv}/{day}", ch["t0"], ch["n"], ch["ts_bytes"],
            ch["val_bytes"], ch["checksum"], ch["raw_size"], ch["enc_size"],
        ))
    return out


def _bucketed_map(slim: DataFrame, fn, schema: str) -> DataFrame:
    """``fn`` over one Arrow group per hash bucket of conversations, not
    one per conversation: at many conversations the per-group pandas
    machinery rivals the kernel math, and same-length windows batch
    across the whole bucket. The grouped map runs in the session's
    ``defaultParallelism`` partitions — each Python task has a fixed
    cost (DESIGN.md, "Python-worker cost per task"), so more tasks than
    cores only add it — with 8 buckets per partition to spread
    Zipf-skewed conversations. The explicit repartition also keeps AQE
    from coalescing the tiny observed input into one task while the
    kernel regenerates the ~1000x dense series."""
    par = slim.sparkSession.sparkContext.defaultParallelism
    return (
        slim.withColumn("_bkt", F.pmod(F.xxhash64("conv_id"), F.lit(par * 8)))
        .repartition(par, "_bkt")
        .groupBy("_bkt")
        .applyInPandas(fn, schema=schema)
    )


class RollupEngine:
    def __init__(
        self,
        spark: SparkSession,
        io,
        salts: int = 0,
        compress: bool = True,
        verify_readback: bool = False,
    ):
        self.spark = spark
        self.io = io
        # serializes lineage commits for callers that drive tier writes
        # from concurrent driver threads (guide §2.6): two appends into
        # the same parquet directory would race in the shared
        # _temporary staging dir. run() itself is sequential — an
        # overlapped dense-write variant measured 1.6x SLOWER (all legs
        # are CPU/membw-bound on the same cores) and was reverted.
        import threading

        self._lineage_lock = threading.Lock()
        self.salts = salts
        self.compress = compress
        # opt-in audit: after each tier write, re-read the written files
        # and check their per-day checksums against the in-flight
        # (observe) metrics — full write verification at the cost of one
        # extra scan per tier (OFF by default: at 100 TB a dense-tier
        # read-back doubles the biggest table's IO)
        self.verify_readback = verify_readback

    # -- lineage ------------------------------------------------------------

    def committed_days(self, source_snapshot: str) -> dict[str, set[str]]:
        """Table → day partitions already committed against this exact
        source snapshot, for every tier and the chunk table, from ONE
        scan of the lineage table."""
        if not self.io.exists(LINEAGE_TABLE):
            return {}
        rows = (
            self.io.read(LINEAGE_TABLE)
            .filter(F.col("source_snapshot") == source_snapshot)
            .select("tier", "partition_key")
            .distinct()
            .collect()
        )
        days: dict[str, set[str]] = {}
        for tier, day in rows:
            days.setdefault(tier, set()).add(day)
        return days

    def _write_with_lineage(
        self,
        df: DataFrame,
        table: str,
        days: list[str],
        source_snapshot: str,
        small_tier: bool = False,
    ) -> int:
        """Partitioned dynamic-overwrite write whose per-day lineage
        metrics (row count + an order-insensitive bit_xor(xxhash64)
        content checksum — commutative, so shuffle order can't change
        it, and overflow-free under ANSI mode) are collected by the write
        action itself via ``df.observe`` — ONE scan produces both the
        tier files and the lineage commit; the written table is never
        re-read. The day partitions are known up front (the gap-fill
        span union), so per-day metrics are fixed conditional aggregates
        keyed on an integer epoch-day — no grouping needed.

        Every written tier carries a ``row_hash`` column —
        ``xxhash64`` over the name-sorted data columns (day as string)
        — so content digests are a COLUMN of the table, not a
        recomputation: the bulk-backfill fallback past
        ``observe_day_cap`` (default MAX_OBSERVE_DAYS — see the cost
        model there) re-reads only ``(day, row_hash)`` (a thin
        column-pruned scan, ~8 bytes/row, instead of decoding and
        re-hashing every column of the dense tier), and any later audit
        can checksum a partition without touching the wide columns.
        ``verify_readback=True`` additionally re-reads the written
        files, RECOMPUTES the hash from the data columns, and asserts
        equality with the committed checksums (opt-in write audit).

        ``small_tier`` marks the 1h/1d/chunk tables (a few rows per
        conv-day, keyed by ``conv_id``): they are repartitioned by day
        before the write, written in a canonical row order, and keep the
        observe path up to MAX_OBSERVE_DAYS_SMALL days.

        Returns the total committed row count."""
        observe_day_cap = (
            MAX_OBSERVE_DAYS_SMALL if small_tier else MAX_OBSERVE_DAYS
        )
        if small_tier:
            # collapse tasks-x-days small files (guide §6: a 30-day x
            # 64-task commit writes ~2000 tiny files and the write
            # spends 5x longer opening/committing files than encoding
            # rows — measured 20.3s plain vs 3.3s day-keyed for the
            # sf0.1 chunk tier); only for the SMALL tiers — on the
            # dense 1m tier the day-keyed fan-out (gapfill) already
            # owns the layout. When the commit window has fewer days
            # than cores (the incremental daily load), a conv_id salt
            # keeps the write parallel while bounding files per day to
            # the salt width.
            k = max(
                1,
                self.spark.sparkContext.defaultParallelism
                // max(len(days), 1),
            )
            if k > 1:
                df = df.repartition(
                    F.col("day"), F.pmod(F.xxhash64("conv_id"), F.lit(k))
                )
            else:
                df = df.repartition(F.col("day"))
        if not days:
            return 0
        # name-sorted hash order: a read-back re-appends the partition
        # column last, so positional order is not canonical. The day
        # term is canonicalized to its epoch-day INTEGER
        # (unix_date(cast(day as date))) — identical for a string
        # 'yyyy-MM-dd' column (small tiers) and a DATE column (the dense
        # 1m tier), and it keeps per-row string formatting out of the
        # hash: date_format/cast-to-string is the single worst-scaling
        # expression on the dense path (BENCH/W1M_COMPONENTS.md).
        cols = sorted(df.columns)
        hashed = df.withColumn(
            "row_hash",
            F.expr(
                "xxhash64({})".format(
                    ", ".join(_day_hash_term(c) for c in cols)
                )
            ),
        )

        def write(out):
            if small_tier:
                # the shuffle hands rows over in map-output order, so
                # without a total order the same rows from a different
                # upstream partitioning would write different bytes
                out = out.sortWithinPartitions("day", "conv_id", "row_hash")
            self.io.overwrite_partitions(out, table, ["day"])

        if len(days) > observe_day_cap:
            # bulk backfill: per-day metrics from a thin (day, row_hash)
            # read-back of the files just written (page-cache warm).
            # Partition inference returns day as DATE, so the filter
            # uses date literals and the group key stays an integer-
            # backed date — the string render happens once per DAY on
            # the driver, never per row.
            write(hashed)
            back = (
                self.io.read(table)
                .filter(F.to_date(F.col("day")).isin(_day_dates(days)))
                .groupBy(F.to_date(F.col("day")).alias("day"))
                .agg(
                    F.count("*").alias("row_count"),
                    F.bit_xor("row_hash").alias("checksum"),
                )
                .collect()
            )
            now = int(time.time() * 1000)
            rows = [
                (table, str(r["day"]), source_snapshot, r["row_count"],
                 r["checksum"], now)
                for r in back
            ]
        else:
            from pyspark.sql import Observation

            day_ints = {
                d: int(np.datetime64(d, "D").astype(np.int64)) for d in days
            }
            hashed = hashed.withColumn(
                "_di", F.unix_date(F.to_date(F.col("day")))
            )
            exprs = []
            for d, di in day_ints.items():
                m = F.col("_di") == F.lit(di)
                exprs.append(
                    F.sum(F.when(m, 1).otherwise(0)).alias(f"c{di}")
                )
                exprs.append(
                    F.bit_xor(F.when(m, F.col("row_hash"))).alias(f"x{di}")
                )
            obs = Observation(f"lineage_{table}")
            write(hashed.observe(obs, *exprs).drop("_di"))
            vals = obs.get
            now = int(time.time() * 1000)
            rows = [
                (table, d, source_snapshot, int(vals[f"c{di}"]),
                 int(vals[f"x{di}"]), now)
                for d, di in day_ints.items()
                if vals[f"c{di}"]
            ]
        if rows:
            lineage = self.spark.createDataFrame(
                rows,
                "tier string, partition_key string, source_snapshot string, "
                "row_count long, checksum long, committed_at long",
            )
            with self._lineage_lock:
                self.io.append(lineage, LINEAGE_TABLE)
        if self.verify_readback:
            written = self.io.read(table).filter(
                F.to_date(F.col("day")).isin(_day_dates(days))
            )
            back_chk = {
                str(r["day"]): (r["row_count"], r["checksum"])
                for r in written.groupBy(
                    F.to_date(F.col("day")).alias("day")
                ).agg(
                    F.count("*").alias("row_count"),
                    F.expr(
                        "bit_xor(xxhash64({}))".format(
                            ", ".join(_day_hash_term(c) for c in cols)
                        )
                    ).alias("checksum"),
                ).collect()
            }
            expect = {r[1]: (r[3], r[4]) for r in rows}
            if back_chk != expect:
                raise RuntimeError(
                    f"write verification failed for {table}: "
                    f"readback={back_chk} != committed={expect}"
                )
        return sum(r[3] for r in rows)

    # -- tier builders --------------------------------------------------------

    def build_observed(self, transcripts: DataFrame) -> DataFrame:
        """transcripts → per-(conv, minute) turn counts (pre-gap-fill).

        Mega-thread skew: the aggregation key includes the minute bucket,
        so a 10M-turn conversation spreads over its minutes, and Spark's
        partial (map-side) aggregation collapses even a single hot
        (conv, minute) cell before the shuffle — a count is algebraic, so
        no value-salting is needed on this path. ``salts`` > 0 adds an
        explicit pre-aggregation salted repartition for inputs whose
        *file layout* clusters one conversation into one input split
        (the north rule's salting clause); AQE skew-join splitting
        (session default) covers the join-side case.
        """
        df = transcripts
        if self.salts:
            df = df.repartition(
                max(df.sparkSession.sparkContext.defaultParallelism * 2, 16),
                F.col("conv_id"),
                F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(self.salts)),
            )
        return turn_rate_1m(df)

    @staticmethod
    def _observed_slim(observed: DataFrame) -> DataFrame:
        """(conv_id, epoch minute, count) — the only data the dense-series
        kernels need; ~1000x smaller than the gap-filled table."""
        return observed.select(
            "conv_id",
            F.unix_timestamp("minute_ts").alias("t"),
            F.col("turns").cast("double").alias("v"),
        )

    def _candidate_days(self, observed: DataFrame) -> list[str]:
        """All day partitions the gap-filled output will contain: the
        union of per-conversation [first, last] observed-day ranges
        (gap days between observations count; tiny aggregation)."""
        spans = observed.groupBy("conv_id").agg(
            F.min(F.to_date("minute_ts")).alias("d0"),
            F.max(F.to_date("minute_ts")).alias("d1"),
        )
        days = spans.select(
            F.explode(
                F.sequence(F.col("d0"), F.col("d1"), F.expr("interval 1 day"))
            ).alias("d")
        ).distinct()
        return sorted(str(r[0]) for r in days.collect())

    def build_rollup_1m(self, base: DataFrame) -> DataFrame:
        """1m tier = the gap-filled series itself (one point per
        conversation-minute) — the finest retention tier."""
        return base.select(
            "conv_id",
            "minute_ts",
            F.col("turns").cast("long").alias("turns"),
            F.col("rate").cast("double").alias("rate"),
            "observed",
            "day",
        )

    def build_rollup_tiers_kernel(self, observed: DataFrame) -> DataFrame:
        """BOTH window tiers (1h + 1d) — mergeable moment state, exact
        window quantiles, north-star features — and the Gorilla chunks,
        from ONE grouped-map pass over the observed rows. Each
        conversation's dense series is regenerated in-kernel once; both
        tiers' windows are cut from it (operators.features.tier_windows)
        and each day of it is encoded once (the encoder build_chunks
        uses), so the 1d tier's full feature vector costs only its
        window math and the chunks cost only their encoding — no second
        shuffle, no second dense regeneration, and no quantile columns
        silently vanishing at the coarsest retention tier (the
        reference computes the same statistics at every tier,
        src/stats/mod.rs:81-114).

        Output: one row per (conv_id, bucket_seconds∈{3600,86400},
        bucket_epoch) with state + derived moments + features + day.
        A 1d window and a chunk share their (conv_id, day) key, so each
        1d row also carries its day's chunk (TIER_CHUNK_FIELDS; the
        chunk's point count is the row's ``n``); on 1h rows those
        columns are null."""
        slim = self._observed_slim(observed)
        fields = ops_features.WINDOW_STATE_FIELDS + ops_features.CORE_FEATURE_FIELDS
        schema = ", ".join(
            [f"conv_id {dict(slim.dtypes)['conv_id']}"]
            + ["bucket_seconds long, bucket_epoch long"]
            + [f"{c} {t}" for c, t in fields + TIER_CHUNK_FIELDS]
        )

        def fused(pdf: pd.DataFrame) -> pd.DataFrame:
            conv_vals, series = _dense_per_conv(pdf)
            t = np.concatenate([s[1] for s in series])
            x = np.concatenate([s[2] for s in series])
            conv_idx = np.concatenate(
                [np.full(s[1].size, s[0], dtype=np.int64) for s in series]
            )
            hours, days = (
                ops_features.tier_windows(x, t, conv_idx, conv_vals, width)
                for width in (3600, 86400)
            )
            hours.insert(1, "bucket_seconds", np.int64(3600))
            days.insert(1, "bucket_seconds", np.int64(86400))
            # 1d windows come out in (conversation, day) order, the order
            # _day_chunks emits each conversation's days in
            chunks = zip(*(
                ch
                for code, tc, vc in series
                for ch in _day_chunks(conv_vals[code], tc, vc)
            ))
            for c, vals in zip(CHUNK_COLS[1:], chunks):
                if c in TIER_CHUNK_COLS:
                    days[c] = vals
            for c, ft in TIER_CHUNK_FIELDS:
                hours[c] = pd.Series(
                    None, index=hours.index,
                    dtype="Int64" if ft == "long" else object,
                )
            return pd.concat([hours, days], ignore_index=True)

        tier = _bucketed_map(slim, fused, schema)
        tier = tier.withColumn(
            "bucket_ts", F.timestamp_seconds(F.col("bucket_epoch"))
        )
        derived = cxf.moments_from_state()
        for name, col in derived.items():
            tier = tier.withColumn(name, col)
        return tier.withColumn("day", F.to_date("bucket_ts"))

    @staticmethod
    def chunks_from_tiers(tiers: DataFrame) -> DataFrame:
        """The Gorilla chunk table (CHUNK_SCHEMA) that the 1d rows of
        build_rollup_tiers_kernel carry — equal to ``build_chunks`` over
        the same observed rows. The chunk day is the UTC day of the
        window, the day build_chunks encodes under."""
        return tiers.filter(F.col("bucket_seconds") == 86400).select(
            "conv_id",
            F.expr(
                "cast(date_from_unix_date(cast(bucket_epoch div 86400 as int))"
                " as string)"
            ).alias("day"),
            *CHUNK_COLS[2:],
        )

    def build_chunks(
        self, observed: DataFrame, interpolate: str = "linear"
    ) -> DataFrame:
        """Gorilla-compressed chunk structs per (conv_id, day): the
        vectorized Arrow UDF emitting binary-packed chunks
        (chronoxtract_spark.compression). The standalone chunk operator;
        RollupEngine.run takes the same chunks from its fused tier pass
        (build_rollup_tiers_kernel) instead.

        Consumes the **observed** per-minute rows only and regenerates
        the dense gap-filled series inside the kernel
        (kernel.gapfill.dense_from_observed, bit-identical to the 1m
        tier) — the shuffle and Arrow transfer carry ~1000x fewer rows
        than the dense table. Grouped by conversation; the per-day chunk
        split happens on the regenerated int64 epochs.

        ``interpolate`` selects the in-kernel gap value ('linear' =
        the 1m tier's rate; 'zero' = observed counts, gaps at 0 — what
        a caller feeding the dense *turns* column would get, since a
        dense input makes every minute an observation)."""

        def encode(pdf: pd.DataFrame) -> pd.DataFrame:
            conv_vals, series = _dense_per_conv(pdf, interpolate)
            rows = [
                (conv_vals[code], *ch)
                for code, t, v in series
                for ch in _day_chunks(conv_vals[code], t, v)
            ]
            return pd.DataFrame(rows, columns=CHUNK_COLS)

        return _bucketed_map(self._observed_slim(observed), encode, CHUNK_SCHEMA)

    # -- orchestration --------------------------------------------------------

    def run(
        self,
        transcripts: DataFrame,
        source_snapshot: str = "adhoc",
        resume: bool = True,
    ) -> dict:
        """Full pipeline run. Returns per-tier row counts.

        Resume contract: day partitions whose lineage row exists for
        (tier, source_snapshot) are skipped; partition writes are
        dynamic-overwrite so a partially-written partition from a killed
        run is replaced, never duplicated.

        Action economy (the thing the scaling rule actually measures):
        each table is ONE Spark action — the partitioned write — whose
        per-day lineage metrics ride the same pass via ``df.observe``
        (``_write_with_lineage``); nothing is counted, checksummed, or
        read back in a separate job. The observed rows feed ONE Python
        pass (build_rollup_tiers_kernel), which regenerates each
        conversation's dense series once and cuts the 1h and 1d windows
        and the Gorilla chunks from it; its output is cached once. Per
        run that is one action for the dense 1m tier, one for the
        chunks (which materializes the kernel cache), one each for 1h
        and 1d, plus one lineage read and the tiny planning collect.
        """
        timings: dict[str, float] = {}

        def mark(name, t0):
            timings[name] = round(time.time() - t0, 2)
            return time.time()

        t = time.time()
        observed = self.build_observed(transcripts)
        observed.cache()
        cached = None
        try:
            counts: dict[str, int] = {}

            skips = self.committed_days(source_snapshot) if resume else {}
            all_days = self._candidate_days(observed)  # materializes the cache
            new = {
                table: [d for d in all_days if d not in skips.get(table, ())]
                for table in TIERS + (CHUNK_TABLE,)
            }
            new_1m, new_1h, new_1d = (new[name] for name in TIERS)
            new_chunks = new[CHUNK_TABLE] if self.compress else []
            t = mark("plan_and_skip", t)

            def _day_filter(df, new_days, col="day"):
                """Resume filter, skipped entirely on a fresh run: the
                gap-fill fan-out only emits days inside the candidate span
                union, so when nothing is committed yet the isin is a
                per-row no-op that still costs real time on the dense tier
                (BENCH/W1M_COMPONENTS.md: ~3s/40M rows at 8c). Date
                literals, so a DATE column compares integers."""
                if len(new_days) == len(all_days):
                    return df
                return df.filter(F.to_date(F.col(col)).isin(_day_dates(new_days)))

            # -- 1m tier: stream the dense plan straight into the partitioned
            # write (never cached — the dense fan-out only exists in this one
            # pass); per-day counts + checksums come from the write action.
            # DAY-KEYED fan-out (guide §8): the observed-scale segment rows
            # shuffle on (day, salt) BEFORE the ~1000x minute explode, so
            # each write task owns ~one day partition — no per-task sort by
            # partition key, no hundred-writer memory pressure, and day
            # files come out task-sized (tests pin the rows to the numpy
            # twin, kernel.gapfill.dense_from_observed).
            #
            # (An overlapped variant — dense write on a pool thread while
            # the chunk/kernel legs run, guide §2.6 — was measured and
            # REVERTED: all legs here are CPU/memory-bandwidth-bound on the
            # same cores, and the interleaving ran the whole pipeline
            # 1.6x SLOWER than sequential legs at sf1.0.)
            if new_1m:
                base = gap_fill_minutes(observed, len(all_days))
                tier_1m = _day_filter(self.build_rollup_1m(base), new_1m)
                counts["rollup_1m"] = self._write_with_lineage(
                    tier_1m, "rollup_1m", new_1m, source_snapshot
                )
            else:
                counts["rollup_1m"] = 0
            t = mark("write_1m", t)

            # -- chunks, 1h and 1d: one cached kernel pass; each table
            # resumes from its own lineage, so a crash between two of
            # these commits re-does only the missing table
            need = sorted(set(new_chunks) | set(new_1h) | set(new_1d))
            if need:
                cached = _day_filter(
                    self.build_rollup_tiers_kernel(observed), need
                ).cache()

            def commit_small(df, table, days):
                return self._write_with_lineage(
                    _day_filter(df, days), table, days, source_snapshot,
                    small_tier=True,
                )

            def tier(width, ts_name):
                return (
                    cached.filter(F.col("bucket_seconds") == width)
                    .drop("bucket_seconds", "bucket_epoch", *TIER_CHUNK_COLS)
                    .withColumnRenamed("bucket_ts", ts_name)
                )

            if new_chunks:
                commit_small(self.chunks_from_tiers(cached), CHUNK_TABLE, new_chunks)
                t = mark("chunks", t)
            counts["rollup_1h"] = (
                commit_small(tier(3600, "hour_ts"), "rollup_1h", new_1h)
                if new_1h else 0
            )
            t = mark("write_1h", t)
            counts["rollup_1d"] = (
                commit_small(tier(86400, "day_ts"), "rollup_1d", new_1d)
                if new_1d else 0
            )
            t = mark("write_1d", t)
        finally:
            if cached is not None:
                cached.unpersist()
            observed.unpersist()
        self.last_timings = timings
        return counts

    # -- retention ------------------------------------------------------------

    def apply_retention(self, policy: dict[str, str]) -> dict[str, list[str]]:
        """Partition-level retention deletes: drop day partitions older
        than each tier's cutoff (``policy = {"rollup_1m": "2026-01-15"}``)
        and record the expiry in lineage.

        Interplay with resume: the original commit lineage rows remain,
        so a re-run against the same source snapshot SKIPS expired
        partitions rather than rebuilding them — retention wins over
        resume by design (rebuild intentionally requires a new
        source_snapshot)."""
        dropped: dict[str, list[str]] = {}
        for tier, cutoff in policy.items():
            days = [
                d
                for d in self.io.list_partitions(tier, "day")
                if d < cutoff
            ]
            if days:
                self.io.delete_partitions(tier, "day", days)
                expiry = self.spark.createDataFrame(
                    [(tier, d, "retention-expired", 0, 0, int(time.time() * 1000))
                     for d in days],
                    "tier string, partition_key string, source_snapshot string, "
                    "row_count long, checksum long, committed_at long",
                )
                self.io.append(expiry, LINEAGE_TABLE)
            dropped[tier] = days
        return dropped
