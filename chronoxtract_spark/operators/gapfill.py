"""Gap-fill: dense minute spine + interpolation.

The north rule's gap-fill stage (BASELINE.json:north_star): per
conversation, the dense 1-minute series between the first and last
observed minute, with missing minutes linearly interpolated — all in
SQL, no Python. ``kernel.gapfill.dense_from_observed`` is its numpy
twin, bit-identical, for kernels that regenerate the dense series from
the observed rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def turn_rate_1m(
    df: DataFrame,
    conv_col: str = "conv_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-conversation turns/minute series: the base series of the
    rollup pipeline (north_star step 2)."""
    minute = F.date_trunc("minute", F.col(ts_col))
    return df.groupBy(F.col(conv_col), minute.alias("minute_ts")).agg(
        F.count("*").alias("turns")
    )


def gap_fill_minutes(observed: DataFrame, n_days: int = 1) -> DataFrame:
    """Dense per-conversation minute series with linear interpolation
    (SURVEY.md §7.1 step 5) from the observed ``(conv_id, minute_ts,
    turns)`` rows: ``(conv_id, day, minute_ts, observed, turns, rate)``,
    built by **segment explosion**.

    Each observed minute looks one observation ahead (``lead`` over the
    small observed table); the half-open segment ``[cur, next)`` first
    explodes into the DAYS it covers (~1 row per observation), shuffles
    on ``(day, salt(conv))`` so one task owns ~one day — the layout the
    day-partitioned dense write needs (guide §8: decide placement on
    small rows, explode after the exchange) — and only then explodes
    into its dense minutes, computing the interpolated ``rate`` at
    fan-out time. The only window and the only shuffle run over the
    observed rows, never the ~1000x dense series: no sort and no
    unbounded frame touches the fan-out.

    A fan-out keyed on the conversation instead hands every write task
    rows from ~all days, which forces either a per-task sort by
    partition key (the default dynamic-partition writer — measured
    115-200 s on the sf1.0 dense tier, spill-prone) or hundreds of
    concurrently open parquet writers.

    ``n_days`` is the number of day partitions the caller will write
    (known driver-side: the candidate-day span union); callers that
    only aggregate leave it at 1. The salt width keeps parallelism
    scale-adaptive: tasks ~= 2x cores even when the commit window has
    fewer days than cores.
    """
    w = Window.partitionBy("conv_id").orderBy("minute_ts")
    seg = observed.withColumn("_next_ts", F.lead("minute_ts").over(w)).withColumn(
        "_next_val", F.lead(F.col("turns").cast("double")).over(w)
    )
    seg_end = F.coalesce(
        F.col("_next_ts") - F.expr("interval 1 minute"), F.col("minute_ts")
    )
    dayseg = seg.select(
        "conv_id",
        F.col("minute_ts").alias("_seg_start"),
        F.col("turns").alias("_obs_turns"),
        "_next_ts",
        "_next_val",
        seg_end.alias("_seg_end"),
        F.explode(
            F.sequence(
                F.to_date("minute_ts"), F.to_date(seg_end),
                F.expr("interval 1 day"),
            )
        ).alias("day"),
    )
    sc = observed.sparkSession.sparkContext
    cores = sc.defaultParallelism
    salts = max(1, -(-2 * cores // max(n_days, 1)))
    # 2x headroom over the (day, salt) group count so hash collisions
    # leave at most a couple of groups (= open writers) per task
    n_part = max(2 * max(n_days, 1) * salts, 2 * cores, 32)
    dayseg = dayseg.repartition(
        n_part, "day", F.pmod(F.xxhash64("conv_id"), F.lit(salts))
    )
    day_start = F.col("day").cast("timestamp")
    day_end = F.col("day").cast("timestamp") + F.expr(
        "interval 23 hours 59 minutes"
    )
    dense = dayseg.select(
        "conv_id",
        "_seg_start",
        "_obs_turns",
        "_next_ts",
        "_next_val",
        "day",
        F.explode(
            F.sequence(
                F.greatest(F.col("_seg_start"), day_start),
                F.least(F.col("_seg_end"), day_end),
                F.expr("interval 1 minute"),
            )
        ).alias("minute_ts"),
    )
    is_obs = F.col("minute_ts") == F.col("_seg_start")
    prev_val = F.col("_obs_turns").cast("double")
    frac = (F.unix_timestamp("minute_ts") - F.unix_timestamp("_seg_start")) / (
        F.unix_timestamp("_next_ts") - F.unix_timestamp("_seg_start")
    )
    return (
        dense.withColumn("observed", is_obs)
        .withColumn(
            "turns", F.when(is_obs, F.col("_obs_turns")).otherwise(F.lit(0))
        )
        .withColumn(
            "rate",
            F.when(is_obs, prev_val).otherwise(
                prev_val + (F.col("_next_val") - prev_val) * frac
            ),
        )
        .drop("_seg_start", "_next_ts", "_next_val", "_obs_turns")
    )
