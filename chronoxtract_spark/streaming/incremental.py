"""Incremental rollup: re-roll only the day partitions touched by new
data (the continuous-aggregate contract, SURVEY.md §2.10).

Late/out-of-order data is handled by the same mechanism — a late turn
lands in an old day partition, that partition's lineage checksum no
longer matches, and the partition re-rolls; nothing else moves. This is
the batch-incremental equivalent of a watermark + windowed re-agg.
"""

from __future__ import annotations

from datetime import date, timedelta

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chronoxtract_spark.plans.rollup import RollupEngine, _day_dates


def affected_days(new_rows: DataFrame, ts_col: str = "ts") -> list[str]:
    """Distinct day partitions the new rows touch."""
    # to_date + driver-side str(): the distinct is over dates (4-byte
    # compare), and the text render happens once per day, not per row.
    # Null timestamps (to_date -> null) are dropped rather than
    # rendered as the string 'None', which _day_dates would choke on —
    # a null-ts row belongs to no day partition by definition.
    return sorted(
        str(r[0])
        for r in new_rows.select(F.to_date(ts_col).alias("day"))
        .filter(F.col("day").isNotNull())
        .distinct()
        .collect()
    )


def incremental_rollup(
    engine: RollupEngine,
    all_transcripts: DataFrame,
    new_rows: DataFrame,
    source_snapshot: str,
) -> dict:
    """Re-roll exactly the partitions the new batch touches.

    ``all_transcripts`` is the full (already-appended) base table;
    ``new_rows`` is the incoming batch. Day partitions outside the
    affected set keep their committed tiers; affected partitions are
    dynamic-overwritten and their lineage rows re-stamped under the new
    source snapshot, so a retry of the same batch is a no-op
    (idempotent exactly-once commit).
    """
    counts = {"rollup_1m": 0, "rollup_1h": 0, "rollup_1d": 0}
    # One engine run per stretch of consecutive days: it gap-fills every
    # day between a conversation's first and last row, so one run over
    # days d and d+2 would overwrite day d+1 from input lacking its rows.
    for days in _consecutive_runs(affected_days(new_rows)):
        subset = all_transcripts.filter(F.to_date("ts").isin(_day_dates(days)))
        for tier, n in engine.run(
            subset, source_snapshot=source_snapshot, resume=True
        ).items():
            counts[tier] += n
    return counts


def _consecutive_runs(days: list[str]) -> list[list[str]]:
    """Sorted ISO days split into maximal runs of consecutive days."""
    runs: list[list[str]] = []
    prev = None
    for d in days:
        cur = date.fromisoformat(d)
        if prev is None or cur - prev != timedelta(days=1):
            runs.append([])
        runs[-1].append(d)
        prev = cur
    return runs
