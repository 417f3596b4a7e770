"""Shared operator-package helpers."""

from __future__ import annotations

import logging

log = logging.getLogger(__name__)


def spread_small_scan(df):
    """Round-robin repartition when the input scan has fewer partitions
    than the session's parallelism.

    Text/shingle/token transforms cost ~100x their input bytes, and a
    single-row-group parquet file (or a gzip'd dump) arrives as ONE
    scan task no matter what ``maxPartitionBytes`` says — measured
    36.5 s -> 3.7 s for the sf1.0 shingle pass at local[32] (guide §2.5
    input skew: "one huge unsplittable file... repartition immediately
    after the read"). Well-partitioned inputs (partitions >= cores)
    pass through untouched, so a 100 TB run pays no extra shuffle. The
    partition probe converts the plan to an RDD, which on a composed
    (already-shuffled) input can start upstream stages eagerly — call
    this only on raw scans (every caller in this engine does)."""
    target = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    try:
        if df.rdd.getNumPartitions() >= target:
            return df
    except Exception:
        log.warning(
            "scan partition probe failed; input left unspread", exc_info=True
        )
        return df
    return df.repartition(target * 2)


def keylist(keys: list[str] | str) -> list[str]:
    """Normalize the ``keys`` argument every operator accepts: a bare
    string becomes a one-element list; any iterable is copied."""
    return [keys] if isinstance(keys, str) else list(keys)


def epoch_seconds(df, ts_col: str):
    """THE canonical timestamp -> whole-second column every per-key
    stream operator orders and differences by: numeric columns are
    taken as epoch seconds (cast long), timestamps floor through
    ``unix_timestamp``. One shared definition so the cadence /
    extremes / markov / survival batteries and their DuckDB oracles
    (``CAST(floor(epoch(ts)) AS BIGINT)``) can never disagree on the
    flooring."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import NumericType

    if isinstance(df.schema[ts_col].dataType, NumericType):
        return F.col(ts_col).cast("long")
    return F.unix_timestamp(F.col(ts_col))
