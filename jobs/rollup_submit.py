"""spark-submit entry point for the rollup + retention engine.

The north rule's ship shape (BASELINE.json): the job runs as

    spark-submit --master <cluster> \
        --py-files chronoxtract_spark.zip \
        jobs/rollup_submit.py \
        --input  <transcripts parquet/table path> \
        --warehouse <tier table root> \
        --snapshot  <source snapshot id> \
        [--retention rollup_1m=2026-01-15 ...]

Everything cluster-shaped (master, executor count/memory, shuffle
partitions, AQE) arrives via spark-submit conf — this script only sets
runtime-settable session options that the engine's correctness depends
on (UTC session timezone, Arrow transport) and never hardcodes a
master. ``chronoxtract_spark`` is imported from the ``--py-files``
archive: the script works from a bare checkout too, but the packaged
zip is the deployment contract and tests/test_spark_submit.py runs this
file under a real ``spark-submit --py-files`` with the repo absent from
the import path.

Input: a parquet directory (or, with --backend iceberg, a catalog
table) of multi-turn transcripts with columns
(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp) — exactly BASELINE.json:input_hint.

Output: one JSON line on stdout with per-tier committed row counts and
any retention-expired partitions, so orchestrators can assert on the
commit without scraping logs.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True,
                   help="transcripts parquet path (or iceberg table name)")
    p.add_argument("--warehouse", required=True,
                   help="root path (parquet) / catalog namespace (iceberg) "
                        "for the tier tables")
    p.add_argument("--snapshot", required=True,
                   help="source snapshot id for lineage/resume")
    p.add_argument("--backend", choices=("parquet", "iceberg"),
                   default="parquet")
    p.add_argument("--salts", type=int, default=0,
                   help="salt count for mega-thread skew repartition "
                        "(0 = AQE skew handling only)")
    p.add_argument("--no-compress", action="store_true",
                   help="skip the Gorilla chunk stage")
    p.add_argument("--no-resume", action="store_true",
                   help="rebuild even where lineage says a (tier, "
                        "snapshot, day) is already committed")
    p.add_argument("--retention", action="append", default=[],
                   metavar="TIER=CUTOFF",
                   help="expire partitions older than CUTOFF (repeatable), "
                        "e.g. rollup_1m=2026-01-15")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession

    # master / executors / shuffle partitions come from spark-submit;
    # only correctness-critical, runtime-settable session state here
    spark = SparkSession.builder.appName("chronoxtract_rollup").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.sparkContext.setLogLevel("WARN")

    from chronoxtract_spark.plans.rollup import RollupEngine
    from chronoxtract_spark.sources import tableio

    if args.backend == "iceberg":
        io = tableio.IcebergBackend(spark, args.warehouse)
    else:
        io = tableio.ParquetBackend(spark, args.warehouse)

    transcripts = spark.read.parquet(args.input)
    eng = RollupEngine(
        spark,
        io,
        salts=args.salts,
        compress=not args.no_compress,
    )
    counts = eng.run(
        transcripts,
        source_snapshot=args.snapshot,
        resume=not args.no_resume,
    )

    expired = {}
    if args.retention:
        policy = {}
        for spec in args.retention:
            tier, _, cutoff = spec.partition("=")
            if not cutoff:
                raise SystemExit(f"--retention wants TIER=CUTOFF, got {spec!r}")
            policy[tier] = cutoff
        expired = eng.apply_retention(policy)

    print(json.dumps({
        "snapshot": args.snapshot,
        "tiers": counts,
        "expired_partitions": {k: len(v) for k, v in expired.items()},
        "phase_seconds": eng.last_timings,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
