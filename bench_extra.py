"""Round-6 optimization measurement harness (bench.py is FROZEN; this
file carries the extra instrumentation the optimization round needs).

Usage:
    python bench_extra.py [query ...]            # time named queries
    python bench_extra.py rollup                 # rollup with component timings
    python bench_extra.py --explain QUERY        # write plans/r06/<q>.txt
    python bench_extra.py --repeat N ...         # min-of-N timing

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).

Timing methodology matches bench.py (``.count()`` on the query result)
so numbers are comparable with the frozen harness; ``--noop`` switches
to the noop sink (guide §1.4) to time full materialization instead.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def get_session(cpus: str):
    from chronoxtract_spark.session import get_spark

    return get_spark(
        app_name="cx_bench_extra",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) if cpus.isdigit() else None,
    )


def run_rollup(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from chronoxtract_spark.plans.rollup import RollupEngine
    from chronoxtract_spark.sources.tableio import temp_warehouse

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("props").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        "ts",
    )
    ev.cache()
    ev.count()
    io = temp_warehouse(spark)
    eng = RollupEngine(spark, io)
    t0 = time.time()
    counts = eng.run(ev, source_snapshot="bench", resume=False)
    total = round(time.time() - t0, 3)
    shutil.rmtree(io.root, ignore_errors=True)
    ev.unpersist()
    return {
        "rollup_all_tiers": total,
        "components": eng.last_timings,
        "points": sum(counts.values()),
        "pps": round(sum(counts.values()) / total, 1),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    args = [a for a in sys.argv[1:]]
    repeat = 1
    explain = False
    noop = False
    if "--repeat" in args:
        i = args.index("--repeat")
        repeat = int(args[i + 1])
        del args[i : i + 2]
    if "--explain" in args:
        args.remove("--explain")
        explain = True
    if "--noop" in args:
        args.remove("--noop")
        noop = True

    import __spark_entry__ as entry_mod

    qs = dict(entry_mod.queries())

    def _minhash_production(spark, sf_dir):
        from chronoxtract_spark.operators.dedup import minhash_lsh_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return minhash_lsh_pairs(
            docs, num_hashes=32, bands=8, verify_threshold=0.25,
            hash_fn="xxhash64",
        )

    qs["minhash_lsh_prod"] = _minhash_production

    spark = get_session(cpus)
    out: dict = {"sf_dir": sf_dir, "cpus": cpus}
    for name in args:
        if name == "rollup":
            spark.sparkContext.setJobDescription("rollup_all_tiers")
            out.update(run_rollup(spark, sf_dir))
            continue
        if name not in qs:
            print(f"unknown query {name}", file=sys.stderr)
            continue
        if explain:
            os.makedirs("plans/r06", exist_ok=True)
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(f"plans/r06/{name}.txt", "w") as f:
                f.write(plan)
            print(f"wrote plans/r06/{name}.txt", file=sys.stderr)
            continue
        samples = []
        for _ in range(repeat):
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            if noop:
                df.write.format("noop").mode("overwrite").save()
                n = -1
            else:
                n = df.count()
            samples.append(round(time.time() - t0, 3))
            print(f"[extra] {name}: {samples[-1]}s ({n} rows)",
                  file=sys.stderr)
        out[name] = min(samples)
        out[f"{name}_samples"] = samples
    print(json.dumps(out))


if __name__ == "__main__":
    main()
