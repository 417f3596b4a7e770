"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: metric/value/unit/queries/sf.

The headline is the north metric: the full rollup pipeline
(gap-fill → 1m/1h/1d tiers + Gorilla chunks + lineage) over
events-as-transcripts, reported as rolled-up points/sec across all
tiers; individual operator timings ride along in ``queries``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def noise_canary() -> float:
    """Fixed single-threaded numpy workload (~0.7 s on this VM when
    quiet). Hypervisor load on this host varies ±30% between windows
    and has previously made an unchanged engine look 2x slower
    (BENCH/BASELINE.md methodology note); the canary pins the window's
    quality inside the bench artifact itself, so a degraded run is
    distinguishable from a regression without re-running."""
    import numpy as np

    x = np.random.RandomState(0).standard_normal(1 << 21)
    t0 = time.time()
    for _ in range(12):
        np.fft.rfft(x)
    return round(time.time() - t0, 3)


def parallel_noise_canary() -> list[float]:
    """Concurrent copies of the single-thread canary, one pinned to each
    CPU this process may run on.
    The single-thread probe is blind to MULTI-core contention: on
    2026-08-19 a storm made this bench ~3-6x slower at local[32] while
    the single-thread canary read a healthy 0.86 s — but 8 pinned
    copies read 1.5-2.5 s each. Quiet window: all readings ~0.7-1.0 s.
    Returns the sorted per-copy seconds so the artifact carries the
    multi-core witness too."""
    import subprocess

    code = (
        "import time,numpy as np\n"
        "x=np.random.RandomState(0).standard_normal(1<<21)\n"
        "t0=time.time()\n"
        "for _ in range(12): np.fft.rfft(x)\n"
        "print(round(time.time()-t0,3))"
    )
    have_taskset = shutil.which("taskset") is not None
    procs = []
    try:
        for cpu in sorted(os.sched_getaffinity(0)):
            cmd = [sys.executable, "-c", code]
            if have_taskset:
                cmd = ["taskset", "-c", str(cpu)] + cmd
            procs.append(subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True))
        return sorted(float(p.communicate()[0].strip()) for p in procs)
    except (OSError, ValueError):
        return []
    finally:
        for p in procs:
            if p.poll() is None:
                p.terminate()


def bandwidth_canary(n: int = 8) -> list[float]:
    """n core-pinned STREAM-triad workers; returns sorted per-worker
    GB/s. Detects the MEMORY-BANDWIDTH steal mode the cache-resident
    FFT canaries cannot see (characterized in BENCH/BASELINE.md and
    BENCH/W1M_COMPONENTS.md): during one such storm on 2026-08-20 the
    8-wide FFT canary read a healthy 0.885 s max while 8 triad workers
    read 4.4-11.0 GB/s each (quiet: ~9-11 GB/s every worker, ceiling
    efficiency 0.92). The asymmetric minimum is the storm signature —
    gate on min(readings)."""
    import subprocess

    code = (
        "import time,numpy as np\n"
        "n=1<<24\n"  # 3 x 128 MiB >> LLC
        "b=np.full(n,1.5); c=np.full(n,2.5); a=np.empty(n)\n"
        "np.add(b,c,out=a)\n"
        "t0=time.time()\n"
        "for _ in range(6):\n"
        "    np.multiply(c,3.0,out=a)\n"
        "    a+=b\n"
        "dt=time.time()-t0\n"
        "print(round((6*4*n*8)/dt/1e9,2))"
    )
    n = min(n, os.cpu_count() or 1)
    have_taskset = shutil.which("taskset") is not None
    procs = []
    try:
        for i in range(n):
            cmd = [sys.executable, "-c", code]
            if have_taskset:
                cmd = ["taskset", "-c", str(i)] + cmd
            procs.append(subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True))
        return sorted(float(p.communicate()[0].strip()) for p in procs)
    except (OSError, ValueError):
        return []
    finally:
        for p in procs:
            if p.poll() is None:
                p.terminate()


def read_cpu_stat() -> dict | None:
    """Aggregate jiffies from /proc/stat — steal time is the direct
    measurement of the hypervisor taking CPU away from this VM, which
    the single-thread canary cannot see (steal on this host only kicks
    in above ~16 busy threads, exactly where the 32-thread bench
    runs)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(v) for v in parts[1:9]]
        user, nice, system, idle, iowait, irq, softirq, steal = vals
        return {"busy": user + nice + system + irq + softirq,
                "system": system, "idle": idle + iowait, "steal": steal}
    except Exception:  # non-Linux or restricted /proc
        return None


def cpu_pressure(before: dict | None, after: dict | None) -> dict | None:
    """steal%% and system%% of total jiffies over the bench interval."""
    if not before or not after:
        return None
    # busy already contains system — total is busy + idle + steal, NOT
    # sum(values()) which would count system twice and understate both
    # percentages in exactly the high-system regime this detects
    total_of = lambda d: d["busy"] + d["idle"] + d["steal"]
    tot = total_of(after) - total_of(before)
    if tot <= 0:
        return None
    return {
        "steal_pct": round(100 * (after["steal"] - before["steal"]) / tot, 1),
        "system_pct": round(100 * (after["system"] - before["system"]) / tot, 1),
    }


def wait_for_quiet_window(
    max_tries: int | None = None, sleep_s: int = 45
) -> dict:
    """Pre-flight gate (r4 verdict #2): BENCH_r04 was measured inside a
    host-contention storm its own sidecar detected but did not act on.
    Before the expensive run, poll the host-wide canary until the window
    is quiet — median <= 1.05 s and max <= 1.35 s, the empirical quiet
    band (quiet readings ~0.65-1.0 s; storm readings 1.25-2.5 s) — or
    give up after ``max_tries`` polls and proceed with
    ``passed: false`` stamped in the artifact, so a noisy number is a
    witnessed disclosure rather than a silent misrepresentation.

    A second criterion (r5) covers the memory-bandwidth steal mode the
    FFT canary is blind to: the slowest of 8 pinned triad workers must
    hold >= 6.0 GB/s (quiet ~9-11 each; the 2026-08-20 storm minima
    were 4.4-5.1 while the FFT canary passed). The threshold is set
    well below the quiet band so only the characterized asymmetric
    steal — never calibration drift — can trip it."""
    if max_tries is None:
        max_tries = int(os.environ.get("SPARK_GRAFT_QUIET_RETRIES", "8"))
    attempts = []
    for i in range(max(1, max_tries)):
        readings = parallel_noise_canary()
        med = readings[len(readings) // 2] if readings else None
        mx = readings[-1] if readings else None
        bw = bandwidth_canary()
        bw_min = bw[0] if bw else None
        attempts.append({"median": med, "max": mx, "bw_min_GBps": bw_min})
        fft_quiet = med is not None and med <= 1.05 and mx <= 1.35
        bw_quiet = bw_min is None or bw_min >= 6.0
        if fft_quiet and bw_quiet:
            return {"passed": True, "attempts": attempts,
                    "readings": readings, "bandwidth_GBps": bw}
        print(f"[bench] window noisy (median {med}s, max {mx}s, "
              f"bw_min {bw_min} GB/s); "
              f"retry {i + 1}/{max_tries} in {sleep_s}s", file=sys.stderr)
        if i < max_tries - 1:
            time.sleep(sleep_s)
    return {"passed": False, "attempts": attempts,
            "readings": attempts[-1] if attempts else None}


def run_bench(sf_dir: str, cpus: str) -> dict:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from chronoxtract_spark.plans.rollup import RollupEngine
    from chronoxtract_spark.session import get_spark
    from chronoxtract_spark.sources.tableio import temp_warehouse

    quiet_gate = wait_for_quiet_window()
    canary_pre = noise_canary()
    par_canary_pre = parallel_noise_canary()
    stat_pre = read_cpu_stat()
    spark = get_spark(
        app_name="cx_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) if cpus.isdigit() else None,
    )
    timings: dict[str, float] = {}

    # -- headline: the rollup pipeline (north metric) -----------------------
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("props").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        "ts",
    )
    ev.cache()
    n_events = ev.count()


    io = temp_warehouse(spark)
    eng = RollupEngine(spark, io)
    t0 = time.time()
    counts = eng.run(ev, source_snapshot="bench", resume=False)
    rollup_sec = time.time() - t0
    timings["rollup_all_tiers"] = round(rollup_sec, 3)
    total_points = sum(counts.values())
    shutil.rmtree(io.root, ignore_errors=True)
    ev.unpersist()

    # -- operator timings ----------------------------------------------------
    qs = dict(entry_mod.queries())

    def _minhash_production(spark, sf_dir):
        # bench the PRODUCTION hash family (xxhash64, JVM-side). The
        # registry's q_minhash_lsh pins hash_fn='md5_60' because that
        # family is portable to the DuckDB oracle; md5 exists *for the
        # oracle*, so the bench measures what a deployment would run.
        from chronoxtract_spark.operators.dedup import minhash_lsh_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return minhash_lsh_pairs(
            docs, num_hashes=32, bands=8, verify_threshold=0.25,
            hash_fn="xxhash64",
        )

    # the key says so explicitly: the bench number is the PRODUCTION
    # xxhash64 family, not the md5_60 oracle-portability path
    qs["minhash_lsh_prod"] = _minhash_production
    bench_queries = [
        "summary_stats",
        "quantiles",
        "hjorth",
        "slope_shape",
        "rolling_mean",
        "ema",
        "gapfill_spans",
        "acf_eventcount",
        "tpch_q1",
        "revenue_by_nation",
        "ngram_jaccard",
        "minhash_lsh_prod",
        "knn_brute",
        "lsh_ann",
        "ivf_ann",
        "kernel_features",
        "compression_stats",
        "repetition_stats",
        "asof_join",
        "ewma_irregular",
        "esd_outliers",
        "lttb",
        "m4_hourly",
        "interp_grid",
        "bm25",
        "ops_health",
        "theil_sen",
        "heavy_hitters",
    ]
    for name in bench_queries:
        t0 = time.time()
        try:
            n = qs[name](spark, sf_dir).count()
            timings[name] = round(time.time() - t0, 3)
            print(f"[bench] {name}: {timings[name]}s ({n} rows)", file=sys.stderr)
        except Exception as e:  # pragma: no cover
            timings[name] = -1.0
            print(f"bench query {name} failed: {e}", file=sys.stderr)

    total = round(sum(v for v in timings.values() if v > 0), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf = float(sf)
    except ValueError:
        pass
    result = {
        "metric": "total_bench_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "rollup_points": total_points,
        "rollup_points_per_sec": round(total_points / rollup_sec, 1),
        "input_events": n_events,
        "cpus": cpus,
        "host_noise_canary_sec": {"pre": canary_pre, "post": noise_canary()},
        "host_parallel_canary_sec": {
            "pre": par_canary_pre,
            "post": parallel_noise_canary(),
        },
        "host_cpu_pressure": cpu_pressure(stat_pre, read_cpu_stat()),
        "quiet_gate": quiet_gate,
    }
    spark.stop()
    return result


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    print(json.dumps(run_bench(sf_dir, cpus)))
