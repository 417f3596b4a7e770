"""SparkSession factory tuned for the rollup engine.

Local-mode defaults mirror what a multi-executor deployment would set
via spark-submit: AQE with skew-join splitting (the north rule's
mega-thread clause), Arrow transport for every pandas UDF, and shuffle
partition counts sized to the core count rather than the 200 default.
The driver heap is sized from the memory the machine has available.
"""

from __future__ import annotations

import logging
import os
import shutil

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

#: applicationId of every SparkContext the engine warm-up has run on
_warmed: set[str] = set()


def driver_memory(meminfo: str) -> str:
    """Driver heap for a host, given the text of ``/proc/meminfo``:
    half of MemAvailable in whole GiB, at least 1g."""
    for line in meminfo.splitlines():
        if line.startswith("MemAvailable:"):
            kib = int(line.split()[1])
            return f"{max(1, kib // 2 // (1 << 20))}g"
    raise ValueError("no MemAvailable line in meminfo")


def get_spark(
    app_name: str = "chronoxtract_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores when
    unset). The driver heap is ``$SPARK_DRIVER_MEM`` when set, else
    half of the host's available memory. On a real cluster the same
    configs ship via spark-submit. The engine warm-up runs once per
    SparkContext, so repeated calls return the session as-is.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = os.cpu_count() or 8
    memory = os.environ.get("SPARK_DRIVER_MEM")
    if not memory:
        with open("/proc/meminfo") as f:
            memory = driver_memory(f.read())

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Dynamic-partition writes default to the SORT-based writer
        # (every task sorts its whole output by partition key before
        # writing). On the dense 1m tier that sort buffers the full
        # fan-out through execution memory and spills: measured 157-194s
        # vs 29-36s with concurrent writers for the same 630M-row write
        # (guide §6 small-files/write path; probe in OPTIMIZATION_r06).
        # The value bounds open writers PER TASK — it must cover the
        # day-partition count of one commit window (incremental loads:
        # a handful; this bench's 30-day backfill: 30). Beyond the cap
        # Spark falls back to sorting the remainder, so an oversized
        # backfill degrades gracefully rather than OOMing.
        .config("spark.sql.maxConcurrentOutputFileWriters", "64")
        # zstd: ~1.5x faster than this JVM's snappy path at equal size
        # on the dense write (measured), and the guide-recommended
        # codec for scan-heavy tables (§6).
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    app_id = spark.sparkContext.applicationId
    if app_id not in _warmed:
        _warmed.add(app_id)
        _warm_engine_paths(spark)
    return spark


def _warm_engine_paths(spark: SparkSession) -> None:
    """Run the rollup pipeline once over a tiny synthetic input, so the
    first real job of a session does not pay the one-time costs.

    The first job of a session spawns the Python workers, loads the
    grouped-map Arrow serializers, initializes the parquet scan,
    shuffle, window and partitioned-write paths, and runs the hot loops
    (dense explode, moment aggregation, chunk kernels) in the
    interpreter before the JIT compiles them. Measured at sf0.1, the
    first ``RollupEngine.run`` of a session cost ~24-26 s vs 16-19 s
    for warm repeats; one synthetic pipeline pass closes most of the
    gap. Input is generated from ``spark.range`` and written as parquet
    to a private temp warehouse, which is deleted afterwards, so no
    external data is read and nothing persists. A failure is logged and
    never blocks startup."""
    from chronoxtract_spark.plans.rollup import RollupEngine
    from chronoxtract_spark.sources import tableio
    from chronoxtract_spark.synth import synth_transcripts

    io = tableio.temp_warehouse(spark)
    try:
        eng = RollupEngine(spark, io)
        # Size the warm input to the session: every core must see a
        # realistically-sized batch or the first REAL job still pays
        # the worker/off-heap first-touch penalty. Measured at sf1
        # (1M events, local[32]): an 8-conversation warm-up left the
        # first rollup at 119.5 s vs 78.3 s warm repeats; 64
        # conversations (2 per core) brought the first run to 68.2 s,
        # the warm floor.
        n_conv = max(8, 2 * spark.sparkContext.defaultParallelism)
        # read back from parquet like a real input table, so the scan
        # path is warm too: without it the late batches after a backfill
        # spent ~10 % more CPU on a 4-core host (perfbench commit_cpu_s)
        src = os.path.join(io.root, "warm_input")
        synth_transcripts(
            spark, n_conv, seed=1, min_turns=64, max_turns=256
        ).write.parquet(src)
        eng.run(spark.read.parquet(src), source_snapshot="warm", resume=False)
    except Exception:
        log.warning("engine warm-up failed; the first job runs cold", exc_info=True)
    finally:
        shutil.rmtree(io.root, ignore_errors=True)
