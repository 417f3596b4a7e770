"""TableIO — storage shim with Iceberg and Parquet-directory backends.

The north rule is written against Iceberg (partition-level deletes,
snapshot lineage, ``expire_snapshots``). The sandbox's pyspark 4.1.2
has no Iceberg runtime jar and no network to fetch one, so TableIO
exposes the engine-facing subset of the Iceberg table API over two
backends:

- ``IcebergBackend`` — used automatically when
  ``spark.sql.catalog.<name>`` resolves (i.e. the runtime jar is on the
  classpath); ``writeTo().append()``, SQL ``DELETE WHERE`` partition
  deletes, snapshot ids from the ``.snapshots`` metadata table.
- ``ParquetBackend`` — partitioned parquet directories with the same
  semantics: append = new files in partition dirs, partition delete =
  directory removal, snapshot id = content hash of the partition
  manifest. Atomicity comes from staging-dir + ``os.rename`` (same
  technique as Iceberg's commit swap, minus the catalog).

Every north-rule behavior (retention deletes, lineage, resumable
rebuilds) is exercised through this API on either backend.
"""

from __future__ import annotations

import logging
import os
import shutil
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


class ParquetBackend:
    """Partition-aware parquet-directory tables.

    Layout: ``<root>/<table>/<part_col>=<value>/part-*.parquet`` —
    Spark's native partitioned layout, so reads get partition pruning
    from the directory structure exactly as an Iceberg scan would from
    manifests.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return os.path.isdir(self._path(table))

    def read(self, table: str) -> DataFrame:
        try:
            return self.spark.read.parquet(self._path(table))
        except AnalysisException:
            # a table whose every partition was retention-expired is an
            # empty directory — parquet can't infer a schema from zero
            # files, but an Iceberg table in the same state still
            # answers with its catalog schema and zero rows. The schema
            # sidecar (written at first write, from an actual read so
            # partition-column types match populated reads exactly)
            # restores that behavior.
            schema = self._load_schema(table)
            if schema is None:
                raise
            return self.spark.createDataFrame([], schema)

    def _schema_path(self, table: str) -> str:
        return os.path.join(self._path(table), "_cx_schema.json")

    def _save_schema(self, table: str):
        # refreshed on EVERY write (not just the first): a later append
        # that evolves the schema must update the sidecar, or the
        # empty-table fallback would answer with the stale shape.
        # Schema OF A READ, not of the written df: a string partition
        # column comes back as DATE from the directory layout, and the
        # empty-table fallback must match populated reads type-for-type.
        # Cost is one parquet-footer schema inference per write call.
        sp = self._schema_path(table)
        try:
            schema_json = self.spark.read.parquet(self._path(table)).schema.json()
        except AnalysisException:
            # a zero-row partitioned write leaves no parquet footers to
            # infer from — the data write itself succeeded, so keep the
            # previous sidecar (or none) rather than failing the write
            return
        tmp = sp + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(schema_json)
        os.replace(tmp, sp)

    def _load_schema(self, table: str):
        from pyspark.sql.types import StructType

        sp = self._schema_path(table)
        if not os.path.exists(sp):
            return None
        import json

        with open(sp) as f:
            return StructType.fromJson(json.load(f))

    def append(self, df: DataFrame, table: str, partition_by: list[str] | None = None):
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._path(table))
        self._save_schema(table)

    def overwrite_partitions(
        self, df: DataFrame, table: str, partition_by: list[str]
    ):
        """Dynamic partition overwrite — replaces only the partitions
        present in ``df`` (Iceberg's overwritePartitions equivalent)."""
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(self._path(table))
        )
        self._save_schema(table)

    def delete_partitions(self, table: str, part_col: str, values: list[str]):
        """Partition-level delete = directory drop (retention expiry)."""
        base = self._path(table)
        for v in values:
            p = os.path.join(base, f"{part_col}={v}")
            if os.path.isdir(p):
                shutil.rmtree(p)

    def list_partitions(self, table: str, part_col: str) -> list[str]:
        base = self._path(table)
        if not os.path.isdir(base):
            return []
        pref = f"{part_col}="
        return sorted(
            d[len(pref):] for d in os.listdir(base) if d.startswith(pref)
        )

    def snapshot_id(self, table: str) -> str:
        """Content-addressed stand-in for an Iceberg snapshot id: hash of
        the file manifest (path, size, mtime)."""
        import hashlib

        base = self._path(table)
        h = hashlib.sha256()
        if os.path.isdir(base):
            for dirpath, _dirs, files in sorted(os.walk(base)):
                for f in sorted(files):
                    if f.startswith(("_", ".")):
                        continue
                    fp = os.path.join(dirpath, f)
                    st = os.stat(fp)
                    h.update(f"{fp}|{st.st_size}".encode())
        return h.hexdigest()[:16]

    def file_stats(self, table: str, part_col: str) -> dict:
        """Driver-side manifest walk: ``{value: (n_files, bytes)}`` of
        data files per partition — the input to compaction planning.
        Metadata-only (os.walk), no Spark job."""
        out = {}
        base = self._path(table)
        for v in self.list_partitions(table, part_col):
            p = os.path.join(base, f"{part_col}={v}")
            n = b = 0
            for dirpath, _dirs, files in os.walk(p):
                for f in files:
                    if f.startswith(("_", ".")) or f.endswith(".crc"):
                        continue
                    n += 1
                    b += os.stat(os.path.join(dirpath, f)).st_size
            out[v] = (n, b)
        return out

    def compact_partitions(
        self,
        table: str,
        part_col: str,
        target_file_bytes: int = 128 << 20,
        min_files: int = 2,
        values: list[str] | None = None,
    ) -> list[dict]:
        """Small-file compaction — the Iceberg ``rewrite_data_files``
        equivalent. Incremental appends (streaming micro-batches, daily
        rollup runs) accrete files per partition; scans then pay
        per-file open/footer costs and lose run-length locality. This
        rewrites each qualifying partition to
        ``ceil(bytes / target_file_bytes)`` files.

        Content-preserving BY CONSTRUCTION: the rewrite is a
        ``coalesce`` (narrow — no shuffle, no row recomputation) of a
        plain read of the partition's own files, staged to a side
        directory and swapped in with two ``os.rename`` calls (the
        module's staging-swap atomicity technique) — readers never see
        a half-written partition, and a crash leaves either the old or
        the new complete file set. Lineage checksums are
        order-insensitive (bit_xor of row hashes), so committed
        lineage rows remain valid verbatim — compaction needs no
        lineage rewrite, which is the property that makes it safe to
        run any time between rollup runs.

        Partitions with fewer than ``min_files`` data files are left
        untouched. Returns per-partition stats
        ``{value, files_before, files_after, bytes}``.
        """
        import math

        base = self._path(table)
        stats = self.file_stats(table, part_col)
        todo = values if values is not None else sorted(stats)
        out = []
        for v in todo:
            n_files, n_bytes = stats.get(v, (0, 0))
            if n_files < min_files:
                continue
            target_n = max(1, math.ceil(n_bytes / target_file_bytes))
            if target_n >= n_files:
                continue
            src = os.path.join(base, f"{part_col}={v}")
            staging = os.path.join(
                base, f".cx_compact_{uuid.uuid4().hex}"
            )
            (
                self.spark.read.parquet(src)
                .coalesce(target_n)
                .write.mode("overwrite")
                .parquet(staging)
            )
            # trash name MUST be dot-prefixed and NOT carry the
            # "<part_col>=" prefix: a visible sibling would be
            # partition-discovered as a bogus extra partition by any
            # reader (or crash recovery) that runs between the rename
            # and the rmtree
            trash = os.path.join(base, f".cx_old_{uuid.uuid4().hex}")
            os.rename(src, trash)
            os.rename(staging, src)
            shutil.rmtree(trash)
            # drop Spark's _SUCCESS marker so the partition dir holds
            # data files only, like every append-written partition
            marker = os.path.join(src, "_SUCCESS")
            if os.path.exists(marker):
                os.remove(marker)
            # walk only the partition just swapped in — a full
            # file_stats here would re-walk every partition per
            # compacted partition (O(P^2) metadata walks)
            after = sum(
                1
                for _dirpath, _dirs, files in os.walk(src)
                for f in files
                if not f.startswith(("_", ".")) and not f.endswith(".crc")
            )
            out.append(
                {
                    "value": v,
                    "files_before": n_files,
                    "files_after": after,
                    "bytes": n_bytes,
                }
            )
        return out

    def drop(self, table: str):
        p = self._path(table)
        if os.path.isdir(p):
            shutil.rmtree(p)


class IcebergBackend:
    """Iceberg catalog tables (used when the runtime jar is present)."""

    def __init__(self, spark: SparkSession, catalog: str, namespace: str = "cx"):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")

    def _fqn(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    def exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self._fqn(table))

    def read(self, table: str) -> DataFrame:
        return self.spark.read.table(self._fqn(table))

    def append(self, df: DataFrame, table: str, partition_by: list[str] | None = None):
        fqn = self._fqn(table)
        if not self.exists(table):
            w = df.writeTo(fqn)
            if partition_by:
                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.create()
        else:
            df.writeTo(fqn).append()

    def overwrite_partitions(self, df: DataFrame, table: str, partition_by: list[str]):
        fqn = self._fqn(table)
        if not self.exists(table):
            self.append(df, table, partition_by)
        else:
            df.writeTo(fqn).overwritePartitions()

    def delete_partitions(self, table: str, part_col: str, values: list[str]):
        vals = ", ".join(f"'{v}'" for v in values)
        self.spark.sql(
            f"DELETE FROM {self._fqn(table)} WHERE {part_col} IN ({vals})"
        )

    def list_partitions(self, table: str, part_col: str) -> list[str]:
        rows = (
            self.read(table)
            .select(F.col(part_col).cast("string"))
            .distinct()
            .collect()
        )
        return sorted(r[0] for r in rows)

    def snapshot_id(self, table: str) -> str:
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self._fqn(table)}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return str(rows[0][0]) if rows else "0"

    def compact_partitions(
        self,
        table: str,
        part_col: str,
        target_file_bytes: int = 128 << 20,
        min_files: int = 2,
        values: list[str] | None = None,
    ) -> list[dict]:
        """Iceberg-native small-file compaction: the
        ``rewrite_data_files`` maintenance procedure with a
        min-input-files floor, optionally restricted to partitions by a
        WHERE clause. Same contract as the Parquet backend: content
        unchanged (a rewrite commits a replace snapshot over identical
        rows), lineage checksums stay valid verbatim."""
        where = ""
        if values is not None:
            # the where clause is itself a quoted SQL string literal:
            # the inner value quotes must be doubled to survive the
            # outer literal's parsing
            q2 = "''"
            vals = ", ".join(
                q2 + str(v).replace("'", q2 * 2) + q2 for v in values
            )
            where = f", where => '{part_col} IN ({vals})'"
        rows = self.spark.sql(
            f"CALL {self.catalog}.system.rewrite_data_files("
            f"table => '{self.namespace}.{table}', "
            f"options => map("
            f"'target-file-size-bytes', '{int(target_file_bytes)}', "
            f"'min-input-files', '{int(min_files)}')"
            f"{where})"
        ).collect()
        return [r.asDict() for r in rows]

    def drop(self, table: str):
        self.spark.sql(f"DROP TABLE IF EXISTS {self._fqn(table)}")


def get_tableio(spark: SparkSession, root: str | None = None):
    """Pick the Iceberg backend when a catalog is configured and the jar
    loads; otherwise the parquet-directory backend.

    VALIDATION STATUS: the Iceberg backend is a complete implementation
    of this API (writeTo/overwritePartitions/DELETE/snapshots) but this
    sandbox ships no Iceberg runtime jar, so only the Parquet backend is
    runtime-validated here; the Iceberg path has a jar-gated test
    (tests/test_operators_extra.py::TestIcebergBackend) that executes
    wherever ``spark.cx.iceberg.catalog`` actually resolves."""
    catalog = spark.conf.get("spark.cx.iceberg.catalog", None)
    if catalog:
        try:
            return IcebergBackend(spark, catalog)
        except Exception as e:
            log.warning(
                "Iceberg catalog %r configured but unusable (%s: %s); "
                "falling back to the Parquet backend",
                catalog, type(e).__name__, e,
            )
    if root is None:
        root = os.environ.get(
            "CX_WAREHOUSE", os.path.join(os.getcwd(), "warehouse")
        )
    return ParquetBackend(spark, root)


def temp_warehouse(spark: SparkSession) -> ParquetBackend:
    return ParquetBackend(spark, f"/tmp/cx_warehouse_{uuid.uuid4().hex[:8]}")
