"""Table IO: named tables as partitioned parquet directories.

The production design targets Iceberg tables (per the north rule: input
transcripts + output extracted/lineage/metrics are Iceberg, partitioned by
``bucket(conv_id)``, with MERGE/overwrite-by-partition idempotency and
metadata-level min/max pruning). ``TableIO`` keeps every call site against
one small interface and always writes partitioned parquet + dynamic
partition overwrite — which has the same idempotent-rewrite semantics for
our bucket-partitioned writes. An Iceberg writer behind the same interface
waits until the Iceberg runtime jars are in the environment.

The dedup/replay semantics these tables back correspond to the reference's
Postgres store (reference migrations/001_create_extractions_table.sql,
partial unique hash index migrations/006:14-17; idempotent upsert
app/db/extractions.py:98-104).
"""

from __future__ import annotations

import os
import shutil
from typing import Any, List, Optional, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


class TableIO:
    """Minimal warehouse abstraction: named tables under a root path."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        self._finish_swap(name)
        p = self.path(name)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or not f.startswith("_")
            for _, _, files in os.walk(p) for f in files
        )

    def read(self, name: str, merge_schema: bool = False) -> DataFrame:
        """merge_schema=True unions the schemas of all files (parquet
        mergeSchema) — required for tables that EVOLVED across writer
        versions (the lineage ledger), where a plain read would pick one
        file's footer nondeterministically and could drop the newer
        columns. Off by default: merging reads every footer, pointless
        cost for big single-schema data tables."""
        self._finish_swap(name)
        r = self.spark.read
        if merge_schema:
            r = r.option("mergeSchema", "true")
        return r.parquet(self.path(name))

    def frame(self, rows: Sequence[Any], schema: str) -> DataFrame:
        """Driver-built metadata rows (ledger, metrics, op_metrics, queue
        items, stage counts) as a one-partition DataFrame of DDL
        ``schema``. ``rows`` are tuples/Rows in schema order or dicts keyed
        by column name; absent dict keys and ``None`` are NULL.

        The rows go to the JVM as one Arrow table, so writing the frame
        runs JVM-only tasks and produces one file. ``createDataFrame(list)``
        instead pickles the rows into a Python RDD: every tiny write then
        starts one Python task per default-parallelism slice and writes a
        file per slice."""
        struct = StructType.fromDDL(schema)
        records = [r if isinstance(r, dict) else dict(zip(struct.names, r)) for r in rows]
        table = pa.Table.from_pylist(records, schema=to_arrow_schema(struct))
        return self.spark.createDataFrame(table, struct).coalesce(1)

    def write(
        self,
        df: DataFrame,
        name: str,
        mode: str = "append",
        partition_by: Optional[List[str]] = None,
    ) -> None:
        """mode: append | overwrite | overwrite_partitions (dynamic)."""
        self._finish_swap(name)
        w = df.write
        if partition_by:
            w = w.partitionBy(*partition_by)
        if mode == "overwrite_partitions":
            # Dynamic overwrite replaces only the partitions present in df —
            # the parquet equivalent of Iceberg overwrite-by-partition-filter.
            # The mode is set PER-WRITE (not inherited from the session conf):
            # with a vanilla SparkSession the default is 'static', and a
            # static mode('overwrite') would truncate the ENTIRE table —
            # silently destroying buckets the ledger already marks 'done'.
            w.option("partitionOverwriteMode", "dynamic").mode("overwrite").parquet(self.path(name))
        else:
            w.mode(mode).parquet(self.path(name))

    def rewrite(
        self,
        df: DataFrame,
        name: str,
        partition_by: Optional[List[str]] = None,
        verify=None,
    ) -> None:
        """Update-in-place: replace table ``name`` with ``df``, where ``df``
        may be DERIVED FROM the current table contents (read → transform →
        rewrite). Spark cannot overwrite a path an active plan still reads
        from, so the parquet fallback stages to ``<name>__tmp`` and swaps
        directories (``name → <name>__old``, ``<name>__tmp → name``, drop
        the old copy; ``_finish_swap`` completes a swap a crash cut). On
        Iceberg this whole method is a single MERGE INTO / REPLACE snapshot
        commit (atomic, no staging dir).

        ``verify`` (optional): callback receiving the STAGED table as a
        DataFrame, called BEFORE the swap — raise to abort with the
        original untouched and the staged dir removed (how compaction
        proves content preservation without risking the known-good copy).
        """
        self._finish_swap(name)
        tmp = f"{name}__tmp"
        w = df.write
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.mode("overwrite").parquet(self.path(tmp))
        if verify is not None:
            try:
                verify(self.read(tmp))
            except Exception:
                shutil.rmtree(self.path(tmp), ignore_errors=True)
                raise
        if os.path.isdir(self.path(name)):
            os.rename(self.path(name), self.path(f"{name}__old"))
        os.rename(self.path(tmp), self.path(name))
        shutil.rmtree(self.path(f"{name}__old"), ignore_errors=True)

    def _finish_swap(self, name: str) -> None:
        """With ``<name>__old`` (renamed aside after ``verify`` passed) beside
        ``<name>__tmp``, a swap was cut before its second rename: move the
        verified copy into place, then drop the old one."""
        old, tmp = self.path(f"{name}__old"), self.path(f"{name}__tmp")
        if not os.path.isdir(old):
            return
        if os.path.isdir(tmp):
            os.rename(tmp, self.path(name))
        shutil.rmtree(old)


def load_testdata(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated table (TESTDATA.md)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
