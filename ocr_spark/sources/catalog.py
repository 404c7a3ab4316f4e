"""Iceberg-shaped table layer over Parquet directories.

The sandbox has no Iceberg runtime jars (SURVEY.md §7.0), so this thin
layer implements the table properties the north rule actually
exercises — identity, schema-on-read, bucket partition layout, append,
dynamic-partition overwrite, and a manifest/snapshot record for
checkpoint-resume — over plain Parquet paths.  ``Table`` is the swap
point: on a real cluster with ``spark.jars.packages=org.apache.iceberg:...``
its method bodies become ``spark.read.table`` / ``df.writeTo(...)``
calls, and no call site in the engine changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["Catalog", "Table"]

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("committed_at", T.TimestampType(), False),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("n_docs", T.LongType(), True),
        T.StructField("n_ok", T.LongType(), True),
        T.StructField("n_err", T.LongType(), True),
        T.StructField("bytes_in", T.LongType(), True),
        T.StructField("bytes_out", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), True),
    ]
)


class Table:
    """One named parquet-backed table under a catalog root."""

    def __init__(self, spark: SparkSession, path: str, name: str):
        self.spark = spark
        self.path = path
        self.name = name

    def exists(self) -> bool:
        if not os.path.isdir(self.path):
            return False
        for root, _dirs, files in os.walk(self.path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def read_or_empty(self, schema: T.StructType) -> DataFrame:
        if self.exists():
            return self.spark.read.schema(schema).parquet(self.path)
        return self.spark.createDataFrame([], schema)

    def append_rows(self, rows: list[tuple], schema: T.StructType) -> None:
        """Driver-side append for TINY tables (manifest/lineage: a few
        rows per chunk).  A Spark write job costs 1-3 s of serial tail
        (scheduling + committer temp-dir renames) to land a 1 KB file;
        writing the parquet file directly with pyarrow is milliseconds
        and reads back identically through spark.read.parquet.  Data
        tables keep the distributed write path.  File names start with
        the append time, so name order is append order (``read_rows``)."""
        import time
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        type_map = {
            T.StringType(): pa.string(),
            T.IntegerType(): pa.int32(),
            T.LongType(): pa.int64(),
            # isAdjustedToUTC=true so Spark reads TimestampType (ltz),
            # same as its own written timestamps
            T.TimestampType(): pa.timestamp("us", tz="UTC"),
        }
        arrow_schema = pa.schema(
            [(f.name, type_map[f.dataType]) for f in schema.fields]
        )
        cols = list(zip(*rows)) if rows else [[] for _ in schema.fields]
        table = pa.Table.from_arrays(
            [pa.array(list(c), type=t)
             for c, t in zip(cols, arrow_schema.types)],
            schema=arrow_schema,
        )
        os.makedirs(self.path, exist_ok=True)
        name = f"part-{time.time_ns():020d}-{uuid.uuid4().hex}.parquet"
        pq.write_table(table, os.path.join(self.path, name))

    def read_rows(self, schema: T.StructType) -> list[tuple]:
        """Driver-side read of a TINY table, the mirror of
        ``append_rows``: every row as a tuple in ``schema`` field order,
        oldest append first, so a later row for a key supersedes an
        earlier one.  No Spark job; ``[]`` when the table is absent."""
        import pyarrow.parquet as pq

        if not os.path.isdir(self.path):
            return []
        names = schema.fieldNames()
        rows: list[tuple] = []
        for f in sorted(os.listdir(self.path)):
            # same visibility rule as Spark's scan: _/. files are hidden
            if not f.endswith(".parquet") or f.startswith(("_", ".")):
                continue
            t = pq.read_table(os.path.join(self.path, f), columns=names)
            rows += zip(*(t.column(n).to_pylist() for n in names))
        return rows

    def overwrite_partitions(self, df: DataFrame,
                             partition_by: tuple[str, ...]) -> None:
        """Idempotent per-partition replace: with
        spark.sql.sources.partitionOverwriteMode=dynamic, mode=overwrite
        replaces only the partitions present in ``df`` — the re-run of an
        uncommitted bucket lands byte-for-byte in place of the orphan
        (SURVEY.md §7.3.5)."""
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(self.path)


class Catalog:
    """A directory of tables + the checkpoint manifest / lineage pair
    used for idempotent resume (FIXTURES.md §3)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def table(self, name: str) -> Table:
        return Table(self.spark, os.path.join(self.root, name), name)

    # -- bucketed tables ------------------------------------------------
    def save_bucketed(self, df: DataFrame, name: str, key: str,
                      n_buckets: int, sort: bool = True) -> None:
        """Write ``df`` as a BUCKETED (and by default bucket-sorted)
        external parquet table: files are laid out so every row with
        the same ``key`` hash lands in the same bucket file on both
        writes — which lets Spark join or aggregate two tables bucketed
        the same way with ZERO exchanges (the scan itself satisfies the
        hash-clustering requirement; plan-asserted in test_plans).

        At 100 TB this is the difference between re-shuffling the full
        corpus on every join against a side table and never shuffling
        it at all: bucket once at write time, every downstream
        key-join/key-agg is co-located.  Bucket metadata lives in the
        session catalog here (the sandbox has no metastore/Iceberg
        jars); on a real deployment the same call becomes a bucketed /
        ``write.distributed-by`` Iceberg table and survives sessions —
        the swap point documented in the module header."""
        w = (df.write.format("parquet").mode("overwrite")
             .option("path", os.path.join(self.root, name))
             .bucketBy(n_buckets, key))
        if sort:
            w = w.sortBy(key)
        w.saveAsTable(name)

    def read_bucketed(self, name: str) -> DataFrame:
        """Read a bucketed table THROUGH the catalog (``spark.table``):
        a plain ``read.parquet`` of the same path would lose the bucket
        spec and re-introduce the exchange."""
        return self.spark.table(name)

    # -- checkpoint manifest ------------------------------------------------
    def manifest(self) -> Table:
        return self.table("manifest")

    def lineage(self) -> Table:
        return self.table("lineage")

    def committed_buckets(self, run_id: str) -> DataFrame:
        """Buckets already committed for this run (anti-join target)."""
        m = self.manifest().read_or_empty(MANIFEST_SCHEMA)
        return m.filter(F.col("run_id") == run_id).select("bucket").distinct()

    def commit_buckets(self, run_id: str, buckets: list[int]) -> None:
        """Append manifest rows — the atomic last step per chunk: data
        files land first, manifest rows only after (write-then-commit
        ordering, SURVEY.md §4.2).  Driver-side pyarrow write: no Spark
        job in the commit path."""
        if not buckets:
            return
        from datetime import datetime, timezone

        now = datetime.now(timezone.utc)
        self.manifest().append_rows(
            [(run_id, int(b), now) for b in buckets], MANIFEST_SCHEMA
        )
