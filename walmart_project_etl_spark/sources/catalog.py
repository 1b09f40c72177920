"""Layered parquet storage: the Spark replacement for the reference's three
Snowflake databases (ODS_DB / STAGING_DB / TARGET_DB, ``etl_ods_tables.py:29-31``).

Tables live at ``<root>/<layer>/<table>/`` as parquet directories; writes are
atomic at directory granularity (write to ``<table>__tmp`` then rename would be
needed on object stores — on HDFS-like stores Spark's commit protocol already
gives task/job atomicity, and overwrite mode replaces the directory in one
job commit).

Also hosts the testdata catalog: the driver's TPC-H-ish parquet tables.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

TESTDATA_TABLES = ("region", "nation", "customer", "supplier", "part",
                   "orders", "lineitem", "events", "documents", "embeddings")


def load_testdata(spark: SparkSession, sf_dir: str,
                  tables: tuple[str, ...] = TESTDATA_TABLES) -> dict[str, DataFrame]:
    """Load the driver's parquet tables from an sf directory."""
    return {t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")) for t in tables}


def _as_nullable(t: DataType) -> DataType:
    """``t`` with every field, element and value nullable — what Spark's
    file-source schema inference makes of a footer schema."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _as_nullable(f.dataType), True,
                                       f.metadata) for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_as_nullable(t.keyType), _as_nullable(t.valueType), True)
    return t


def _footer_schema(path: str) -> StructType | None:
    """The schema Spark wrote into the footer of the first top-level part
    file under ``path``, read on the driver; None when there is no such
    file (missing or empty directory, partition subdirectories) or its
    footer carries no Spark schema."""
    import json

    import pyarrow.parquet as pq

    try:
        parts = sorted(n for n in os.listdir(path)
                       if n.startswith("part-") and n.endswith(".parquet"))
    except OSError:
        return None
    if not parts:
        return None
    meta = pq.read_metadata(os.path.join(path, parts[0])).metadata or {}
    raw = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
    if raw is None:
        return None
    return _as_nullable(StructType.fromJson(json.loads(raw)))


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each testdata table as a temp view (for spark.sql access)."""
    for name, df in load_testdata(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


class Warehouse:
    """Minimal three-layer parquet warehouse (S3/S4/S6/S7/S8 sinks).

    Replaces the reference's dict-of-connections + temp-table INSERT machinery
    (``etl_ods_loader.py:34-76``): in Spark a write is partition-parallel and
    needs no batching knobs (reference ``BATCH_SIZE``, ``config.py:60``).
    """

    LAYERS = ("ods", "stg", "tgt")

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, layer: str, table: str) -> str:
        assert layer in self.LAYERS, layer
        return os.path.join(self.root, layer, table)

    def write(self, layer: str, table: str, df: DataFrame,
              mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
        w = df.write.mode(mode)
        if partition_by:
            # facts partitioned by date key → partition pruning for the BI
            # queries and bounded task size at 100 TB
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(layer, table))

    def append(self, layer: str, table: str, df: DataFrame,
               partition_by: list[str] | None = None) -> None:
        self.write(layer, table, df, mode="append", partition_by=partition_by)

    def replace(self, layer: str, table: str, df: DataFrame) -> None:
        """Overwrite a table whose current files may feed ``df``'s plan.

        Spark refuses to overwrite a path it is reading from, so write to a
        sibling temp dir and swap directories (the write-temp-then-rename
        pattern; on an object store this is the commit-marker dance)."""
        self.stage_new(layer, table, df)
        self.commit_staged(layer, [table])

    def stage_new(self, layer: str, table: str, df: DataFrame) -> None:
        """Phase 1 of a multi-table two-phase commit: materialize ``df`` to
        the table's ``__new`` sibling dir, leaving the current files — which
        other not-yet-written plans may still read — untouched."""
        df.write.mode("overwrite").parquet(self.path(layer, f"{table}__new"))

    def commit_staged(self, layer: str, tables) -> None:
        """Phase 2: swap every staged ``__new`` dir into place. Called only
        after ALL stage_new writes finished, so no live plan still needs a
        prior file (a table-at-a-time replace would delete files a later
        plan reads — the SCD merge / fact interval-join dependency)."""
        import shutil

        tables = list(tables)
        staged = [self.path(layer, f"{t}__new") for t in tables]
        missing = [p for p in staged if not os.path.exists(p)]
        assert not missing, f"no staged dir for: {missing}"
        for t, tmp in zip(tables, staged):
            final = self.path(layer, t)
            if os.path.exists(final):
                shutil.rmtree(final)
            os.rename(tmp, final)

    def vacuum_staged(self, layer: str,
                      older_than_s: float = 0.0) -> list[str]:
        """Crash recovery for the two-phase commit: delete orphaned
        ``__new`` staging dirs left by a run that died between
        ``stage_new`` and ``commit_staged``.

        Safe for DEAD runs by construction: a ``__new`` dir is only ever
        an uncommitted phase-1 artifact (commit renames it away
        atomically), so removing one never touches live table data — the
        interrupted run's tables still hold their pre-run state and the
        next run simply re-stages. It is NOT safe against a LIVE
        concurrent writer: deleting another run's in-flight phase-1 dir
        makes that run's ``commit_staged`` fail its staged-dir assert.
        The warehouse assumes a single writer per layer; where that
        cannot be guaranteed, pass ``older_than_s`` so only staging dirs
        older than the age bound (i.e. provably from a dead run, given a
        known max pipeline duration) are vacuumed. Returns the removed
        dir names so the orchestrator can log what a crash left behind.
        """
        import shutil
        import time

        root = os.path.join(self.root, layer)
        if not os.path.isdir(root):
            return []
        removed = []
        cutoff = time.time() - older_than_s
        for name in sorted(os.listdir(root)):
            if not name.endswith("__new"):
                continue
            p = os.path.join(root, name)
            try:
                if older_than_s > 0 and os.path.getmtime(p) > cutoff:
                    continue  # too fresh — possibly a live writer's
            except OSError:
                pass  # raced with a concurrent commit's rename — skip
            else:
                shutil.rmtree(p, ignore_errors=True)
                removed.append(name)
        return removed

    def write_bucketed(self, layer: str, table: str, df: DataFrame,
                       key: str, n_buckets: int = 8) -> None:
        """Bucketed+sorted catalog table for repeated co-located joins: both
        sides bucketed on the join key at the same bucket count join with
        NO exchange and NO sort (plan verified in
        ``tests/test_scale_plans.py::test_bucketed_join_is_shuffle_free``).
        At 100 TB this pre-pays the fact-to-fact shuffle once at write time
        — the improvement the reference lists but never builds
        (``ETL_IMPLEMENTATION_DETAILS.md:120-135`` "index management").
        Bucketing needs a catalog entry (bucket metadata lives in the table
        definition, not in parquet), hence ``saveAsTable`` with an explicit
        path rather than a bare ``parquet()`` write."""
        name = f"{layer}_{table}"
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        (df.write.mode("overwrite")
           .option("path", self.path(layer, table))
           .bucketBy(n_buckets, key)
           .sortBy(key)
           .format("parquet")
           .saveAsTable(name))

    def compact(self, layer: str, table: str,
                target_file_bytes: int = 128 * 1024 * 1024,
                sort_cols: list[str] | None = None) -> int:
        """Small-file compaction: rewrite the table into ~``target_file_bytes``
        files, optionally range-clustered on ``sort_cols``.

        Streaming sinks and incremental appends accrete micro-batch-sized
        files; at 100 TB an uncompacted table means millions of sub-MB
        files — catastrophic for scan planning (one task per file) and
        object-store listing. Target partition count comes from the
        table's ACTUAL on-disk bytes (filesystem metadata, no data scan);
        with ``sort_cols`` the rewrite is ``repartitionByRange`` +
        ``sortWithinPartitions``, which clusters the data so parquet
        min/max footer stats make later range filters skip whole files.
        Returns the new file-partition count. Uses the replace two-step,
        so readers of the old files are unaffected until the swap.
        """
        path = self.path(layer, table)
        total = sum(os.path.getsize(os.path.join(dp, f))
                    for dp, _, fs in os.walk(path) for f in fs
                    if f.endswith(".parquet"))
        n = max(1, -(-total // target_file_bytes))  # ceil
        df = self.read(layer, table)
        if sort_cols:
            df = (df.repartitionByRange(n, *sort_cols)
                    .sortWithinPartitions(*sort_cols))
        else:
            df = df.coalesce(n)  # narrow — no shuffle to merge small files
        self.replace(layer, table, df)
        return n

    def read(self, layer: str, table: str) -> DataFrame:
        """Plain read. The schema comes from the Spark schema in the first
        top-level part file's footer (:func:`_footer_schema`), so no Spark
        job runs to infer it; a directory without a top-level part file
        is left to Spark's own inference, with its errors and partition
        discovery."""
        path = self.path(layer, table)
        schema = _footer_schema(path)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(path)

    def read_evolved(self, layer: str, table: str) -> DataFrame:
        """Read a table whose files span schema versions (columns added
        over time by appends): ``mergeSchema`` unions all file footers
        into the superset schema, with NULLs for columns absent in older
        files. Not the default read — footer merging scans every file's
        metadata (expensive on a 100 TB table; the plain read trusts the
        first footer), so pay it only on tables known to evolve, or
        compact once after a schema change and go back to plain reads.
        """
        return (self.spark.read.option("mergeSchema", True)
                .parquet(self.path(layer, table)))

    def read_table(self, layer: str, table: str) -> DataFrame:
        """Catalog read — required for bucketed tables (a path read loses
        the bucket spec and re-shuffles)."""
        return self.spark.table(f"{layer}_{table}")

    def exists(self, layer: str, table: str) -> bool:
        p = self.path(layer, table)
        return os.path.exists(p) and any(
            f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(p))

    def truncate(self, layer: str, table: str) -> None:
        """S7: TRUNCATE (reference ``dags/walmart_etl_pipeline_dag.py:153-178``)
        = overwrite with an empty frame of the same schema."""
        if self.exists(layer, table):
            df = self.read(layer, table)
            df.limit(0).write.mode("overwrite").parquet(self.path(layer, table))

    def drop(self, layer: str, table: str) -> None:
        """S8: DROP TABLE (reference ``drop_all_tables.py:7-50``)."""
        import shutil

        p = self.path(layer, table)
        if os.path.exists(p):
            shutil.rmtree(p)

    def drop_all(self) -> None:
        import shutil

        if os.path.exists(self.root):
            shutil.rmtree(self.root)
