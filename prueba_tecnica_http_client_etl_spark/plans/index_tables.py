"""Catalog-table lifecycle shared by the persisted indexes
(plans/lsh_index.py, ivf_index.py, pq_index.py, phash_index.py,
video_index.py).

An index is a set of catalog tables named `{prefix}_{suffix}`. Each index
module declares its tables once as an `IndexTables` (suffix -> bucket
column, or None for a small unbucketed table) and runs every table write
through it:

    TABLES.clear_orphans(spark, prefix)          # build, before writing
    TABLES.write(df, prefix, suffix, n_buckets)  # build
    TABLES.require(spark, prefix)                # probe / append / compact
    TABLES.append(df, prefix, suffix)            # append
    TABLES.rewrite(df, prefix, suffix)           # compact

Invariants:

- Appends and rewrites reuse the bucket count the table was built with
  (read from the catalog), so probe joins stay shuffle-free and bucket
  pruning survives any number of appends.
- A missing table is an error: `mode("append")` would silently create it
  and swallow the batch into a parallel index nothing probes.
- Every rewrite is a staged swap: the full rewrite is written durably to
  `{table}__compact_stage`, the original is dropped, and the stage is
  renamed into place. The only copy of an index is never in volatile
  storage. A swap that dies between drop and rename is finished by the
  next `require`, so every entry point self-heals.
- `require` refreshes every table it checks, so a session sees the rows
  another session appended (a stream's foreachBatch runs on a cloned
  session). Without it a compaction rewrites a stale file listing and
  drops those rows.
"""

from __future__ import annotations

import os
import re
import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

STAGE_SUFFIX = "__compact_stage"

_BUILD_ARTIFACT = re.compile(
    r"^(_SUCCESS|_temporary|_committed.*|_started.*|part-.*|\..*\.crc|\.part-.*)$"
)


def clear_orphaned_location(spark: SparkSession, name: str) -> None:
    """Remove the managed location of `name` when the catalog does not know
    the table but its directory exists (a crashed build left files without
    metadata); saveAsTable(overwrite) refuses a non-empty location it has
    no table for.

    The location is the `default` database's, so the existence check is
    qualified as `default`.`name`. The directory is removed only if every
    entry in it is Spark table-build output (parquet parts, _SUCCESS,
    _temporary, .crc); anything else is left for the write to fail on
    loudly."""
    if spark.catalog.tableExists(f"`default`.`{name}`"):
        return
    loc = os.path.join(urlparse(spark.conf.get("spark.sql.warehouse.dir")).path, name)
    if os.path.isdir(loc) and all(_BUILD_ARTIFACT.match(e) for e in os.listdir(loc)):
        shutil.rmtree(loc, ignore_errors=True)


def table_n_buckets(spark: SparkSession, table: str) -> int:
    """Bucket count of a catalog table, read from DESCRIBE FORMATTED."""
    for row in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
        if row.col_name.strip() == "Num Buckets":
            return int(row.data_type.strip())
    raise ValueError(f"{table} is not bucketed — not an index table")


def occupancy(df: DataFrame, *keys: str) -> Row:
    """Row counts per `keys` group, summarised in one job as
    (rows, groups, max, mean) — the index health scalars compaction
    reports."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.sum("n").alias("rows"),
            F.count(F.lit(1)).alias("groups"),
            F.max("n").alias("max"),
            F.avg("n").alias("mean"),
        )
        .collect()[0]
    )


class IndexTables:
    """The catalog tables of one index kind: suffix -> bucket column
    (None = unbucketed), in the order a build writes them."""

    def __init__(self, **buckets: str | None) -> None:
        self.buckets = buckets

    def _writer(self, df: DataFrame, mode: str, suffix: str, n_buckets: int | None):
        writer = df.write.mode(mode).format("parquet")
        col = self.buckets[suffix]
        return writer if col is None else writer.bucketBy(n_buckets, col)

    def clear_orphans(self, spark: SparkSession, prefix: str) -> None:
        for suffix in self.buckets:
            clear_orphaned_location(spark, f"{prefix}_{suffix}")

    def write(self, df: DataFrame, prefix: str, suffix: str, n_buckets: int) -> None:
        """Build write: overwrite the table (a catalog-level swap)."""
        self._writer(df, "overwrite", suffix, n_buckets).saveAsTable(f"{prefix}_{suffix}")

    def exists(self, spark: SparkSession, prefix: str) -> bool:
        """True when every table exists in the `default` database — a
        partial build must rebuild rather than be probed."""
        return all(
            spark.catalog.tableExists(f"`default`.`{prefix}_{s}`") for s in self.buckets
        )

    def require(self, spark: SparkSession, prefix: str, *suffixes: str) -> None:
        """Check the tables (all, or just `suffixes`) before an index
        operation: finish a staged swap that died between drop and
        rename, fail loudly on a missing table, and refresh each table.

        The existence checks are unqualified, like the spark.table and
        saveAsTable calls they guard: all resolve against the session's
        current database."""
        missing = []
        for suffix in suffixes or self.buckets:
            table = f"{prefix}_{suffix}"
            if not spark.catalog.tableExists(f"`{table}`"):
                if not spark.catalog.tableExists(f"`{table}{STAGE_SUFFIX}`"):
                    missing.append(suffix)
                    continue
                spark.sql(f"ALTER TABLE `{table}{STAGE_SUFFIX}` RENAME TO `{table}`")
            spark.catalog.refreshTable(f"`{table}`")
        if missing:
            raise ValueError(
                f"index '{prefix}' is missing tables {missing} — build the index first"
            )

    def append(self, df: DataFrame, prefix: str, suffix: str) -> None:
        """Append bucketed files under the table's catalog bucket spec."""
        table = f"{prefix}_{suffix}"
        n_buckets = table_n_buckets(df.sparkSession, table)
        self._writer(df, "append", suffix, n_buckets).saveAsTable(table)

    def rewrite(self, df: DataFrame, prefix: str, suffix: str) -> None:
        """Replace the table with `df`, which may read the table itself:
        write the stage durably, drop the original, rename the stage.
        A stale stage from an earlier crash before the drop is discarded
        first (the original was still authoritative)."""
        spark = df.sparkSession
        table = f"{prefix}_{suffix}"
        stage = table + STAGE_SUFFIX
        n_buckets = None if self.buckets[suffix] is None else table_n_buckets(spark, table)
        spark.sql(f"DROP TABLE IF EXISTS `{stage}`")
        clear_orphaned_location(spark, stage)
        self._writer(df, "overwrite", suffix, n_buckets).saveAsTable(stage)
        spark.sql(f"DROP TABLE `{table}`")
        spark.sql(f"ALTER TABLE `{stage}` RENAME TO `{table}`")

    def dedup(self, spark: SparkSession, prefix: str, suffix: str) -> None:
        """Rewrite the table as its distinct rows — the heal for rows a
        retried at-least-once append duplicated."""
        self.rewrite(spark.table(f"{prefix}_{suffix}").distinct(), prefix, suffix)
