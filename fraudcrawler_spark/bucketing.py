"""Bucketed (storage-partitioned) tables for shuffle-free fetch joins.

At 100 TB the pages table is the single largest exchange risk: every
crawl round semi-joins the scheduled url-set against it. Rounds small
enough to broadcast avoid the exchange already (operators/fetch.py);
rounds above ``crawl.FETCH_BROADCAST_MAX_URLS`` fall back to a shuffle semi
join — and THAT shuffle is the one bucketing removes. A pages table
written with ``bucketBy(N, "url")`` + ``sortBy("url")`` is physically
pre-partitioned and pre-sorted on the join key, so the join planner
reads it exchange-free (and sort-free): only the (much smaller)
scheduled side shuffles, into N partitions that line up with the
buckets.

This is the Spark-native analog of the reference deployment note in
BENCH.md ("co-partitionable by bucketing both sides on crc32(url)") and
of Iceberg's ``bucket(N, url)`` partition transform — the catalog layer
(catalog.py) uses the same url-hash routing for the seen store.

Bucketing metadata lives in the session catalog (saveAsTable), which is
the one API Spark exposes for it — plain ``.parquet(path)`` writes
cannot carry bucket specs.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession


def _local_path(uri: str) -> str | None:
    """Filesystem path for a local/file:// URI; None for remote schemes
    (hdfs/s3 — never rmtree those from the driver)."""
    p = urlparse(uri)
    if p.scheme in ("", "file"):
        return p.path or uri
    return None


def _managed_location(spark: SparkSession, table: str) -> str | None:
    """Where the managed table's data lives (or would live). Prefer the
    catalog's own answer when the table exists; otherwise derive it under
    the warehouse dir — `db.tbl` lives at `<db>.db/tbl`, not `db.tbl/`
    (r3 advice: the naive join broke qualified names and file:// URIs)."""
    if spark.catalog.tableExists(table):
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
            if r["col_name"] == "Location":
                return _local_path(r["data_type"])
    wh = _local_path(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    if wh is None:
        return None
    parts = table.lower().split(".")
    # default-database tables live at wh/<tbl> (no default.db/ level);
    # any other database at wh/<db>.db/<tbl>
    if len(parts) == 2 and parts[0] != "default":
        return os.path.join(wh, f"{parts[0]}.db", parts[1])
    return os.path.join(wh, parts[-1])


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    bucket_cols: tuple[str, ...] = ("url",),
    n_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed+sorted parquet table in the session
    catalog. ``n_buckets`` should match the cluster's target parallelism
    for the join stage (one task per bucket on the bucketed side)."""
    # the in-memory catalog dies with the session but the managed
    # LOCATION under spark.sql.warehouse.dir does not: a fresh session
    # that re-creates the table would hit LOCATION_ALREADY_EXISTS, so
    # drop both the (possibly unknown) table and any orphaned directory.
    # Resolve the location BEFORE the drop (drop removes the catalog row).
    loc = _managed_location(spark, table)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if loc and os.path.isdir(loc):
        shutil.rmtree(loc)
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table)
    )


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back WITH its bucket spec (spark.table, not
    a path read — path reads drop the bucket metadata)."""
    return spark.table(table)


def bucketed_pages(
    spark: SparkSession,
    pages: DataFrame,
    table: str = "pages_bucketed",
    n_buckets: int = 32,
) -> DataFrame:
    """One-time preparation of the pages table for exchange-free fetch
    joins: bucket + sort by url, return the catalog-backed DataFrame to
    pass as ``fetch_extract(..., pages=...)``."""
    write_bucketed(spark, pages, table, ("url",), n_buckets)
    return read_bucketed(spark, table)
