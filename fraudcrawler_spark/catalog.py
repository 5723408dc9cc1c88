"""Iceberg catalog layer — the north_star's "checkpoints to Iceberg" path.

BASELINE.json north_star calls for frontier/seen/results state in Iceberg
tables (sorted frontier, snapshot-per-round). This module provides:

- ``iceberg_jar_present(spark)``: JVM-side probe for the Iceberg Spark
  runtime (``org.apache.iceberg.spark.SparkCatalog``).
- ``iceberg_session_conf(...)``: the exact SparkSession config a cluster
  deployment sets to enable the catalog (spark.sql.catalog.* keys).
- ``IcebergBackend``: real Iceberg table IO for CrawlState — one table per
  state kind, partitioned by ``_round``, one snapshot per round commit via
  DataFrameWriterV2 ``overwritePartitions()``.
- ``ParquetSnapshotBackend``: the sandbox fallback — per-round parquet
  directories + the atomic JSON manifest (frontier/checkpoint.py docstring
  documents the exact emulation contract).

Jar-resolution attempt, recorded (SURVEY.md §7 risk 4 / VERDICT r1 item 7):
this sandbox has no Maven reachability (`curl repo1.maven.org` → DNS
failure, exit 6) and ships no iceberg-spark-runtime jar under
``pyspark/jars`` (checked: spark-sql_2.13-4.1.2, scala 2.13.17 — the
matching artifact would be ``org.apache.iceberg:iceberg-spark-runtime-
4.1_2.13``). ``backend_for()`` therefore auto-selects the parquet
emulation here, and flips to Iceberg on any environment where the jar is
on the classpath (e.g. ``spark-submit --packages org.apache.iceberg:
iceberg-spark-runtime-4.1_2.13:<version>`` or SPARK_GRAFT_ICEBERG_JAR) —
no code change needed, same CrawlState API either way.

Later attempts to fetch the runtime jar or ``pyiceberg`` found no package
index and no Iceberg jar on disk, so the Iceberg branch runs only where
the jar is on the classpath: ``iceberg_jar_present`` plus the documented
spark-submit --packages path are how it is switched on.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_CATALOG = "fc_iceberg"
DEFAULT_NAMESPACE = "crawl"


def iceberg_jar_present(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is loadable in this JVM.

    Probes through Spark's Utils.classForName first — jars shipped via
    --packages/--jars land in Spark's mutable URL classloader, which the
    root-classloader ``java.lang.Class.forName`` does NOT search — and
    falls back to plain reflection for embedded/classpath jars. A missing
    class raises ``Py4JJavaError`` (ClassNotFoundException) from either
    probe; any other failure propagates."""
    name = "org.apache.iceberg.spark.SparkCatalog"
    try:
        spark._jvm.org.apache.spark.util.Utils.classForName(  # type: ignore[union-attr]
            name, False, False
        )
        return True
    except Py4JJavaError:
        pass
    try:
        spark._jvm.java.lang.Class.forName(name)  # type: ignore[union-attr]
        return True
    except Py4JJavaError:
        return False


def iceberg_session_conf(
    warehouse: str,
    catalog: str = DEFAULT_CATALOG,
    jar: str | None = None,
) -> dict[str, str]:
    """SparkSession config enabling a Hadoop-warehouse Iceberg catalog.

    Pass to ``session.get_spark(extra_conf=...)`` (must be set before the
    session is created — catalogs cannot be added to a live session).
    ``jar`` (or $SPARK_GRAFT_ICEBERG_JAR) adds a local runtime jar;
    clusters normally ship it via --packages instead.
    """
    conf = {
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
    }
    jar = jar or os.environ.get("SPARK_GRAFT_ICEBERG_JAR")
    if jar:
        conf["spark.jars"] = jar
    return conf


class ParquetSnapshotBackend:
    """Per-round parquet dirs; commit atomicity comes from CrawlState's
    tmp+rename JSON manifest (the Iceberg-snapshot emulation)."""

    name = "parquet"

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _p(self, table: str, round_no: int) -> str:
        return os.path.join(self.root, table, f"round={round_no:05d}")

    def write(self, table: str, round_no: int, df: DataFrame,
              sort_cols: list[str] | None = None,
              ncoalesce: int | None = None) -> None:
        w = df
        if ncoalesce:
            # small per-round tables: avoid 32-64 tiny files per write
            w = w.coalesce(ncoalesce)
        if sort_cols:
            # Iceberg-style sort order within files: the frontier stays
            # sorted by (priority, host, crawl_depth) so round selection
            # scans are sequential and metadata-prunable
            w = w.sortWithinPartitions(*sort_cols)
        w.write.mode("overwrite").parquet(self._p(table, round_no))

    def read(self, table: str, round_no: int) -> DataFrame:
        return self.spark.read.parquet(self._p(table, round_no))

    def exists(self, table: str, round_no: int) -> bool:
        return os.path.exists(os.path.join(self._p(table, round_no), "_SUCCESS"))

    def read_all(self, table: str, upto_round: int) -> DataFrame | None:
        paths = [
            self._p(table, r)
            for r in range(upto_round + 1)
            if self.exists(table, r)
        ]
        if not paths:
            return None
        return self.spark.read.parquet(*paths)


class IcebergBackend:
    """Real Iceberg state tables: ``<catalog>.<ns>.<table>`` partitioned by
    ``_round``; every round write is ``overwritePartitions()`` on that
    round's partition — idempotent on rerun-after-crash, one snapshot per
    commit, time-travel for free (the manifest's history analog).
    """

    name = "iceberg"

    def __init__(self, spark: SparkSession, root: str,
                 catalog: str = DEFAULT_CATALOG,
                 namespace: str = DEFAULT_NAMESPACE):
        import zlib

        self.spark = spark
        self.catalog = catalog
        # one namespace per crawl-state root so parallel crawls don't
        # collide — PROCESS-STABLE digest (crc32), never Python's salted
        # hash(): a resume in a new driver must land in the same namespace
        self.namespace = f"{namespace}_{zlib.crc32(root.encode('utf-8')):08x}"
        spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{self.namespace}"
        )
        # round markers distinguish a COMMITTED-BUT-EMPTY round from a
        # never-written one (parquet backend: _SUCCESS plays this role)
        self._markers = self._full("_round_markers")
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self._markers} "
            "(tbl STRING, round INT) USING iceberg"
        )

    def _full(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    def _table_exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self._full(table))

    def write(self, table: str, round_no: int, df: DataFrame,
              sort_cols: list[str] | None = None,
              ncoalesce: int | None = None) -> None:
        full = self._full(table)
        out = df.withColumn("_round", F.lit(round_no))
        if ncoalesce:
            out = out.coalesce(ncoalesce)
        if sort_cols:
            out = out.sortWithinPartitions(*sort_cols)
        if not self._table_exists(table):
            out.writeTo(full).partitionedBy(F.col("_round")).create()
            if sort_cols:
                # real table-level sort order (the emulation can only sort
                # within files). WRITE ORDERED BY is Iceberg's actual
                # mechanism — a "sort-order" tableProperty would be stored
                # but inert.
                cols = ", ".join(sort_cols)
                self.spark.sql(f"ALTER TABLE {full} WRITE ORDERED BY ({cols})")
        else:
            # explicit partition delete + append, NOT overwritePartitions:
            # dynamic overwrite with an EMPTY dataframe clears nothing, so
            # a rerun-after-crash that now produces zero rows would leave
            # the crashed attempt's stale rows in place
            self.spark.sql(
                f"DELETE FROM {full} WHERE _round = {int(round_no)}"
            )
            out.writeTo(full).append()
        self.spark.sql(
            f"DELETE FROM {self._markers} "
            f"WHERE tbl = '{table}' AND round = {int(round_no)}"
        )
        self.spark.sql(
            f"INSERT INTO {self._markers} VALUES ('{table}', {int(round_no)})"
        )

    def read(self, table: str, round_no: int) -> DataFrame:
        return (
            self.spark.read.table(self._full(table))
            .where(F.col("_round") == round_no)
            .drop("_round")
        )

    def exists(self, table: str, round_no: int) -> bool:
        # marker lookup (tiny table) — a committed empty round EXISTS,
        # matching the parquet backend's _SUCCESS semantics
        return (
            self.spark.read.table(self._markers)
            .where((F.col("tbl") == table) & (F.col("round") == round_no))
            .limit(1)
            .count()
            > 0
        )

    def read_all(self, table: str, upto_round: int) -> DataFrame | None:
        if not self._table_exists(table):
            return None
        # read ONLY marker-committed rounds (parquet-backend parity with
        # _SUCCESS): a round whose data append landed but whose marker
        # insert crashed must stay invisible, exactly like a parquet dir
        # without _SUCCESS. The marker list is a few ints — driver-side.
        marked = [
            r["round"]
            for r in self.spark.read.table(self._markers)
            .where((F.col("tbl") == table) & (F.col("round") <= upto_round))
            .collect()
        ]
        if not marked:
            return None
        return (
            self.spark.read.table(self._full(table))
            .where(F.col("_round").isin(marked))
            .drop("_round")
        )


def backend_for(spark: SparkSession, root: str):
    """Iceberg when the runtime jar AND a configured catalog are present;
    the parquet emulation otherwise (this sandbox: always parquet — see
    module docstring for the recorded jar-resolution attempt)."""
    if iceberg_jar_present(spark):
        configured = spark.conf.get(
            f"spark.sql.catalog.{DEFAULT_CATALOG}", None
        )
        if configured:
            return IcebergBackend(spark, root)
    return ParquetSnapshotBackend(spark, root)
