"""Session factory: machine-fitted defaults, the driver JVM's JIT options,
the Python worker daemon, and a warm-up that reports its failures instead
of swallowing them."""

import importlib.util
import logging
import os
import re
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import functions as F

from fraudcrawler_spark import pydaemon, session


class _Conf:
    def __init__(self):
        self.values = {}

    def get(self, key, default=None):
        return self.values.get(key, default)

    def set(self, key, value):
        self.values[key] = value


class _BrokenSpark:
    """Just enough of a SparkSession for _prime; every query raises."""

    def __init__(self):
        self.conf = _Conf()
        self.sparkContext = self

    def setJobDescription(self, _):
        pass

    def range(self, *args):
        raise RuntimeError("no executors")


def test_prime_failure_is_logged_and_session_continues(monkeypatch, caplog):
    monkeypatch.delenv("FC_NO_PRIME", raising=False)
    spark = _BrokenSpark()
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session._prime(spark)
    assert "no executors" in caplog.text
    assert spark.conf.get("spark.fraudcrawler.primed") == "true"


def test_default_driver_mem_fits_machine():
    mem = session._default_driver_mem()
    assert re.fullmatch(r"[1-9][0-9]*g", mem)
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    assert int(mem[:-1]) <= max(1, phys_gb)


def test_prime_runs_without_warning(spark, monkeypatch, caplog):
    """The warm-up completes on a real session: every priming query runs,
    none fails into the warning."""
    monkeypatch.delenv("FC_NO_PRIME", raising=False)
    spark.conf.set("spark.fraudcrawler.primed", "false")
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session._prime(spark)
    assert "warm-up failed" not in caplog.text
    assert spark.conf.get("spark.fraudcrawler.primed") == "true"


def _jmx(spark):
    return getattr(spark._jvm, "java.lang.management.ManagementFactory")


def test_driver_jvm_runs_c1_with_full_code_cache(spark):
    """The session's JVM was launched with C1 only and a 240 MB code
    cache, from spark.driver.defaultJavaOptions."""
    args = list(_jmx(spark).getRuntimeMXBean().getInputArguments())
    assert "-XX:TieredStopAtLevel=1" in args
    assert "-XX:ReservedCodeCacheSize=240m" in args
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.driver.defaultJavaOptions") == (
        session.DRIVER_JAVA_OPTIONS)


def test_extra_java_options_do_not_drop_driver_options(spark):
    """A caller's spark.driver.extraJavaOptions (crawlbench passes
    -Djava.io.tmpdir that way) lands after the session's default options
    on the java command line Spark's launcher builds, so it adds to them
    and does not replace them."""
    home = _find_spark_home()
    jars = os.listdir(os.path.join(home, "jars"))
    scala = next(m.group(1) for m in map(
        re.compile(r"spark-launcher_(\d+\.\d+)-").match, jars) if m)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    default = spark.sparkContext.getConf().get(
        "spark.driver.defaultJavaOptions")
    out = subprocess.run(
        [java, "-Xmx128m", "-cp", os.path.join(home, "jars", "*"),
         "org.apache.spark.launcher.Main", "org.apache.spark.deploy.SparkSubmit",
         "--conf", f"spark.driver.defaultJavaOptions={default}",
         "--conf", "spark.driver.extraJavaOptions=-Djava.io.tmpdir=/fc_tmp",
         "pyspark-shell"],
        env={**os.environ, "SPARK_HOME": home, "SPARK_SCALA_VERSION": scala},
        capture_output=True, text=True, check=True, timeout=120,
    ).stdout.split("\0")
    tmpdir = out.index("-Djava.io.tmpdir=/fc_tmp")
    for flag in session.DRIVER_JAVA_OPTIONS.split():
        assert out.index(flag) < tmpdir, out


def test_python_workers_start_from_package_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == (
        session.PYTHON_DAEMON_MODULE)


def test_worker_task_rereads_no_unchanged_zip(spark):
    """Inside a worker, the per-task importlib.invalidate_caches() reads
    no zip directory: the archives on the workers' path (pyspark.zip
    first) have not changed. The stock daemon re-reads about 16 on
    CPython 3.11."""

    @F.pandas_udf("long")
    def zip_reads(x: pd.Series) -> pd.Series:
        import importlib
        import zipimport as zi

        n = 0
        read = zi._read_directory

        def counted(archive):
            nonlocal n
            n += 1
            return read(archive)

        zi._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zi._read_directory = read
        return pd.Series([n] * len(x))

    rows = spark.range(0, 8, 1, 4).select(zip_reads("id").alias("n")).collect()
    assert {r.n for r in rows} == {0}


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="zipimporter no longer re-reads on invalidate")
def test_zip_reread_only_when_archive_changes(tmp_path):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"fc_old": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    pydaemon.invalidate_caches_if_changed(importer)
    files = importer._files
    pydaemon.invalidate_caches_if_changed(importer)
    assert importer._files is files  # unchanged archive: not re-read
    assert importer.find_spec("fc_new") is None

    _write_zip(archive, {"fc_old": "X = 1\n", "fc_new": "Y = 2\n"})
    pydaemon.invalidate_caches_if_changed(importer)
    assert importer._files is not files
    spec = importer.find_spec("fc_new")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2


@pytest.mark.session_end
def test_code_cache_peak_fits_reserved_size(spark):
    """Run after every other test: the crawl's compiled code never filled
    the 240 MB code cache, so the JIT never had to flush it. Measured peak
    of the CodeCache pool after the full test suite on 4 cores: 91.0 MB."""
    pools = {p.getName(): p for p in _jmx(spark).getMemoryPoolMXBeans()}
    peak = pools["CodeCache"].getPeakUsage().getUsed()
    assert 0 < peak < 240 * 2**20, peak
