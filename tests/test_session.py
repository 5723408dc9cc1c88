"""Session factory: machine-fitted defaults, the driver JVM's JIT options,
and a warm-up that reports its failures instead of swallowing them."""

import logging
import os
import re
import subprocess

import pytest
from pyspark.find_spark_home import _find_spark_home

from fraudcrawler_spark import session


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
    return spark._jvm.java.lang.management.ManagementFactory


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


@pytest.mark.session_end
def test_code_cache_peak_fits_reserved_size(spark):
    """Run after every other test: the crawl's compiled code never filled
    the 240 MB code cache, so the JIT never had to flush it. Measured peak
    of the CodeCache pool after the full test suite on 4 cores: 91.0 MB."""
    pools = {p.getName(): p for p in _jmx(spark).getMemoryPoolMXBeans()}
    peak = pools["CodeCache"].getPeakUsage().getUsed()
    assert 0 < peak < 240 * 2**20, peak
