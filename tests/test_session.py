"""Session factory: machine-fitted defaults and a warm-up that reports
its failures instead of swallowing them."""

import logging
import os
import re

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
