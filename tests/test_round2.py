"""Round-2 additions: manifest-pinned seen partitioning, result registry
filename/index addressing, fetch_status retry surface, banded simhash
parity, and the Jaccard shingle document-frequency cap."""

import os

import pytest
from pyspark.sql import functions as F

from fraudcrawler_spark.config import CrawlConfig
from fraudcrawler_spark.frontier.crawl import run_crawl


def test_resume_adopts_manifest_seen_partitions(spark, corpus_dir, tmp_path_factory):
    """Segments/seen are routed by crc32(url) % P at WRITE time — a resume
    with a different configured P must adopt the persisted P (ADVICE r1:
    silent mis-routing ⇒ false Bloom negatives ⇒ duplicate claims)."""
    cfg8 = CrawlConfig(host_budget=8, max_depth=2, seen_partitions=8)
    base = str(tmp_path_factory.mktemp("adopt_base"))
    full = run_crawl(spark, corpus_dir, base, cfg8, max_rounds=3)

    root = str(tmp_path_factory.mktemp("adopt_resume"))
    run_crawl(spark, corpus_dir, root, cfg8, max_rounds=2)
    # resume with a DIFFERENT configured partition count
    cfg32 = CrawlConfig(host_budget=8, max_depth=2, seen_partitions=32)
    resumed = run_crawl(spark, corpus_dir, root, cfg32, max_rounds=3)

    assert resumed.read_manifest()["seen_partitions"] == 8
    last = full.read_manifest()["last_round"]
    assert resumed.read_manifest()["last_round"] == last
    seen_a = {r[0] for r in full.read_all("seen", last).select("url").collect()}
    seen_b = {r[0] for r in resumed.read_all("seen", last).select("url").collect()}
    assert seen_a == seen_b
    # routing stayed on the persisted layout: every part id < 8
    max_part = resumed.read_all("seen", last).agg(F.max("part")).collect()[0][0]
    assert max_part < 8


def test_results_registry_template_and_index(spark, corpus_dir, tmp_path_factory):
    """Filename template {term}_{lang}_{loc}_{ts}.csv (client.py:30,99-105)
    and load_results(index=-1) addressing (client.py:120-128)."""
    from fraudcrawler_spark.operators.sink import ResultsRegistry
    from fraudcrawler_spark.pipeline import run_pipeline

    out = str(tmp_path_factory.mktemp("registry"))
    reg = ResultsRegistry(spark, out)
    res = run_pipeline(spark, corpus_dir)
    prompt_names = [
        r["name"]
        for r in spark.read.parquet(f"{corpus_dir}/prompts.parquet").select("name").collect()
    ]
    p1 = reg.save(res, "sildenafil", language="de", location="ch",
                  prompt_names=prompt_names, timestamp="20260816120000")
    p2 = reg.save(res.limit(3), "tramadol", language="fr", location="ch",
                  prompt_names=prompt_names, timestamp="20260816120001")

    assert os.path.basename(p1) == "sildenafil_de_ch_20260816120000.csv"
    assert os.path.basename(p2) == "tramadol_fr_ch_20260816120001.csv"
    # index addressing: -1 = most recent, -2 = the run before it
    assert reg.load_results(-1).count() == 3
    assert reg.load_results(-2).count() == res.count()
    # flattened: no map column survives the sink (CSV cannot hold maps)
    assert "classifications" not in reg.load_results(-2).columns
    assert any(
        c.startswith("classification_") for c in reg.load_results(-2).columns
    )


def test_results_registry_same_second_collision(spark, tmp_path_factory):
    """Two same-second saves of the same (term, lang, loc) must not
    clobber each other: the second gets a disambiguating suffix and index
    addressing keeps serving the right run."""
    from fraudcrawler_spark.operators.sink import ResultsRegistry

    reg = ResultsRegistry(spark, str(tmp_path_factory.mktemp("reg_coll")))
    df1 = spark.range(4).select(F.col("id").alias("v"))
    df2 = spark.range(7).select(F.col("id").alias("v"))
    p1 = reg.save(df1, "term", timestamp="20260816120000")
    p2 = reg.save(df2, "term", timestamp="20260816120000")
    assert p1 != p2 and p2.endswith("_1.csv")
    assert reg.load_results(-2).count() == 4
    assert reg.load_results(-1).count() == 7


def test_fetch_status_hit_miss_skipped(spark, corpus_dir):
    """§2.9 retry surface: 'miss' = retry-exhaustion terminal state
    (zyte.py:75-97), distinguishable from a fetched page with no product
    markup; flagged rows never reach the fetcher → 'skipped'."""
    from fraudcrawler_spark.operators.fetch import fetch_extract

    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    present = [r["url"] for r in pages.select("url").limit(2).collect()]
    items = spark.createDataFrame(
        [
            (present[0], False, None),
            ("https://nowhere.invalid/x", False, None),
            (present[1], True, "country code filtering"),
        ],
        "url string, filtered boolean, filtered_at_stage string",
    )
    out = fetch_extract(items, pages).select("url", "fetch_status").collect()
    status = {r["url"]: r["fetch_status"] for r in out}
    assert status[present[0]] == "hit"
    assert status["https://nowhere.invalid/x"] == "miss"
    assert status[present[1]] == "skipped"


def test_robots_txt_parser(spark):
    """robots_from_txt: raw robots.txt → structured dim. Groups, comments,
    blank lines, stacked user-agents, empty Disallow, Crawl-delay s→ms,
    and non-matching groups all handled — then drives schedule_status."""
    import pandas as pd

    from fraudcrawler_spark.frontier.politeness import (
        robots_from_txt,
        schedule_status,
    )

    txt_a = (
        "# comment line\n"
        "User-agent: googlebot\n"
        "Disallow: /only-for-google/\n"
        "\n"
        "User-agent: somebot\n"
        "User-agent: *\n"          # stacked agents: group applies to *
        "Disallow: /private/\n"
        "Disallow:\n"              # empty Disallow = allow-all, ignored
        "Disallow: /tmp/ # trailing comment\n"
        "Crawl-delay: 2.5\n"
    )
    txt_b = "User-agent: otherbot\nDisallow: /\n"  # no * group at all
    raw = spark.createDataFrame(
        pd.DataFrame({"host": ["a.ch", "b.ch"], "robots_txt": [txt_a, txt_b]})
    )
    dim = {r["host"]: r for r in robots_from_txt(raw).collect()}
    assert sorted(dim["a.ch"]["disallow_prefixes"]) == ["/private/", "/tmp/"]
    assert dim["a.ch"]["crawl_delay_ms"] == 2500
    assert "b.ch" not in dim  # no matching group → host unconstrained

    # duplicate host rows (e.g. refetch unioned with the old dim): each
    # document parses independently — no cross-document line interleaving —
    # and the host merge unions prefixes / takes the min delay
    dup = spark.createDataFrame(
        pd.DataFrame({
            "host": ["a.ch", "a.ch"],
            "robots_txt": [
                "User-agent: *\nDisallow: /one/\nCrawl-delay: 4\n",
                "User-agent: *\nDisallow: /two/\nCrawl-delay: 1\n",
            ],
        })
    )
    d = robots_from_txt(dup).collect()[0]
    assert sorted(d["disallow_prefixes"]) == ["/one/", "/two/"]
    assert d["crawl_delay_ms"] == 1000

    frontier = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["https://a.ch/private/x", "https://a.ch/ok",
                        "https://b.ch/private/x"],
                "host": ["a.ch", "a.ch", "b.ch"],
                "priority": [0, 0, 0],
                "crawl_depth": [0, 0, 0],
            }
        )
    )
    st = {
        r["url"]: r["sched_status"]
        for r in schedule_status(frontier, robots_from_txt(raw), 8, 2).collect()
    }
    assert st["https://a.ch/private/x"] == "blocked"
    assert st["https://a.ch/ok"] == "scheduled"
    assert st["https://b.ch/private/x"] == "scheduled"  # no * group for b.ch


def test_simhash_banded_equals_all_pairs(spark, sf_dir):
    """Pigeonhole correctness: banded candidate generation loses no pair
    within the hamming radius — identical result set to the all-pairs scan."""
    from fraudcrawler_spark.conformance_ml import (
        q_simhash_pairs,
        q_simhash_pairs_banded,
    )

    a = {tuple(r) for r in q_simhash_pairs(spark, sf_dir).collect()}
    b = {tuple(r) for r in q_simhash_pairs_banded(spark, sf_dir).collect()}
    assert a == b and len(a) > 0


def test_catalog_backend_selection_and_roundtrip(spark, tmp_path_factory):
    """Backend auto-selection: Iceberg when the runtime jar + catalog are
    configured, parquet emulation otherwise. Either backend must round-trip
    the same CrawlState write/read/exists/read_all contract."""
    from fraudcrawler_spark import catalog as cat
    from fraudcrawler_spark.frontier.checkpoint import CrawlState

    root = str(tmp_path_factory.mktemp("cat_state"))
    state = CrawlState(spark, root)
    if cat.iceberg_jar_present(spark):
        # a jar-equipped environment with the catalog configured goes Iceberg
        if spark.conf.get(f"spark.sql.catalog.{cat.DEFAULT_CATALOG}", None):
            assert state.backend.name == "iceberg"
    else:
        assert state.backend.name == "parquet"

    df0 = spark.range(5).select(F.col("id").alias("url"))
    df1 = spark.range(5, 8).select(F.col("id").alias("url"))
    state.write("t", 0, df0, ncoalesce=1)
    state.write("t", 1, df1, ncoalesce=1)
    assert state.exists("t", 0) and state.exists("t", 1)
    assert not state.exists("t", 2)
    assert state.read("t", 1).count() == 3
    assert state.read_all("t", 1).count() == 8
    assert state.read_all("missing", 1) is None
    # idempotent rerun-after-crash: overwriting a round replaces it
    state.write("t", 1, df1.limit(1), ncoalesce=1)
    assert state.read_all("t", 1).count() == 6


def test_iceberg_session_conf_shape():
    """The cluster-side enablement config is exactly the documented
    spark.sql.catalog.* + extensions keys (no live session needed)."""
    from fraudcrawler_spark.catalog import DEFAULT_CATALOG, iceberg_session_conf

    conf = iceberg_session_conf("/wh", jar="/opt/iceberg.jar")
    assert conf[f"spark.sql.catalog.{DEFAULT_CATALOG}"].endswith("SparkCatalog")
    assert conf[f"spark.sql.catalog.{DEFAULT_CATALOG}.type"] == "hadoop"
    assert conf[f"spark.sql.catalog.{DEFAULT_CATALOG}.warehouse"] == "/wh"
    assert "IcebergSparkSessionExtensions" in conf["spark.sql.extensions"]
    assert conf["spark.jars"] == "/opt/iceberg.jar"


def test_iceberg_probe_fails_only_on_missing_class(spark):
    """The runtime-jar probe reads a missing class (a Java exception from
    both probes) as "no Iceberg"; any other probe failure propagates."""
    from unittest.mock import MagicMock

    from py4j.protocol import Py4JJavaError

    from fraudcrawler_spark.catalog import iceberg_jar_present

    assert iceberg_jar_present(spark) is False

    jvm = MagicMock()
    jvm.org.apache.spark.util.Utils.classForName.side_effect = RuntimeError("a")
    with pytest.raises(RuntimeError, match="a"):
        iceberg_jar_present(MagicMock(_jvm=jvm))

    missing = Py4JJavaError("missing", MagicMock(_target_id="o1"))
    jvm.org.apache.spark.util.Utils.classForName.side_effect = missing
    jvm.java.lang.Class.forName.side_effect = RuntimeError("b")
    with pytest.raises(RuntimeError, match="b"):
        iceberg_jar_present(MagicMock(_jvm=jvm))


def test_jaccard_df_cap_bounds_hot_shingle(spark):
    """One shingle shared by D docs yields D·(D-1)/2 candidate pairs — the
    max_df cap drops it from candidate generation; pairs sharing only the
    hot shingle disappear, pairs sharing rare shingles survive."""
    from fraudcrawler_spark.conformance_ml import ngram_jaccard_pairs

    rows = []
    # 40 docs all sharing the hot shingle only
    rows += [(i, "the quick brown") for i in range(40)]
    # docs 100/101 share a rare shingle (plus the hot one)
    for d in (100, 101):
        rows += [(d, "the quick brown"), (d, "rare shingle pair")]
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")

    uncapped = ngram_jaccard_pairs(sh, threshold=0.0, max_df=None)
    capped = ngram_jaccard_pairs(sh, threshold=0.0, max_df=10)
    n_uncapped = uncapped.count()
    capped_pairs = {(r["a"], r["b"]) for r in capped.collect()}

    assert n_uncapped == 42 * 41 // 2  # quadratic blow-up without the cap
    assert capped_pairs == {(100, 101)}  # only the rare-shingle pair remains
    # the surviving pair's jaccard is a lower bound (hot shingle excluded
    # from common but kept in set sizes): common=1, na=nb=2 → 1/3
    j = {(r["a"], r["b"]): r["jaccard"] for r in capped.collect()}
    assert abs(j[(100, 101)] - round(1 / 3, 4)) < 1e-9
