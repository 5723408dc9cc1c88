"""Frontier crawl: trace parity vs the golden simulator, politeness,
robots, checkpoint/resume exactness (north_rule)."""

from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fraudcrawler_spark.config import STAGE_COUNTRY, CrawlConfig
from fraudcrawler_spark.frontier.crawl import STAGE_EXCLUDED, run_crawl
from fraudcrawler_spark.frontier.politeness import STAGE_ROBOTS
from fraudcrawler_spark.functions.urls import (
    canonical_host_py,
    canonical_url_py,
)
from tests.ref_sim import keep_url, simulate_crawl

CFG = CrawlConfig(host_budget=8, max_depth=2)
ROUNDS = 4


@pytest.fixture(scope="module")
def crawl_state(spark, corpus_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("crawl_state"))
    state = run_crawl(spark, corpus_dir, root, CFG, max_rounds=ROUNDS)
    return state


@pytest.fixture(scope="module")
def golden(corpus_dir):
    return simulate_crawl(corpus_dir, CFG, max_rounds=ROUNDS)


def _order_key(r):
    return (r["priority"], r["crawl_depth"], r["host"], r["url"])


def test_crawl_ordering_and_seen_parity(crawl_state, golden):
    """north_rule: crawl ordering + URL-seen membership match the golden
    trace (canonical order = (priority, crawl_depth, host, url))."""
    last = crawl_state.read_manifest()["last_round"]
    assert last == len(golden["rounds"]) - 1

    for rnd, g in enumerate(golden["rounds"]):
        res = crawl_state.read("results", rnd).select(
            "url", "priority", "crawl_depth", "host"
        ).toPandas()
        eng_order = [
            r["url"]
            for r in sorted(res.to_dict("records"), key=_order_key)
        ]
        # golden["rounds"][rnd]["new"] is already in canonical order
        assert eng_order == g["new"], f"round {rnd} ordering/membership"

    seen_eng = {
        r[0]
        for r in crawl_state.read_all("seen", last).select("url").collect()
    }
    assert seen_eng == golden["seen_set"]


def test_crawl_result_field_parity(crawl_state, golden):
    last = crawl_state.read_manifest()["last_round"]
    eng = crawl_state.read_all("results", last).toPandas()
    sim = pd.DataFrame(golden["results"])
    assert len(eng) == len(sim)
    eng_m = eng.set_index("url").sort_index()
    sim_m = sim.set_index("url").sort_index()
    assert list(eng_m.index) == list(sim_m.index)
    for col in ("product_name", "product_price", "product_description",
                "probability", "filtered", "filtered_at_stage", "round",
                "crawl_depth"):
        pd.testing.assert_series_equal(
            eng_m[col], sim_m[col], check_dtype=False, check_names=False,
            obj=col,
        )
    # classifications maps
    eng_cls = eng_m["classifications"].map(
        lambda m: tuple(sorted(m.items())) if m is not None else ()
    )
    sim_cls = sim_m["classifications"].map(lambda m: tuple(sorted(m.items())))
    assert (eng_cls == sim_cls).all()


def test_politeness_budget(crawl_state):
    """Per-(round, host) schedules, derived from results (one row per
    scheduled url), stay within the host budget."""
    last = crawl_state.read_manifest()["last_round"]
    hm = crawl_state.read_all("results", last).groupBy("round", "host").agg(
        F.count(F.lit(1)).alias("n_scheduled")).toPandas()
    assert len(hm) > 0
    assert (hm["n_scheduled"] <= CFG.host_budget).all()


def _gate_lineage_want(res: pd.DataFrame, excluded: set[str]) -> dict:
    """A round's country and excluded lineage as ``(url, src_url)``
    multisets, recomputed from its committed results: unflagged rows
    within the depth bound, links exploded and canonicalized, then the
    reference's country rule, then the excluded domains."""
    want = {STAGE_COUNTRY: Counter(), STAGE_EXCLUDED: Counter()}
    for row in res.itertuples():
        if row.filtered or row.crawl_depth + 1 > CFG.max_depth:
            continue
        for raw in row.links if row.links is not None else ():
            if raw is None:
                continue
            url = canonical_url_py(raw)
            if not keep_url(url, CFG.country_code):
                want[STAGE_COUNTRY][(url, row.url)] += 1
            elif canonical_host_py(url) in excluded:
                want[STAGE_EXCLUDED][(url, row.url)] += 1
    return want


def test_round_counters_match_tables_and_golden(crawl_state, golden,
                                                corpus_dir):
    """Every round's metrics counters agree with the rows the round
    committed and with the reference trace, and its country and excluded
    lineage with a recomputation from its results."""
    excluded = {
        d for doms in pd.read_parquet(
            f"{corpus_dir}/excluded_hosts.parquet")["domains"]
        for d in doms
    }
    totals = Counter()
    last = crawl_state.read_manifest()["last_round"]
    assert last == len(golden["rounds"]) - 1
    for rnd, g in enumerate(golden["rounds"]):
        lin = crawl_state.read("lineage", rnd).toPandas()
        res = crawl_state.read("results", rnd).select(
            "url", "filtered", "crawl_depth", "links").toPandas()
        for stage, want in _gate_lineage_want(res, excluded).items():
            got = Counter(zip(lin.url[lin.stage == stage],
                              lin.src_url[lin.stage == stage]))
            assert got == want, (rnd, stage)
            totals[stage] += len(got)
        m = crawl_state.read("metrics", rnd).first()
        stages = dict(crawl_state.read("lineage", rnd).groupBy("stage")
                      .count().collect())
        assert m["n_frontier"] == (
            m["n_scheduled"] + m["n_deferred"] + m["n_blocked"]), rnd
        assert m["n_scheduled"] == crawl_state.read("results", rnd).count()
        assert m["n_scheduled"] == len(g["new"]), rnd
        assert m["n_blocked"] == stages.get(STAGE_ROBOTS, 0), rnd
        assert m["n_blocked"] == len(g["blocked"]), rnd
        assert m["n_deferred"] == g["n_deferred"], rnd
        assert m["n_enqueued"] == stages.get("enqueued", 0), rnd
        # each fetched url counted once
        assert m["urls_per_sec"] == pytest.approx(
            m["n_scheduled"] / m["elapsed_sec"]), rnd
    assert totals[STAGE_COUNTRY] > 0 and totals[STAGE_EXCLUDED] > 0, totals


def test_robots_respected(crawl_state, spark, corpus_dir):
    last = crawl_state.read_manifest()["last_round"]
    res = crawl_state.read_all("results", last)
    robots = spark.read.parquet(f"{corpus_dir}/robots.parquet")
    disallowing = [
        r["host"] for r in robots.collect() if list(r["disallow_prefixes"])
    ]
    fetched_private = res.where(
        F.col("host").isin(disallowing) & F.col("url").contains("/private/")
    ).count()
    assert fetched_private == 0
    # and the blocks are recorded in lineage
    lin = crawl_state.read_all("lineage", last)
    assert lin.where(F.col("stage") == STAGE_ROBOTS).count() > 0


def test_resume_exactness(spark, corpus_dir, tmp_path_factory, crawl_state):
    """Kill after round 1, resume → identical seen set + results
    (north_rule: 'resumes exactly')."""
    root = str(tmp_path_factory.mktemp("crawl_resume"))
    run_crawl(spark, corpus_dir, root, CFG, max_rounds=2)
    state2 = run_crawl(spark, corpus_dir, root, CFG, max_rounds=ROUNDS)
    last = crawl_state.read_manifest()["last_round"]
    assert state2.read_manifest()["last_round"] == last

    a = crawl_state.read_all("results", last).toPandas()
    b = state2.read_all("results", last).toPandas()
    key = ["round", "url"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b)
    for col in ("url", "round", "filtered", "filtered_at_stage",
                "product_name", "probability"):
        assert (a[col].fillna("∅") == b[col].fillna("∅")).all(), col

    seen_a = {r[0] for r in crawl_state.read_all("seen", last).select("url").collect()}
    seen_b = {r[0] for r in state2.read_all("seen", last).select("url").collect()}
    assert seen_a == seen_b


def test_crash_mid_round_resume(spark, corpus_dir, tmp_path_factory, crawl_state):
    """Crash AFTER some round-K tables landed but BEFORE the manifest
    commit → resume reruns round K, overwriting partials; final state is
    identical to the uninterrupted run (atomic-manifest guarantee)."""
    import shutil

    root = str(tmp_path_factory.mktemp("crawl_crash"))
    run_crawl(spark, corpus_dir, root, CFG, max_rounds=2)

    # simulate a crash during round 2: partial (corrupt) table data is on
    # disk for round 2 but the manifest still says last_round == 1
    import os
    partial = os.path.join(root, "results", "round=00002")
    os.makedirs(partial, exist_ok=True)
    with open(os.path.join(partial, "part-corrupt.parquet"), "w") as f:
        f.write("garbage — crashed mid-write")

    state2 = run_crawl(spark, corpus_dir, root, CFG, max_rounds=ROUNDS)
    last = crawl_state.read_manifest()["last_round"]
    assert state2.read_manifest()["last_round"] == last

    a = crawl_state.read_all("results", last).toPandas()
    b = state2.read_all("results", last).toPandas()
    a = a.sort_values(["round", "url"]).reset_index(drop=True)
    b = b.sort_values(["round", "url"]).reset_index(drop=True)
    assert len(a) == len(b)
    assert (a["url"] == b["url"]).all()
    assert (a["filtered"].astype(bool) == b["filtered"].astype(bool)).all()


def test_seen_fill_ratio_is_max_bloom_load(crawl_state):
    """A round's seen_fill_ratio (observed on its bloom write) equals the
    max n_items/capacity of that round's committed bloom table."""
    last = crawl_state.read_manifest()["last_round"]
    for rnd in range(last + 1):
        got = crawl_state.read("metrics", rnd).first()["seen_fill_ratio"]
        want = crawl_state.read("bloom", rnd).select(
            F.max(F.col("n_items") / F.col("capacity"))
        ).first()[0]
        assert want > 0
        assert got == want, f"round {rnd}"


# literals no other test's crawl uses (ints are inlined into generated
# code), so the first crawl's plans are new to the JVM whatever ran before
WARM_CFG = CrawlConfig(host_budget=6, max_depth=2, seen_partitions=16,
                       salt_shards=3, probability_threshold=0.11)


def test_warm_crawl_compiles_nothing(spark, corpus_dir, tmp_path_factory):
    """The second of two identical crawls in one JVM compiles almost no
    class: the codegen cache (session.get_spark) holds the crawl's whole
    plan set, so rounds do not evict each other's classes."""
    counts = []
    for i in range(2):
        root = str(tmp_path_factory.mktemp(f"warm_crawl_{i}"))
        state = run_crawl(spark, corpus_dir, root, WARM_CFG, max_rounds=2)
        m = state.read_all("metrics", 1).toPandas()
        assert len(m) == 2
        assert m["n_codegen_compiles"].notna().all()
        counts.append(int(m["n_codegen_compiles"].sum()))
    assert counts[1] < counts[0] / 10, counts


def test_round_records_jit_compile_time(crawl_state):
    """Every round's metrics row records the seconds the JVM's JIT spent
    compiling during the round (session.jit_compile_s), beside
    n_codegen_compiles."""
    last = crawl_state.read_manifest()["last_round"]
    m = crawl_state.read_all("metrics", last).toPandas()
    assert len(m) == last + 1
    assert (m["jit_compile_s"] >= 0).all(), m["jit_compile_s"].tolist()


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_already_seen_frontier_url_fails_round(spark, corpus_dir,
                                               tmp_path_factory, kind):
    """The round's claim is insert-only because no frontier url is already
    seen. A frontier that breaks this must fail the round loudly before
    its commit, not log the url as a previous-run duplicate."""
    from fraudcrawler_spark.frontier.seen import SeenClaimError

    cfg = CrawlConfig(host_budget=8, max_depth=2, seen_filter_kind=kind)
    root = str(tmp_path_factory.mktemp(f"claim_check_{kind}"))
    state = run_crawl(spark, corpus_dir, root, cfg, max_rounds=1)
    assert state.read_manifest()["last_round"] == 0

    # rewrite the committed round-1 frontier: add a url round 0 claimed,
    # at a priority that schedules it first on its host
    old = state.read("frontier", 1)
    schema, rows = old.schema, old.toPandas()
    claimed = state.read("results", 0).select("url", "host").first()
    assert claimed["url"] not in set(rows["url"])
    rows = pd.concat([rows, pd.DataFrame([{
        "url": claimed["url"], "host": claimed["host"],
        "priority": -1, "crawl_depth": 1,
    }])], ignore_index=True)
    state.write("frontier", 1, spark.createDataFrame(rows, schema=schema))

    with pytest.raises(SeenClaimError):
        run_crawl(spark, corpus_dir, root, cfg, max_rounds=2)
    assert state.read_manifest()["last_round"] == 0


TTL_CFG = CrawlConfig(host_budget=8, max_depth=2, seen_filter_kind="cuckoo",
                      recrawl_after_rounds=1)


@pytest.fixture(scope="module")
def ttl_golden(corpus_dir):
    return simulate_crawl(corpus_dir, TTL_CFG, max_rounds=ROUNDS)


class _Crash(RuntimeError):
    pass


@pytest.mark.parametrize("table, round_arg", [
    ("retired", 2),   # the retire delta of round 2
    ("seen", 2),      # round 2's claim delta
    ("bloom", 2),     # after round 2's seen delta has landed
    ("results", 2),
    ("lineage", 2),
    ("metrics", 2),
    ("frontier", 3),  # round 2's last write before its commit
    ("manifest", 2),  # inside CrawlState.commit(2), before the rename
])
def test_ttl_crash_at_state_write_resumes_exactly(
        spark, corpus_dir, tmp_path_factory, monkeypatch, ttl_golden,
        table, round_arg):
    """A TTL crawl that crashes at a state write of round 2 and is resumed
    claims, retires and ends up seeing exactly what the reference does."""
    import json

    from fraudcrawler_spark.frontier import checkpoint
    from fraudcrawler_spark.frontier.checkpoint import CrawlState
    from fraudcrawler_spark.frontier.crawl import _effective_seen

    write, replace = CrawlState.write, checkpoint.os.replace

    def crashing_write(self, t, round_no, df, **kw):
        if (t, round_no) == (table, round_arg):
            raise _Crash(f"crash at write of {t} {round_no}")
        return write(self, t, round_no, df, **kw)

    def crashing_replace(src, dst):
        if dst.endswith("manifest.json"):
            with open(src) as f:
                if json.load(f)["last_round"] == round_arg:
                    raise _Crash(f"crash in commit of round {round_arg}")
        return replace(src, dst)

    root = str(tmp_path_factory.mktemp(f"ttl_crash_{table}"))
    if table == "manifest":
        monkeypatch.setattr(checkpoint.os, "replace", crashing_replace)
    else:
        monkeypatch.setattr(CrawlState, "write", crashing_write)
    with pytest.raises(_Crash):
        run_crawl(spark, corpus_dir, root, TTL_CFG, max_rounds=ROUNDS)
    monkeypatch.undo()

    crashed = CrawlState(spark, root)
    assert crashed.read_manifest()["last_round"] == 1
    if table == "bloom":
        assert crashed.exists("seen", 2)

    state = run_crawl(spark, corpus_dir, root, TTL_CFG, max_rounds=ROUNDS)
    last = state.read_manifest()["last_round"]
    assert last == len(ttl_golden["rounds"]) - 1
    for rnd, g in enumerate(ttl_golden["rounds"]):
        res = state.read("results", rnd).select(
            "url", "priority", "crawl_depth", "host"
        ).toPandas()
        got = [r["url"] for r in sorted(res.to_dict("records"), key=_order_key)]
        assert got == g["new"], f"round {rnd} claims"
        ret = sorted(
            r[0] for r in state.read("retired", rnd).select("url").collect()
        ) if state.exists("retired", rnd) else []
        assert ret == sorted(g["retired"]), f"round {rnd} retires"
    assert ttl_golden["rounds"][2]["retired"]
    seen = {r[0] for r in _effective_seen(state, last).select("url").collect()}
    assert seen == ttl_golden["seen_set"]


@pytest.mark.parametrize("cfg", [CFG, TTL_CFG], ids=["bloom", "cuckoo_ttl"])
def test_one_segment_pass_per_round(spark, corpus_dir, tmp_path_factory,
                                    monkeypatch, cfg):
    """A round applies its retires, claims and candidate probes to the
    seen segments in ONE Python cogroup, Bloom and cuckoo+TTL alike."""
    from pyspark.sql.group import GroupedData

    from fraudcrawler_spark.frontier import crawl

    calls, per_round = [0], {}
    cogroup, run_round = GroupedData.cogroup, crawl.run_round

    def counting_cogroup(self, other):
        calls[0] += 1
        return cogroup(self, other)

    def counted_round(spark_, state, round_no, *args, **kwargs):
        calls[0] = 0
        out = run_round(spark_, state, round_no, *args, **kwargs)
        per_round[round_no] = calls[0]
        return out

    monkeypatch.setattr(GroupedData, "cogroup", counting_cogroup)
    monkeypatch.setattr(crawl, "run_round", counted_round)
    root = str(tmp_path_factory.mktemp("one_pass"))
    state = run_crawl(spark, corpus_dir, root, cfg, max_rounds=2)
    assert state.read_manifest()["last_round"] == 1
    if cfg.recrawl_after_rounds is not None:
        assert state.exists("retired", 1)  # round 1 retires round 0's claims
    assert per_round == {0: 1, 1: 1}


def test_salting_bounds_skew(spark, corpus_dir):
    """Zipf-head hosts split across salt cells: the widest (host, salt)
    cell is ~1/s of the widest host (the straggler-killer property)."""
    import zlib

    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet").toPandas()
    hosts = pages["url"].str.extract(r"^https://([^/]+)")[0]
    by_host = hosts.value_counts()
    biggest = by_host.index[0]
    urls = pages.loc[hosts == biggest, "url"]
    s = 4
    cells = urls.map(lambda u: zlib.crc32(u.encode()) % s).value_counts()
    assert by_host.iloc[0] > 100  # the corpus really is skewed
    assert cells.max() <= by_host.iloc[0] / s * 1.5  # ~uniform split


def test_empty_seed_crawl(spark, tmp_path_factory):
    """No matching seeds → empty frontier → crawl terminates cleanly."""
    import os

    import pandas as pd

    from fraudcrawler_spark.datagen import write_corpus

    d = str(tmp_path_factory.mktemp("empty_corpus"))
    write_corpus(d, 300)
    # overwrite seeds with a term that matches nothing
    pd.DataFrame(
        [{"search_term": "nomatch", "search_term_type": "initial",
          "num_results": 5, "language_code": "de", "location_code": "ch",
          "priority": 0}]
    ).to_parquet(os.path.join(d, "seeds.parquet"), index=False)
    root = str(tmp_path_factory.mktemp("empty_state"))
    state = run_crawl(spark, d, root, CFG, max_rounds=3)
    assert state.read_manifest()["last_round"] == -1
    assert state.read("frontier", 0).count() == 0


def test_crawl_path_imports_no_conformance_catalog():
    """The crawl path reads on its own: no module in it imports the
    conformance catalog or the registry, function-local imports included.
    The oracled entries that share the crawl's helpers import them from
    the crawl path, so they check the engine's own code."""
    import ast
    import pathlib

    from fraudcrawler_spark import conformance_net
    from fraudcrawler_spark.frontier import politeness
    from fraudcrawler_spark.functions import urls

    pkg = pathlib.Path(urls.__file__).parents[1]
    paths = [
        *(pkg / "frontier").glob("*.py"),
        *(pkg / "operators").glob("*.py"),
        *(pkg / "functions").glob("*.py"),
        *(pkg / f"{m}.py" for m in (
            "pipeline", "catalog", "session", "config", "datagen")),
    ]
    bad = []
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            else:
                continue
            bad += [
                f"{path.relative_to(pkg)}:{node.lineno} {n}" for n in names
                if n.startswith("fraudcrawler_spark.conformance")
                or n == "fraudcrawler_spark.registry"
            ]
    assert len(paths) > 20 and not bad, bad

    assert conformance_net.url_template_expr is urls.url_template_expr
    assert conformance_net.resolve_redirect_map is urls.resolve_redirect_map
    assert conformance_net.host_latency_stats is politeness.host_latency_stats
