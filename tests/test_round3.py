"""Round-3 pins: JVM-hashed seen kernels, xxhash64 twin, recrawl/TTL.

The hot-path contract (VERDICT r2 item 2): membership hashing moved from
per-url blake2b in Python to a JVM-computed ``F.xxhash64(url)`` column +
vectorized numpy kernels. These tests pin (a) the pure-Python XXH64 twin
bit-identical to Spark, (b) string-API and hashed-API segment paths agree
(a segment built on one path answers correctly on the other), (c) no
``hashlib`` call remains in the segment kernels.
"""

from __future__ import annotations

import inspect

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fraudcrawler_spark.frontier import bloom as bloom_mod
from fraudcrawler_spark.frontier import cuckoo as cuckoo_mod
from fraudcrawler_spark.frontier.bloom import (
    BloomSegment,
    hash_urls,
    series_u64,
    xxhash64_py,
)
from fraudcrawler_spark.frontier.cuckoo import CuckooSegment

URLS = [f"https://shop-{i % 17}.example.net/p/{i}?ref=r{i % 5}" for i in range(500)]
OTHERS = [f"https://other-{i}.example.org/q/{i}" for i in range(500)]


def test_xxhash64_py_matches_spark(spark):
    """The Python twin must be bit-identical to F.xxhash64 — this is what
    lets the string API (tests/simulator) and the JVM-hashed hot path
    build/probe the same segment bits."""
    samples = ["", "a", "abc", "x" * 7, "x" * 8, "x" * 31, "x" * 32,
               "x" * 100, "é-ünïcode-☃"] + URLS[:50]
    got = dict(
        spark.createDataFrame([(s,) for s in samples], ["s"])
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    )
    for s in samples:
        py = xxhash64_py(s.encode("utf-8"))
        py_signed = py - (1 << 64) if py >= (1 << 63) else py
        assert py_signed == got[s], f"xxhash64 mismatch for {s!r}"


def test_series_u64_roundtrip():
    vals = [0, 1, -1, 2**63 - 1, -(2**63), 42]
    u = series_u64(pd.Series(vals, dtype="int64"))
    assert u.dtype == np.uint64
    assert int(u[2]) == 2**64 - 1  # -1 reinterpreted, not converted


@pytest.mark.parametrize("seg_cls", [BloomSegment, CuckooSegment])
def test_string_and_hashed_paths_agree(seg_cls):
    """Build via add_many (Python twin hash), probe via contains_hashed
    (what the JVM column feeds) and vice versa — same bits, same answers."""
    a = seg_cls(4096)
    a.add_many(URLS)
    h = hash_urls(URLS)
    assert a.contains_hashed(h).all()

    b = seg_cls(4096)
    b.add_hashed(h)
    assert b.contains_many(URLS).all()
    assert a.to_bytes() == b.to_bytes()
    # definite-negative guarantee holds on the hashed path too
    fp = b.contains_hashed(hash_urls(OTHERS)).mean()
    assert fp < 0.05


def test_no_hashlib_in_segment_kernels():
    """VERDICT r2 'What's wrong #2' done-criterion: the probe/claim kernels
    contain no per-url hashlib call."""
    from fraudcrawler_spark.frontier import seen as seen_mod

    for mod in (bloom_mod, cuckoo_mod, seen_mod):
        src = inspect.getsource(mod)
        assert "import hashlib" not in src, f"{mod.__name__} imports hashlib"
        assert "hashlib." not in src, f"{mod.__name__} calls hashlib"


def test_jvm_hash_column_feeds_segment(spark):
    """End-to-end: xxhash64 column computed by Spark probes a segment built
    from the Python twin — positions must line up exactly."""
    seg = BloomSegment(4096)
    seg.add_many(URLS[:100])
    pdf = (
        spark.createDataFrame([(u,) for u in URLS[:100] + OTHERS[:100]], ["url"])
        .withColumn("h1", F.xxhash64("url"))
        .toPandas()
    )
    hit = seg.contains_hashed(series_u64(pdf["h1"]))
    assert hit[:100].all()          # every member found via JVM hash
    assert hit[100:].mean() < 0.05  # others nearly all definite-negative


def test_cuckoo_from_bytes_capacity_mismatch_raises():
    """ADVICE r2: survive `python -O` — ValueError, not assert."""
    seg = CuckooSegment(1 << 12)
    seg.add_many(URLS[:10])
    data = seg.to_bytes()
    with pytest.raises(ValueError, match="buckets"):
        CuckooSegment.from_bytes(data, capacity=1 << 16)


def test_cuckoo_delete_hashed_roundtrip():
    seg = CuckooSegment(4096)
    h = hash_urls(URLS)
    seg.add_hashed(h)
    assert seg.delete_hashed(h[:100]).all()
    assert not seg.contains_hashed(h[:100]).any()
    assert seg.contains_hashed(h[100:]).all()


def test_robots_named_agent_star_fallback(spark):
    """ADVICE r2: RFC 9309 fallback — a named agent that matches no group
    falls back to the '*' groups; a host WITH a named group ignores '*'."""
    from fraudcrawler_spark.frontier.politeness import robots_from_txt

    txt_star_only = "User-agent: *\nDisallow: /private/\nCrawl-delay: 2\n"
    txt_both = (
        "User-agent: fraudbot\nDisallow: /fb-only/\n\n"
        "User-agent: *\nDisallow: /everyone/\n"
    )
    txt_other = "User-agent: otherbot\nDisallow: /\n"
    raw = spark.createDataFrame(
        pd.DataFrame({
            "host": ["star.ch", "both.ch", "other.ch"],
            "robots_txt": [txt_star_only, txt_both, txt_other],
        })
    )
    dim = {r["host"]: r for r in robots_from_txt(raw, "FraudBot").collect()}
    # no fraudbot group on star.ch → '*' group applies (the fallback)
    assert dim["star.ch"]["disallow_prefixes"] == ["/private/"]
    assert dim["star.ch"]["crawl_delay_ms"] == 2000
    # named group exists → '*' group is NOT merged in (RFC: most specific wins)
    assert dim["both.ch"]["disallow_prefixes"] == ["/fb-only/"]
    # neither the named agent nor '*' → unconstrained
    assert "other.ch" not in dim
    # default '*' caller: unchanged behavior (star group, named-only ignored)
    dim_star = {r["host"]: r for r in robots_from_txt(raw).collect()}
    assert dim_star["both.ch"]["disallow_prefixes"] == ["/everyone/"]
    assert "other.ch" not in dim_star


def test_bpe_real_twin_and_divergence(spark):
    """Real-BPE (VERDICT r2 item 4): the JVM replace-chain expression equals
    the Python twin everywhere, and diverges from the regex proxy on
    merge-heavy text (done-criterion)."""
    from pyspark.sql import Row

    from fraudcrawler_spark.functions.bpe import (
        BPE_MERGES,
        bpe_count_expr,
        bpe_count_py,
        bpe_units_py,
    )

    assert len(BPE_MERGES) >= 32
    texts = [
        "the window scanner ran 42 times!",
        "",
        "zzz qqq xyxyxy",                       # unmerged letters
        "window window window",                 # fully-merged word
        "a1b2c3 -- punct... and; digits 000",
        "Mixed CASE Window wInDoW",             # case-sensitive merges
    ]
    df = spark.createDataFrame([Row(text=t) for t in texts]).select(
        "text", bpe_count_expr(F.col("text")).alias("n")
    )
    got = {r["text"]: r["n"] for r in df.collect()}
    for t in texts:
        assert got[t] == bpe_count_py(t), f"twin mismatch on {t!r}"

    # divergence from the proxy: a split word costs more than one unit
    assert bpe_units_py("window") == ["window"]          # merged to 1 unit
    assert len(bpe_units_py("qqqzz")) == 5               # no merges apply
    proxy_runs = 1                                       # 'qqqzz' is 1 run
    assert bpe_count_py("qqqzz") == 5 > proxy_runs


def test_ann_ivf_lloyd_recall(spark, sf_dir):
    """VERDICT r2 item 5: learned centroids (Lloyd) — recall@5 vs exact
    brute force over the same query/db ranges must clear 0.5."""
    import duckdb

    from fraudcrawler_spark import conformance_ml as m

    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in m.q_ann_ivf(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{sf_dir}/embeddings.parquet'"
    )
    bf = con.sql(f"""
        WITH ex AS (
          SELECT vec_id::BIGINT AS vec_id, i - 1 AS pos, embedding[i]::DOUBLE AS val
          FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
          WHERE vec_id < {m._IVF_Q_MAX}
        ),
        norms AS (SELECT vec_id, sqrt(SUM(val * val)) AS norm FROM ex GROUP BY vec_id),
        qd AS (
          SELECT q.vec_id AS q, d.vec_id AS d,
                 ROUND(SUM(q.val * d.val) / (nq.norm * nd.norm), 4) AS cos
          FROM ex q JOIN ex d USING (pos)
          JOIN norms nq ON nq.vec_id = q.vec_id
          JOIN norms nd ON nd.vec_id = d.vec_id
          WHERE q.vec_id >= {m._IVF_Q_MIN}
            AND d.vec_id >= {m._IVF_DB_MIN} AND d.vec_id < {m._IVF_DB_MAX}
          GROUP BY q.vec_id, d.vec_id, nq.norm, nd.norm
        )
        SELECT q, d FROM (
          SELECT q, d, ROW_NUMBER() OVER (PARTITION BY q ORDER BY cos DESC, d ASC) AS rn
          FROM qd
        ) WHERE rn <= 5
    """).fetchall()
    bf_set = set(bf)
    recall = len(ivf & bf_set) / len(bf_set)
    print(f"IVF-Lloyd recall@5 = {recall:.3f}")
    assert recall >= 0.5, f"recall@5 {recall:.3f} below floor"


def test_recrawl_ttl_cuckoo(spark, corpus_dir, tmp_path_factory):
    """VERDICT r2 item 6: recrawl/TTL end-to-end — a url fetched in round 0
    is retired after `recrawl_after_rounds` rounds (cuckoo delete_many on
    the hot path) and fetched AGAIN; the Bloom backend refuses retire."""
    from fraudcrawler_spark.config import CrawlConfig
    from fraudcrawler_spark.frontier.crawl import run_crawl
    from fraudcrawler_spark.frontier.seen import SeenStore

    root = str(tmp_path_factory.mktemp("recrawl_state"))
    cfg = CrawlConfig(
        host_budget=8, max_depth=1, seen_filter_kind="cuckoo",
        recrawl_after_rounds=2,
    )
    state = run_crawl(spark, corpus_dir, root, cfg, max_rounds=4)
    last = state.read_manifest()["last_round"]
    assert last >= 2, "crawl must reach the expiry round"

    r0 = {r[0] for r in state.read("results", 0).select("url").collect()}
    r2 = {r[0] for r in state.read("results", 2).select("url").collect()}
    refetched = r0 & r2
    assert refetched, "round-0 urls must be re-fetched at round 2 (TTL)"
    # recurring: the re-claims land in round-2's seen delta
    seen_r2 = {r[0] for r in state.read("seen", 2).select("url").collect()}
    assert refetched <= seen_r2

    # Bloom backend refuses (deleting shared bits would corrupt members)
    bloom_store = SeenStore(spark, partitions=4, filter_kind="bloom")
    urls = spark.createDataFrame([("https://a.ch/x",)], ["url"])
    bloom_store.add(urls)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cuckoo"):
        bloom_store.retire(urls)


@pytest.mark.parametrize("name,n_rows,golden_md5", [
    ("crawl_multimodal", 2000, "02f872e54cdfef57d614e0e669971003"),
    ("crawl_frames", 2000, "b0e1f7ef6c2c408e114607de583db25a"),
    ("streaming_ingest", 2000, "6f94ae54b6e1c76c8f9938047c21aa85"),
])
def test_rows_only_golden_value_hash(spark, name, n_rows, golden_md5):
    """VERDICT r2 'What's missing #1' / r4 item 2: the former rows-only
    trio keeps its committed order-insensitive VALUE hash over the
    deterministic seed-42 corpus ON TOP of the full DuckDB oracles it
    gained in r5 (test_conformance) — a cross-version drift pin that
    doesn't depend on DuckDB. (streaming_ingest hash updated in r5:
    warc_ts is now epoch seconds and the stream drains two copies.)"""
    import hashlib
    import math

    from fraudcrawler_spark.registry import REGISTRY

    _ROWS_ONLY = {k: REGISTRY[k][0] for k in (
        "crawl_multimodal", "crawl_frames", "streaming_ingest")}

    def norm_cell(v):
        if v is None:
            return "∅"
        if isinstance(v, bool):
            return str(v)
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.4f}"
        return str(v)

    df = _ROWS_ONLY[name](spark, "/root/testdata/sf0.001")
    cols = sorted(df.columns)
    rows = sorted(tuple(norm_cell(r[c]) for c in cols) for r in df.collect())
    assert len(rows) == n_rows
    h = hashlib.md5("\n".join("|".join(r) for r in rows).encode()).hexdigest()
    assert h == golden_md5, f"{name}: value hash drifted"


def test_spark_submit_py_files_packaging(corpus_dir, tmp_path):
    """north_rule packaging clause: the job ships via `spark-submit
    --py-files fraudcrawler_spark.zip`. Zip the package, launch the demo
    driver from a NEUTRAL cwd (so the zip — not the repo checkout — is
    the import source), assert the crawl commits rounds."""
    import os
    import shutil
    import subprocess
    import zipfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "fraudcrawler_spark")
    zpath = str(tmp_path / "fraudcrawler_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, repo))
    state = str(tmp_path / "state")
    submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [submit, "--master", "local[4]", "--py-files", zpath,
         os.path.join(repo, "launch_demo_crawl.py"), corpus_dir, state, "2"],
        capture_output=True, text=True, cwd=str(tmp_path), env=env,
        timeout=900,
    )
    assert r.returncode == 0, f"spark-submit failed:\n{r.stderr[-2000:]}"
    manifest = os.path.join(state, "manifest.json")
    assert os.path.exists(manifest), "crawl must commit a manifest"
    import json

    m = json.load(open(manifest))
    assert m["last_round"] >= 1


def test_simhash64_banded_lossless_and_no_cartesian(spark, sf_dir):
    """64-bit simhash banding: pigeonhole-lossless vs all-pairs, and the
    banded plan contains no CartesianProduct (the 16-bit banding divides
    quadratic candidate mass by only 16; 16-bit band KEYS give 65k-value
    buckets — the scale-correct shape)."""
    from fraudcrawler_spark import conformance_ml as m

    sh = m.q_dedup_simhash64(spark, sf_dir).where(F.col("doc_id") < 300)
    sh = sh.localCheckpoint()
    banded = m.simhash64_pairs_banded(sh)
    allp = m.simhash64_pairs_allpairs(sh)
    got = {tuple(r) for r in banded.collect()}
    want = {tuple(r) for r in allp.collect()}
    assert got == want and len(want) > 0
    plan = banded._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_recrawl_ttl_survives_resume(spark, corpus_dir, tmp_path_factory):
    """TTL × checkpoint/resume: killing the crawl mid-way and resuming
    must produce the same per-round result sets as the uninterrupted run
    — the retire/re-claim state (deleted fingerprints + new seen deltas)
    lives in the round checkpoints."""
    from fraudcrawler_spark.config import CrawlConfig
    from fraudcrawler_spark.frontier.crawl import run_crawl

    cfg = CrawlConfig(host_budget=8, max_depth=1, seen_filter_kind="cuckoo",
                      recrawl_after_rounds=2)

    root_a = str(tmp_path_factory.mktemp("ttl_uninterrupted"))
    sa = run_crawl(spark, corpus_dir, root_a, cfg, max_rounds=4)

    root_b = str(tmp_path_factory.mktemp("ttl_resumed"))
    run_crawl(spark, corpus_dir, root_b, cfg, max_rounds=2)   # "crash" here
    sb = run_crawl(spark, corpus_dir, root_b, cfg, max_rounds=4)  # resume

    last = sa.read_manifest()["last_round"]
    assert sb.read_manifest()["last_round"] == last
    for rnd in range(last + 1):
        ra = {r[0] for r in sa.read("results", rnd).select("url").collect()}
        rb = {r[0] for r in sb.read("results", rnd).select("url").collect()}
        assert ra == rb, f"round {rnd} diverged after resume"


def test_bpe_properties():
    """BPE invariants: units rejoin to the exact word; count >= proxy run
    count; merges never cross word boundaries."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from fraudcrawler_spark.functions.bpe import bpe_count_py, bpe_units_py

    @settings(max_examples=200, deadline=None)
    @given(st.text(alphabet="abcdefghijklmnopqrstuvwxyzETWS", min_size=0,
                   max_size=24))
    def check_word(w):
        units = bpe_units_py(w)
        assert "".join(units) == w
        if w:
            assert 1 <= len(units) <= len(w)

    check_word()

    @settings(max_examples=100, deadline=None)
    @given(st.text(alphabet="abc XYZ019.,!\n\t-", min_size=0, max_size=80))
    def check_text(t):
        import re

        n = bpe_count_py(t)
        runs = len(re.findall(r"[a-zA-Z]+|[0-9]+|[^\sa-zA-Z0-9]+", t))
        assert n >= runs  # every run yields >= 1 unit

    check_text()


def test_bpe_chain_equals_reference_unit_list_bpe():
    """Review finding (r3): the old single-pipe replace chain matched
    merge patterns ACROSS unit boundaries ('f|i' inside 'f|in'),
    producing out-of-vocab units. Pin the fixed fully-wrapped encoding
    against a reference unit-list BPE (the trainer's apply semantics:
    rules in rank order, greedy left-to-right per rule) over random and
    known-adversarial words."""
    import random

    from fraudcrawler_spark.functions.bpe import BPE_MERGES, bpe_units_py

    def reference_bpe(word):
        sym = list(word)
        for a, b in BPE_MERGES:
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            sym = out
        return sym

    adversarial = ["finp", "finish", "aaa", "aaaa", "window", "scanner",
                   "inin", "erer", "batched", "xinx"]
    rng = random.Random(42)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    words = adversarial + [
        "".join(rng.choice(alpha) for _ in range(rng.randint(1, 20)))
        for _ in range(20000)
    ]
    for w in words:
        assert bpe_units_py(w) == reference_bpe(w), f"BPE mismatch on {w!r}"


def test_effective_seen_subtracts_retires(spark, tmp_path):
    """Review finding (r3): retire() pruning must survive the round
    barrier. _effective_seen: url seen iff last claim round >= last retire
    round — retired-and-not-reclaimed urls are OUT, reclaimed-later urls
    are IN, untouched urls pass through. The due rule reads the same
    state: a seen url is due when last_claim <= round - k, so a url
    retired and not re-claimed since is never retired again, with fixed
    or adaptive periods."""
    from fraudcrawler_spark.config import CrawlConfig
    from fraudcrawler_spark.frontier.checkpoint import CrawlState
    from fraudcrawler_spark.frontier.crawl import _effective_seen, _recrawl_due

    state = CrawlState(spark, str(tmp_path / "st"))
    rows0 = [("u_keep", 0, 0), ("u_retired", 1, 0), ("u_reclaimed", 2, 0),
             ("u_sameround", 3, 0)]
    rows2 = [("u_reclaimed", 2, 2), ("u_sameround", 3, 2)]
    state.write("seen", 0, spark.createDataFrame(
        rows0, "url string, part int, claim_round int"))
    state.write("seen", 2, spark.createDataFrame(
        rows2, "url string, part int, claim_round int"))
    # u_sameround models the TTL flow: retired AND re-claimed in round 2
    # (retire_round == claim_round == 2). The re-claim happens after the
    # retire within the round, so it must stay IN — strict > dropped it
    # (r3 advice: duplicate fetch at round 3).
    state.write("retired", 1, spark.createDataFrame(
        [("u_retired", 1), ("u_reclaimed", 1)], "url string, retire_round int"))
    state.write("retired", 2, spark.createDataFrame(
        [("u_sameround", 2)], "url string, retire_round int"))

    got = {r["url"] for r in _effective_seen(state, 2).collect()}
    assert got == {"u_keep", "u_reclaimed", "u_sameround"}
    # as-of round 1 (before the re-claim) both retirees are out;
    # u_sameround's retire hasn't happened yet
    got1 = {r["url"] for r in _effective_seen(state, 1).collect()}
    assert got1 == {"u_keep", "u_sameround"}

    # due sets read the history before the round: round 2 sees rounds 0-1
    # (u_reclaimed's round-2 claim not yet), round 3 sees rounds 0-2
    want = {
        (1, 2): {"u_keep", "u_sameround"},
        (2, 2): {"u_keep", "u_sameround"},
        (1, 3): {"u_keep", "u_reclaimed", "u_sameround"},
        (2, 3): {"u_keep"},
    }
    # adaptive: u_keep's content never changed, so its period stretches
    # to the 4k cap; u_sameround changed every interval and stays on k
    state.write("digests", 1, spark.createDataFrame(
        [("u_keep", 7, 0), ("u_keep", 7, 1),
         ("u_sameround", 7, 0), ("u_sameround", 8, 1)],
        "url string, content_hash long, obs_round int"))
    for adaptive in (False, True):
        for (k, rnd), urls in want.items():
            cfg = CrawlConfig(seen_filter_kind="cuckoo",
                              recrawl_after_rounds=k,
                              adaptive_recrawl=adaptive)
            due = {r["url"] for r in _recrawl_due(state, rnd, cfg).collect()}
            assert due == (urls - {"u_keep"} if adaptive else urls), \
                (k, rnd, adaptive)
    assert _recrawl_due(state, 1, CrawlConfig(recrawl_after_rounds=2)) is None


def test_ttl_recrawl_no_duplicate_claims(spark, corpus_dir, tmp_path_factory):
    """r3 advice repro: with recrawl_after_rounds=2 over 4 rounds, a
    round-0 url retired+refetched at round 2 must NOT be claimed again at
    round 3 — its seen deltas appear only at its claim rounds (0 and 2),
    never back-to-back. The strict-> _effective_seen filter violated this
    (same-round retire+re-claim fell out of the exact table while the
    cuckoo fingerprint stayed, so round 3's filter-positive failed the
    exact confirm and re-claimed)."""
    from fraudcrawler_spark.config import CrawlConfig
    from fraudcrawler_spark.frontier.crawl import run_crawl

    root = str(tmp_path_factory.mktemp("ttl_dup_state"))
    cfg = CrawlConfig(
        host_budget=8, max_depth=1, seen_filter_kind="cuckoo",
        recrawl_after_rounds=2,
    )
    state = run_crawl(spark, corpus_dir, root, cfg, max_rounds=4)
    per_round: dict[int, set] = {}
    for rnd in range(4):
        if state.exists("seen", rnd):
            per_round[rnd] = {
                r["url"] for r in state.read("seen", rnd).select("url").collect()
            }
    # TTL is 2: a legit re-claim of a round-r url lands at round r+2.
    # Any url claimed at BOTH round r and r+1 is the duplicate bug.
    for rnd, urls in sorted(per_round.items()):
        nxt = per_round.get(rnd + 1, set())
        dup_next = urls & nxt
        assert not dup_next, (
            f"urls claimed at round {rnd} re-claimed at round {rnd + 1} "
            f"(TTL is 2 — back-to-back re-claim is the duplicate bug): "
            f"{sorted(dup_next)[:5]}"
        )


def test_lsh_multi_table_amplification(spark, tmp_path):
    """Multi-table LSH (b=4 × r=12) must recall more planted near-dup
    pairs than the single 8-plane table — the Indyk–Motwani amplification
    the production path exists for. Planted pairs: 50 noisy copies at
    cos ≈ 0.995 (per-plane agreement p ≈ 0.97 ⇒ expected recall ≈
    p^8 ≈ 0.77 single-table vs 1-(1-p^12)^4 ≈ 0.99 multi)."""
    import numpy as np
    import pandas as pd

    from fraudcrawler_spark import conformance_ml as m

    rng = np.random.RandomState(7)
    base = rng.normal(size=(150, 64))
    noisy = base[:50] + 0.07 * rng.normal(size=(50, 64))
    vecs = np.vstack([base, noisy]).astype("float32")
    pdf = pd.DataFrame({
        "vec_id": np.arange(200, dtype="int64"),
        "embedding": [v.tolist() for v in vecs],
    })
    d = str(tmp_path / "sf")
    import os

    os.makedirs(d)
    pdf.to_parquet(os.path.join(d, "embeddings.parquet"), index=False)

    planted = {(i, 150 + i) for i in range(50)}
    single = {(r["a"], r["b"]) for r in m.q_ann_lsh(spark, d, max_vec=200).collect()}
    multi = {(r["a"], r["b"]) for r in m.q_ann_lsh_multi(spark, d, max_vec=200).collect()}
    rec_s = len(single & planted) / len(planted)
    rec_m = len(multi & planted) / len(planted)
    print(f"planted-pair recall: single8={rec_s:.2f} multi4x12={rec_m:.2f}")
    assert rec_m >= 0.9
    assert rec_m >= rec_s


def test_indegree_priority_mode(spark, corpus_dir, tmp_path_factory):
    """priority_mode='indegree': within a depth band, heavily-linked pages
    get lower (earlier) priority; the frontier stays depth-major."""
    from pyspark.sql import functions as F

    from fraudcrawler_spark.config import CrawlConfig
    from fraudcrawler_spark.frontier.crawl import run_crawl

    root = str(tmp_path_factory.mktemp("indeg_state"))
    cfg = CrawlConfig(host_budget=4, max_depth=2, priority_mode="indegree")
    state = run_crawl(spark, corpus_dir, root, cfg, max_rounds=2)

    f1 = state.read("frontier", 1).select("priority", "crawl_depth").collect()
    assert f1
    cands = [r for r in f1 if r["crawl_depth"] >= 1]
    assert cands, "round 0 must enqueue depth-1 candidates"
    for r in cands:
        # priority lives in the depth band [d*1000-999, d*1000-1]
        lo, hi = r["crawl_depth"] * 1000 - 999, r["crawl_depth"] * 1000 - 1
        assert lo <= r["priority"] <= hi, (r["priority"], r["crawl_depth"])
    # deferred seed rows (depth 0) keep their original priority 0
    for r in f1:
        if r["crawl_depth"] == 0:
            assert r["priority"] == 0
    # the corpus link graph has skewed in-degrees — the mode must actually
    # differentiate (not collapse to one priority per depth)
    by_depth = {}
    for r in cands:
        by_depth.setdefault(r["crawl_depth"], set()).add(r["priority"])
    assert any(len(v) > 1 for v in by_depth.values()), by_depth

    # depth mode (default) is untouched: priorities equal crawl_depth
    root2 = str(tmp_path_factory.mktemp("depth_state"))
    state2 = run_crawl(spark, corpus_dir, root2,
                       CrawlConfig(host_budget=4, max_depth=2), max_rounds=2)
    f2 = state2.read("frontier", 1)
    assert f2.where(F.col("priority") != F.col("crawl_depth")).count() == 0


def test_jsonl_sink_roundtrip(spark, sf_dir, tmp_path_factory):
    """jsonl export (gzip NDJSON) round-trips the pipeline output with
    schema preserved when passed explicitly."""
    from pyspark.sql import functions as F

    from fraudcrawler_spark.operators.sink import read_jsonl, write_results

    df = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text", "lang", "source")
        .withColumn("score", F.length("text") / 10.0)
    )
    out = str(tmp_path_factory.mktemp("jsonl") / "docs")
    write_results(df, out, fmt="jsonl")
    back = read_jsonl(spark, out, schema=df.schema)
    assert back.schema == df.schema
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_star_components_deep_graph_converges(spark):
    """r3 verdict item 3: connected components must carry NO diameter
    assumption. A 200-node chain (diameter 199 — far past the old
    8-iteration bound) plus assorted chains of 64 must resolve to exact
    components, verified against driver-side union-find truth, in a
    LOGARITHMIC number of alternating-star rounds."""
    from fraudcrawler_spark.conformance_graph import (
        min_label_components,
        star_components,
    )

    n = 520
    docs = spark.range(n).withColumnRenamed("id", "doc_id")
    # chain breaks at 200 then every 64: components of size 200, 64, ...
    breaks = {0, 200, 264, 328, 392, 456}
    from pyspark.sql import functions as F

    cond = ~F.col("doc_id").isin(*breaks)
    e = docs.where(cond).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") - 1).alias("dst")
    )
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )

    # union-find truth
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for d in range(1, n):
        if d not in breaks:
            ra, rb = find(d), find(d - 1)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    truth = {d: find(d) for d in range(n)}

    stats: dict = {}
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in star_components(docs, edges, stats=stats).collect()
    }
    assert got == truth, "star_components split or merged a component"
    # O(log^2 n) in theory, single digits in practice — a diameter-199
    # chain through min-label propagation would need 199 rounds
    assert stats["rounds"] <= 12, f"expected log-ish rounds, got {stats['rounds']}"

    # the O(diameter) twin now converges too (fingerprint early-exit) on
    # a graph deeper than the old fixed bound, and agrees
    small = spark.range(40).withColumnRenamed("id", "doc_id")
    e2 = small.where(F.col("doc_id") > 0).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") - 1).alias("dst")
    )
    edges2 = e2.unionByName(
        e2.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ml = {r["doc_id"]: r["cluster_id"]
          for r in min_label_components(small, edges2).collect()}
    assert ml == {d: 0 for d in range(40)}


def test_star_components_singletons_and_sizes(spark):
    """Isolated docs are their own canonical singleton cluster; sizes and
    is_canonical flags are exact."""
    from pyspark.sql import functions as F

    from fraudcrawler_spark.conformance_graph import star_components

    docs = spark.range(10).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "src long, dst long"
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    rows = {r["doc_id"]: r for r in star_components(docs, edges).collect()}
    assert rows[1]["cluster_id"] == 1 and rows[3]["cluster_size"] == 3
    assert rows[5]["cluster_id"] == 5 and rows[6]["cluster_size"] == 2
    for d in (0, 4, 7, 8, 9):
        assert rows[d]["cluster_id"] == d and rows[d]["cluster_size"] == 1
        assert rows[d]["is_canonical"]
    assert rows[2]["is_canonical"] is False
