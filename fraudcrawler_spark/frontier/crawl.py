"""Multi-round frontier crawl driver — M2/M3 (SURVEY.md §7).

BFS-style iterated batch rounds (the reference's stage-barrier execution,
orchestrator.py:525-626, generalized to a real frontier): one Spark job
per round, checkpoint commit per round (CrawlState), exact-resume from
the manifest.

Round K dataflow (all DataFrame ops; barriers land on shuffles):

  frontier_K ──schedule (robots + politeness cells)──► scheduled/deferred/blocked
  scheduled ∪ blocked ──SeenStore claim (insert-only; no url is already
      seen, checked against the exact table)──► seen_K delta + segments
  scheduled ──fetch join on pages ──extract kernel──► results_K (+ prob flag + classify)
  results_K(unflagged) ──explode links──canonicalize──country/excluded──►
      candidates ──minus seen──dedup──► frontier_{K+1} = deferred ∪ candidates

Scale notes: the fetch join is an equi-join on url against the pages
table (SMJ at scale; co-partitioned if pages is bucketed by crc32(url));
link expansion shuffles once on url for dedup; the claim insert and the
candidate probe are each one cogroup exchange on the segment partition
key. html:binary is only read inside the fetch join's projection.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraudcrawler_spark.config import CrawlConfig, STAGE_COUNTRY
from fraudcrawler_spark.frontier.bloom import SEEN_HASH_VERSION
from fraudcrawler_spark.frontier.checkpoint import CrawlState
from fraudcrawler_spark.frontier.politeness import STAGE_ROBOTS, schedule_status
from fraudcrawler_spark.frontier.seen import SeenStore, with_part
from fraudcrawler_spark.functions.urls import canonical_host_expr, canonical_url_expr
from fraudcrawler_spark.operators.classify_stage import classify_stage
from fraudcrawler_spark.operators.discover import discover
from fraudcrawler_spark.operators.fetch import fetch_extract
from fraudcrawler_spark.pipeline import prompts_from_dim, read_corpus

STAGE_EXCLUDED = "excluded domain (hard drop)"

FRONTIER_COLS = ["url", "host", "priority", "crawl_depth"]


def _nc(rows: int) -> int | None:
    """File-count discipline for per-round state writes: ~100k rows per
    file, uncapped (None) for huge rounds so no single-task coalesce
    bottleneck appears at scale."""
    return None if rows > 2_000_000 else max(1, rows // 100_000 + 1)


def _par(*thunks) -> None:
    """Run independent Spark actions from driver threads so their jobs
    overlap (optimization guide §2.6): the scheduler back-fills executor
    slots freed by one job's task tail with the next job's tasks. Used
    for the per-round state writes that have no data dependency on each
    other — each write is its own job either way, so failure semantics
    are unchanged (any exception still aborts the round pre-commit)."""
    if len(thunks) == 1:
        thunks[0]()
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
        for f in [ex.submit(t) for t in thunks]:
            f.result()


def _lineage(df: DataFrame, stage: str, src_col: str | None = None) -> DataFrame:
    src = F.col(src_col) if src_col else F.lit(None).cast("string")
    return df.select(
        F.col("url"), F.lit(stage).alias("stage"), src.alias("src_url")
    )


def init_crawl(
    spark: SparkSession,
    corpus_dir: str,
    state_root: str,
    config: CrawlConfig | None = None,
    tables: dict[str, DataFrame] | None = None,
) -> CrawlState:
    """Seed round: discovery → frontier_0; commits manifest at round -1.

    ``tables``: pass the caller's already-built ``read_corpus`` dict to
    skip a second round of parquet footer reads (driver-side metadata,
    ~0.5s per corpus open)."""
    config = config or CrawlConfig()
    t = tables if tables is not None else read_corpus(spark, corpus_dir)
    state = CrawlState(spark, state_root)

    items = discover(
        t["pages"], t["seeds"], hosts=t.get("hosts"),
        excluded_hosts=t.get("excluded_hosts"), country_code=config.country_code,
    ).localCheckpoint()  # discovery feeds BOTH the frontier and the seed
    # lineage writes (overlapped below) — materialize once instead of
    # running the whole pages⨝seeds discovery twice
    flagged = items.where(F.col("filtered"))
    seed_cand = items.where(~F.col("filtered")).select(
        "url",
        canonical_host_expr(F.col("url")).alias("host"),
        F.lit(0).alias("priority"),
        F.lit(0).alias("crawl_depth"),
    )
    # --- opt-in sitemap seeding (config.use_sitemaps): the discovery
    # surface every real crawler consumes next to robots.txt — sitemap-
    # listed urls enter frontier_0 at seed priority, through the SAME
    # country/excluded gates as link candidates. The groupBy below
    # dedupes them against seed discoveries.
    sitemap_cand = None
    if config.use_sitemaps:
        if "sitemaps" not in t:
            raise ValueError(
                "use_sitemaps=True but the corpus has no sitemaps.parquet"
            )
        from fraudcrawler_spark.sources.sitemap import parse_sitemaps

        cc = config.country_code.lower()
        ents = parse_sitemaps(t["sitemaps"]).select(
            F.col("loc").alias("url"),
            canonical_host_expr(F.col("loc")).alias("host"),
            F.lit(0).alias("priority"),
            F.lit(0).alias("crawl_depth"),
        )
        ents = ents.where(
            F.lower(F.col("url")).contains(f".{cc}")
            | F.lower(F.col("url")).contains(".com")
        )
        excl = t.get("excluded_hosts")
        if excl is not None:
            excl_dom = excl.select(F.explode("domains").alias("host")).distinct()
            ents = ents.join(F.broadcast(excl_dom), "host", "left_anti")
        sitemap_cand = ents.select(*FRONTIER_COLS)
        seed_cand = seed_cand.unionByName(sitemap_cand)
    frontier0 = (
        seed_cand.groupBy("url")
        .agg(
            F.first("host").alias("host"),
            F.min("priority").alias("priority"),
            F.min("crawl_depth").alias("crawl_depth"),
        )
        .select(*FRONTIER_COLS)
    )
    seed_lineage = _lineage(flagged, STAGE_COUNTRY)
    if sitemap_cand is not None:
        seed_lineage = seed_lineage.unionByName(
            _lineage(sitemap_cand, "sitemap")
        )
    # frontier_0 and the seed lineage are independent slices of the same
    # discovery output — overlap their writes (§2.6)
    _par(
        lambda: state.write("frontier", 0, frontier0,
                            sort_cols=["priority", "host", "crawl_depth"]),
        lambda: state.write("seed_lineage", 0, seed_lineage.withColumn(
            "round", F.lit(-1))),
    )
    # seen-store layout params are STATE, not config: segments and the seen
    # table are routed by crc32(url) % seen_partitions at write time, so a
    # resume MUST reuse the writing run's values or urls route to the wrong
    # segments (false Bloom negatives → duplicate claims)
    state.commit(-1, {
        "corpus_dir": corpus_dir,
        "seen_partitions": config.seen_partitions,
        "seen_capacity_per_part": config.seen_capacity_per_part,
        "seen_filter_kind": config.seen_filter_kind,
        # membership-hash algorithm baked into the segment bitmaps —
        # resume must refuse a mismatch (false negatives otherwise)
        "seen_hash_version": SEEN_HASH_VERSION,
    })
    return state


def _effective_seen(state: CrawlState, upto: int):
    """The exact seen TABLE as of round ``upto``: union of per-round claim
    deltas MINUS urls whose last retire is STRICTLY more recent than their
    last claim (same-round retire+re-claim stays seen). With no retires ever written (the default, TTL off) this
    is the plain delta union — zero extra cost. With TTL on, only the
    retired url set (small: one expiry round's claims) pays a
    semi/anti-join resolve; untouched urls pass through un-shuffled."""
    seen = state.read_all("seen", upto)
    if seen is None:
        return None
    ret = state.read_all("retired", upto)
    if ret is None:
        # normalized to (part, url): the store unions per-round (part, url)
        # deltas onto this in memory
        return seen.select("part", "url")
    ret_last = ret.groupBy("url").agg(F.max("retire_round").alias("rr"))
    contested = (
        seen.join(ret_last.select("url"), "url", "left_semi")
        .groupBy("part", "url")
        .agg(F.max("claim_round").alias("rc"))
        .join(ret_last, "url")
        # >= not >: the TTL flow retires and RE-CLAIMS in the same round
        # (retire_round == claim_round == N, the claim happens after that
        # round's retire), so an equal round means the url is seen. Strict
        # > dropped it from the exact table while the cuckoo segments kept
        # the re-claimed fingerprint — next round's filter-positive failed
        # the exact confirm and the url was fetched AGAIN (r3 advice).
        .where(F.col("rc") >= F.col("rr"))
        .select("part", "url")
    )
    clean = seen.join(ret_last.select("url"), "url", "left_anti").select(
        "part", "url"
    )
    return clean.unionByName(contested)


def _load_seen(spark: SparkSession, state: CrawlState, upto: int,
               config: CrawlConfig) -> SeenStore:
    """Build the SeenStore for (re)start — ADOPTING the manifest's persisted
    partitioning/bloom params over the caller's config when they disagree
    (the persisted segments are only valid under the params that wrote them)."""
    manifest = state.read_manifest()
    partitions = int(manifest.get("seen_partitions", config.seen_partitions))
    capacity = int(
        manifest.get("seen_capacity_per_part", config.seen_capacity_per_part)
    )
    kind = manifest.get("seen_filter_kind", config.seen_filter_kind)
    store = SeenStore(spark, partitions=partitions, capacity_per_part=capacity,
                      filter_kind=kind)
    if upto >= 0 and state.exists("bloom", upto):
        hv = int(manifest.get("seen_hash_version", 1))
        if hv != SEEN_HASH_VERSION:
            raise ValueError(
                f"seen segments were written with membership-hash v{hv}, "
                f"this engine probes with v{SEEN_HASH_VERSION} — resuming "
                "would produce false negatives (duplicate claims). "
                "Restart the crawl (or rebuild the seen store from the "
                "persisted seen url table)."
            )
        segs = state.read("bloom", upto)
        store.load(segs, _effective_seen(state, upto))
    return store


def _adaptive_recrawl_due(
    state: CrawlState, round_no: int, config: CrawlConfig
) -> DataFrame | None:
    """Change-adaptive recrawl due set (config.adaptive_recrawl): a url
    is due when rounds-since-last-claim ≥ its PERSONAL period — the base
    k stretched up to k·max_factor as its observed change rate drops.
    Rate = Cho & Garcia-Molina's bias-corrected estimator
    r̂ = −ln((n − X + ½)/(n + ½)) over the url's own digest history
    (X changed intervals of n observed); period = clip(k/r̂, k, k·F).
    A url with <2 observations (no interval yet) stays on the base k.

    Intervals are not equal once a url has stretched (k, then up to
    k·F) while the estimator treats them uniformly — the bias is in
    the SAFE direction both ways: an unchanged long interval keeps
    X=0 (already at the cap), and a change observed over a long
    interval overestimates the per-k rate, snapping the url back to
    the base period faster than an exact estimator would.

    Plan: one max-aggregation over the seen deltas (url-partitioned),
    one lag window over the digest history — url-keyed, K-row
    partitions, no skew — and a left join of the two MB-scale
    summaries. Returns None before any claim carries claim_round (fresh
    semantics fall back to the fixed-TTL path).
    """
    from pyspark.sql import Window

    k = config.recrawl_after_rounds
    seen_all = state.read_all("seen", round_no - 1)
    if seen_all is None or "claim_round" not in seen_all.columns:
        return None
    last = seen_all.groupBy("url").agg(
        F.max("claim_round").alias("last_claim")
    )
    est = None
    hist = state.read_all("digests", round_no - 1)
    if hist is not None:
        w = Window.partitionBy("url").orderBy("obs_round")
        ch = hist.select("url", "obs_round", "content_hash").withColumn(
            "changed",
            (F.col("content_hash") != F.lag("content_hash").over(w))
            .cast("int"),
        )
        est = ch.groupBy("url").agg(
            F.sum("changed").alias("x"),
            (F.count(F.lit(1)) - 1).alias("nint"),
        )
    base = float(k)
    cap = float(k * config.adaptive_recrawl_max_factor)
    if est is None:
        due = last.withColumn("period", F.lit(base))
    else:
        rate = -F.log(
            (F.col("nint") - F.col("x") + 0.5) / (F.col("nint") + 0.5)
        )
        period = F.when(
            F.col("nint").isNull() | (F.col("nint") <= 0), F.lit(base)
        ).otherwise(
            F.least(
                F.lit(cap),
                F.greatest(
                    F.lit(base),
                    F.lit(base) / F.greatest(rate, F.lit(1e-9)),
                ),
            )
        )
        due = last.join(est, "url", "left").withColumn(
            "period", F.coalesce(period, F.lit(base))
        )
    return due.where(
        F.col("last_claim") <= F.lit(round_no) - F.col("period")
    ).select("url")


def run_round(
    spark: SparkSession,
    state: CrawlState,
    round_no: int,
    config: CrawlConfig,
    tables: dict[str, DataFrame],
    store: SeenStore,
) -> bool:
    """Execute round ``round_no``; returns False when the frontier is empty."""
    t0 = time.time()
    phase: dict[str, float] = {}

    def _mark(name: str, since: list[float]) -> None:
        now = time.time()
        phase[name] = round(now - since[0], 3)
        since[0] = now

    tick = [time.time()]
    frontier = state.read("frontier", round_no)

    # --- recrawl/TTL: retire urls whose LAST claim was `recrawl_after_rounds`
    # rounds ago (cuckoo backend only — SeenStore.retire raises on Bloom).
    # Retired urls probe filter-negative again, so re-enqueueing them into
    # THIS round's frontier makes them fetch fresh; their re-claim lands in
    # this round's seen delta (with its claim_round), so they expire again k
    # rounds later (recurring recrawl). The retire is PERSISTED as a
    # per-round `retired` delta so the round-barrier/resume seen reload can
    # subtract it (see _effective_seen) — an in-memory-only prune would be
    # resurrected by the next read_all and could permanently drop a
    # fingerprint-collision url from recrawl (r3 review finding).
    if config.recrawl_after_rounds is not None:
        er = round_no - config.recrawl_after_rounds
        cand = None
        if config.adaptive_recrawl:
            cand = _adaptive_recrawl_due(state, round_no, config)
        if cand is None and er >= 0 and state.exists("seen", er):
            cand = state.read("seen", er).select("url").distinct()
            later = state.read_all("seen", round_no - 1)
            if later is not None and "claim_round" in later.columns:
                # urls re-claimed SINCE round er are not due yet
                cand = cand.join(
                    later.where(F.col("claim_round") > er).select("url"),
                    "url", "left_anti",
                )
        if cand is not None:
            # idempotence (r6 advice): a url retired in an EARLIER round
            # that has not been re-claimed since (e.g. its re-enqueue is
            # still deferred by the politeness budget) stays "due" — but
            # retiring it AGAIN would run a second cuckoo delete of the
            # same fingerprint, which can evict a colliding cohabitant's
            # entry (~2^-16 per cohabitant) and spuriously re-fetch that
            # other url. Drop urls whose last retire is not yet followed
            # by a claim.
            ret_all = state.read_all("retired", round_no - 1)
            if ret_all is not None:
                seen_all = state.read_all("seen", round_no - 1)
                ret_last = ret_all.groupBy("url").agg(
                    F.max("retire_round").alias("_rr")
                )
                if seen_all is not None and "claim_round" in seen_all.columns:
                    claim_last = seen_all.groupBy("url").agg(
                        F.max("claim_round").alias("_rc")
                    )
                    # strict >: the TTL flow retires and re-claims in the
                    # SAME round (retire_round == claim_round, claim
                    # last), so equal rounds mean the re-claim happened
                    # and the url is fair game for its next expiry
                    pending = (
                        ret_last.join(claim_last, "url", "left")
                        .where(
                            F.col("_rc").isNull()
                            | (F.col("_rr") > F.col("_rc"))
                        )
                        .select("url")
                    )
                else:
                    pending = ret_last.select("url")
                cand = cand.join(pending, "url", "left_anti")
            expired = cand.localCheckpoint()
            if expired.count() > 0:
                store.retire(expired)
                state.write(
                    "retired", round_no,
                    expired.select("url").withColumn(
                        "retire_round", F.lit(round_no)),
                    ncoalesce=1,
                )
                refresh = expired.join(
                    frontier.select("url"), "url", "left_anti"
                ).select(
                    "url",
                    canonical_host_expr(F.col("url")).alias("host"),
                    F.lit(0).alias("priority"),
                    F.lit(0).alias("crawl_depth"),
                )
                frontier = frontier.unionByName(refresh.select(*FRONTIER_COLS))
    _mark("t_read", tick)

    # --- politeness + robots ------------------------------------------------
    # ONE window pass, materialized once (localCheckpoint truncates lineage
    # so downstream actions don't replay the round DAG), then sliced.
    # n_frontier comes from the status counts — no separate frontier-scan
    # job (every frontier row gets exactly one sched_status).
    sched_st = schedule_status(
        frontier, tables.get("robots"), config.host_budget, config.salt_shards
    ).localCheckpoint()
    sched_counts = {
        r["sched_status"]: r["count"]
        for r in sched_st.groupBy("sched_status").count().collect()
    }
    n_frontier = sum(sched_counts.values())
    if n_frontier == 0:
        return False
    n_scheduled = int(sched_counts.get("scheduled", 0))
    # every scheduled url is new: the claim invariant, checked below
    n_new = n_scheduled
    scheduled = sched_st.where(F.col("sched_status") == "scheduled").drop("sched_status")
    deferred = sched_st.where(F.col("sched_status") == "deferred").drop("sched_status")
    blocked = sched_st.where(F.col("sched_status") == "blocked").drop("sched_status")
    _mark("t_schedule", tick)

    # --- seen claim: insert-only (robots-blocked urls are claimed too, so
    # they never re-enter the frontier) ---------------------------------------
    claimed = store.probe_and_claim(
        scheduled.select("url").unionByName(blocked.select("url"))
    )
    _mark("t_probe", tick)

    # persist claimed delta + segments NOW, then reload the store from
    # parquet — the round barrier that keeps seen-state lineage flat
    # store.partitions (manifest-adopted), NOT config.seen_partitions — the
    # persisted layout wins over whatever the resuming caller passed.
    # The two writes are independent — overlapped (§2.6). The seen-delta
    # write runs the claim's invariant observation; check_claims fails the
    # round before anything commits if a claimed url was already seen.
    _par(
        lambda: state.write("seen", round_no, with_part(
            claimed.select("url"), store.partitions
        ).withColumn("claim_round", F.lit(round_no)), ncoalesce=8),
        lambda: state.write("bloom", round_no, store.segments, ncoalesce=4),
    )
    store.check_claims()
    store.load(state.read("bloom", round_no),
               _effective_seen(state, round_no))
    # segment health: max load factor across Bloom segments (>1.0 ⇒ FP
    # rate past design point; exactness unaffected, resize advised)
    fill = store.segments.select(
        F.max(F.col("n_items") / F.col("capacity")).alias("m")
    ).collect()[0]["m"]
    _mark("t_claim", tick)

    # --- fetch + extract + flag + classify -----------------------------------
    items = (
        scheduled.withColumn("filtered", F.lit(False))
        .withColumn("filtered_at_stage", F.lit(None).cast("string"))
    )
    # auto-fallback: a round scheduling more urls than the broadcast bound
    # must NOT rely on a static flag (10^10-url rounds would OOM the
    # driver) — the scheduled count is already in hand, so decide per round
    bcast = (
        config.fetch_broadcast_urls
        and n_scheduled <= config.fetch_broadcast_max_urls
    )
    fetched = fetch_extract(items, tables["pages"],
                            threshold=config.probability_threshold,
                            broadcast_urls=bcast)
    prompts = config.prompts or (
        prompts_from_dim(tables["prompts"]) if "prompts" in tables else ()
    )
    results = classify_stage(fetched, prompts).withColumn(
        "round", F.lit(round_no)
    )
    # results parquet is both the round output and the barrier for
    # expansion; ncoalesce keeps a small round from writing one tiny
    # file per shuffle partition (32+ files for a 1.5k-row round)
    state.write("results", round_no, results, ncoalesce=_nc(n_new))
    results = state.read("results", round_no)
    if config.adaptive_recrawl:
        # per-url content digest delta: the change signal the adaptive
        # retire step estimates from. Reads the just-written results
        # parquet (no recompute), one xxhash64 projection, tiny output.
        dig = results.where(F.col("fetch_status") == "hit").select(
            "url",
            F.xxhash64(
                F.concat_ws(
                    "\x1f",
                    F.coalesce(F.col("extracted_text"), F.lit("")),
                    F.coalesce(F.col("product_name"), F.lit("")),
                    F.coalesce(
                        F.col("product_price").cast("string"), F.lit("")
                    ),
                )
            ).alias("content_hash"),
            F.lit(round_no).alias("obs_round"),
        )
        state.write("digests", round_no, dig, ncoalesce=4)
    _mark("t_fetch", tick)

    # --- link expansion → next frontier candidates ----------------------------
    # single pass: explode + canonicalize + status-tag (country/excluded/ok),
    # materialized once, then sliced for candidates vs lineage
    cc = config.country_code.lower()
    raw_expanded = (
        results.where(~F.col("filtered"))
        .select(
            F.col("url").alias("src_url"),
            F.col("crawl_depth"),
            F.explode_outer("links").alias("raw_link"),
        )
        .where(F.col("raw_link").isNotNull())
        .select(
            canonical_url_expr(F.col("raw_link")).alias("url"),
            F.col("src_url"),
            (F.col("crawl_depth") + 1).alias("crawl_depth"),
        )
        .where(F.col("crawl_depth") <= F.lit(config.max_depth))
    )
    # --- opt-in 3xx resolution (config.resolve_redirects): candidate urls
    # that are redirect sources are rewritten to their final landing url
    # BEFORE host derivation / gating / dedup (a crawler that enqueues the
    # 301 source re-discovers the same content under two names); loops /
    # over-long chains are dead urls — dropped with lineage 'redirect_loop'.
    # The pointer-doubled map is built once per crawl (run_crawl) and is
    # url-keyed, so this is one hash join per round.
    redirect_map = tables.get("_redirect_map")
    if redirect_map is not None:
        rm = redirect_map.select(
            F.col("src_url").alias("_r_src"),
            F.col("final_url").alias("_r_final"),
            F.col("status").alias("_r_status"),
        )
        raw_expanded = (
            raw_expanded.join(rm, raw_expanded["url"] == rm["_r_src"], "left")
            .withColumn(
                "url",
                F.when(F.col("_r_status") == "ok", F.col("_r_final")).otherwise(
                    F.col("url")
                ),
            )
            .withColumn("_redir_loop",
                        F.col("_r_status") == "too_many_redirects")
            .withColumn("_redirected", F.col("_r_status") == "ok")
            .drop("_r_src", "_r_final", "_r_status")
        )
    else:
        raw_expanded = raw_expanded.withColumn(
            "_redir_loop", F.lit(False)
        ).withColumn("_redirected", F.lit(False))
    raw_expanded = raw_expanded.withColumn(
        "host", canonical_host_expr(F.col("url"))
    )
    keep = F.lower(F.col("url")).contains(f".{cc}") | F.lower(F.col("url")).contains(".com")
    excl = tables.get("excluded_hosts")
    if excl is not None:
        excl_dom = excl.select(F.explode("domains").alias("host")).distinct()
        raw_expanded = raw_expanded.join(
            F.broadcast(excl_dom.withColumn("_excl", F.lit(True))), "host", "left"
        )
    else:
        raw_expanded = raw_expanded.withColumn("_excl", F.lit(None).cast("boolean"))
    # country flag at enqueue (reference F1, serp.py:150-158); excluded
    # domains hard-drop (reference J2, serp.py:244-246)
    raw_expanded = raw_expanded.withColumn(
        "link_status",
        F.when(F.col("_redir_loop"), F.lit("redirect_loop"))
        .when(~keep, F.lit("country"))
        .when(F.col("_excl"), F.lit("excluded"))
        .otherwise(F.lit("ok")),
    ).drop("_excl", "_redir_loop").localCheckpoint()
    country_flagged = raw_expanded.where(F.col("link_status") == "country")
    dropped = raw_expanded.where(F.col("link_status") == "excluded")
    loop_dropped = raw_expanded.where(F.col("link_status") == "redirect_loop")
    expanded = raw_expanded.where(F.col("link_status") == "ok")

    # --- opt-in adaptive trap suppression (config.trap_gate): mine this
    # round's candidate stream for exploding (host, template) cells and
    # drop their members before dedup/enqueue. One extra aggregation over
    # data already checkpointed; the trap dim joins back on the same
    # (host, template) key. Single-variable templates are exempt, so a
    # host's real article space never trips it (conformance_net semantics,
    # shared via url_template_expr).
    n_trap_dropped = 0
    trap_dropped = None
    if config.trap_gate:
        from fraudcrawler_spark.conformance_net import url_template_expr

        expanded = expanded.withColumn(
            "_template", url_template_expr(F.col("url"))
        )
        n_var = F.length("_template") - F.length(
            F.regexp_replace("_template", r"[NV]", "")
        )
        traps = (
            expanded.groupBy("host", "_template")
            .agg(F.countDistinct("url").alias("_n_urls"))
            .where(
                (F.col("_n_urls") >= config.trap_min_urls)
                & (n_var >= config.trap_min_var)
            )
            .select("host", "_template", F.lit(True).alias("_trap"))
        )
        expanded = expanded.join(
            traps, ["host", "_template"], "left"
        ).localCheckpoint()
        trap_dropped = expanded.where(F.col("_trap"))
        n_trap_dropped = trap_dropped.count()
        expanded = expanded.where(F.col("_trap").isNull()).drop(
            "_template", "_trap"
        )
        trap_dropped = trap_dropped.drop("_template", "_trap")

    candidates = expanded.groupBy("url").agg(
        F.first("host").alias("host"),
        F.min("crawl_depth").alias("crawl_depth"),
        F.min("src_url").alias("src_url"),
        F.count(F.lit(1)).alias("_n_inlinks"),
    )
    if config.priority_mode == "indegree":
        # depth-major, inlink-minor: same BFS frontier, but within a depth
        # level the most-linked pages consume the politeness budget first
        # (in-degree is already in hand from the dedup groupBy — zero
        # extra jobs). Capped at 999 so the depth bands never overlap.
        prio = (
            F.col("crawl_depth") * 1000
            - F.least(F.col("_n_inlinks"), F.lit(999))
        ).cast("int")
    else:
        prio = F.col("crawl_depth")
    candidates = candidates.withColumn("priority", prio).drop("_n_inlinks")
    # candidates are unique by construction (groupBy url above) — skip the
    # probe's defensive distinct shuffle
    fresh = candidates.join(
        store.filter_new(candidates, assume_unique=True).select("url"),
        "url", "left_semi",
    )
    # also drop candidates already waiting in the deferred frontier
    fresh = fresh.join(deferred.select("url"), "url", "left_anti").localCheckpoint()
    n_enqueued = fresh.count()
    next_frontier = deferred.select(*FRONTIER_COLS).unionByName(
        fresh.select(*FRONTIER_COLS)
    )
    _mark("t_expand", tick)

    # --- lineage + metrics ----------------------------------------------------
    lineage = (
        _lineage(blocked, STAGE_ROBOTS)
        .unionByName(_lineage(country_flagged, STAGE_COUNTRY, "src_url"))
        .unionByName(_lineage(dropped, STAGE_EXCLUDED, "src_url"))
        .unionByName(_lineage(loop_dropped, "redirect_loop", "src_url"))
        .unionByName(_lineage(fresh, "enqueued", "src_url"))
    )
    if trap_dropped is not None:
        lineage = lineage.unionByName(_lineage(trap_dropped, "trap", "src_url"))
    lineage = lineage.withColumn("round", F.lit(round_no))
    host_metrics = (
        scheduled.groupBy("host")
        .agg(F.count("*").alias("n_scheduled"))
        .withColumn("round", F.lit(round_no))
    )
    elapsed = time.time() - t0
    from fraudcrawler_spark.session import local_df

    totals = local_df(
        spark,
        [
            {
                "round": round_no,
                "n_frontier": n_frontier,
                "n_scheduled": n_scheduled,
                "n_deferred": int(sched_counts.get("deferred", 0)),
                "n_blocked": int(sched_counts.get("blocked", 0)),
                "n_new": n_new,
                "n_dup": 0,  # by the claim invariant
                "n_results": n_new,  # one result row per newly-claimed url
                "n_enqueued": n_enqueued,
                # cheap: raw_expanded is localCheckpointed; both slices are
                # metadata-only scans of the materialized partition. Zero
                # when the corresponding config flag is off.
                "n_redirected": int(
                    raw_expanded.where(F.col("_redirected")).count()
                ) if redirect_map is not None else 0,
                "n_redirect_loops": int(
                    loop_dropped.count()
                ) if redirect_map is not None else 0,
                "n_trap_dropped": int(n_trap_dropped),
                "elapsed_sec": elapsed,
                "urls_per_sec": (n_scheduled + n_new) / elapsed if elapsed > 0 else 0.0,
                "seen_fill_ratio": float(fill or 0.0),
                **phase,
            }
        ]
    )

    # --- commit ---------------------------------------------------------------
    # the four commit tables are mutually independent (all inputs are
    # checkpointed/derived above) — overlap their jobs (§2.6); the
    # manifest commit still happens strictly after ALL of them land
    _par(
        lambda: state.write("lineage", round_no, lineage,
                            ncoalesce=_nc(n_enqueued + n_scheduled)),
        lambda: state.write("metrics", round_no, totals, ncoalesce=1),
        lambda: state.write("host_metrics", round_no, host_metrics,
                            ncoalesce=1),
        lambda: state.write(
            "frontier", round_no + 1, next_frontier,
            sort_cols=["priority", "host", "crawl_depth"],
            ncoalesce=_nc(n_enqueued + int(sched_counts.get("deferred", 0))),
        ),
    )
    state.commit(round_no)
    return True


def adaptive_robots(
    robots: DataFrame | None, fetch_log: DataFrame, factor: float = 4.0
) -> DataFrame:
    """Merge observed-latency delays into the robots dim (once per
    crawl): effective crawl delay = max(robots delay, clip(factor·p95,
    100ms, 10s)), quadrupled — same 10s cap — for hosts whose 5xx rate
    exceeds 5%. cell_budget's by_delay bound then shrinks slow/erroring
    hosts' per-round schedule automatically. Shares
    conformance_net.host_latency_stats with the oracled
    host_latency_adapt entry, so engine policy and conformance entry can
    never drift. Hosts absent from the fetch log keep their robots-only
    delay; with no robots dim at all the adaptive delays become the dim
    (empty disallow lists)."""
    from fraudcrawler_spark.conformance_net import host_latency_stats

    stats = host_latency_stats(fetch_log, factor=factor).select(
        "host",
        F.least(
            F.when(F.col("backoff"), F.col("adaptive_delay_ms") * 4)
            .otherwise(F.col("adaptive_delay_ms")),
            F.lit(10000),
        ).cast("long").alias("_adaptive_ms"),
    )
    if robots is None:
        return stats.select(
            "host",
            F.array().cast("array<string>").alias("disallow_prefixes"),
            F.col("_adaptive_ms").alias("crawl_delay_ms"),
        )
    return (
        robots.join(stats, "host", "left")
        .withColumn(
            "crawl_delay_ms",
            F.greatest(
                F.coalesce(F.col("crawl_delay_ms"), F.lit(0)),
                F.coalesce(F.col("_adaptive_ms"), F.lit(0)),
            ),
        )
        .drop("_adaptive_ms")
    )


def run_crawl(
    spark: SparkSession,
    corpus_dir: str,
    state_root: str,
    config: CrawlConfig | None = None,
    max_rounds: int = 10,
) -> CrawlState:
    """Run (or resume) a crawl to completion / max_rounds."""
    config = config or CrawlConfig()
    state = CrawlState(spark, state_root)
    tables = read_corpus(spark, corpus_dir)
    if not state.exists("frontier", 0):
        state = init_crawl(spark, corpus_dir, state_root, config,
                           tables=tables)
    manifest = state.read_manifest()
    if config.resolve_redirects:
        if "redirects" not in tables:
            raise ValueError(
                "resolve_redirects=True but the corpus has no "
                "redirects.parquet"
            )
        from fraudcrawler_spark.conformance_net import resolve_redirect_map

        # pointer-doubled once per crawl (log2(MAX_HOPS) self-joins),
        # materialized, then reused by every round's candidate join
        tables["_redirect_map"] = resolve_redirect_map(
            tables["redirects"]
        ).localCheckpoint()
    if config.adaptive_politeness:
        if "fetch_log" not in tables:
            raise ValueError(
                "adaptive_politeness=True but the corpus has no "
                "fetch_log.parquet"
            )
        tables["robots"] = adaptive_robots(
            tables.get("robots"), tables["fetch_log"],
            factor=config.adaptive_delay_factor,
        ).localCheckpoint()
    start = manifest["last_round"] + 1
    store = _load_seen(spark, state, manifest["last_round"], config)
    # fail fast, not at round k: retire() requires the deletion-capable
    # backend, and the ADOPTED kind (manifest wins over config on resume)
    # is what will actually run
    if config.recrawl_after_rounds is not None and store.filter_kind != "cuckoo":
        raise ValueError(
            "recrawl_after_rounds requires seen_filter_kind='cuckoo' "
            f"(this state dir is pinned to '{store.filter_kind}'; Bloom "
            "cannot delete — start a fresh crawl with the cuckoo backend)"
        )
    for r in range(start, max_rounds):
        if not state.exists("frontier", r):
            break
        if not run_round(spark, state, r, config, tables, store):
            break
    return state
