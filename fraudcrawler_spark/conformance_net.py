"""Round-5 crawl-network operators: redirect-chain resolution, crawler-
trap detection, magic-byte MIME sniffing, and latency-adaptive
politeness.

Each query has a DuckDB twin (driver oracle). All four are declarative
DataFrame plans — zero Python UDFs — so per-row work stays in
whole-stage codegen and the only exchanges are hash joins/aggregations
on bounded keys (url for the redirect map, (host, template) for traps,
host for politeness).

Reference parity: the reference crawler follows redirects inside its
HTTP client (one url at a time, src/fraudcrawler/base/zyte.py) and has
no trap/MIME/adaptive-politeness stage; these are the distributed
generalizations a Common-Crawl-scale frontier needs (SURVEY.md §6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraudcrawler_spark.frontier.politeness import host_latency_stats, robots_from_txt
from fraudcrawler_spark.functions.urls import (
    MAX_HOPS,
    resolve_redirect_map,
    url_template_expr,
)


def _corpus() -> str:
    from fraudcrawler_spark.registry import _crawl_corpus

    return _crawl_corpus()


# --------------------------------------------------------------------------
# redirect_resolve — functional-graph pointer doubling
# --------------------------------------------------------------------------

def q_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: resolve_redirect_map over the corpus redirects
    table (see that function for semantics and the scale argument)."""
    import os

    red = spark.read.parquet(os.path.join(_corpus(), "redirects.parquet"))
    return resolve_redirect_map(red)


def _sql_redirect_resolve() -> str:
    from fraudcrawler_spark.registry import _corpus_sql_dir

    return rf"""
WITH RECURSIVE red AS (
  SELECT src_url,
    CASE WHEN location LIKE '/%'
         THEN 'https://' || regexp_extract(src_url, '^https?://([^/]+)', 1)
              || location
         ELSE location END AS nxt
  FROM read_parquet('{_corpus_sql_dir()}/redirects.parquet')
),
walk AS (
  SELECT src_url AS src, nxt AS cur, CAST(1 AS BIGINT) AS hops FROM red
  UNION ALL
  SELECT w.src, r.nxt, w.hops + 1
  FROM walk w JOIN red r ON w.cur = r.src_url
  WHERE w.hops < {MAX_HOPS}
),
last AS (
  SELECT src, arg_max(cur, hops) AS cur, max(hops) AS hops
  FROM walk GROUP BY src
)
SELECT l.src AS src_url,
  CASE WHEN t.src_url IS NULL THEN l.cur END AS final_url,
  CASE WHEN t.src_url IS NULL THEN l.hops END AS n_hops,
  CASE WHEN t.src_url IS NULL THEN 'ok'
       ELSE 'too_many_redirects' END AS status
FROM last l LEFT JOIN red t ON l.cur = t.src_url
"""


# --------------------------------------------------------------------------
# trap_detect — URL-template mining over the discovered-candidate stream
# --------------------------------------------------------------------------

def q_trap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler-trap detection by URL-template aggregation: collapse each
    candidate's path+query to a template (query values → 'V', digit runs
    → 'N'), then per (host, template) count distinct urls. A template is
    a trap when it explodes (≥ 25 distinct urls) across ≥ 2 variable
    segments — calendar pages, session ids, faceted pagination — while a
    single-variable template (/pN: the host's real article space) never
    trips it. One hash aggregation on (host, template); url
    normalization is all-JVM regexp in whole-stage codegen."""
    import os

    cand = spark.read.parquet(
        os.path.join(_corpus(), "frontier_candidates.parquet")
    )
    template = url_template_expr(F.col("url"))
    d = cand.select(F.col("src_host").alias("host"), template.alias("template"), "url")
    agg = d.groupBy("host", "template").agg(
        F.countDistinct("url").alias("n_urls")
    )
    n_var = (
        F.length("template")
        - F.length(F.regexp_replace("template", r"[NV]", ""))
    ).cast("long")
    return agg.select(
        "host",
        "template",
        "n_urls",
        n_var.alias("n_var"),
        ((F.col("n_urls") >= 25) & (n_var >= 2)).alias("is_trap"),
    )


def _sql_trap_detect() -> str:
    from fraudcrawler_spark.registry import _corpus_sql_dir

    return rf"""
WITH d AS (
  SELECT src_host AS host, url,
    regexp_replace(
      regexp_replace(
        regexp_replace(url, '^https?://[^/]+', ''),
        '=[^&]*', '=V', 'g'),
      '[0-9]+', 'N', 'g') AS template
  FROM read_parquet('{_corpus_sql_dir()}/frontier_candidates.parquet')
),
agg AS (
  SELECT host, template, COUNT(DISTINCT url) AS n_urls
  FROM d GROUP BY host, template
)
SELECT host, template, n_urls,
  CAST(length(template) -
       length(regexp_replace(template, '[NV]', '', 'g')) AS BIGINT) AS n_var,
  (n_urls >= 25 AND
   length(template) - length(regexp_replace(template, '[NV]', '', 'g')) >= 2
  ) AS is_trap
FROM agg
"""


# --------------------------------------------------------------------------
# mime_sniff — magic-byte content-type detection vs the declared header
# --------------------------------------------------------------------------

def q_mime_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sniff the real content type FROM THE BYTES (magic numbers: 'BM',
    'RIFF…WAVE', 'RIFF…AVI ', '<!doctype html'/'<html', printable-ascii
    fallback) and flag rows whose server-declared Content-Type lies —
    the real-web failure mode that poisons type-routed pipelines. The
    ground-truth `true_type` column is NEVER read here (the DuckDB twin
    reads ONLY that metadata — same analytic-oracle contract as the
    image/audio/video decode kernels). Map-only: zero exchanges; hex
    prefix tests are codegen'd JVM expressions."""
    import os

    media = spark.read.parquet(
        os.path.join(_corpus(), "media_headers.parquet")
    )
    hx = F.hex(F.substring(F.col("payload"), 1, 12))
    txt = F.col("payload").cast("string")
    low = F.lower(F.substring(txt, 1, 15))
    sniffed = (
        F.when(hx.startswith("424D"), "image/bmp")
        .when(
            hx.startswith("52494646") & (F.substring(hx, 17, 8) == F.lit("57415645")),
            "audio/x-wav",
        )
        .when(
            hx.startswith("52494646") & (F.substring(hx, 17, 8) == F.lit("41564920")),
            "video/x-msvideo",
        )
        .when(
            low.startswith("<!doctype html") | low.startswith("<html"),
            "text/html",
        )
        .when(txt.rlike(r"^[\t\n\r\x20-\x7e]*$"), "text/plain")
        .otherwise("application/octet-stream")
    )
    return media.select(
        "media_id",
        "declared_type",
        sniffed.alias("sniffed_type"),
        (sniffed != F.col("declared_type")).alias("mismatch"),
    )


def _sql_mime_sniff() -> str:
    # the oracle reads ONLY the true_type metadata column the Spark side
    # never touches: a correct sniffer must recover exactly true_type
    from fraudcrawler_spark.registry import _corpus_sql_dir

    return rf"""
SELECT media_id, declared_type,
  true_type AS sniffed_type,
  (true_type <> declared_type) AS mismatch
FROM read_parquet('{_corpus_sql_dir()}/media_headers.parquet')
"""


# --------------------------------------------------------------------------
# host_latency_adapt — observed-latency percentiles → politeness delays
# --------------------------------------------------------------------------

def q_host_latency_adapt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive per-host politeness from the fetch log: exact p50/p95
    latency, 5xx error rate, and a recommended inter-request delay =
    max(robots crawl-delay, clip(4·p95, 100ms, 10s)) with a backoff flag
    when the 5xx rate exceeds 5% (the 'server is melting' signal real
    crawlers throttle on). One hash aggregation keyed by host + one
    broadcast join against the robots dim (host-level: always tiny
    relative to the fetch log)."""
    import os

    log = spark.read.parquet(os.path.join(_corpus(), "fetch_log.parquet"))
    agg = host_latency_stats(log)
    robots = robots_from_txt(
        spark.read.parquet(os.path.join(_corpus(), "robots_txt.parquet")),
        user_agent="fraudcrawler",
    ).select("host", "crawl_delay_ms")
    return (
        agg.join(F.broadcast(robots), "host", "left")
        .select(
            "host",
            "n_fetches",
            "p50_ms",
            "p95_ms",
            "err5xx_rate",
            F.greatest(
                F.col("adaptive_delay_ms"),
                F.coalesce(F.col("crawl_delay_ms"), F.lit(0)),
            ).cast("long").alias("rec_delay_ms"),
            "backoff",
        )
    )


def _sql_host_latency_adapt(sql_robots_parse: str) -> str:
    """The robots side reuses the robots_parse oracle verbatim (host →
    crawl_delay_ms) so the two entries can never drift apart."""
    from fraudcrawler_spark.registry import _corpus_sql_dir

    return rf"""
WITH robots AS (
  SELECT host, crawl_delay_ms FROM ({sql_robots_parse})
),
agg AS (
  SELECT host,
    COUNT(*) AS n_fetches,
    round(quantile_cont(latency_ms, 0.5), 2) AS p50_ms,
    round(quantile_cont(latency_ms, 0.95), 2) AS p95_ms,
    round(avg(CASE WHEN status >= 500 THEN 1.0 ELSE 0.0 END), 4)
      AS err5xx_rate
  FROM read_parquet('{_corpus_sql_dir()}/fetch_log.parquet')
  GROUP BY host
)
SELECT a.host, a.n_fetches, a.p50_ms, a.p95_ms, a.err5xx_rate,
  CAST(greatest(
    ceil(least(greatest(a.p95_ms * 4, 100.0), 10000.0)),
    COALESCE(r.crawl_delay_ms, 0)) AS BIGINT) AS rec_delay_ms,
  (a.err5xx_rate > 0.05) AS backoff
FROM agg a LEFT JOIN robots r ON a.host = r.host
"""


# --------------------------------------------------------------------------
# recrawl_schedule — sitemap lastmod vs archived-snapshot freshness
# --------------------------------------------------------------------------

def q_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness-driven recrawl planning (Cho & Garcia-Molina change-rate
    scheduling, driven here by the change signal sites volunteer): join
    sitemap entries against the archived snapshot and classify each url —
    `discover` (listed, never archived), `recrawl` (archived copy older
    than the advertised <lastmod>), `fresh` (archive is current). The
    score orders the recrawl queue: sitemap priority, boosted by
    staleness (capped at 2× after a year) for recrawl rows and taken
    whole for discover rows.

    Scale shape: sitemap entries are the SMALL side (hosts × ~50 KB
    sitemaps, broadcastable or band-joined on url); the archived table is
    the 10^10-row side and is touched by one hash join on its bucket key
    url, two pruned columns read. Zero Python; one exchange.

    Reference parity: the reference has no recrawl loop (each run
    re-fetches everything, src/fraudcrawler/base/orchestrator.py); this
    is the freshness policy a continuous crawl needs (SURVEY.md §2.10).
    """
    import os

    from fraudcrawler_spark.sources.sitemap import parse_sitemaps

    corpus = _corpus()
    ents = parse_sitemaps(
        spark.read.parquet(os.path.join(corpus, "sitemaps.parquet"))
    )
    pages = (
        spark.read.parquet(os.path.join(corpus, "pages.parquet"))
        .select("url", F.to_date("warc_ts").alias("snap_date"))
    )
    j = ents.join(pages, ents["loc"] == pages["url"], "left")
    stale = F.datediff(F.to_date("lastmod"), F.col("snap_date"))
    action = (
        F.when(F.col("url").isNull(), F.lit("discover"))
        .when(stale > 0, F.lit("recrawl"))
        .otherwise(F.lit("fresh"))
    )
    prio = F.coalesce(F.col("priority"), F.lit(0.5))
    score = (
        F.when(action == "discover", prio)
        .when(
            action == "recrawl",
            prio * F.least(F.lit(2.0), F.lit(1.0) + stale / F.lit(365.0)),
        )
        .otherwise(F.lit(0.0))
    )
    return j.select(
        "host",
        "loc",
        "lastmod",
        F.col("priority"),
        action.alias("action"),
        F.when(F.col("url").isNotNull(), stale)
        .cast("long")
        .alias("days_stale"),
        F.round(score, 4).alias("score"),
    )


def _sql_recrawl_schedule() -> str:
    from fraudcrawler_spark.registry import _corpus_sql_dir

    return rf"""
WITH raw AS (SELECT host, sitemap_xml
             FROM read_parquet('{_corpus_sql_dir()}/sitemaps.parquet')),
blocks AS (
  SELECT host, unnest(regexp_extract_all(sitemap_xml,
      '(?s)<url>(.*?)</url>', 1)) AS block
  FROM raw
),
ents AS (
  SELECT host,
    trim(regexp_extract(block, '<loc>([^<]*)</loc>', 1)) AS loc,
    NULLIF(trim(regexp_extract(block, '<lastmod>([^<]*)</lastmod>', 1)),
           '') AS lastmod,
    TRY_CAST(NULLIF(trim(regexp_extract(block,
        '<priority>([^<]*)</priority>', 1)), '') AS DOUBLE) AS priority
  FROM blocks
  WHERE trim(regexp_extract(block, '<loc>([^<]*)</loc>', 1)) <> ''
),
j AS (
  SELECT e.*, p.url,
    date_diff('day', CAST(p.warc_ts AS DATE), CAST(e.lastmod AS DATE))
      AS stale
  FROM ents e
  LEFT JOIN read_parquet('{_corpus_sql_dir()}/pages.parquet') p
    ON e.loc = p.url
),
cls AS (
  SELECT *,
    CASE WHEN url IS NULL THEN 'discover'
         WHEN stale > 0 THEN 'recrawl'
         ELSE 'fresh' END AS action,
    COALESCE(priority, 0.5) AS prio
  FROM j
)
SELECT host, loc, lastmod, priority, action,
  CAST(CASE WHEN url IS NOT NULL THEN stale END AS BIGINT) AS days_stale,
  round(CASE action
          WHEN 'discover' THEN prio
          WHEN 'recrawl'
            THEN prio * least(2.0, 1.0 + stale / 365.0)
          ELSE 0.0 END, 4) AS score
FROM cls
"""


# --------------------------------------------------------------------------
# host_health — per-host crawl operations report
# --------------------------------------------------------------------------

def q_host_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row-per-host crawl health dashboard: archived page count
    (spine), fetch-log status mix + p95 latency, robots posture
    (disallow count, crawl delay), and outbound redirect count, rolled
    into a status — `unobserved` (no fetches logged), `erroring`
    (>5% 5xx), `degraded` (<90% 2xx), else `healthy`.

    Scale shape: four independent per-host hash aggregations (each a
    map-side partial combine over its table) followed by broadcast joins
    of the host-keyed summaries — host cardinality is ~10^7 at the
    100 TB point, MBs per summary, so the spine never shuffles twice.
    Zero Python.

    Reference parity: none (the reference logs per-request errors only,
    src/fraudcrawler/base/zyte.py); this is the fleet-operations view a
    distributed crawl needs (SURVEY.md §2.10).
    """
    import os

    corpus = _corpus()
    host_of = lambda c: F.regexp_extract(c, r"^https?://([^/]+)", 1)  # noqa: E731
    pages = (
        spark.read.parquet(os.path.join(corpus, "pages.parquet"))
        .groupBy(host_of(F.col("url")).alias("host"))
        .agg(F.count("*").alias("n_pages"))
    )
    log = spark.read.parquet(os.path.join(corpus, "fetch_log.parquet"))
    fetch = log.groupBy("host").agg(
        F.count("*").alias("n_fetches"),
        F.round(
            F.avg(((F.col("status") >= 200) & (F.col("status") < 300))
                  .cast("double")), 4
        ).alias("ok_rate"),
        F.round(
            F.avg(((F.col("status") >= 400) & (F.col("status") < 500))
                  .cast("double")), 4
        ).alias("err4xx_rate"),
        F.round(
            F.avg((F.col("status") >= 500).cast("double")), 4
        ).alias("err5xx_rate"),
        F.round(F.percentile("latency_ms", 0.95), 2).alias("p95_ms"),
    )
    robots = (
        spark.read.parquet(os.path.join(corpus, "robots.parquet"))
        .select(
            "host",
            F.size("disallow_prefixes").cast("long").alias("n_disallow"),
            F.col("crawl_delay_ms").cast("long").alias("crawl_delay_ms"),
        )
    )
    redirects = (
        spark.read.parquet(os.path.join(corpus, "redirects.parquet"))
        .groupBy(host_of(F.col("src_url")).alias("host"))
        .agg(F.count("*").alias("n_redirects"))
    )
    out = (
        pages.join(F.broadcast(fetch), "host", "left")
        .join(F.broadcast(robots), "host", "left")
        .join(F.broadcast(redirects), "host", "left")
    )
    status = (
        F.when(F.col("n_fetches").isNull(), F.lit("unobserved"))
        .when(F.col("err5xx_rate") > 0.05, F.lit("erroring"))
        .when(F.col("ok_rate") < 0.9, F.lit("degraded"))
        .otherwise(F.lit("healthy"))
    )
    return out.select(
        "host", "n_pages", "n_fetches", "ok_rate", "err4xx_rate",
        "err5xx_rate", "p95_ms", "n_disallow", "crawl_delay_ms",
        F.coalesce("n_redirects", F.lit(0)).alias("n_redirects"),
        status.alias("status"),
    )


def _sql_host_health() -> str:
    from fraudcrawler_spark.registry import _corpus_sql_dir

    d = _corpus_sql_dir()
    return rf"""
WITH pages AS (
  SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
         COUNT(*) AS n_pages
  FROM read_parquet('{d}/pages.parquet') GROUP BY 1
),
flog AS (
  SELECT host,
    COUNT(*) AS n_fetches,
    round(avg(CASE WHEN status BETWEEN 200 AND 299 THEN 1.0 ELSE 0.0 END),
          4) AS ok_rate,
    round(avg(CASE WHEN status BETWEEN 400 AND 499 THEN 1.0 ELSE 0.0 END),
          4) AS err4xx_rate,
    round(avg(CASE WHEN status >= 500 THEN 1.0 ELSE 0.0 END), 4)
      AS err5xx_rate,
    round(quantile_cont(latency_ms, 0.95), 2) AS p95_ms
  FROM read_parquet('{d}/fetch_log.parquet') GROUP BY host
),
robots AS (
  SELECT host, CAST(len(disallow_prefixes) AS BIGINT) AS n_disallow,
         CAST(crawl_delay_ms AS BIGINT) AS crawl_delay_ms
  FROM read_parquet('{d}/robots.parquet')
),
red AS (
  SELECT regexp_extract(src_url, '^https?://([^/]+)', 1) AS host,
         COUNT(*) AS n_redirects
  FROM read_parquet('{d}/redirects.parquet') GROUP BY 1
)
SELECT p.host, p.n_pages, f.n_fetches, f.ok_rate, f.err4xx_rate,
  f.err5xx_rate, f.p95_ms, r.n_disallow, r.crawl_delay_ms,
  COALESCE(rd.n_redirects, 0) AS n_redirects,
  CASE WHEN f.n_fetches IS NULL THEN 'unobserved'
       WHEN f.err5xx_rate > 0.05 THEN 'erroring'
       WHEN f.ok_rate < 0.9 THEN 'degraded'
       ELSE 'healthy' END AS status
FROM pages p
LEFT JOIN flog f ON p.host = f.host
LEFT JOIN robots r ON p.host = r.host
LEFT JOIN red rd ON p.host = rd.host
"""


# --------------------------------------------------------------------------
# worker_assign — skew-aware crawler shard planner
# --------------------------------------------------------------------------

N_WORKERS = 8


def q_worker_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign hosts to N_WORKERS crawler shards with the Zipf skew the
    host distribution actually has: rank hosts by page count (ties by
    host name) and deal them serpentine — block k of 8 goes 0→7 when k
    is even, 7→0 when odd — so the heaviest hosts never pile onto the
    same shard the way `hash(host) % W` does. Emits the host→worker map
    plus each shard's total load and its imbalance vs the ideal
    (worker_pages · W / total_pages, 1.0 = perfect).

    Scale shape: one hash aggregation over the page table, then windows
    over the HOST summary only — at 10^7 hosts that is a few hundred MB
    through one single-ordering sort (rank and the running totals reuse
    it), never the 10^10-row page table. The output map is broadcast
    back to route fetch tasks.

    Reference parity: none (single-process crawler); this is the shard
    planner a 1000-executor fetch fleet schedules from (SURVEY.md §2.10).
    """
    import os

    from pyspark.sql import Window

    pages = spark.read.parquet(os.path.join(_corpus(), "pages.parquet"))
    counts = (
        pages.groupBy(
            F.regexp_extract(F.col("url"), r"^https?://([^/]+)", 1)
            .alias("host")
        )
        .agg(F.count("*").alias("n_pages"))
    )
    w = Window.orderBy(F.desc("n_pages"), F.asc("host"))
    ranked = counts.withColumn("rank", F.row_number().over(w))
    blk = ((F.col("rank") - 1) / N_WORKERS).cast("long")
    pos = (F.col("rank") - 1) % N_WORKERS
    worker = F.when(blk % 2 == 0, pos).otherwise(N_WORKERS - 1 - pos)
    assigned = ranked.withColumn("worker", worker.cast("long"))
    per_worker = Window.partitionBy("worker")
    total = Window.partitionBy()
    return assigned.select(
        "host",
        "n_pages",
        F.col("rank").cast("long").alias("host_rank"),
        "worker",
        F.sum("n_pages").over(per_worker).alias("worker_pages"),
        F.round(
            F.sum("n_pages").over(per_worker)
            * N_WORKERS
            / F.sum("n_pages").over(total),
            4,
        ).alias("imbalance"),
    )


def _sql_worker_assign() -> str:
    from fraudcrawler_spark.registry import _corpus_sql_dir

    return rf"""
WITH counts AS (
  SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
         COUNT(*) AS n_pages
  FROM read_parquet('{_corpus_sql_dir()}/pages.parquet') GROUP BY 1
),
ranked AS (
  SELECT host, n_pages,
    ROW_NUMBER() OVER (ORDER BY n_pages DESC, host ASC) AS rank
  FROM counts
),
assigned AS (
  SELECT host, n_pages, CAST(rank AS BIGINT) AS host_rank,
    CAST(CASE WHEN ((rank - 1) // {N_WORKERS}) % 2 = 0
         THEN (rank - 1) % {N_WORKERS}
         ELSE {N_WORKERS} - 1 - (rank - 1) % {N_WORKERS}
    END AS BIGINT) AS worker
  FROM ranked
)
SELECT host, n_pages, host_rank, worker,
  CAST(SUM(n_pages) OVER (PARTITION BY worker) AS BIGINT) AS worker_pages,
  round(SUM(n_pages) OVER (PARTITION BY worker) * {N_WORKERS}
        / SUM(n_pages) OVER (), 4) AS imbalance
FROM assigned
"""


# --------------------------------------------------------------------------
# change_rate — recrawl-interval estimation from snapshot change history
# --------------------------------------------------------------------------

_CR_SNAPSHOTS = 6


def q_change_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-frequency estimation over a crawl's snapshot history (Cho &
    Garcia-Molina, "Estimating Frequency of Change"): from K=6 content
    hashes per url, count changed intervals X of n=K-1, apply the
    bias-corrected estimator  r = -ln((n - X + 0.5)/(n + 0.5)), and emit
    the recrawl interval 1/r clipped to [1, 30] snapshot periods
    (never-changed docs park at the 30-cap). Synthetic history: bit t of
    doc_id is the change indicator for interval t, so the content
    version at snapshot t is the popcount of doc_id's bits 1..t — every
    X class 0..5 is populated across doc_id mod 64.

    Scale shape: one explode (K rows per url), one window lag
    PARTITIONED BY the url key (hash-partitioned, no skew — every
    partition is exactly K rows), one hash aggregation. This is the
    production shape over a real (url, fetch_ts, content_hash) log;
    swap the synthetic hash for the WARC digest and nothing changes.

    Reference parity: none (the reference re-fetches everything each
    run, src/fraudcrawler/base/orchestrator.py); this decides WHICH
    urls a continuous crawl re-fetches and how often (SURVEY.md §2.10,
    complements recrawl_schedule's sitemap-volunteered signal).
    """
    from pyspark.sql import Window

    from fraudcrawler_spark.conformance_ml import _t

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    exploded = docs.select(
        "doc_id", "text",
        F.explode(F.sequence(F.lit(0), F.lit(_CR_SNAPSHOTS - 1))).alias("t"),
    )
    # version(t) = popcount of doc_id bits 1..t — bit k set means the
    # content changed at snapshot k
    version = sum(
        (F.when(F.col("t") >= k, 1).otherwise(0)
         * F.shiftright(F.col("doc_id"), k).bitwiseAND(F.lit(1)))
        for k in range(1, _CR_SNAPSHOTS)
    )
    snaps = exploded.select(
        "doc_id", "t",
        F.md5(
            F.concat(F.col("text"), F.lit("#"),
                     version.cast("long").cast("string"))
        ).alias("h"),
    )
    w = Window.partitionBy("doc_id").orderBy("t")
    flags = snaps.select(
        "doc_id", "t",
        (F.col("h") != F.lag("h").over(w)).cast("int").alias("changed"),
    ).where(F.col("t") > 0)
    n = _CR_SNAPSHOTS - 1
    agg = flags.groupBy("doc_id").agg(
        F.sum("changed").cast("long").alias("n_changes")
    )
    rate = -F.log((F.lit(n) - F.col("n_changes") + 0.5) / F.lit(n + 0.5))
    return agg.select(
        "doc_id",
        F.lit(n).cast("long").alias("n_intervals"),
        "n_changes",
        # + 0.0 canonicalizes IEEE -0.0 (X=0 → -ln(1.0)) to +0.0 — the
        # DuckDB twin does the same, so the value-hash compare can't
        # split on the zero's sign bit
        (F.round(rate, 4) + F.lit(0.0)).alias("rate"),
        F.round(
            F.when(rate <= 1.0 / 30, F.lit(30.0))
            .otherwise(F.least(F.lit(30.0), F.greatest(F.lit(1.0), 1.0 / rate))),
            2,
        ).alias("recrawl_period"),
    )


SQL_CHANGE_RATE = f"""
WITH snaps AS (
  SELECT doc_id, t,
    md5(text || '#' || CAST((CASE WHEN t >= 1 THEN (doc_id >> 1) & 1 ELSE 0 END) + (CASE WHEN t >= 2 THEN (doc_id >> 2) & 1 ELSE 0 END) + (CASE WHEN t >= 3 THEN (doc_id >> 3) & 1 ELSE 0 END) + (CASE WHEN t >= 4 THEN (doc_id >> 4) & 1 ELSE 0 END) + (CASE WHEN t >= 5 THEN (doc_id >> 5) & 1 ELSE 0 END) AS VARCHAR)) AS h
  FROM documents, generate_series(0, {_CR_SNAPSHOTS - 1}) AS g(t)
),
flags AS (
  SELECT doc_id, t,
    CAST(h != lag(h) OVER (PARTITION BY doc_id ORDER BY t) AS INT)
      AS changed
  FROM snaps
),
agg AS (
  SELECT doc_id, CAST(SUM(changed) AS BIGINT) AS n_changes
  FROM flags WHERE t > 0 GROUP BY doc_id
)
SELECT doc_id,
  CAST({_CR_SNAPSHOTS - 1} AS BIGINT) AS n_intervals,
  n_changes,
  round(-ln(({_CR_SNAPSHOTS - 1} - n_changes + 0.5)
            / {_CR_SNAPSHOTS - 1 + 0.5}), 4) + 0.0 AS rate,
  round(CASE WHEN -ln(({_CR_SNAPSHOTS - 1} - n_changes + 0.5)
                      / {_CR_SNAPSHOTS - 1 + 0.5}) <= 1.0/30
             THEN 30.0
             ELSE least(30.0, greatest(1.0,
                  1.0 / (-ln(({_CR_SNAPSHOTS - 1} - n_changes + 0.5)
                             / {_CR_SNAPSHOTS - 1 + 0.5}))))
        END, 2) AS recrawl_period
FROM agg
"""


# --------------------------------------------------------------------------
# domain_composition — corpus composition / concentration report by TLD
# --------------------------------------------------------------------------

def q_domain_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition report by top-level domain: hosts, pages,
    raw bytes, page share, cumulative share in rank order, and the
    within-TLD host concentration (Herfindahl–Hirschman index,
    Σ(host_pages/tld_pages)² — 1.0 = one host owns the TLD). The table
    every crawl-ops review starts from: is the corpus one TLD deep, and
    is a TLD secretly one host?

    Scale shape: ONE partial+final hash aggregation over the page table
    to host granularity (10^7 rows out of 10^10 in), then the TLD
    rollup and rank/cumulative windows run over the host SUMMARY —
    the HHI folds into the same rollup via Σp² / (Σp)², so no second
    pass over pages and no join-back. Output is O(#TLDs).

    Reference parity: none (the reference's universe is a SERP result
    list); this is the composition audit a 100-TB corpus publishes with
    each snapshot (SURVEY.md §2.10).
    """
    import os

    from pyspark.sql import Window

    pages = spark.read.parquet(os.path.join(_corpus(), "pages.parquet"))
    hosts = (
        pages.select(
            F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host"),
            F.length("html").alias("nb"),
        )
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("hp"), F.sum("nb").alias("hb"))
    )
    tld = hosts.groupBy(
        F.regexp_extract("host", r"\.([^.]+)$", 1).alias("tld")
    ).agg(
        F.count(F.lit(1)).alias("n_hosts"),
        F.sum("hp").alias("n_pages"),
        F.sum("hb").alias("n_bytes"),
        # square in DOUBLE: hp² overflows BIGINT once a host passes
        # ~3e9 pages; doubles are exact for counts < 2^53 so the twin
        # stays value-identical at test scale
        (
            F.sum(F.col("hp").cast("double") * F.col("hp"))
            / (F.sum("hp") * F.sum("hp")).cast("double")
        ).alias("hhi"),
    )
    rank_w = Window.orderBy(F.desc("n_pages"), F.asc("tld"))
    total_w = Window.partitionBy()
    cum_w = rank_w.rowsBetween(Window.unboundedPreceding, 0)
    return tld.select(
        "tld",
        "n_hosts",
        "n_pages",
        "n_bytes",
        F.row_number().over(rank_w).cast("long").alias("tld_rank"),
        F.round(F.col("n_pages") / F.sum("n_pages").over(total_w), 4)
        .alias("page_share"),
        F.round(
            F.sum("n_pages").over(cum_w) / F.sum("n_pages").over(total_w), 4
        ).alias("cum_share"),
        F.round("hhi", 4).alias("host_hhi"),
    )


def _sql_domain_composition() -> str:
    from fraudcrawler_spark.registry import _corpus_sql_dir

    return rf"""
WITH hosts AS (
  SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
         COUNT(*) AS hp, SUM(octet_length(html)) AS hb
  FROM read_parquet('{_corpus_sql_dir()}/pages.parquet') GROUP BY 1
),
tld AS (
  SELECT regexp_extract(host, '\.([^.]+)$', 1) AS tld,
         COUNT(*) AS n_hosts, SUM(hp) AS n_pages, SUM(hb) AS n_bytes,
         SUM(hp::DOUBLE * hp) / (SUM(hp)::DOUBLE * SUM(hp)) AS hhi
  FROM hosts GROUP BY 1
)
SELECT tld, n_hosts, CAST(n_pages AS BIGINT) AS n_pages,
       CAST(n_bytes AS BIGINT) AS n_bytes,
       CAST(ROW_NUMBER() OVER (ORDER BY n_pages DESC, tld ASC) AS BIGINT)
         AS tld_rank,
       ROUND(n_pages::DOUBLE / SUM(n_pages) OVER (), 4) AS page_share,
       ROUND(SUM(n_pages) OVER (ORDER BY n_pages DESC, tld ASC
               ROWS UNBOUNDED PRECEDING)::DOUBLE
             / SUM(n_pages) OVER (), 4) AS cum_share,
       ROUND(hhi, 4) AS host_hhi
FROM tld
"""
