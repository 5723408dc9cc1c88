"""Operator conformance catalog — queries() + oracle_sql() for the driver.

One entry per operator family from SURVEY.md §2 (reference semantics
re-expressed on the driver's tables) plus the training-data operators
(dedup / similarity / text analysis / multimodal plumbing). Every Spark
query has a DuckDB ANSI-SQL twin producing identical column names, types
(bigint/double/string/boolean) and values; floats are rounded INSIDE the
query so the driver's order-insensitive value-hash comparison is stable.

Conventions:
- urls/keys are synthesized deterministically from table keys, so both
  engines construct byte-identical inputs;
- cross-engine hashing uses md5 (present and identical in Spark and
  DuckDB); hex→int is Spark ``conv(substr(md5(x),1,k),16,10)`` ==
  DuckDB ``('0x' || substr(md5(x),1,k))::UBIGINT``;
- money aggregates go through DECIMAL(18,2) so partial-sum order cannot
  perturb the rounded result.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraudcrawler_spark.config import (
    STAGE_COUNTRY,
    STAGE_DEDUP_CURRENT,
    STAGE_DEDUP_PREVIOUS,
    STAGE_PROBABILITY,
    Prompt,
)
from fraudcrawler_spark.functions.classify import classify_expr
from fraudcrawler_spark.functions.urls import canonical_host_expr
from fraudcrawler_spark.operators.discover import country_keep
from fraudcrawler_spark.session import local_df


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# shared synthetic-url builders (Spark side; SQL twins inline in oracles)
# --------------------------------------------------------------------------

def _tld_expr(key: str):
    # lazy: Column construction requires an active session
    return F.element_at(
        F.array(F.lit(".ch"), F.lit(".com"), F.lit(".de"), F.lit(".it")),
        (F.pmod(F.col(key), F.lit(4)) + 1).cast("int"),
    )


_TLD_SQL = "list_extract(['.ch','.com','.de','.it'], (c_custkey % 4)::int + 1)"


def _customer_urls(spark, sf_dir):
    return _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        F.concat(
            F.lit("https://shop"), F.col("c_custkey").cast("string"),
            _tld_expr("c_custkey"),
            F.lit("/p"), F.col("c_custkey").cast("string"),
        ).alias("url"),
    )


_CUSTOMER_URLS_SQL = f"""
    SELECT c_custkey::BIGINT AS c_custkey,
           'https://shop' || c_custkey::VARCHAR || {_TLD_SQL}
               || '/p' || c_custkey::VARCHAR AS url
    FROM customer
"""

# ==========================================================================
# Reference-operator conformance (SURVEY.md §2)
# ==========================================================================


def q_pricing_summary(spark, sf_dir):
    """A-class agg (TPC-H Q1 shape) — exact money sums via DECIMAL."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    out = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).alias("_sq"),
            F.sum(dec("l_extendedprice")).alias("_sb"),
            F.sum(
                (dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast(
                    "decimal(18,4)"
                )
            ).alias("_sd"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("_sq").cast("double").alias("sum_qty"),
            F.col("_sb").cast("double").alias("sum_base_price"),
            F.col("_sd").cast("double").alias("sum_disc_price"),
            F.round(F.col("_sb").cast("double") / F.col("n_rows"), 4).alias("avg_price"),
            F.col("n_rows").cast("long").alias("n_rows"),
        )
    )
    return out


SQL_PRICING = """
    SELECT l_returnflag, l_linestatus,
           (SUM(l_quantity::DECIMAL(18,2)))::DOUBLE AS sum_qty,
           (SUM(l_extendedprice::DECIMAL(18,2)))::DOUBLE AS sum_base_price,
           (SUM((l_extendedprice::DECIMAL(18,2) * (1 - l_discount::DECIMAL(18,2)))::DECIMAL(18,4)))::DOUBLE AS sum_disc_price,
           ROUND((SUM(l_extendedprice::DECIMAL(18,2)))::DOUBLE / COUNT(*), 4) AS avg_price,
           COUNT(*)::BIGINT AS n_rows
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
"""


def q_country_flag(spark, sf_dir):
    """F1 — substring country filter, flag-not-drop (serp.py:150-158)."""
    urls = _customer_urls(spark, sf_dir)
    keep = country_keep(F.col("url"), "ch")
    return urls.select(
        "c_custkey",
        "url",
        (~keep).alias("filtered"),
        F.when(~keep, F.lit(STAGE_COUNTRY)).otherwise(F.lit(None).cast("string")).alias(
            "filtered_at_stage"
        ),
    )


SQL_COUNTRY_FLAG = f"""
    SELECT c_custkey, url,
           NOT (contains(lower(url), '.ch') OR contains(lower(url), '.com')) AS filtered,
           CASE WHEN NOT (contains(lower(url), '.ch') OR contains(lower(url), '.com'))
                THEN '{STAGE_COUNTRY}' END AS filtered_at_stage
    FROM ({_CUSTOMER_URLS_SQL})
"""

_HOST_PAT_SQL = r"^(?:https?://)?(?:[^/@:?#]*@)?([^/@:?#]+)"


def q_canonical_host(spark, sf_dir):
    """X1 — canonicalization over four syntactic url variants."""
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("s_suppkey"),
        F.concat(F.lit("shop"), F.col("s_suppkey").cast("string"), F.lit(".com/x")).alias("_base"),
    )
    v = F.pmod(F.col("s_suppkey"), F.lit(4))
    url = (
        F.when(v == 0, F.concat(F.lit("https://"), F.col("_base")))
        .when(v == 1, F.concat(F.lit("www."), F.col("_base")))
        .when(v == 2, F.concat(F.lit("http://"), F.col("_base")))
        .otherwise(F.col("_base"))
    )
    s = s.withColumn("url", url)
    return s.select("s_suppkey", "url", canonical_host_expr(F.col("url")).alias("domain"))


SQL_CANONICAL_HOST = f"""
    WITH u AS (
      SELECT s_suppkey::BIGINT AS s_suppkey,
             CASE s_suppkey % 4
               WHEN 0 THEN 'https://' || b WHEN 1 THEN 'www.' || b
               WHEN 2 THEN 'http://' || b ELSE b END AS url
      FROM (SELECT s_suppkey, 'shop' || s_suppkey::VARCHAR || '.com/x' AS b FROM supplier)
    )
    SELECT s_suppkey, url,
           CASE WHEN h = '' THEN url ELSE h END AS domain
    FROM (SELECT *, regexp_replace(lower(regexp_extract(url, '{_HOST_PAT_SQL}', 1)), '^www\\.', '') AS h FROM u)
"""


def q_marketplace_join(spark, sf_dir):
    """J1 — first-match-in-list-order dim lookup, miss ⇒ 'Google'."""
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("s_suppkey"),
        F.concat(F.lit("shop"), F.pmod(F.col("s_suppkey"), F.lit(10)).cast("string"), F.lit(".com")).alias("domain"),
    )
    dim = local_df(
        spark,
        [
            ("AlphaMarket", 0, "shop1.com"),
            ("AlphaMarket", 0, "shop2.com"),
            ("BetaBazaar", 1, "shop2.com"),
            ("BetaBazaar", 1, "shop3.com"),
            ("GammaGoods", 2, "shop4.com"),
        ],
        "name string, host_idx int, domain string",
    )
    best = dim.groupBy("domain").agg(F.min_by("name", "host_idx").alias("_mp"))
    return (
        s.join(F.broadcast(best), "domain", "left")
        .select(
            "s_suppkey",
            "domain",
            F.coalesce(F.col("_mp"), F.lit("Google")).alias("marketplace_name"),
        )
    )


SQL_MARKETPLACE = """
    WITH dim(name, host_idx, domain) AS (
      VALUES ('AlphaMarket',0,'shop1.com'),('AlphaMarket',0,'shop2.com'),
             ('BetaBazaar',1,'shop2.com'),('BetaBazaar',1,'shop3.com'),
             ('GammaGoods',2,'shop4.com')
    ), best AS (
      SELECT domain, arg_min(name, host_idx) AS mp FROM dim GROUP BY domain
    )
    SELECT s_suppkey::BIGINT AS s_suppkey, d.domain,
           COALESCE(best.mp, 'Google') AS marketplace_name
    FROM (SELECT s_suppkey, 'shop' || (s_suppkey % 10)::VARCHAR || '.com' AS domain FROM supplier) d
    LEFT JOIN best USING (domain)
"""


def q_excluded_anti_join(spark, sf_dir):
    """J2 — hard-drop anti-join (orders of BUILDING-segment customers drop)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
        .select(F.col("o_orderkey").cast("long").alias("o_orderkey"),
                F.col("o_custkey").cast("long").alias("o_custkey"))
    )


SQL_EXCLUDED_ANTI = """
    SELECT o_orderkey::BIGINT AS o_orderkey, o_custkey::BIGINT AS o_custkey
    FROM orders
    WHERE NOT EXISTS (SELECT 1 FROM customer
                      WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
"""


def q_dedup_first_wins(spark, sf_dir):
    """J3a — first-arrival-wins dedup, flag-not-drop (orchestrator.py:150-188)."""
    e = _t(spark, sf_dir, "events")
    key = F.concat(F.col("event_type"), F.lit("-"), F.pmod(F.col("user_id"), F.lit(50)).cast("string"))
    w = Window.partitionBy("key").orderBy(F.col("ts"), F.col("event_id"))
    return (
        e.select(F.col("event_id").cast("long").alias("event_id"), key.alias("key"), "ts")
        .withColumn("_rn", F.row_number().over(w))
        .select(
            "event_id",
            "key",
            (F.col("_rn") > 1).alias("filtered"),
            F.when(F.col("_rn") > 1, F.lit(STAGE_DEDUP_CURRENT)).otherwise(F.lit(None).cast("string")).alias("filtered_at_stage"),
        )
    )


SQL_DEDUP_FIRST = f"""
    SELECT event_id::BIGINT AS event_id, key,
           rn > 1 AS filtered,
           CASE WHEN rn > 1 THEN '{STAGE_DEDUP_CURRENT}' END AS filtered_at_stage
    FROM (
      SELECT event_id, event_type || '-' || (user_id % 50)::VARCHAR AS key,
             ROW_NUMBER() OVER (PARTITION BY event_type || '-' || (user_id % 50)::VARCHAR
                                ORDER BY ts, event_id) AS rn
      FROM events
    )
"""


def q_dedup_prev_run(spark, sf_dir):
    """J3b — previous-run set: every occurrence of a seen key is flagged
    'previous run'; unseen keys dedup first-wins (orchestrator.py:170-186)."""
    e = _t(spark, sf_dir, "events")
    key = F.concat(F.col("event_type"), F.lit("-"), F.pmod(F.col("user_id"), F.lit(50)).cast("string"))
    base = e.select(F.col("event_id").cast("long").alias("event_id"), key.alias("key"), "ts")
    seen = base.where(F.pmod(F.col("event_id"), F.lit(97)) == 0).select("key").distinct().withColumn("_seen", F.lit(True))
    w = Window.partitionBy("key").orderBy(F.col("ts"), F.col("event_id"))
    out = (
        base.join(seen, "key", "left")
        .withColumn("_seen", F.coalesce(F.col("_seen"), F.lit(False)))
        .withColumn("_rn", F.row_number().over(w))
    )
    return out.select(
        "event_id",
        "key",
        (F.col("_seen") | (F.col("_rn") > 1)).alias("filtered"),
        F.when(F.col("_seen"), F.lit(STAGE_DEDUP_PREVIOUS))
        .when(F.col("_rn") > 1, F.lit(STAGE_DEDUP_CURRENT))
        .otherwise(F.lit(None).cast("string"))
        .alias("filtered_at_stage"),
    )


SQL_DEDUP_PREV = f"""
    WITH base AS (
      SELECT event_id::BIGINT AS event_id,
             event_type || '-' || (user_id % 50)::VARCHAR AS key, ts
      FROM events
    ), seen AS (
      SELECT DISTINCT key FROM base WHERE event_id % 97 = 0
    ), ranked AS (
      SELECT b.*, key IN (SELECT key FROM seen) AS in_seen,
             ROW_NUMBER() OVER (PARTITION BY key ORDER BY ts, event_id) AS rn
      FROM base b
    )
    SELECT event_id, key,
           (in_seen OR rn > 1) AS filtered,
           CASE WHEN in_seen THEN '{STAGE_DEDUP_PREVIOUS}'
                WHEN rn > 1 THEN '{STAGE_DEDUP_CURRENT}' END AS filtered_at_stage
    FROM ranked
"""


def q_keyword_topk(spark, sf_dir):
    """A1+T1 — max-volume keyword agg with stable-sort tie-break
    (enrich.py:292-302)."""
    e = _t(spark, sf_dir, "events")
    kw = e.select(
        F.col("event_type").alias("text"),
        F.round(F.col("value") * 100, 0).cast("long").alias("volume"),
        F.col("event_id").cast("long").alias("arrival_idx"),
    )
    return (
        kw.groupBy("text")
        .agg(F.max("volume").alias("volume"), F.min("arrival_idx").alias("first_seen_idx"))
        .orderBy(F.desc("volume"), F.asc("first_seen_idx"))
        .limit(3)
        .select("text", "volume")
    )


SQL_KEYWORD_TOPK = """
    SELECT text, volume FROM (
      SELECT event_type AS text,
             MAX(ROUND(value * 100, 0)::BIGINT) AS volume,
             MIN(event_id)::BIGINT AS first_seen_idx
      FROM events GROUP BY event_type
    ) ORDER BY volume DESC, first_seen_idx ASC LIMIT 3
"""


def q_topk_per_seed(spark, sf_dir):
    """T2 — per-seed result budget via windowed top-k (serp.py:112)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.col("o_orderdate"), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "o_orderpriority",
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


SQL_TOPK_PER_SEED = """
    SELECT o_orderpriority, o_orderkey::BIGINT AS o_orderkey, rn::BIGINT AS rn
    FROM (
      SELECT o_orderpriority, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
"""

_CONF_PROMPT = Prompt(
    name="conformance", context="conformance", allowed_classes=(0, 1, 2),
    default_if_missing=-1,
)


def q_classify(spark, sf_dir):
    """F6/X8/X9 — guard → byte-exact template → md5 classify → validate."""
    d = _t(spark, sf_dir, "documents")
    name = F.when(F.pmod(F.col("doc_id"), F.lit(10)) == 0, F.lit(None).cast("string")).otherwise(
        F.concat(F.lit("doc "), F.col("doc_id").cast("string"))
    )
    desc = F.when(F.pmod(F.col("doc_id"), F.lit(13)) == 0, F.lit(None).cast("string")).otherwise(
        F.substring(F.col("text"), 1, 40)
    )
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        classify_expr(_CONF_PROMPT, name, desc).cast("long").alias("classification"),
    )


# the template byte-exact: 'Context: {c}\n\nProduct Details: {n}\n{d}\\n\nRelevance:'
# chr(10)=newline, chr(92)='\' (the template's literal backslash-n typo)
SQL_CLASSIFY = """
    WITH inp AS (
      SELECT doc_id::BIGINT AS doc_id,
             CASE WHEN doc_id % 10 = 0 THEN NULL
                  ELSE 'doc ' || doc_id::VARCHAR END AS name,
             CASE WHEN doc_id % 13 = 0 THEN NULL
                  ELSE substr(text, 1, 40) END AS descr
      FROM documents
    ), up AS (
      SELECT doc_id, name, descr,
             'Context: conformance' || chr(10) || chr(10) ||
             'Product Details: ' || name || chr(10) || descr ||
             chr(92) || 'n' || chr(10) || 'Relevance:' AS user_prompt
      FROM inp
    )
    SELECT doc_id,
           CASE WHEN name IS NULL OR descr IS NULL THEN -1
                WHEN (('0x' || substr(md5(user_prompt),1,8))::UBIGINT % 10) IN (0,1,2)
                     THEN (('0x' || substr(md5(user_prompt),1,8))::UBIGINT % 10)::BIGINT
                ELSE -1 END AS classification
    FROM up
"""


def q_probability_flag(spark, sf_dir):
    """F3 — strict-> threshold flag with null-keeps quirk (zyte.py:100-117,
    orchestrator.py:211-235)."""
    e = _t(spark, sf_dir, "events")
    prob = F.when(F.pmod(F.col("event_id"), F.lit(20)) == 7, F.lit(None).cast("double")).otherwise(
        F.round(F.col("value"), 2) / 100
    )
    out = e.select(F.col("event_id").cast("long").alias("event_id"), prob.alias("_p"))
    flagged = F.col("_p").isNotNull() & (F.col("_p") <= 0.1)
    return out.select(
        "event_id",
        F.round(F.col("_p"), 4).alias("probability"),
        flagged.alias("filtered"),
        F.when(flagged, F.lit(STAGE_PROBABILITY)).otherwise(F.lit(None).cast("string")).alias("filtered_at_stage"),
    )


SQL_PROBABILITY = f"""
    SELECT event_id::BIGINT AS event_id,
           ROUND(p, 4) AS probability,
           (p IS NOT NULL AND p <= 0.1) AS filtered,
           CASE WHEN p IS NOT NULL AND p <= 0.1 THEN '{STAGE_PROBABILITY}' END AS filtered_at_stage
    FROM (
      SELECT event_id,
             CASE WHEN event_id % 20 = 7 THEN NULL ELSE ROUND(value, 2) / 100 END AS p
      FROM events
    )
"""


def q_fetch_left_outer(spark, sf_dir):
    """J5 + §2.9 retry surface — fetch-as-left-outer-join: missing page ==
    fetch failure, surfaced as an explicit fetch_status column ('miss' =
    retry-exhaustion terminal state, operators/fetch.py) rather than only
    null extract fields."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(F.col("c_custkey").cast("long").alias("c_custkey"))
        .agg(F.count("o_orderkey").alias("n_orders"))
        .select("c_custkey", F.col("n_orders").cast("long").alias("n_orders"),
                (F.col("n_orders") > 0).alias("fetched"),
                F.when(F.col("n_orders") > 0, F.lit("hit"))
                 .otherwise(F.lit("miss")).alias("fetch_status"))
    )


SQL_FETCH_LEFT = """
    SELECT c_custkey::BIGINT AS c_custkey, COUNT(o_orderkey)::BIGINT AS n_orders,
           COUNT(o_orderkey) > 0 AS fetched,
           CASE WHEN COUNT(o_orderkey) > 0 THEN 'hit' ELSE 'miss' END AS fetch_status
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
"""


def q_set_except(spark, sf_dir):
    """U3 — EXCEPT semantics (click users minus purchase users)."""
    e = _t(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(F.col("user_id").cast("long").alias("user_id")).distinct()
    buys = e.where(F.col("event_type") == "purchase").select(F.col("user_id").cast("long").alias("user_id")).distinct()
    return clicks.join(buys, "user_id", "left_anti")


SQL_SET_EXCEPT = """
    SELECT DISTINCT user_id::BIGINT AS user_id FROM events WHERE event_type = 'click'
    EXCEPT
    SELECT DISTINCT user_id::BIGINT AS user_id FROM events WHERE event_type = 'purchase'
"""


def q_union_dedup(spark, sf_dir):
    """U1/U2 — union of two streams then max-agg (suggested ∪ related)."""
    p = _t(spark, sf_dir, "part")
    a = p.where(F.col("p_size") < 10).select("p_brand", F.col("p_retailprice").alias("v"))
    b = p.where(F.col("p_size") >= 40).select("p_brand", F.col("p_retailprice").alias("v"))
    return (
        a.unionByName(b)
        .groupBy("p_brand")
        .agg(F.round(F.max("v"), 2).alias("max_price"), F.count(F.lit(1)).cast("long").alias("n"))
    )


SQL_UNION_DEDUP = """
    SELECT p_brand, ROUND(MAX(v), 2) AS max_price, COUNT(*)::BIGINT AS n
    FROM (
      SELECT p_brand, p_retailprice AS v FROM part WHERE p_size < 10
      UNION ALL
      SELECT p_brand, p_retailprice AS v FROM part WHERE p_size >= 40
    ) GROUP BY p_brand
"""


def q_frontier_order(spark, sf_dir):
    """T4 — priority-frontier canonical ordering (priority, host, depth)."""
    o = _t(spark, sf_dir, "orders")
    fr = o.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.substring("o_orderpriority", 1, 1).cast("long").alias("priority"),
        F.concat(F.lit("h"), F.pmod(F.col("o_custkey"), F.lit(20)).cast("string")).alias("host"),
        F.pmod(F.col("o_orderkey"), F.lit(3)).cast("long").alias("crawl_depth"),
    )
    # Global top-100 WITHOUT a global-order window (which would funnel the
    # whole frontier through one task): orderBy+limit compiles to
    # TakeOrderedAndProject — each partition keeps its local top-100, the
    # driver merges. Rank is then derived over the bounded 100-row result
    # via a window partitioned on a constant-valued but NON-FOLDABLE key
    # (pmod(o_orderkey, 1) ≡ 0; lit(1) would be folded away and re-trigger
    # the unpartitioned-window path): one 100-row partition by design.
    order = ["priority", "host", "crawl_depth", "o_orderkey"]
    top = fr.orderBy(*order).limit(100).withColumn(
        "_b", F.pmod(F.col("o_orderkey"), F.lit(1))
    )
    w = Window.partitionBy("_b").orderBy(*order)
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long")).drop("_b")
    )


SQL_FRONTIER_ORDER = """
    SELECT * FROM (
      SELECT o_orderkey::BIGINT AS o_orderkey,
             substr(o_orderpriority, 1, 1)::BIGINT AS priority,
             'h' || (o_custkey % 20)::VARCHAR AS host,
             (o_orderkey % 3)::BIGINT AS crawl_depth,
             ROW_NUMBER() OVER (ORDER BY substr(o_orderpriority,1,1)::BIGINT,
                                'h' || (o_custkey % 20)::VARCHAR,
                                o_orderkey % 3, o_orderkey)::BIGINT AS rank
      FROM orders
    ) WHERE rank <= 100
"""


def q_politeness_cells(spark, sf_dir):
    """schedule_cell semantics — (host, salt) cells, per-cell budget 3."""
    c = _t(spark, sf_dir, "customer")
    urls = c.select(
        F.concat(
            F.lit("https://h"), F.pmod(F.col("c_custkey"), F.lit(10)).cast("string"),
            F.lit(".ch/p"), F.col("c_custkey").cast("string"),
        ).alias("url"),
        F.concat(F.lit("h"), F.pmod(F.col("c_custkey"), F.lit(10)).cast("string")).alias("host"),
    )
    salt = F.pmod(F.conv(F.substring(F.md5(F.col("url")), 1, 4), 16, 10).cast("long"), F.lit(4))
    w = Window.partitionBy("host", "salt").orderBy("url")
    return (
        urls.withColumn("salt", salt)
        .withColumn("_rn", F.row_number().over(w))
        .select("url", "host", F.col("salt").cast("long").alias("salt"), (F.col("_rn") <= 3).alias("scheduled"))
    )


SQL_POLITENESS = """
    SELECT url, host, salt::BIGINT AS salt, rn <= 3 AS scheduled
    FROM (
      SELECT url, host, salt,
             ROW_NUMBER() OVER (PARTITION BY host, salt ORDER BY url) AS rn
      FROM (
        SELECT url, host,
               ('0x' || substr(md5(url), 1, 4))::UBIGINT % 4 AS salt
        FROM (
          SELECT 'https://h' || (c_custkey % 10)::VARCHAR || '.ch/p' || c_custkey::VARCHAR AS url,
                 'h' || (c_custkey % 10)::VARCHAR AS host
          FROM customer
        )
      )
    )
"""


def q_pipeline_composite(spark, sf_dir):
    """Flagship: discovery→country flag→dedup→classify composed on documents
    (the M1 pipeline shape on the driver's tables)."""
    d = _t(spark, sf_dir, "documents")
    tld = F.element_at(
        F.array(F.lit(".ch"), F.lit(".com"), F.lit(".de"), F.lit(".it")),
        (F.pmod(F.col("doc_id"), F.lit(4)) + 1).cast("int"),
    )
    base = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("lang"),
        F.concat(F.lit("https://shop"), F.pmod(F.col("doc_id"), F.lit(40)).cast("string"),
                 tld, F.lit("/p"), F.pmod(F.col("doc_id"), F.lit(100)).cast("string")).alias("url"),
        F.concat(F.lit("doc "), F.col("doc_id").cast("string")).alias("name"),
        F.substring("text", 1, 40).alias("descr"),
    )
    keep = country_keep(F.col("url"), "ch")
    flagged = base.withColumn("filtered", ~keep).withColumn(
        "filtered_at_stage",
        F.when(~keep, F.lit(STAGE_COUNTRY)).otherwise(F.lit(None).cast("string")),
    )
    w = Window.partitionBy("url").orderBy(F.col("filtered").cast("int"), F.col("doc_id"))
    deduped = flagged.withColumn("_rn", F.row_number().over(w)).select(
        "*",
        ((~F.col("filtered")) & (F.col("_rn") > 1)).alias("_dup"),
    )
    deduped = (
        deduped.withColumn(
            "filtered_at_stage",
            F.when(F.col("_dup"), F.lit(STAGE_DEDUP_CURRENT)).otherwise(F.col("filtered_at_stage")),
        )
        .withColumn("filtered", F.col("filtered") | F.col("_dup"))
        .drop("_rn", "_dup")
    )
    cls = F.when(
        F.col("filtered"), F.lit(None).cast("long")
    ).otherwise(classify_expr(_CONF_PROMPT, F.col("name"), F.col("descr")).cast("long"))
    return deduped.select("doc_id", "url", "lang", "filtered", "filtered_at_stage",
                          cls.alias("classification"))


SQL_PIPELINE_COMPOSITE = f"""
    WITH base AS (
      SELECT doc_id::BIGINT AS doc_id, lang,
             'https://shop' || (doc_id % 40)::VARCHAR ||
             list_extract(['.ch','.com','.de','.it'], (doc_id % 4)::int + 1) ||
             '/p' || (doc_id % 100)::VARCHAR AS url,
             'doc ' || doc_id::VARCHAR AS name,
             substr(text, 1, 40) AS descr
      FROM documents
    ), flagged AS (
      SELECT *,
             NOT (contains(lower(url), '.ch') OR contains(lower(url), '.com')) AS filtered,
             CASE WHEN NOT (contains(lower(url), '.ch') OR contains(lower(url), '.com'))
                  THEN '{STAGE_COUNTRY}' END AS stage
      FROM base
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY filtered::int, doc_id) AS rn
      FROM flagged
    ), deduped AS (
      SELECT doc_id, url, lang, name, descr,
             (filtered OR (NOT filtered AND rn > 1)) AS filtered,
             CASE WHEN NOT filtered AND rn > 1 THEN '{STAGE_DEDUP_CURRENT}'
                  ELSE stage END AS filtered_at_stage
      FROM ranked
    )
    SELECT doc_id, url, lang, filtered, filtered_at_stage,
           CASE WHEN filtered THEN NULL
                WHEN name IS NULL OR descr IS NULL THEN -1
                WHEN (('0x' || substr(md5('Context: conformance' || chr(10) || chr(10) ||
                      'Product Details: ' || name || chr(10) || descr ||
                      chr(92) || 'n' || chr(10) || 'Relevance:'),1,8))::UBIGINT % 10) IN (0,1,2)
                     THEN (('0x' || substr(md5('Context: conformance' || chr(10) || chr(10) ||
                      'Product Details: ' || name || chr(10) || descr ||
                      chr(92) || 'n' || chr(10) || 'Relevance:'),1,8))::UBIGINT % 10)::BIGINT
                ELSE -1 END AS classification
    FROM deduped
"""


def q_dim_code_lookup(spark, sf_dir):
    """J4 — language/location name→code resolution: inner join against a
    broadcast dim with lowercase cast (reference base/base.py:61-90);
    unmatched names drop (the reference raises at job setup)."""
    n = _t(spark, sf_dir, "nation")
    dim = local_df(
        spark,
        [("GERMANY", "DE"), ("FRANCE", "FR"), ("ITALY", "IT"),
         ("SWITZERLAND", "CH"), ("JAPAN", "JP"), ("CANADA", "CA")],
        "name string, code string",
    )
    return (
        n.join(F.broadcast(dim), n["n_name"] == dim["name"], "inner")
        .select(
            F.col("n_nationkey").cast("long").alias("n_nationkey"),
            "n_name",
            F.lower(F.col("code")).alias("code"),
        )
    )


SQL_DIM_CODE_LOOKUP = """
    WITH dim(name, code) AS (
      VALUES ('GERMANY','DE'),('FRANCE','FR'),('ITALY','IT'),
             ('SWITZERLAND','CH'),('JAPAN','JP'),('CANADA','CA')
    )
    SELECT n_nationkey::BIGINT AS n_nationkey, n_name, lower(code) AS code
    FROM nation JOIN dim ON n_name = dim.name
"""


def q_host_restrict(spark, sf_dir):
    """X7 — marketplace site: restriction as a host predicate on the
    discovery scan (reference serp.py:222-225 builds 'site:a OR site:b')."""
    urls = _customer_urls(spark, sf_dir)
    host = F.regexp_extract(F.col("url"), r"^https?://([^/]+)", 1)
    allowed = [f"shop{i}.ch" for i in range(0, 200, 4)]
    return urls.select(
        "c_custkey", "url", host.alias("host")
    ).where(F.col("host").isin(allowed))


SQL_HOST_RESTRICT = """
    SELECT c_custkey, url, host FROM (
      SELECT c_custkey, url, regexp_extract(url, '^https?://([^/]+)', 1) AS host
      FROM ({base})
    )
    WHERE host IN ({hosts})
""".format(
    base=_CUSTOMER_URLS_SQL,
    hosts=",".join(f"'shop{i}.ch'" for i in range(0, 200, 4)),
)


def q_json_extract(spark, sf_dir):
    """X13/X14 — nested-JSON field extraction with None-coalescing at
    each level (reference enrich.py:47-61 item iterator semantics):
    events.props is a JSON string; pull $.k null-safely."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k")
    return e.select(
        F.col("event_id").cast("long").alias("event_id"),
        k.cast("long").alias("k"),
        F.coalesce(k.cast("long"), F.lit(-1)).alias("k_or_default"),
    )


SQL_JSON_EXTRACT = """
    SELECT event_id::BIGINT AS event_id,
           json_extract_string(props, '$.k')::BIGINT AS k,
           COALESCE(json_extract_string(props, '$.k')::BIGINT, -1) AS k_or_default
    FROM events
"""


def q_scalar_funcs(spark, sf_dir):
    """Scalar-function inventory (X10 split/trim, X11 lower, X12 base64,
    X15 timestamp format) in one projection."""
    c = _t(spark, sf_dir, "customer")
    dom_list = F.transform(
        F.split(F.concat(F.lit("a.ch, b"), F.pmod(F.col("c_custkey"), F.lit(7)).cast("string"),
                         F.lit(".ch ,c.com")), ","),
        lambda x: F.trim(x),
    )
    return c.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        F.lower(F.col("c_mktsegment")).alias("seg_lower"),
        F.base64(F.encode(F.col("c_name"), "utf-8")).alias("name_b64"),
        F.concat_ws("|", dom_list).alias("domains_split"),
        F.date_format(F.lit("2025-05-23 01:02:03").cast("timestamp"),
                      "yyyyMMddHHmmss").alias("run_ts"),
    )


SQL_SCALAR_FUNCS = """
    SELECT c_custkey::BIGINT AS c_custkey,
           lower(c_mktsegment) AS seg_lower,
           to_base64(c_name::BLOB) AS name_b64,
           list_aggregate(
             list_transform(string_split('a.ch, b' || (c_custkey % 7)::VARCHAR || '.ch ,c.com', ','),
                            x -> trim(x)), 'string_agg', '|') AS domains_split,
           strftime(TIMESTAMP '2025-05-23 01:02:03', '%Y%m%d%H%M%S') AS run_ts
    FROM customer
"""


def q_distinct_urls(spark, sf_dir):
    """A2 — exact distinct accumulation (the seen-set cardinality metric)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


SQL_DISTINCT_URLS = """
    SELECT event_type, COUNT(DISTINCT user_id)::BIGINT AS n_users,
           COUNT(*)::BIGINT AS n_events
    FROM events GROUP BY event_type
"""
