"""Discovery stage — the SERP analog (S2/T2/F1/J1/J2 in SURVEY.md §2).

Reference behavior (/root/reference/fraudcrawler/scraping/serp.py:199-251):
a web search per seed term returns up to ``num_results`` URLs which are
then country-flagged, domain-parsed, marketplace-tagged and
excluded-domain-dropped. Our engine's "search index" is the pages corpus
itself: a page matches a term when its title (first text line) starts
with the term; rank = page id embedded in the URL. That keeps discovery a
broadcast equi-join + windowed top-k — no cross joins, scalable to 10^10
pages (seeds are tiny ⇒ broadcast; per-seed top-k is one shuffle on
search_term).

Flag-not-drop (serp.py:176-177): the country filter sets
``filtered``/``filtered_at_stage`` and rows continue; ONLY the
excluded-domain filter hard-drops (serp.py:244-246) via an anti-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fraudcrawler_spark.config import DEFAULT_MARKETPLACE, STAGE_COUNTRY
from fraudcrawler_spark.functions.urls import canonical_host_expr


def page_id_expr(url):
    """Deterministic rank key: the zero-padded page id in corpus urls."""
    return F.regexp_extract(url, r"p(\d{6})", 1).cast("int")


def match_seed_terms(pages: DataFrame, seeds: DataFrame) -> DataFrame:
    """pages ⨝ seeds on the page-title leading term (broadcast equi-join).

    Discovery scan reads only (url, text) — html:binary is never touched
    here (column pruning keeps the 100 TB scan cheap).
    """
    cand = pages.select(
        "url",
        F.split(F.split(F.col("text"), "\n").getItem(0), " ").getItem(0).alias("_title_term"),
    )
    return cand.join(
        F.broadcast(seeds), cand["_title_term"] == seeds["search_term"], "inner"
    ).drop("_title_term")


def topk_per_seed(matched: DataFrame) -> DataFrame:
    """Per-seed result budget (reference serp.py:112 ``num`` param,
    orchestrator.py:424,445): top ``num_results`` by rank per term."""
    w = Window.partitionBy("search_term").orderBy(page_id_expr(F.col("url")))
    return (
        matched.withColumn("serp_rank", F.row_number().over(w))
        .where(F.col("serp_rank") <= F.col("num_results"))
    )


def country_keep(url: Column, country_code: str) -> Column:
    """F1 — true iff ``.{cc}`` OR ``.com`` is a SUBSTRING of lower(url)
    (reference serp.py:150-158 — substring, not suffix; quirk preserved).
    Discovery flags by it; sitemap seeding and the link gate drop by it."""
    u = F.lower(url)
    return u.contains(f".{country_code.lower()}") | u.contains(".com")


def marketplace_join(df: DataFrame, hosts: DataFrame | None) -> DataFrame:
    """J1 — first-match-in-list-order marketplace lookup on lowercased
    domain (reference serp.py:179-190); miss ⇒ "Google" (serp.py:29).

    Broadcast the exploded dim; list-order priority via min(host_idx).
    """
    df = df.withColumn("domain", canonical_host_expr(F.col("url")))
    if hosts is None:
        return df.withColumn("marketplace_name", F.lit(DEFAULT_MARKETPLACE))
    dim = (
        hosts.select(
            F.col("name").alias("_mp_name"),
            F.col("host_idx").alias("_mp_idx"),
            F.explode("domains").alias("_mp_domain"),
        )
        .withColumn("_mp_domain", F.lower(F.col("_mp_domain")))
        .groupBy("_mp_domain")
        .agg(F.min_by("_mp_name", "_mp_idx").alias("_mp_name"))
    )
    out = df.join(
        F.broadcast(dim), F.lower(df["domain"]) == dim["_mp_domain"], "left"
    )
    return out.withColumn(
        "marketplace_name", F.coalesce(F.col("_mp_name"), F.lit(DEFAULT_MARKETPLACE))
    ).drop("_mp_name", "_mp_domain")


def excluded_domains(excluded_hosts: DataFrame | None,
                     name: str = "domain") -> DataFrame | None:
    """J2 — the excluded-domain set (None without the dim): one row per
    domain, in column ``name``, matched against ``canonical_host_expr``
    of a url. The one HARD drop (serp.py:244-246), in discovery, sitemap
    seeding and the link gate."""
    if excluded_hosts is None:
        return None
    return excluded_hosts.select(F.explode("domains").alias(name)).distinct()


def discover(
    pages: DataFrame,
    seeds: DataFrame,
    hosts: DataFrame | None = None,
    excluded_hosts: DataFrame | None = None,
    country_code: str = "ch",
) -> DataFrame:
    """Full discovery stage: one row per (seed, discovered url), with
    ProductItem-shaped columns (reference orchestrator.py:136-144)."""
    flag = ~country_keep(F.col("url"), country_code)
    df = topk_per_seed(match_seed_terms(pages, seeds)).withColumn(
        "filtered", flag
    ).withColumn("filtered_at_stage", F.when(flag, F.lit(STAGE_COUNTRY)))
    df = marketplace_join(df, hosts)
    excl = excluded_domains(excluded_hosts)
    if excl is not None:
        df = df.join(F.broadcast(excl), "domain", "left_anti")
    return df.select(
        "search_term",
        "search_term_type",
        "url",
        "marketplace_name",
        "domain",
        "serp_rank",
        "filtered",
        "filtered_at_stage",
    )
