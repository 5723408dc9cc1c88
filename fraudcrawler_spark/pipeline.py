"""M1 — the flagship single-round pipeline (reference ``execute()`` analog).

Mirrors the reference's 5-stage dataflow (orchestrator.py:296-375) as one
declarative DataFrame DAG:

    seeds → discover (SERP analog: match+top-k, country flag, marketplace
    join, excluded anti-join) → dedup (first-unflagged-wins, flag-not-drop)
    → fetch join + extract kernel + probability flag → classify → results

Stage barriers land on shuffle boundaries exactly where the reference put
its queue sentinels (SURVEY.md §3.1). Everything except the single
extract kernel is JVM-side Catalyst expressions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraudcrawler_spark.config import CrawlConfig, Enrichment, Prompt
from fraudcrawler_spark.operators.classify_stage import classify_stage
from fraudcrawler_spark.operators.dedupe import dedup_flag
from fraudcrawler_spark.operators.discover import discover
from fraudcrawler_spark.operators.enrich import derive_enriched_seeds
from fraudcrawler_spark.operators.fetch import fetch_extract

RESULT_COLUMNS = [
    "search_term",
    "search_term_type",
    "url",
    "marketplace_name",
    "domain",
    "product_name",
    "product_price",
    "product_description",
    "product_images",
    "probability",
    "classifications",
    "filtered",
    "filtered_at_stage",
    "is_relevant",
]


def read_corpus(spark: SparkSession, corpus_dir: str) -> dict[str, DataFrame]:
    out = {}
    for name in ("pages", "seeds", "hosts", "excluded_hosts", "robots",
                 "prompts", "redirects", "sitemaps", "fetch_log"):
        p = os.path.join(corpus_dir, f"{name}.parquet")
        if os.path.exists(p):
            out[name] = spark.read.parquet(p)
    return out


def prompts_from_dim(prompts_df: DataFrame) -> tuple[Prompt, ...]:
    rows = prompts_df.collect()  # tiny dim table — driver-side by design
    return tuple(
        Prompt(
            name=r["name"],
            context=r["context"],
            system_prompt=r["system_prompt"],
            allowed_classes=tuple(r["allowed_classes"]),
            default_if_missing=r["default_if_missing"],
        )
        for r in rows
    )


def run_pipeline(
    spark: SparkSession,
    corpus_dir: str,
    config: CrawlConfig | None = None,
    seen: DataFrame | None = None,
    enrichment: Enrichment | None = None,
) -> DataFrame:
    """End-to-end single round over a corpus directory → results DataFrame.

    With ``enrichment`` set, keyword-derived seeds are unioned after the
    initial ones (reference orchestrator.py:428-447, U2).
    """
    config = config or CrawlConfig()
    t = read_corpus(spark, corpus_dir)
    prompts = config.prompts or (
        prompts_from_dim(t["prompts"]) if "prompts" in t else ()
    )

    seeds = t["seeds"]
    if enrichment is not None:
        seeds = seeds.unionByName(
            derive_enriched_seeds(t["pages"], t["seeds"], enrichment)
        )

    items = discover(
        t["pages"],
        seeds,
        hosts=t.get("hosts"),
        excluded_hosts=t.get("excluded_hosts"),
        country_code=config.country_code,
    )
    # Deterministic arrival key = reference FIFO at n_workers=1:
    # seeds in priority order, results in rank order per seed.
    items = items.join(
        F.broadcast(seeds.select("search_term", "priority")), "search_term", "left"
    )
    items = dedup_flag(items, order_by=[F.col("priority"), F.col("serp_rank")], seen=seen)
    items = fetch_extract(items, t["pages"], threshold=config.probability_threshold,
                          keep_links=False)
    items = classify_stage(items, prompts)
    return items.select(*RESULT_COLUMNS)
