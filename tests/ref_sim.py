"""Pure-Python simulator of the reference pipeline's semantics.

The reference package itself cannot be imported here (aiohttp/openai are
not installed), so this module re-implements its documented per-row
semantics — from /root/reference/fraudcrawler (see file:line cites) — as
a sequential oracle: single-worker FIFO order (deterministic, matching
the reference at n_*_wkrs=1), flag-not-drop, first-unflagged-wins dedup,
sequential field-extraction with the float(None) probability quirk, and
the md5-based deterministic classifier shared with the engine.

Golden traces produced here are what BASELINE.json's north_rule calls
"the reference's crawl ordering and URL-seen set".
"""

from __future__ import annotations

import os
import re

import pandas as pd

from fraudcrawler_spark.config import (
    DEFAULT_IF_MISSING,
    DEFAULT_IS_RELEVANT,
    DEFAULT_MARKETPLACE,
    PROBABILITY_THRESHOLD,
    STAGE_COUNTRY,
    STAGE_DEDUP_CURRENT,
    STAGE_DEDUP_PREVIOUS,
    STAGE_PROBABILITY,
    Prompt,
)
from fraudcrawler_spark.datagen import extract_fields, extract_links
from fraudcrawler_spark.functions.classify import classify_py
from fraudcrawler_spark.functions.urls import _ref_get_domain

_PID_RE = re.compile(r"p(\d{6})")


def _page_id(url: str) -> int:
    m = _PID_RE.search(url)
    return int(m.group(1)) if m else 1 << 40


def load_corpus(corpus_dir: str) -> dict[str, pd.DataFrame]:
    out = {}
    for name in ("pages", "seeds", "hosts", "excluded_hosts", "robots", "prompts"):
        p = os.path.join(corpus_dir, f"{name}.parquet")
        if os.path.exists(p):
            out[name] = pd.read_parquet(p)
    return out


def keep_url(url: str, country_code: str) -> bool:
    """Reference serp.py:150-158 — substring test, quirk and all."""
    return f".{country_code}" in url.lower() or ".com" in url.lower()


def _enriched_seed_rows(t: dict, seeds: pd.DataFrame, n_terms: int,
                        urls_per_term: int) -> pd.DataFrame:
    """Python twin of operators/enrich.py::derive_enriched_seeds."""
    title_term = t["pages"]["text"].str.split("\n").str[0].str.split(" ").str[0]
    pids = t["pages"]["url"].map(_page_id)
    stats: dict[str, tuple[int, int]] = {}  # term -> (volume, first_seen)
    for term, pid in zip(title_term, pids):
        vol, first = stats.get(term, (0, 1 << 60))
        stats[term] = (vol + 1, min(first, pid))
    rows = []
    for seed in seeds.itertuples():
        cand = []
        for term, (vol, first) in stats.items():
            base = term.split("-")[0]
            if base != seed.search_term or term == seed.search_term:
                continue
            if term.endswith("-forte"):
                cand.append((term, vol, first))
            elif term.endswith("-plus"):
                cand.append((term, vol, first + (1 << 40)))
        # A1 max-volume agg is a no-op here (terms unique) — keep sort+topk
        cand.sort(key=lambda x: (-x[1], x[2], x[0]))
        for rank, (term, vol, _) in enumerate(cand[:n_terms], start=1):
            rows.append(
                {
                    "search_term": term,
                    "search_term_type": "enriched",
                    "num_results": urls_per_term,
                    "language_code": seed.language_code,
                    "location_code": seed.location_code,
                    "priority": 100 + seed.priority * 10 + rank,
                }
            )
    return pd.DataFrame(rows)


def simulate(
    corpus_dir: str,
    country_code: str = "ch",
    threshold: float = PROBABILITY_THRESHOLD,
    previously_collected: set[str] | None = None,
    enrichment: tuple[int, int] | None = None,
) -> dict:
    """Run the reference pipeline semantics sequentially over the corpus.

    Returns {"rows": [...], "visit_order": [...], "seen_set": set()}.
    ``enrichment=(n_terms, urls_per_term)`` appends keyword-derived seeds
    after the initial ones (reference orchestrator.py:428-447).
    """
    t = load_corpus(corpus_dir)
    pages = t["pages"].set_index("url", drop=False)
    seeds = t["seeds"].sort_values("priority")
    if enrichment is not None:
        extra = _enriched_seed_rows(t, seeds, *enrichment)
        if len(extra):
            seeds = pd.concat([seeds, extra], ignore_index=True).sort_values("priority")
    marketplaces = (
        list(t["hosts"].sort_values("host_idx").itertuples()) if "hosts" in t else []
    )
    excluded: set[str] = set()
    if "excluded_hosts" in t:
        for doms in t["excluded_hosts"]["domains"]:
            excluded.update(doms)
    prompts = [
        Prompt(
            name=r["name"],
            context=r["context"],
            system_prompt=r["system_prompt"],
            allowed_classes=tuple(r["allowed_classes"]),
            default_if_missing=int(r["default_if_missing"]),
        )
        for _, r in t["prompts"].iterrows()
    ] if "prompts" in t else []

    # discovery index: title leading term → page urls by page id
    title_term = (
        t["pages"]["text"].str.split("\n").str[0].str.split(" ").str[0]
    )
    by_term: dict[str, list[str]] = {}
    for url, term in zip(t["pages"]["url"], title_term):
        by_term.setdefault(term, []).append(url)
    for term in by_term:
        by_term[term].sort(key=_page_id)

    previous = set(previously_collected or ())
    current: set[str] = set()
    rows: list[dict] = []
    visit_order: list[str] = []

    for seed in seeds.itertuples():
        urls = by_term.get(seed.search_term, [])[: int(seed.num_results)]
        for url in urls:
            # SERP stage: country flag (serp.py:176-177) + marketplace (179-190)
            filtered = not keep_url(url, country_code)
            stage = STAGE_COUNTRY if filtered else None
            domain = _ref_get_domain(url)
            marketplace = DEFAULT_MARKETPLACE
            for mp in marketplaces:
                if domain.lower() in [d.lower() for d in mp.domains]:
                    marketplace = mp.name
                    break
            # excluded hard drop (serp.py:244-246)
            if domain in excluded:
                continue

            row = {
                "search_term": seed.search_term,
                "search_term_type": seed.search_term_type,
                "url": url,
                "marketplace_name": marketplace,
                "domain": domain,
                "product_name": None,
                "product_price": None,
                "product_description": None,
                "product_images": None,
                "probability": None,
                "classifications": {},
                "filtered": filtered,
                "filtered_at_stage": stage,
                "is_relevant": DEFAULT_IS_RELEVANT,
            }

            # URL collection / dedup (orchestrator.py:150-188)
            if not row["filtered"]:
                if url in current:
                    row["filtered"] = True
                    row["filtered_at_stage"] = STAGE_DEDUP_CURRENT
                elif url in previous:
                    row["filtered"] = True
                    row["filtered_at_stage"] = STAGE_DEDUP_PREVIOUS
                else:
                    current.add(url)
                    visit_order.append(url)

            # Zyte stage (orchestrator.py:190-236)
            if not row["filtered"]:
                if url in pages.index:
                    html = pages.loc[url, "html"]
                    doc = html.decode("utf-8")
                    fields = extract_fields(doc)
                    row["product_name"] = fields["product_name"]
                    row["product_price"] = fields["product_price"]
                    row["product_description"] = fields["product_description"]
                    row["product_images"] = fields["product_images"]
                    # float(None) quirk: probability missing ⇒ fields kept,
                    # probability stays None, row NOT flagged
                    # (orchestrator.py:211-235)
                    prob = fields["probability"]
                    if prob is not None:
                        row["probability"] = prob
                        if not prob > threshold:  # zyte.py:117, strict >
                            row["filtered"] = True
                            row["filtered_at_stage"] = STAGE_PROBABILITY
                # fetch failure: row passes through unenriched, unflagged
                # (orchestrator.py:232-235)

            # Processor stage (orchestrator.py:238-283)
            if not row["filtered"]:
                for p in prompts:
                    row["classifications"][p.name] = classify_py(
                        p, url, row["product_name"], row["product_description"]
                    )

            rows.append(row)

    return {"rows": rows, "visit_order": visit_order, "seen_set": current}


# ---------------------------------------------------------------------------
# Multi-round crawl simulator (golden trace for the frontier engine)
# ---------------------------------------------------------------------------

import zlib
from collections import defaultdict

from fraudcrawler_spark.config import CrawlConfig
from fraudcrawler_spark.frontier.politeness import cell_budget
from fraudcrawler_spark.functions.urls import canonical_host_py, canonical_url_py


def _path_of(url: str) -> str:
    return re.sub(r"^https?://[^/]+", "", url)


def simulate_crawl(
    corpus_dir: str,
    config: CrawlConfig | None = None,
    max_rounds: int = 10,
) -> dict:
    """Sequential golden trace of the frontier crawl.

    Implements exactly the engine's documented round semantics
    (frontier/crawl.py) with plain Python sets/dicts: robots + politeness
    cells (salt = zlib.crc32(url) % s — the same value Spark's F.crc32
    computes), Bloom-free exact seen set, canonical order
    (priority, crawl_depth, url) within each cell, reference per-row
    semantics for extract/flag/classify.
    """
    config = config or CrawlConfig()
    t = load_corpus(corpus_dir)
    pages = t["pages"].set_index("url", drop=False)
    robots_prefixes: dict[str, list[str]] = {}
    robots_delay: dict[str, int] = {}
    if "robots" in t:
        for r in t["robots"].itertuples():
            robots_prefixes[r.host] = list(r.disallow_prefixes)
            robots_delay[r.host] = int(r.crawl_delay_ms)
    excluded: set[str] = set()
    if "excluded_hosts" in t:
        for doms in t["excluded_hosts"]["domains"]:
            excluded.update(doms)
    prompts = [
        Prompt(
            name=r["name"],
            context=r["context"],
            system_prompt=r["system_prompt"],
            allowed_classes=tuple(r["allowed_classes"]),
            default_if_missing=int(r["default_if_missing"]),
        )
        for _, r in t["prompts"].iterrows()
    ] if "prompts" in t else []
    cc = config.country_code.lower()

    # --- round 0 frontier = unflagged discovery urls (init_crawl) ----------
    sim = simulate(corpus_dir, country_code=config.country_code,
                   threshold=config.probability_threshold)
    frontier: dict[str, tuple[int, int]] = {}  # url -> (priority, depth)
    for row in sim["rows"]:
        # discovery-time country flag → not enqueued; excluded already dropped
        if row["filtered_at_stage"] == STAGE_COUNTRY:
            continue
        if row["url"] not in frontier:
            frontier[row["url"]] = (0, 0)

    # seen state with TTL-recrawl support (frontier/crawl.py _url_state,
    # _is_seen, _recrawl_due): per-url claim-round history + last retire
    # round. A url is (effectively) seen iff its LAST claim is >= its last
    # retire — same-round retire+re-claim stays seen (`last_claim >=
    # last_retire`).
    claim_hist: dict[str, list[int]] = defaultdict(list)
    retire_last: dict[str, int] = {}

    def is_seen(u: str) -> bool:
        h = claim_hist.get(u)
        if not h:
            return False
        rr = retire_last.get(u)
        return rr is None or h[-1] >= rr

    rounds = []
    all_results = []
    for round_no in range(max_rounds):
        # --- TTL retire + re-enqueue (crawl.py run_round top): the seen
        # DELTA of round er = round_no - k, minus urls re-claimed since,
        # is retired this round and refreshed into the frontier at
        # (priority 0, depth 0) unless already enqueued. The engine's rule
        # (seen and last claim <= round_no - k) retires the same urls while
        # the config is unchanged: no seen url has an older last claim,
        # because each was retired in its due round.
        retired_now: list[str] = []
        if config.recrawl_after_rounds is not None:
            er = round_no - config.recrawl_after_rounds
            if er >= 0:
                expired = sorted(
                    u for u, h in claim_hist.items()
                    if er in h and max(h) <= er
                )
                for u in expired:
                    retire_last[u] = round_no
                    frontier.setdefault(u, (0, 0))
                retired_now = expired
        if not frontier:
            break
        # robots
        blocked, open_ = [], []
        for url, (prio, depth) in frontier.items():
            host = canonical_host_py(url)
            prefixes = robots_prefixes.get(host, [])
            if any(_path_of(url).startswith(p) for p in prefixes):
                blocked.append(url)
            else:
                open_.append((url, host, prio, depth))
        # politeness cells
        cells: dict[tuple[str, int], list] = defaultdict(list)
        for url, host, prio, depth in open_:
            salt = zlib.crc32(url.encode()) % config.salt_shards
            cells[(host, salt)].append((prio, depth, url, host))
        scheduled, deferred = [], {}
        for (host, salt), rows_ in cells.items():
            rows_.sort(key=lambda x: (x[0], x[1], x[2]))
            b = cell_budget(config.host_budget, config.salt_shards,
                            robots_delay.get(host))
            for prio, depth, url, h in rows_[:b]:
                scheduled.append((prio, depth, url, h))
            for prio, depth, url, h in rows_[b:]:
                deferred[url] = (prio, depth)
        scheduled.sort(key=lambda x: (x[0], x[1], x[3], x[2]))

        new = [s for s in scheduled if not is_seen(s[2])]
        # claim delta of this round = newly claimed scheduled + blocked
        # (crawl.py claims the robots-blocked urls beside the scheduled ones)
        for _, _, u, _ in new:
            claim_hist[u].append(round_no)
        for u in blocked:
            if not is_seen(u):
                claim_hist[u].append(round_no)

        # fetch + extract + flag + classify (reference semantics)
        results = []
        for prio, depth, url, host in new:
            row = {
                "url": url, "host": host, "priority": prio,
                "crawl_depth": depth, "round": round_no,
                "product_name": None, "product_price": None,
                "product_description": None, "product_images": None,
                "probability": None, "classifications": {},
                "filtered": False, "filtered_at_stage": None,
                "links": None,
            }
            if url in pages.index:
                doc = pages.loc[url, "html"].decode("utf-8")
                fields = extract_fields(doc)
                for k in ("product_name", "product_price",
                          "product_description", "product_images"):
                    row[k] = fields[k]
                row["links"] = extract_links(doc)
                prob = fields["probability"]
                if prob is not None:
                    row["probability"] = prob
                    if not prob > config.probability_threshold:
                        row["filtered"] = True
                        row["filtered_at_stage"] = STAGE_PROBABILITY
            if not row["filtered"]:
                for p in prompts:
                    row["classifications"][p.name] = classify_py(
                        p, url, row["product_name"], row["product_description"]
                    )
            results.append(row)
        all_results.extend(results)

        # expansion
        cand: dict[str, tuple[int, int]] = {}
        for row in results:
            if row["filtered"] or not row["links"]:
                continue
            depth = row["crawl_depth"] + 1
            if depth > config.max_depth:
                continue
            for raw in row["links"]:
                cu = canonical_url_py(raw)
                if not (f".{cc}" in cu.lower() or ".com" in cu.lower()):
                    continue
                host = canonical_host_py(cu)
                if host in excluded:
                    continue
                prev = cand.get(cu)
                if prev is None or depth < prev[1]:
                    cand[cu] = (depth, depth)
        fresh = {
            u: pd_
            for u, pd_ in cand.items()
            if not is_seen(u) and u not in deferred
        }
        rounds.append(
            {
                "scheduled": [u for _, _, u, _ in scheduled],
                "new": [u for _, _, u, _ in new],
                "blocked": sorted(blocked),
                "n_deferred": len(deferred),
                "retired": retired_now,
            }
        )
        frontier = {**deferred, **fresh}

    seen = {u for u in claim_hist if is_seen(u)}
    return {"rounds": rounds, "seen_set": seen, "results": all_results}
