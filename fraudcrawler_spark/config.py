"""Engine constants mirroring the reference's settings.

Reference: /root/reference/fraudcrawler/settings.py (values observed, not
copied as code): retry policy 3x/2s (settings.py:4-5), enrichment limit 10
(settings.py:13), Zyte probability threshold 0.1 (settings.py:16),
classification default -1 (settings.py:20,26), prompt template with its
literal ``\\n`` typo (settings.py:21-23), 10 workers/stage (settings.py:29-31).
"""

from __future__ import annotations

from dataclasses import dataclass, field

# Filter thresholds / defaults (reference settings.py:16,20,26)
PROBABILITY_THRESHOLD = 0.1
DEFAULT_IF_MISSING = -1
DEFAULT_IS_RELEVANT = -1

# Enrichment (reference settings.py:13)
ENRICHMENT_DEFAULT_LIMIT = 10

# The user-prompt template, byte-exact incl. the literal ``\\n`` typo
# (reference settings.py:21-23).
USER_PROMPT_TEMPLATE = (
    "Context: {context}\n\nProduct Details: {name}\n{description}\\n\nRelevance:"
)

# Default marketplace when no dim row matches (reference serp.py:29)
DEFAULT_MARKETPLACE = "Google"

# Stage names used for filtered_at_stage provenance (reference
# serp.py:177, orchestrator.py:173-175,179-181,230).
STAGE_COUNTRY = "country code filtering"
STAGE_DEDUP_CURRENT = "URL collection (current run deduplication)"
STAGE_DEDUP_PREVIOUS = "URL collection (previous run deduplication)"
STAGE_PROBABILITY = "Zyte probability threshold"

# Frontier defaults (target-side, BASELINE.json north_rule)
SEEN_PARTITIONS = 32          # Bloom segment partitions (hash of canonical_url)
BLOOM_BITS_PER_KEY = 10       # ~1% FP at k=7
BLOOM_NUM_HASHES = 7
HOST_SALT_SHARDS = 4          # salt shards for skewed hosts
DEFAULT_HOST_BUDGET = 64      # per-host fetches per round (politeness)
DEFAULT_MAX_DEPTH = 3


@dataclass(frozen=True)
class Prompt:
    """Classification prompt config (reference base/base.py:107-114)."""

    name: str
    context: str
    system_prompt: str = ""
    allowed_classes: tuple[int, ...] = (0, 1)
    default_if_missing: int = DEFAULT_IF_MISSING


@dataclass(frozen=True)
class Enrichment:
    """Reference base/base.py:93-97."""

    additional_terms: int
    additional_urls_per_term: int


@dataclass(frozen=True)
class Deepness:
    """Reference base/base.py:100-104."""

    num_results: int
    enrichment: Enrichment | None = None


@dataclass(frozen=True)
class CrawlConfig:
    """Frontier-engine job config (target-side)."""

    country_code: str = "ch"
    probability_threshold: float = PROBABILITY_THRESHOLD
    max_depth: int = DEFAULT_MAX_DEPTH
    host_budget: int = DEFAULT_HOST_BUDGET
    seen_partitions: int = SEEN_PARTITIONS
    seen_capacity_per_part: int = 1 << 16
    seen_filter_kind: str = "bloom"  # or "cuckoo" (frontier/cuckoo.py)
    # broadcast the per-round scheduled url-set into the fetch semi-join
    # (html never shuffles). Set False for rounds too large to broadcast —
    # the semi join then shuffles url keys only (operators/fetch.py).
    fetch_broadcast_urls: bool = True
    # auto-fallback guard: even with the flag on, rounds scheduling more
    # urls than this go through the shuffle semi-join (the crawl loop
    # already knows the scheduled count — no extra job). 2M urls ≈ 160 MB
    # broadcast; far below Spark's 8 GB hard cap but a sane driver bound.
    fetch_broadcast_max_urls: int = 2_000_000
    # recrawl/TTL: urls claimed k rounds ago are retired from the seen
    # store and re-enqueued (requires seen_filter_kind='cuckoo' — the
    # deletion-capable backend; Bloom refuses). None = never recrawl.
    recrawl_after_rounds: int | None = None
    # change-adaptive recrawl (opt-in; needs recrawl_after_rounds = the
    # BASE period k and the cuckoo backend): each round persists a
    # per-url content digest; at retire time a url's period stretches
    # from k up to adaptive_recrawl_max_factor·k as its OBSERVED change
    # rate drops — Cho & Garcia-Molina's bias-corrected estimator over
    # its own digest history (the same arithmetic as the oracled
    # conformance_net.q_change_rate, applied per url in-engine). Urls
    # with <2 observations stay on the base period. Off by default: every
    # url's period is then k. Fixed and adaptive TTL share one due rule
    # (frontier/crawl.py _recrawl_due: seen and last_claim <= round - period).
    adaptive_recrawl: bool = False
    adaptive_recrawl_max_factor: int = 4
    # frontier priority: "depth" (BFS, reference-faithful — golden traces
    # use this) or "indegree" (depth-major, in-link-count-minor: within a
    # depth level, heavily-linked pages schedule first — the cheap static
    # approximation of link-graph priority; the full PageRank operator is
    # conformance_graph.q_pagerank_priority). Keep the mode fixed across
    # resume: it parameterizes frontier ORDER, like host_budget.
    priority_mode: str = "depth"
    # candidate-stage 3xx resolution (conformance_net.resolve_redirect_map
    # over the corpus redirects table, computed once per crawl): candidate
    # urls that are redirect sources are rewritten to their final landing
    # url before dedup/enqueue; loops/over-long chains drop with lineage
    # stage 'redirect_loop'. Off by default — golden traces predate it.
    resolve_redirects: bool = False
    # adaptive crawler-trap suppression: mine (host, template) volume from
    # THIS round's candidate stream (template = query values→V, digit
    # runs→N) and drop candidates whose template exploded — ≥ trap_min_urls
    # distinct urls across ≥ trap_min_var variable segments (single-
    # variable article spaces are exempt). Lineage stage 'trap'.
    trap_gate: bool = False
    trap_min_urls: int = 25
    trap_min_var: int = 2
    # seed frontier_0 from the corpus sitemaps table too (sources/
    # sitemap.parse_sitemaps): sitemap-listed urls enter at seed priority
    # after the same country/excluded gates, lineage stage 'sitemap'.
    # Off by default — golden traces predate it.
    use_sitemaps: bool = False
    # latency-adaptive politeness (conformance_net.host_latency_stats over
    # the corpus fetch_log, computed once per crawl): each host's
    # effective crawl delay becomes max(robots delay, clip(factor·p95,
    # 100ms, 10s)), quadrupled (same cap) for hosts whose 5xx rate exceeds
    # 5% — slow/melting hosts get smaller per-round politeness-cell
    # budgets (cell_budget's by_delay bound). Off by default.
    adaptive_politeness: bool = False
    adaptive_delay_factor: float = 4.0
    salt_shards: int = HOST_SALT_SHARDS
    prompts: tuple[Prompt, ...] = field(default_factory=tuple)
