"""URL canonicalization — reference semantics of ``SerpApi._get_domain``
(/root/reference/fraudcrawler/scraping/serp.py:50-74):

1. prepend ``http://`` when schemeless (urlparse needs a scheme),
2. hostname via urlparse (lowercases, strips port/userinfo),
3. regex fallback ``^(?:https?://)?([^/:?#]+)``,
4. if still nothing → return the full url,
5. strip one leading ``www.``.

Two implementations:
- ``canonical_host_expr`` — pure Catalyst column expression (JVM-side,
  whole-stage-codegen friendly, SQL-expressible for the DuckDB oracle).
- ``canonical_host_udf`` — Arrow-batched pandas UDF using ``urlparse``
  for byte parity with the reference on adversarial inputs (userinfo,
  ports, IPv6). The hot path uses the expression; tests pin expr == udf
  on corpus-shaped urls and udf == reference semantics everywhere.

Also the crawl's candidate-stage url transforms: ``url_template_expr``
(the trap gate's template) and ``resolve_redirect_map`` (3xx chains to
their landing url).
"""

from __future__ import annotations

from urllib.parse import urlparse

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# host = chars up to first of / : ? #, after optional scheme and userinfo
_HOST_PATTERN = r"^(?:https?://)?(?:[^/@:?#]*@)?([^/@:?#]+)"

# a crawler abandons a url after this many 3xx hops (browsers stop at
# ~20; politeness-conscious crawlers at 5-16). Cycles therefore resolve
# to 'too_many_redirects' instead of looping forever.
MAX_HOPS = 16


def canonical_host_expr(url: Column) -> Column:
    """Hostname with the reference's quirks, as a native expression.

    Equivalent ANSI SQL (DuckDB oracle):
      regexp_replace(lower(regexp_extract(url, <pat>, 1)), '^www\\.', '')
    with a fallback to the full url when no host-like prefix matches.
    """
    host = F.regexp_extract(url, _HOST_PATTERN, 1)
    host = F.lower(host)
    host = F.regexp_replace(host, r"^www\.", "")
    # reference serp.py:65-69: unextractable host → return full url
    return F.when(host == "", url).otherwise(host)


def canonical_url_expr(url: Column) -> Column:
    """Frontier canonical form: https:// + canonical_host + path-query.

    Target-side design (not in the reference, which canonicalizes host
    only): normalizes scheme + www so all four href variants emitted by
    the corpus collapse to the stored ``pages.url`` form, enabling the
    fetch equi-join. Fragment is dropped; empty path stays empty.
    No extractable host ⇒ the url passes through UNCHANGED (keeps the
    transform idempotent on garbage inputs — pinned by property test).
    """
    raw_host = F.regexp_extract(url, _HOST_PATTERN, 1)
    host = F.regexp_replace(F.lower(raw_host), r"^www\.", "")
    rest = F.regexp_replace(url, _HOST_PATTERN, "")
    rest = F.regexp_replace(rest, r"#.*$", "")
    # a rest starting with '@' would re-parse as userinfo — strip it
    rest = F.regexp_replace(rest, r"^(?:[^/:?#]*@)+", "")
    return F.when(raw_host == "", url).otherwise(
        F.concat(F.lit("https://"), host, rest)
    )


def canonical_host_py(url: str) -> str:
    """Python twin of ``canonical_host_expr`` (trace simulator / tests)."""
    import re

    m = re.search(_HOST_PATTERN, url)
    host = m.group(1).lower() if m else ""
    host = re.sub(r"^www\.", "", host)
    return host if host else url


def canonical_url_py(url: str) -> str:
    """Python twin of ``canonical_url_expr``."""
    import re

    m = re.search(_HOST_PATTERN, url)
    if not m or not m.group(1):
        return url  # no extractable host — pass through (idempotence)
    host = re.sub(r"^www\.", "", m.group(1).lower())
    rest = re.sub(_HOST_PATTERN, "", url, count=1)
    rest = re.sub(r"#.*$", "", rest)
    rest = re.sub(r"^(?:[^/:?#]*@)+", "", rest)
    return "https://" + host + rest


def _ref_get_domain(url: str) -> str:
    """Reference ``_get_domain`` semantics re-expressed (serp.py:50-74)."""
    import re

    u = url if url.startswith(("http://", "https://")) else "http://" + url
    try:
        hostname = urlparse(u).hostname
    except ValueError:
        hostname = None
    if hostname is None:
        m = re.search(r"^(?:https?:\/\/)?([^\/:?#]+)", u)
        if m:
            hostname = m.group(1)
    if hostname is None:
        return url
    if hostname.startswith("www."):
        hostname = hostname[4:]
    return hostname


@pandas_udf(StringType())
def canonical_host_udf(urls: pd.Series) -> pd.Series:
    """Arrow-batched kernel; byte parity with reference serp.py:50-74."""
    return urls.map(_ref_get_domain)


_TRACKING_PARAM_RE = (
    r"^(utm_[a-z0-9_]*|gclid|fbclid|msclkid|dclid|igshid|mc_eid|ref"
    r"|sessionid|phpsessid|jsessionid|sid)="
)


def normalize_url_expr(url: Column) -> Column:
    """Full frontier URL normalizer: ``canonical_url_expr`` (scheme/www/
    fragment/userinfo) + tracking-parameter removal + query-parameter
    SORTING — the dedup-critical canonicalization a real crawler needs:
    ``?b=2&a=1&utm_source=x`` and ``?a=1&b=2`` are the same resource and
    must collapse to one seen-set entry.

    All JVM expressions (split / filter / array_sort / concat_ws) — no
    Python, no UDF; safe in the per-round hot path. Kept SEPARATE from
    ``canonical_url_expr`` (whose output must keep matching the stored
    ``pages.url`` form for the fetch equi-join and the reference golden
    traces, reference uses host-only canonicalization — serp.py).
    """
    base = canonical_url_expr(url)
    path = F.regexp_extract(base, r"^([^?]*)", 1)
    query = F.regexp_extract(base, r"^[^?]*\?(.*)$", 1)
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~F.lower(p).rlike(_TRACKING_PARAM_RE),
        )
    )
    return F.when(
        (query == "") | (F.size(kept) == 0), path
    ).otherwise(F.concat(path, F.lit("?"), F.concat_ws("&", kept)))


def normalize_url_py(url: str) -> str:
    """Python twin of ``normalize_url_expr`` (simulator/tests)."""
    import re

    base = canonical_url_py(url)
    if "?" not in base:
        return base
    path, query = base.split("?", 1)
    kept = sorted(
        p for p in query.split("&")
        if p != "" and not re.match(_TRACKING_PARAM_RE, p.lower())
    )
    return path if not kept else path + "?" + "&".join(kept)


def url_template_expr(url):
    """Collapse a url to its trap-mining template: strip scheme+host,
    query values → 'V', digit runs → 'N'. Shared by q_trap_detect and
    the engine's candidate gate so the two can never drift."""
    pathq = F.regexp_replace(url, r"^https?://[^/]+", "")
    return F.regexp_replace(
        F.regexp_replace(pathq, r"=[^&]*", "=V"), r"[0-9]+", "N"
    )


def _absolutize(loc, src):
    """3xx Location headers may be host-relative; resolve against the
    source url's host (RFC 9110 §10.2.2)."""
    host = F.regexp_extract(src, r"^https?://([^/]+)", 1)
    return F.when(
        loc.startswith("/"), F.concat(F.lit("https://"), host, loc)
    ).otherwise(loc)


def resolve_redirect_map(red: DataFrame) -> DataFrame:
    """Resolve every redirect source to its final landing url via
    POINTER DOUBLING: each round composes the partial-resolution map
    with itself (cur → f(cur)), so a chain of length h settles in
    ceil(log2(h)) self-joins instead of h sequential lookups — 4 rounds
    cover MAX_HOPS=16 (2^4 = 16). At 10^10 urls each round is one hash
    join partitioned by url; the naive per-hop walk would be 16
    sequential shuffles of the full frontier.

    Input: (src_url, location, …). Output: (src_url, final_url, n_hops,
    status) with status 'ok' (landed on a non-redirect within MAX_HOPS)
    or 'too_many_redirects' (cycle or over-long chain; final_url/n_hops
    NULL — mid-cycle position is not meaningful). Also the engine's
    frontier preprocessor (frontier/crawl.py candidate stage)."""
    edges = red.select(
        F.col("src_url").alias("src"),
        _absolutize(F.col("location"), F.col("src_url")).alias("cur"),
    )
    srcs = edges.select(F.col("src").alias("s2"), F.lit(True).alias("hit"))
    m = edges.join(srcs, edges["cur"] == srcs["s2"], "left").select(
        "src",
        "cur",
        F.lit(1).cast("long").alias("hops"),
        F.col("hit").isNull().alias("done"),
    )
    rounds = max(1, (MAX_HOPS - 1).bit_length())  # 2^rounds >= MAX_HOPS
    for _ in range(rounds):
        # break lineage each round (same discipline as star_components):
        # without this the self-join doubles the WHOLE plan subtree per
        # round — 2^rounds - 1 joins in one DAG instead of `rounds`
        # materialized single-join stages. On a cluster this would be
        # reliable checkpoint()/a frontier table; local mode uses the
        # executor-local variant.
        m = m.localCheckpoint()
        if m.where(~F.col("done")).isEmpty():
            break  # every chain terminal — only cycles keep iterating
        t = m.select(
            F.col("src").alias("t_src"),
            F.col("cur").alias("t_cur"),
            F.col("hops").alias("t_hops"),
            F.col("done").alias("t_done"),
        )
        miss = F.col("t_src").isNull()
        m = (
            m.join(t, (m["cur"] == t["t_src"]) & (~m["done"]), "left")
            .select(
                "src",
                F.when(miss, F.col("cur")).otherwise(F.col("t_cur")).alias("cur"),
                F.when(miss, F.col("hops"))
                .otherwise(F.col("hops") + F.col("t_hops"))
                .alias("hops"),
                F.when(miss, F.col("done")).otherwise(F.col("t_done")).alias("done"),
            )
        )
    ok = F.col("done") & (F.col("hops") <= MAX_HOPS)
    return m.select(
        F.col("src").alias("src_url"),
        F.when(ok, F.col("cur")).alias("final_url"),
        F.when(ok, F.col("hops")).alias("n_hops"),
        F.when(ok, F.lit("ok")).otherwise(F.lit("too_many_redirects")).alias("status"),
    )
