"""URL-seen deduplication — J3 (SURVEY.md §2.3).

Reference semantics (/root/reference/fraudcrawler/base/orchestrator.py:150-188):
- only UNflagged rows participate; flagged rows pass through untouched and
  never claim a URL,
- if the url is in the previous-runs set, EVERY unflagged occurrence is
  flagged "previous run" and the url is never added to the current set
  (the current-set check precedes the previous-set check, but a
  previous-run url is never inserted into the current set, so all its
  occurrences hit the previous branch),
- otherwise the first unflagged occurrence wins (passes, claims the url)
  and later unflagged occurrences are flagged "current run".

Flag-not-drop throughout. Distributed design: the single-threaded
collector (the reference's serialization point, orchestrator.py:331-333)
becomes a hash-exchange on the url — ``row_number() over (partition by
url order by filtered, arrival)`` — one shuffle, no driver state; the
cross-run set is a broadcast/shuffle join against the persisted ``seen``
table (Bloom-segment pre-filter at scale, frontier/bloom.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fraudcrawler_spark.config import STAGE_DEDUP_CURRENT, STAGE_DEDUP_PREVIOUS


def dedup_flag(
    df: DataFrame,
    order_by: list[Column | str],
    url_col: str = "url",
    seen: DataFrame | None = None,
) -> DataFrame:
    """Flag duplicate urls (first-unflagged-arrival wins).

    ``order_by`` is the deterministic arrival key (the reference's FIFO
    queue order at n_workers=1; ours: seed priority, term type, rank).
    ``seen`` is the previous-runs url set (one column named url_col).
    """
    if seen is not None:
        marker = seen.select(F.col(url_col)).distinct().withColumn("_in_seen", F.lit(True))
        df = df.join(marker, url_col, "left").withColumn(
            "_in_seen", F.coalesce(F.col("_in_seen"), F.lit(False))
        )
    else:
        df = df.withColumn("_in_seen", F.lit(False))

    # Active rows sort before flagged ones, so for an active row every
    # earlier-ranked row in its url partition is also active.
    w = Window.partitionBy(url_col).orderBy(
        F.col("filtered").cast("int"), *order_by
    )
    df = df.withColumn("_rn", F.row_number().over(w))

    active = ~F.col("filtered")
    prev_dup = active & F.col("_in_seen")
    cur_dup = active & ~F.col("_in_seen") & (F.col("_rn") > 1)
    df = df.withColumn(
        "filtered_at_stage",
        F.when(prev_dup, F.lit(STAGE_DEDUP_PREVIOUS))
        .when(cur_dup, F.lit(STAGE_DEDUP_CURRENT))
        .otherwise(F.col("filtered_at_stage")),
    ).withColumn("filtered", F.col("filtered") | prev_dup | cur_dup)
    return df.drop("_rn", "_in_seen")
