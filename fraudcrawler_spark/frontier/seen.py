"""Distributed URL-seen store: crc32-partitioned filter segments + exact table.

Replaces the reference's single-threaded in-memory set collector
(orchestrator.py:92-93,150-188). Partitioning uses ``crc32(url) % P`` —
computed natively in Spark (F.crc32) and identically in Python
(zlib.crc32), so the trace simulator and the engine agree bit-for-bit
and no per-row Python is needed for routing. Segments are Bloom filters
or, for TTL recrawl, deletion-capable cuckoo filters (frontier/cuckoo.py).

Probe path (``filter_new``, link candidates):
  candidates → part = crc32(url)%P, h1 = xxhash64(url) (both JVM columns —
  the Arrow kernels never hash a url in Python) → cogroup with the
  segments → filter-negatives are definitely new; filter-positives are
  confirmed with an exact anti-join against the seen table (a false
  positive never drops a url).
Claim path (``probe_and_claim``, one round's scheduled + robots-blocked
urls): insert-only. Every claimed url comes from the frontier, and every
frontier url is unseen when its round starts: candidates were
exact-filtered after the previous round's claims, deferred urls were
never claimed, and TTL-refreshed urls were just retired. So the claim
merges all urls into the segments (``add``: one cogroup, one task per
segment) and appends them to the seen table without probing. Because
every claim inserts, each cuckoo member owns its own fingerprint copy,
which deletion relies on. The invariant is checked once per round: the
claims are joined to the exact seen table under an observation on the
seen-delta write, and ``check_claims`` raises ``SeenClaimError`` on a hit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from fraudcrawler_spark.frontier.bloom import (
    new_segment,
    segments_from_pdf,
    series_u64,
)

SEG_SCHEMA = StructType(
    [
        StructField("part", IntegerType()),
        StructField("capacity", LongType()),
        StructField("n_hashes", IntegerType()),
        StructField("n_items", LongType()),
        StructField("bitmap", BinaryType()),
    ]
)

PROBE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("maybe_seen", BooleanType()),
    ]
)


class SeenClaimError(RuntimeError):
    """A round claimed a url that the exact seen table already held."""


def with_part(df: DataFrame, partitions: int, url_col: str = "url") -> DataFrame:
    return df.withColumn(
        "part", F.pmod(F.crc32(F.col(url_col)), F.lit(partitions)).cast("int")
    )


def with_part_hash(df: DataFrame, partitions: int,
                   url_col: str = "url") -> DataFrame:
    """part for routing + h1 = xxhash64(url) for segment membership — both
    computed JVM-side so the Arrow kernels never hash a url in Python."""
    return with_part(df, partitions, url_col).withColumn(
        "h1", F.xxhash64(F.col(url_col))
    )


class SeenStore:
    """Bloom segments (small DF, one row per partition) + exact url table."""

    def __init__(
        self,
        spark: SparkSession,
        partitions: int = 32,
        capacity_per_part: int = 1 << 16,
        filter_kind: str = "bloom",
    ):
        """filter_kind: 'bloom' (default) or 'cuckoo' — same probe
        semantics (negatives definite, positives exact-confirmed) and the
        same insert-only claim; cuckoo additionally supports deletion
        (frontier/cuckoo.py). Persisted segment rows self-describe their
        kind, so a resume reads either."""
        self.spark = spark
        self.partitions = partitions
        self.capacity_per_part = capacity_per_part
        self.filter_kind = filter_kind
        self._segments: DataFrame | None = None  # (part, capacity, n_hashes, bitmap)
        self._seen: DataFrame | None = None  # (part, url)
        self._claim_check: Observation | None = None

    # -- state I/O ---------------------------------------------------------
    def load(self, segments: DataFrame | None, seen: DataFrame | None) -> None:
        self._segments = segments
        self._seen = seen

    @property
    def segments(self) -> DataFrame | None:
        return self._segments

    @property
    def seen(self) -> DataFrame | None:
        return self._seen

    # -- probe -------------------------------------------------------------
    def probe(self, urls: DataFrame, url_col: str = "url",
              assume_unique: bool = False) -> DataFrame:
        """→ (url, maybe_seen). Bloom-negative ⇒ definitely new.

        assume_unique=True skips the defensive distinct() — callers whose
        input is unique by construction (frontier rows, groupBy-url
        candidates) save a full shuffle of the probe set per call, which
        at 10^10-url rounds is the single biggest avoidable exchange."""
        sel = urls.select(F.col(url_col).alias("url"))
        if not assume_unique:
            sel = sel.distinct()
        cand = with_part_hash(sel, self.partitions)
        if self._segments is None:
            return cand.select("url").withColumn("maybe_seen", F.lit(False))

        def _probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if left.empty:
                return pd.DataFrame(columns=["url", "maybe_seen"])
            if right.empty:
                return pd.DataFrame({"url": left["url"], "maybe_seen": False})
            seg = segments_from_pdf(right)[int(right["part"].iloc[0])]
            # h1 is the JVM xxhash64 column — membership is pure numpy
            return pd.DataFrame(
                {"url": left["url"],
                 "maybe_seen": seg.contains_hashed(series_u64(left["h1"]))}
            )

        return (
            cand.groupBy("part")
            .cogroup(self._segments.groupBy("part"))
            .applyInPandas(_probe, PROBE_SCHEMA)
        )

    def filter_new(self, urls: DataFrame, url_col: str = "url",
                   assume_unique: bool = False) -> DataFrame:
        """Exact set of urls NOT in the seen store (Bloom + confirm join).

        The probe output feeds TWO consumers (Bloom-negatives passthrough
        + positives' exact-confirm anti-join). Left as plain branches,
        each consumer re-executes the whole probe subtree — the cogroup
        Python pass AND everything upstream of it (in the round DAG
        that's the link explode + canonicalize + groupBy) run twice. The
        url-hash repartition below makes both branches read ONE reused
        shuffle (Spark's exchange reuse), and its HashPartitioning(url)
        already satisfies the anti-join's left-side distribution, so the
        confirm join adds no exchange of its own."""
        probed = self.probe(urls, url_col, assume_unique=assume_unique)
        if self._seen is None:
            return probed.select("url")
        probed = probed.repartition(F.col("url"))
        negatives = probed.where(~F.col("maybe_seen")).select("url")
        positives = probed.where(F.col("maybe_seen")).select("url")
        confirmed_new = positives.join(
            self._seen.select("url"), "url", "left_anti"
        )
        return negatives.unionByName(confirmed_new)

    # -- claim ---------------------------------------------------------------
    def probe_and_claim(self, urls: DataFrame, url_col: str = "url") -> DataFrame:
        """Claim ``urls``: insert every one into the segments and the seen
        table (``add``). The claim does not probe, because of the claim
        invariant: no url a round claims is in the exact seen table when
        it is claimed (see the module docstring).

        The invariant is checked, not assumed. The returned ``url`` rows
        (lazy) are joined to the exact seen table and observed: the action
        that runs them (the round's seen-delta write) counts the claims
        the table already holds, without a job of its own.
        ``check_claims`` then raises ``SeenClaimError`` if that count is
        not zero.

        Updates ``self._segments`` and ``self._seen`` (caller persists).
        """
        claims = urls.select(F.col(url_col).alias("url"))
        checked, self._claim_check = claims, None
        if self._seen is not None:
            self._claim_check = Observation()
            checked = (
                claims.join(self._seen.select("url", F.lit(True).alias("_hit")),
                            "url", "left")
                .observe(self._claim_check, F.count("_hit").alias("n_seen"))
                .drop("_hit")
            )
        self.add(claims)
        return checked

    def check_claims(self) -> None:
        """Raise ``SeenClaimError`` if the last ``probe_and_claim`` claimed a
        url that was already in the exact seen table. Call it after an
        action has run the rows that call returned: it waits for that
        action's observation."""
        obs, self._claim_check = self._claim_check, None
        if obs is None:
            return
        n_seen = obs.get["n_seen"]
        if n_seen:
            raise SeenClaimError(
                f"{n_seen} claimed url(s) were already in the exact seen "
                "table: the frontier held already-seen urls, so the round "
                "would fetch them twice"
            )

    # -- retire (recrawl/TTL) ------------------------------------------------
    def retire(self, urls: DataFrame, url_col: str = "url") -> None:
        """Remove urls from the seen store so they can be claimed (and
        fetched) again — the recrawl/TTL path. Requires the
        deletion-capable cuckoo backend: Bloom bits are shared between
        keys, so Bloom REFUSES (deleting would corrupt other members).

        One cogroup pass deletes the fingerprints from the segments
        (hashes computed JVM-side, numpy kernel); the exact seen table
        drops the urls via anti-join. A retired url probes
        filter-negative afterwards, so the next round claims and fetches
        it fresh. Known bound: a retired url whose fingerprint collides
        with another member in the same bucket pair (~2^-16 per
        cohabitant) stays filter-positive and is re-confirmed against the
        seen table — which is why the table must be pruned here too."""
        if self.filter_kind != "cuckoo":
            raise ValueError(
                "retire() requires the deletion-capable cuckoo backend "
                "(SeenStore(filter_kind='cuckoo')); Bloom cannot delete"
            )
        if self._segments is None:
            return
        ret = with_part_hash(
            urls.select(F.col(url_col).alias("url")).distinct(), self.partitions
        )

        def _del(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if right.empty:
                # urls routed to a partition with no segment: nothing to do
                return pd.DataFrame(columns=[f.name for f in SEG_SCHEMA.fields])
            part = int(right["part"].iloc[0])
            seg = segments_from_pdf(right)[part]
            n_items = int(right["n_items"].iloc[0]) if "n_items" in right else 0
            if not left.empty:
                deleted = seg.delete_hashed(series_u64(left["h1"]))
                n_items = max(0, n_items - int(deleted.sum()))
            return pd.DataFrame(
                {
                    "part": [part],
                    "capacity": [seg.capacity],
                    "n_hashes": [seg.n_hashes],
                    "n_items": [n_items],
                    "bitmap": [seg.to_bytes()],
                }
            )

        self._segments = (
            ret.groupBy("part")
            .cogroup(self._segments.groupBy("part"))
            .applyInPandas(_del, SEG_SCHEMA)
        )
        if self._seen is not None:
            self._seen = self._seen.join(ret.select("url"), "url", "left_anti")

    # -- update ------------------------------------------------------------
    def add(self, new_urls: DataFrame, url_col: str = "url") -> None:
        """Merge claimed urls into segments + seen table (in-memory DFs;
        persistence is the checkpoint layer's job)."""
        new = with_part_hash(
            new_urls.select(F.col(url_col).alias("url")).distinct(),
            self.partitions,
        )
        cap, kind = self.capacity_per_part, self.filter_kind

        def _merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            part = int(left["part"].iloc[0]) if not left.empty else int(right["part"].iloc[0])
            if right.empty:
                seg = new_segment(kind, cap)
                n_items = 0
            else:
                seg = segments_from_pdf(right)[part]
                n_items = int(right["n_items"].iloc[0]) if "n_items" in right else 0
            if not left.empty:
                seg.add_hashed(series_u64(left["h1"]))
                n_items += len(left)
            # n_items tracks segment load: fill > capacity means the FP
            # rate is degrading (correctness is unaffected — positives are
            # always confirmed exactly — but re-sizing is due); surfaced
            # via seen_fill_ratio in the round metrics
            return pd.DataFrame(
                {
                    "part": [part],
                    "capacity": [seg.capacity],
                    "n_hashes": [seg.n_hashes],
                    "n_items": [n_items],
                    "bitmap": [seg.to_bytes()],
                }
            )

        seg_df = self._segments
        if seg_df is None:
            seg_df = self.spark.createDataFrame([], SEG_SCHEMA)
        # cogroup is a FULL cogroup: partitions with no new urls still
        # appear (left empty, right = segment) and pass through unchanged,
        # so no separate "untouched" pass is needed
        self._segments = (
            new.groupBy("part")
            .cogroup(seg_df.groupBy("part"))
            .applyInPandas(_merge, SEG_SCHEMA)
        )

        add_seen = new.select("part", "url")
        self._seen = (
            add_seen if self._seen is None else self._seen.unionByName(add_seen)
        )
        # NOTE: lazily defined — the crawl driver persists segments/seen to
        # the round checkpoint and reloads (truncating lineage); standalone
        # users can call .localCheckpoint() on .segments/.seen if iterating.
