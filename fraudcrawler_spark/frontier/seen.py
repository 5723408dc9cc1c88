"""Distributed URL-seen store: crc32-partitioned filter segments + exact table.

Replaces the reference's single-threaded in-memory set collector
(orchestrator.py:92-93,150-188). Partitioning uses ``crc32(url) % P`` —
computed natively in Spark (F.crc32) and identically in Python
(zlib.crc32), so the trace simulator and the engine agree bit-for-bit
and no per-row Python is needed for routing. Segments are Bloom filters
or, for TTL recrawl, deletion-capable cuckoo filters (frontier/cuckoo.py).

One segment pass per round. ``retire`` and ``probe_and_claim``/``add``
only record their urls as op rows (part = crc32(url)%P, h1 =
xxhash64(url), both JVM columns: the Arrow kernel never hashes a url in
Python). ``filter_new`` then runs ONE cogroup of the segments with the
op rows: per segment it deletes the retired urls, inserts the claims and
probes the link candidates, in that order. Its output (segment rows and
probe flags) is checkpointed once; the segments come from it, and the
probe's positives are confirmed with an exact anti-join against the seen
table, so a false positive never drops a url.

Claims are insert-only. Every claimed url comes from the frontier, and
every frontier url is unseen when its round starts: candidates were
exact-filtered after the previous round's claims, deferred urls were
never claimed, and TTL-refreshed urls were just retired. So a claim
inserts without probing. Because every claim inserts, each cuckoo member
owns its own fingerprint copy, which deletion relies on. The invariant
is checked once per round: the claims are joined to the exact seen table
under an observation on the seen-delta write, and ``check_claims`` raises
``SeenClaimError`` on a hit.
"""

from __future__ import annotations

from functools import reduce

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
SEG_COLS = [f.name for f in SEG_SCHEMA.fields]

# the pass's output: segment rows (url null) and probe rows (bitmap null)
_PASS_SCHEMA = StructType(
    SEG_SCHEMA.fields
    + [StructField("url", StringType()), StructField("maybe_seen", BooleanType())]
)
_PASS_COLS = [f.name for f in _PASS_SCHEMA.fields]

# op codes of the rows a pass applies, in the order it applies them
_DELETE, _INSERT, _PROBE = 0, 1, 2


class SeenClaimError(RuntimeError):
    """A round claimed a url that the exact seen table already held."""


def with_part(df: DataFrame, partitions: int) -> DataFrame:
    return df.withColumn(
        "part", F.pmod(F.crc32(F.col("url")), F.lit(partitions)).cast("int")
    )


def with_part_hash(df: DataFrame, partitions: int) -> DataFrame:
    """part for routing + h1 = xxhash64(url) for segment membership — both
    computed JVM-side so the Arrow kernels never hash a url in Python."""
    return with_part(df, partitions).withColumn("h1", F.xxhash64(F.col("url")))


class SeenStore:
    """Filter segments (small DF, one row per partition) + exact url table."""

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
        self._segments: DataFrame | None = None  # SEG_SCHEMA rows
        self._seen: DataFrame | None = None  # (part, url)
        self._ops: list[DataFrame] = []  # (part, url, h1, op), not yet applied
        self._claim_check: Observation | None = None
        self.fill_ratio = 0.0  # max n_items/capacity after the last pass

    # -- state I/O ---------------------------------------------------------
    def load(self, segments: DataFrame | None, seen: DataFrame | None) -> None:
        """Replace the segments and the exact table; recorded ops that
        were not applied yet are dropped (``segments`` applies them)."""
        self._segments = segments
        self._seen = seen
        self._ops = []

    @property
    def segments(self) -> DataFrame | None:
        """The segments with every recorded delete and insert applied."""
        if not self._ops:
            return self._segments
        return self._pass(self._ops).select(*SEG_COLS)

    @property
    def seen(self) -> DataFrame | None:
        return self._seen

    def _record(self, urls: DataFrame, op: int) -> DataFrame:
        rows = with_part_hash(urls.select("url").distinct(), self.partitions)
        self._ops.append(rows.withColumn("op", F.lit(op)))
        return rows

    def _pass(self, ops: list[DataFrame]) -> DataFrame:
        """ONE cogroup of the segments with the op rows: per segment,
        delete, then insert, then probe. A full cogroup, so a segment with
        no ops passes through unchanged; a part with no segment gets one
        when something is inserted into it."""
        cap, kind = self.capacity_per_part, self.filter_kind

        def _apply(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            part = int((right if left.empty else left)["part"].iloc[0])
            seg, n_items = None, 0
            if not right.empty:
                seg = segments_from_pdf(right)[part]
                n_items = int(right["n_items"].iloc[0])
            op = left["op"]
            dels = series_u64(left.loc[op == _DELETE, "h1"])
            if seg is not None and len(dels):
                n_items = max(0, n_items - int(seg.delete_hashed(dels).sum()))
            ins = series_u64(left.loc[op == _INSERT, "h1"])
            if len(ins):
                seg = seg if seg is not None else new_segment(kind, cap)
                seg.add_hashed(ins)
                # n_items tracks segment load: fill > capacity means the FP
                # rate is degrading (correctness is unaffected — positives
                # are always confirmed exactly — but re-sizing is due)
                n_items += len(ins)
            probe = left.loc[op == _PROBE]
            out = [pd.DataFrame({
                "part": part,
                "url": probe["url"].values,
                "maybe_seen": (seg.contains_hashed(series_u64(probe["h1"]))
                               if seg is not None else False),
            })] if len(probe) else []
            if seg is not None:
                out.append(pd.DataFrame({
                    "part": [part], "capacity": [seg.capacity],
                    "n_hashes": [seg.n_hashes], "n_items": [n_items],
                    "bitmap": [seg.to_bytes()],
                }))
            # no rows when only deletes reach a part with no segment
            return pd.concat(out or [pd.DataFrame()],
                             ignore_index=True).reindex(columns=_PASS_COLS)

        seg_df = self._segments
        if seg_df is None:
            seg_df = self.spark.createDataFrame([], SEG_SCHEMA)
        return (
            reduce(DataFrame.unionByName, ops).groupBy("part")
            .cogroup(seg_df.groupBy("part"))
            .applyInPandas(_apply, _PASS_SCHEMA)
        )

    # -- probe -------------------------------------------------------------
    def filter_new(self, urls: DataFrame, assume_unique: bool = False) -> DataFrame:
        """Exact set of urls NOT in the seen store, after the recorded
        retires and claims.

        This is the store's one segment pass: it applies the recorded ops
        and probes ``urls`` in one cogroup, checkpointed once. The
        segments are read from that checkpoint (the pass's segment rows),
        and so is ``fill_ratio``, by an observation on the checkpoint's
        job. Filter-negatives are definitely new; filter-positives are
        confirmed with an exact anti-join against the seen table.

        assume_unique=True skips the defensive distinct() — callers whose
        input is unique by construction (groupBy-url candidates) save a
        full shuffle of the probe set per call."""
        sel = urls.select("url")
        if not assume_unique:
            sel = sel.distinct()
        probe = with_part_hash(sel, self.partitions).withColumn("op", F.lit(_PROBE))
        fill = Observation()
        out = self._pass(self._ops + [probe]).observe(
            fill, F.max(F.col("n_items") / F.col("capacity")).alias("m")
        ).localCheckpoint()
        self._segments = out.where(F.col("bitmap").isNotNull()).select(*SEG_COLS)
        self._ops = []
        self.fill_ratio = float(fill.get["m"] or 0.0)
        probed = out.where(F.col("bitmap").isNull())
        if self._seen is None:
            return probed.select("url")
        negatives = probed.where(~F.col("maybe_seen")).select("url")
        positives = probed.where(F.col("maybe_seen")).select("url")
        return negatives.unionByName(
            positives.join(self._seen.select("url"), "url", "left_anti")
        )

    # -- claim ---------------------------------------------------------------
    def probe_and_claim(self, urls: DataFrame) -> DataFrame:
        """Claim ``urls``: record their insert into the segments (applied
        by the next segment pass) and add them to the seen table. The
        claim does not probe, because of the claim invariant: no url a
        round claims is in the exact seen table when it is claimed (see
        the module docstring).

        The invariant is checked, not assumed. The returned ``url`` rows
        (lazy) are joined to the exact seen table and observed: the action
        that runs them (the round's seen-delta write) counts the claims
        the table already holds, without a job of its own.
        ``check_claims`` then raises ``SeenClaimError`` if that count is
        not zero.
        """
        claims = urls.select("url")
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
    def retire(self, urls: DataFrame) -> None:
        """Remove urls from the seen store so they can be claimed (and
        fetched) again — the recrawl/TTL path. Requires the
        deletion-capable cuckoo backend: Bloom bits are shared between
        keys, so Bloom REFUSES (deleting would corrupt other members).

        Records the deletes for the next segment pass, which applies them
        before any insert; recorded inserts are applied to the segments
        first, so the ops keep their call order. The exact seen table
        drops the urls via anti-join. A retired url probes filter-negative
        afterwards, so the next round claims and fetches it fresh. Known
        bound: a retired url whose fingerprint collides with another
        member in the same bucket pair (~2^-16 per cohabitant) stays
        filter-positive and is re-confirmed against the seen table — which
        is why the table must be pruned here too."""
        if self.filter_kind != "cuckoo":
            raise ValueError(
                "retire() requires the deletion-capable cuckoo backend "
                "(SeenStore(filter_kind='cuckoo')); Bloom cannot delete"
            )
        if self._ops:
            self._segments, self._ops = self.segments, []
        if self._segments is None:
            return
        ret = self._record(urls, _DELETE)
        if self._seen is not None:
            self._seen = self._seen.join(ret.select("url"), "url", "left_anti")

    # -- update ------------------------------------------------------------
    def add(self, new_urls: DataFrame) -> None:
        """Record claimed urls for the segments' next pass and add them to
        the seen table (lazy DFs; persistence is the checkpoint layer's
        job)."""
        add_seen = self._record(new_urls, _INSERT).select("part", "url")
        self._seen = (
            add_seen if self._seen is None else self._seen.unionByName(add_seen)
        )
