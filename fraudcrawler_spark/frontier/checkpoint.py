"""Round-checkpoint state store — thin Iceberg-style snapshot layer.

No Iceberg runtime jar ships in this sandbox (SURVEY.md §7 risk 4), so
this layer emulates the snapshot semantics the engine needs on plain
parquet + an atomic JSON manifest: every completed round commits

    seen/round=K/          urls claimed in round K (url, part, claim_round)
    retired/round=K/       urls retired for recrawl in round K (TTL on only)
    bloom/round=K/         seen-filter segment snapshot AFTER round K
    frontier/round=K+1/    the next round's frontier
    results/round=K/       result rows of round K
    digests/round=K/       per-url content digests (adaptive recrawl only)
    lineage/round=K/       per-url provenance (url, stage, src) for round K
    metrics/round=K/       one row of round counters and phase times
                           (n_codegen_compiles: classes the round compiled)
    host_metrics/round=K/  scheduled urls per host
    seed_lineage/round=0/  discovery-flagged seeds (written by init_crawl)
    manifest.json          {"last_round": K, ...}   ← the commit point

The manifest is written tmp+rename (atomic on POSIX), so a crash
mid-round leaves the previous snapshot intact and ``resume`` replays
from the last committed round — the kill-and-resume test (north_rule)
relies on exactly this. On a real cluster the same API maps 1:1 onto
Iceberg table commits (each round = one snapshot).

Table IO is delegated to a backend (catalog.backend_for): real Iceberg
tables when the runtime jar + catalog are configured, this parquet
emulation otherwise — same CrawlState API either way. The manifest stays
in both modes (uniform resume bookkeeping; under Iceberg it shadows the
snapshot log).
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from fraudcrawler_spark.catalog import backend_for


class CrawlState:
    def __init__(self, spark: SparkSession, root: str, backend=None):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.backend = backend or backend_for(spark, root)

    # -- manifest ------------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def read_manifest(self) -> dict:
        p = self._manifest_path()
        if not os.path.exists(p):
            return {"last_round": -1}
        with open(p) as f:
            return json.load(f)

    def commit(self, round_no: int, extra: dict | None = None) -> None:
        """Atomic commit point: manifest rename AFTER all round data lands.

        The manifest keeps a commit history (run registry — the reference's
        in-memory Results list analog, client.py:45,130-134), so every
        snapshot is enumerable like Iceberg's snapshot log."""
        import datetime

        m = self.read_manifest()
        m.update(extra or {})
        m["last_round"] = round_no
        m.setdefault("history", []).append(
            {
                "round": round_no,
                "committed_at": datetime.datetime.now(
                    datetime.timezone.utc
                ).isoformat(timespec="seconds"),
            }
        )
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".manifest")
        with os.fdopen(fd, "w") as f:
            json.dump(m, f)
        os.replace(tmp, self._manifest_path())

    # -- per-round tables (delegated to the catalog backend) -------------------
    def write(self, table: str, round_no: int, df: DataFrame,
              sort_cols: list[str] | None = None,
              ncoalesce: int | None = None) -> None:
        self.backend.write(table, round_no, df, sort_cols=sort_cols,
                           ncoalesce=ncoalesce)

    def read(self, table: str, round_no: int) -> DataFrame:
        return self.backend.read(table, round_no)

    def exists(self, table: str, round_no: int) -> bool:
        return self.backend.exists(table, round_no)

    def read_all(self, table: str, upto_round: int) -> DataFrame | None:
        return self.backend.read_all(table, upto_round)
