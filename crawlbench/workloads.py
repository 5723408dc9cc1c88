"""The benchmark's workloads: inputs made from the seed, one operation each,
and the correctness gate each operation's output passes outside the timed
region.

Every workload is a closed loop with one client: the next operation
starts when the previous one returns. An operation is one ``run_crawl``
call: a whole crawl, or the resumption of a stopped one. Errors are
counted per round.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd

from fraudcrawler_spark import datagen
from fraudcrawler_spark.config import CrawlConfig
from fraudcrawler_spark.frontier.checkpoint import CrawlState
from fraudcrawler_spark.frontier.crawl import run_crawl
from tests.ref_sim import simulate_crawl

from spans import Tracer, tree_cpu_s

PAGES = 10_000  # one corpus per seed, shared by the workloads


def log(msg: str) -> None:
    print(f"[crawlbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def ensure_corpus(cache: Path, pages: int, seed: int) -> str:
    """The corpus for (pages, seed), generated once per datagen revision.

    ``datagen.SEED`` is set to the workload seed for the generation, so
    the seed fully determines the program's input."""
    out = cache / f"pages{pages}_seed{seed}_rev{datagen.DATAGEN_REV}"
    if datagen.corpus_is_current(str(out)):
        return str(out)
    shutil.rmtree(out, ignore_errors=True)
    tmp = cache / f".tmp-{out.name}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    saved = datagen.SEED
    datagen.SEED = seed
    t0 = time.perf_counter()
    try:
        datagen.write_corpus(str(tmp), pages)
    finally:
        datagen.SEED = saved
    os.replace(tmp, out)
    log(f"generated the {pages}-page corpus for seed {seed} in "
        f"{time.perf_counter() - t0:.1f} s (kept out of setup_s)")
    return str(out)


@dataclass
class Op:
    """One timed operation and the verdict of its correctness gate."""

    wall_s: float
    cpu_s: float                    # CPU seconds of the process tree
    urls: int                       # URLs scheduled + URLs claimed new
    rounds: list[dict]              # committed rounds, as spans
    attempted: int
    failed: int
    resume_s: float = 0.0
    problems: list[str] = field(default_factory=list)
    state: CrawlState | None = None
    crashed: bool = False


def _ratio(a, b) -> float:
    return float(a) / float(b) if b else 0.0


def read_trace(state: CrawlState, last: int) -> dict:
    """What the crawl committed up to round ``last``, as pandas frames:
    its claimed urls per round, its retires and its seen-table claims."""
    ret = state.read_all("retired", last)
    return {
        "last": last,
        "results": state.read_all("results", last).select(
            "round", "url", "priority", "crawl_depth", "host").toPandas(),
        "retired": (ret.toPandas() if ret is not None
                    else pd.DataFrame({"url": [], "retire_round": []})),
        "seen": state.read_all("seen", last).select("url", "claim_round").toPandas(),
    }


def _effective_seen(seen, retired) -> set[str]:
    """Urls whose last claim is not older than their last retire."""
    last_claim = seen.groupby("url")["claim_round"].max()
    last_ret = retired.groupby("url")["retire_round"].max()
    lr = last_ret.reindex(last_claim.index)
    return set(last_claim.index[lr.isna() | (last_claim >= lr)])


class CrawlWorkload:
    """A multi-round frontier crawl through ``run_crawl``.

    The set-up runs the crawl's first ``warm_rounds`` rounds once, then
    ``warm_ops`` operations, all untimed: the first crawl in a fresh JVM
    compiles every plan shape and runs about 1.6 times slower, and the JIT
    is still busy in the next ones (the CPU time of back-to-back crawls in
    one JVM fell from 32 to 27, 24 and 21 s). With ``resume`` each
    operation resumes a copy of that stopped crawl with a second
    ``run_crawl`` call; without, each operation is a whole crawl of
    ``rounds`` rounds."""

    def __init__(self, name: str, config: CrawlConfig, rounds: int,
                 warm_rounds: int, warm_ops: int, resume: bool = False):
        self.name = name
        self.config = config
        self.max_rounds = rounds
        self.warm_rounds = warm_rounds
        self.warm_ops = warm_ops
        self.resume_after = warm_rounds if resume else 0
        self._stopped: Path | None = None

    def prepare(self, corpus: str) -> None:
        """The reference trace of an uninterrupted crawl (untimed)."""
        self.corpus = corpus
        self._expected = simulate_crawl(corpus, self.config, self.max_rounds)

    def warm_up(self, spark, work: Path) -> None:
        """The set-up's warm-up pass: the stopped crawl, then the untimed
        operations."""
        stopped = work / "stopped"
        run_crawl(spark, self.corpus, str(stopped), self.config,
                  max_rounds=self.warm_rounds)
        if self.resume_after:
            self._stopped = stopped
        for i in range(self.warm_ops):
            self.run_op(spark, Tracer(), work / f"warm{i}")

    def run_op(self, spark, tracer: Tracer, root: Path) -> Op:
        if self._stopped is not None:
            shutil.copytree(self._stopped, root)
        n_rounds = self.max_rounds - self.resume_after
        first = len(tracer.spans)
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            state = run_crawl(spark, self.corpus, str(root), self.config,
                              max_rounds=self.max_rounds)
        except Exception as e:  # a failed crawl fails all its rounds
            log(f"{self.name}: crawl raised\n{traceback.format_exc()}")
            return Op(time.perf_counter() - t0, tree_cpu_s() - cpu0, 0, [],
                      n_rounds, n_rounds, problems=[repr(e)], crashed=True)
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0

        last = state.read_manifest()["last_round"]
        metrics = state.read_all("metrics", last).toPandas()
        ran = metrics[metrics["round"] >= self.resume_after]
        urls = int(ran["n_scheduled"].sum() + ran["n_new"].sum())
        resume_s = wall - float(ran["elapsed_sec"].sum()) if self.resume_after else 0.0
        problems, bad = self.compare_trace(read_trace(state, last))
        for p in problems:
            log(f"{self.name}: {p}")
        # a wrong round of the stopped crawl makes every resumed round wrong
        failed = (n_rounds if any(r < self.resume_after for r in bad)
                  else len(bad))
        return Op(wall, cpu, urls, tracer.rounds(first), n_rounds, failed,
                  resume_s, problems, state)

    # -- correctness gates -------------------------------------------------
    def compare_trace(self, trace: dict):
        """Per-round claimed urls in canonical order, per-round retires and
        the final effective seen set must equal the reference trace
        (tests/ref_sim.simulate_crawl) of an uninterrupted crawl."""
        exp = self._expected["rounds"]
        res, retired, last = trace["results"], trace["retired"], trace["last"]
        problems, bad = [], set()
        if last != len(exp) - 1:
            problems.append(f"committed {last + 1} rounds, reference has {len(exp)}")
            bad.update(range(last + 1, len(exp)))
        for r, g in enumerate(exp):
            got = res[res["round"] == r].sort_values(
                ["priority", "crawl_depth", "host", "url"])["url"].tolist()
            if got != g["new"]:
                bad.add(r)
                problems.append(f"round {r}: {len(got)} claimed urls differ "
                                f"from the reference's {len(g['new'])}")
            got_ret = sorted(retired.loc[retired["retire_round"] == r, "url"])
            if got_ret != sorted(g["retired"]):
                bad.add(r)
                problems.append(f"round {r}: retired set differs from the reference")
        if _effective_seen(trace["seen"], retired) != self._expected["seen_set"]:
            bad.add(len(exp) - 1)
            problems.append("final seen set differs from the reference")
        return problems, bad

    # -- per-layer counts from the committed tables ------------------------
    def counts(self, op: Op) -> dict[str, float]:
        """Per-round counts over the rounds the operation ran."""
        from pyspark.sql import functions as F

        state, last = op.state, op.state.read_manifest()["last_round"]
        m = state.read_all("metrics", last).toPandas()
        m = m[m["round"] >= self.resume_after]
        res = state.read_all("results", last).where(
            F.col("round") >= self.resume_after).select(
            "fetch_status", "filtered",
            F.when(~F.col("filtered"), F.size("links")).otherwise(0).alias("n_links"),
        ).toPandas()
        n = len(m)
        files, size = _disk(state.root)
        if self._stopped is not None:
            files0, size0 = _disk(self._stopped)
            files, size = files - files0, size - size0
        sched, front = m["n_scheduled"].sum(), m["n_frontier"].sum()
        links = res["n_links"].clip(lower=0).sum()
        return {
            "politeness.n_frontier": _ratio(front, n),
            "politeness.n_scheduled": _ratio(sched, n),
            "politeness.n_deferred": _ratio(m["n_deferred"].sum(), n),
            "politeness.n_blocked": _ratio(m["n_blocked"].sum(), n),
            "politeness.scheduled_ratio": _ratio(sched, front),
            "seen.n_probed": _ratio(sched + m["n_blocked"].sum(), n),
            "seen.n_new": _ratio(m["n_new"].sum(), n),
            "seen.new_ratio": _ratio(m["n_new"].sum(), sched),
            "seen.fill_ratio": float(m.sort_values("round")["seen_fill_ratio"].iloc[-1]),
            "fetch.n_fetched": _ratio(len(res), n),
            "fetch.hit_ratio": _ratio((res["fetch_status"] == "hit").sum(), len(res)),
            "expand.n_links": _ratio(links, n),
            "expand.n_enqueued": _ratio(m["n_enqueued"].sum(), n),
            "expand.enqueue_ratio": _ratio(m["n_enqueued"].sum(), links),
            "checkpoint.bytes_written": _ratio(size, n),
            "checkpoint.files_written": _ratio(files, n),
            "pipeline.n_rows": _ratio(len(res), n),
            "pipeline.flagged_ratio": _ratio(res["filtered"].sum(), len(res)),
        }


def _disk(root) -> tuple[int, int]:
    """Files and bytes under a directory."""
    files, size = 0, 0
    for dirpath, _, names in os.walk(root):
        for f in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return files, size


def make_workloads() -> dict:
    """Workload name → a fresh workload object (they keep per-run state)."""
    return {
        # default config: Bloom seen filter, host_budget=64, max_depth=3
        "bfs_rounds": CrawlWorkload("bfs_rounds", CrawlConfig(), rounds=2,
                                    warm_rounds=1, warm_ops=1),
        # cuckoo filter with TTL recrawl, stopped after round 1 and resumed:
        # round 1 retires round 0's claims, the resume reloads the seen
        # store net of that retired delta, and round 2 retires round 1's
        "recrawl_resume": CrawlWorkload(
            "recrawl_resume",
            CrawlConfig(seen_filter_kind="cuckoo", recrawl_after_rounds=1),
            rounds=3, warm_rounds=2, warm_ops=0, resume=True),
    }
