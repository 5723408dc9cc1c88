#!/usr/bin/env python3
"""Shows that the benchmark's correctness gate rejects wrong output.

Run from the repository root:

    python3 crawlbench/gate_check.py --seed 1

On a small corpus made from --seed it runs one operation of
recrawl_resume (whose gate bfs_rounds shares), checks that the gate
passes the real output, then corrupts that output in several ways and
checks that the gate fails every corrupted copy. One line per case goes
to standard output; the exit code is 0 when every case behaves, 1
otherwise.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import pandas as pd

import run

PAGES = 2000


def crawl_corruptions(trace: dict) -> list[tuple[str, dict]]:
    """Corrupted copies of a committed crawl trace, one fault each."""
    res = trace["results"]
    last = res[res["round"] == res["round"].max()].sort_values(
        ["priority", "crawl_depth", "host", "url"])
    out = []

    def variant(what: str, **frames) -> None:
        out.append((what, {**trace, **frames}))

    variant("a claimed url dropped", results=res.drop(last.index[:1]))
    variant("a url claimed twice", results=pd.concat([res, last.iloc[:1]]))
    moved = res.copy()
    moved.loc[last.index[:1], "round"] -= 1
    variant("a claim moved a round earlier", results=moved)
    reordered = res.copy()
    reordered.loc[last.index[-1:], "priority"] = -1
    variant("canonical order broken", results=reordered)
    if len(trace["retired"]):
        variant("a retire lost", retired=trace["retired"].iloc[1:])
    variant("a url seen that no round claimed", seen=pd.concat([
        trace["seen"],
        pd.DataFrame({"url": ["https://corrupt.invalid/x"], "claim_round": [0]}),
    ]))
    return out


def verdict(ok: bool, what: str) -> bool:
    print(f"{'ok  ' if ok else 'FAIL'} {what}", flush=True)
    return ok


def check(spark, seed: int, work) -> bool:
    import workloads

    corpus = workloads.ensure_corpus(run.DATA / "corpus", PAGES, seed)
    wls = workloads.make_workloads()
    good = True

    crawl = wls["recrawl_resume"]
    crawl.prepare(corpus)
    crawl.warm_up(spark, work)  # the stopped crawl it resumes
    op = crawl.run_op(spark, workloads.Tracer(), work / "crawl")
    good &= verdict(op.failed == 0, f"recrawl_resume: real output passes ({op.problems})")
    if op.crashed:
        return False
    trace = workloads.read_trace(op.state, op.state.read_manifest()["last_round"])
    for what, bad in crawl_corruptions(trace):
        problems, _ = crawl.compare_trace(bad)
        good &= verdict(bool(problems), f"recrawl_resume: {what} -> {problems}")
    return good


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)
    if not (run.ROOT / "fraudcrawler_spark" / "__init__.py").is_file():
        run.log("fraudcrawler_spark is not beside the benchmark: nothing to check")
        return 2
    work = run.DATA / "work" / f"gate{os.getpid()}"
    run.pin_environment(work)
    spark = None
    try:
        spark = run.start_session(len(os.sched_getaffinity(0)), work)
        good = check(spark, args.seed, work)
    finally:
        if spark is not None:
            run.stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0 if good else 1


if __name__ == "__main__":
    sys.exit(main())
