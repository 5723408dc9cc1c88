#!/usr/bin/env python3
"""Crawl-engine benchmark for fraudcrawler_spark: one workload per process.

Run from the repository root:

    python3 crawlbench/run.py --workload recrawl_resume --seed 7 --seconds 7 --trace 0

The run makes its corpora from --seed (cached under crawlbench/data/),
sets the Spark session up once on local[<all cores>] (session start in a
fresh JVM with the engine's one-time prime, then the workload's warm-up
pass), then runs the workload's operation back to back until --seconds
of operation time are measured. Each operation's output goes through the
correctness gate outside the timed region. With --trace 1 one traced
operation follows and the per-layer metrics are reported instead of the
end-to-end ones. The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Progress, correctness problems and the layer table go to standard error.
See README.md in this directory for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data"

DRIVER_MEMORY = "4g"  # leaves room for Python workers on a 15 GB host
WRITE_TABLES = ("frontier", "seen", "bloom", "retired", "results", "lineage",
                "metrics", "host_metrics")


def log(msg: str) -> None:
    print(f"[crawlbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: Path) -> None:
    """Keep every file the run writes inside the checkout, and make the
    program importable here and in Spark's Python workers. Must run
    before pyspark starts the JVM."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ.pop("FC_NO_PRIME", None)  # the engine's prime is part of set-up
    sys.path.insert(0, str(ROOT))


def start_session(cores: int, work: Path):
    from fraudcrawler_spark.session import get_spark

    return get_spark("crawlbench", cores=cores, extra_conf={
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on end of input
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def end_to_end(ops, setup_s: float) -> dict:
    """The bounded metrics: the run's set-up wall time, and medians over
    its operations and committed rounds of the CPU seconds they cost the
    process tree. CPU time, not wall time: on a shared host the wall time
    of the same crawl follows the load of other tenants (three busy
    processes beside a run stretched it by 70% and its CPU time by 4%).
    A run has too few rounds for a percentile above the median with ten
    samples beyond it, so no tail is reported; the sample counts go to
    standard error."""
    rounds = [r["cpu1"] - r["cpu0"] for op in ops for r in op.rounds]
    log(f"{len(ops)} operations, {len(rounds)} round samples")
    return {
        "setup_s": (setup_s, "s"),
        "crawl_cpu_s": (statistics.median(op.cpu_s for op in ops), "s"),
        "round_cpu_s": (statistics.median(rounds), "s"),
    }


def per_layer(wl, ops, top, top_spans, tasks, session_s, rss_mb) -> dict:
    """Per-layer metrics: layer times from the traced operation, Spark job,
    stage and task counts and resume time from the untraced ones, counts
    from the tables the traced operation committed."""
    import spans

    n = len(top.rounds)
    shares: dict[str, float] = {}
    for r in top.rounds:
        for name, sec in spans.attribute(top_spans, r).items():
            shares[name] = shares.get(name, 0.0) + sec / n
    round_s = sum(r["end"] - r["start"] for r in top.rounds) / n
    unattributed = shares.get(spans.ROUND, 0.0)
    if abs(sum(shares.values()) - round_s) > 1e-6:
        raise RuntimeError("layer shares do not add up to the round wall time")

    def op_total(name):  # seconds per operation, for layers outside rounds
        return float(sum(s["end"] - s["start"] for s in top_spans
                         if s["name"] == name))

    untraced_rounds = [r for op in ops for r in op.rounds]
    m = {
        "session.get_spark_s": (session_s, "s"),
        "politeness.schedule_s": (shares.get("politeness.schedule", 0.0), "s"),
        "seen.probe_claim_s": (shares.get("seen.probe_claim", 0.0), "s"),
        "seen.filter_new_s": (shares.get("seen.filter_new", 0.0), "s"),
        "seen.retire_s": (shares.get("seen.retire", 0.0), "s"),
        "fetch.fetch_extract_s": (shares.get("fetch.fetch_extract", 0.0), "s"),
        "classify.classify_s": (shares.get("classify.classify", 0.0), "s"),
        "crawl.init_crawl_s": (op_total("crawl.init_crawl"), "s"),
        "crawl.run_round_s": (round_s, "s"),
        "crawl.unattributed_s": (unattributed, "s"),
        "crawl.resume_s": (statistics.median(op.resume_s for op in ops), "s"),
        # wall times of the untraced operations and rounds; they follow the
        # host's load, see end_to_end
        "crawl.wall_s": (statistics.median(op.wall_s for op in ops), "s"),
        "crawl.round_wall_s": (statistics.median(
            r["end"] - r["start"] for r in untraced_rounds), "s"),
        "checkpoint.commit_s": (shares.get("checkpoint.commit", 0.0), "s"),
        "checkpoint.read_all_s": (shares.get("checkpoint.read_all", 0.0), "s"),
        "discover.discover_s": (op_total("discover.discover"), "s"),
        "spark.jobs_per_round": (statistics.mean(
            r["c1"][0] - r["c0"][0] for r in untraced_rounds), "count"),
        "spark.stages_per_round": (statistics.mean(
            r["c1"][1] - r["c0"][1] for r in untraced_rounds), "count"),
        "spark.tasks_per_round": (statistics.mean(tasks), "count"),
        "trace.overhead_s": (top.wall_s
                             - statistics.median(op.wall_s for op in ops), "s"),
        # the BASELINE metric; across seeds it follows each corpus's crawl
        # volume (a round costs about the same whatever its size) by more
        # than an end-to-end bound allows
        "crawl.urls_per_s": (statistics.median(op.urls / op.wall_s for op in ops), "1/s"),
        # driver JVM VmHWM after the untraced operations; it follows GC
        # timing by about 20% from run to run
        "spark.peak_rss_mb": (rss_mb, "MB"),
    }
    for t in WRITE_TABLES:
        m[f"checkpoint.write_s.{t}"] = (shares.get(f"checkpoint.write.{t}", 0.0), "s")
    counts = {k: 0.0 for k in COUNT_UNITS}
    counts.update(wl.counts(top))
    fetch_s = shares.get("fetch.fetch_extract", 0.0)
    counts["fetch.rows_per_s"] = counts["fetch.n_fetched"] / fetch_s if fetch_s else 0.0
    for k, v in counts.items():
        m[k] = (float(v), COUNT_UNITS[k])
    log("layer self time per round (s): " + ", ".join(
        f"{k}={v:.3f}" for k, v in sorted(shares.items(), key=lambda kv: -kv[1])))
    log(f"sum of layer shares {sum(shares.values()):.3f} s = traced round "
        f"wall {round_s:.3f} s over {n} rounds")
    return m


COUNT_UNITS = {
    "politeness.n_frontier": "count", "politeness.n_scheduled": "count",
    "politeness.n_deferred": "count", "politeness.n_blocked": "count",
    "politeness.scheduled_ratio": "ratio",
    "seen.n_probed": "count", "seen.n_new": "count", "seen.new_ratio": "ratio",
    "seen.fill_ratio": "ratio",
    "fetch.n_fetched": "count", "fetch.hit_ratio": "ratio", "fetch.rows_per_s": "1/s",
    "expand.n_links": "count", "expand.n_enqueued": "count",
    "expand.enqueue_ratio": "ratio",
    "checkpoint.bytes_written": "bytes", "checkpoint.files_written": "count",
    "pipeline.n_rows": "count", "pipeline.flagged_ratio": "ratio",
}


def run(args, work: Path) -> dict:
    import spans
    import workloads

    wls = workloads.make_workloads()
    if args.workload not in wls:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(wls)}")
    wl = wls[args.workload]
    corpus = workloads.ensure_corpus(DATA / "corpus", workloads.PAGES, args.seed)
    cores = len(os.sched_getaffinity(0))

    wl.prepare(corpus)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(cores, work)
        session_s = time.perf_counter() - t0
        wl.warm_up(spark, work)
        setup_s = time.perf_counter() - t0
        log(f"local[{cores}] set-up: {setup_s:.2f} s "
            f"({session_s:.2f} s session start, then the warm-up pass)")
        clock = spans.Tracer(spans.spark_counters(spark), cpu=spans.tree_cpu_s)
        ops, measured = [], 0.0
        steal0, total0 = cpu_ticks()
        with spans.instrument(clock, layers=False):
            while not ops or measured < args.seconds:
                op = wl.run_op(spark, clock, work / f"op{len(ops)}")
                ops.append(op)
                measured += op.wall_s
                log(f"{wl.name} op {len(ops)}: {op.wall_s:.2f} s wall, {op.cpu_s:.2f} s CPU, "
                    f"{op.failed}/{op.attempted} failed")
                if op.crashed:
                    break
        steal1, total1 = cpu_ticks()
        # a virtual machine's CPU steal stretches every wall time measured
        log(f"CPU steal during the timed operations: "
            f"{100 * (steal1 - steal0) / max(total1 - total0, 1):.1f}%")
        attempted = sum(op.attempted for op in ops)
        failed = sum(op.failed for op in ops)
        rss = peak_rss_mb(spark)
        log(f"driver JVM peak RSS {rss:.0f} MB")
        if any(op.crashed for op in ops):
            metrics = {}
        elif not args.trace:
            metrics = end_to_end(ops, setup_s)
        else:
            tasks = spans.completed_tasks(spark, [r for op in ops for r in op.rounds])
            tracer = spans.Tracer(spans.spark_counters(spark))
            with spans.instrument(tracer, layers=True):
                top = wl.run_op(spark, tracer, work / "traced")
            attempted += top.attempted
            failed += top.failed
            metrics = {} if top.crashed else per_layer(
                wl, ops, top, tracer.spans, tasks, session_s, rss)
            _save_trace(args, tracer.spans)
    finally:
        if spark is not None:
            stop_jvm(spark)
    return {
        "correct": failed == 0 and bool(metrics),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _save_trace(args, spans_: list[dict]) -> None:
    out = DATA / "traces" / f"{args.workload}_seed{args.seed}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(spans_))
    log(f"spans written to {out.relative_to(ROOT)}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "fraudcrawler_spark" / "__init__.py").is_file():
        log("fraudcrawler_spark is not beside the benchmark: nothing to measure")
        return 2
    work = DATA / "work" / str(os.getpid())
    pin_environment(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
