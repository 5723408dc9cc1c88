"""Spans recorded from outside the program, around its public layer functions.

The benchmark never edits the package: ``instrument`` swaps module and
class attributes for timing wrappers while a block runs and puts the
originals back afterwards. Each span records its name, start, end and
parent. Work that the crawl driver runs on its own threads (the
overlapped checkpoint writes) is parented to the span the main thread
is in, because that span waits for it.

Spark is lazy, so a span around a call that only builds a plan would time
planning alone. With ``force=True`` each wrapper materialises the
DataFrame its layer returns (``localCheckpoint``) before the span ends,
which bills execution to the layer whose output it is. Forcing adds
Spark jobs; the traced-minus-untraced wall time reports that cost.
"""

from __future__ import annotations

import contextlib
import functools
import os
import threading
import time
from collections import defaultdict

ROUND = "crawl.run_round"


class Tracer:
    """In-memory span log for one process.

    ``counters`` returns (next Spark job id, next Spark stage id); spans
    opened with ``counted=True`` record it at both ends, so the jobs and
    stages a round ran are the difference of the newest ids. With ``cpu``
    (a clock such as ``tree_cpu_s``) they also record CPU seconds at both
    ends, as ``cpu0`` and ``cpu1``."""

    def __init__(self, counters=None, cpu=None):
        self.spans: list[dict] = []
        self._counters = counters
        self._cpu = cpu
        self._main_stack: list[int] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, counted: bool = False):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._main_stack[-1] if self._main_stack else None
        rec = {"name": name, "parent": parent, "end": None}
        if counted and self._counters is not None:
            rec["c0"] = self._counters()
        if counted and self._cpu is not None:
            rec["cpu0"] = self._cpu()
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if counted and self._cpu is not None:
                rec["cpu1"] = self._cpu()
            if counted and self._counters is not None:
                rec["c1"] = self._counters()

    def rounds(self, since: int = 0) -> list[dict]:
        """Committed crawl rounds recorded after span index ``since``."""
        return [s for s in self.spans[since:]
                if s["name"] == ROUND and s.get("committed")]


def spark_counters(spark):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    return lambda: (int(dag.nextJobId()), int(dag.nextStageId()))


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live descendant
    (the Spark JVM, PySpark's daemon and its workers), reaped children
    included. Time a shared host's other work or the hypervisor takes from
    these processes is not in it, unlike wall time."""
    tck = os.sysconf("SC_CLK_TCK")
    kids: dict[int, list[int]] = defaultdict(list)
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listed
            continue
        stats[int(d)] = st
        kids[int(st[1])].append(int(d))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:  # utime, stime, cutime, cstime
            total += sum(int(x) for x in stats[pid][11:15])
        todo.extend(kids.get(pid, ()))
    return total / tck


def completed_tasks(spark, rounds: list[dict]) -> list[int]:
    """Tasks each round ran: completed tasks over the stage ids it
    allocated (skipped stages count zero). Read soon after the rounds —
    the status store keeps only the newest 1000 stages."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    out = []
    for r in rounds:
        n = 0
        for sid in range(r["c0"][1], r["c1"][1]):
            info = tracker.getStageInfo(sid)
            if info is not None:
                n += info.numCompletedTasks
        out.append(n)
    return out


def _targets(layers: bool):
    from fraudcrawler_spark.frontier import crawl
    from fraudcrawler_spark.frontier.checkpoint import CrawlState
    from fraudcrawler_spark.frontier.seen import SeenStore

    out = [(crawl, "run_round", ROUND, "round")]
    if layers:
        out += [
            (crawl, "init_crawl", "crawl.init_crawl", "call"),
            (crawl, "schedule_status", "politeness.schedule", "df"),
            (SeenStore, "probe_and_claim", "seen.probe_claim", "df"),
            (SeenStore, "filter_new", "seen.filter_new", "df"),
            (SeenStore, "retire", "seen.retire", "retire"),
            (crawl, "fetch_extract", "fetch.fetch_extract", "df"),
            (crawl, "classify_stage", "classify.classify", "df"),
            (crawl, "discover", "discover.discover", "df"),
            (CrawlState, "write", "checkpoint.write", "write"),
            (CrawlState, "commit", "checkpoint.commit", "call"),
            (CrawlState, "read_all", "checkpoint.read_all", "call"),
        ]
    return out


def _wrap(tracer: Tracer, fn, name: str, kind: str, force: bool):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        label = name
        if kind == "write":  # CrawlState.write(self, table, ...)
            label = f"{name}.{args[1] if len(args) > 1 else kwargs['table']}"
        with tracer.span(label, counted=kind == "round") as rec:
            out = fn(*args, **kwargs)
            if force and kind == "df":
                out = out.localCheckpoint()
            elif force and kind == "retire":
                store = args[0]
                if store.segments is not None:
                    store.load(store.segments.localCheckpoint(), store.seen)
            if kind == "round":
                rec["committed"] = bool(out)
        return out

    return wrapper


@contextlib.contextmanager
def instrument(tracer: Tracer, layers: bool):
    """Time every crawl round; with ``layers`` also span (and force) every
    layer function the crawl calls."""
    swapped = []
    try:
        for owner, attr, name, kind in _targets(layers):
            orig = getattr(owner, attr)
            setattr(owner, attr, _wrap(tracer, orig, name, kind, force=layers))
            swapped.append((owner, attr, orig))
        yield tracer
    finally:
        for owner, attr, orig in reversed(swapped):
            setattr(owner, attr, orig)


def attribute(spans: list[dict], root: dict) -> dict[str, float]:
    """Split ``root``'s wall time between span names.

    Every instant goes to the innermost spans open at that instant; when
    several are open at once (overlapped writes) it is split evenly
    between them, and an instant with no span below ``root`` open stays
    with ``root`` itself. The shares therefore sum to the root's wall
    time exactly."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    by_id = {s["id"]: s for s in spans}
    desc, todo = [], [root["id"]]
    while todo:
        for c in kids[todo.pop()]:
            desc.append(c)
            todo.append(c["id"])
    lo, hi = root["start"], root["end"]
    points = sorted({lo, hi, *(min(max(t, lo), hi)
                               for s in desc for t in (s["start"], s["end"]))})
    out: dict[str, float] = defaultdict(float)
    for a, b in zip(points, points[1:]):
        open_ = [s for s in desc if s["start"] <= a and s["end"] >= b]
        enclosing = set()
        for s in open_:
            p = s["parent"]
            while p is not None and p != root["id"]:
                enclosing.add(p)
                p = by_id[p]["parent"]
        inner = [s for s in open_ if s["id"] not in enclosing]
        if not inner:
            out[root["name"]] += b - a
        for s in inner:
            out[s["name"]] += (b - a) / len(inner)
    return dict(out)
