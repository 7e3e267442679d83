"""Traced mode: spans around the calls into each engine layer.

The wrappers are installed from here by replacing module and class
attributes; the engine package itself is not edited. A span records
its name, start, end, parent span and round (tick) id, and tags the
Spark jobs started inside it with a job group. After the session
stops, the event log maps every job back to its innermost span, so
jobs and job time are credited to the layer that caused them.

``NativeFS`` calls are too many for spans; they are counted (per
method) and timed per tick instead.
"""

from __future__ import annotations

import functools
import json
import math
import os
import statistics
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

# Span names are ``<layer>.<function>``; the layer is the engine module.
TICK = "streaming.tracker.run_incremental_once"
FS_METHODS = [
    "exists", "getFileStatus", "listStatus", "listFiles", "delete",
    "mkdirs", "create", "open", "getContentSummary", "rename",
]


class Tracer:
    """Spans and counters for one benchmark run, kept in memory."""

    def __init__(self, sc):
        self.sc = sc
        self.active = False
        self.round = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # Counters are keyed by the outermost open span (a tick), so a
        # round's reads do not add to its tick's counts.
        self.counts: Counter = Counter()  # (root span id, name) -> calls
        self.fs_s: Counter = Counter()  # root span id -> seconds in NativeFS

    # -- spans ----------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "round": self.round,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setLocalProperty("spark.jobGroup.id", f"pb{sid}")
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", None if parent is None else f"pb{parent}"
            )

    # -- wrappers ---------------------------------------------------------------

    @staticmethod
    def _patch(owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def wrap_span(self, owner, attr: str, name: str) -> None:
        def make(orig):
            def wrapper(*a, **k):
                with self.span(name):
                    return orig(*a, **k)
            return wrapper
        self._patch(owner, attr, make)

    def wrap_count(self, owner, attr: str, name: str, timed: bool = False) -> None:
        def make(orig):
            def wrapper(*a, **k):
                if not self.active:
                    return orig(*a, **k)
                root = self._stack[0] if self._stack else None
                self.counts[(root, name)] += 1
                t = time.perf_counter()
                try:
                    return orig(*a, **k)
                finally:
                    if timed:
                        self.fs_s[root] += time.perf_counter() - t
            return wrapper
        self._patch(owner, attr, make)

    def install(self) -> None:
        from rds_to_datalake_project_spark import catalog, fsio, sql
        from rds_to_datalake_project_spark.operators import compare, upsert
        from rds_to_datalake_project_spark.streaming import tracker

        table = upsert.KeyedTable
        for layer, owner, fn in [
            ("streaming.tracker", tracker, "run_incremental_once"),
            ("streaming.tracker", tracker.CDCTracker, "plan_batch"),
            ("streaming.tracker", tracker.CDCTracker, "commit"),
            ("streaming.tracker", tracker.CDCTracker, "save"),
            # The tracker calls these through the names it imported.
            ("sources.cdc", tracker, "discover_cdc_files"),
            ("sources.cdc", tracker, "read_cdc_files"),
            ("operators.upsert", table, "upsert"),
            ("operators.upsert", table, "recover"),
            ("operators.upsert", table, "read"),
            ("operators.upsert", table, "lookup_many"),
            ("operators.upsert", table, "read_where"),
            ("sql", sql, "run_query"),
            ("catalog", catalog, "register_lake_table"),
            ("operators.compare", compare, "compare_tables"),
        ]:
            self.wrap_span(owner, fn, f"{layer}.{fn}")
        # One call per merge attempt: more calls than upserts = retries.
        self.wrap_count(table, "_upsert_once", "operators.upsert.attempts")
        for m in FS_METHODS:
            self.wrap_count(fsio.NativeFS, m, f"fsio.ops.{m}", timed=True)

    def dump(self, path: str, jobs: list[tuple[int, float, float]]) -> None:
        """Write the spans, counters and credited Spark jobs as JSON."""
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "counts": [[r, n, c] for (r, n), c in self.counts.items()],
                       "fs_s": list(self.fs_s.items()),
                       "jobs": jobs}, f)


# -- the event log --------------------------------------------------------------


def spark_jobs(eventlog_dir: str) -> list[tuple[int, float, float]]:
    """``(span id, start s, end s)`` of every Spark job started inside a
    span, read from the (uncompressed) event log."""
    starts: dict[int, tuple] = {}
    jobs = []
    for root, _dirs, files in os.walk(eventlog_dir):
        for name in files:
            with open(os.path.join(root, name), errors="replace") as f:
                for line in f:
                    if '"SparkListenerJob' not in line[:40]:
                        continue
                    ev = json.loads(line)
                    if ev["Event"] == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                        if group.startswith("pb"):
                            starts[ev["Job ID"]] = (int(group[2:]), ev["Submission Time"])
                    elif ev["Event"] == "SparkListenerJobEnd":
                        st = starts.pop(ev["Job ID"], None)
                        if st:
                            jobs.append((st[0], st[1] / 1000, ev["Completion Time"] / 1000))
    return jobs


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


class Profile:
    """Per-round layer times, self times and job credit from the spans
    and jobs of one traced run."""

    def __init__(self, spans: list[dict], jobs: list[tuple[int, float, float]]):
        self.spans = spans
        self.children: dict[int, list[int]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s["id"])
        self.jobs: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for sid, start, end in jobs:
            self.jobs[sid].append((start, end))

    @staticmethod
    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    def self_time(self, s: dict) -> float:
        return self.dur(s) - sum(self.dur(self.spans[c]) for c in self.children[s["id"]])

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(self.children[i])
        return out

    def job_intervals(self, sid: int) -> list[tuple[float, float]]:
        return [iv for i in self.subtree(sid) for iv in self.jobs[i]]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def ticks(self, rounds) -> list[int]:
        """Span id of the tick of each round."""
        ids = {s["round"]: s["id"] for s in self.named(TICK)}
        return [ids[r] for r in rounds]

    def per_tick(self, rounds, fn) -> list[float]:
        """``fn(spans of the tick)`` for the tick of each round: the
        tick span and everything under it, not the reads after it."""
        return [fn([self.spans[i] for i in self.subtree(t)]) for t in self.ticks(rounds)]

    def layer_self(self, spans: list[dict], layer: str) -> float:
        return sum(self.self_time(s) for s in spans if s["name"].startswith(layer + "."))

    def jobs_in(self, spans: list[dict]) -> tuple[int, float]:
        """Job count and busy seconds under ``spans`` (and descendants)."""
        ivs = [iv for s in spans for iv in self.job_intervals(s["id"])]
        return len(ivs), _union(ivs)


# -- per-layer metrics -------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float]:
    """A high percentile of ``values`` (linear between order statistics)
    and its rank in percent: the highest with at least ten samples
    beyond it, but never below p90 — a run's ten to fifty ticks support
    no higher rank."""
    v = sorted(values)
    n = len(v)
    pct = max(90.0, 100.0 * (n - 10) / n)
    pos = (n - 1) * pct / 100
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo), pct


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("bytes_written"):
        return "bytes"
    return "count"


def layer_metrics(run, jobs: list[tuple[int, float, float]]) -> dict:
    """Per-layer metrics of a traced run: tick-path figures are per
    traced tick (medians of times, means of counts), read-path figures
    per call."""
    tr = run.tracer
    prof = Profile(tr.spans, jobs)
    ticks = [r for r in run.traced_rounds if r in run.per_tick]

    def per_tick(fn):
        return prof.per_tick(ticks, fn)

    def total(name):
        return per_tick(lambda ss: sum(prof.dur(s) for s in ss if s["name"] == name))

    def calls(name):
        return per_tick(lambda ss: sum(s["name"] == name for s in ss))

    def count(name):
        return [tr.counts[(t, name)] for t in prof.ticks(ticks)]

    def durations(name):
        return [prof.dur(s) for s in prof.named(name)]

    def uncovered(ss):
        return sum(prof.self_time(s) for s in ss if s["name"] == TICK)

    def upsert_jobs(ss):
        return prof.jobs_in([s for s in ss if s["name"] == "operators.upsert.upsert"])

    m = {"session.start_s": run.session_start_s}
    discover_calls = calls("sources.cdc.discover_cdc_files")
    m["sources.cdc.discover_s"] = _med(total("sources.cdc.discover_cdc_files"))
    m["sources.cdc.discover_calls"] = _mean(discover_calls)
    m["sources.cdc.discover_useful_ratio"] = sum(
        run.per_tick[r]["chosen"] for r in ticks
    ) / max(1, sum(discover_calls) * run.backlog.n_files)
    m["sources.cdc.read_s"] = _med(total("sources.cdc.read_cdc_files"))
    m["sources.cdc.self_s"] = _med(per_tick(lambda ss: prof.layer_self(ss, "sources.cdc")))

    m["streaming.tracker.plan_s"] = _med(total("streaming.tracker.plan_batch"))
    m["streaming.tracker.commit_s"] = _med(total("streaming.tracker.commit"))
    m["streaming.tracker.save_calls"] = _mean(calls("streaming.tracker.save"))
    m["streaming.tracker.self_s"] = _med(
        per_tick(lambda ss: prof.layer_self(ss, "streaming.tracker"))
    )
    m["tick.uncovered_s"] = _med(per_tick(uncovered))

    m["fsio.ops"] = _mean(map(sum, zip(*(count(f"fsio.ops.{f}") for f in FS_METHODS))))
    m["fsio.s"] = _med(tr.fs_s[t] for t in prof.ticks(ticks))
    for f in FS_METHODS:
        m[f"fsio.ops.{f}"] = _mean(count(f"fsio.ops.{f}"))

    up = "operators.upsert"
    upsert_s = total(f"{up}.upsert")
    jobs_per_tick = per_tick(upsert_jobs)
    m[f"{up}.upsert_s"] = _med(upsert_s)
    m[f"{up}.recover_s"] = _med(total(f"{up}.recover"))
    m[f"{up}.jobs"] = _mean(n for n, _ in jobs_per_tick)
    m[f"{up}.job_s"] = _med(s for _, s in jobs_per_tick)
    m[f"{up}.gap_s"] = _med(u - j for u, (_, j) in zip(upsert_s, jobs_per_tick))
    for k in ("partitions_touched", "files_written", "bytes_written"):
        m[f"{up}.{k}"] = _mean(run.per_tick[r][k] for r in ticks)
    m[f"{up}.read_calls"] = _mean(calls(f"{up}.read"))
    m[f"{up}.read_s"] = _med(total(f"{up}.read"))
    m[f"{up}.commit_retries"] = sum(count(f"{up}.attempts")) - sum(calls(f"{up}.upsert"))
    m[f"{up}.self_s"] = _med(per_tick(lambda ss: prof.layer_self(ss, up)))
    m[f"{up}.lookup_s"] = _med(durations(f"{up}.lookup_many"))
    m[f"{up}.read_where_s"] = _med(durations(f"{up}.read_where"))

    queries = prof.named("sql.run_query")
    m["sql.plan_s"] = _med(prof.dur(s) for s in queries)
    m["sql.exec_s"] = _med(durations("sql.exec"))
    m["sql.jobs"] = prof.jobs_in(queries + prof.named("sql.exec"))[0] / max(1, len(queries))
    m["catalog.register_s"] = _med(durations("catalog.register_lake_table"))
    n_jobs, job_s = prof.jobs_in(prof.named("operators.compare.compare_tables"))
    m["operators.compare.jobs"] = n_jobs
    m["operators.compare.job_s"] = job_s

    m["trace.overhead_s"] = _med(run.traced_tick_s) - _med(run.tick_s)
    return {k: {"value": v, "unit": unit(k)} for k, v in m.items()}
