#!/usr/bin/env python3
"""CDC-replication benchmark: replay a seeded CDC backlog through the
engine's replicate loop and report what a user of the lake sees.

Each run, on ``local[nproc]`` with one orchestrator and one client (a
closed loop):

    KeyedTable.initial_load → run_incremental_once (max_files=2) until
    the time is up → register_lake_table / run_query / lookup_many /
    read_where → compare_tables against the generator's expected state

Usage::

    python3 perfbench/run.py --workload cdc_hot_recent --seed 1 \\
        --seconds 20 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Workloads and
metrics are described in ``perfbench/DESIGN.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

import gen
from spans import Tracer, layer_metrics, spark_jobs, tail

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "rds_to_datalake_project_spark"
WORKLOADS = tuple(gen.SHAPES)

# Initial loads per run (initial_load_s is their median), read rounds
# after the loop of an ingest workload (see Run.reads), and the Spark
# driver's JVM heap.
LOADS = 3
READ_ROUNDS = 4
DRIVER_MEMORY = "3g"

E2E_UNITS = {
    "setup_s": "s",
    "initial_load_s": "s",
    "tick_p50_s": "s",
    "tick_tail_s": "s",
    "apply_rows_per_s": "rows/s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "lookup_p50_s": "s",
    "lookup_tail_s": "s",
    "audit_s": "s",
    "peak_rss_mb": "MB",
    "success_rate": "ratio",
}


def data_files(path: str) -> dict[str, int]:
    """Live data files of a lake table → size. Hidden (``.``/``_``)
    directories hold staging, metadata and parked partitions."""
    out = {}
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """One workload run: set-up, the measured loop, reads and audit."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str, scale: float = 1.0):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.scale = scale
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.tracer = None
        self.spark = None

    def op(self, name: str, fn, *args) -> bool:
        """Run one counted operation; an exception or a False result
        (a failed correctness check) counts as a failure."""
        self.attempted += 1
        try:
            ok = fn(*args) is not False
        except Exception:
            ok = False
            self.errors.append(f"{name}: {traceback.format_exc()}")
        else:
            if not ok:
                self.errors.append(f"{name}: wrong answer")
        self.failed += not ok
        return ok

    def timed(self, samples: list[float], name: str, fn, *args) -> bool:
        t0 = time.perf_counter()
        ok = self.op(name, fn, *args)
        samples.append(time.perf_counter() - t0)
        return ok

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def set_round(self, rnd, traced: bool) -> None:
        if self.tracer:
            self.tracer.round = rnd
            self.tracer.active = traced

    # -- set-up -----------------------------------------------------------

    def start_session(self):
        from rds_to_datalake_project_spark.session import get_spark

        n = nproc()
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            # A fixed heap and young generation, so peak RSS and tick
            # times do not follow heap resizing; no perf-data file,
            # which the JVM would put in /tmp.
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Xmn1g -XX:-UsePerfData "
                                             f"-Djava.io.tmpdir={tempfile.gettempdir()}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            self.eventlog = os.path.join(self.work, "eventlog")
            os.makedirs(self.eventlog)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.eventlog,
                "spark.eventLog.compress": "false",
            })
        os.environ["SPARK_GRAFT_CPUS"] = str(n)
        spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n,
                          extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def spark_schema(self, with_op: bool):
        from pyspark.sql import types as T

        conv = {"int64": T.LongType(), "int32": T.IntegerType(),
                "string": T.StringType(), "timestamp[us]": T.TimestampType()}
        fields = [T.StructField(f.name, conv[str(f.type)], True)
                  for f in self.backlog.schema]
        if with_op:
            fields.insert(0, T.StructField("Op", T.StringType(), True))
        return T.StructType(fields)

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.backlog = b = gen.Backlog(self.workload, self.seed, self.seconds, self.scale)
        self.src = os.path.join(self.work, "source")
        self.cdc_paths = b.write_source(self.src)
        self.answers = b.answers() if self.workload == "lake_read_mix" else None
        self.gen_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        self.spark = self.start_session()
        self.session_start_s = time.perf_counter() - t0
        if self.trace:
            self.tracer = Tracer(self.spark.sparkContext)
            self.tracer.install()

        from rds_to_datalake_project_spark.operators.upsert import KeyedTable
        from rds_to_datalake_project_spark.schema import TableSpec
        from rds_to_datalake_project_spark.streaming.tracker import CDCTracker

        self.spec = TableSpec(
            b.table,
            record_key=gen.KEYS[b.table],
            precombine_key="update_at",
            partition_source=gen.PARTITION_SOURCE[b.table],
            partition_granularity="month",
            schema=self.spark_schema(with_op=True),
        )
        self.lake_path = os.path.join(self.work, "lake", b.table)
        loads = sorted(f for f in os.listdir(self.src) if f.startswith("LOAD"))
        snapshot = self.spark.read.schema(self.spark_schema(with_op=False)).parquet(
            *[os.path.join(self.src, f) for f in loads]
        )
        self.load_s = []
        for _ in range(LOADS):
            self.lake = KeyedTable(self.spark, self.lake_path, self.spec)
            t0 = time.perf_counter()
            self.lake.initial_load(snapshot)
            self.load_s.append(time.perf_counter() - t0)

        # Warm-up ticks: the JVM is still compiling the merge path, so
        # these are excluded from every metric but counted in setup_s.
        t0 = time.perf_counter()
        self.tracker = CDCTracker(os.path.join(self.work, "tracker.json"),
                                  max_files=gen.MAX_FILES)
        self.applied = 0
        self.batches = 0
        for _ in range(gen.WARMUP_TICKS):
            if not self.op("tick", self.tick):
                break
        # ...and one pass over every read, so no measured read is the
        # first run of its plan.
        self.reset_samples()
        self.op("register", self.register)
        self.reads(self.backlog.answers_at(self.applied), rounds=1)
        self.reset_samples()
        self.warmup_s = time.perf_counter() - t0
        self.live_files = data_files(self.lake_path)

    # -- the loop ---------------------------------------------------------

    def tick(self) -> bool:
        """One orchestrator tick; checks it applied the files it should."""
        from rds_to_datalake_project_spark.streaming import tracker

        want = min(gen.MAX_FILES, self.backlog.n_files - self.applied)
        n = tracker.run_incremental_once(
            self.spark, self.tracker, self.src, self.lake,
            delete_mode=self.backlog.shape.delete_mode,
        )
        self.applied += n
        self.batches += n > 0
        return n == want

    def reset_samples(self) -> None:
        self.tick_s: list[float] = []  # untraced ticks
        self.traced_tick_s: list[float] = []
        self.query_s: list[float] = []
        self.lookup_s: list[float] = []
        self.range_s: list[float] = []

    def measure(self) -> None:
        self.per_tick: dict[int, dict] = {}  # round -> files/bytes written
        self.traced_rounds: list[int] = []
        self.rows_applied = 0
        self.cdc_applied_bytes = 0
        deadline = time.perf_counter() + self.seconds
        rnd = 0
        while time.perf_counter() < deadline and self.applied < self.backlog.n_files:
            rnd += 1
            # A traced run traces half the rounds, in the order traced,
            # untraced, untraced, traced, so that ticks still speeding
            # up favour neither half; the untraced half gives the
            # tracing overhead.
            traced = self.tracer is not None and rnd % 4 in (0, 1)
            if traced:
                self.traced_rounds.append(rnd)
            self.set_round(rnd, traced)
            before = self.applied
            t0 = time.perf_counter()
            ok = self.op("tick", self.tick)
            (self.traced_tick_s if traced else self.tick_s).append(time.perf_counter() - t0)
            if not ok:
                break
            for i in range(before, self.applied):
                self.rows_applied += len(self.backlog.files[i]["id"])
                self.cdc_applied_bytes += os.path.getsize(self.cdc_paths[i])
            self.per_tick[rnd] = dict(self.account_writes(), chosen=self.applied - before)
            if self.workload == "lake_read_mix":
                # the hive_sync analog: re-register after every commit
                self.op("register", self.register)
                self.reads(self.answers[self.applied], rounds=1)
        self.set_round("read", True)
        if self.workload != "lake_read_mix":
            self.op("register", self.register)
            self.reads(self.backlog.answers_at(self.applied), rounds=READ_ROUNDS)

    def register(self) -> None:
        from rds_to_datalake_project_spark.catalog import register_lake_table

        register_lake_table(self.spark, self.backlog.table, self.lake_path)

    def account_writes(self) -> dict:
        now = data_files(self.lake_path)
        new = {p: s for p, s in now.items() if p not in self.live_files}
        gone = [p for p in self.live_files if p not in now]
        self.live_files = now
        return {
            "bytes_written": sum(new.values()),
            "files_written": len(new),
            "partitions_touched": len({os.path.dirname(p) for p in [*new, *gone]}),
        }

    # -- reads ------------------------------------------------------------

    def query_sql(self) -> str:
        """The read mix's SQL: a whole-table aggregate and a
        partition-pruned per-month aggregate in one statement."""
        b = self.backlog
        t, p = b.table, b.table[0]
        group, price = (("o_orderstatus", "o_totalprice") if t == "orders"
                        else ("l_returnflag", "l_extendedprice"))
        return (
            f"SELECT concat('group:', {group}) AS k, COUNT(*) AS n, SUM({price}) AS s "
            f"FROM {t} GROUP BY {group} UNION ALL "
            f"SELECT concat('month:', {p}_year, '-', {p}_month), COUNT(*), SUM({price}) "
            f"FROM {t} WHERE {p}_year >= '{b.recent_year}' GROUP BY {p}_year, {p}_month"
        )

    def query(self, expect: dict) -> bool:
        from rds_to_datalake_project_spark import sql

        df = sql.run_query(self.spark, self.query_sql())
        with self.span("sql.exec"):
            rows = df.collect()
        return {r[0]: [r[1], r[2]] for r in rows} == expect["sql"]

    def lookup(self, expect: dict) -> bool:
        from pyspark.sql import functions as F

        if self.backlog.table == "orders":
            cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
        else:
            cols = ["l_orderkey", "l_linenumber", "l_quantity"]
        df = self.lake.lookup_many(self.backlog.lookup_keys).select(
            *cols, F.unix_micros("update_at")
        )
        with self.span("operators.upsert.lookup_exec"):
            rows = sorted(list(r) for r in df.collect())
        return rows == sorted(expect["lookup"])

    def range_read(self, expect: dict) -> bool:
        from pyspark.sql import functions as F

        b = self.backlog
        col = "o_orderdate" if b.table == "orders" else "l_shipdate"
        price = "o_totalprice" if b.table == "orders" else "l_extendedprice"
        df = self.lake.read_where({col: (b.range_lo, b.range_hi)})
        with self.span("operators.upsert.read_where_exec"):
            row = df.agg(F.count("*"), F.sum(price)).collect()[0]
        return [row[0], row[1] or 0] == expect["range"]

    def reads(self, expect: dict, rounds: int) -> None:
        """Read rounds of one SQL statement, one multi-key lookup and
        one range read, each checked against ``expect``."""
        for _ in range(rounds):
            self.timed(self.query_s, "query", self.query, expect)
            self.timed(self.lookup_s, "lookup", self.lookup, expect)
            self.timed(self.range_s, "range_read", self.range_read, expect)

    # -- audit ------------------------------------------------------------

    def audit(self) -> bool:
        """compare_tables against the expected state, plus the gates a
        correct replicate loop must leave behind."""
        import pyarrow.parquet as pq

        from rds_to_datalake_project_spark.operators.compare import compare_tables
        from rds_to_datalake_project_spark.streaming.tracker import CDCTracker

        path = os.path.join(self.work, "expected.parquet")
        pq.write_table(self.backlog.state_at(self.applied), path)
        self.expected_bytes = os.path.getsize(path)
        expected = self.spark.read.parquet(path)
        t0 = time.perf_counter()
        try:
            res = compare_tables(expected, self.lake.read(), keys=gen.KEYS[self.backlog.table])
        finally:
            self.audit_s = time.perf_counter() - t0
        gates = {"compare": res.equal}
        gates["no_staging"] = not [
            d for d in os.listdir(self.lake_path) if d.startswith(".staging-")
        ]
        st = CDCTracker.load(self.tracker.path).state(self.backlog.table)
        gates["watermark"] = st.last_processed == self.backlog.commit_times[self.applied - 1]
        gates["n_batches"] = st.n_batches == self.batches
        bad = [g for g, ok in gates.items() if not ok]
        if bad:
            self.errors.append(f"audit gates failed: {bad} ({res})")
        return not bad

    # -- results ----------------------------------------------------------

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{jvm_pid}/status") as f:
            hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (hwm_kb + py_kb) / 1024

    def stop(self) -> None:
        """Stop the session and wait for its JVM to exit."""
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits on stdin EOF
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def execute(self) -> dict:
        try:
            self.setup()
            self.measure()
            self.set_round("audit", True)
            self.op("audit", self.audit)
            self.set_round(None, False)
            self.rss = self.peak_rss_mb()
        finally:
            if self.spark is not None:
                self.stop()
        metrics = self.layer_metrics() if self.trace else self.e2e_metrics()
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def e2e_metrics(self) -> dict:
        med = statistics.median
        load = med(self.load_s)
        m = {
            "setup_s": self.gen_s + self.session_start_s + load + self.warmup_s,
            "initial_load_s": load,
            "tick_p50_s": med(self.tick_s),
            "tick_tail_s": tail(self.tick_s)[0],
            "apply_rows_per_s": self.rows_applied / sum(self.tick_s),
            "write_amp": sum(t["bytes_written"] for t in self.per_tick.values())
            / self.cdc_applied_bytes,
            "space_amp": sum(self.live_files.values()) / self.expected_bytes,
            "query_p50_s": med(self.query_s),
            "query_tail_s": tail(self.query_s)[0],
            "lookup_p50_s": med(self.lookup_s),
            "lookup_tail_s": tail(self.lookup_s)[0],
            "audit_s": self.audit_s,
            "peak_rss_mb": self.rss,
            "success_rate": 1 - self.failed / self.attempted,
        }
        return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in m.items()}

    def layer_metrics(self) -> dict:
        self.jobs = spark_jobs(self.eventlog)
        return layer_metrics(self, self.jobs)

    def summary(self) -> str:
        ticks = self.tick_s + self.traced_tick_s
        return (
            f"perfbench {self.workload} seed={self.seed} trace={int(self.trace)}: "
            f"{len(ticks)} ticks (tail = p{tail(ticks)[1]:.0f}), "
            f"{self.applied} of {self.backlog.n_files} CDC files applied, "
            f"{len(self.query_s)} queries, {len(self.lookup_s)} lookups, "
            f"{len(self.range_s)} range reads, failed {self.failed}/{self.attempted}; "
            f"gen {self.gen_s:.1f}s, session {self.session_start_s:.1f}s, loads "
            f"{'/'.join(f'{x:.1f}' for x in self.load_s)}s, warm-up {self.warmup_s:.1f}s, "
            f"reads {sum(self.query_s + self.lookup_s + self.range_s):.1f}s, "
            f"audit {self.audit_s:.1f}s; ticks "
            f"{' '.join(f'{x:.2f}' for x in self.tick_s + self.traced_tick_s)}"
        )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="table and CDC file size factor (tests use a tiny one)")
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: no {PKG} package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    out = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out, f"{a.workload}-{a.seed}-{os.getpid()}")
    # Spark, the JVM and Python temp files all stay inside the checkout.
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None
    run = Run(a.workload, a.seed, a.seconds, bool(a.trace), work, a.scale)
    try:
        result = run.execute()
        if run.tracer:
            run.tracer.dump(os.path.join(out, f"spans-{a.workload}-{a.seed}.json"), run.jobs)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in run.errors:
        print(e, file=sys.stderr)
    print(run.summary())
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
