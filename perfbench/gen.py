"""Seeded CDC backlog generator for the replication benchmark.

Depends on numpy and pyarrow only; the engine never sees anything but
the files this writes. For one workload and seed it produces:

- the source snapshot as ``<out>/source/LOAD0000000{1..4}.parquet``
  (the DMS full-load files, no ``Op`` column);
- the CDC backlog in the DMS layout
  ``<out>/source/YYYY/MM/DD/HH/YYYYMMDD-HHMMSSfff.parquet``, each file
  carrying an ``Op`` column (I/U/D) and one row per touched key;
- ``<out>/expected/state_final.parquet``: the lake state after the
  whole backlog, and ``<out>/expected/answers.json``: the answer to
  every benchmark query, lookup and range read after each even file
  count (a tick with ``max_files=2`` applies two files).

The benchmark drains as much of the backlog as its time allows, so it
also calls :meth:`Backlog.state_at` for the exact prefix it applied.

Usage::

    python3 perfbench/gen.py --workload cdc_hot_recent --seed 7 --out DIR
"""

from __future__ import annotations

import argparse
import json
import math
import os
from dataclasses import dataclass, replace
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# First CDC commit time; file i commits at T0 + i * FILE_SPACING plus
# a millisecond jitter. Row versions fall in the 5 s before their
# file's commit, so every version of a key in a later file is newer
# than any in an earlier one (the precombine order is the file order).
T0 = datetime(2024, 3, 1, 0, 0, 0)
FILE_SPACING = timedelta(seconds=10)
ROW_SPREAD_US = 5_000_000
# Dates start at D0. Order dates span ~80 months (month partitions);
# ship dates span ~40, which keeps a churn tick — it rewrites every
# partition — near 2 s on a 4-core host.
D0 = np.datetime64("1992-01-01")
ORDER_DAYS = 2430
SHIP_DAYS = 1215
LOAD_FILES = 4
# Ticks run before measuring: the first ticks of a session run 30–60%
# slower while the JVM compiles the merge path. The backlog holds
# enough files for them plus a measured loop at MIN_TICK_S per tick.
WARMUP_TICKS = 4
MIN_TICK_S = 0.4
MAX_FILES = 2
STATUS = np.array(["F", "O", "P"])
FLAGS = np.array(["A", "N", "R"])


@dataclass(frozen=True)
class Shape:
    """What a workload's backlog looks like."""

    table: str  # "orders" or "lineitem"
    rows: int  # snapshot rows
    rows_per_file: int
    mix: tuple[float, float, float]  # I, U, D shares of a CDC file
    hot_frac: float | None  # U on the newest share of keys; None = uniform
    delete_mode: str


SHAPES = {
    "cdc_hot_recent": Shape("orders", 150_000, 2_000, (0.1, 0.9, 0.0), 0.025, "ignore"),
    "cdc_uniform_churn": Shape("lineitem", 200_000, 2_000, (0.2, 0.6, 0.2), None, "apply"),
    "lake_read_mix": Shape("orders", 150_000, 2_000, (0.1, 0.9, 0.0), 0.025, "ignore"),
}


def shape_for(workload: str, scale: float = 1.0) -> Shape:
    s = SHAPES[workload]
    rows_per_file = max(20, int(s.rows_per_file * scale))
    rows_per_file -= rows_per_file % 4  # lineitem inserts whole orders
    return replace(s, rows=max(400, int(s.rows * scale)) // 4 * 4,
                   rows_per_file=rows_per_file)


ORDERS_SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.int64()),
        ("o_orderdate", pa.string()),
        ("o_comment", pa.string()),
        ("update_at", pa.timestamp("us")),
    ]
)
LINEITEM_SCHEMA = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_partkey", pa.int64()),
        ("l_quantity", pa.int64()),
        ("l_extendedprice", pa.int64()),
        ("l_returnflag", pa.string()),
        ("l_shipdate", pa.string()),
        ("l_comment", pa.string()),
        ("update_at", pa.timestamp("us")),
    ]
)
SCHEMAS = {"orders": ORDERS_SCHEMA, "lineitem": LINEITEM_SCHEMA}
# Record key and partition-source column of each table.
KEYS = {"orders": ("o_orderkey",), "lineitem": ("l_orderkey", "l_linenumber")}
PARTITION_SOURCE = {"orders": "o_orderdate", "lineitem": "l_shipdate"}


def _vocab(rng: np.random.Generator, n: int = 1024) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz "))
    lens = rng.integers(12, 44, n)
    return np.array(["".join(rng.choice(letters, k)) for k in lens], dtype=object)


def _us(dt: datetime) -> int:
    return int((dt - datetime(1970, 1, 1)).total_seconds()) * 1_000_000 + dt.microsecond


class Backlog:
    """One workload's snapshot + CDC files, held as numpy columns.

    Rows are addressed by a dense row id: the order key for orders,
    ``(l_orderkey - 1) * 4 + l_linenumber - 1`` for lineitem. The
    snapshot is the state at file count 0; ``files[i]`` holds the row
    ids, ops and new column values of CDC file i.
    """

    def __init__(self, workload: str, seed: int, seconds: float, scale: float = 1.0):
        self.shape = shape_for(workload, scale)
        self.table = self.shape.table
        self.schema = SCHEMAS[self.table]
        # more files than a run of ``seconds`` drains
        self.n_files = MAX_FILES * (WARMUP_TICKS + math.ceil(seconds / MIN_TICK_S))
        rng = np.random.default_rng([seed, sorted(SHAPES).index(workload)])
        self.vocab = _vocab(rng)
        if self.table == "orders":
            self._gen_orders(rng)
        else:
            self._gen_lineitem(rng)
        self._gen_commit_times(rng)
        self.col_day = self.col_date.astype(np.int64)
        self.col_month = self.col_date.astype("datetime64[M]").astype(np.int64)
        self.lookup_keys, self.range_lo, self.range_hi, self.recent_year = (
            self._read_targets(rng)
        )

    # -- generation -------------------------------------------------------

    def _gen_commit_times(self, rng: np.random.Generator) -> None:
        jitter = rng.integers(0, 1000, self.n_files)
        self.commit_times = [
            T0 + i * FILE_SPACING + timedelta(milliseconds=int(j))
            for i, j in enumerate(jitter)
        ]
        # update_at of each file's rows: within ROW_SPREAD_US before
        # its commit time, so versions order by file.
        for f, ct in zip(self.files, self.commit_times):
            f["update_at"] = _us(ct) - rng.integers(0, ROW_SPREAD_US, len(f["id"]))

    def _gen_orders(self, rng: np.random.Generator) -> None:
        s = self.shape
        n0 = s.rows
        n_ins = round(s.rows_per_file * s.mix[0])
        n_upd = s.rows_per_file - n_ins
        cap = n0 + n_ins * self.n_files + 1
        ids = np.arange(cap, dtype=np.int64)
        # Order date grows with the key, as in an OLTP source: the
        # newest keys are the newest orders, and inserts keep going.
        self.col_date = (D0 + (ids - 1) * ORDER_DAYS // n0).astype("datetime64[D]")
        self.col_cust = rng.integers(1, n0 // 10 + 2, cap)
        base = {
            "id": np.arange(1, n0 + 1, dtype=np.int64),
            "status": rng.choice(3, n0, p=[0.49, 0.49, 0.02]),
            "price": rng.integers(100_000, 50_000_000, n0),
            "comment": rng.integers(0, len(self.vocab), n0),
        }
        base["update_at"] = _us(T0 - timedelta(days=1)) - rng.integers(
            0, 86_400_000_000, n0
        )
        self.snapshot = base
        self.files = []
        next_key = n0 + 1
        hot = max(n_upd, int(s.hot_frac * n0))
        for _ in range(self.n_files):
            upd = next_key - hot + rng.choice(hot, n_upd, replace=False)
            ins = np.arange(next_key, next_key + n_ins, dtype=np.int64)
            next_key += n_ins
            n = n_ins + n_upd
            self.files.append(
                {
                    "id": np.concatenate([ins, upd]),
                    "op": np.array(["I"] * n_ins + ["U"] * n_upd),
                    "status": rng.choice(3, n, p=[0.3, 0.6, 0.1]),
                    "price": rng.integers(100_000, 50_000_000, n),
                    "comment": rng.integers(0, len(self.vocab), n),
                }
            )
        self.capacity = cap

    def _gen_lineitem(self, rng: np.random.Generator) -> None:
        s = self.shape
        n0 = s.rows
        n_ins = 4 * round(s.rows_per_file * s.mix[0] / 4)
        n_del = round(s.rows_per_file * s.mix[2])
        n_upd = s.rows_per_file - n_ins - n_del
        cap = n0 + n_ins * self.n_files
        # Ship dates are independent of the key: a uniform key pick
        # touches every month partition.
        self.col_date = (D0 + rng.integers(0, SHIP_DAYS, cap)).astype("datetime64[D]")
        self.col_part = rng.integers(1, 20_001, cap)
        base = {
            "id": np.arange(n0, dtype=np.int64),
            "qty": rng.integers(1, 51, n0),
            "price": rng.integers(90_000, 10_500_000, n0),
            "flag": rng.choice(3, n0),
            "comment": rng.integers(0, len(self.vocab), n0),
        }
        base["update_at"] = _us(T0 - timedelta(days=1)) - rng.integers(
            0, 86_400_000_000, n0
        )
        self.snapshot = base
        # Live row ids with O(1) swap-removal, so deletes never pick a
        # key twice and updates never touch a deleted key.
        live = np.empty(cap, dtype=np.int64)
        live[:n0] = base["id"]
        n_live = n0
        # Latest column values, for the before-images of deletes.
        cur = {c: np.zeros(cap, dtype=np.int64) for c in ("qty", "price", "flag", "comment")}
        for c in cur:
            cur[c][:n0] = base[c]
        self.files = []
        next_id = n0
        for _ in range(self.n_files):
            pos = rng.choice(n_live, n_upd + n_del, replace=False)
            picked = live[pos]
            upd, dele = picked[:n_upd], picked[n_upd:]
            # swap-remove the deleted positions, highest first
            for p in np.sort(pos[n_upd:])[::-1]:
                n_live -= 1
                live[p] = live[n_live]
            ins = np.arange(next_id, next_id + n_ins, dtype=np.int64)
            next_id += n_ins
            live[n_live : n_live + n_ins] = ins
            n_live += n_ins
            n_new = n_ins + n_upd
            f = {
                "id": np.concatenate([ins, upd, dele]),
                "op": np.array(["I"] * n_ins + ["U"] * n_upd + ["D"] * n_del),
            }
            new = {
                "qty": rng.integers(1, 51, n_new),
                "price": rng.integers(90_000, 10_500_000, n_new),
                "flag": rng.choice(3, n_new),
                "comment": rng.integers(0, len(self.vocab), n_new),
            }
            for c, v in new.items():
                cur[c][f["id"][:n_new]] = v
                f[c] = np.concatenate([v, cur[c][dele]])
            self.files.append(f)
        self.capacity = cap

    def _read_targets(self, rng: np.random.Generator):
        """Keys for point lookups, a date range and a year for the
        read mix — fixed per seed, so every run asks the same."""
        if self.table == "orders":
            n0 = self.shape.rows
            hot = int(self.shape.hot_frac * n0)
            keys = np.concatenate(
                [n0 - hot + rng.choice(hot, 12, replace=False),
                 1 + rng.choice(n0 - hot, 4, replace=False)]
            )
            last_day = hi_day = ORDER_DAYS - 1
        else:
            n_orders = self.shape.rows // 4
            keys = 1 + rng.choice(n_orders, 16, replace=False)
            last_day = SHIP_DAYS - 1
            hi_day = int(rng.integers(60, SHIP_DAYS))
        lo = str(D0 + hi_day - 45)
        hi = str(D0 + hi_day)
        year = str(D0 + last_day - 200)[:4]
        return sorted(int(k) for k in keys), lo, hi, year

    # -- replay -------------------------------------------------------------

    def _replay(self, upto: int, every: int | None = None):
        """Yield ``(k, state)`` for file counts k = 0..upto (every
        ``every``-th and the last), where state maps column → array
        over row ids, with ``alive`` marking live rows."""
        cap = self.capacity
        st = {c: np.zeros(cap, dtype=np.int64) for c in self.snapshot if c != "id"}
        alive = np.zeros(cap, dtype=bool)
        ids = self.snapshot["id"]
        for c in st:
            st[c][ids] = self.snapshot[c]
        alive[ids] = True
        st["alive"] = alive
        for k in range(upto + 1):
            if k:
                f = self.files[k - 1]
                keep = f["op"] != "D"
                fid = f["id"]
                for c in st:
                    if c != "alive":
                        st[c][fid] = f[c]
                alive[fid[keep]] = True
                alive[fid[~keep]] = False
            if (every and k % every == 0) or k == upto:
                yield k, st

    def _rows(self, rid: np.ndarray, vals: dict) -> pa.Table:
        """Table of rows ``rid`` with per-row column values ``vals``;
        keys, dates and the immutable columns derive from the row id."""
        date = pa.array(self.col_date[rid]).cast(pa.string())
        ts = pa.array(vals["update_at"].astype("datetime64[us]"))
        comment = pa.array(self.vocab[vals["comment"]], pa.string())
        if self.table == "orders":
            cols = [
                rid,
                self.col_cust[rid],
                pa.array(STATUS[vals["status"]], pa.string()),
                vals["price"],
                date,
                comment,
                ts,
            ]
        else:
            cols = [
                rid // 4 + 1,
                (rid % 4 + 1).astype(np.int32),
                self.col_part[rid],
                vals["qty"],
                vals["price"],
                pa.array(FLAGS[vals["flag"]], pa.string()),
                date,
                comment,
                ts,
            ]
        return pa.Table.from_arrays(cols, schema=self.schema)

    def _state_table(self, st: dict) -> pa.Table:
        rid = np.flatnonzero(st["alive"])
        return self._rows(rid, {c: v[rid] for c, v in st.items() if c != "alive"})

    def state_at(self, k: int) -> pa.Table:
        """Exact lake state after the first ``k`` CDC files."""
        for _, st in self._replay(k):
            pass
        return self._state_table(st)

    def snapshot_table(self) -> pa.Table:
        return self.state_at(0)

    def cdc_table(self, i: int) -> pa.Table:
        f = self.files[i]
        t = self._rows(f["id"], f)
        return t.add_column(0, "Op", pa.array(f["op"], pa.string()))

    # -- expected answers ---------------------------------------------------

    def _answers(self, st: dict) -> dict:
        """Expected answers of the benchmark's reads for state ``st``:
        ``sql`` maps ``group:<g>`` (whole table by status or return
        flag) and ``month:<yyyy-mm>`` (partitions from ``recent_year``)
        to ``[rows, sum(price)]``; ``lookup`` holds the looked-up rows;
        ``range`` is ``[rows, sum(price)]`` over the date range."""
        rid = np.flatnonzero(st["alive"])
        price = st["price"][rid]
        month = self.col_month[rid]
        day = self.col_day[rid]
        if self.table == "orders":
            names, group = STATUS, st["status"][rid]
            lookup_ids = np.array(self.lookup_keys)
            lookup = [
                [int(i), STATUS[st["status"][i]], int(st["price"][i]), int(st["update_at"][i])]
                for i in lookup_ids[st["alive"][lookup_ids]]
            ]
        else:
            names, group = FLAGS, st["flag"][rid]
            ids = np.array([(k - 1) * 4 + line for k in self.lookup_keys for line in range(4)])
            lookup = [
                [int(i // 4 + 1), int(i % 4 + 1), int(st["qty"][i]), int(st["update_at"][i])]
                for i in ids[st["alive"][ids]]
            ]
        sql = _group_sums([f"group:{x}" for x in names], group, price)
        first = (int(self.recent_year) - 1970) * 12
        sel = month >= first
        months = [f"month:{1970 + m // 12:04d}-{m % 12 + 1:02d}"
                  for m in range(first, int(month.max()) + 1)]
        sql.update(_group_sums(months, month[sel] - first, price[sel]))
        lo = np.datetime64(self.range_lo).astype(np.int64)
        hi = np.datetime64(self.range_hi).astype(np.int64)
        in_range = (day >= lo) & (day <= hi)
        return {
            "sql": sql,
            "lookup": lookup,
            "range": [int(in_range.sum()), int(price[in_range].sum())],
        }

    def answers_at(self, k: int) -> dict:
        """Expected read answers after the first ``k`` CDC files."""
        for _, st in self._replay(k):
            pass
        return self._answers(st)

    def answers(self, every: int = MAX_FILES) -> dict[int, dict]:
        """Expected read answers after every ``every``-th file count."""
        return {k: self._answers(st) for k, st in self._replay(self.n_files, every)}

    # -- files --------------------------------------------------------------

    def cdc_path(self, root: str, i: int) -> str:
        ct = self.commit_times[i]
        name = ct.strftime("%Y%m%d-%H%M%S%f")[:-3] + ".parquet"
        return os.path.join(root, ct.strftime("%Y/%m/%d/%H"), name)

    def write_source(self, root: str) -> list[str]:
        """Write the snapshot and the CDC backlog under ``root``;
        returns the CDC file paths in commit order."""
        os.makedirs(root, exist_ok=True)
        snap = self.snapshot_table()
        step = math.ceil(snap.num_rows / LOAD_FILES)
        for j in range(LOAD_FILES):
            pq.write_table(
                snap.slice(j * step, step),
                os.path.join(root, f"LOAD{j + 1:08d}.parquet"),
            )
        paths = []
        for i in range(self.n_files):
            p = self.cdc_path(root, i)
            os.makedirs(os.path.dirname(p), exist_ok=True)
            pq.write_table(self.cdc_table(i), p)
            paths.append(p)
        return paths

    def write_expected(self, root: str) -> None:
        os.makedirs(root, exist_ok=True)
        pq.write_table(self.state_at(self.n_files), os.path.join(root, "state_final.parquet"))
        with open(os.path.join(root, "answers.json"), "w") as f:
            json.dump({str(k): v for k, v in self.answers().items()}, f, sort_keys=True)


def _group_sums(names: list[str], group: np.ndarray, value: np.ndarray) -> dict:
    """``{name: [count, sum(value)]}`` for each non-empty group. The
    float sums are exact: every total stays far below 2**53."""
    n = np.bincount(group, minlength=len(names))
    s = np.bincount(group, weights=value, minlength=len(names))
    return {names[g]: [int(n[g]), int(s[g])] for g in range(len(names)) if n[g]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, default=16.0,
                    help="run length the backlog must outlast")
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args(argv)
    b = Backlog(a.workload, a.seed, a.seconds, a.scale)
    b.write_source(os.path.join(a.out, "source"))
    b.write_expected(os.path.join(a.out, "expected"))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
