"""Delta-merge materialized views (operators/matview.py:
DeltaMaterializedView): SUM/COUNT views maintained by signed-delta
arithmetic over the change window — never re-reading the base — must
converge to direct recomputation across inserts, deletes,
group-moving updates, NULL contributions and vanished groups, and
must rebuild (not double-count) after a crash mid-apply."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.operators.matview import (
    DeltaMaterializedView,
    MaterializedView,
)
from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.schema import TableSpec


AGGS = {
    "n": "count(*)",
    "total": "sum(CAST(amount AS DECIMAL(20,2)))",
    "n_vals": "count(opt)",
    "opt_sum": "sum(opt)",
}


def _mk(spark, tmp_path, cls=DeltaMaterializedView):
    spec = TableSpec(
        "facts", record_key=("f_id",), precombine_key="seq",
        partition_granularity=None,
    )
    t = KeyedTable(spark, str(tmp_path / "t"), spec, retain_versions=8)
    rows = [
        (i, f"g{i % 4}" if i % 10 else None, 10 * i,
         i if i % 3 else None, 0)
        for i in range(40)
    ]
    t.initial_load(
        spark.createDataFrame(
            rows, "f_id long, grp string, amount long, opt long, seq long"
        )
    )
    view = cls(t, str(tmp_path / "v"), ["grp"], AGGS)
    return t, view


def _direct(t):
    return {
        tuple(r)
        for r in t.read()
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("amount").cast("decimal(20,2)")).alias("total"),
            F.count("opt").cast("long").alias("n_vals"),
            F.sum("opt").alias("opt_sum"),
        )
        .select("grp", "n", "total", "n_vals", "opt_sum")
        .collect()
    }


def _got(view):
    return {
        tuple(r)
        for r in view.read().select("grp", "n", "total", "n_vals", "opt_sum").collect()
    }


def _batch(spark, rows, op="U"):
    return spark.createDataFrame(
        rows, "f_id long, grp string, amount long, opt long, seq long"
    ).withColumn("Op", F.lit(op))


@pytest.mark.slow
def test_delta_converges_and_never_reads_base(spark, tmp_path):
    t, view = _mk(spark, tmp_path)
    assert view.refresh()["mode"] == "full"
    assert _got(view) == _direct(t)

    # inserts + deletes + a GROUP-MOVING update (f_id 1: g1 -> g2) +
    # a value update in place
    t.upsert(
        _batch(spark, [(100, "g0", 7, 5, 1), (1, "g2", 10, None, 1)])
        .unionByName(_batch(spark, [(2, "g2", 20, 2, 1)], op="D")),
        delete_mode="apply",
    )
    out = view.refresh()
    assert out["mode"] == "delta" and out["groups_refreshed"] >= 2
    assert _got(view) == _direct(t)

    # multi-commit window (endpoint-state netting): two commits, one
    # refresh — inserted-then-deleted key must cancel
    t.upsert(_batch(spark, [(200, "g3", 1, 1, 2)]))
    t.upsert(_batch(spark, [(200, "g3", 1, 1, 3)], op="D"), delete_mode="apply")
    out = view.refresh()
    assert out["mode"] == "delta"
    assert _got(view) == _direct(t)
    assert view.refresh()["mode"] == "noop"


@pytest.mark.slow
def test_sum_goes_null_and_group_tombstones(spark, tmp_path):
    t, view = _mk(spark, tmp_path)
    view.refresh()
    # NULL group is real and maintained
    assert None in {r["grp"] for r in view.read().collect()}

    # remove every non-null `opt` contributor of g1 (ids 1,13,17,29,
    # 37 are g1 with opt non-null ... easier: update them to NULL):
    g1_nonnull = [
        (i, "g1", 10 * i, None, 1)
        for i in range(40)
        if i % 10 and i % 4 == 1 and i % 3
    ]
    t.upsert(_batch(spark, g1_nonnull))
    view.refresh()
    assert _got(view) == _direct(t)
    row = {r["grp"]: r for r in view.read().collect()}["g1"]
    assert row["opt_sum"] is None and row["n_vals"] == 0

    # delete ALL rows of g2 -> group tombstoned
    g2 = [(i, "g2", 10 * i, i if i % 3 else None, 2)
          for i in range(40) if i % 10 and i % 4 == 2]
    t.upsert(_batch(spark, g2, op="D"), delete_mode="apply")
    view.refresh()
    assert _got(view) == _direct(t)
    assert "g2" not in {r["grp"] for r in view.read().collect()}


@pytest.mark.slow
def test_crash_mid_apply_rebuilds_instead_of_double_counting(spark, tmp_path):
    t, view = _mk(spark, tmp_path)
    view.refresh()
    t.upsert(_batch(spark, [(300, "g0", 50, 5, 1)]))
    # simulate a crash AFTER the intent marker (store state unknown)
    view._set_pending(0, 1)
    out = view.refresh()
    assert out["mode"] == "full"  # rebuild, never re-apply
    assert _got(view) == _direct(t)
    assert not view._pending()
    # and the next refresh is a clean noop/delta again
    t.upsert(_batch(spark, [(301, "g0", 60, None, 2)]))
    assert view.refresh()["mode"] == "delta"
    assert _got(view) == _direct(t)


def test_rejects_non_invertible_aggregates(spark, tmp_path):
    t, _ = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="invertible"):
        DeltaMaterializedView(
            t, str(tmp_path / "bad"), ["grp"], {"m": "median(amount)"}
        )


def test_bulk_rewrite_falls_back_to_full(spark, tmp_path):
    t, view = _mk(spark, tmp_path)
    view.max_broadcast_keys = 2
    view.refresh()
    # touch all 5 groups (> 2) in one window
    t.upsert(_batch(spark, [(500 + i, f"g{i % 4}", i, i, 1) for i in range(8)]
                    + [(600, None, 1, 1, 1)]))
    out = view.refresh()
    assert out["mode"] == "full"
    assert _got(view) == _direct(t)


def test_sql_facade_delta_refresh_spelling(spark, tmp_path):
    """CREATE MATERIALIZED VIEW ... WITH [AUTO] DELTA REFRESH selects
    signed-delta maintenance through the facade; non-invertible
    aggregates fail the CREATE cleanly; JOIN + DELTA is rejected."""
    from rds_to_datalake_project_spark.sql import MATVIEWS, run_query

    t, _ = _mk(spark, tmp_path)
    reg = {"facts_t": t}
    try:
        run_query(
            spark,
            "CREATE MATERIALIZED VIEW dv WITH AUTO DELTA REFRESH AS "
            "SELECT grp, count(*) AS n, "
            "sum(CAST(amount AS DECIMAL(20,2))) AS total "
            "FROM facts_t GROUP BY grp",
            tables=reg,
        )
        # auto hook follows the commit via delta maintenance
        t.upsert(_batch(spark, [(900, "g0", 5, 1, 1)]))
        got = {
            (r["grp"], r["n"], r["total"])
            for r in run_query(spark, "SELECT * FROM dv", tables=reg).collect()
        }
        want = {
            (r["grp"], r["n"], r["total"])
            for r in t.read()
            .groupBy("grp")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum(F.col("amount").cast("decimal(20,2)")).alias("total"),
            )
            .collect()
        }
        assert got == want
        info = run_query(
            spark, "REFRESH MATERIALIZED VIEW dv", tables=reg
        ).collect()[0]
        assert info["mode"] == "noop"
        # the cursor renders one version per base table: one here
        d = run_query(
            spark, "DESCRIBE MATERIALIZED VIEW dv", tables=reg
        ).collect()[0]
        assert d["view_class"] == "DeltaMaterializedView"
        assert d["strategy"] == "delta" and d["base_tables"] == "facts"
        assert d["cursor"] == "1" == str(t.versions()[-1])
        run_query(spark, "DROP MATERIALIZED VIEW dv", tables=reg)
    finally:
        MATVIEWS.pop("dv", None)

    with pytest.raises(ValueError, match="invertible"):
        run_query(
            spark,
            "CREATE MATERIALIZED VIEW dbad WITH DELTA REFRESH AS "
            "SELECT grp, median(amount) AS m FROM facts_t GROUP BY grp",
            tables=reg,
        )


def test_sql_refresh_full_forces_rebuild(spark, tmp_path):
    """REFRESH MATERIALIZED VIEW ... FULL — the distrust verb: a
    forced snapshot rebuild even when the cursor says noop, across all
    three view classes' _full signatures."""
    from rds_to_datalake_project_spark.sql import MATVIEWS, run_query

    t, view = _mk(spark, tmp_path)
    view.refresh()
    reg = {"facts_t": t}
    MATVIEWS["dv2"] = view
    try:
        info = run_query(
            spark, "REFRESH MATERIALIZED VIEW dv2 FULL", tables=reg
        ).collect()[0]
        assert info["mode"] == "full"
        assert _got(view) == _direct(t)
        # plain refresh right after is a noop again
        info = run_query(
            spark, "REFRESH MATERIALIZED VIEW dv2", tables=reg
        ).collect()[0]
        assert info["mode"] == "noop"
    finally:
        MATVIEWS.pop("dv2", None)


def _parent_layout_store(spark, t, path, delta):
    """The store and cursor a single-table view wrote before it became
    the n = 1 chain form, spelled out column by column: a group-keyed,
    unpartitioned KeyedTable (delta views add the hidden non-null and
    live counts) plus ``.mv/_BASE_VERSION`` holding "<v> <token>"."""
    import os

    v = (t.versions() or [0])[-1]  # initial load: no commit yet
    aggs = [
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("amount").cast("decimal(20,2)")).alias("total"),
        F.count("opt").cast("long").alias("n_vals"),
        F.sum("opt").alias("opt_sum"),
    ]
    if delta:
        aggs += [
            F.count("amount").cast("long").alias("__nn_total"),
            F.count("opt").cast("long").alias("__nn_opt_sum"),
            F.count("*").cast("long").alias("__live_n"),
        ]
    store = KeyedTable(
        spark,
        path,
        TableSpec(
            "delta_matview" if delta else "matview",
            record_key=("grp",),
            precombine_key="_refresh_seq",
            partition_granularity="",
        ),
    )
    store.initial_load(
        t.read()
        .groupBy("grp")
        .agg(*aggs)
        .withColumn("_refresh_seq", F.lit(v).cast("long"))
    )
    os.makedirs(f"{path}/.mv", exist_ok=True)
    with open(f"{path}/.mv/_BASE_VERSION", "w") as fh:
        fh.write(f"{v} {t.incarnation() or '-'}")


@pytest.mark.parametrize("delta", [False, True], ids=["recompute", "delta"])
def test_single_table_store_reopens_as_chain(spark, tmp_path, delta):
    """A store and cursor written in the single-table layout reopen
    under the n = 1 chain form and refresh INCREMENTALLY — the cursor
    file name and its "<v> <token>" content are the chain's at n = 1."""
    t, _ = _mk(spark, tmp_path)
    path = str(tmp_path / "old_store")
    _parent_layout_store(spark, t, path, delta)
    cls = DeltaMaterializedView if delta else MaterializedView
    view = cls(t, path, ["grp"], AGGS)
    assert view.refreshed_versions() == (0,)
    t.upsert(
        _batch(spark, [(900, "g0", 5, 1, 1), (5, "g3", 50, None, 1)]).unionByName(
            _batch(spark, [(6, "g2", 60, None, 1)], op="D")
        ),
        delete_mode="apply",
    )
    out = view.refresh()
    assert out["mode"] == ("delta" if delta else "incremental"), out
    assert out["groups_refreshed"] == 4  # g0, g1 (5 left it), g2, g3
    assert _got(view) == _direct(t)


@pytest.mark.parametrize("delta", [False, True], ids=["recompute", "delta"])
def test_single_table_refresh_reads_no_as_of_snapshot(
    spark, tmp_path, monkeypatch, delta
):
    """An n = 1 incremental refresh takes its touched groups straight
    off the change window: the only as-of reads are the change feed's
    own endpoint diff, never a snapshot walk by the view."""
    import sys

    t, view = _mk(
        spark, tmp_path, DeltaMaterializedView if delta else MaterializedView
    )
    view.refresh()
    t.upsert(
        _batch(spark, [(7, "g0", 1, 2, 1), (901, None, 3, None, 1)]),
        delete_mode="apply",
    )
    real = KeyedTable.read_as_of

    def guarded(self, *a, **kw):
        if sys._getframe(1).f_code.co_name != "table_changes":
            raise AssertionError("the view read an as-of snapshot")
        return real(self, *a, **kw)

    monkeypatch.setattr(KeyedTable, "read_as_of", guarded)
    out = view.refresh()
    assert out["mode"] == ("delta" if delta else "incremental"), out
    assert _got(view) == _direct(t)


def test_delta_with_derived_group_keys(spark, tmp_path):
    """Delta maintenance composes with expression group keys — the
    time-bucketed rollup shape at O(change-window) refresh cost: the
    derived bucket is computed on the change images themselves."""
    t, _ = _mk(spark, tmp_path)
    view = DeltaMaterializedView(
        t,
        str(tmp_path / "bv"),
        ["b"],
        {"n": "count(*)", "total": "sum(CAST(amount AS DECIMAL(20,2)))"},
        group_exprs={"b": "CAST(f_id % 5 AS BIGINT)"},
    )

    def want():
        return {
            tuple(r)
            for r in t.read()
            .withColumn("b", (F.col("f_id") % 5).cast("long"))
            .groupBy("b")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum(F.col("amount").cast("decimal(20,2)")).alias("total"),
            )
            .select("b", "n", "total")
            .collect()
        }

    def got():
        return {
            tuple(r)
            for r in view.read().select("b", "n", "total").collect()
        }

    assert view.refresh()["mode"] == "full"
    assert got() == want()
    t.upsert(
        _batch(spark, [(41, "g1", 7, 1, 1), (42, "g2", 8, None, 1)])
        .unionByName(_batch(spark, [(5, "g1", 50, 5, 1)], op="D")),
        delete_mode="apply",
    )
    out = view.refresh()
    assert out["mode"] == "delta"
    assert got() == want()


@pytest.mark.slow
def test_avg_delta_converges_and_nulls_out(spark, tmp_path):
    """avg(<expr>) rides a hidden running sum + non-null count:
    converges to direct recomputation across inserts, deletes and
    group-moving updates, renders NULL when a group's contributors
    all vanish, and the hidden columns never surface in read()."""
    spec = TableSpec(
        "facts", record_key=("f_id",), precombine_key="seq",
        partition_granularity=None,
    )
    t = KeyedTable(spark, str(tmp_path / "t"), spec, retain_versions=8)
    rows = [
        (i, f"g{i % 3}", 1.0 * i if i % 4 else None, 0) for i in range(30)
    ]
    t.initial_load(
        spark.createDataFrame(rows, "f_id long, grp string, x double, seq long")
    )
    view = DeltaMaterializedView(
        t, str(tmp_path / "v"), ["grp"],
        {"n": "count(*)", "mean_x": "avg(x)"},
    )
    assert view.refresh()["mode"] == "full"

    def direct():
        return {
            tuple(r)
            for r in t.read()
            .groupBy("grp")
            .agg(F.count("*").cast("long").alias("n"), F.avg("x").alias("mean_x"))
            .collect()
        }

    def got():
        out = view.read()
        assert set(out.columns) == {"grp", "n", "mean_x"}  # hidden cols stay hidden
        return {tuple(r) for r in out.select("grp", "n", "mean_x").collect()}

    assert got() == direct()
    # mixed window: delete, group move, reprice, and NULLing a value
    batch = spark.createDataFrame(
        [(3, "g0", None, 1),      # x -> NULL: one fewer contributor
         (4, "g2", 400.0, 1),     # group move g1 -> g2 with reprice
         (6, "g0", 66.0, 1)],     # reprice in place
        "f_id long, grp string, x double, seq long",
    ).withColumn("Op", F.lit("U"))
    t.upsert(batch, delete_mode="apply")
    deletes = spark.createDataFrame(
        [(9, "g0", 9.0, 1)], "f_id long, grp string, x double, seq long"
    ).withColumn("Op", F.lit("D"))
    t.upsert(deletes, delete_mode="apply")
    info = view.refresh()
    assert info["mode"] == "delta"
    assert got() == direct()

    # drain every non-null contributor from g1: avg must render NULL
    g1_rows = [r.f_id for r in t.read().filter(F.col("grp") == "g1").collect()]
    t.upsert(
        spark.createDataFrame(
            [(k, "g1", None, 2) for k in g1_rows],
            "f_id long, grp string, x double, seq long",
        ).withColumn("Op", F.lit("U")),
        delete_mode="apply",
    )
    assert view.refresh()["mode"] == "delta"
    assert got() == direct()
    row = {r.grp: r.mean_x for r in view.read().collect()}
    assert row["g1"] is None


def test_avg_star_is_rejected(spark, tmp_path):
    spec = TableSpec(
        "facts", record_key=("f_id",), precombine_key="seq",
        partition_granularity=None,
    )
    t = KeyedTable(spark, str(tmp_path / "t"), spec, retain_versions=8)
    t.initial_load(
        spark.createDataFrame([(1, "g", 1.0, 0)],
                              "f_id long, grp string, x double, seq long")
    )
    with pytest.raises(ValueError, match="invertible aggregates"):
        DeltaMaterializedView(t, str(tmp_path / "v"), ["grp"], {"a": "avg(*)"})


# --- min/max: delta merge with extremum repair ---------------------------------


MM_AGGS = {
    "n": "count(*)",
    "lo": "min(amount)",
    "hi": "max(amount)",
    "opt_lo": "min(opt)",
}


def _mk_mm(spark, tmp_path):
    spec = TableSpec(
        "facts_mm", record_key=("f_id",), precombine_key="seq",
        partition_granularity=None,
    )
    t = KeyedTable(spark, str(tmp_path / "tm"), spec, retain_versions=8)
    rows = [
        (i, f"g{i % 3}", 10 * i, i if i % 4 else None, 0) for i in range(1, 31)
    ]
    t.initial_load(
        spark.createDataFrame(
            rows, "f_id long, grp string, amount long, opt long, seq long"
        )
    )
    view = DeltaMaterializedView(t, str(tmp_path / "vm"), ["grp"], MM_AGGS)
    return t, view


def _direct_mm(t):
    return {
        tuple(r)
        for r in t.read()
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("amount").alias("lo"),
            F.max("amount").alias("hi"),
            F.min("opt").alias("opt_lo"),
        )
        .select("grp", "n", "lo", "hi", "opt_lo")
        .collect()
    }


def _got_mm(view):
    return {
        tuple(r)
        for r in view.read().select("grp", "n", "lo", "hi", "opt_lo").collect()
    }


def test_minmax_insert_only_merges_without_repair(spark, tmp_path):
    """Added values merge arithmetically (least/greatest): an
    insert-only window must stay pure delta — zero repaired groups —
    even when it improves an extremum."""
    t, view = _mk_mm(spark, tmp_path)
    assert view.refresh()["mode"] == "full"
    t.upsert(
        _batch(spark, [(100, "g0", -5, 1, 1), (101, "g1", 9999, None, 1)])
    )
    out = view.refresh()
    assert out["mode"] == "delta" and out["groups_repaired"] == 0
    assert _got_mm(view) == _direct_mm(t)


def test_minmax_interior_removal_stays_pure_delta(spark, tmp_path):
    """Deleting a value strictly inside (min, max) cannot move either
    extremum — the refresh must not repair (and therefore must not
    touch the base snapshot at all)."""
    t, view = _mk_mm(spark, tmp_path)
    view.refresh()
    # g0 holds amounts 30,60,...,300 — delete an interior row (150)
    t.upsert(_batch(spark, [(15, "g0", 150, 15, 1)], op="D"), delete_mode="apply")
    out = view.refresh()
    assert out["mode"] == "delta" and out["groups_repaired"] == 0
    assert _got_mm(view) == _direct_mm(t)


def test_minmax_extremum_removal_repairs_exactly_that_group(spark, tmp_path):
    """Deleting the stored max of ONE group repairs that group alone
    (snapshot re-aggregate names the surviving second-best); the other
    touched group in the same window stays pure delta."""
    t, view = _mk_mm(spark, tmp_path)
    view.refresh()
    # g0's max is amount=300 (f_id 30); also insert an interior g1 row
    t.upsert(
        _batch(spark, [(30, "g0", 300, None, 1)], op="D").unionByName(
            _batch(spark, [(200, "g1", 50, 2, 1)])
        ),
        delete_mode="apply",
    )
    out = view.refresh()
    assert out["mode"] == "delta"
    assert out["groups_refreshed"] == 2 and out["groups_repaired"] == 1
    assert _got_mm(view) == _direct_mm(t)


@pytest.mark.slow
def test_minmax_duplicate_extremum_removal_keeps_survivor(spark, tmp_path):
    """Removing ONE copy of a duplicated extremum triggers repair (the
    delta cannot know a twin survives) and the repair keeps the value."""
    t, view = _mk_mm(spark, tmp_path)
    t.upsert(_batch(spark, [(500, "g1", 10, None, 1)]))  # duplicate g1's min
    view.refresh()
    before = {r["grp"]: r["lo"] for r in view.read().collect()}
    assert before["g1"] == 10
    t.upsert(_batch(spark, [(500, "g1", 10, None, 2)], op="D"), delete_mode="apply")
    out = view.refresh()
    assert out["groups_repaired"] == 1
    assert _got_mm(view) == _direct_mm(t)
    assert {r["grp"]: r["lo"] for r in view.read().collect()}["g1"] == 10


def test_minmax_update_moving_extremum_and_group_move(spark, tmp_path):
    """An UPDATE whose preimage was the extremum repairs the vacated
    value; a group-moving update repairs/refreshes both sides."""
    t, view = _mk_mm(spark, tmp_path)
    view.refresh()
    # f_id 30 (g0, amount 300 = g0's max) moves to g2 with a new amount
    t.upsert(_batch(spark, [(30, "g2", 5, 1, 1)]))
    out = view.refresh()
    assert out["mode"] == "delta" and out["groups_refreshed"] == 2
    assert out["groups_repaired"] >= 1  # g0 lost its max
    assert _got_mm(view) == _direct_mm(t)


@pytest.mark.slow
def test_minmax_null_semantics_and_tombstone(spark, tmp_path):
    """NULL values never participate in min/max (SQL semantics); a
    group whose rows all vanish is tombstoned out of the view."""
    t, view = _mk_mm(spark, tmp_path)
    view.refresh()
    # new group with only-NULL opt: opt_lo must be NULL
    t.upsert(_batch(spark, [(300, "gN", 7, None, 1), (301, "gN", 3, None, 1)]))
    view.refresh()
    row = {r["grp"]: r for r in view.read().collect()}["gN"]
    assert row["lo"] == 3 and row["hi"] == 7 and row["opt_lo"] is None
    # delete the whole group -> tombstone
    t.upsert(
        _batch(spark, [(300, "gN", 7, None, 2), (301, "gN", 3, None, 2)], op="D"),
        delete_mode="apply",
    )
    view.refresh()
    assert "gN" not in {r["grp"] for r in view.read().collect()}
    assert _got_mm(view) == _direct_mm(t)


@pytest.mark.slow
def test_minmax_repair_scan_is_zone_pruned(spark, tmp_path):
    """Extremum repair reads the base through the same zone-map file
    pruning as affected-group recompute: with a zone map over the
    group column, a one-group repair opens ∝ that group's files."""
    from rds_to_datalake_project_spark.operators import zonemap
    from rds_to_datalake_project_spark.operators.matview import LAST_REFRESH

    spec = TableSpec(
        "facts_zp", record_key=("f_id",), precombine_key="seq",
        partition_source="d", partition_granularity="month",
    )
    t = KeyedTable(
        spark, str(tmp_path / "tz"), spec, retain_versions=4,
        zonemap_columns=["d"],
    )
    rows = [
        (i, f"2024-{(i % 12) + 1:02d}-15", 10.0 * i, 0) for i in range(1, 241)
    ]
    t.initial_load(
        spark.createDataFrame(rows, "f_id long, d string, amount double, seq long")
    )
    view = DeltaMaterializedView(
        t, str(tmp_path / "vz"), ["d"], {"hi": "max(amount)", "n": "count(*)"}
    )
    view.refresh()
    # delete April's max (f_id 231 -> amount 2310.0) -> repair of that month
    t.upsert(
        spark.createDataFrame(
            [(231, "2024-04-15", 2310.0, 1)],
            "f_id long, d string, amount double, seq long",
        ).withColumn("Op", F.lit("D")),
        delete_mode="apply",
    )
    zonemap.reset_prune_stats()
    out = view.refresh()
    assert out["groups_repaired"] == 1
    scan = LAST_REFRESH.get("scan", {})
    assert scan and scan["files_read"] * 4 <= scan["files_total"], scan
    assert {tuple(r) for r in view.read().collect()} == {
        tuple(r)
        for r in t.read()
        .groupBy("d")
        .agg(F.max("amount").alias("hi"), F.count("*").cast("long").alias("n"))
        .collect()
    }


# --- count(DISTINCT): auxiliary-store delta maintenance -------------------------


CD_AGGS = {
    "n": "count(*)",
    "nd": "count(DISTINCT u)",
    "s": "sum(amount)",
}


def _mk_cd(spark, tmp_path):
    spec = TableSpec(
        "facts_cd", record_key=("f_id",), precombine_key="seq",
        partition_granularity=None,
    )
    t = KeyedTable(spark, str(tmp_path / "tc"), spec, retain_versions=8)
    rows = [
        (i, f"g{i % 3}", i % 5 if i % 6 else None, 10 * i, 0)
        for i in range(1, 31)
    ]
    t.initial_load(
        spark.createDataFrame(
            rows, "f_id long, grp string, u long, amount long, seq long"
        )
    )
    view = DeltaMaterializedView(t, str(tmp_path / "vc"), ["grp"], CD_AGGS)
    return t, view


def _direct_cd(t):
    return {
        tuple(r)
        for r in t.read()
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.countDistinct("u").cast("long").alias("nd"),
            F.sum("amount").alias("s"),
        )
        .select("grp", "n", "nd", "s")
        .collect()
    }


def _got_cd(view):
    return {
        tuple(r)
        for r in view.read().select("grp", "n", "nd", "s").collect()
    }


def _cb(spark, rows, op="U"):
    return spark.createDataFrame(
        rows, "f_id long, grp string, u long, amount long, seq long"
    ).withColumn("Op", F.lit(op))


@pytest.mark.slow
def test_count_distinct_tracks_value_births_and_deaths(spark, tmp_path):
    """ndv rises only when a VALUE first appears in a group and falls
    only when its LAST contributor leaves — both pure delta (no base
    read): the aux store's 0↔positive transitions carry the ndv."""
    t, view = _mk_cd(spark, tmp_path)
    assert view.refresh()["mode"] == "full"
    assert _got_cd(view) == _direct_cd(t)
    # new value in g0 (+1), duplicate of an existing g1 value (ndv flat)
    t.upsert(_cb(spark, [(100, "g0", 99, 1, 1), (101, "g1", 1, 1, 1)]))
    out = view.refresh()
    assert out["mode"] == "delta"
    assert _got_cd(view) == _direct_cd(t)
    # delete ONE of two contributors of a value (ndv flat), then the
    # last one (ndv drops) — two windows
    t.upsert(_cb(spark, [(101, "g1", 1, 1, 2)], op="D"), delete_mode="apply")
    view.refresh()
    assert _got_cd(view) == _direct_cd(t)
    t.upsert(_cb(spark, [(100, "g0", 99, 1, 3)], op="D"), delete_mode="apply")
    view.refresh()
    assert _got_cd(view) == _direct_cd(t)
    assert view.refresh()["mode"] == "noop"


@pytest.mark.slow
def test_count_distinct_value_and_group_moves(spark, tmp_path):
    """An update that changes a row's VALUE retires the old value's
    contribution and births the new one; a group-moving update does
    both across groups; NULL values never count."""
    t, view = _mk_cd(spark, tmp_path)
    view.refresh()
    t.upsert(_cb(spark, [(5, "g2", 0, 50, 1)]))       # value move in g2
    t.upsert(_cb(spark, [(7, "g0", 2, 70, 2)]))       # group move g1->g0
    t.upsert(_cb(spark, [(8, "g2", None, 80, 3)]))    # value -> NULL
    out = view.refresh()
    assert out["mode"] == "delta"
    assert _got_cd(view) == _direct_cd(t)


@pytest.mark.slow
def test_count_distinct_crash_rebuilds_aux_and_view(spark, tmp_path):
    t, view = _mk_cd(spark, tmp_path)
    view.refresh()
    view._set_pending(0, 1)
    t.upsert(_cb(spark, [(200, "g0", 3, 5, 1)]))
    out = view.refresh()
    assert out["mode"] == "full"
    assert _got_cd(view) == _direct_cd(t)
    # aux must have been rebuilt too: the next delta window converges
    t.upsert(_cb(spark, [(200, "g0", 3, 5, 2)], op="D"), delete_mode="apply")
    out = view.refresh()
    assert out["mode"] == "delta"
    assert _got_cd(view) == _direct_cd(t)


@pytest.mark.slow
def test_count_distinct_facade_spelling(spark, tmp_path):
    from rds_to_datalake_project_spark.sql import MATVIEWS, run_query

    t, _ = _mk_cd(spark, tmp_path)
    reg = {"facts_t": t}
    try:
        out = run_query(
            spark,
            "CREATE MATERIALIZED VIEW cdv WITH AUTO DELTA REFRESH AS "
            "SELECT grp, count(DISTINCT u) AS nd, count(*) AS n "
            "FROM facts_t GROUP BY grp",
            tables=reg,
        ).collect()[0]
        assert out["mode"] == "full"
        t.upsert(_cb(spark, [(300, "g1", 77, 1, 1)]))
        got = {
            (r["grp"], r["nd"], r["n"])
            for r in run_query(spark, "SELECT * FROM cdv", tables=reg).collect()
        }
        want = {
            tuple(r)
            for r in t.read()
            .groupBy("grp")
            .agg(
                F.countDistinct("u").cast("long").alias("nd"),
                F.count("*").cast("long").alias("n"),
            )
            .collect()
        }
        assert got == want
        run_query(spark, "DROP MATERIALIZED VIEW cdv", tables=reg)
    finally:
        MATVIEWS.pop("cdv", None)


@pytest.mark.slow
def test_count_distinct_aux_store_is_bucketed_and_write_pruned(spark, tmp_path):
    """The aux store is hash-bucketed BY DEFAULT (its size ∝ distinct
    (group, value) pairs — corpus-scale for high-cardinality values):
    a one-pair refresh must rewrite only the owning bucket's files,
    leaving every other bucket byte-identical."""
    import glob
    import os

    t, view = _mk_cd(spark, tmp_path)
    view.refresh()
    aux = view._aux["nd"]
    assert aux.spec.hash_buckets > 0
    root = aux.path
    buckets = sorted(glob.glob(f"{root}/bucket_id=*"))
    assert len(buckets) > 1, buckets

    def snap():
        return {
            p: os.path.getmtime(p)
            for b in buckets
            for p in glob.glob(f"{b}/*.parquet")
        }

    before = snap()
    # one new (group, value) pair
    t.upsert(_cb(spark, [(900, "g0", 12345, 1, 1)]))
    out = view.refresh()
    assert out["mode"] == "delta"
    after = snap()
    changed_buckets = {
        p.split("bucket_id=")[1].split("/")[0]
        for p in set(before) ^ set(after)
    } | {
        p.split("bucket_id=")[1].split("/")[0]
        for p in before
        if p in after and before[p] != after[p]
    }
    assert 0 < len(changed_buckets) <= 2, changed_buckets
    assert _got_cd(view) == _direct_cd(t)
