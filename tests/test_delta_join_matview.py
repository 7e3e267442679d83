"""Signed-delta JOIN views (operators/matview.py:
DeltaJoinMaterializedView): Δ(A⋈B) = ΔA⋈B_new + A_new⋈ΔB − ΔA⋈ΔB.
Maintenance must converge to direct recomputation across fact churn,
dim group-moves, dim deletes, BOTH-sides-changed windows (the −ΔΔ
correction term), NULL contributions and vanished groups; crash
mid-apply rebuilds instead of double-counting; the facade spelling
routes WITH DELTA REFRESH + JOIN here."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.operators.matview import (
    DeltaChainMaterializedView,
    DeltaJoinMaterializedView,
)
from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.schema import TableSpec


AGGS = {
    "n": "count(*)",
    "rev": "sum(CAST(amount AS DECIMAL(20,2)))",
    "avg_amt": "avg(amount)",
    "n_opt": "count(opt)",
}


def _mk(spark, tmp_path, **view_kw):
    fact = KeyedTable(
        spark,
        str(tmp_path / "fact"),
        TableSpec(
            "djf", record_key=("f_id",), precombine_key="f_seq",
            partition_granularity=None,
        ),
        retain_versions=8,
    )
    dim = KeyedTable(
        spark,
        str(tmp_path / "dim"),
        TableSpec(
            "djd", record_key=("d_id",), precombine_key="d_seq",
            partition_granularity=None,
        ),
        retain_versions=8,
    )
    fact.initial_load(
        spark.createDataFrame(
            [
                (i, i % 6 if i % 10 else None, 10 * i,
                 i if i % 3 else None, 0)
                for i in range(1, 41)
            ],
            "f_id long, fk long, amount long, opt long, f_seq long",
        )
    )
    dim.initial_load(
        spark.createDataFrame(
            [(d, f"g{d % 3}", 0) for d in range(6)],
            "d_id long, gname string, d_seq long",
        )
    )
    view = DeltaJoinMaterializedView(
        fact,
        dim,
        str(tmp_path / "v"),
        on=("fk", "d_id"),
        group_cols=["gname"],
        aggs=AGGS,
        **view_kw,
    )
    return fact, dim, view


def _direct(fact, dim):
    j = fact.read().join(dim.read(), F.col("fk") == F.col("d_id"))
    return {
        tuple(r)
        for r in j.groupBy("gname")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("amount").cast("decimal(20,2)")).alias("rev"),
            F.avg("amount").alias("avg_amt"),
            F.count("opt").cast("long").alias("n_opt"),
        )
        .select("gname", "n", "rev", "avg_amt", "n_opt")
        .collect()
    }


def _got(view):
    return {
        tuple(r)
        for r in view.read()
        .select("gname", "n", "rev", "avg_amt", "n_opt")
        .collect()
    }


def _fb(spark, rows, op="U"):
    return spark.createDataFrame(
        rows, "f_id long, fk long, amount long, opt long, f_seq long"
    ).withColumn("Op", F.lit(op))


def _db(spark, rows, op="U"):
    return spark.createDataFrame(
        rows, "d_id long, gname string, d_seq long"
    ).withColumn("Op", F.lit(op))


@pytest.mark.slow
def test_fact_only_window_converges(spark, tmp_path):
    fact, dim, view = _mk(spark, tmp_path)
    assert view.refresh()["mode"] == "full"
    assert _got(view) == _direct(fact, dim)
    # insert + delete + value update + NULL-key insert (never joins)
    fact.upsert(
        _fb(spark, [(100, 2, 7, 5, 1), (3, 3, 999, None, 1),
                    (101, None, 1, 1, 1)])
        .unionByName(_fb(spark, [(6, 0, 60, 6, 1)], op="D")),
        delete_mode="apply",
    )
    out = view.refresh()
    assert out["mode"] == "delta" and out["groups_refreshed"] >= 1
    assert _got(view) == _direct(fact, dim)
    assert view.refresh()["mode"] == "noop"


@pytest.mark.slow
def test_dim_group_move_relabels_joined_facts(spark, tmp_path):
    """A dim-side update MOVES every joined fact row between groups —
    the case a single-table delta view cannot see; both the vacated
    and the adopted group must take signed deltas."""
    fact, dim, view = _mk(spark, tmp_path)
    view.refresh()
    dim.upsert(_db(spark, [(4, "gMOVED", 1)]), delete_mode="apply")
    out = view.refresh()
    assert out["mode"] == "delta" and out["groups_refreshed"] >= 2
    assert _got(view) == _direct(fact, dim)


@pytest.mark.slow
def test_both_sides_change_in_one_window(spark, tmp_path):
    """The −ΔA⋈ΔB correction: a NEW fact pointing at a dim key whose
    row ALSO changed in the window would be double-counted by the two
    linear terms (ΔA joins B_new which already contains ΔB, and vice
    versa) — the view must still converge exactly."""
    fact, dim, view = _mk(spark, tmp_path)
    view.refresh()
    fact.upsert(
        _fb(spark, [(200, 5, 123, 1, 1)]).unionByName(
            _fb(spark, [(5, 5, 50, 5, 1)], op="D")
        ),
        delete_mode="apply",
    )
    dim.upsert(_db(spark, [(5, "gBOTH", 1)]), delete_mode="apply")
    out = view.refresh()
    assert out["mode"] == "delta"
    assert _got(view) == _direct(fact, dim)


@pytest.mark.slow
def test_dim_delete_tombstones_vanished_group(spark, tmp_path):
    fact, dim, view = _mk(spark, tmp_path)
    view.refresh()
    # give d_id=1 its own group first, then delete it entirely
    dim.upsert(_db(spark, [(1, "gONLY", 1)]), delete_mode="apply")
    view.refresh()
    assert "gONLY" in {r["gname"] for r in view.read().collect()}
    dim.upsert(_db(spark, [(1, "gONLY", 2)], op="D"), delete_mode="apply")
    view.refresh()
    assert "gONLY" not in {r["gname"] for r in view.read().collect()}
    assert _got(view) == _direct(fact, dim)


@pytest.mark.slow
def test_multi_commit_window_nets_exactly(spark, tmp_path):
    """Several commits per side, ONE refresh: endpoint-state netting
    (insert+delete cancel; only the net change contributes)."""
    fact, dim, view = _mk(spark, tmp_path)
    view.refresh()
    fact.upsert(_fb(spark, [(300, 0, 11, 1, 1)]))
    fact.upsert(_fb(spark, [(300, 0, 11, 1, 2)], op="D"), delete_mode="apply")
    fact.upsert(_fb(spark, [(301, 1, 22, None, 3)]))
    dim.upsert(_db(spark, [(2, "gX", 1)]), delete_mode="apply")
    dim.upsert(_db(spark, [(2, "gY", 2)]), delete_mode="apply")
    out = view.refresh()
    assert out["mode"] == "delta"
    assert _got(view) == _direct(fact, dim)


@pytest.mark.slow
def test_crash_mid_apply_rebuilds_not_double_counts(spark, tmp_path):
    """Delta apply is not replay-idempotent: a surviving intent marker
    must route the next refresh to a full rebuild."""
    fact, dim, view = _mk(spark, tmp_path)
    view.refresh()
    view._set_pending(0, 1)  # simulate a crash between upsert and cursor
    fact.upsert(_fb(spark, [(400, 2, 5, 1, 1)]))
    out = view.refresh()
    assert out["mode"] == "full"
    assert not view._pending()
    assert _got(view) == _direct(fact, dim)
    fact.upsert(_fb(spark, [(401, 2, 5, 1, 2)]))
    assert view.refresh()["mode"] == "delta"
    assert _got(view) == _direct(fact, dim)


def test_two_table_store_reopens_as_delta_chain(spark, tmp_path):
    """A store refreshed through DeltaJoinMaterializedView reopens as
    the 2-table DeltaChainMaterializedView on the same path: same
    cursor file, store name and hidden columns, so the first refresh
    is a noop and the next one a delta merge, never a full rebuild."""
    fact, dim, view = _mk(spark, tmp_path)
    assert view.refresh()["mode"] == "full"
    chain = DeltaChainMaterializedView(
        [fact, dim], [("fk", "d_id")], view.path,
        group_cols=["gname"], aggs=AGGS, name="delta_join_matview",
    )
    assert chain.refresh()["mode"] == "noop"
    fact.upsert(_fb(spark, [(400, 2, 5, 1, 1)]))
    assert chain.refresh()["mode"] == "delta"
    assert _got(chain) == _direct(fact, dim)


def test_bulk_rewrite_falls_back_to_full(spark, tmp_path):
    fact, dim, view = _mk(spark, tmp_path)
    view.max_broadcast_keys = 2
    view.refresh()
    dim.upsert(
        _db(spark, [(d, f"h{d}", 1) for d in range(6)]), delete_mode="apply"
    )
    out = view.refresh()
    assert out["mode"] == "full"
    assert _got(view) == _direct(fact, dim)


def test_rejects_unknown_how_and_noninvertible(spark, tmp_path):
    fact, dim, _ = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="inner.*or.*left"):
        DeltaJoinMaterializedView(
            fact, dim, str(tmp_path / "bad1"), on=("fk", "d_id"),
            group_cols=["gname"], aggs={"n": "count(*)"}, how="full_outer",
        )
    with pytest.raises(ValueError, match="invertible"):
        DeltaJoinMaterializedView(
            fact, dim, str(tmp_path / "bad2"), on=("fk", "d_id"),
            group_cols=["gname"], aggs={"m": "median(amount)"},
        )


def test_join_key_zone_pruning_bounds_current_reads(spark, tmp_path):
    """The ΔB term reads A_new pruned by the changed join keys through
    A's zone map on the join-key column — files opened ∝ the change
    neighborhood, not the fact corpus."""
    from rds_to_datalake_project_spark.operators import zonemap
    from rds_to_datalake_project_spark.operators.matview import LAST_REFRESH

    fact = KeyedTable(
        spark,
        str(tmp_path / "factz"),
        TableSpec(
            "djfz", record_key=("f_id",), precombine_key="f_seq",
            partition_source="d", partition_granularity="month",
        ),
        retain_versions=4,
        zonemap_columns=["fk"],
    )
    dim = KeyedTable(
        spark,
        str(tmp_path / "dimz"),
        TableSpec(
            "djdz", record_key=("d_id",), precombine_key="d_seq",
            partition_granularity=None,
        ),
        retain_versions=4,
    )
    # fk correlates with the month partition -> tight per-file fk zones
    fact.initial_load(
        spark.createDataFrame(
            [
                (i, (i % 12), f"2024-{(i % 12) + 1:02d}-10", 10 * i, 0)
                for i in range(1, 241)
            ],
            "f_id long, fk long, d string, amount long, f_seq long",
        )
    )
    dim.initial_load(
        spark.createDataFrame(
            [(d, f"g{d}", 0) for d in range(12)],
            "d_id long, gname string, d_seq long",
        )
    )
    view = DeltaJoinMaterializedView(
        fact, dim, str(tmp_path / "vz"), on=("fk", "d_id"),
        group_cols=["gname"], aggs={"n": "count(*)", "rev": "sum(amount)"},
    )
    view.refresh()
    # one dim row changes -> only fk=7's fact neighborhood is re-read
    dim.upsert(
        spark.createDataFrame(
            [(7, "gSEVEN", 1)], "d_id long, gname string, d_seq long"
        ).withColumn("Op", F.lit("U")),
        delete_mode="apply",
    )
    zonemap.reset_prune_stats()
    out = view.refresh()
    assert out["mode"] == "delta"
    scan = LAST_REFRESH.get("scan", {})
    assert scan and scan["files_read"] * 4 <= scan["files_total"], scan
    got = {
        tuple(r)
        for r in view.read().select("gname", "n", "rev").collect()
    }
    want = {
        tuple(r)
        for r in fact.read()
        .join(dim.read(), F.col("fk") == F.col("d_id"))
        .groupBy("gname")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("amount").alias("rev"),
        )
        .collect()
    }
    assert got == want


@pytest.mark.slow
def test_sql_facade_routes_delta_join(spark, tmp_path):
    """CREATE MATERIALIZED VIEW ... WITH [AUTO] DELTA REFRESH AS
    SELECT ... FROM a JOIN b ON ... builds a DeltaJoinMaterializedView
    and the auto hook keeps it fresh from either side's commits."""
    from rds_to_datalake_project_spark.sql import MATVIEWS, run_query

    fact, dim, _ = _mk(spark, tmp_path)
    reg = {"facts_t": fact, "dims_t": dim}
    try:
        out = run_query(
            spark,
            "CREATE MATERIALIZED VIEW djv WITH AUTO DELTA REFRESH AS "
            "SELECT gname, count(*) AS n, sum(amount) AS total "
            "FROM facts_t JOIN dims_t ON fk = d_id GROUP BY gname",
            tables=reg,
        ).collect()[0]
        assert out["mode"] == "full"
        assert isinstance(MATVIEWS["djv"], DeltaJoinMaterializedView)
        # commits on both sides; the auto hook refreshes by delta
        fact.upsert(_fb(spark, [(500, 1, 77, 1, 1)]))
        dim.upsert(_db(spark, [(0, "gZERO", 1)]), delete_mode="apply")
        got = {
            (r["gname"], r["n"], r["total"])
            for r in run_query(
                spark, "SELECT * FROM djv", tables=reg
            ).collect()
        }
        want = {
            tuple(r)
            for r in fact.read()
            .join(dim.read(), F.col("fk") == F.col("d_id"))
            .groupBy("gname")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum("amount").alias("total"),
            )
            .collect()
        }
        assert got == want
        run_query(spark, "DROP MATERIALIZED VIEW djv", tables=reg)
    finally:
        MATVIEWS.pop("djv", None)

    # LEFT JOIN + DELTA routes to the same class with how='left' and
    # maintains the NULL (dangling) group — facts at NULL / unknown
    # fks exist in the fixture, so the NULL group is populated
    try:
        run_query(
            spark,
            "CREATE MATERIALIZED VIEW djleft WITH AUTO DELTA REFRESH AS "
            "SELECT gname, count(*) AS n FROM facts_t "
            "LEFT JOIN dims_t ON fk = d_id GROUP BY gname",
            tables=reg,
        )
        mv = MATVIEWS["djleft"]
        assert isinstance(mv, DeltaJoinMaterializedView)
        assert mv.hows == ["left"]
        fact.upsert(_fb(spark, [(600, 99, 5, 1, 1)]))  # dangling insert
        got = {
            (r["gname"], r["n"])
            for r in run_query(
                spark, "SELECT * FROM djleft", tables=reg
            ).collect()
        }
        want = {
            tuple(r)
            for r in fact.read()
            .join(dim.read(), F.col("fk") == F.col("d_id"), "left")
            .groupBy("gname")
            .agg(F.count("*").cast("long").alias("n"))
            .collect()
        }
        assert got == want
    finally:
        MATVIEWS.pop("djleft", None)


@pytest.mark.slow
def test_minmax_join_delta_repairs_on_contribution_removal(spark, tmp_path):
    """min/max over a join: a dim re-key REMOVES contributions from the
    vacated group — if one was its extremum, the group repairs from the
    current join; interior fact inserts stay pure delta."""
    fact, dim, view = _mk(spark, tmp_path)  # default AGGS unused here
    mm = DeltaJoinMaterializedView(
        fact, dim, str(tmp_path / "vm"), on=("fk", "d_id"),
        group_cols=["gname"],
        aggs={"n": "count(*)", "hi": "max(amount)", "lo": "min(amount)"},
    )
    mm.refresh()

    def want():
        j = fact.read().join(dim.read(), F.col("fk") == F.col("d_id"))
        return {
            tuple(r)
            for r in j.groupBy("gname").agg(
                F.count("*").cast("long").alias("n"),
                F.max("amount").alias("hi"),
                F.min("amount").alias("lo"),
            ).select("gname", "n", "hi", "lo").collect()
        }

    def got():
        return {
            tuple(r)
            for r in mm.read().select("gname", "n", "hi", "lo").collect()
        }

    # fk=5 rows include f_id 35 (amount 350) — g2's members; move dim 5
    # to its own group: g2 loses contributions (possible extremum), the
    # new group births from merged inserts
    dim.upsert(_db(spark, [(5, "gSOLO", 1)]), delete_mode="apply")
    out = mm.refresh()
    assert out["mode"] == "delta"
    assert got() == want()
    # delete the joined max of gSOLO -> repair names the second-best
    top = (
        fact.read().filter(F.col("fk") == 5)
        .orderBy(F.col("amount").desc()).limit(1).collect()[0]
    )
    fact.upsert(
        _fb(spark, [(top["f_id"], 5, top["amount"], top["opt"], 9)], op="D"),
        delete_mode="apply",
    )
    out = mm.refresh()
    assert out["mode"] == "delta" and out["groups_repaired"] >= 1
    assert got() == want()


@pytest.mark.slow
def test_count_distinct_join_delta_converges(spark, tmp_path):
    """count(DISTINCT) over a join: the aux store merges the SAME
    signed contribution union as the main delta, so value births and
    deaths driven by EITHER feed (fact churn or a dim re-key moving
    whole neighborhoods between groups) move ndv exactly."""
    fact, dim, _ = _mk(spark, tmp_path)
    cd = DeltaJoinMaterializedView(
        fact, dim, str(tmp_path / "vcd"), on=("fk", "d_id"),
        group_cols=["gname"],
        aggs={"n": "count(*)", "nd": "count(DISTINCT opt)"},
    )
    cd.refresh()

    def want():
        j = fact.read().join(dim.read(), F.col("fk") == F.col("d_id"))
        return {
            tuple(r)
            for r in j.groupBy("gname").agg(
                F.count("*").cast("long").alias("n"),
                F.countDistinct("opt").cast("long").alias("nd"),
            ).select("gname", "n", "nd").collect()
        }

    def got():
        return {
            tuple(r)
            for r in cd.read().select("gname", "n", "nd").collect()
        }

    assert got() == want()
    # fact churn: new value, duplicate value, delete
    fact.upsert(
        _fb(spark, [(500, 1, 1, 999, 1), (501, 1, 1, 4, 1)]).unionByName(
            _fb(spark, [(4, 4, 40, 4, 1)], op="D")
        ),
        delete_mode="apply",
    )
    out = cd.refresh()
    assert out["mode"] == "delta"
    assert got() == want()
    # dim re-key: every joined (group, value) pair of d_id=2 moves
    dim.upsert(_db(spark, [(2, "gCD", 1)]), delete_mode="apply")
    out = cd.refresh()
    assert out["mode"] == "delta"
    assert got() == want()


@pytest.mark.slow
def test_describe_and_refresh_full_on_delta_join(spark, tmp_path):
    """DESCRIBE MATERIALIZED VIEW reports class/strategy/cursor/aux;
    REFRESH ... FULL rebuilds a delta-join view (incl. its aux stores)
    through the facade's attribute-based dispatch."""
    from rds_to_datalake_project_spark.sql import MATVIEWS, run_query

    fact, dim, _ = _mk(spark, tmp_path)
    reg = {"facts_t": fact, "dims_t": dim}
    try:
        run_query(
            spark,
            "CREATE MATERIALIZED VIEW djv2 WITH DELTA REFRESH AS "
            "SELECT gname, count(*) AS n, count(DISTINCT opt) AS nd "
            "FROM facts_t JOIN dims_t ON fk = d_id GROUP BY gname",
            tables=reg,
        )
        d = run_query(
            spark, "DESCRIBE MATERIALIZED VIEW djv2", tables=reg
        ).collect()[0]
        assert d["view_class"] == "DeltaJoinMaterializedView"
        assert d["strategy"] == "delta"
        assert d["distinct_aux_columns"] == "nd"
        assert d["pending_intent"] is False
        assert "djf" in d["base_tables"] and "djd" in d["base_tables"]
        fact.upsert(_fb(spark, [(600, 1, 5, 7, 1)]))
        out = run_query(
            spark, "REFRESH MATERIALIZED VIEW djv2", tables=reg
        ).collect()[0]
        assert out["mode"] == "delta"
        out = run_query(
            spark, "REFRESH MATERIALIZED VIEW djv2 FULL", tables=reg
        ).collect()[0]
        assert out["mode"] == "full"
        # aux rebuilt by the FULL too: the next delta window converges
        fact.upsert(_fb(spark, [(600, 1, 5, 7, 2)], op="D"), delete_mode="apply")
        out = run_query(
            spark, "REFRESH MATERIALIZED VIEW djv2", tables=reg
        ).collect()[0]
        assert out["mode"] == "delta"
        got = {
            (r["gname"], r["n"], r["nd"])
            for r in run_query(spark, "SELECT * FROM djv2", tables=reg).collect()
        }
        want = {
            tuple(r)
            for r in fact.read()
            .join(dim.read(), F.col("fk") == F.col("d_id"))
            .groupBy("gname")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.countDistinct("opt").cast("long").alias("nd"),
            )
            .collect()
        }
        assert got == want
        run_query(spark, "DROP MATERIALIZED VIEW djv2", tables=reg)
    finally:
        MATVIEWS.pop("djv2", None)


@pytest.mark.slow
def test_delta_join_store_stacks_into_downstream_view(spark, tmp_path):
    """store_retain_versions makes a delta-join view's store a valid
    BASE for a downstream recompute view (continuous-aggregate
    cascade): nation-level delta view -> global rollup."""
    from rds_to_datalake_project_spark.operators.matview import (
        MaterializedView,
    )

    fact, dim, _ = _mk(spark, tmp_path)
    lvl1 = DeltaJoinMaterializedView(
        fact, dim, str(tmp_path / "l1"), on=("fk", "d_id"),
        group_cols=["gname"],
        aggs={"n": "count(*)", "rev": "sum(amount)"},
        store_retain_versions=4,
    )
    lvl1.refresh()
    lvl2 = MaterializedView(
        lvl1.store, str(tmp_path / "l2"), ["tier"],
        {"total": "sum(rev)"},
        group_exprs={"tier": "substring(gname, 1, 1)"},
    )
    lvl2.refresh()

    def want():
        j = fact.read().join(dim.read(), F.col("fk") == F.col("d_id"))
        return {
            tuple(r)
            for r in j.groupBy(F.substring("gname", 1, 1).alias("tier"))
            .agg(F.sum("amount").alias("total"))
            .collect()
        }

    assert {
        tuple(r) for r in lvl2.read().select("tier", "total").collect()
    } == want()
    # a fact commit flows lvl0 -> lvl1 (delta) -> lvl2 (recompute)
    fact.upsert(_fb(spark, [(700, 2, 1000, 1, 1)]))
    assert lvl1.refresh()["mode"] == "delta"
    assert lvl2.refresh()["mode"] == "incremental"
    assert {
        tuple(r) for r in lvl2.read().select("tier", "total").collect()
    } == want()
