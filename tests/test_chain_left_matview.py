"""LEFT hops in recompute chain views (operators/matview.py:
ChainMaterializedView(hows=[...])): unmatched owner rows survive with
the hop's table NULLed, so dim-side group columns carry a real NULL
group; affected-fact discovery and old∪new touched-group discovery
must see NULL-group transitions (match births adopting dangling facts,
match deaths re-dangling them, far-dim deletes NULLing only their own
columns)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.operators.matview import (
    ChainMaterializedView,
)
from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.schema import TableSpec

_F = "f_id long, fk1 long, fk2 long, amt long, s0 long"
_D1 = "d1_id long, gname string, d2fk long, s1 long"
_D2 = "d2_id long, region string, s2 long"


def _mk(spark, tmp_path, hows):
    fact = KeyedTable(
        spark, str(tmp_path / "f"),
        TableSpec("clf", record_key=("f_id",), precombine_key="s0",
                  partition_granularity=None),
        retain_versions=8,
    )
    d1 = KeyedTable(
        spark, str(tmp_path / "d1"),
        TableSpec("cld1", record_key=("d1_id",), precombine_key="s1",
                  partition_granularity=None),
        retain_versions=8,
    )
    d2 = KeyedTable(
        spark, str(tmp_path / "d2"),
        TableSpec("cld2", record_key=("d2_id",), precombine_key="s2",
                  partition_granularity=None),
        retain_versions=8,
    )
    # fk1 ∈ 0..7 but d1 holds only 0..4 (5..7 dangle); every 9th fact
    # has a NULL fk1. d1 rows reference d2 keys 0..2, d2 holds 0..1
    # (2 dangles at the second hop); one d1 row has NULL d2fk.
    fact.initial_load(spark.createDataFrame(
        [(i, (i % 8) if i % 9 else None, i % 3, 10 * i, 0)
         for i in range(1, 37)],
        _F,
    ))
    d1.initial_load(spark.createDataFrame(
        [(d, f"g{d % 2}", (d % 3) if d != 4 else None, 0) for d in range(5)],
        _D1,
    ))
    d2.initial_load(spark.createDataFrame(
        [(r, f"R{r}", 0) for r in range(2)], _D2
    ))
    view = ChainMaterializedView(
        [fact, d1, d2],
        on=[("fk1", "d1_id"), ("d2fk", "d2_id")],
        path=str(tmp_path / "v"),
        group_cols=["gname", "region"],
        aggs={"n": "count(*)", "rev": "sum(amt)"},
        hows=hows,
    )
    return fact, d1, d2, view


def _direct(fact, d1, d2, hows):
    j = fact.read().join(
        d1.read(), F.col("fk1") == F.col("d1_id"), hows[0]
    ).join(d2.read(), F.col("d2fk") == F.col("d2_id"), hows[1])
    return {
        tuple(r)
        for r in j.groupBy("gname", "region")
        .agg(F.count("*").cast("long").alias("n"), F.sum("amt").alias("rev"))
        .collect()
    }


def _got(view):
    return {
        tuple(r)
        for r in view.read().select("gname", "region", "n", "rev").collect()
    }


def _fb(spark, rows, op="U"):
    return spark.createDataFrame(rows, _F).withColumn("Op", F.lit(op))


def _d1b(spark, rows, op="U"):
    return spark.createDataFrame(rows, _D1).withColumn("Op", F.lit(op))


def _d2b(spark, rows, op="U"):
    return spark.createDataFrame(rows, _D2).withColumn("Op", F.lit(op))


HOWS = ["left", "left"]


def test_full_refresh_builds_null_groups(spark, tmp_path):
    fact, d1, d2, view = _mk(spark, tmp_path, HOWS)
    assert view.refresh()["mode"] == "full"
    got = _got(view)
    assert got == _direct(fact, d1, d2, HOWS)
    gnames = {r[0] for r in got}
    regions = {r[1] for r in got}
    assert None in gnames and None in regions  # both hops dangle


@pytest.mark.slow
def test_fact_churn_incremental(spark, tmp_path):
    fact, d1, d2, view = _mk(spark, tmp_path, HOWS)
    view.refresh()
    fact.upsert(
        _fb(spark, [(100, 7, 0, 5, 1), (101, None, 1, 6, 1)])  # dangling+NULL
        .unionByName(_fb(spark, [(9, None, 0, 90, 1)], op="D")),
        delete_mode="apply",
    )
    out = view.refresh()
    assert out["mode"] == "incremental"
    assert _got(view) == _direct(fact, d1, d2, HOWS)


@pytest.mark.slow
def test_match_birth_and_death_first_hop(spark, tmp_path):
    fact, d1, d2, view = _mk(spark, tmp_path, HOWS)
    view.refresh()
    # birth: d1 gains key 7 → fk1=7 facts leave the NULL gname group
    d1.upsert(_d1b(spark, [(7, "g_new", 0, 1)]))
    assert view.refresh()["mode"] == "incremental"
    assert _got(view) == _direct(fact, d1, d2, HOWS)
    # death: d1 loses key 2 → its facts re-dangle
    d1.upsert(_d1b(spark, [(2, "g0", 2, 2)], op="D"), delete_mode="apply")
    assert view.refresh()["mode"] == "incremental"
    assert _got(view) == _direct(fact, d1, d2, HOWS)


@pytest.mark.slow
def test_far_dim_changes_null_only_their_columns(spark, tmp_path):
    fact, d1, d2, view = _mk(spark, tmp_path, HOWS)
    view.refresh()
    # d2 gains key 2: d1 rows with d2fk=2 leave the NULL region group
    # (their facts keep gname) — the feed that moved is two hops away
    d2.upsert(_d2b(spark, [(2, "R2", 1)]))
    assert view.refresh()["mode"] == "incremental"
    assert _got(view) == _direct(fact, d1, d2, HOWS)
    # d2 loses key 0: region R0 vanishes into the NULL region group
    d2.upsert(_d2b(spark, [(0, "R0", 2)], op="D"), delete_mode="apply")
    assert view.refresh()["mode"] == "incremental"
    assert _got(view) == _direct(fact, d1, d2, HOWS)


@pytest.mark.slow
def test_mid_chain_rekey_under_left(spark, tmp_path):
    fact, d1, d2, view = _mk(spark, tmp_path, HOWS)
    view.refresh()
    # d1 key 1 moves its d2 reference 1 → NULL: its facts' region goes
    # NULL though neither the fact nor d2 feed moved
    d1.upsert(_d1b(spark, [(1, "g1", None, 1)]))
    assert view.refresh()["mode"] == "incremental"
    assert _got(view) == _direct(fact, d1, d2, HOWS)


@pytest.mark.slow
def test_mixed_hops_left_then_inner(spark, tmp_path):
    """LEFT first hop + INNER second: SQL semantics — the inner hop
    re-drops rows whose d1 side is NULL (documented); convergence must
    match the plain DataFrame twin exactly."""
    hows = ["left", "inner"]
    fact, d1, d2, view = _mk(spark, tmp_path, hows)
    view.refresh()
    assert _got(view) == _direct(fact, d1, d2, hows)
    d1.upsert(_d1b(spark, [(7, "g_new", 1, 1)]))
    fact.upsert(_fb(spark, [(1, 1, 1, 10, 1)], op="D"), delete_mode="apply")
    assert view.refresh()["mode"] == "incremental"
    assert _got(view) == _direct(fact, d1, d2, hows)


def test_hows_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="hows"):
        _mk(spark, tmp_path, ["left"])  # wrong arity
    with pytest.raises(ValueError, match="hows"):
        _mk(spark, tmp_path, ["left", "full_outer"])


@pytest.mark.slow
def test_sql_facade_left_chain(spark, tmp_path):
    from rds_to_datalake_project_spark.sql import MATVIEWS, run_query

    fact, d1, d2, _ = _mk(spark, tmp_path, HOWS)
    reg = {"cl_fact": fact, "cl_d1": d1, "cl_d2": d2}
    try:
        run_query(
            spark,
            "CREATE MATERIALIZED VIEW clv WITH AUTO REFRESH AS "
            "SELECT gname, region, count(*) AS n, sum(amt) AS rev "
            "FROM cl_fact LEFT JOIN cl_d1 ON fk1 = d1_id "
            "LEFT OUTER JOIN cl_d2 ON d2fk = d2_id "
            "GROUP BY gname, region",
            tables=reg,
        )
        mv = MATVIEWS["clv"]
        assert isinstance(mv, ChainMaterializedView)
        assert mv.hows == ["left", "left"]
        d1.upsert(_d1b(spark, [(7, "g_new", 0, 1)]))  # hook refreshes
        got = {
            tuple(r)
            for r in run_query(
                spark, "SELECT * FROM clv", tables=reg
            ).collect()
        }
        assert got == _direct(fact, d1, d2, HOWS)
    finally:
        MATVIEWS.pop("clv", None)
    # LEFT + DELTA chain: targeted error
    with pytest.raises(ValueError, match="LEFT joins are not supported"):
        run_query(
            spark,
            "CREATE MATERIALIZED VIEW clbad WITH DELTA REFRESH AS "
            "SELECT gname, count(*) AS n "
            "FROM cl_fact LEFT JOIN cl_d1 ON fk1 = d1_id "
            "JOIN cl_d2 ON d2fk = d2_id GROUP BY gname",
            tables=reg,
        )
    # RIGHT chains: loose-shape error, not a confusing fall-through
    with pytest.raises(ValueError, match="RIGHT/FULL"):
        run_query(
            spark,
            "CREATE MATERIALIZED VIEW clbad2 AS "
            "SELECT gname, count(*) AS n "
            "FROM cl_fact RIGHT JOIN cl_d1 ON fk1 = d1_id "
            "JOIN cl_d2 ON d2fk = d2_id GROUP BY gname",
            tables=reg,
        )
