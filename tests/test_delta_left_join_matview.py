"""Signed-delta LEFT-join views (operators/matview.py:
DeltaJoinMaterializedView(how='left')): the inner part rides the
bilinear identity; the DANGLING part (unmatched left rows extended
with NULLs) moves only where a join key's match count transitions
0 ↔ positive. Maintenance must converge to direct left-join
recomputation across dangling inserts/deletes, match births adopting
dangling facts, match deaths re-dangling them, both-sides-changed
windows, NULL join keys, duplicate dim keys, and arbitrary CDC
interleavings (hypothesis sweep)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.operators.matview import (
    DeltaJoinMaterializedView,
)
from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.schema import TableSpec

AGGS = {
    "n": "count(*)",
    "rev": "sum(CAST(amount AS DECIMAL(20,2)))",
    "n_d": "count(d_tag)",  # dim-side agg: NULL for dangling rows
    "avg_amt": "avg(amount)",
}

_F_SCHEMA = "f_id long, fk long, amount long, f_seq long"
_D_SCHEMA = "d_id long, gname string, d_tag string, d_seq long"


def _mk(spark, tmp_path, **view_kw):
    fact = KeyedTable(
        spark, str(tmp_path / "fact"),
        TableSpec("dlf", record_key=("f_id",), precombine_key="f_seq",
                  partition_granularity=None),
        retain_versions=8,
    )
    dim = KeyedTable(
        spark, str(tmp_path / "dim"),
        TableSpec("dld", record_key=("d_id",), precombine_key="d_seq",
                  partition_granularity=None),
        retain_versions=8,
    )
    # fks 0..5 exist; 7/8 dangle; every 10th fact has a NULL fk
    fact.initial_load(spark.createDataFrame(
        [(i, (i % 8) if i % 10 else None, 10 * i, 0) for i in range(1, 41)],
        _F_SCHEMA,
    ))
    dim.initial_load(spark.createDataFrame(
        [(d, f"g{d % 3}", f"t{d}", 0) for d in range(6)], _D_SCHEMA
    ))
    view = DeltaJoinMaterializedView(
        fact, dim, str(tmp_path / "v"), on=("fk", "d_id"),
        group_cols=["gname"], aggs=AGGS, how="left", **view_kw,
    )
    return fact, dim, view


def _direct(fact, dim):
    j = fact.read().join(dim.read(), F.col("fk") == F.col("d_id"), "left")
    return {
        tuple(r)
        for r in j.groupBy("gname")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("amount").cast("decimal(20,2)")).alias("rev"),
            F.count("d_tag").cast("long").alias("n_d"),
            F.avg("amount").alias("avg_amt"),
        )
        .select("gname", "n", "rev", "n_d", "avg_amt")
        .collect()
    }


def _got(view):
    return {
        tuple(r)
        for r in view.read()
        .select("gname", "n", "rev", "n_d", "avg_amt")
        .collect()
    }


def _fb(spark, rows, op="U"):
    return spark.createDataFrame(rows, _F_SCHEMA).withColumn("Op", F.lit(op))


def _db(spark, rows, op="U"):
    return spark.createDataFrame(rows, _D_SCHEMA).withColumn("Op", F.lit(op))


def test_full_refresh_builds_null_group(spark, tmp_path):
    fact, dim, view = _mk(spark, tmp_path)
    assert view.refresh()["mode"] == "full"
    got = _got(view)
    assert got == _direct(fact, dim)
    assert any(r[0] is None for r in got)  # dangling facts present


@pytest.mark.slow
def test_dangling_inserts_and_deletes_stay_delta(spark, tmp_path):
    fact, dim, view = _mk(spark, tmp_path)
    view.refresh()
    # new dangling fact (unknown fk), new NULL-fk fact, delete one
    # existing dangling fact (f_id=7 has fk=7: no dim row)
    fact.upsert(
        _fb(spark, [(500, 99, 7, 1), (501, None, 3, 1)])
        .unionByName(_fb(spark, [(7, 7, 70, 1)], op="D")),
        delete_mode="apply",
    )
    out = view.refresh()
    assert out["mode"] == "delta"
    assert _got(view) == _direct(fact, dim)


def test_match_birth_adopts_dangling_facts(spark, tmp_path):
    """A dim row appearing at a previously matchless key (0 → pos
    flip) must move that key's facts out of the NULL group — though
    the fact feed says nothing."""
    fact, dim, view = _mk(spark, tmp_path)
    view.refresh()
    dim.upsert(_db(spark, [(7, "g_new", "t7", 1)]))
    out = view.refresh()
    assert out["mode"] == "delta"
    assert _got(view) == _direct(fact, dim)


@pytest.mark.slow
def test_match_death_redangles_facts(spark, tmp_path):
    """Deleting a key's ONLY dim row (pos → 0 flip) re-dangles its
    facts into the NULL group."""
    fact, dim, view = _mk(spark, tmp_path)
    view.refresh()
    dim.upsert(_db(spark, [(2, "g2", "t2", 1)], op="D"), delete_mode="apply")
    out = view.refresh()
    assert out["mode"] == "delta"
    assert _got(view) == _direct(fact, dim)


@pytest.mark.slow
def test_duplicate_dim_keys_no_flip_on_partial_removal(spark, tmp_path):
    """With TWO dim rows at one key (match count 2), removing one is
    NOT a flip — facts stay matched (now to one row) and never touch
    the NULL group."""
    fact, dim, view = _mk(spark, tmp_path)
    # second dim row at d_id... d_id is the record key, so duplicate
    # join keys need a separate key column: re-key dim on (d_id) but
    # give key 2 a twin at key 12 with the same join value is not
    # possible on an equi-key; instead pre-load a dim whose record key
    # differs from the join column
    dim2 = KeyedTable(
        spark, str(tmp_path / "dim2"),
        TableSpec("dld2", record_key=("d_id",), precombine_key="d_seq",
                  partition_granularity=None),
        retain_versions=8,
    )
    # join on jk (not the record key): keys 2 carries two rows
    dim2.initial_load(spark.createDataFrame(
        [(0, 0, "g0", "a", 0), (1, 1, "g1", "b", 0),
         (2, 2, "g2", "c", 0), (3, 2, "g2", "d", 0)],
        "d_id long, jk long, gname string, d_tag string, d_seq long",
    ))
    view2 = DeltaJoinMaterializedView(
        fact, dim2, str(tmp_path / "v2"), on=("fk", "jk"),
        group_cols=["gname"], aggs=AGGS, how="left",
    )
    view2.refresh()
    # remove ONE of key 2's two rows: match 2 → 1, no flip
    dim2.upsert(
        spark.createDataFrame(
            [(3, 2, "g2", "d", 1)],
            "d_id long, jk long, gname string, d_tag string, d_seq long",
        ).withColumn("Op", F.lit("D")),
        delete_mode="apply",
    )
    out = view2.refresh()
    assert out["mode"] == "delta"
    j = fact.read().join(dim2.read(), F.col("fk") == F.col("jk"), "left")
    want = {
        tuple(r)
        for r in j.groupBy("gname")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("amount").cast("decimal(20,2)")).alias("rev"),
            F.count("d_tag").cast("long").alias("n_d"),
            F.avg("amount").alias("avg_amt"),
        )
        .select("gname", "n", "rev", "n_d", "avg_amt")
        .collect()
    }
    assert _got(view2) == want
    # now remove the LAST row at key 2: flip pos → 0
    dim2.upsert(
        spark.createDataFrame(
            [(2, 2, "g2", "c", 2)],
            "d_id long, jk long, gname string, d_tag string, d_seq long",
        ).withColumn("Op", F.lit("D")),
        delete_mode="apply",
    )
    assert view2.refresh()["mode"] == "delta"
    j = fact.read().join(dim2.read(), F.col("fk") == F.col("jk"), "left")
    want = {
        tuple(r)
        for r in j.groupBy("gname")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("amount").cast("decimal(20,2)")).alias("rev"),
            F.count("d_tag").cast("long").alias("n_d"),
            F.avg("amount").alias("avg_amt"),
        )
        .select("gname", "n", "rev", "n_d", "avg_amt")
        .collect()
    }
    assert _got(view2) == want


@pytest.mark.slow
def test_both_sides_change_one_window(spark, tmp_path):
    """New facts at a key whose FIRST dim row arrives in the SAME
    window (never dangling), a fact deleted together with its only
    match (dangling in neither endpoint state), and an unrelated
    dangling insert — one refresh, exact convergence."""
    fact, dim, view = _mk(spark, tmp_path)
    view.refresh()
    fact.upsert(
        _fb(spark, [(600, 9, 60, 1), (601, 42, 6, 1)])  # 9 births below
        .unionByName(_fb(spark, [(2, 2, 20, 1)], op="D")),
        delete_mode="apply",
    )
    dim.upsert(
        _db(spark, [(9, "g_nine", "t9", 1)])
        .unionByName(_db(spark, [(2, "g2", "t2", 1)], op="D")),
        delete_mode="apply",
    )
    out = view.refresh()
    assert out["mode"] == "delta"
    assert _got(view) == _direct(fact, dim)


@pytest.mark.slow
def test_minmax_left_delta_with_dangling(spark, tmp_path):
    """min/max over a LEFT join: a dangling fact's amount counts
    toward fact-side extrema in the NULL group; deleting the group's
    extremum repairs from the current LEFT join."""
    fact, dim, _ = _mk(spark, tmp_path)
    view = DeltaJoinMaterializedView(
        fact, dim, str(tmp_path / "vm"), on=("fk", "d_id"),
        group_cols=["gname"],
        aggs={"n": "count(*)", "hi": "max(amount)", "lo": "min(amount)"},
        how="left",
    )
    view.refresh()

    def _want():
        j = fact.read().join(dim.read(), F.col("fk") == F.col("d_id"), "left")
        return {
            tuple(r)
            for r in j.groupBy("gname")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.max("amount").alias("hi"),
                F.min("amount").alias("lo"),
            )
            .collect()
        }

    def _have():
        return {
            tuple(r)
            for r in view.read().select("gname", "n", "hi", "lo").collect()
        }

    # delete the NULL group's maximum (fk=7 dangles; f_id=39 amount=390
    # may be its max — delete the largest dangling fact instead of
    # guessing: f_id 39 has fk 7)
    fact.upsert(_fb(spark, [(39, 7, 390, 1)], op="D"), delete_mode="apply")
    out = view.refresh()
    assert out["mode"] == "delta"
    assert _have() == _want()
    # and a match birth moving extrema between groups
    dim.upsert(_db(spark, [(7, "g_new", "t7", 1)]))
    assert view.refresh()["mode"] == "delta"
    assert _have() == _want()


@pytest.mark.slow
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(data=st.data())
@pytest.mark.slow
def test_left_delta_converges_under_arbitrary_churn(
    spark, tmp_path_factory, data
):
    """Any interleaving of fact/dim CDC in any batch split converges
    to the direct LEFT-join aggregate."""
    tmp_path = tmp_path_factory.mktemp("hyp_left_delta")
    fact, dim, view = _mk(spark, tmp_path)
    view.refresh()
    seq = 0
    for _ in range(data.draw(st.integers(1, 3), label="n_rounds")):
        seq += 1
        f_rows = data.draw(
            st.lists(
                st.tuples(
                    st.integers(1, 50),
                    st.one_of(st.none(), st.integers(0, 9)),
                    st.integers(-5, 5),
                    st.sampled_from(["U", "D"]),
                ),
                max_size=6,
            ),
            label="fact_cdc",
        )
        d_rows = data.draw(
            st.lists(
                st.tuples(
                    st.integers(0, 9),
                    st.integers(0, 3),
                    st.sampled_from(["U", "D"]),
                ),
                max_size=4,
            ),
            label="dim_cdc",
        )
        if f_rows:
            for op in ("U", "D"):
                batch = [
                    (fid, fk, amt * 10, seq)
                    for fid, fk, amt, o in f_rows
                    if o == op
                ]
                if batch:
                    fact.upsert(
                        _fb(spark, batch, op=op), delete_mode="apply"
                    )
        if d_rows:
            for op in ("U", "D"):
                batch = [
                    (d, f"g{g}", f"t{d}", seq) for d, g, o in d_rows if o == op
                ]
                if batch:
                    dim.upsert(_db(spark, batch, op=op), delete_mode="apply")
        view.refresh()
        assert _got(view) == _direct(fact, dim)
