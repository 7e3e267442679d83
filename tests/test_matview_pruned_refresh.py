"""Round-12 matview scale/correctness fixes.

1. Incremental refresh reads base FILES ∝ the change set when the
   base carries a zone-map sidecar over a group column (r11 VERDICT
   "What's wrong" #1 — the touched-group semi-join pruned what reached
   the aggregation, but the scan underneath was corpus-sized).
2. Chain-view touched-group discovery semi-prunes every dimension by
   the propagated key neighborhood (VERDICT #2 sub-item).
3. ChainMaterializedView propagates FULL composite record keys (r11
   ADVICE medium: dropDuplicates on the leading component silently
   dropped groups).
4. _derive is applied exactly once per frame (r11 ADVICE low: a
   self-shadowing group expression was derived twice on the
   incremental path, grouping by v+2 while full refresh grouped v+1).
5. DeltaMaterializedView stacks: store_retain_versions makes its
   store a valid base for a downstream view (r11 VERDICT #3).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.operators import zonemap
from rds_to_datalake_project_spark.operators.matview import (
    ChainMaterializedView,
    DeltaMaterializedView,
    JoinMaterializedView,
    MaterializedView,
    attach_chain_matview_maintenance,
)
from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.schema import TableSpec


def _dates_table(spark, path):
    """Month-partitioned keyed table with a zone map on the date
    column — the reference's natural rollup layout (time-partitioned
    fact, time-bucketed view), where each file's date zone is tight."""
    t = KeyedTable(
        spark,
        path,
        TableSpec(
            "orders_zc",
            record_key=("k",),
            precombine_key="seq",
            partition_source="d",
            partition_granularity="month",
        ),
        retain_versions=4,
        zonemap_columns=["d"],
    )
    rows = [
        (i, f"2024-{(i % 12) + 1:02d}-15", 10.0 * (i + 1), 0)
        for i in range(240)
    ]
    t.initial_load(
        spark.createDataFrame(rows, "k long, d string, amount double, seq long")
    )
    return t


def _recompute(t):
    return {
        tuple(r)
        for r in t.read()
        .groupBy("d")
        .agg(F.sum("amount").alias("rev"), F.count("*").cast("long").alias("n"))
        .collect()
    }


@pytest.mark.slow
def test_incremental_refresh_prunes_base_files(spark, tmp_path):
    t = _dates_table(spark, str(tmp_path / "t"))
    mv = MaterializedView(
        t,
        str(tmp_path / "mv"),
        ["d"],
        {"rev": "sum(amount)", "n": "count(*)"},
    )
    assert mv.refresh()["mode"] == "full"

    # one-row change window inside one date group
    batch = spark.createDataFrame(
        [(3, "2024-04-15", 999.0, 1)], "k long, d string, amount double, seq long"
    ).withColumn("Op", F.lit("U"))
    t.upsert(batch)

    zonemap.reset_prune_stats()
    info = mv.refresh()
    assert info["mode"] == "incremental"
    assert info["groups_refreshed"] == 1
    st = dict(zonemap.LAST_PRUNE)
    # the refresh scan must open files ∝ the change set, not the corpus
    assert st["files_total"] >= 10, st
    assert st["files_read"] * 5 <= st["files_total"], st
    assert {tuple(r) for r in mv.read().collect()} == _recompute(t)


@pytest.mark.slow
def test_pruned_refresh_survives_null_groups(spark, tmp_path):
    """A NULL date is a REAL group; a NULL touched value must disable
    zone pruning (NULL rows sit outside every zone) instead of
    tombstoning the NULL group out of the view."""
    t = _dates_table(spark, str(tmp_path / "t"))
    mv = MaterializedView(
        t, str(tmp_path / "mv"), ["d"], {"rev": "sum(amount)", "n": "count(*)"}
    )
    mv.refresh()
    # move one row INTO the NULL group: its old date group and the
    # NULL group are both touched, and NULL disables d-pruning
    batch = spark.createDataFrame(
        [(3, None, 50.0, 1)], "k long, d string, amount double, seq long"
    ).withColumn("Op", F.lit("U"))
    t.upsert(batch)
    info = mv.refresh()
    assert info["mode"] == "incremental"
    assert {tuple(r) for r in mv.read().collect()} == _recompute(t)


def test_all_null_zones_never_prune_the_null_group(spark, tmp_path):
    """A touched NULL group disables pruning on its column even when
    every zone-mapped file holds only NULLs there: pruning those files
    would recompute the NULL group from no rows and tombstone it."""
    t = KeyedTable(
        spark,
        str(tmp_path / "t"),
        TableSpec(
            "nullg", record_key=("k",), precombine_key="seq",
            partition_granularity=None,
        ),
        retain_versions=4,
        zonemap_columns=["g"],
    )
    t.initial_load(
        spark.createDataFrame(
            [(i, None, 1.0 * i, 0) for i in range(6)],
            "k long, g string, amount double, seq long",
        )
    )
    mv = MaterializedView(
        t, str(tmp_path / "mv"), ["g"], {"rev": "sum(amount)"}
    )
    assert mv.refresh()["mode"] == "full"
    t.upsert(
        spark.createDataFrame(
            [(1, None, 100.0, 1)], "k long, g string, amount double, seq long"
        ).withColumn("Op", F.lit("U"))
    )
    assert mv.refresh()["mode"] == "incremental"
    assert [tuple(r) for r in mv.read().collect()] == [(None, 114.0)]


@pytest.mark.slow
def test_join_view_pruned_recompute(spark, tmp_path):
    """JoinMaterializedView's recompute scan prunes the side that owns
    a physical group column through its zone map, exactly."""
    left = _dates_table(spark, str(tmp_path / "l"))
    right = KeyedTable(
        spark,
        str(tmp_path / "r"),
        TableSpec(
            "dim", record_key=("dk",), precombine_key="seq",
            partition_granularity=None,
        ),
        retain_versions=4,
    )
    right.initial_load(
        spark.createDataFrame(
            [(i, f"c{i % 3}", 0) for i in range(240)],
            "dk long, cat string, seq long",
        )
    )
    mv = JoinMaterializedView(
        left,
        right,
        str(tmp_path / "mv"),
        on=("k", "dk"),
        group_cols=["d"],
        aggs={"rev": "sum(amount)", "n": "count(*)"},
    )
    assert mv.refresh()["mode"] == "full"
    batch = spark.createDataFrame(
        [(7, "2024-08-15", 123.0, 1)], "k long, d string, amount double, seq long"
    ).withColumn("Op", F.lit("U"))
    left.upsert(batch)
    zonemap.reset_prune_stats()
    info = mv.refresh()
    assert info["mode"] == "incremental"
    st = dict(zonemap.LAST_PRUNE)
    assert st.get("files_skipped", 0) > 0, st
    l, r = left.read(), right.read()
    expect = {
        tuple(x)
        for x in l.join(r, l["k"] == r["dk"])
        .groupBy("d")
        .agg(F.sum("amount").alias("rev"), F.count("*").cast("long").alias("n"))
        .collect()
    }
    assert {tuple(x) for x in mv.read().collect()} == expect


@pytest.mark.slow
def test_left_join_view_prunes_nullable_side_exactly(spark, tmp_path):
    """Under a LEFT join the nullable (right) side still zone-prunes by
    its own group column: a fact whose match is pruned away turns into
    a NULL extension, which the touched-group semi-join drops, because
    a touched NULL group disables that column's pruning. Exact across a
    group move (pruned) and a match death into the NULL group."""
    dim = _dates_table(spark, str(tmp_path / "dim"))
    fact = KeyedTable(
        spark,
        str(tmp_path / "f"),
        TableSpec(
            "lfact", record_key=("f_id",), precombine_key="f_seq",
            partition_granularity=None,
        ),
        retain_versions=4,
    )
    # fks 0..239 match a dim row; 500+ dangle
    fact.initial_load(
        spark.createDataFrame(
            [(i, i if i % 7 else 500 + i, 1.0 * i, 0) for i in range(240)],
            "f_id long, fk long, f_amt double, f_seq long",
        )
    )
    mv = JoinMaterializedView(
        fact, dim, str(tmp_path / "mv"), on=("fk", "k"),
        group_cols=["d"], aggs={"rev": "sum(f_amt)", "n": "count(*)"},
        how="left",
    )

    def expect():
        f, d = fact.read(), dim.read()
        return {
            tuple(x)
            for x in f.join(d, f["fk"] == d["k"], "left")
            .groupBy("d")
            .agg(F.sum("f_amt").alias("rev"), F.count("*").cast("long").alias("n"))
            .collect()
        }

    assert mv.refresh()["mode"] == "full"
    # group move: k=8 leaves 2024-09-15 for 2024-08-15
    dim.upsert(
        spark.createDataFrame(
            [(8, "2024-08-15", 90.0, 1)], "k long, d string, amount double, seq long"
        ).withColumn("Op", F.lit("U"))
    )
    zonemap.reset_prune_stats()
    assert mv.refresh()["mode"] == "incremental"
    assert dict(zonemap.LAST_PRUNE).get("files_skipped", 0) > 0
    assert {tuple(x) for x in mv.read().collect()} == expect()
    # match death: k=9's facts dangle into the (touched) NULL group
    dim.upsert(
        spark.createDataFrame(
            [(9, "2024-10-15", 100.0, 2)], "k long, d string, amount double, seq long"
        ).withColumn("Op", F.lit("D")),
        delete_mode="apply",
    )
    assert mv.refresh()["mode"] == "incremental"
    got = {tuple(x) for x in mv.read().collect()}
    assert got == expect() and any(r[0] is None for r in got)


# --- chain view: dim pruning + composite keys ---------------------------------


def _chain(spark, tmp_path, fact_key=("f_id",)):
    def spec(name, keys):
        return TableSpec(
            name, record_key=keys, precombine_key="seq",
            partition_granularity=None,
        )

    facts = KeyedTable(
        spark, str(tmp_path / "f"), spec("facts", fact_key), retain_versions=8
    )
    dims = KeyedTable(
        spark, str(tmp_path / "d"), spec("dims", ("d_id",)), retain_versions=8
    )
    regions = KeyedTable(
        spark, str(tmp_path / "r"), spec("regions", ("r_id",)), retain_versions=8
    )
    dims.initial_load(
        spark.createDataFrame(
            [(i, i % 2, 0) for i in range(6)], "d_id long, d_reg long, seq long"
        )
    )
    regions.initial_load(
        spark.createDataFrame(
            [(0, "west", 0), (1, "east", 0)], "r_id long, rname string, seq long"
        )
    )
    return facts, dims, regions


def _chain_direct(facts, dims, regions):
    f, d, r = facts.read(), dims.read(), regions.read()
    return {
        tuple(row)
        for row in f.join(d, f["f_dim"] == d["d_id"])
        .join(r, d["d_reg"] == r["r_id"])
        .groupBy("rname")
        .agg(F.sum("amount").cast("long").alias("total"))
        .collect()
    }


def test_chain_touched_group_discovery_prunes_dims(spark, tmp_path):
    facts, dims, regions = _chain(spark, tmp_path)
    facts.initial_load(
        spark.createDataFrame(
            [(i, i % 6, 10 * i, 0) for i in range(60)],
            "f_id long, f_dim long, amount long, seq long",
        )
    )
    view = ChainMaterializedView(
        [facts, dims, regions],
        on=[("f_dim", "d_id"), ("d_reg", "r_id")],
        path=str(tmp_path / "v"),
        group_cols=["rname"],
        aggs={"total": "CAST(sum(amount) AS BIGINT)"},
    )
    view.refresh()
    frames = [t.read() for t in (facts, dims, regions)]
    affected = frames[0].filter(F.col("f_dim") == 3)  # one dim neighborhood
    pruned = view._pruned_dims(affected, frames)
    # dim/region frames shrink to the affected neighborhood, not the corpus
    assert pruned[1].count() == 1  # only d_id=3
    assert pruned[2].count() == 1  # only its region
    assert dims.read().count() == 6 and regions.read().count() == 2


@pytest.mark.slow
def test_chain_composite_record_keys_refresh_all_touched_groups(spark, tmp_path):
    """Two changed fact rows share the LEADING key component but live
    in different groups — keying propagation on the first component
    alone (the r11 ADVICE bug) silently left one group stale."""
    facts, dims, regions = _chain(spark, tmp_path, fact_key=("k1", "k2"))
    facts.initial_load(
        spark.createDataFrame(
            [(1, 1, 0, 10, 0), (1, 2, 1, 20, 0), (2, 1, 2, 30, 0)],
            "k1 long, k2 long, f_dim long, amount long, seq long",
        )
    )
    view = ChainMaterializedView(
        [facts, dims, regions],
        on=[("f_dim", "d_id"), ("d_reg", "r_id")],
        path=str(tmp_path / "v"),
        group_cols=["rname"],
        aggs={"total": "CAST(sum(amount) AS BIGINT)"},
    )
    view.refresh()
    # one batch mutates BOTH rows of k1=1: groups west (d0) and east (d1)
    batch = spark.createDataFrame(
        [(1, 1, 0, 100, 1), (1, 2, 1, 200, 1)],
        "k1 long, k2 long, f_dim long, amount long, seq long",
    ).withColumn("Op", F.lit("U"))
    facts.upsert(batch)
    info = view.refresh()
    assert info["mode"] == "incremental"
    assert info["groups_refreshed"] == 2  # BOTH groups, not just one
    assert {tuple(r) for r in view.read().collect()} == _chain_direct(
        facts, dims, regions
    )


# --- derive-once discipline ----------------------------------------------------


def test_self_shadowing_group_expr_derives_once(spark, tmp_path):
    """group_exprs {'v': 'v + 1'} shadows its own input: deriving
    twice on the incremental path grouped by v+2 while full refresh
    grouped by v+1, tombstoning the real groups (r11 ADVICE low)."""
    t = KeyedTable(
        spark,
        str(tmp_path / "t"),
        TableSpec(
            "t", record_key=("k",), precombine_key="seq",
            partition_granularity=None,
        ),
        retain_versions=4,
    )
    t.initial_load(
        spark.createDataFrame(
            [(i, i % 3, 10 * i, 0) for i in range(30)],
            "k long, v long, x long, seq long",
        )
    )
    mv = MaterializedView(
        t,
        str(tmp_path / "mv"),
        ["v"],
        {"s": "CAST(sum(x) AS BIGINT)"},
        group_exprs={"v": "v + 1"},
    )
    mv.refresh()
    batch = spark.createDataFrame(
        [(0, 0, 999, 1)], "k long, v long, x long, seq long"
    ).withColumn("Op", F.lit("U"))
    t.upsert(batch)
    info = mv.refresh()
    assert info["mode"] == "incremental"
    expect = {
        tuple(r)
        for r in t.read()
        .withColumn("v", F.col("v") + 1)
        .groupBy("v")
        .agg(F.sum("x").cast("long").alias("s"))
        .collect()
    }
    assert {tuple(r) for r in mv.read().collect()} == expect


# --- delta-view stacking ---------------------------------------------------------


@pytest.mark.slow
def test_delta_view_stacks_into_downstream_view(spark, tmp_path):
    """An hourly signed-delta view with a VERSIONED store feeds a
    downstream recompute view (daily cascade) through the standard
    maintenance hook — r11 VERDICT #3: the class previously lacked
    store_retain_versions, so its store could not base another view."""
    t = KeyedTable(
        spark,
        str(tmp_path / "t"),
        TableSpec(
            "t", record_key=("k",), precombine_key="seq",
            partition_granularity=None,
        ),
        retain_versions=4,
    )
    t.initial_load(
        spark.createDataFrame(
            [(i, i % 10, 1.0 * i, 0) for i in range(50)],
            "k long, g long, x double, seq long",
        )
    )
    hourly = DeltaMaterializedView(
        t,
        str(tmp_path / "h"),
        ["g"],
        {"s": "sum(x)"},
        store_retain_versions=4,
    )
    hourly.refresh()
    daily = MaterializedView(
        hourly.store,
        str(tmp_path / "dl"),
        ["g2"],
        {"total": "sum(s)"},
        group_exprs={"g2": "g % 2"},
    )
    attach_chain_matview_maintenance(daily)
    daily.refresh()

    batch = spark.createDataFrame(
        [(3, 3, 500.0, 1), (60, 3, 7.0, 1)], "k long, g long, x double, seq long"
    ).withColumn("Op", F.lit("U"))
    t.upsert(batch)
    info = hourly.refresh()  # store commit triggers daily's hook
    assert info["mode"] == "delta"

    expect = {
        tuple(r)
        for r in t.read()
        .groupBy((F.col("g") % 2).alias("g2"))
        .agg(F.sum("x").alias("total"))
        .collect()
    }
    assert {tuple(r) for r in daily.read().collect()} == expect


@pytest.mark.slow
def test_bucketed_derived_key_prunes_via_source_column(spark, tmp_path):
    """A derived date_trunc group key inverts each touched bucket to a
    closed source interval and prunes files through the SOURCE
    column's zones — the facade's time-bucket rollup shape gets
    file-pruned refreshes even though the bucket column is synthetic."""
    import datetime as dt

    t = KeyedTable(
        spark,
        str(tmp_path / "t"),
        TableSpec(
            "t",
            record_key=("k",),
            precombine_key="seq",
            partition_source="ts",
            partition_granularity="month",
        ),
        retain_versions=4,
        zonemap_columns=["ts"],
    )
    rows = [
        (i, dt.datetime(2024, (i % 12) + 1, (i % 27) + 1, i % 24), 1.0 * i, 0)
        for i in range(240)
    ]
    t.initial_load(
        spark.createDataFrame(rows, "k long, ts timestamp, amount double, seq long")
    )
    mv = MaterializedView(
        t,
        str(tmp_path / "mv"),
        ["day"],
        {"rev": "sum(amount)", "n": "count(*)"},
        group_exprs={"day": "date_trunc('day', ts)"},
    )
    assert mv.refresh()["mode"] == "full"
    batch = spark.createDataFrame(
        [(3, dt.datetime(2024, 4, 9, 5), 777.0, 1)],
        "k long, ts timestamp, amount double, seq long",
    ).withColumn("Op", F.lit("U"))
    t.upsert(batch)
    zonemap.reset_prune_stats()
    info = mv.refresh()
    assert info["mode"] == "incremental"
    st = dict(zonemap.LAST_PRUNE)
    assert st["files_total"] >= 10, st
    assert st["files_read"] * 5 <= st["files_total"], st
    expect = {
        tuple(r)
        for r in t.read()
        .withColumn("day", F.date_trunc("day", F.col("ts")))
        .groupBy("day")
        .agg(F.sum("amount").alias("rev"), F.count("*").cast("long").alias("n"))
        .collect()
    }
    assert {tuple(r) for r in mv.read().collect()} == expect


@pytest.mark.slow
def test_join_view_fk_propagated_fact_pruning(spark, tmp_path):
    """When every group column lives on the DIM side, the fact scan
    prunes through its JOIN-KEY zones instead: touched-group dim rows
    name the join keys that can reach an affected row (inner join),
    and a key-clustered fact opens only their files."""
    import datetime as dt

    fact = KeyedTable(
        spark,
        str(tmp_path / "f"),
        TableSpec(
            "fact",
            record_key=("k",),
            precombine_key="seq",
            partition_source="d",
            partition_granularity="month",
        ),
        retain_versions=4,
        zonemap_columns=["k"],
    )
    # k ascends with the partition month -> tight per-file key zones
    rows = [
        (i, dt.datetime(2024, (i // 20) + 1, 5), 1.0 * i, 0) for i in range(240)
    ]
    fact.initial_load(
        spark.createDataFrame(rows, "k long, d timestamp, amount double, seq long")
    )
    dim = KeyedTable(
        spark,
        str(tmp_path / "dim"),
        TableSpec(
            "dim", record_key=("dk",), precombine_key="seq",
            partition_granularity=None,
        ),
        retain_versions=4,
    )
    dim.initial_load(
        spark.createDataFrame(
            [(i, f"c{i // 40}", 0) for i in range(240)],
            "dk long, cat string, seq long",
        )
    )
    mv = JoinMaterializedView(
        fact,
        dim,
        str(tmp_path / "mv"),
        on=("k", "dk"),
        group_cols=["cat"],
        aggs={"rev": "sum(amount)", "n": "count(*)"},
    )
    assert mv.refresh()["mode"] == "full"
    # group-moving dim update: one dk hops categories -> two touched
    # groups, whose dim keys cover two contiguous k ranges
    batch = spark.createDataFrame(
        [(45, "c0", 1)], "dk long, cat string, seq long"
    ).withColumn("Op", F.lit("U"))
    dim.upsert(batch)
    zonemap.reset_prune_stats()
    info = mv.refresh()
    assert info["mode"] == "incremental"
    st = dict(zonemap.LAST_PRUNE)
    assert st.get("files_skipped", 0) > 0, st
    f, d = fact.read(), dim.read()
    expect = {
        tuple(x)
        for x in f.join(d, f["k"] == d["dk"])
        .groupBy("cat")
        .agg(F.sum("amount").alias("rev"), F.count("*").cast("long").alias("n"))
        .collect()
    }
    assert {tuple(x) for x in mv.read().collect()} == expect


@pytest.mark.slow
def test_chain_view_fk_propagated_fact_pruning(spark, tmp_path):
    """Chain views group on far-dim columns (revenue by region name);
    the fact scan prunes through its fk zones: touched-group region
    rows restrict their dims, whose keys prune the fk-clustered
    fact's files."""
    import datetime as dt

    def spec(name, keys, **kw):
        return TableSpec(
            name, record_key=keys, precombine_key="seq",
            partition_granularity=kw.pop("gran", None), **kw,
        )

    facts = KeyedTable(
        spark,
        str(tmp_path / "f"),
        TableSpec(
            "facts", record_key=("f_id",), precombine_key="seq",
            partition_source="d", partition_granularity="month",
        ),
        retain_versions=8,
        zonemap_columns=["f_dim"],
    )
    # f_dim correlates with the partition month -> tight fk zones
    rows = [
        (i, i // 40, dt.datetime(2024, (i // 40) + 1, 5), 1.0 * i, 0)
        for i in range(240)
    ]
    facts.initial_load(
        spark.createDataFrame(
            rows, "f_id long, f_dim long, d timestamp, amount double, seq long"
        )
    )
    dims = KeyedTable(
        spark, str(tmp_path / "dm"), spec("dims", ("d_id",)), retain_versions=8
    )
    dims.initial_load(
        spark.createDataFrame(
            [(i, i % 2, 0) for i in range(6)], "d_id long, d_reg long, seq long"
        )
    )
    regions = KeyedTable(
        spark, str(tmp_path / "rg"), spec("regions", ("r_id",)), retain_versions=8
    )
    regions.initial_load(
        spark.createDataFrame(
            [(0, "west", 0), (1, "east", 0)], "r_id long, rname string, seq long"
        )
    )
    view = ChainMaterializedView(
        [facts, dims, regions],
        on=[("f_dim", "d_id"), ("d_reg", "r_id")],
        path=str(tmp_path / "v"),
        group_cols=["rname"],
        aggs={"total": "CAST(sum(amount) AS BIGINT)"},
    )
    assert view.refresh()["mode"] == "full"
    # far-dim rename: east -> EAST, touching two group labels whose
    # membership reaches only the odd-dim fact neighborhoods
    regions.upsert(
        spark.createDataFrame(
            [(1, "EAST", 1)], "r_id long, rname string, seq long"
        ).withColumn("Op", F.lit("U"))
    )
    zonemap.reset_prune_stats()
    info = view.refresh()
    assert info["mode"] == "incremental"
    st = dict(zonemap.LAST_PRUNE)
    assert st.get("files_skipped", 0) > 0, st
    f, d, r = facts.read(), dims.read(), regions.read()
    expect = {
        tuple(x)
        for x in f.join(d, f["f_dim"] == d["d_id"])
        .join(r, d["d_reg"] == r["r_id"])
        .groupBy("rname")
        .agg(F.sum("amount").cast("long").alias("total"))
        .collect()
    }
    assert {tuple(x) for x in view.read().collect()} == expect


@pytest.mark.slow
def test_bucketed_store_rewrites_only_touched_buckets(spark, tmp_path):
    """store_hash_buckets partitions the view store by its group key:
    a one-group refresh rewrites one bucket's files, not the store —
    at 100x the refresh WRITE cost follows the change set, not the
    view size. bucket_id stays maintenance plumbing (hidden from
    read()), and the view still equals direct recomputation."""
    import glob
    import os

    t = KeyedTable(
        spark,
        str(tmp_path / "t"),
        TableSpec(
            "t", record_key=("k",), precombine_key="seq",
            partition_granularity=None,
        ),
        retain_versions=4,
    )
    t.initial_load(
        spark.createDataFrame(
            [(i, i % 50, 1.0 * i, 0) for i in range(500)],
            "k long, g long, x double, seq long",
        )
    )
    mv = MaterializedView(
        t,
        str(tmp_path / "mv"),
        ["g"],
        {"rev": "sum(x)", "n": "count(*)"},
        store_hash_buckets=16,
    )
    assert mv.refresh()["mode"] == "full"
    store_glob = str(tmp_path / "mv" / "bucket_id=*" / "*.parquet")
    before = set(glob.glob(store_glob))
    assert len({os.path.dirname(f) for f in before}) > 4  # really bucketed

    batch = spark.createDataFrame(
        [(7, 7, 999.0, 1)], "k long, g long, x double, seq long"
    ).withColumn("Op", F.lit("U"))
    t.upsert(batch)
    info = mv.refresh()
    assert info["mode"] == "incremental" and info["groups_refreshed"] == 1
    after = set(glob.glob(store_glob))
    new_dirs = {os.path.basename(os.path.dirname(f)) for f in after - before}
    assert len(new_dirs) == 1, new_dirs  # exactly the touched group's bucket
    survivors = before & after
    assert len(survivors) >= len(before) - 2

    out = mv.read()
    assert "bucket_id" not in out.columns
    expect = {
        tuple(r)
        for r in t.read()
        .groupBy("g")
        .agg(F.sum("x").alias("rev"), F.count("*").cast("long").alias("n"))
        .collect()
    }
    assert {tuple(r) for r in out.collect()} == expect


@pytest.mark.slow
def test_bucketed_keyed_table_basic_contract(spark, tmp_path):
    """hash_buckets tables honor the generic KeyedTable contract:
    upserts rewrite only touched buckets, deletes apply, lookups and
    time travel work, and time+hash partitioning together is rejected."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exclusive"):
        KeyedTable(
            spark,
            str(tmp_path / "bad"),
            TableSpec(
                "bad", record_key=("k",), precombine_key="seq",
                partition_source="d", partition_granularity="day",
                hash_buckets=4,
            ),
        )
    t = KeyedTable(
        spark,
        str(tmp_path / "t"),
        TableSpec(
            "b", record_key=("k",), precombine_key="seq",
            partition_granularity="", hash_buckets=8,
        ),
        retain_versions=3,
    )
    t.initial_load(
        spark.createDataFrame(
            [(i, 1.0 * i, 0) for i in range(100)], "k long, x double, seq long"
        )
    )
    t.upsert(
        spark.createDataFrame([(5, 999.0, 1)], "k long, x double, seq long")
        .withColumn("Op", F.lit("U"))
    )
    t.upsert(
        spark.createDataFrame([(6, 0.0, 2)], "k long, x double, seq long")
        .withColumn("Op", F.lit("D")),
        delete_mode="apply",
    )
    live = {(r.k, r.x) for r in t.read().select("k", "x").collect()}
    assert (5, 999.0) in live and len(live) == 99
    assert t.read_as_of(0).count() == 100  # time travel across bucket swaps
    assert {r.k for r in t.lookup(5).collect()} == {5}


def test_bucketed_lookup_opens_one_bucket(spark, tmp_path):
    """On a hash-bucketed table the bucket layout IS the point-lookup
    index: lookup/lookup_many open only the owning buckets' files."""
    t = KeyedTable(
        spark,
        str(tmp_path / "t"),
        TableSpec(
            "b", record_key=("k",), precombine_key="seq",
            partition_granularity="", hash_buckets=8,
        ),
        retain_versions=3,
    )
    t.initial_load(
        spark.createDataFrame(
            [(i, 1.0 * i, 0) for i in range(400)], "k long, x double, seq long"
        )
    )
    zonemap.reset_prune_stats()
    got = t.lookup(7).collect()
    assert [(r.k, r.x) for r in got] == [(7, 7.0)]
    st = dict(zonemap.LAST_PRUNE)
    assert st["files_read"] * 2 <= st["files_total"], st

    zonemap.reset_prune_stats()
    many = {r.k for r in t.lookup_many([7, 13, 250]).collect()}
    assert many == {7, 13, 250}
    st = dict(zonemap.LAST_PRUNE)
    assert st["files_read"] < st["files_total"], st
    assert t.lookup(99999).count() == 0  # absent key, residual exact


@pytest.mark.slow
def test_delta_view_bucketed_store_prunes_merge_read(spark, tmp_path):
    """With a bucketed store, the delta merge reads only the touched
    groups' buckets (I/O ∝ change set on BOTH merge sides) and still
    converges to direct recomputation."""
    t = KeyedTable(
        spark,
        str(tmp_path / "t"),
        TableSpec(
            "t", record_key=("k",), precombine_key="seq",
            partition_granularity=None,
        ),
        retain_versions=4,
    )
    t.initial_load(
        spark.createDataFrame(
            [(i, i % 40, 1.0 * i, 0) for i in range(400)],
            "k long, g long, x double, seq long",
        )
    )
    mv = DeltaMaterializedView(
        t,
        str(tmp_path / "mv"),
        ["g"],
        {"s": "sum(x)", "n": "count(*)"},
        store_hash_buckets=16,
    )
    assert mv.refresh()["mode"] == "full"
    batch = spark.createDataFrame(
        [(3, 3, 333.0, 1)], "k long, g long, x double, seq long"
    ).withColumn("Op", F.lit("U"))
    t.upsert(batch)
    zonemap.reset_prune_stats()
    info = mv.refresh()
    assert info["mode"] == "delta" and info["groups_refreshed"] == 1
    st = dict(zonemap.LAST_PRUNE)
    assert st.get("files_skipped", 0) > 0, st
    expect = {
        tuple(r)
        for r in t.read()
        .groupBy("g")
        .agg(F.sum("x").alias("s"), F.count("*").cast("long").alias("n"))
        .collect()
    }
    assert {tuple(r) for r in mv.read().collect()} == expect
