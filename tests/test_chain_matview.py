"""N-table chain join IVM (operators/matview.py:ChainMaterializedView):
a 3-table orders->dims->regions chain grouped on the FAR table's
column must converge to direct recomputation across commits on every
table — fact churn, mid-chain foreign-key moves, far-dim group moves
and deletes — with vanished groups tombstoned."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.operators.matview import (
    ChainMaterializedView,
    attach_chain_matview_maintenance,
)
from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.schema import TableSpec


def _spec(name, key):
    return TableSpec(
        name, record_key=(key,), precombine_key="seq",
        partition_granularity=None,
    )


def _mk(spark, tmp_path):
    facts = KeyedTable(spark, str(tmp_path / "f"), _spec("facts", "f_id"),
                       retain_versions=8)
    dims = KeyedTable(spark, str(tmp_path / "d"), _spec("dims", "d_id"),
                      retain_versions=8)
    regions = KeyedTable(spark, str(tmp_path / "r"), _spec("regions", "r_id"),
                         retain_versions=8)
    facts.initial_load(spark.createDataFrame(
        [(i, i % 6, 10 * i, 0) for i in range(60)],
        "f_id long, f_dim long, amount long, seq long"))
    dims.initial_load(spark.createDataFrame(
        [(i, f"g{i % 3}", i % 2, 0) for i in range(6)],
        "d_id long, grp string, d_reg long, seq long"))
    regions.initial_load(spark.createDataFrame(
        [(0, "west", 0), (1, "east", 0)],
        "r_id long, rname string, seq long"))
    view = ChainMaterializedView(
        [facts, dims, regions],
        on=[("f_dim", "d_id"), ("d_reg", "r_id")],
        path=str(tmp_path / "v"),
        group_cols=["rname"],
        aggs={"n": "CAST(count(*) AS BIGINT)",
              "total": "CAST(sum(amount) AS BIGINT)"},
    )
    return facts, dims, regions, view


def _direct(facts, dims, regions):
    f, d, r = facts.read(), dims.read(), regions.read()
    return {
        tuple(row)
        for row in f.join(d, f["f_dim"] == d["d_id"])
        .join(r, d["d_reg"] == r["r_id"])
        .groupBy("rname")
        .agg(F.count("*").cast("long").alias("n"),
             F.sum("amount").cast("long").alias("total"))
        .select("rname", "n", "total")
        .collect()
    }


def _got(view):
    return {
        tuple(r) for r in view.read().select("rname", "n", "total").collect()
    }


def _fb(spark, rows, op="U"):
    return spark.createDataFrame(
        rows, "f_id long, f_dim long, amount long, seq long"
    ).withColumn("Op", F.lit(op))


def _db(spark, rows, op="U"):
    return spark.createDataFrame(
        rows, "d_id long, grp string, d_reg long, seq long"
    ).withColumn("Op", F.lit(op))


def _rb(spark, rows, op="U"):
    return spark.createDataFrame(
        rows, "r_id long, rname string, seq long"
    ).withColumn("Op", F.lit(op))


@pytest.mark.slow
def test_chain_converges_across_all_three_feeds(spark, tmp_path):
    facts, dims, regions, view = _mk(spark, tmp_path)
    assert view.refresh()["mode"] == "full"
    assert _got(view) == _direct(facts, dims, regions)

    # fact churn: insert + delete
    facts.upsert(
        _fb(spark, [(100, 1, 7, 1)]).unionByName(_fb(spark, [(2, 2, 20, 1)], op="D")),
        delete_mode="apply",
    )
    out = view.refresh()
    assert out["mode"] == "incremental" and out["groups_refreshed"] >= 1
    assert _got(view) == _direct(facts, dims, regions)

    # MID-CHAIN move: dim 3 relocates west -> east; every fact of dim 3
    # changes region though neither the fact nor the region feed says so
    dims.upsert(_db(spark, [(3, "g0", 0, 1)]))  # d_reg 1 -> 0
    assert view.refresh()["mode"] == "incremental"
    assert _got(view) == _direct(facts, dims, regions)

    # FAR-DIM group move: region 0 renamed — every west fact relabels
    regions.upsert(_rb(spark, [(0, "northwest", 1)]))
    assert view.refresh()["mode"] == "incremental"
    got = _got(view)
    assert got == _direct(facts, dims, regions)
    assert any(r[0] == "northwest" for r in got)
    assert view.refresh()["mode"] == "noop"


@pytest.mark.slow
def test_chain_far_dim_delete_tombstones_group(spark, tmp_path):
    facts, dims, regions, view = _mk(spark, tmp_path)
    view.refresh()
    regions.upsert(_rb(spark, [(1, "east", 1)], op="D"), delete_mode="apply")
    out = view.refresh()
    assert out["mode"] == "incremental"
    assert _got(view) == _direct(facts, dims, regions)
    assert "east" not in {r[0] for r in _got(view)}


@pytest.mark.slow
def test_chain_hooks_follow_every_table(spark, tmp_path):
    facts, dims, regions, view = _mk(spark, tmp_path)
    attach_chain_matview_maintenance(view)
    facts.upsert(_fb(spark, [(200, 0, 5, 1)]))
    assert _got(view) == _direct(facts, dims, regions)
    dims.upsert(_db(spark, [(0, "g9", 1, 1)]))
    assert _got(view) == _direct(facts, dims, regions)
    regions.upsert(_rb(spark, [(1, "far-east", 1)]))
    assert _got(view) == _direct(facts, dims, regions)


def test_chain_reset_and_validation(spark, tmp_path):
    facts, dims, regions, view = _mk(spark, tmp_path)
    view.refresh()
    before = _got(view)
    facts.initial_load(spark.createDataFrame(
        [(i, i % 6, 1000 + i, 0) for i in range(30)],
        "f_id long, f_dim long, amount long, seq long"))
    out = view.refresh()
    assert out["mode"] == "full"
    after = _got(view)
    assert after == _direct(facts, dims, regions) and after != before

    with pytest.raises(ValueError, match="ON pairs"):
        ChainMaterializedView(
            [facts, dims], on=[], path=str(tmp_path / "x"),
            group_cols=["grp"], aggs={"n": "count(*)"},
        )


@pytest.mark.slow
def test_star_schema_attachment_converges(spark, tmp_path):
    """STAR shape: both fks live on the fact (the second join's left
    column belongs to table 0, not table 1) — attachment-owner
    propagation must route far-dim changes through the fact directly."""
    facts = KeyedTable(spark, str(tmp_path / "sf"), _spec("sfacts", "f_id"),
                       retain_versions=8)
    dims = KeyedTable(spark, str(tmp_path / "sd"), _spec("sdims", "d_id"),
                      retain_versions=8)
    regions = KeyedTable(spark, str(tmp_path / "sr"), _spec("sregions", "r_id"),
                         retain_versions=8)
    facts.initial_load(spark.createDataFrame(
        [(i, i % 6, i % 2, 10 * i, 0) for i in range(60)],
        "f_id long, f_dim long, f_reg long, amount long, seq long"))
    dims.initial_load(spark.createDataFrame(
        [(i, f"g{i % 3}", 0) for i in range(6)],
        "d_id long, grp string, seq long"))
    regions.initial_load(spark.createDataFrame(
        [(0, "west", 0), (1, "east", 0)],
        "r_id long, rname string, seq long"))
    view = ChainMaterializedView(
        [facts, dims, regions],
        on=[("f_dim", "d_id"), ("f_reg", "r_id")],  # BOTH left cols on T0
        path=str(tmp_path / "sv"),
        group_cols=["grp", "rname"],
        aggs={"total": "CAST(sum(amount) AS BIGINT)"},
    )
    assert view._owner == [0, 0]

    def direct():
        f, d, r = facts.read(), dims.read(), regions.read()
        return {
            tuple(x)
            for x in f.join(d, f["f_dim"] == d["d_id"])
            .join(r, f["f_reg"] == r["r_id"])
            .groupBy("grp", "rname")
            .agg(F.sum("amount").cast("long").alias("total"))
            .select("grp", "rname", "total")
            .collect()
        }

    def got():
        return {
            tuple(r)
            for r in view.read().select("grp", "rname", "total").collect()
        }

    assert view.refresh()["mode"] == "full"
    assert got() == direct()
    # far-dim rename reaches the fact via the owner-0 attachment
    regions.upsert(_rb(spark, [(1, "far-east", 1)]))
    assert view.refresh()["mode"] == "incremental"
    assert got() == direct()
    # dim group move + fact churn in one window
    dims.upsert(_db(spark, [(2, "g7", 0, 1)])[["d_id", "grp", "seq", "Op"]])
    facts.upsert(spark.createDataFrame(
        [(500, 2, 1, 33, 1)],
        "f_id long, f_dim long, f_reg long, amount long, seq long",
    ).withColumn("Op", F.lit("U")))
    assert view.refresh()["mode"] == "incremental"
    assert got() == direct()

    with pytest.raises(ValueError, match="exactly one earlier table"):
        ChainMaterializedView(
            [facts, dims, regions],
            on=[("f_dim", "d_id"), ("nope", "r_id")],
            path=str(tmp_path / "bad"),
            group_cols=["grp"], aggs={"n": "count(*)"},
        )


@pytest.mark.slow
def test_sql_facade_chain_spelling(spark, tmp_path):
    """CREATE MATERIALIZED VIEW over ≥2 JOINs routes to the chain
    class, follows commits on every table under WITH AUTO REFRESH,
    and rejects DELTA + multi-JOIN."""
    from rds_to_datalake_project_spark.sql import MATVIEWS, run_query

    facts, dims, regions, _ = _mk(spark, tmp_path)
    reg = {"facts_t": facts, "dims_t": dims, "regions_t": regions}
    try:
        out = run_query(
            spark,
            "CREATE MATERIALIZED VIEW region_rev WITH AUTO REFRESH AS "
            "SELECT rname, CAST(count(*) AS BIGINT) AS n, "
            "CAST(sum(amount) AS BIGINT) AS total "
            "FROM facts_t JOIN dims_t ON f_dim = d_id "
            "JOIN regions_t ON d_reg = r_id GROUP BY rname",
            tables=reg,
        ).collect()[0]
        assert out["mode"] == "full" and out["auto_refresh"]

        def want():
            f, d, r = facts.read(), dims.read(), regions.read()
            return {
                tuple(x)
                for x in f.join(d, f["f_dim"] == d["d_id"])
                .join(r, d["d_reg"] == r["r_id"])
                .groupBy("rname")
                .agg(F.count("*").cast("long").alias("n"),
                     F.sum("amount").cast("long").alias("total"))
                .select("rname", "n", "total")
                .collect()
            }

        # commits on all three tables; hooks + re-publish keep SELECT fresh
        facts.upsert(_fb(spark, [(700, 1, 9, 1)]))
        dims.upsert(_db(spark, [(1, "gz", 0, 1)]))
        regions.upsert(_rb(spark, [(0, "coast", 1)]))
        got = {
            tuple(r)
            for r in run_query(
                spark, "SELECT * FROM region_rev", tables=reg
            ).collect()
        }
        assert got == want()
        run_query(spark, "DROP MATERIALIZED VIEW region_rev", tables=reg)
    finally:
        MATVIEWS.pop("region_rev", None)

    # chain + DELTA is now a real class (DeltaChainMaterializedView)
    # but still demands invertible aggregates — median() has no delta
    # form anywhere and must fail the CREATE cleanly
    with pytest.raises(ValueError, match="invertible"):
        run_query(
            spark,
            "CREATE MATERIALIZED VIEW bad WITH DELTA REFRESH AS "
            "SELECT rname, median(amount) AS m FROM facts_t "
            "JOIN dims_t ON f_dim = d_id JOIN regions_t ON d_reg = r_id "
            "GROUP BY rname",
            tables=reg,
        )


@pytest.mark.slow
def test_streaming_replica_keeps_attached_matview_fresh(spark, tmp_path):
    """Integration: a continuously-replicated follower
    (operators/replicate.stream_replicate) carrying an auto-refreshed
    materialized view — every micro-batch upsert fires the replica's
    maintenance hook, so the downstream rollup tracks the SOURCE's
    commits with no extra orchestration. This is the reference's whole
    topology (RDS → lake → Athena rollup) as one live pipeline."""
    from rds_to_datalake_project_spark.operators.matview import (
        MaterializedView,
        attach_chain_matview_maintenance,
    )
    from rds_to_datalake_project_spark.operators.replicate import (
        bootstrap_replica,
        stream_replicate,
    )

    feed = str(tmp_path / "feed")
    src = KeyedTable(
        spark, str(tmp_path / "src"), _spec("src", "f_id"),
        retain_versions=8, changes_feed_dir=feed,
    )
    src.initial_load(spark.createDataFrame(
        [(i, i % 4, 10 * i, 0) for i in range(40)],
        "f_id long, grp long, amount long, seq long"))

    replica = KeyedTable(
        spark, str(tmp_path / "rep"), _spec("rep", "f_id"), retain_versions=8
    )
    bootstrap_replica(src, replica, as_of=0)
    view = MaterializedView(
        replica, str(tmp_path / "v"), ["grp"],
        {"n": "CAST(count(*) AS BIGINT)",
         "total": "CAST(sum(amount) AS BIGINT)"},
    )
    view.refresh()  # bootstrap happened before the hook existed
    attach_chain_matview_maintenance(view)
    ckpt = str(tmp_path / "ckpt")
    stream_replicate(replica, feed, ckpt)

    def want():
        return {
            tuple(r)
            for r in src.read().groupBy("grp")
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum("amount").cast("long").alias("total"))
            .select("grp", "n", "total").collect()
        }

    def got():
        return {
            tuple(r)
            for r in view.read().select("grp", "n", "total").collect()
        }

    assert got() == want()
    # live source commits: update + delete; one streaming tick follows
    src.upsert(spark.createDataFrame(
        [(1, 3, 999, 1)], "f_id long, grp long, amount long, seq long"
    ).withColumn("Op", F.lit("U")))
    src.upsert(spark.createDataFrame(
        [(2, 2, 20, 1)], "f_id long, grp long, amount long, seq long"
    ).withColumn("Op", F.lit("D")), delete_mode="apply")
    stream_replicate(replica, feed, ckpt)
    assert got() == want()
