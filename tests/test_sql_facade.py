"""SQL facade sinks and result reuse: UNLOAD roundtrips for every
format (S11 CSV, S13 parquet export, JSON) and the Athena
result-reuse TTL analog (vendor/aws_athena.py:27-116)."""

from __future__ import annotations

import pytest

from rds_to_datalake_project_spark.sql import ResultCache, unload_query

SQL = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_totalprice) AS DOUBLE) AS total
FROM orders GROUP BY o_orderpriority
"""


@pytest.fixture(scope="module", autouse=True)
def _registered(tables):
    return tables


def _expected(spark):
    return {
        (r.o_orderpriority, r.n, round(r.total, 2))
        for r in spark.sql(SQL).collect()
    }


def test_unload_parquet_roundtrip(spark, tmp_path):
    out = str(tmp_path / "out_parquet")
    unload_query(spark, SQL, out, fmt="parquet")
    back = spark.read.parquet(out)
    assert {
        (r.o_orderpriority, r.n, round(r.total, 2)) for r in back.collect()
    } == _expected(spark)
    assert [f.name for f in back.schema.fields] == ["o_orderpriority", "n", "total"]


def test_unload_csv_roundtrip(spark, tmp_path):
    out = str(tmp_path / "out_csv")
    unload_query(spark, SQL, out, fmt="csv")
    # header on, values re-parsed from text
    back = spark.read.option("header", True).csv(out)
    got = {
        (r.o_orderpriority, int(r.n), round(float(r.total), 2))
        for r in back.collect()
    }
    assert got == _expected(spark)


def test_unload_json_roundtrip(spark, tmp_path):
    out = str(tmp_path / "out_json")
    unload_query(spark, SQL, out, fmt="json")
    back = spark.read.json(out)
    got = {
        (r.o_orderpriority, int(r.n), round(float(r.total), 2))
        for r in back.collect()
    }
    assert got == _expected(spark)


def test_unload_rejects_unknown_format(spark, tmp_path):
    with pytest.raises(ValueError, match="unsupported unload format"):
        unload_query(spark, SQL, str(tmp_path / "x"), fmt="orc2")


def test_result_cache_ttl(spark):
    cache = ResultCache(max_age_s=60)
    try:
        df1, reused1 = cache.get_or_run(spark, SQL, now=0.0)
        assert not reused1
        df2, reused2 = cache.get_or_run(spark, SQL, now=30.0)
        assert reused2 and df2 is df1
        # stale: past the TTL the entry is dropped and re-run
        df3, reused3 = cache.get_or_run(spark, SQL, now=120.0)
        assert not reused3 and df3 is not df1
        # different query text is a different cache key
        _, reused4 = cache.get_or_run(spark, SQL + " ORDER BY n", now=121.0)
        assert not reused4
    finally:
        cache.clear()


@pytest.mark.slow
def test_sql_facade_maintenance_statements(spark, tmp_path):
    """OPTIMIZE / VACUUM flow through run_query against registered
    KeyedTables — the whole lifecycle reachable from one SQL layer."""
    from rds_to_datalake_project_spark.operators.enrich import add_time_partitions
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec
    from rds_to_datalake_project_spark.sql import run_query

    spec = TableSpec("m", record_key=("id",), precombine_key="v",
                     partition_source="create_at", partition_granularity="day")
    t = KeyedTable(spark, str(tmp_path / "m"), spec, retain_versions=5)

    def mk(ids):
        return spark.createDataFrame(
            [(f"k{i}", "2024-01-01T00:00:00", f"2024-01-01T00:00:{i % 60:02d}", 0)
             for i in ids],
            ["id", "create_at", "update_at", "v"],
        )

    t.initial_load(mk(range(20)))
    t.upsert(mk(range(20, 25)))
    t.upsert(mk(range(25, 30)))
    # fragment day 01 with direct appends
    for i in range(4):
        extra = add_time_partitions(mk([300 + i]), "create_at", "day")
        extra.coalesce(1).write.partitionBy(*t.partition_cols).mode(
            "append"
        ).parquet(t.path)

    before = sorted(map(tuple, t.read().collect()))
    out = run_query(spark, "OPTIMIZE m", tables={"m": t}).collect()[0]
    assert (out.table_name, out.partitions_rewritten) == ("m", 1)
    assert sorted(map(tuple, t.read().collect())) == before

    out = run_query(spark, "VACUUM m RETAIN 1 VERSIONS", tables={"m": t}).collect()[0]
    assert out.table_name == "m" and out.versions_expired >= 1
    assert len(t.readable_versions()) <= 2

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown table"):
        run_query(spark, "OPTIMIZE nope", tables={"m": t})


def test_sql_facade_qualified_and_quoted_identifiers(spark, tmp_path):
    """Users coming from the reference's Athena layer type qualified
    names on day one (r5 verdict): db.table and backtick-quoted names
    must resolve in AS-OF and maintenance statements, and an AS-OF
    inside a STRING LITERAL is data, never syntax."""
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec
    from rds_to_datalake_project_spark.sql import run_query

    spec = TableSpec("q", record_key=("id",), precombine_key="v",
                     partition_granularity=None)
    t = KeyedTable(spark, str(tmp_path / "q"), spec, retain_versions=5)

    def mk(ids, val):
        return spark.createDataFrame(
            [(f"k{i}", "2024-01-01T00:00:00", f"2024-01-02T00:00:0{val}", val)
             for i in ids],
            ["id", "create_at", "update_at", "v"],
        )

    t.initial_load(mk(range(3), 0))
    t.upsert(mk(range(3, 5), 1))  # v1: 5 rows

    reg = {"lake.orders_q": t}
    # qualified name, plain
    got = run_query(
        spark, "SELECT COUNT(*) AS n FROM lake.orders_q FOR VERSION AS OF 1",
        tables=reg,
    ).collect()[0]["n"]
    assert got == 5
    # backtick-quoted segments resolve to the same registry entry
    got = run_query(
        spark,
        "SELECT COUNT(*) AS n FROM `lake`.`orders_q` FOR VERSION AS OF 0",
        tables=reg,
    ).collect()[0]["n"]
    assert got == 3
    # maintenance verbs accept qualified names
    out = run_query(spark, "OPTIMIZE lake.orders_q", tables=reg).collect()[0]
    assert out.partitions_rewritten >= 0
    hist = run_query(spark, "DESCRIBE HISTORY `lake`.`orders_q`", tables=reg)
    assert [r.version for r in hist.collect()] == [1]
    # an AS-OF inside a string literal passes through untouched
    lit = run_query(
        spark,
        "SELECT 'x FOR VERSION AS OF 99' AS note, COUNT(*) AS n "
        "FROM lake.orders_q FOR VERSION AS OF 1",
        tables=reg,
    ).collect()[0]
    assert lit["note"] == "x FOR VERSION AS OF 99" and lit["n"] == 5
    # ...including literals with '' escapes
    lit2 = run_query(
        spark,
        "SELECT 'it''s FOR VERSION AS OF 7' AS note", tables=reg
    ).collect()[0]["note"]
    assert lit2 == "it's FOR VERSION AS OF 7"
    # ...and with backslash-escaped quotes (Spark's default
    # escapedStringLiterals=false mode): the \' must not terminate
    # the literal scan and desynchronize the mask
    lit3 = run_query(
        spark,
        "SELECT 'it\\'s orders FOR VERSION AS OF 3' AS note, "
        "COUNT(*) AS n FROM lake.orders_q FOR VERSION AS OF 1",
        tables=reg,
    ).collect()[0]
    assert lit3["note"] == "it's orders FOR VERSION AS OF 3"
    assert lit3["n"] == 5


def test_sql_facade_asof_view_names_do_not_collide(spark, tmp_path):
    """Distinct registry keys that sanitize to the same identifier
    ('lake.orders' vs 'lake_orders') must get distinct AS-OF temp
    views — one query referencing both at the same version must read
    each table's own snapshot."""
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec
    from rds_to_datalake_project_spark.sql import run_query

    def mk_table(path, n_rows):
        spec = TableSpec("c", record_key=("id",), precombine_key="v",
                         partition_granularity=None)
        t = KeyedTable(spark, path, spec, retain_versions=3)
        t.initial_load(spark.createDataFrame(
            [(f"k{i}", "2024-01-01T00:00:00", "2024-01-01T00:00:00", 0)
             for i in range(n_rows)],
            ["id", "create_at", "update_at", "v"],
        ))
        return t

    reg = {
        "lake.orders_c": mk_table(str(tmp_path / "dotted"), 2),
        "lake_orders_c": mk_table(str(tmp_path / "flat"), 5),
    }
    row = run_query(
        spark,
        "SELECT (SELECT COUNT(*) FROM lake.orders_c FOR VERSION AS OF 0) AS a,"
        " (SELECT COUNT(*) FROM lake_orders_c FOR VERSION AS OF 0) AS b",
        tables=reg,
    ).collect()[0]
    assert (row["a"], row["b"]) == (2, 5)


def test_unload_orc_roundtrip(spark, tmp_path):
    out = str(tmp_path / "out_orc")
    unload_query(spark, SQL, out, fmt="orc")
    back = spark.read.orc(out)
    assert {
        (r.o_orderpriority, r.n, round(r.total, 2)) for r in back.collect()
    } == _expected(spark)


def test_sql_facade_analyze_statement(spark, tmp_path):
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec
    from rds_to_datalake_project_spark.sql import run_query

    spec = TableSpec("a", record_key=("id",), precombine_key="v",
                     partition_granularity=None)
    t = KeyedTable(spark, str(tmp_path / "a"), spec)
    t.initial_load(spark.createDataFrame(
        [("k1", "2024-01-01T00:00:00", "2024-01-01T00:00:00", 5),
         ("k2", "2024-01-01T00:00:00", "2024-01-01T00:00:00", 7)],
        ["id", "create_at", "update_at", "v"],
    ))
    prof = run_query(spark, "ANALYZE a", tables={"a": t})
    rows = {r["column"]: r for r in prof.collect()}
    assert rows["v"]["n_rows"] == 2


def test_sql_facade_zorder_and_history_statements(spark, tmp_path):
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec
    from rds_to_datalake_project_spark.sql import run_query

    spec = TableSpec("z", record_key=("id",), precombine_key="update_at",
                     partition_granularity=None)
    t = KeyedTable(spark, str(tmp_path / "z"), spec, retain_versions=5)
    t.initial_load(spark.createDataFrame(
        [(f"k{i}", "2024-01-01T00:00:00", "2024-01-01T00:00:00",
          (i * 37) % 100, (i * 91) % 100) for i in range(500)],
        ["id", "create_at", "update_at", "a", "b"],
    ))
    t.upsert(spark.createDataFrame(
        [("k0", "2024-01-01T00:00:00", "2024-02-01T00:00:00", 1, 1)],
        ["id", "create_at", "update_at", "a", "b"],
    ))  # commit 1

    out = run_query(spark, "OPTIMIZE z ZORDER BY (a, b)", tables={"z": t}).collect()[0]
    assert out.table_name == "z" and out.target_files >= 1
    assert t.read().count() == 500  # lossless
    hist = run_query(spark, "DESCRIBE HISTORY z", tables={"z": t}).collect()
    assert [h.version for h in hist] == [1, 2]  # zorder rewrite = commit 2
    assert all(h.readable for h in hist)


def test_sql_facade_unload_statement(spark, tmp_path):
    """The reference's Athena UNLOAD shape parses as a statement and
    exports through unload_query."""
    from rds_to_datalake_project_spark.sql import run_query

    out = str(tmp_path / "unloaded")
    res = run_query(
        spark, f"UNLOAD ({SQL}) TO '{out}' WITH (format='parquet')"
    ).collect()[0]
    assert (res.path, res.format) == (out, "parquet")
    back = spark.read.parquet(out)
    assert {
        (r.o_orderpriority, r.n, round(r.total, 2)) for r in back.collect()
    } == _expected(spark)


def test_sql_facade_delete_and_update_dml(spark, tmp_path):
    """Row-level DML through the facade: DELETE tombstones through the
    merge, UPDATE is read-modify-merge, both are numbered commits on a
    retained table (time travel still sees the pre-DML state), and
    key/partition assignments are refused."""
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec
    from rds_to_datalake_project_spark.sql import run_query

    spec = TableSpec("dml", record_key=("id",), precombine_key="v",
                     partition_granularity=None)
    t = KeyedTable(spark, str(tmp_path / "dml"), spec, retain_versions=5)
    t.initial_load(spark.createDataFrame(
        [(f"k{i}", "2024-01-01T00:00:00", "2024-01-01T00:00:00", i)
         for i in range(10)],
        ["id", "create_at", "update_at", "v"],
    ))
    reg = {"dml": t}

    out = run_query(
        spark, "DELETE FROM dml WHERE v % 3 = 0", tables=reg
    ).collect()[0]
    assert out.rows_deleted == 4  # v in {0,3,6,9}
    assert {r.v for r in t.read().collect()} == {1, 2, 4, 5, 7, 8}

    out = run_query(
        spark,
        "UPDATE dml SET v = v + 100, update_at = '2024-02-01T00:00:00' "
        "WHERE v >= 5",
        tables=reg,
    ).collect()[0]
    assert out.rows_updated == 3  # 5, 7, 8
    got = {r.id: (r.v, r.update_at) for r in t.read().collect()}
    assert got["k5"] == (105, "2024-02-01T00:00:00")
    assert got["k1"] == (1, "2024-01-01T00:00:00")

    # DML steps are commits: version 0 still reads the pre-DML state
    assert {r.v for r in t.read_as_of(0).collect()} == set(range(10))
    assert t.readable_versions() == [0, 1, 2]

    # immutable columns refuse assignment
    with pytest.raises(ValueError, match="immutable"):
        run_query(spark, "UPDATE dml SET id = 'x' WHERE v = 1", tables=reg)
    # empty registry: native catalogs keep ownership of DML syntax
    import pyspark.sql.utils as _u
    try:
        run_query(spark, "DELETE FROM nonexistent_native WHERE x = 1")
        raise AssertionError("expected Spark to reject the passthrough")
    except Exception as e:
        assert "nonexistent_native" in str(e) or "TABLE_OR_VIEW_NOT_FOUND" in str(e)


def test_sql_facade_update_set_clause_parsing(spark, tmp_path):
    """SET-clause splitting respects parens and quoted commas."""
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec
    from rds_to_datalake_project_spark.sql import run_query

    spec = TableSpec("s", record_key=("id",), precombine_key="v",
                     partition_granularity=None)
    t = KeyedTable(spark, str(tmp_path / "s"), spec)
    t.initial_load(spark.createDataFrame(
        [("a", "2024-01-01T00:00:00", "2024-01-01T00:00:00", 1, "x")],
        ["id", "create_at", "update_at", "v", "note"],
    ))
    out = run_query(
        spark,
        "UPDATE s SET v = greatest(v, 2, 3), note = 'a,b''c' WHERE v = 1",
        tables={"s": t},
    ).collect()[0]
    assert out.rows_updated == 1
    r = t.read().collect()[0]
    assert r.v == 3 and r.note == "a,b'c"


def test_sql_facade_insert_into(spark, tmp_path):
    """INSERT INTO upserts the query result: new keys append, existing
    keys take the incoming version (merge semantics), and unregistered
    targets pass through to the native catalog."""
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec
    from rds_to_datalake_project_spark.sql import run_query

    spec = TableSpec("ins", record_key=("id",), precombine_key="v",
                     partition_granularity=None)
    t = KeyedTable(spark, str(tmp_path / "ins"), spec)
    t.initial_load(spark.createDataFrame(
        [("a", "2024-01-01T00:00:00", "2024-01-01T00:00:00", 1)],
        ["id", "create_at", "update_at", "v"],
    ))
    spark.createDataFrame(
        [("a", "2024-01-01T00:00:00", "2024-01-02T00:00:00", 10),
         ("b", "2024-01-02T00:00:00", "2024-01-02T00:00:00", 2)],
        ["id", "create_at", "update_at", "v"],
    ).createOrReplaceTempView("staged_rows")
    out = run_query(
        spark, "INSERT INTO ins SELECT * FROM staged_rows", tables={"ins": t}
    ).collect()[0]
    assert (out.table_name, out.rows_inserted) == ("ins", 2)
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {"a": 10, "b": 2}  # a replaced (newer v), b appended


@pytest.mark.slow
def test_sql_facade_merge_into(spark, tmp_path):
    """Restricted MERGE INTO — the Hudi/Delta CDC-apply star forms:
    matched rows update whole-row, unmatched insert, a matched-AND
    condition deletes; matched-only / not-matched-only restrict the
    batch; non-key ON clauses raise."""
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec
    from rds_to_datalake_project_spark.sql import run_query

    spec = TableSpec("mg", record_key=("id",), precombine_key="v",
                     partition_granularity=None)
    t = KeyedTable(spark, str(tmp_path / "mg"), spec)
    t.initial_load(spark.createDataFrame(
        [("a", "2024-01-01T00:00:00", "2024-01-01T00:00:00", 1, "keep"),
         ("b", "2024-01-01T00:00:00", "2024-01-01T00:00:00", 1, "kill")],
        ["id", "create_at", "update_at", "v", "tag"],
    ))
    spark.createDataFrame(
        [("a", "2024-01-01T00:00:00", "2024-01-02T00:00:00", 2, "keep"),
         ("b", "2024-01-01T00:00:00", "2024-01-02T00:00:00", 2, "kill"),
         ("c", "2024-01-03T00:00:00", "2024-01-03T00:00:00", 2, "keep")],
        ["id", "create_at", "update_at", "v", "tag"],
    ).createOrReplaceTempView("cdc_src")

    out = run_query(
        spark,
        "MERGE INTO mg USING cdc_src AS s ON mg.id = s.id "
        "WHEN MATCHED AND tag = 'kill' THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
        tables={"mg": t},
    ).collect()[0]
    assert (out.table_name, out.rows_merged) == ("mg", 3)
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {"a": 2, "c": 2}  # b deleted, a updated, c inserted

    # matched-only: new keys in the source are ignored
    spark.createDataFrame(
        [("a", "2024-01-01T00:00:00", "2024-01-04T00:00:00", 3, "keep"),
         ("z", "2024-01-04T00:00:00", "2024-01-04T00:00:00", 3, "keep")],
        ["id", "create_at", "update_at", "v", "tag"],
    ).createOrReplaceTempView("upd_src")
    out = run_query(
        spark,
        "MERGE INTO mg USING upd_src ON mg.id = upd_src.id "
        "WHEN MATCHED THEN UPDATE SET *",
        tables={"mg": t},
    ).collect()[0]
    assert out.rows_merged == 1
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {"a": 3, "c": 2} and "z" not in got

    # not-matched-only: existing keys are ignored
    out = run_query(
        spark,
        "MERGE INTO mg USING upd_src ON mg.id = upd_src.id "
        "WHEN NOT MATCHED THEN INSERT *",
        tables={"mg": t},
    ).collect()[0]
    assert out.rows_merged == 1
    assert {r.id for r in t.read().collect()} == {"a", "c", "z"}

    # subquery source works and flows through run_query
    out = run_query(
        spark,
        "MERGE INTO mg USING (SELECT * FROM upd_src WHERE v = 3) ON "
        "mg.id = upd_src.id WHEN MATCHED THEN UPDATE SET *",
        tables={"mg": t},
    ).collect()[0]
    assert out.rows_merged == 2  # a and z now both exist

    # a non-key ON clause must raise, not silently change semantics
    with pytest.raises(ValueError, match="record-key"):
        run_query(
            spark,
            "MERGE INTO mg USING upd_src ON mg.v = upd_src.v "
            "WHEN MATCHED THEN UPDATE SET *",
            tables={"mg": t},
        )


def _mk_merge_table(spark, path):
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec

    spec = TableSpec("mc", record_key=("id",), precombine_key="v",
                     partition_granularity=None)
    t = KeyedTable(spark, path, spec)
    t.initial_load(spark.createDataFrame(
        [("a", "2024-01-01T00:00:00", "2024-01-01T00:00:00", 1, "keep"),
         ("b", "2024-01-01T00:00:00", "2024-01-01T00:00:00", 1, "kill"),
         ("d", "2024-01-01T00:00:00", "2024-01-01T00:00:00", 1, "keep")],
        ["id", "create_at", "update_at", "v", "tag"],
    ))
    return t


@pytest.mark.slow
def test_sql_facade_merge_clause_combinations(spark, tmp_path):
    """Standard MERGE semantics for every WHEN-clause subset: the
    source is partitioned by matched/not-matched, matched rows see the
    DELETE condition (failing rows fall through to UPDATE SET * when
    present, else stay untouched), and unmatched rows are governed by
    INSERT * alone — the delete condition never tombstones them."""
    from rds_to_datalake_project_spark.sql import run_query

    # src: a matched (tag keep), b matched (tag kill),
    #      c unmatched (tag kill), e unmatched (tag keep)
    spark.createDataFrame(
        [("a", "2024-01-01T00:00:00", "2024-01-02T00:00:00", 2, "keep"),
         ("b", "2024-01-01T00:00:00", "2024-01-02T00:00:00", 2, "kill"),
         ("c", "2024-01-03T00:00:00", "2024-01-03T00:00:00", 2, "kill"),
         ("e", "2024-01-03T00:00:00", "2024-01-03T00:00:00", 2, "keep")],
        ["id", "create_at", "update_at", "v", "tag"],
    ).createOrReplaceTempView("mc_src")

    # DELETE-only: ONLY matched rows meeting the condition are touched
    t = _mk_merge_table(spark, str(tmp_path / "mc1"))
    out = run_query(
        spark,
        "MERGE INTO mc USING mc_src AS s ON mc.id = s.id "
        "WHEN MATCHED AND tag = 'kill' THEN DELETE",
        tables={"mc": t},
    ).collect()[0]
    assert out.rows_merged == 1  # just b
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {"a": 1, "d": 1}  # b deleted; a NOT updated; c/e NOT inserted

    # DELETE + INSERT *: delete applies to matched rows, unmatched
    # rows are INSERTED regardless of the delete condition
    t = _mk_merge_table(spark, str(tmp_path / "mc2"))
    out = run_query(
        spark,
        "MERGE INTO mc USING mc_src AS s ON mc.id = s.id "
        "WHEN MATCHED AND tag = 'kill' THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT *",
        tables={"mc": t},
    ).collect()[0]
    assert out.rows_merged == 3  # b (D), c + e (inserted)
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {"a": 1, "c": 2, "d": 1, "e": 2}

    # DELETE + UPDATE * (no INSERT): matched rows failing the delete
    # condition update; unmatched rows are ignored
    t = _mk_merge_table(spark, str(tmp_path / "mc3"))
    out = run_query(
        spark,
        "MERGE INTO mc USING mc_src AS s ON mc.id = s.id "
        "WHEN MATCHED AND tag = 'kill' THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET *",
        tables={"mc": t},
    ).collect()[0]
    assert out.rows_merged == 2  # b (D), a (U)
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {"a": 2, "d": 1}


def test_sql_facade_merge_not_matched_by_source(spark, tmp_path):
    """The Delta sync-job clause: target rows absent from the source
    tombstone (optionally gated by a condition over the TARGET row);
    composes with the star clauses; by-source-only merges work; the
    by-source UPDATE/INSERT spellings and any unparseable WHEN shape
    raise instead of silently dropping the clause."""
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec
    from rds_to_datalake_project_spark.sql import run_query

    spec = TableSpec("ms", record_key=("id",), precombine_key="v",
                     partition_granularity=None)
    t = KeyedTable(spark, str(tmp_path / "ms"), spec)
    t.initial_load(spark.createDataFrame(
        [(i, f"2024-01-01T00:00:0{i % 10}", 1, "old") for i in range(6)],
        ["id", "update_at", "v", "tag"],
    ))
    # source: 0-2 updated, 9 new; 3-5 vanished from the extract
    spark.createDataFrame(
        [(i, "2024-01-02T00:00:00", 2, "new") for i in (0, 1, 2, 9)],
        ["id", "update_at", "v", "tag"],
    ).createOrReplaceTempView("ms_src")

    out = run_query(
        spark,
        "MERGE INTO ms USING ms_src AS s ON ms.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE AND id >= 5 THEN DELETE",
        tables={"ms": t},
    ).collect()[0]
    assert out.rows_merged == 5  # 3 updates + 1 insert + 1 delete
    got = {r.id: r.tag for r in t.read().collect()}
    # 5 deleted (condition), 3-4 kept (condition false), 0-2 updated
    assert got == {0: "new", 1: "new", 2: "new", 3: "old", 4: "old", 9: "new"}

    # by-source-only: mirror the extract exactly
    out = run_query(
        spark,
        "MERGE INTO ms USING ms_src ON ms.id = ms_src.id "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE",
        tables={"ms": t},
    ).collect()[0]
    assert out.rows_merged == 2
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 9]

    with pytest.raises(ValueError, match="DELETE"):
        run_query(
            spark,
            "MERGE INTO ms USING ms_src ON ms.id = ms_src.id "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *",
            tables={"ms": t},
        )
    with pytest.raises(ValueError, match="WHEN clause"):
        run_query(
            spark,
            "MERGE INTO ms USING ms_src ON ms.id = ms_src.id "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED BY TARGET THEN FROB",
            tables={"ms": t},
        )


def test_update_where_evaluates_set_against_original_row(spark, tmp_path):
    """SQL UPDATE semantics: every SET right-hand side sees the
    UNMODIFIED row, so ``SET x = y, y = x`` swaps (a sequential
    apply would make both columns equal)."""
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec

    spec = TableSpec("sw", record_key=("id",), precombine_key="v",
                     partition_granularity=None)
    t = KeyedTable(spark, str(tmp_path / "sw"), spec)
    t.initial_load(spark.createDataFrame(
        [("a", "2024-01-01T00:00:00", "2024-01-01T00:00:00", 1, 10, 20)],
        ["id", "create_at", "update_at", "v", "x", "y"],
    ))
    n = t.update_where("id = 'a'", {"x": "y", "y": "x"})
    assert n == 1
    r = t.read().collect()[0]
    assert (r.x, r.y) == (20, 10)  # swapped, not collapsed

    # assignments to columns the table doesn't have are refused
    with pytest.raises(ValueError, match="unknown columns"):
        t.update_where("id = 'a'", {"nope": "1"})


def test_dml_verbs_merge_from_cached_victims(spark, tmp_path):
    """delete_where/update_where hand the merge a CACHED victim frame:
    the count that sizes the return value and the rewrite share one
    scan of the matched rows instead of re-deriving them per action."""
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec

    spec = TableSpec("pl", record_key=("id",), precombine_key="v",
                     partition_granularity=None)
    t = KeyedTable(spark, str(tmp_path / "pl"), spec)
    t.initial_load(spark.createDataFrame(
        [(f"k{i}", "2024-01-01T00:00:00", "2024-01-01T00:00:00", i)
         for i in range(6)],
        ["id", "create_at", "update_at", "v"],
    ))
    plans = []
    orig = t.upsert

    def spy(batch, **kw):
        plans.append(batch._jdf.queryExecution().optimizedPlan().toString())
        return orig(batch, **kw)

    t.upsert = spy
    try:
        assert t.delete_where("v >= 4") == 2
        assert t.update_where("v <= 1", {"v": "v + 100"}) == 2
    finally:
        t.upsert = orig
    assert len(plans) == 2
    for p in plans:
        assert "InMemoryRelation" in p  # merge consumes the cached scan


def test_sql_facade_materialized_view_lifecycle(spark, tmp_path):
    """CREATE / SELECT / REFRESH / DROP MATERIALIZED VIEW through the
    facade: create runs the initial full refresh and registers a temp
    view, base DML + REFRESH recomputes only touched groups, AUTO
    REFRESH follows base commits with no further statements, DROP
    unbinds the name."""
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec
    from rds_to_datalake_project_spark.sql import MATVIEWS, run_query

    spec = TableSpec("mvb", record_key=("id",), precombine_key="v",
                     partition_granularity=None)
    t = KeyedTable(spark, str(tmp_path / "mvb"), spec, retain_versions=5)
    t.initial_load(spark.createDataFrame(
        [(f"k{i}", "g%d" % (i % 3), float(i), i) for i in range(9)],
        ["id", "grp", "amount", "v"],
    ))
    reg = {"mvb": t}
    try:
        out = run_query(
            spark,
            "CREATE MATERIALIZED VIEW mv_rev AS "
            "SELECT grp, sum(amount) AS revenue, count(*) AS n "
            "FROM mvb GROUP BY grp",
            tables=reg,
        ).collect()[0]
        assert out.mode == "full" and out.groups_refreshed == 3
        assert not out.auto_refresh

        got = {
            (r.grp, r.revenue, r.n)
            for r in run_query(
                spark, "SELECT grp, revenue, n FROM mv_rev", tables=reg
            ).collect()
        }
        assert got == {("g0", 0.0 + 3 + 6, 3), ("g1", 1.0 + 4 + 7, 3),
                       ("g2", 2.0 + 5 + 8, 3)}

        # DML on the base, then REFRESH: only touched groups recompute
        run_query(spark, "DELETE FROM mvb WHERE grp = 'g2'", tables=reg)
        out = run_query(
            spark, "REFRESH MATERIALIZED VIEW mv_rev", tables=reg
        ).collect()[0]
        assert out.mode == "incremental" and out.groups_refreshed == 1
        got = {(r.grp, r.n) for r in
               run_query(spark, "SELECT grp, n FROM mv_rev", tables=reg).collect()}
        assert got == {("g0", 3), ("g1", 3)}

        # noop refresh
        out = run_query(
            spark, "REFRESH MATERIALIZED VIEW mv_rev", tables=reg
        ).collect()[0]
        assert out.mode == "noop" and out.groups_refreshed == 0

        out = run_query(
            spark, "DROP MATERIALIZED VIEW mv_rev", tables=reg
        ).collect()[0]
        assert out.dropped and "mv_rev" not in MATVIEWS
        with pytest.raises(ValueError, match="unknown view"):
            run_query(spark, "REFRESH MATERIALIZED VIEW mv_rev", tables=reg)
    finally:
        MATVIEWS.clear()


def test_sql_facade_materialized_view_auto_refresh(spark, tmp_path):
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec
    from rds_to_datalake_project_spark.sql import MATVIEWS, run_query

    spec = TableSpec("mvb2", record_key=("id",), precombine_key="v",
                     partition_granularity=None)
    t = KeyedTable(spark, str(tmp_path / "mvb2"), spec, retain_versions=5)
    t.initial_load(spark.createDataFrame(
        [("a", "x", 1.0, 1), ("b", "y", 2.0, 1)],
        ["id", "grp", "amount", "v"],
    ))
    reg = {"mvb2": t}
    try:
        out = run_query(
            spark,
            "CREATE MATERIALIZED VIEW mv_auto WITH AUTO REFRESH AS "
            "SELECT grp, sum(amount) AS total FROM mvb2 GROUP BY grp",
            tables=reg,
        ).collect()[0]
        assert out.auto_refresh
        # base upsert triggers the hook; the VIEW OBJECT is fresh with
        # no REFRESH statement (the temp view needs re-publish, so read
        # through the registry)
        t.upsert(spark.createDataFrame([("c", "x", 10.0, 1)],
                                       ["id", "grp", "amount", "v"]))
        got = {(r.grp, r.total) for r in MATVIEWS["mv_auto"].read().collect()}
        assert got == {("x", 11.0), ("y", 2.0)}
        assert not t.last_maintenance_errors
    finally:
        MATVIEWS.clear()


def test_sql_facade_matview_rejects_bad_shapes(spark, tmp_path):
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec
    from rds_to_datalake_project_spark.sql import MATVIEWS, run_query

    spec = TableSpec("mvb3", record_key=("id",), precombine_key="v",
                     partition_granularity=None)
    t = KeyedTable(spark, str(tmp_path / "mvb3"), spec, retain_versions=5)
    t.initial_load(spark.createDataFrame([("a", "x", 1.0, 1)],
                                         ["id", "grp", "amount", "v"]))
    reg = {"mvb3": t}
    try:
        with pytest.raises(ValueError, match="aliased aggregate"):
            run_query(
                spark,
                "CREATE MATERIALIZED VIEW bad AS "
                "SELECT grp, sum(amount) FROM mvb3 GROUP BY grp",
                tables=reg,
            )
        with pytest.raises(ValueError, match="every GROUP BY column"):
            run_query(
                spark,
                "CREATE MATERIALIZED VIEW bad AS "
                "SELECT sum(amount) AS s FROM mvb3 GROUP BY grp",
                tables=reg,
            )
    finally:
        MATVIEWS.clear()


def test_sql_facade_chain_right_join_raises_targeted_error(spark, tmp_path):
    """LEFT joins are supported (ChainMaterializedView hows —
    tests/test_chain_left_matview.py); a RIGHT/FULL join in a CREATE
    MATERIALIZED VIEW, at any table count, does not match the strict
    facade shape and must raise the targeted loose-shape error, never
    fall through to plain spark.sql's confusing unresolved-table
    failure (r11 ADVICE / VERDICT #7)."""
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec
    from rds_to_datalake_project_spark.sql import MATVIEWS, run_query

    reg = {}
    for name, cols, rows in (
        ("cf", "id string, fk string, amount double, v int", [("a", "d1", 1.0, 1)]),
        ("cd", "dk string, rk string, v int", [("d1", "r1", 1)]),
        ("cr", "rrk string, rname string, v int", [("r1", "west", 1)]),
    ):
        spec = TableSpec(name, record_key=(cols.split(" ")[0],),
                         precombine_key="v", partition_granularity=None)
        t = KeyedTable(spark, str(tmp_path / name), spec, retain_versions=5)
        t.initial_load(spark.createDataFrame(rows, cols))
        reg[name] = t
    try:
        for body in (
            "SELECT rname, sum(amount) AS rev FROM cf "
            "RIGHT JOIN cd ON fk = dk JOIN cr ON rk = rrk GROUP BY rname",
            # a single RIGHT/FULL JOIN gets the same targeted error
            "SELECT rk, sum(amount) AS rev FROM cf "
            "RIGHT JOIN cd ON fk = dk GROUP BY rk",
            "SELECT rk, sum(amount) AS rev FROM cf "
            "FULL OUTER JOIN cd ON fk = dk GROUP BY rk",
        ):
            with pytest.raises(ValueError, match="RIGHT/FULL"):
                run_query(
                    spark, f"CREATE MATERIALIZED VIEW bad AS {body}",
                    tables=reg,
                )
        assert "bad" not in MATVIEWS
    finally:
        MATVIEWS.clear()


def test_sql_facade_group_by_expression_spacing(spark, tmp_path):
    """GROUP BY <expr> matches its aliased select item regardless of
    spacing around commas/parens/operators (r11 ADVICE: raw-spelling
    equality rejected `date_trunc('hour',ts)` vs the select's
    `date_trunc('hour', ts)`)."""
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec
    from rds_to_datalake_project_spark.sql import MATVIEWS, run_query

    spec = TableSpec("mvsp", record_key=("id",), precombine_key="v",
                     partition_granularity=None)
    t = KeyedTable(spark, str(tmp_path / "mvsp"), spec, retain_versions=5)
    t.initial_load(spark.createDataFrame(
        [("a", 1.24, 1), ("b", 1.26, 1), ("c", 2.01, 1)],
        ["id", "amount", "v"],
    ))
    reg = {"mvsp": t}
    try:
        out = run_query(
            spark,
            "CREATE MATERIALIZED VIEW mv_sp AS "
            "SELECT round( amount , 1 ) AS b, count(*) AS n "
            "FROM mvsp GROUP BY round(amount,1)",
            tables=reg,
        ).collect()[0]
        assert out.mode == "full" and out.groups_refreshed == 3
    finally:
        MATVIEWS.clear()


def test_sql_facade_matview_buckets_spelling(spark, tmp_path):
    """WITH [AUTO] REFRESH BUCKETS n hash-partitions the view store by
    its group key — the store lays out bucket_id=... dirs, the column
    never surfaces in SELECTs, and refresh/DML round-trips hold."""
    import glob

    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec
    from rds_to_datalake_project_spark.sql import MATVIEWS, run_query

    spec = TableSpec("mvbk", record_key=("id",), precombine_key="v",
                     partition_granularity=None)
    t = KeyedTable(spark, str(tmp_path / "mvbk"), spec, retain_versions=5)
    t.initial_load(spark.createDataFrame(
        [(f"k{i}", "g%d" % (i % 3), float(i), i) for i in range(9)],
        ["id", "grp", "amount", "v"],
    ))
    reg = {"mvbk": t}
    try:
        out = run_query(
            spark,
            "CREATE MATERIALIZED VIEW mv_bk WITH REFRESH BUCKETS 4 AS "
            "SELECT grp, sum(amount) AS revenue FROM mvbk GROUP BY grp",
            tables=reg,
        ).collect()[0]
        assert out.mode == "full" and out.groups_refreshed == 3
        store_dirs = glob.glob(str(tmp_path / "mvbk" / ".matviews" / "mv_bk" / "bucket_id=*"))
        assert store_dirs, "store is not hash-bucketed"
        got = run_query(spark, "SELECT * FROM mv_bk", tables=reg)
        assert set(got.columns) == {"grp", "revenue"}
        run_query(spark, "DELETE FROM mvbk WHERE grp = 'g1'", tables=reg)
        out = run_query(
            spark, "REFRESH MATERIALIZED VIEW mv_bk", tables=reg
        ).collect()[0]
        assert out.mode == "incremental" and out.groups_refreshed == 1
        got = {(r.grp, r.revenue) for r in
               run_query(spark, "SELECT grp, revenue FROM mv_bk", tables=reg).collect()}
        assert got == {("g0", 0.0 + 3 + 6), ("g2", 2.0 + 5 + 8)}
    finally:
        MATVIEWS.clear()
