"""SQL control plane (sql.py) + general MERGE INTO (operators/generic_merge.py).

Parity discipline: every SQL statement must behave exactly like the operator
it routes to — the suite drives both through the same fixtures and compares.
MERGE semantics are pinned against hand-computed expected states, including
clause ordering, conditional cascades, ANSI cardinality, and the
merge-on-read interaction (pending deletes must not resurrect or match).
"""

import os
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datastream_deltalake_connector_spark.operators.generic_merge import (
    MergeCardinalityError,
    merge_into,
)
from datastream_deltalake_connector_spark.sql import (
    IcepackSQL,
    SqlDialectError,
    _lift_filters,
    _match_paren,
    _split_assignments,
    _split_top,
    _strip_comments,
)
from datastream_deltalake_connector_spark.table.catalog import Catalog
from datastream_deltalake_connector_spark.table.icepack import IcepackTable


@pytest.fixture()
def sql(spark, tmp_path):
    return IcepackSQL(spark, Catalog(spark, str(tmp_path / "wh")))


def _mk_users(sql):
    sql.execute("CREATE TABLE users (id BIGINT, name STRING, score DOUBLE)")
    sql.execute(
        "INSERT INTO users VALUES (1, 'ann', 1.5), (2, 'bob', 2.5), (3, 'cat', 3.5)"
    )
    return sql.catalog.load_table("users")


# ---------------------------------------------------------------- lexer unit
def test_strip_comments_preserves_strings():
    assert (
        _strip_comments("SELECT '--not a comment' -- real\nFROM t")
        == "SELECT '--not a comment' \nFROM t"
    )


def test_split_top_respects_parens_and_quotes():
    parts = _split_top("a = f(x, y), b = 'p,q', c = 1", ",")
    assert [p.strip() for p in parts] == ["a = f(x, y)", "b = 'p,q'", "c = 1"]


def test_match_paren_nested_and_quoted():
    s = "(a(b)'c)')x"
    assert _match_paren(s, 0) == len(s) - 2


def test_lift_filters_mixed():
    filters, residual = _lift_filters(
        "id >= 5 AND name = 'x' AND v BETWEEN 1 AND 9 AND k IN (1, 2) "
        "AND length(name) > 2"
    )
    assert ("id", ">=", 5) in filters
    assert ("name", "=", "x") in filters
    assert ("v", "between", (1, 9)) in filters
    assert ("k", "in", (1, 2)) in filters
    assert residual == "(length(name) > 2)"


def test_split_assignments_expr_commas():
    a = _split_assignments("x = greatest(a, b), y = 'lit,eral'")
    assert a == {"x": "greatest(a, b)", "y": "'lit,eral'"}


def test_dialect_error_on_garbage(sql):
    with pytest.raises(SqlDialectError):
        sql.execute("GRANT ALL ON everything")


# ------------------------------------------------------------------ DDL/DML
def test_create_insert_select_roundtrip(sql):
    _mk_users(sql)
    got = sql.execute("SELECT id, name FROM users ORDER BY id").collect()
    assert [(r.id, r.name) for r in got] == [(1, "ann"), (2, "bob"), (3, "cat")]
    assert sql.execute("SHOW TABLES").collect()[0].tableName == "users"


def test_create_partitioned(sql, spark):
    sql.execute(
        "CREATE TABLE ev (ts TIMESTAMP, uid BIGINT, v DOUBLE) "
        "PARTITIONED BY (day(ts), bucket(4, uid))"
    )
    t = sql.catalog.load_table("ev")
    assert t.partition_spec() == ["day(ts)", "bucket(4, uid)"]


def test_create_if_not_exists(sql):
    sql.execute("CREATE TABLE t1 (a INT)")
    assert sql.execute("CREATE TABLE IF NOT EXISTS t1 (a INT)").collect()[0].status == "exists"
    with pytest.raises(SqlDialectError):
        sql.execute("CREATE TABLE t1 (a INT)")


def test_insert_select_and_overwrite(sql, spark):
    _mk_users(sql)
    sql.execute("CREATE TABLE vip (id BIGINT, name STRING, score DOUBLE)")
    sql.execute("INSERT INTO vip SELECT * FROM users WHERE score > 2")
    assert sql.execute("SELECT count(*) AS n FROM vip").collect()[0].n == 2
    sql.execute("INSERT OVERWRITE vip SELECT * FROM users WHERE id = 1")
    assert sql.execute("SELECT count(*) AS n FROM vip").collect()[0].n == 1


def test_insert_column_list_fills_null(sql):
    sql.execute("CREATE TABLE p (a BIGINT, b STRING, c DOUBLE)")
    sql.execute("INSERT INTO p (a, c) VALUES (7, 1.25)")
    r = sql.execute("SELECT * FROM p").collect()[0]
    assert (r.a, r.b, r.c) == (7, None, 1.25)


def test_delete_update_parity_with_operators(sql, spark, tmp_path):
    t = _mk_users(sql)
    # same ops through the direct API on a twin table
    from datastream_deltalake_connector_spark.operators.rowops import (
        delete_where,
        update_where,
    )

    twin = IcepackTable.create(
        spark, str(tmp_path / "twin"), t.snapshot().schema
    )
    twin.append(t.scan())
    sql.execute("UPDATE users SET score = score + 1 WHERE id >= 2")
    update_where(twin, {"score": "score + 1"}, [("id", ">=", 2)])
    sql.execute("DELETE FROM users WHERE name = 'ann'")
    delete_where(twin, [("name", "=", "ann")])
    a = {(r.id, r.name, r.score) for r in t.scan().collect()}
    b = {(r.id, r.name, r.score) for r in twin.scan().collect()}
    assert a == b == {(2, "bob", 3.5), (3, "cat", 4.5)}


def test_update_lifts_prunable_filters(sql):
    t = _mk_users(sql)
    rep = sql.execute(
        "UPDATE users SET name = upper(name) WHERE id = 2 AND length(name) = 3"
    ).collect()[0]
    assert rep.rows_updated == 1
    names = {r.name for r in t.scan().collect()}
    assert names == {"ann", "BOB", "cat"}


def test_time_travel_select_and_history(sql):
    t = _mk_users(sql)
    sql.execute("DELETE FROM users WHERE id = 1")
    assert sql.execute("SELECT count(*) AS n FROM users").collect()[0].n == 2
    assert (
        sql.execute("SELECT count(*) AS n FROM users VERSION AS OF 1").collect()[0].n
        == 3
    )
    ops = [r.operation for r in sql.execute("DESCRIBE HISTORY users").collect()]
    assert "delete" in ops and "append" in ops
    # branch ref read
    t.create_branch("audit", 1)
    assert (
        sql.execute("SELECT count(*) AS n FROM users VERSION AS OF 'audit'")
        .collect()[0]
        .n
        == 3
    )


def test_restore_and_optimize_and_vacuum(sql):
    t = _mk_users(sql)
    sql.execute("DELETE FROM users WHERE id >= 2")
    sql.execute("RESTORE TABLE users TO VERSION AS OF 1")
    assert t.scan().count() == 3
    rep = sql.execute("OPTIMIZE users").collect()[0]
    assert rep.status in ("compacted", "no-op")
    rep = sql.execute("VACUUM users RETAIN 0 HOURS DRY RUN").collect()[0]
    assert rep.dry_run is True


def test_alter_add_columns(sql):
    t = _mk_users(sql)
    sql.execute("ALTER TABLE users ADD COLUMNS (age INT, tag STRING)")
    cols = [f.name for f in t.snapshot().schema.fields]
    assert cols == ["id", "name", "score", "age", "tag"]
    r = sql.execute("SELECT age, tag FROM users LIMIT 1").collect()[0]
    assert (r.age, r.tag) == (None, None)


# -------------------------------------------------------------- MERGE INTO
def _merge_fixture(sql, spark):
    t = _mk_users(sql)
    spark.createDataFrame(
        [(2, "BOB2", 99.0), (9, "zed", 9.0)],
        "id BIGINT, name STRING, score DOUBLE",
    ).createOrReplaceTempView("src")
    return t


def test_merge_upsert_star(sql, spark):
    t = _merge_fixture(sql, spark)
    rep = sql.execute(
        "MERGE INTO users AS t USING src AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    ).collect()[0]
    assert (rep.rows_updated, rep.rows_inserted, rep.rows_deleted) == (1, 1, 0)
    got = {(r.id, r.name, r.score) for r in t.scan().collect()}
    assert got == {(1, "ann", 1.5), (2, "BOB2", 99.0), (3, "cat", 3.5), (9, "zed", 9.0)}


def test_merge_clause_order_first_wins(sql, spark):
    t = _merge_fixture(sql, spark)
    sql.execute(
        "MERGE INTO users t USING src s ON t.id = s.id "
        "WHEN MATCHED AND s.score > 1000 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET score = t.score + 100 "
        "WHEN NOT MATCHED AND s.score < 0 THEN INSERT *"
    )
    got = {(r.id, r.score) for r in t.scan().collect()}
    # id=2 matched, first clause cond false, second applies; zed's insert
    # condition fails so nothing inserts
    assert got == {(1, 1.5), (2, 102.5), (3, 3.5)}


def test_merge_explicit_insert_values(sql, spark):
    t = _merge_fixture(sql, spark)
    sql.execute(
        "MERGE INTO users t USING src s ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT (id, name) VALUES (s.id, concat(s.name, '!'))"
    )
    got = {(r.id, r.name, r.score) for r in t.scan().collect()}
    assert (9, "zed!", None) in got and len(got) == 4


def test_merge_insert_only_never_rewrites(sql, spark):
    t = _merge_fixture(sql, spark)
    rep = sql.execute(
        "MERGE INTO users t USING src s ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT *"
    ).collect()[0]
    assert rep.files_rewritten == 0 and rep.rows_inserted == 1
    assert t.snapshot().operation == "merge"
    # matched row untouched
    assert {(r.id, r.name) for r in t.scan().collect()} >= {(2, "bob"), (9, "zed")}


def test_merge_not_matched_by_source(sql, spark):
    t = _merge_fixture(sql, spark)
    sql.execute(
        "MERGE INTO users t USING src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED BY SOURCE AND t.id != 1 THEN DELETE"
    )
    got = {(r.id, r.name) for r in t.scan().collect()}
    assert got == {(1, "ann"), (2, "BOB2")}  # id=3 deleted, id=1 kept by cond


def test_merge_cardinality_violation(sql, spark):
    _merge_fixture(sql, spark)
    spark.createDataFrame(
        [(2, "a", 1.0), (2, "b", 2.0)], "id BIGINT, name STRING, score DOUBLE"
    ).createOrReplaceTempView("dup_src")
    with pytest.raises(MergeCardinalityError):
        sql.execute(
            "MERGE INTO users t USING dup_src s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET *"
        )


def test_merge_by_source_only_rejects_duplicate_matches(sql, spark):
    """With only a NOT MATCHED BY SOURCE clause, a target row matched by two
    source rows is a cardinality violation too — not a row kept twice."""
    t = _mk_users(sql)
    before = sorted((r.id, r.name) for r in t.scan().collect())
    spark.createDataFrame(
        [(1, "x", 0.0), (1, "y", 0.0)], "id BIGINT, name STRING, score DOUBLE"
    ).createOrReplaceTempView("dup_src")
    with pytest.raises(MergeCardinalityError):
        sql.execute(
            "MERGE INTO users t USING dup_src s ON t.id = s.id "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE"
        )
    assert sorted((r.id, r.name) for r in t.scan().collect()) == before


def test_merge_noop_returns_null_version(sql, spark):
    t = _merge_fixture(sql, spark)
    v_before = t.head_version()
    rep = sql.execute(
        "MERGE INTO users t USING (SELECT * FROM src WHERE id < 0) s "
        "ON t.id = s.id WHEN MATCHED THEN DELETE"
    ).collect()[0]
    assert rep.version is None
    assert t.head_version() == v_before


def test_merge_prunes_disjoint_files(sql, spark, tmp_path):
    """Range-disjoint layout: a small-key source must prune the high files
    driver-side and probe only the overlapping ones."""
    t = IcepackTable.create(
        spark,
        str(tmp_path / "big"),
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("v", T.DoubleType()),
            ]
        ),
    )
    for lo in range(0, 400, 100):
        t.append(
            spark.range(lo, lo + 100).selectExpr("id", "cast(id as double) as v"),
            num_files=1,
        )
    src = spark.createDataFrame([(5, 0.0), (7, 0.0)], "id BIGINT, v DOUBLE")
    rep = merge_into(
        t, src, "id", matched=[{"action": "update", "condition": None, "set": "*"}]
    )
    assert rep["files_pruned"] == 3 and rep["files_probed"] == 1
    assert rep["files_rewritten"] == 1 and rep["rows_updated"] == 2
    assert t.scan().count() == 400


def test_merge_subquery_source_and_using_catalog_table(sql, spark):
    t = _mk_users(sql)
    sql.execute("CREATE TABLE stage (id BIGINT, name STRING, score DOUBLE)")
    sql.execute("INSERT INTO stage VALUES (3, 'CAT', 30.0), (4, 'dog', 4.0)")
    sql.execute(
        "MERGE INTO users t USING (SELECT * FROM stage WHERE score > 10) s "
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET *"
    )
    got = {(r.id, r.name) for r in t.scan().collect()}
    assert (3, "CAT") in got and (4, "dog") not in got
    sql.execute(
        "MERGE INTO users t USING stage s ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert {r.id for r in t.scan().collect()} == {1, 2, 3, 4}


def test_merge_over_pending_mor_deletes(sql, spark, tmp_path):
    """A row shadowed by a pending positional delete must neither resurrect
    through the CoW rewrite nor count as matched."""
    from datastream_deltalake_connector_spark.operators.rowops import (
        delete_where_mor,
    )

    t = IcepackTable.create(
        spark,
        str(tmp_path / "mor"),
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("v", T.DoubleType()),
            ]
        ),
    )
    t.append(
        spark.createDataFrame(
            [(1, 1.0), (2, 2.0), (3, 3.0)], "id BIGINT, v DOUBLE"
        ),
        num_files=1,
    )
    delete_where_mor(t, [("id", "=", 2)])
    assert t.scan().count() == 2
    src = spark.createDataFrame([(2, 20.0), (3, 30.0)], "id BIGINT, v DOUBLE")
    rep = merge_into(
        t,
        src,
        "id",
        matched=[{"action": "update", "condition": None, "set": "*"}],
        not_matched=[{"action": "insert", "condition": None, "values": "*"}],
    )
    got = {(r.id, r.v) for r in t.scan().collect()}
    # id=2 was logically deleted -> source row INSERTS (fresh row), id=3 updates
    assert got == {(1, 1.0), (2, 20.0), (3, 30.0)}
    assert rep["rows_updated"] == 1 and rep["rows_inserted"] == 1


def test_merge_requires_when_clause_and_equi_on(sql, spark):
    _merge_fixture(sql, spark)
    with pytest.raises(SqlDialectError):
        sql.execute("MERGE INTO users t USING src s ON t.id = s.id")
    with pytest.raises(SqlDialectError):
        sql.execute(
            "MERGE INTO users t USING src s ON t.id < s.id "
            "WHEN MATCHED THEN DELETE"
        )


def test_merge_concurrent_delete_file_refused(sql, spark, tmp_path):
    """The merge commit carries no-new-deletes: a positional-delete file
    landing between read and commit raises ConflictError instead of
    resurrecting the deleted row via the rewrite's fresh sequence."""
    from datastream_deltalake_connector_spark.table.icepack import ConflictError

    t = IcepackTable.create(
        spark,
        str(tmp_path / "conc"),
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("v", T.DoubleType()),
            ]
        ),
    )
    # ONE file holding all rows: the concurrent delete of id=3 is partial,
    # so it must land as a delete FILE (not a metadata-only drop)
    t.append(
        spark.createDataFrame(
            [(1, 1.0), (2, 2.0), (3, 3.0)], "id BIGINT, v DOUBLE"
        ),
        num_files=1,
    )
    src = spark.createDataFrame([(2, 20.0)], "id BIGINT, v DOUBLE")
    # simulate: take the snapshot the merge would read, then land a delete
    orig_snapshot = t.snapshot
    fired = []

    def hooked(*a, **k):
        snap = orig_snapshot(*a, **k)
        if not a and not k and not fired:
            fired.append(1)
            from datastream_deltalake_connector_spark.operators.rowops import (
                delete_where_mor,
            )

            delete_where_mor(t, [("id", "=", 3)])
        return snap

    t.snapshot = hooked
    try:
        with pytest.raises(ConflictError):
            merge_into(
                t, src, "id",
                matched=[{"action": "update", "condition": None, "set": "*"}],
            )
    finally:
        t.snapshot = orig_snapshot


def test_merge_schema_evolution(sql, spark):
    """MERGE WITH SCHEMA EVOLUTION appends new source columns nullable
    before executing; INSERT */SET * carry them, existing rows read NULL."""
    t = _mk_users(sql)
    spark.createDataFrame(
        [(2, "BOB2", 99.0, "gold"), (9, "zed", 9.0, "new")],
        "id BIGINT, name STRING, score DOUBLE, tier STRING",
    ).createOrReplaceTempView("esrc")
    sql.execute(
        "MERGE WITH SCHEMA EVOLUTION INTO users t USING esrc s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    cols = [f.name for f in t.snapshot().schema.fields]
    assert cols == ["id", "name", "score", "tier"]
    got = {(r.id, r.tier) for r in t.scan().collect()}
    assert got == {(1, None), (2, "gold"), (3, None), (9, "new")}


def test_merge_unknown_column_without_evolution_raises(sql, spark):
    t = _mk_users(sql)
    spark.createDataFrame(
        [(2, "x")], "id BIGINT, extra STRING"
    ).createOrReplaceTempView("xsrc")
    with pytest.raises(ValueError, match="unknown column"):
        merge_into(
            t, spark.table("xsrc"), "id",
            matched=[{"action": "update", "condition": None,
                      "set": {"extra": "s.extra"}}],
        )
    # INSERT * with a source missing target columns fails loudly (same
    # contract as UPDATE SET * — silent NULL fill is data loss); the
    # explicit (cols) VALUES form is the opt-in for partial inserts
    with pytest.raises(ValueError, match="every target column"):
        merge_into(
            t, spark.table("xsrc"), "id",
            not_matched=[{"action": "insert", "condition": None, "values": "*"}],
        )
    assert [f.name for f in t.snapshot().schema.fields] == ["id", "name", "score"]


def test_inspection_refs_and_detail(sql):
    """t.history / t.files / t.partitions resolve as queryable metadata
    tables; DESCRIBE DETAIL summarizes the manifest."""
    t = _mk_users(sql)
    sql.execute("DELETE FROM users WHERE id = 1")
    ops = {
        r.operation
        for r in sql.execute("SELECT operation FROM users.history").collect()
    }
    assert {"create", "append", "delete"} <= ops
    nf = sql.execute(
        "SELECT count(*) AS n, sum(rows) AS total FROM users.files"
    ).collect()[0]
    assert nf.total == t.count_rows() == 2
    assert sql.execute("SELECT * FROM users.partitions").collect()
    d = sql.execute("DESCRIBE DETAIL users").collect()[0]
    assert d.format == "icepack" and d.numRows == 2 and d.numFiles == nf.n
    assert d.version == t.head_version()


def test_table_changes_tvf(sql, spark):
    """table_changes('t', from[, to]) — the Delta CDF TVF inside any
    SELECT, joined and filtered by Catalyst like a normal relation."""
    t = _mk_users(sql)
    v0 = t.head_version()
    sql.execute("DELETE FROM users WHERE id = 2")
    sql.execute("INSERT INTO users VALUES (7, 'eve', 7.0)")
    got = {
        (r._change_type, r.id)
        for r in sql.execute(
            f"SELECT _change_type, id FROM table_changes('users', {v0}, "
            f"{v0 + 2}, 'id') ORDER BY id"
        ).collect()
    }
    assert got == {("delete", 2), ("insert", 7)}
    # bounded to-version excludes the insert
    got = {
        (r._change_type, r.id)
        for r in sql.execute(
            f"SELECT _change_type, id FROM "
            f"table_changes('users', {v0}, {v0 + 1}, 'id')"
        ).collect()
    }
    assert got == {("delete", 2)}


def test_lift_filters_property(spark):
    """Property: for ANY conjunction of liftable and non-liftable conjuncts,
    (lifted filters) AND (residual) selects exactly the rows the original
    predicate text selects — lifting may only move work, never change it."""
    from hypothesis import given, settings, strategies as st

    from datastream_deltalake_connector_spark.operators.rowops import (
        _pred_column,
    )
    from datastream_deltalake_connector_spark.sql import _lift_filters

    df = spark.createDataFrame(
        [(i, float(i) / 2, f"s{i % 7}") for i in range(40)],
        "a BIGINT, b DOUBLE, s STRING",
    ).cache()
    df.count()

    liftable = st.sampled_from(
        [
            "a >= 10",
            "a < 35",
            "b = 7.5",
            "s = 's3'",
            "a BETWEEN 5 AND 30",
            "a IN (1, 5, 9, 33)",
            "b <= 12.5",
        ]
    )
    residual = st.sampled_from(
        [
            "length(s) > 1",
            "a % 3 = 0",
            "b * 2 > a - 4",
            "s != 's1'",
        ]
    )

    @settings(max_examples=15, deadline=None)
    @given(st.lists(st.one_of(liftable, residual), min_size=1, max_size=4))
    def check(conjuncts):
        pred = " AND ".join(conjuncts)
        filters, resid = _lift_filters(pred)
        got = df.where(_pred_column(filters, resid)).count()
        want = df.where(F.expr(pred)).count()
        assert got == want, (pred, filters, resid)

    check()


def test_merge_insert_only_over_pending_mor_delete(sql, spark, tmp_path):
    """Insert-only fast path with pending positional deletes: a source row
    whose only key match is a SHADOWED row must insert (the resolved view
    decides matching), and unshadowed matches must still block."""
    from datastream_deltalake_connector_spark.operators.rowops import (
        delete_where_mor,
    )

    t = IcepackTable.create(
        spark,
        str(tmp_path / "morins"),
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("v", T.DoubleType()),
            ]
        ),
    )
    t.append(
        spark.createDataFrame(
            [(1, 1.0), (2, 2.0), (3, 3.0)], "id BIGINT, v DOUBLE"
        ),
        num_files=1,
    )
    delete_where_mor(t, [("id", "=", 2)])
    src = spark.createDataFrame([(2, 20.0), (3, 33.0)], "id BIGINT, v DOUBLE")
    rep = merge_into(
        t, src, "id",
        not_matched=[{"action": "insert", "condition": None, "values": "*"}],
    )
    assert rep["rows_inserted"] == 1 and rep["files_rewritten"] == 0
    got = {(r.id, r.v) for r in t.scan().collect()}
    # id=2 reinserted fresh; id=3 blocked (live match); id=1 untouched
    assert got == {(1, 1.0), (2, 20.0), (3, 3.0)}


def test_ctas(sql):
    """CREATE TABLE AS SELECT: schema inferred from the query, rows loaded
    in the same statement; explicit column list casts when given."""
    _mk_users(sql)
    rep = sql.execute(
        "CREATE TABLE rich AS SELECT id, score FROM users WHERE score > 2"
    ).collect()[0]
    assert rep.status == "created" and rep.rows == 2
    t = sql.catalog.load_table("rich")
    assert [f.name for f in t.snapshot().schema.fields] == ["id", "score"]
    assert {r.id for r in t.scan().collect()} == {2, 3}
    # CTAS with explicit columns casts into the declared types
    sql.execute(
        "CREATE TABLE rich2 (id INT, score STRING) "
        "AS SELECT id, score FROM users WHERE id = 1"
    )
    r = sql.catalog.load_table("rich2").scan().collect()[0]
    assert (r.id, r.score) == (1, "1.5")


def test_sql_wap_loop(sql):
    """The full write-audit-publish loop in pure SQL: branch DDL, DML on
    t@branch (main untouched), audit reads on both, publish, branch gone."""
    t = _mk_users(sql)
    sql.execute("ALTER TABLE users CREATE BRANCH staging")
    sql.execute("DELETE FROM users@staging WHERE id = 1")
    sql.execute("UPDATE users@staging SET score = score * 100 WHERE id = 2")
    # audit: branch changed, main untouched
    assert sql.execute("SELECT count(*) AS n FROM users@staging").collect()[0].n == 2
    assert sql.execute("SELECT count(*) AS n FROM users").collect()[0].n == 3
    rep = sql.execute(
        "PUBLISH TABLE users FROM BRANCH 'staging'"
    ).collect()[0]
    assert rep.status == "published" and rep.branch_kept is False
    got = {(r.id, r.score) for r in t.scan().collect()}
    assert got == {(2, 250.0), (3, 3.5)}
    assert "staging" not in t.refs()["branches"]
    # tags via DDL pin retention
    sql.execute("ALTER TABLE users CREATE TAG prepublish AT VERSION 1")
    assert t.refs()["tags"]["prepublish"] == 1
    sql.execute("ALTER TABLE users DROP TAG prepublish")
    assert "prepublish" not in t.refs()["tags"]


def test_branch_qualified_merge_and_detail(sql, spark):
    t = _merge_fixture(sql, spark)
    sql.execute("ALTER TABLE users CREATE BRANCH exp")
    sql.execute(
        "MERGE INTO users@exp t USING src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    assert sql.execute("SELECT count(*) AS n FROM users@exp").collect()[0].n == 4
    assert t.scan().count() == 3  # main untouched
    d = sql.execute("DESCRIBE DETAIL users@exp").collect()[0]
    assert d.numRows == 4
    with pytest.raises(SqlDialectError):
        sql.execute("DELETE FROM users@nope WHERE id = 1")


def test_truncate_and_show_create(sql):
    t = _mk_users(sql)
    v_before = t.head_version()
    rep = sql.execute("TRUNCATE TABLE users").collect()[0]
    assert rep.rows_removed == 3
    assert sql.execute("SELECT count(*) AS n FROM users").collect()[0].n == 0
    # metadata-only: history intact, time travel still reads the old rows
    assert (
        sql.execute(
            f"SELECT count(*) AS n FROM users VERSION AS OF {v_before}"
        ).collect()[0].n
        == 3
    )
    stmt = sql.execute("SHOW CREATE TABLE users").collect()[0].createtab_stmt
    assert "CREATE TABLE users" in stmt and "score DOUBLE" in stmt


def test_constraint_ddl(sql):
    t = _mk_users(sql)
    sql.execute("ALTER TABLE users ADD CONSTRAINT pos CHECK (score > 0)")
    assert t.check_constraints() == {"pos": "score > 0"}
    with pytest.raises(Exception):
        sql.execute("INSERT INTO users VALUES (9, 'bad', -1.0)")
    with pytest.raises(Exception):  # existing data violates -> refused
        sql.execute("ALTER TABLE users ADD CONSTRAINT tiny CHECK (score < 2)")
    sql.execute("ALTER TABLE users DROP CONSTRAINT pos")
    assert t.check_constraints() == {}
    sql.execute("INSERT INTO users VALUES (9, 'ok now', -1.0)")
    stmt = sql.execute("SHOW CREATE TABLE users").collect()[0].createtab_stmt
    assert "CONSTRAINT" not in stmt


# ----------------------------------------------- review-findings regressions
def test_insert_case_insensitive_columns(sql):
    """Column resolution is case-insensitive like Spark's own — a case
    difference must never silently null-fill (that is data loss)."""
    sql.execute("CREATE TABLE ci (id BIGINT, v DOUBLE)")
    sql.execute("INSERT INTO ci (ID, V) VALUES (42, 1.5)")
    r = sql.execute("SELECT * FROM ci").collect()[0]
    assert (r.id, r.v) == (42, 1.5)
    sql.execute("CREATE TABLE ci2 (id BIGINT, v DOUBLE)")
    sql.execute("INSERT INTO ci2 SELECT CAST(7 AS BIGINT) AS ID, 2.5 AS V")
    r = sql.execute("SELECT * FROM ci2").collect()[0]
    assert (r.id, r.v) == (7, 2.5)


def test_merge_star_case_insensitive_source(sql, spark):
    t = _mk_users(sql)
    spark.createDataFrame(
        [(9, "zed", 9.0)], "ID BIGINT, NAME STRING, SCORE DOUBLE"
    ).createOrReplaceTempView("upper_src")
    sql.execute(
        "MERGE INTO users t USING upper_src s ON t.id = s.ID "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {(r.id, r.name, r.score) for r in t.scan().collect()}
    assert (9, "zed", 9.0) in got


def test_cte_shadows_catalog_table(sql):
    """Standard SQL scoping: a CTE name shadows a same-named catalog table."""
    _mk_users(sql)
    n = sql.execute(
        "WITH users AS (SELECT 1 AS x) SELECT count(*) AS n FROM users"
    ).collect()[0].n
    assert n == 1  # the CTE, not the 3-row table


def test_merge_not_matched_delete_refused(sql, spark):
    _merge_fixture(sql, spark)
    with pytest.raises(SqlDialectError, match="NOT MATCHED BY SOURCE"):
        sql.execute(
            "MERGE INTO users t USING src s ON t.id = s.id "
            "WHEN NOT MATCHED THEN DELETE"
        )
    with pytest.raises(SqlDialectError, match="NOT MATCHED BY SOURCE"):
        sql.execute(
            "MERGE INTO users t USING src s ON t.id = s.id "
            "WHEN NOT MATCHED THEN UPDATE SET name = 'x'"
        )


def test_merge_not_matched_by_target_insert(sql, spark):
    t = _merge_fixture(sql, spark)
    sql.execute(
        "MERGE INTO users t USING src s ON t.id = s.id "
        "WHEN NOT MATCHED BY TARGET THEN INSERT *"
    )
    assert {r.id for r in t.scan().collect()} == {1, 2, 3, 9}


def test_merge_swapped_aliases(sql, spark):
    """Aliases s (target) / t (source): sequential substitution would turn
    the guard into a self-comparison and silently never update."""
    t = _merge_fixture(sql, spark)
    sql.execute(
        "MERGE INTO users AS s USING src AS t ON s.id = t.id "
        "WHEN MATCHED AND t.score > s.score THEN UPDATE SET score = t.score"
    )
    got = {(r.id, r.score) for r in t.scan().collect()}
    assert (2, 99.0) in got  # 99 > 2.5 -> updated


def test_merge_alias_prefix_in_string_literal(sql, spark):
    t = _merge_fixture(sql, spark)
    sql.execute(
        "MERGE INTO users t USING src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET name = 's. prefix kept'"
    )
    assert (2, "s. prefix kept") in {
        (r.id, r.name) for r in t.scan().collect()
    }


def test_merge_using_subquery_with_paren_in_string(sql, spark):
    t = _merge_fixture(sql, spark)
    sql.execute(
        "MERGE INTO users t USING "
        "(SELECT id, ':-)' AS name, score FROM src) s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET name = s.name"
    )
    assert (2, ":-)") in {(r.id, r.name) for r in t.scan().collect()}


def test_merge_branch_target_default_alias(sql, spark):
    t = _merge_fixture(sql, spark)
    sql.execute("ALTER TABLE users CREATE BRANCH b1")
    sql.execute(
        "MERGE INTO users@b1 USING src s ON users.id = s.id "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert sql.execute("SELECT count(*) AS n FROM users@b1").collect()[0].n == 4
    assert t.scan().count() == 3


def test_merge_case_expression_in_set(sql, spark):
    """CASE WHEN inside a SET expression must not be mistaken for a merge
    clause boundary; a parenthesized CASE in a condition parses too."""
    t = _merge_fixture(sql, spark)
    sql.execute(
        "MERGE INTO users t USING src s ON t.id = s.id "
        "WHEN MATCHED AND (CASE WHEN s.score > 50 THEN true ELSE false END) "
        "THEN UPDATE SET name = CASE WHEN s.score > 90 THEN 'big' ELSE 'mid' END "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {(r.id, r.name) for r in t.scan().collect()}
    assert (2, "big") in got and (9, "zed") in got


def test_insert_bare_parenthesized_select(sql):
    _mk_users(sql)
    sql.execute("CREATE TABLE cp (id BIGINT, name STRING, score DOUBLE)")
    sql.execute("INSERT INTO cp (SELECT id, upper(name), score FROM users)")
    assert sql.execute("SELECT count(*) AS n FROM cp").collect()[0].n == 3


def test_cardinality_ignores_shadowed_rows(sql, spark, tmp_path):
    """Duplicate source keys whose only target match is MoR-shadowed are
    legal (both insert) — the probe must see the resolved view."""
    from datastream_deltalake_connector_spark.operators.rowops import (
        delete_where_mor,
    )

    t = IcepackTable.create(
        spark,
        str(tmp_path / "card"),
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("v", T.DoubleType()),
            ]
        ),
    )
    t.append(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "id BIGINT, v DOUBLE"),
        num_files=1,
    )
    delete_where_mor(t, [("id", "=", 1)])
    src = spark.createDataFrame(
        [(1, 10.0), (1, 11.0)], "id BIGINT, v DOUBLE"
    )
    rep = merge_into(
        t, src, "id",
        matched=[{"action": "update", "condition": None, "set": "*"}],
        not_matched=[{"action": "insert", "condition": None, "values": "*"}],
    )
    assert rep["rows_inserted"] == 2 and rep["rows_updated"] == 0


def test_merge_set_star_missing_source_column_raises(sql, spark, tmp_path):
    t = IcepackTable.create(
        spark,
        str(tmp_path / "ss"),
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("v", T.DoubleType()),
            ]
        ),
    )
    t.append(spark.createDataFrame([(1, 1.0)], "id BIGINT, v DOUBLE"))
    src = spark.createDataFrame([(1,)], "id BIGINT")
    with pytest.raises(ValueError, match="every target column"):
        merge_into(
            t, src, "id",
            matched=[{"action": "update", "condition": None, "set": "*"}],
        )


def test_copy_into_concurrent_copy_refused_then_converges(spark, tmp_path):
    """Two concurrent COPYs of the same source: the second to commit must
    see the first's ledger (no-new-copy-commits) and converge to loading
    nothing — never a double load."""
    from datastream_deltalake_connector_spark.operators.copy_into import (
        copy_into,
    )

    t = IcepackTable.create(
        spark,
        str(tmp_path / "race"),
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("v", T.DoubleType()),
            ]
        ),
    )
    src = str(tmp_path / "drop")
    spark.range(0, 30).selectExpr("id", "cast(id as double) as v").coalesce(
        1
    ).write.parquet(os.path.join(src, "a"))
    orig = IcepackTable.write_data_files
    fired = []

    def hooked(self, df, **kw):
        # between the outer copy's ledger read and its commit, a competing
        # copy of the same source runs to completion
        if not fired:
            fired.append(1)
            copy_into(t, src)
        return orig(self, df, **kw)

    IcepackTable.write_data_files = hooked
    try:
        rep = copy_into(t, src)
    finally:
        IcepackTable.write_data_files = orig
    # outer copy retried, saw the competitor's ledger, loaded nothing
    assert rep["version"] is None and rep["files_loaded"] == 0
    assert t.scan().count() == 30
    assert t.scan().select("id").distinct().count() == 30


def test_delete_timestamp_literal_prunes_correctly(sql, spark):
    """A TIMESTAMP literal written SQL-style ('2024-01-01 10:00:00') must
    not be compared as raw text against 'T'-separated stats — that falsely
    pruned the file and silently skipped the matching rows."""
    sql.execute("CREATE TABLE tl (ts TIMESTAMP, v BIGINT)")
    spark.sql(
        "SELECT timestamp'2024-01-01 10:00:00' AS ts, CAST(1 AS BIGINT) AS v "
        "UNION ALL SELECT timestamp'2024-01-01 12:00:00', 2"
    ).createOrReplaceTempView("tl_src")
    sql.execute("INSERT INTO tl SELECT * FROM tl_src")
    rep = sql.execute(
        "DELETE FROM tl WHERE ts = '2024-01-01 10:00:00'"
    ).collect()[0]
    assert rep.rows_deleted == 1
    assert sql.execute("SELECT count(*) AS n FROM tl").collect()[0].n == 1


def test_lift_filters_sentinel_literal_survives(sql):
    sql.execute("CREATE TABLE sen (k BIGINT, name STRING)")
    sql.execute("INSERT INTO sen VALUES (1, '@&@'), (2, 'AND'), (3, 'x')")
    sql.execute("DELETE FROM sen WHERE name = '@&@'")
    got = {r.name for r in sql.execute("SELECT name FROM sen").collect()}
    assert got == {"AND", "x"}


# -------------------------------------------------------------------- views
def test_view_lifecycle_and_current_state(sql):
    _mk_users(sql)
    sql.execute("CREATE VIEW high AS SELECT id, score FROM users WHERE score > 2")
    assert [r.viewName for r in sql.execute("SHOW VIEWS").collect()] == ["high"]
    got = {r.id: r.score for r in sql.execute("SELECT * FROM high").collect()}
    assert got == {2: 2.5, 3: 3.5}
    # view TEXT semantics: a later insert is visible through the view
    sql.execute("INSERT INTO users VALUES (4, 'dan', 9.0)")
    got = {r.id for r in sql.execute("SELECT id FROM high").collect()}
    assert got == {2, 3, 4}
    # joins and aggregates through a view ref
    n = sql.execute(
        "SELECT count(*) AS n FROM high h JOIN users u ON h.id = u.id"
    ).collect()[0].n
    assert n == 3
    sql.execute("DROP VIEW high")
    assert sql.execute("SHOW VIEWS").count() == 0
    with pytest.raises(Exception):  # unresolved ref → Spark analysis error
        sql.execute("SELECT * FROM high")


def test_view_nested_replace_and_guards(sql):
    _mk_users(sql)
    sql.execute("CREATE VIEW v1 AS SELECT id, score FROM users")
    sql.execute("CREATE VIEW v2 AS SELECT id FROM v1 WHERE score > 2")
    assert sql.execute("SELECT * FROM v2").count() == 2
    # OR REPLACE re-points; plain CREATE on an existing name fails
    with pytest.raises(SqlDialectError):
        sql.execute("CREATE VIEW v2 AS SELECT 1 AS x")
    sql.execute("CREATE OR REPLACE VIEW v2 AS SELECT id FROM v1 WHERE score > 3")
    assert sql.execute("SELECT * FROM v2").count() == 1
    # a view name cannot shadow a table and vice versa
    with pytest.raises(SqlDialectError):
        sql.execute("CREATE VIEW users AS SELECT 1 AS x")
    with pytest.raises(Exception):
        sql.execute("CREATE TABLE v1 (x BIGINT)")
    # body must plan NOW against the catalog
    with pytest.raises(Exception):
        sql.execute("CREATE VIEW broken AS SELECT nope FROM users")
    # time travel applies to tables, not view text
    with pytest.raises(SqlDialectError):
        sql.execute("SELECT * FROM v2 VERSION AS OF 0")
    # DROP VIEW IF EXISTS tolerates absence; bare DROP VIEW does not
    sql.execute("DROP VIEW IF EXISTS ghost")
    with pytest.raises(SqlDialectError):
        sql.execute("DROP VIEW ghost")


def test_view_cycle_detected(sql):
    _mk_users(sql)
    sql.execute("CREATE VIEW a1 AS SELECT id FROM users")
    sql.execute("CREATE VIEW b1 AS SELECT id FROM a1")
    # re-point a1 at b1 → cycle must fail loudly, not hang
    sql.execute("CREATE OR REPLACE VIEW a1 AS SELECT id FROM b1")
    with pytest.raises(SqlDialectError, match="cycle"):
        sql.execute("SELECT * FROM a1")


def test_view_visible_to_dml_sources(sql, spark):
    """Views work as MERGE/INSERT sources — the statement surface composes."""
    _mk_users(sql)
    sql.execute("CREATE VIEW boost AS SELECT id, score * 10 AS score, "
                "'x' AS name FROM users WHERE id <= 2")
    sql.execute(
        "MERGE INTO users t USING (SELECT * FROM boost) s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET t.score = s.score"
    )
    got = {r.id: r.score for r in sql.execute("SELECT id, score FROM users").collect()}
    assert got == {1: 15.0, 2: 25.0, 3: 3.5}


# ------------------------------------------------------------ ANALYZE TABLE
def test_analyze_table_stats_exact_and_approx(sql):
    _mk_users(sql)
    rep = sql.execute(
        "ANALYZE TABLE users COMPUTE STATISTICS FOR ALL COLUMNS WITH EXACT NDV"
    ).collect()[0]
    assert (rep.status, rep.row_count, rep.columns_analyzed) == ("analyzed", 3, 3)
    stats = {r.column: r for r in sql.execute("DESCRIBE STATS users").collect()}
    assert stats["id"].ndv == 3 and stats["id"].null_count == 0
    assert (stats["id"].min, stats["id"].max) == ("1", "3")
    assert stats["name"].ndv == 3 and stats["score"].max == "3.5"
    assert stats["id"].exact_ndv and stats["id"].row_count == 3
    # approx path runs the HLL sketch and records exact_ndv=false
    sql.execute("ANALYZE TABLE users COMPUTE STATISTICS FOR COLUMNS id")
    stats = {r.column: r for r in sql.execute("DESCRIBE STATS users").collect()}
    assert set(stats) == {"id"} and not stats["id"].exact_ndv
    assert stats["id"].ndv >= 2  # HLL estimate, small-n is near-exact
    # stats are versioned metadata, NOT commits: history length unchanged
    assert sql.execute("DESCRIBE HISTORY users").count() == 2  # create+insert
    # stale-visibility: stats_version lags after new writes until re-ANALYZE
    sql.execute("INSERT INTO users VALUES (9, 'zed', 0.5)")
    r = sql.execute("DESCRIBE STATS users").collect()[0]
    assert r.stats_version < sql.catalog.load_table("users").head_version()
    with pytest.raises(SqlDialectError):
        sql.execute("ANALYZE TABLE users COMPUTE STATISTICS FOR COLUMNS nope")
    with pytest.raises(SqlDialectError):
        sql.execute("DESCRIBE STATS ghost")


# -------------------------------------------------------------- DROP COLUMN
def test_drop_column_metadata_only_and_guards(sql, spark):
    t = _mk_users(sql)
    files_before = {e.path for e in t.files()}
    rep = sql.execute("ALTER TABLE users DROP COLUMN name").collect()[0]
    assert rep.status == "column-dropped"
    # zero rewrite: the data files are byte-identical
    assert {e.path for e in t.files()} == files_before
    t = sql.catalog.load_table("users")
    assert [f.name for f in t.snapshot().schema.fields] == ["id", "score"]
    rows = {(r.id, r.score) for r in sql.execute("SELECT * FROM users").collect()}
    assert rows == {(1, 1.5), (2, 2.5), (3, 3.5)}
    # time travel BEFORE the drop still sees the column
    r = sql.execute("SELECT name FROM users VERSION AS OF 1 ORDER BY name")
    assert [x.name for x in r.collect()] == ["ann", "bob", "cat"]
    # appends after the drop align to the narrowed schema
    sql.execute("INSERT INTO users VALUES (4, 9.0)")
    assert sql.execute("SELECT count(*) AS n FROM users").collect()[0].n == 4
    # guards: unknown column, constraint refs, partition sources, last column
    with pytest.raises(SqlDialectError):
        sql.execute("ALTER TABLE users DROP COLUMN ghost")
    sql.execute("ALTER TABLE users ADD CONSTRAINT pos CHECK (score >= 0)")
    with pytest.raises(SqlDialectError, match="constraint"):
        sql.execute("ALTER TABLE users DROP COLUMN score")
    sql.execute("ALTER TABLE users DROP CONSTRAINT pos")
    sql.execute("ALTER TABLE users DROP COLUMN score")
    with pytest.raises(SqlDialectError, match="only column"):
        sql.execute("ALTER TABLE users DROP COLUMN id")
    with pytest.raises(SqlDialectError, match="RENAME COLUMN"):
        sql.execute("ALTER TABLE users RENAME COLUMN id TO uid")


def test_drop_column_partition_source_refused(sql):
    sql.execute(
        "CREATE TABLE pev (ts TIMESTAMP, uid BIGINT, v DOUBLE) "
        "PARTITIONED BY (day(ts))"
    )
    with pytest.raises(SqlDialectError, match="partition"):
        sql.execute("ALTER TABLE pev DROP COLUMN ts")
    sql.execute("ALTER TABLE pev DROP COLUMN v")  # non-source drops fine


def test_drop_column_readd_refused_and_attribution_not_inherited(sql):
    t = _mk_users(sql)
    sql.execute("ALTER TABLE users DROP COLUMN name")
    # re-adding the dropped NAME would resurrect old file values — refused
    with pytest.raises(Exception, match="resurrect"):
        sql.execute("ALTER TABLE users ADD COLUMNS (name STRING)")
    # a FRESH name is fine
    sql.execute("ALTER TABLE users ADD COLUMNS (display_name STRING)")
    t = sql.catalog.load_table("users")
    assert [f.name for f in t.snapshot().schema.fields] == [
        "id", "score", "display_name"
    ]
    # one-shot attribution does not inherit; the standing guard does
    sql.execute("INSERT INTO users VALUES (5, 6.5, 'eve')")
    summ = t.snapshot().summary
    assert "dropped_column" not in summ
    assert summ.get("retired_columns") == ["name"]
    # rollback to the pre-drop snapshot restores the column wholesale
    sql.execute("RESTORE TABLE users TO VERSION AS OF 1")
    t = sql.catalog.load_table("users")
    assert "name" in [f.name for f in t.snapshot().schema.fields]
    assert {r.name for r in t.scan().collect()} == {"ann", "bob", "cat"}


def test_drop_column_guards_are_not_text_searches(sql):
    # a column NAMED like a transform keyword must not be falsely refused
    sql.execute(
        "CREATE TABLE kw (day STRING, ts TIMESTAMP, v DOUBLE) "
        "PARTITIONED BY (day(ts))"
    )
    sql.execute("ALTER TABLE kw DROP COLUMN day")
    t = sql.catalog.load_table("kw")
    assert [f.name for f in t.snapshot().schema.fields] == ["ts", "v"]
    with pytest.raises(SqlDialectError, match="partition"):
        sql.execute("ALTER TABLE kw DROP COLUMN ts")
    # a constraint mentioning the name only inside a string literal
    sql.execute("CREATE TABLE lit (status STRING, score DOUBLE)")
    sql.execute("INSERT INTO lit VALUES ('ok', 1.0)")
    sql.execute("ALTER TABLE lit ADD CONSTRAINT k CHECK (status != 'score')")
    sql.execute("ALTER TABLE lit DROP COLUMN score")  # must not be blocked
    assert [f.name for f in sql.catalog.load_table("lit").snapshot().schema.fields] == ["status"]


def test_analyze_branch_ref_refused(sql):
    t = _mk_users(sql)
    t.create_branch("audit")
    sql.execute("INSERT INTO users@audit VALUES (7, 'gus', 7.0)")
    with pytest.raises(SqlDialectError, match="branch"):
        sql.execute("ANALYZE TABLE users@audit COMPUTE STATISTICS")
    with pytest.raises(SqlDialectError, match="branch"):
        sql.execute("DESCRIBE STATS users@audit")
    # main-table stats remain main-table-derived
    sql.execute("ANALYZE TABLE users COMPUTE STATISTICS FOR COLUMNS id WITH EXACT NDV")
    r = sql.execute("DESCRIBE STATS users").collect()[0]
    assert r.row_count == 3 and r.ndv == 3


def test_view_store_name_reserved_and_multiline_create(sql):
    _mk_users(sql)
    sql.execute("CREATE VIEW keepme AS SELECT id FROM users")
    # the view-store directory name cannot be claimed or dropped as a table
    with pytest.raises(SqlDialectError, match="reserved"):
        sql.execute("CREATE TABLE _views (x BIGINT)")
    with pytest.raises(Exception, match="reserved"):
        sql.catalog.drop_table("_views")
    assert [r.viewName for r in sql.execute("SHOW VIEWS").collect()] == ["keepme"]
    # multi-line / multi-space keyword routing
    sql.execute("CREATE OR REPLACE\nVIEW keepme AS\nSELECT id, score FROM users")
    assert sql.execute("SELECT * FROM keepme").columns == ["id", "score"]
    # dotted view names round-trip through SHOW VIEWS as typed
    sql.execute("CREATE VIEW a.b AS SELECT id FROM users")
    assert "a.b" in [r.viewName for r in sql.execute("SHOW VIEWS").collect()]
    assert sql.execute("SELECT count(*) AS n FROM a.b").collect()[0].n == 3


def test_view_names_sharing_a_file_do_not_alias(sql):
    """``a.b`` and ``a_b`` sanitize to one view file: the second name is
    refused, and is never read, replaced or dropped as the first."""
    _mk_users(sql)
    sql.execute("CREATE VIEW a.b AS SELECT id FROM users WHERE id = 1")
    cat = sql.catalog
    assert cat.view_exists("a.b") and not cat.view_exists("a_b")
    with pytest.raises(SqlDialectError, match="collides"):
        sql.execute("CREATE OR REPLACE VIEW a_b AS SELECT id FROM users")
    with pytest.raises(FileNotFoundError):
        cat.view_sql("a_b")
    assert not cat.drop_view("a_b")
    assert [r.viewName for r in sql.execute("SHOW VIEWS").collect()] == ["a.b"]
    assert sql.execute("SELECT count(*) AS n FROM a.b").collect()[0].n == 1
