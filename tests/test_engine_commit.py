"""The DML commit path: each validated write stages its batch once as the
next table version, checks every constraint in one aggregate over the
staged files, and either publishes it or deletes it — leaving no cached
relation or persistent RDD behind either way."""

from __future__ import annotations

import json
import os
import uuid

import duckdb
import pytest

from cassandra_sql_spark.engine import Engine, EngineError


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, warehouse=str(tmp_path / "wh"))


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def _held(spark):
    """(cached relations, ids of persistent RDDs) of the session. RDD ids,
    not a count: an earlier test's RDD may be cleaned up meanwhile."""
    cached = spark._jsparkSession.sharedState().cacheManager() \
        .numCachedEntries()
    return cached, set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _catalog_json(eng):
    """The saved catalog without its sequences: as in pg, values a failed
    statement drew from a sequence stay consumed."""
    with open(eng.catalog._meta_path) as fh:
        raw = json.load(fh)
    raw.pop("sequences")
    return raw


def _setup(eng, tmp_path):
    eng.sql(
        "CREATE TABLE acct (id SERIAL PRIMARY KEY, email TEXT UNIQUE, "
        "name TEXT NOT NULL, bal INT CHECK (bal >= 0))"
    )
    eng.sql(
        "INSERT INTO acct (email, name, bal) VALUES ('a@x', 'a', 1), "
        "('b@x', 'b', 2)"
    )
    eng.sql("CREATE TABLE src (email TEXT, name TEXT, bal INT)")
    eng.sql("INSERT INTO src VALUES ('c@x', 'c', 3), ('d@x', 'd', 4)")
    for name, line in (("ok", "10,j@x,j,1"), ("bad", "11,k@x,k,-1")):
        with open(tmp_path / f"{name}.csv", "w") as fh:
            fh.write(line + "\n")


_MERGE = (
    "MERGE INTO acct USING src ON acct.email = src.email "
    "WHEN NOT MATCHED THEN INSERT (email, name, bal) VALUES "
)

# id -> (statement, error it raises or None); {d} is the CSV directory
STATEMENTS = {
    "insert_values": ("INSERT INTO acct VALUES (10, 'e@x', 'e', 5)", None),
    "insert_values_bad": (
        "INSERT INTO acct VALUES (11, 'f@x', 'f', -1)", "CHECK violated"),
    "serial_insert_select": (
        "INSERT INTO acct (email, name, bal) SELECT email, name, bal "
        "FROM src", None),
    "serial_insert_select_bad": (
        "INSERT INTO acct (email, name, bal) SELECT email, name, -bal "
        "FROM src", "CHECK violated"),
    "on_conflict_nothing": (
        "INSERT INTO acct VALUES (1, 'z@x', 'z', 0), (20, 'g@x', 'g', 1) "
        "ON CONFLICT (id) DO NOTHING", None),
    "on_conflict_nothing_bad": (
        "INSERT INTO acct VALUES (21, 'h@x', 'h', -5) "
        "ON CONFLICT (id) DO NOTHING", "CHECK violated"),
    "on_conflict_update": (
        "INSERT INTO acct VALUES (1, 'a@x', 'a', 7) "
        "ON CONFLICT (id) DO UPDATE SET bal = excluded.bal", None),
    "on_conflict_update_bad": (
        "INSERT INTO acct VALUES (1, 'a@x', 'a', -7) "
        "ON CONFLICT (id) DO UPDATE SET bal = excluded.bal",
        "CHECK violated"),
    "update": ("UPDATE acct SET bal = bal + 1 WHERE id = 1", None),
    "update_bad": ("UPDATE acct SET bal = -1 WHERE id = 1", "CHECK violated"),
    "delete": ("DELETE FROM acct WHERE id = 2", None),
    "merge": (_MERGE + "(src.email, src.name, src.bal)", None),
    "merge_bad": (_MERGE + "(src.email, NULL, src.bal)", "NOT NULL violated"),
    "copy_from": ("COPY acct FROM '{d}/ok.csv'", None),
    "copy_from_bad": ("COPY acct FROM '{d}/bad.csv'", "CHECK violated"),
}


@pytest.mark.parametrize(
    "stmt,error", list(STATEMENTS.values()), ids=list(STATEMENTS)
)
def test_dml_leaves_nothing_cached(eng, spark, tmp_path, stmt, error):
    _setup(eng, tmp_path)
    stmt = stmt.format(d=tmp_path)
    meta = eng.catalog.tables["acct"]
    path = meta.path
    catalog = _catalog_json(eng)
    before = rows(eng.sql("SELECT * FROM acct"))
    cached0, rdds0 = _held(spark)
    if error is None:
        eng.sql(stmt).collect()
        assert meta.path != path
    else:
        with pytest.raises(EngineError, match=error):
            eng.sql(stmt)
    cached1, rdds1 = _held(spark)
    assert cached1 == cached0
    assert rdds1 - rdds0 == set()
    if error is not None:
        # a failed statement leaves pointer, catalog, rows and disk as-is
        assert meta.path == path
        assert _catalog_json(eng) == catalog
        assert rows(eng.sql("SELECT * FROM acct")) == before
        assert not os.path.exists(eng._next_version(meta))


def test_check_error_comes_before_not_null(eng, tmp_path):
    _setup(eng, tmp_path)
    with pytest.raises(EngineError, match="CHECK violated"):
        eng.sql("INSERT INTO acct VALUES (30, 'm@x', NULL, -1)")


def test_insert_returning_gives_the_published_rows(eng, tmp_path):
    _setup(eng, tmp_path)
    out = eng.sql(
        "INSERT INTO acct (email, name, bal) VALUES ('n@x', 'n', 9) "
        "RETURNING *"
    )
    assert rows(out) == [(3, "n@x", "n", 9)]


def test_small_insert_runs_few_spark_jobs(eng, spark):
    eng.sql(
        "CREATE TABLE u (id INT PRIMARY KEY, email TEXT UNIQUE, "
        "a TEXT NOT NULL, b TEXT NOT NULL, qty INT NOT NULL CHECK (qty > 0))"
    )
    eng.sql("INSERT INTO u VALUES (1, 'a@x', 'a', 'b', 1)")
    sc = spark.sparkContext
    group = f"commit-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "2-row insert")
    try:
        eng.sql(
            "INSERT INTO u VALUES (2, 'b@x', 'a', 'b', 2), "
            "(3, 'c@x', 'a', 'b', 3)"
        ).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6


def test_unique_null_keys_are_distinct_like_duckdb(eng):
    ddl = "CREATE TABLE u (id INT PRIMARY KEY, email TEXT UNIQUE)"
    batches = ["INSERT INTO u VALUES (1, NULL), (2, NULL)",
               "INSERT INTO u VALUES (3, NULL), (4, 'a@x')"]
    con = duckdb.connect()
    for sql in [ddl] + batches:
        eng.sql(sql)
        con.execute(sql)
    assert rows(eng.sql("SELECT id, email FROM u")) == sorted(
        con.execute("SELECT id, email FROM u").fetchall()
    )
    con.close()
    with pytest.raises(EngineError, match="UNIQUE violated: u"):
        eng.sql("INSERT INTO u VALUES (5, 'a@x')")
    with pytest.raises(EngineError, match="UNIQUE violated within batch"):
        eng.sql("INSERT INTO u VALUES (6, 'b@x'), (7, 'b@x')")


def test_verify_skips_null_keys(eng):
    eng.sql("CREATE TABLE t (a INT, b INT, v INT)")
    eng.sql(
        "INSERT INTO t VALUES (1, NULL, 0), (1, NULL, 1), (2, 5, 2), "
        "(2, 5, 3)"
    )
    eng.sql("ALTER TABLE t ADD PRIMARY KEY (a, b)")
    assert rows(eng.sql("VERIFY CONSTRAINTS t")) == [
        ("t", "not_null", "b", 2),
        ("t", "primary_key", "a, b", 2),
    ]


def test_serial_reserves_one_save_per_statement(eng):
    eng.sql("CREATE TABLE s (id SERIAL PRIMARY KEY, v INT)")
    saves = []
    save = eng.catalog.save
    eng.catalog.save = lambda: (saves.append(1), save())
    try:
        eng.sql("INSERT INTO s (v) SELECT id FROM range(50)")
    finally:
        del eng.catalog.save
    # one sequence reservation + one version publish
    assert len(saves) == 2
    assert rows(eng.sql("SELECT min(id), max(id), count(DISTINCT id) FROM s")) \
        == [(1, 50, 50)]
    assert eng.catalog.nextval("s_id_seq", 3) == 51
    assert eng.catalog.currval("s_id_seq") == 53


def test_pg_catalog_built_on_first_read(eng):
    built = []
    build = eng._register_pg_catalog
    eng._register_pg_catalog = lambda: (built.append(1), build())
    eng.sql("CREATE TABLE p1 (id INT PRIMARY KEY); CREATE TABLE p2 (id INT)")
    eng.sql("INSERT INTO p1 VALUES (1)")
    assert built == []
    out = eng.sql("SELECT relname FROM pg_class WHERE relkind = 'r'")
    assert rows(out) == [("p1",), ("p2",)]
    eng.sql("SELECT count(*) FROM pg_attribute")
    assert built == [1]
