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


def test_create_table_runs_no_spark_job(eng, spark):
    sc = spark.sparkContext
    group = f"create-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "create table")
    try:
        eng.sql(
            "CREATE TABLE c (id INT PRIMARY KEY, name TEXT NOT NULL, "
            "region TEXT) PARTITION BY LIST (region)"
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    out = eng.sql("SELECT * FROM c")
    assert out.columns == ["id", "name", "region"]
    assert rows(out) == []
    # the first write publishes v2; v1 stays the empty snapshot
    eng.sql("INSERT INTO c VALUES (1, 'a', 'eu')")
    assert eng.catalog.tables["c"].path.endswith("/v2")
    assert rows(eng.sql("SELECT * FROM c VERSION AS OF 1")) == []
    assert rows(eng.sql("SELECT id FROM c VERSION AS OF 2")) == [(1,)]
    eng.sql("VACUUM c")
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql("SELECT * FROM c VERSION AS OF 1")


def _jobs(spark, run):
    """Spark jobs started while ``run()`` executes (a job group)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_ctas_counts_rows_on_its_write(eng, spark):
    """CTAS takes its status count from an Observation on the write
    instead of re-reading v1: the count is right, an empty SELECT gives
    0 and leaves the rowid sequence at 1, and the statement runs no more
    than the write's own jobs (the re-read took 3 more)."""
    eng.sql("CREATE TABLE src (id INT PRIMARY KEY, g INT)")
    eng.sql("INSERT INTO src SELECT id, id % 7 FROM range(300)")
    out, n_jobs = _jobs(spark, lambda: eng.sql(
        "CREATE TABLE grp AS SELECT g, count(*) AS n FROM src GROUP BY g"
    ))
    assert rows(out) == [("create table grp as select", 7)]
    assert n_jobs <= 3
    assert rows(eng.sql("SELECT sum(n) FROM grp")) == [(300,)]
    out = eng.sql("CREATE TABLE empty AS SELECT g FROM src WHERE g > 100")
    assert rows(out) == [("create table empty as select", 0)]
    assert eng.catalog.nextval("empty_rowid_seq") == 1
    assert eng.catalog.nextval("grp_rowid_seq") == 8


# -- statement results: VALUES relations, no Spark job ---------------------

RESULT_STATEMENTS = {
    "create_table": "CREATE TABLE r2 (id INT PRIMARY KEY, v TEXT)",
    "insert": "INSERT INTO r VALUES (3, 'c')",
    "upsert": "INSERT INTO r VALUES (1, 'z') ON CONFLICT (id) DO UPDATE "
              "SET v = excluded.v",
    "delete": "DELETE FROM r WHERE id = 2",
    "truncate": "TRUNCATE r",
    "vacuum": "VACUUM r",
    "set": "SET my.result.key = 'x'",
    "show": "SHOW timezone",
    "explain_analyze": "EXPLAIN ANALYZE SELECT v, count(*) FROM r GROUP BY v",
}


@pytest.mark.parametrize(
    "stmt", list(RESULT_STATEMENTS.values()), ids=list(RESULT_STATEMENTS)
)
def test_statement_result_collects_without_a_job(eng, spark, stmt):
    """A statement's answer is built on the driver: collecting it runs no
    Spark job beyond the statement's own work (a Python-RDD frame ran one
    job of 4 tasks per collect)."""
    eng.sql("CREATE TABLE r (id INT PRIMARY KEY, v TEXT)")
    eng.sql("INSERT INTO r VALUES (1, 'a'), (2, 'b')")
    out = eng.sql(stmt)
    got, n_jobs = _jobs(spark, out.collect)
    assert got
    assert n_jobs == 0


_AWKWARD = "it's a \\ \"quoted\" ünïcödé ✓ 'x''"


@pytest.mark.parametrize("ansi", ["false", "true"])
def test_result_text_round_trips(eng, spark, ansi):
    """Status, SHOW and EXPLAIN text holding quotes, backslashes and
    non-ASCII comes back exactly, with the types the results always had,
    whatever the session's string-literal and ANSI settings."""
    from cassandra_sql_spark.literals import values_frame

    keys = ("spark.sql.ansi.enabled", "spark.sql.parser.escapedStringLiterals")
    old = {k: spark.conf.get(k) for k in keys}
    spark.conf.set(keys[0], ansi)
    spark.conf.set(keys[1], "true")
    try:
        status = eng._status(_AWKWARD, 7)
        assert status.schema.simpleString() == (
            "struct<status:string,rows:bigint>"
        )
        assert [tuple(r) for r in status.collect()] == [(_AWKWARD, 7)]
        spark.conf.set("my.awkward", _AWKWARD)
        shown = eng.sql("SHOW my.awkward")
        assert shown.schema.simpleString() == "struct<setting:string>"
        assert shown.collect()[0][0] == _AWKWARD
        lines = [(_AWKWARD,), ("",), (None,)]
        plan = values_frame(spark, lines, "plan string")
        assert [tuple(r) for r in plan.collect()] == lines
        for ddl, data in (
            ("status string, rows bigint", [(_AWKWARD, 7), ("ok", -1)]),
            ("oid bigint, relname string, attnum int, attnotnull boolean, "
             "null_frac double", [(16384, "t", 1, True, 0.25)]),
            ("table_name string, constraint_type string, constraint "
             "string, n_violations long", []),
            ("_id bigint, _v array<double>", [(0, [0.1, -0.0, 1e-300])]),
        ):
            built = values_frame(spark, data, ddl)
            assert built.schema == spark.createDataFrame(data, ddl).schema
            assert [tuple(r) for r in built.collect()] == data
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize("stmt", ["TRUNCATE t", "DELETE FROM t"])
def test_emptying_a_table_keeps_versions(eng, stmt):
    """TRUNCATE and an unfiltered DELETE publish an empty version that
    reads 0 rows; the versions before it stay readable."""
    eng.sql("CREATE TABLE t (id INT PRIMARY KEY, g TEXT) "
            "PARTITION BY LIST (g)")
    eng.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    out = eng.sql(stmt)
    assert rows(out)[0][1] == (-1 if stmt.startswith("TRUNCATE") else 2)
    assert eng.catalog.tables["t"].path.endswith("/v3")
    assert rows(eng.sql("SELECT * FROM t")) == []
    assert rows(eng.sql("SELECT * FROM t VERSION AS OF 3")) == []
    assert rows(eng.sql("SELECT * FROM t VERSION AS OF 2")) == [
        (1, "a"), (2, "b")
    ]
    eng.sql("INSERT INTO t VALUES (3, 'c')")
    assert rows(eng.sql("SELECT * FROM t")) == [(3, "c")]


@pytest.mark.parametrize(
    "stmt,n",
    [
        ("DELETE FROM t WHERE v > 1", 2),
        ("DELETE FROM t WHERE 1 = 1", 3),
        ("DELETE FROM t WHERE NULL", 0),
        ("UPDATE t SET v = v + 10 WHERE v > 1", 2),
        ("UPDATE t SET v = 0 WHERE TRUE", 3),
        ("UPDATE t SET v = 0 WHERE v IS NULL", 0),
        ("UPDATE t SET v = 0", 3),
    ],
)
def test_dml_counts_come_from_the_write(eng, spark, stmt, n):
    """DELETE and UPDATE count their rows on the write they run, also
    when the predicate folds to a constant, in fewer jobs than the
    separate count took."""
    eng.sql("CREATE TABLE t (id INT PRIMARY KEY, v INT)")
    eng.sql("INSERT INTO t VALUES (1, 1), (2, 2), (3, 3)")
    out, n_jobs = _jobs(spark, lambda: eng.sql(stmt).collect())
    assert out[0][1] == n
    assert n_jobs <= (1 if stmt.startswith("DELETE") else 4)


def test_dml_counts_on_an_empty_table(eng):
    eng.sql("CREATE TABLE e (id INT PRIMARY KEY, v INT)")
    assert rows(eng.sql("DELETE FROM e WHERE v > 0")) == [("delete e", 0)]
    assert rows(eng.sql("UPDATE e SET v = 1")) == [("update e", 0)]
    assert rows(eng.sql("DELETE FROM e")) == [("delete e", 0)]


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_unique_check_compiles_once(eng, spark):
    """Appends into a table with UNIQUE sets reuse the classes the
    earlier appends compiled: the UNIQUE counts do not depend on
    expression ids (count_distinct aggregates expanded in exprId-hash
    order, so each append compiled new classes)."""
    eng.sql(
        "CREATE TABLE k (id INT PRIMARY KEY, email TEXT UNIQUE, "
        "a INT, b INT, UNIQUE (a, b))"
    )
    for i in range(3):
        before = _compiles(spark)
        eng.sql(
            f"INSERT INTO k VALUES ({2 * i}, 'e{2 * i}', {i}, 0), "
            f"({2 * i + 1}, 'e{2 * i + 1}', {i}, 1)"
        )
    assert _compiles(spark) - before == 0
    with pytest.raises(EngineError, match=r"UNIQUE violated: k\(email\)"):
        eng.sql("INSERT INTO k VALUES (9, 'e1', 9, 9)")
    with pytest.raises(EngineError, match=r"within batch: k\(a,b\)"):
        eng.sql("INSERT INTO k VALUES (10, 'x', 7, 7), (11, 'y', 7, 7)")


def test_status_store_history_is_capped(eng, spark):
    """The session keeps at most ``spark.sql.ui.retainedExecutions`` SQL
    executions in its status store, however many statements ran."""
    cap = int(spark.conf.get("spark.sql.ui.retainedExecutions"))
    assert cap <= 100
    for _ in range(cap + 10):
        eng.sql("SELECT 1").collect()
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(60_000)
    store = spark._jsparkSession.sharedState().statusStore()
    assert store.executionsCount() <= cap
