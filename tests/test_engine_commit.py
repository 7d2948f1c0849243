"""The DML commit path: each validated write stages its batch once as the
next table version, checks every constraint in one aggregate over the
staged files, and either publishes it or deletes it — leaving no cached
relation or persistent RDD behind either way."""

from __future__ import annotations

import json
import os
import threading
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
    "update_from": (
        "UPDATE acct SET bal = src.bal FROM src WHERE acct.id + 2 = src.bal",
        None),
    "update_from_bad": (
        "UPDATE acct SET bal = -src.bal FROM src WHERE acct.id + 2 = src.bal",
        "CHECK violated"),
    "delete_using": (
        "DELETE FROM acct USING src WHERE acct.id + 2 = src.bal", None),
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


def test_verify_skips_null_keys(eng, spark):
    eng.sql("CREATE TABLE t (a INT, b INT, v INT, PRIMARY KEY (a, b))")
    # rows the engine refuses, written into the current version directory
    # behind its back: the drift VERIFY CONSTRAINTS exists for
    spark.createDataFrame(
        [(1, None, 0), (1, None, 1), (2, 5, 2), (2, 5, 3)],
        "a int, b int, v int",
    ).write.mode("append").parquet(eng.catalog.tables["t"].path)
    assert rows(eng.sql("VERIFY CONSTRAINTS t")) == [
        ("t", "not_null", "b", 2),
        ("t", "primary_key", "a, b", 2),
    ]


@pytest.mark.parametrize("stmt,error", [
    ("ALTER TABLE t ADD PRIMARY KEY (a)", r"UNIQUE violated within batch: t\(a\)"),
    ("ALTER TABLE t ADD PRIMARY KEY (a, b)", r"NOT NULL violated: t\.b"),
    ("ALTER TABLE t ADD FOREIGN KEY (a) REFERENCES p (id)",
     r"FK violated: t\(a\) -> p\(id\)"),
], ids=["pk_duplicate", "pk_null", "fk_orphan"])
def test_alter_add_key_checks_existing_rows(eng, stmt, error):
    """As in pg, ALTER ADD PRIMARY KEY / FOREIGN KEY refuses rows that
    break the key, with the DML commit's message, and saves nothing."""
    eng.sql("CREATE TABLE p (id INT PRIMARY KEY)")
    eng.sql("INSERT INTO p VALUES (0), (9)")
    eng.sql("CREATE TABLE t (a INT, b INT, v INT)")
    eng.sql("INSERT INTO t VALUES (1, NULL, 0), (1, 2, 9)")
    catalog = _catalog_json(eng)
    with pytest.raises(EngineError, match=error):
        eng.sql(stmt)
    assert _catalog_json(eng) == catalog
    eng.sql("ALTER TABLE t ADD PRIMARY KEY (v)")
    eng.sql("ALTER TABLE t ADD FOREIGN KEY (v) REFERENCES p (id)")
    meta = eng.catalog.tables["t"]
    assert (meta.primary_key, meta.foreign_keys) == (["v"], [[["v"], "p", ["id"]]])


@pytest.mark.parametrize(
    "stmt", ["UPDATE t SET v = 1 WHERE", "DELETE FROM t WHERE", "DELETE FROM t x"]
)
def test_malformed_update_delete_is_refused(eng, stmt):
    """A statement cut off after WHERE, or with a stray word after the
    table, is an error: never a write of every row."""
    eng.sql("CREATE TABLE t (id INT PRIMARY KEY, v INT)")
    eng.sql("INSERT INTO t VALUES (1, 0)")
    with pytest.raises(EngineError, match="bad (UPDATE|DELETE)"):
        eng.sql(stmt)
    assert rows(eng.sql("SELECT * FROM t")) == [(1, 0)]


def test_default_nextval_numbers_each_row_like_duckdb(eng):
    """A ``DEFAULT nextval('s')`` column draws one value per inserted row,
    reserved from the write's row count like SERIAL."""
    con = duckdb.connect()
    for sql in ("CREATE SEQUENCE s",
                "CREATE TABLE d (id INT, n BIGINT DEFAULT nextval('s'))",
                "INSERT INTO d (id) VALUES (1), (2), (3)"):
        eng.sql(sql)
        con.execute(sql)
    assert rows(eng.sql("SELECT id, n FROM d")) == sorted(
        con.execute("SELECT id, n FROM d").fetchall()
    ) == [(1, 1), (2, 2), (3, 3)]
    assert rows(eng.sql("SELECT nextval('s')")) == con.execute(
        "SELECT nextval('s')"
    ).fetchall() == [(4,)]
    con.close()


def test_merge_insert_fills_defaults_like_duckdb(eng):
    """MERGE's INSERT branch fills omitted columns as INSERT does; DuckDB
    has no MERGE, so its side is the INSERT ... WHERE NOT EXISTS form."""
    con = duckdb.connect()
    for sql in ("CREATE TABLE m (id INT, n INT, tag TEXT DEFAULT 'new')",
                "CREATE TABLE src (id INT, n INT)",
                "INSERT INTO m VALUES (1, 10, 'old')",
                "INSERT INTO src VALUES (1, 11), (2, 20), (3, 30)"):
        eng.sql(sql)
        con.execute(sql)
    eng.sql("MERGE INTO m USING src ON m.id = src.id WHEN NOT MATCHED THEN "
            "INSERT (id, n) VALUES (src.id, src.n)")
    con.execute("INSERT INTO m (id, n) SELECT src.id, src.n FROM src WHERE "
                "NOT EXISTS (SELECT 1 FROM m WHERE m.id = src.id)")
    assert rows(eng.sql("SELECT * FROM m")) == sorted(
        con.execute("SELECT * FROM m").fetchall()
    )
    con.close()


def test_serial_reserves_one_save_per_statement(eng):
    eng.sql("CREATE TABLE s (id SERIAL PRIMARY KEY, v INT)")
    saves = []
    save = eng.catalog.save
    eng.catalog.save = lambda: (saves.append(1), save())
    try:
        eng.sql("INSERT INTO s (v) SELECT id FROM range(50)")
    finally:
        del eng.catalog.save
    # the sequence is advanced by the written row count in the publish's
    # save
    assert len(saves) == 1
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


# -- DML writes without side jobs ------------------------------------------


def _job_split(eng, spark, run) -> dict[str, int]:
    """Jobs started while ``run()`` executes, by where they started: the
    staged write, the UNIQUE query, or anywhere else."""
    sc = spark.sparkContext
    groups = {k: f"{k}-{uuid.uuid4().hex}" for k in ("write", "unique", "other")}

    def in_group(name, fn):
        def wrapped(*args, **kwargs):
            sc.setJobGroup(groups[name], name)
            try:
                return fn(*args, **kwargs)
            finally:
                sc.setJobGroup(groups["other"], "other")
        return wrapped

    eng._write_version = in_group("write", eng._write_version)
    eng._violations = in_group("unique", eng._violations)
    sc.setJobGroup(groups["other"], "other")
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        del eng._write_version, eng._violations
    tracker = sc.statusTracker()
    return {k: len(tracker.getJobIdsForGroup(g)) for k, g in groups.items()}


def _custs(eng):
    eng.sql(
        "CREATE TABLE custs (id SERIAL PRIMARY KEY, key INT NOT NULL UNIQUE, "
        "bal INT CHECK (bal >= 0), seg TEXT NOT NULL)"
    )
    eng.sql("INSERT INTO custs (key, bal, seg) SELECT id, 1, 'a' FROM range(20)")
    eng.sql("CREATE TABLE delta (key INT, bal INT)")
    eng.sql("INSERT INTO delta VALUES (1, 5), (2, 6), (30, 7)")


# statement -> whether it needs the UNIQUE query
ONE_WRITE = {
    "upsert": ("INSERT INTO custs (key, bal, seg) VALUES (1, 9, 'b'), "
               "(40, 9, 'b') ON CONFLICT (key) DO UPDATE SET bal = "
               "excluded.bal", True),
    "serial_insert": ("INSERT INTO custs (key, bal, seg) SELECT id + 100, 2, "
                      "'c' FROM range(5)", True),
    "update_non_key": ("UPDATE custs SET bal = bal + 1 WHERE key < 5", False),
    "merge": ("MERGE INTO custs USING delta ON custs.key = delta.key "
              "WHEN MATCHED THEN UPDATE SET bal = delta.bal "
              "WHEN NOT MATCHED THEN INSERT (id, key, bal, seg) "
              "VALUES (delta.key + 1000, delta.key, delta.bal, 'd')", True),
    "merge_update_only": ("MERGE INTO custs USING delta ON custs.key = "
                          "delta.key WHEN MATCHED THEN UPDATE SET bal = "
                          "delta.bal", False),
    "update_from": ("UPDATE custs SET bal = delta.bal FROM delta WHERE "
                    "custs.key = delta.key", False),
    "delete_using": ("DELETE FROM custs USING delta WHERE custs.key = "
                     "delta.key", False),
}


@pytest.mark.parametrize(
    "stmt,unique", list(ONE_WRITE.values()), ids=list(ONE_WRITE)
)
def test_dml_runs_no_job_besides_its_write(eng, spark, stmt, unique):
    """Counts, row checks, MERGE statistics and SERIAL reservations come
    from the write itself; the UNIQUE query runs only for a statement that
    can add a key, and nothing else runs a job."""
    _custs(eng)
    jobs = _job_split(eng, spark, lambda: eng.sql(stmt).collect())
    assert jobs["write"] >= 1
    assert jobs["other"] == 0
    assert (jobs["unique"] > 0) == unique


def _within(seconds, fn):
    """``fn()``'s result, or a failure if it has not returned in time
    (an observer the plan lost would leave ``Observation.get`` waiting)."""
    out = {}

    def run():
        try:
            out["value"] = fn()
        except BaseException as e:  # re-raised in the test's thread
            out["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"no result after {seconds}s"
    if "error" in out:
        raise out["error"]
    return out["value"]


EMPTY = {
    "insert_where_false": "INSERT INTO custs (key, bal, seg) SELECT id, 1, "
                          "'e' FROM range(3) WHERE false",
    "on_conflict_nothing_empty": "INSERT INTO custs (key, bal, seg) SELECT "
                                 "id, 1, 'e' FROM range(3) WHERE false ON "
                                 "CONFLICT (key) DO NOTHING",
    "upsert_empty": "INSERT INTO custs (key, bal, seg) SELECT id, 1, 'e' "
                    "FROM range(3) WHERE false ON CONFLICT (key) DO UPDATE "
                    "SET bal = excluded.bal",
    "merge_on_false": "MERGE INTO custs USING delta ON FALSE WHEN MATCHED "
                      "THEN UPDATE SET bal = delta.bal",
    "merge_matched_and_false": "MERGE INTO custs USING delta ON custs.key = "
                               "delta.key WHEN MATCHED AND FALSE THEN "
                               "UPDATE SET bal = delta.bal",
    "merge_empty_target": "MERGE INTO blank USING delta ON blank.key = "
                          "delta.key WHEN MATCHED THEN UPDATE SET bal = "
                          "delta.bal",
    "merge_empty_source": "MERGE INTO custs USING blank ON custs.key = "
                          "blank.key WHEN MATCHED THEN UPDATE SET bal = "
                          "blank.bal WHEN NOT MATCHED THEN INSERT (id, key, "
                          "bal, seg) VALUES (blank.key, blank.key, blank.bal, "
                          "'n')",
    "update_from_empty": "UPDATE custs SET bal = blank.bal FROM blank WHERE "
                         "custs.key = blank.key",
    "delete_using_empty": "DELETE FROM custs USING blank WHERE custs.key = "
                          "blank.key",
}


@pytest.mark.parametrize("stmt", list(EMPTY.values()), ids=list(EMPTY))
def test_observers_report_zero_rows(eng, stmt):
    """Every observer of a write that touches no row still reports, and
    reports 0: none is lost with an empty input or a constant-false
    condition. The tables and the SERIAL sequence are left as they were."""
    _custs(eng)
    eng.sql("CREATE TABLE blank (id INT PRIMARY KEY, key INT, bal INT, "
            "seg TEXT)")
    before = rows(eng.sql("SELECT * FROM custs"))
    seq = eng.catalog.currval("custs_id_seq")
    out = _within(120, lambda: rows(eng.sql(stmt)))
    assert [r[1] for r in out] == [0]
    assert rows(eng.sql("SELECT * FROM custs")) == before
    assert rows(eng.sql("SELECT * FROM blank")) == []
    assert eng.catalog.currval("custs_id_seq") == seq


@pytest.mark.parametrize("key", [1, 77], ids=["key_in_table", "key_new"])
def test_upsert_duplicate_key_leaves_table(eng, key):
    """Two batch rows with one conflict key raise pg's message whether the
    key is in the table (one target row matched twice, seen on the write)
    or new (a duplicate in the merged table, seen by the UNIQUE query);
    the table and its versions are left as they were."""
    eng.sql("CREATE TABLE u (id INT PRIMARY KEY, v TEXT, g TEXT) "
            "PARTITION BY LIST (g)")
    eng.sql("INSERT INTO u VALUES (1, 'a', 'x'), (2, 'b', 'y')")
    meta = eng.catalog.tables["u"]
    path, before = meta.path, rows(eng.sql("SELECT * FROM u"))
    with pytest.raises(EngineError, match="cannot affect row a second time"):
        eng.sql(
            f"INSERT INTO u VALUES ({key}, 'p', 'x'), ({key}, 'q', 'y') "
            "ON CONFLICT (id) DO UPDATE SET v = excluded.v"
        )
    assert meta.path == path
    assert not os.path.exists(eng._next_version(meta))
    assert rows(eng.sql("SELECT * FROM u")) == before


def test_upsert_needs_a_unique_conflict_target(eng):
    eng.sql("CREATE TABLE u (id INT PRIMARY KEY, a INT, b INT, UNIQUE (a, b))")
    eng.sql("INSERT INTO u VALUES (1, 1, 1)")
    with pytest.raises(EngineError, match="no unique or exclusion constraint"):
        eng.sql("INSERT INTO u VALUES (2, 1, 2) ON CONFLICT (a) DO UPDATE "
                "SET b = excluded.b")
    # a UNIQUE set in any column order is a valid target
    eng.sql("INSERT INTO u VALUES (3, 1, 1) ON CONFLICT (b, a) DO UPDATE "
            "SET id = excluded.id")
    assert rows(eng.sql("SELECT * FROM u")) == [(3, 1, 1)]


def test_failed_serial_insert_consumes_its_values(eng, tmp_path):
    """As in pg, values drawn by a statement that fails after its write
    stay consumed: the next insert numbers on from them."""
    _setup(eng, tmp_path)
    assert eng.catalog.currval("acct_id_seq") == 2
    with pytest.raises(EngineError, match="CHECK violated"):
        eng.sql("INSERT INTO acct (email, name, bal) SELECT email, name, "
                "-bal FROM src")
    assert eng.catalog.currval("acct_id_seq") == 4
    eng.sql("INSERT INTO acct (email, name, bal) VALUES ('q@x', 'q', 0)")
    assert rows(eng.sql("SELECT id FROM acct WHERE email = 'q@x'")) == [(5,)]


def test_repeated_serial_insert_and_upsert_compile_nothing(eng, spark):
    """A SERIAL insert's offset and an upsert's batch do not enter the
    generated code: once a table holds rows, repeating either statement
    with new values compiles no class."""
    eng.sql("CREATE TABLE s (id SERIAL PRIMARY KEY, k INT, v INT)")
    eng.sql("CREATE TABLE u (id SERIAL PRIMARY KEY, k INT UNIQUE, v INT)")
    for stmt in (
        "INSERT INTO s (k, v) SELECT id, id FROM range(20)",
        "INSERT INTO u (k, v) VALUES (0, {i}), ({i} + 1000, 2) ON CONFLICT "
        "(k) DO UPDATE SET v = excluded.v",
    ):
        for i in range(3):
            before = _compiles(spark)
            eng.sql(stmt.format(i=i))
        assert _compiles(spark) - before == 0, stmt


# -- UPDATE ... FROM and DELETE ... USING against DuckDB ---------------------

# shape -> (UPDATE ... FROM, DELETE ... USING), each run on a fresh target
JOINED = {
    "one_relation": (
        "UPDATE t SET v = s.delta FROM s WHERE t.id = s.id",
        "DELETE FROM t USING s WHERE t.id = s.id"),
    "aliased": (
        "UPDATE t SET v = t.v + x.delta FROM s AS x WHERE t.id = x.id",
        "DELETE FROM t USING s x WHERE x.id = t.id"),
    "two_relations": (
        "UPDATE t SET v = s.delta, g = w.tag FROM s, w WHERE t.id = s.id "
        "AND s.id = w.id",
        "DELETE FROM t USING s, w WHERE t.id = s.id AND w.id = s.id"),
    "explicit_join": (
        "UPDATE t SET v = s.delta FROM s JOIN w ON s.id = w.id WHERE "
        "t.id = s.id",
        "DELETE FROM t USING s JOIN w ON s.id = w.id WHERE t.id = s.id"),
    "non_equi": (
        "UPDATE t SET v = s.delta FROM s WHERE t.id > s.id AND t.id < s.id + 2",
        "DELETE FROM t USING s WHERE t.v * 10 > s.delta"),
    "null_keys": (
        "UPDATE t SET v = s.delta FROM s WHERE t.k = s.k",
        "DELETE FROM t USING s WHERE t.k = s.k"),
    "returning": (
        "UPDATE t SET v = s.delta FROM s WHERE t.id = s.id RETURNING id, v, g",
        "DELETE FROM t USING s WHERE t.id = s.id RETURNING id, v"),
    "partitioned": (
        "UPDATE t SET v = s.delta, g = 'c' FROM s WHERE t.k = s.k",
        "DELETE FROM t USING s WHERE t.k = s.k OR s.delta = t.v * 25"),
}


@pytest.mark.parametrize("shape", list(JOINED), ids=list(JOINED))
def test_joined_dml_matches_duckdb(eng, shape):
    """pg's joined UPDATE and DELETE touch the rows, report the counts or
    RETURNING rows and leave the table that DuckDB does."""
    part = " PARTITION BY LIST (g)" if shape == "partitioned" else ""
    setup = [
        "CREATE TABLE s (id INT, k INT, delta INT)",
        "INSERT INTO s VALUES (1, 1, 100), (3, NULL, 300), (5, 4, 500)",
        "CREATE TABLE w (id INT, tag TEXT)",
        "INSERT INTO w VALUES (1, 'x'), (3, 'y')",
    ]
    table = "CREATE TABLE t (id INT PRIMARY KEY, k INT, v INT, g TEXT)"
    fill = ("INSERT INTO t VALUES (1, 1, 10, 'a'), (2, NULL, 20, 'b'), "
            "(3, 3, 30, 'a'), (4, 4, 40, 'b')")
    con = duckdb.connect()
    for sql in setup:
        eng.sql(sql)
        con.execute(sql)
    for stmt in JOINED[shape]:
        eng.sql("DROP TABLE IF EXISTS t")
        eng.sql(table + part)
        eng.sql(fill)
        con.execute("DROP TABLE IF EXISTS t")
        con.execute(table.replace(" PRIMARY KEY", ""))
        con.execute(fill)
        got = rows(eng.sql(stmt))
        want = sorted(con.execute(stmt).fetchall())
        if "RETURNING" not in stmt:
            got = [(n,) for _, n in got]
        assert got == want, stmt
        assert rows(eng.sql("SELECT * FROM t")) == sorted(
            con.execute("SELECT * FROM t").fetchall()
        ), stmt
    con.close()


# -- column names, generated columns and literals ---------------------------

def test_column_lists_fold_to_table_columns_like_duckdb(eng):
    """INSERT and MERGE column lists fold to the table's columns, as pg
    and DuckDB fold unquoted identifiers: ``id`` names the column ``Id``.
    DuckDB has no MERGE; its side is INSERT ... WHERE NOT EXISTS."""
    con = duckdb.connect()
    for sql in ("CREATE TABLE mc (Id INT PRIMARY KEY, Val INT)",
                "CREATE TABLE src (id INT, v INT)",
                "INSERT INTO mc (id, val) VALUES (1, 1)",
                "INSERT INTO src VALUES (1, 10), (2, 20)"):
        eng.sql(sql)
        con.execute(sql)
    eng.sql("MERGE INTO mc USING src ON mc.id = src.id WHEN NOT MATCHED "
            "THEN INSERT (Id, Val) VALUES (src.id, src.v)")
    con.execute("INSERT INTO mc (Id, Val) SELECT src.id, src.v FROM src "
                "WHERE NOT EXISTS (SELECT 1 FROM mc WHERE mc.id = src.id)")
    assert rows(eng.sql("SELECT * FROM mc")) == sorted(
        con.execute("SELECT * FROM mc").fetchall()
    ) == [(1, 1), (2, 20)]
    con.close()


def test_merge_and_upsert_compute_generated_columns_like_duckdb(eng):
    """MERGE and the upsert store a generated column computed from the
    merged row. DuckDB has neither MERGE nor STORED columns: its side is
    UPDATE ... FROM plus INSERT ... WHERE NOT EXISTS over a VIRTUAL
    column, compared on what a read returns."""
    con = duckdb.connect()
    ddl = ("CREATE TABLE g (id INT PRIMARY KEY, a INT, "
           "d INT GENERATED ALWAYS AS (a * 2) {})")
    eng.sql(ddl.format("STORED"))
    con.execute(ddl.format("VIRTUAL"))
    for sql in ("CREATE TABLE gs (id INT, a INT)",
                "INSERT INTO g (id, a) VALUES (1, 1)",
                "INSERT INTO gs VALUES (1, 5), (2, 7)"):
        eng.sql(sql)
        con.execute(sql)
    eng.sql("MERGE INTO g USING gs ON g.id = gs.id "
            "WHEN MATCHED THEN UPDATE SET a = gs.a "
            "WHEN NOT MATCHED THEN INSERT (id, a) VALUES (gs.id, gs.a)")
    con.execute("UPDATE g SET a = gs.a FROM gs WHERE g.id = gs.id")
    con.execute("INSERT INTO g (id, a) SELECT id, a FROM gs "
                "WHERE NOT EXISTS (SELECT 1 FROM g WHERE g.id = gs.id)")
    assert rows(eng.sql("SELECT * FROM g")) == sorted(
        con.execute("SELECT * FROM g").fetchall()
    ) == [(1, 5, 10), (2, 7, 14)]
    upsert = ("INSERT INTO g (id, a) VALUES (2, 8), (3, 9) "
              "ON CONFLICT (id) DO UPDATE SET a = excluded.a + 1")
    eng.sql(upsert)
    con.execute(upsert)
    assert rows(eng.sql("SELECT * FROM g")) == sorted(
        con.execute("SELECT * FROM g").fetchall()
    ) == [(1, 5, 10), (2, 9, 18), (3, 9, 18)]
    con.close()


def test_rowid_route_leaves_string_literals_alone_like_duckdb(eng):
    """A statement naming ``rowid`` reads the table's raw view; a string
    literal equal to the table name stays a literal."""
    con = duckdb.connect()
    create = "CREATE TABLE t AS SELECT 1 AS a, 't' AS name"
    eng.sql(create)
    con.execute(create)
    q = "SELECT rowid IS NOT NULL, name, 't' AS lit FROM t WHERE name = 't'"
    assert rows(eng.sql(q)) == con.execute(q).fetchall() == [
        (True, "t", "t")
    ]
    con.close()
