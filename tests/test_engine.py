"""Engine facade tests — the reference's integration-test style (SQL in,
rows out; SURVEY §5) over our managed-table engine: DDL, constraints,
identity, enums, sequences, DML, views, MVs, COPY, EXPLAIN, pg-isms."""

from __future__ import annotations

import os

import pytest

from cassandra_sql_spark.engine import Engine, EngineError


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, warehouse=str(tmp_path / "wh"))


def rows(df):
    return [tuple(r) for r in df.collect()]


def test_create_insert_select(eng):
    eng.sql("CREATE TABLE users (id INT PRIMARY KEY, name TEXT)")
    eng.sql("INSERT INTO users VALUES (1, 'alice'), (2, 'bob')")
    out = rows(eng.sql("SELECT name FROM users ORDER BY id"))
    assert out == [("alice",), ("bob",)]


def test_multi_statement_script(eng):
    out = eng.sql(
        """
        CREATE TABLE t (id INT, v TEXT);
        INSERT INTO t VALUES (1, 'x');
        SELECT COUNT(*) AS n FROM t;
        """
    )
    assert rows(out) == [(1,)]


def test_error_names_the_failing_statement(eng):
    script = (
        "CREATE TABLE t (id INT PRIMARY KEY);\n"
        "INSERT INTO t VALUES (1), (1);\n"
        "SELECT * FROM t"
    )
    with pytest.raises(EngineError, match="UNIQUE violated") as err:
        eng.sql(script)
    assert err.value.__notes__ == [
        "in statement 2: INSERT INTO t VALUES (1), (1)"
    ]
    assert rows(eng.sql("SELECT * FROM t")) == []
    # Spark's own errors get the note too, with the text cut at 200 chars
    long = "SELECT nosuch FROM t WHERE " + " OR ".join(["id = 1"] * 40)
    with pytest.raises(Exception, match="nosuch") as err:
        eng.sql(long)
    assert err.value.__notes__ == [f"in statement 1: {long[:200]}"]


def test_serial_identity(eng):
    # reference SERIAL auto-increment (kv/SchemaManager.java:736)
    eng.sql("CREATE TABLE s (id SERIAL PRIMARY KEY, v TEXT)")
    eng.sql("INSERT INTO s (v) VALUES ('a'), ('b')")
    eng.sql("INSERT INTO s (v) VALUES ('c')")
    out = rows(eng.sql("SELECT id, v FROM s ORDER BY id"))
    assert out == [(1, "a"), (2, "b"), (3, "c")]


def test_enum_validation(eng):
    # reference ENUM domain check (kv/KvQueryExecutor.java:4276)
    eng.sql("CREATE TYPE mood AS ENUM ('happy','sad')")
    eng.sql("CREATE TABLE m (id INT, feeling mood)")
    eng.sql("INSERT INTO m VALUES (1, 'happy')")
    with pytest.raises(EngineError, match="invalid mood"):
        eng.sql("INSERT INTO m VALUES (2, 'angry')")
    assert rows(eng.sql("SELECT COUNT(*) AS n FROM m")) == [(1,)]


def test_not_null_and_unique(eng):
    eng.sql("CREATE TABLE u (id INT PRIMARY KEY, email TEXT NOT NULL UNIQUE)")
    eng.sql("INSERT INTO u VALUES (1, 'a@x.com')")
    with pytest.raises(EngineError, match="NOT NULL"):
        eng.sql("INSERT INTO u VALUES (2, NULL)")
    with pytest.raises(EngineError, match="UNIQUE"):
        eng.sql("INSERT INTO u VALUES (3, 'a@x.com')")
    with pytest.raises(EngineError, match="UNIQUE"):
        eng.sql("INSERT INTO u VALUES (1, 'b@x.com')")


def test_foreign_key(eng):
    eng.sql("CREATE TABLE parent (id INT PRIMARY KEY)")
    eng.sql("CREATE TABLE child (id INT, pid INT REFERENCES parent(id))")
    eng.sql("INSERT INTO parent VALUES (1)")
    eng.sql("INSERT INTO child VALUES (10, 1)")
    with pytest.raises(EngineError, match="FK violated"):
        eng.sql("INSERT INTO child VALUES (11, 99)")


def test_update_delete(eng):
    eng.sql("CREATE TABLE acc (id INT, bal DOUBLE)")
    eng.sql("INSERT INTO acc VALUES (1, 10.0), (2, 20.0), (3, 30.0)")
    # arithmetic SET referencing old value (reference
    # kv/KvQueryExecutor.java:1814 `SET x = x + 1`)
    r = eng.sql("UPDATE acc SET bal = bal + 5 WHERE id <= 2")
    assert rows(r)[0][1] == 2
    assert rows(eng.sql("SELECT bal FROM acc ORDER BY id")) == [
        (15.0,),
        (25.0,),
        (30.0,),
    ]
    eng.sql("DELETE FROM acc WHERE bal > 20")
    assert rows(eng.sql("SELECT id FROM acc ORDER BY id")) == [(1,)]


def test_update_swap_uses_old_values(eng):
    eng.sql("CREATE TABLE sw (a INT, b INT)")
    eng.sql("INSERT INTO sw VALUES (1, 2)")
    eng.sql("UPDATE sw SET a = b, b = a")
    assert rows(eng.sql("SELECT a, b FROM sw")) == [(2, 1)]


def test_truncate_and_drop(eng):
    eng.sql("CREATE TABLE tr (id INT)")
    eng.sql("INSERT INTO tr VALUES (1), (2)")
    eng.sql("TRUNCATE TABLE tr")
    assert rows(eng.sql("SELECT COUNT(*) AS n FROM tr")) == [(0,)]
    eng.sql("DROP TABLE tr")
    with pytest.raises(EngineError, match="not found"):
        eng.sql("INSERT INTO tr VALUES (3)")
    eng.sql("DROP TABLE IF EXISTS tr")  # no error


def test_sequences(eng):
    eng.sql("CREATE SEQUENCE sq START WITH 100 INCREMENT BY 10")
    assert rows(eng.sql("SELECT nextval('sq') AS v")) == [(100,)]
    assert rows(eng.sql("SELECT nextval('sq') AS v")) == [(110,)]
    assert rows(eng.sql("SELECT currval('sq') AS v")) == [(110,)]
    eng.sql("DROP SEQUENCE sq")


def test_views_and_matviews(eng):
    eng.sql("CREATE TABLE base (id INT, v INT)")
    eng.sql("INSERT INTO base VALUES (1, 10), (2, 20)")
    eng.sql("CREATE VIEW big AS SELECT * FROM base WHERE v > 15")
    assert rows(eng.sql("SELECT id FROM big")) == [(2,)]
    # virtual view tracks base (rewrite-on-read,
    # reference kv/KvQueryExecutor.java:4826)
    eng.sql("INSERT INTO base VALUES (3, 30)")
    eng.sql("CREATE OR REPLACE VIEW big AS SELECT * FROM base WHERE v > 15")
    assert len(rows(eng.sql("SELECT id FROM big"))) == 2
    # materialized view is frozen until REFRESH
    # (reference kv/KvQueryExecutor.java:4900, MaterializedViewRefreshJob)
    eng.sql("CREATE MATERIALIZED VIEW mv AS SELECT COUNT(*) AS n FROM base")
    assert rows(eng.sql("SELECT n FROM mv")) == [(3,)]
    eng.sql("INSERT INTO base VALUES (4, 40)")
    assert rows(eng.sql("SELECT n FROM mv")) == [(3,)]
    eng.sql("REFRESH MATERIALIZED VIEW mv")
    assert rows(eng.sql("SELECT n FROM mv")) == [(4,)]


def test_alter_table(eng):
    eng.sql("CREATE TABLE al (id INT)")
    eng.sql("INSERT INTO al VALUES (1)")
    eng.sql("ALTER TABLE al ADD COLUMN note TEXT")
    assert rows(eng.sql("SELECT id, note FROM al")) == [(1, None)]
    eng.sql("ALTER TABLE al DROP COLUMN note")
    assert rows(eng.sql("SELECT * FROM al")) == [(1,)]


def test_copy_roundtrip(eng, tmp_path):
    eng.sql("CREATE TABLE c1 (id INT, v TEXT)")
    eng.sql("INSERT INTO c1 VALUES (1, 'x'), (2, 'y')")
    out = str(tmp_path / "out_csv")
    eng.sql(f"COPY c1 TO '{out}' WITH (FORMAT CSV, HEADER)")
    eng.sql("CREATE TABLE c2 (id INT, v TEXT)")
    eng.sql(f"COPY c2 FROM '{out}' WITH (FORMAT CSV, HEADER)")
    assert rows(eng.sql("SELECT * FROM c2 ORDER BY id")) == [(1, "x"), (2, "y")]
    # parquet round-trip (⬆ — reference COPY is CSV-only)
    pout = str(tmp_path / "out_parquet")
    eng.sql(f"COPY c1 TO '{pout}' WITH (FORMAT PARQUET)")
    eng.sql("CREATE TABLE c3 (id INT, v TEXT)")
    eng.sql(f"COPY c3 FROM '{pout}' WITH (FORMAT PARQUET)")
    assert rows(eng.sql("SELECT * FROM c3 ORDER BY id")) == [(1, "x"), (2, "y")]
    # JSONL round-trip (⬆ — newline-delimited JSON, the training-data
    # interchange format; Spark's json source is JSONL natively)
    jout = str(tmp_path / "out_jsonl")
    eng.sql(f"COPY c1 TO '{jout}' WITH (FORMAT JSONL)")
    import glob

    part = glob.glob(f"{jout}/part-*")[0]
    lines = [ln for ln in open(part).read().splitlines() if ln.strip()]
    assert len(lines) == 2 and all(ln.startswith("{") for ln in lines)
    eng.sql("CREATE TABLE c4 (id INT, v TEXT)")
    eng.sql(f"COPY c4 FROM '{jout}' WITH (FORMAT JSONL)")
    assert rows(eng.sql("SELECT * FROM c4 ORDER BY id")) == [(1, "x"), (2, "y")]


def test_pg_isms_rewrites(eng):
    eng.sql("CREATE TABLE j (id INT, data JSONB)")
    eng.sql(
        """INSERT INTO j VALUES (1, '{"a": {"b": 7}, "tags": [1,2,3]}')"""
    )
    out = rows(
        eng.sql(
            "SELECT (data->'a'->>'b')::INT AS b, "
            "jsonb_array_length(data->'tags') AS n, "
            "data#>>'{a,b}' AS nested FROM j"
        )
    )
    assert out == [(7, 3, "7")]
    assert rows(eng.sql("SELECT 'abc' ~ '^a' AS m"))[0][0] is True
    assert rows(eng.sql("SELECT '1.9'::NUMERIC(5,1) AS d"))[0][0] is not None


def test_pg_functions(eng):
    r = rows(
        eng.sql(
            """SELECT jsonb_typeof('{"a":1}') AS t_obj,
                      jsonb_typeof('[1,2]') AS t_arr,
                      jsonb_typeof('3.5') AS t_num,
                      jsonb_array_len('[1,2,3]') AS alen,
                      div(7, 2) AS d,
                      to_char(TIMESTAMP '2024-03-05 07:08:09',
                              'YYYY-MM-DD HH24:MI:SS') AS fmt,
                      last_day_of_month(DATE '2024-02-10') AS ld,
                      first_day_of_month(DATE '2024-02-10') AS fd,
                      trunc_n(3.999, 2) AS tn"""
        )
    )[0]
    assert r[0:3] == ("object", "array", "number")
    assert r[3] == 3 and r[4] == 3
    assert r[5] == "2024-03-05 07:08:09"
    assert str(r[6]) == "2024-02-29" and str(r[7]) == "2024-02-01"
    assert r[8] == 3.99
    # age() returns an interval
    a = rows(
        eng.sql(
            "SELECT age(TIMESTAMP '2024-01-02 00:00:00', "
            "TIMESTAMP '2024-01-01 12:00:00') AS a"
        )
    )[0][0]
    assert a is not None


def test_explain_passthrough(eng):
    eng.sql("CREATE TABLE ex (id INT)")
    plan = rows(eng.sql("EXPLAIN SELECT * FROM ex WHERE id > 1"))[0][0]
    assert "Physical Plan" in plan or "Filter" in plan


def test_explain_analyze_runtime_metrics(eng):
    eng.sql("CREATE TABLE exa (id INT, g INT)")
    eng.sql("INSERT INTO exa VALUES (1, 1), (2, 1), (3, 2), (4, 2), (5, 2)")
    lines = [r[0] for r in rows(
        eng.sql("EXPLAIN ANALYZE SELECT g, COUNT(*) AS n FROM exa GROUP BY g")
    )]
    text = "\n".join(lines)
    # the query actually ran: wall time + final row count reported
    assert any(ln.startswith("Execution: 2 rows") for ln in lines)
    # per-node runtime SQLMetrics from the executed plan, not estimates
    assert "numOutputRows=" in text
    assert "HashAggregate" in text


def test_dollar_quoted_statement_splitting():
    from cassandra_sql_spark.engine import split_statements

    stmts = split_statements(
        "CREATE TABLE t (id INT); "
        "DO $$ BEGIN INSERT INTO t VALUES (1); INSERT INTO t VALUES (2); "
        "END $$; "
        "DO $fn$ SELECT ';'; SELECT $$nested; body$$; $fn$; "
        "SELECT * FROM t"
    )
    assert len(stmts) == 4
    assert stmts[0] == "CREATE TABLE t (id INT)"
    assert stmts[1].startswith("DO $$") and stmts[1].endswith("END $$")
    assert stmts[2].startswith("DO $fn$") and stmts[2].endswith("$fn$")
    assert stmts[3] == "SELECT * FROM t"
    # a lone $ is not a tag opener
    assert split_statements("SELECT 1 AS \"a$b\"; SELECT 2") == [
        'SELECT 1 AS "a$b"', "SELECT 2",
    ]


def test_transactions_are_noops(eng):
    assert "no-op" in rows(eng.sql("BEGIN"))[0][0]
    assert "no-op" in rows(eng.sql("COMMIT"))[0][0]


def test_create_table_as_select(eng):
    eng.sql("CREATE TABLE ctas_src (id INT PRIMARY KEY, v TEXT, x DOUBLE)")
    eng.sql(
        "INSERT INTO ctas_src VALUES (1, 'a', 1.5), (2, 'b', 2.5), "
        "(3, 'c', 3.5)"
    )
    eng.sql(
        "CREATE TABLE ctas_dst AS "
        "SELECT id, upper(v) AS vv, x * 2 AS x2 FROM ctas_src WHERE id >= 2"
    )
    assert rows(eng.sql("SELECT id, vv, x2 FROM ctas_dst ORDER BY id")) == [
        (2, "B", 5.0), (3, "C", 7.0),
    ]
    # behaves like a managed table: hidden rowid, DML, introspection
    assert rows(
        eng.sql("SELECT attname FROM pg_attribute WHERE relname='ctas_dst' "
                "ORDER BY attnum")
    ) == [("id",), ("vv",), ("x2",)]
    eng.sql("INSERT INTO ctas_dst VALUES (9, 'Z', 0.0)")
    eng.sql("DELETE FROM ctas_dst WHERE id = 2")
    assert rows(eng.sql("SELECT id FROM ctas_dst ORDER BY id")) == [
        (3,), (9,),
    ]
    assert "exists" in rows(
        eng.sql("CREATE TABLE IF NOT EXISTS ctas_dst AS SELECT 1 AS a")
    )[0][0]
    eng.sql("DROP TABLE ctas_dst; DROP TABLE ctas_src")


def test_pg_to_char_token_order(eng):
    """Pin the format-token translation table order: MI must translate
    before any month handling so pg minutes ('MI') and months ('MM')
    both land on the right Spark tokens even when adjacent."""
    r = rows(
        eng.sql(
            "SELECT to_char(TIMESTAMP '2024-03-05 07:08:09', 'MMMI') AS a, "
            "       to_char(TIMESTAMP '2024-03-05 07:08:09', 'MIMM') AS b, "
            "       to_char(TIMESTAMP '2024-03-05 07:08:09', "
            "               'YYYYMMDDHH24MISS') AS c"
        )
    )[0]
    assert r == ("0308", "0803", "20240305070809")


def test_show_settings(eng):
    assert rows(eng.sql("SHOW server_version")) == [("14.0",)]
    assert rows(eng.sql("SHOW TRANSACTION ISOLATION LEVEL")) == [
        ("read committed",)
    ]
    eng.sql("SET my.app_knob = 'forty-two'")
    assert rows(eng.sql("SHOW my.app_knob")) == [("forty-two",)]
    # pg GUC names are case-insensitive: SET/SHOW must agree across case
    eng.sql("SET My.Mixed_Case TO 'v1'")
    assert rows(eng.sql("SHOW my.mixed_case")) == [("v1",)]
    assert rows(eng.sql("SHOW MY.MIXED_CASE")) == [("v1",)]
    with pytest.raises(EngineError):
        eng.sql("SHOW no_such_setting_xyz")
    # Spark's own SHOW metadata commands still pass through
    tables = [r[0] if len(r) == 1 else r[1] for r in
              rows(eng.sql("SHOW TABLES"))]
    assert isinstance(tables, list)


def test_set_time_zone_spelling_and_mirror(eng, spark):
    """pg's primary spelling `SET TIME ZONE x` has no =/TO: it must hit the
    timezone GUC, and any timezone set must mirror into Spark's session
    timezone so the reported and the effective tz can't diverge."""
    try:
        eng.sql("SET TIME ZONE 'America/New_York'")
        assert rows(eng.sql("SHOW TIME ZONE")) == [("America/New_York",)]
        assert rows(eng.sql("SHOW timezone")) == [("America/New_York",)]
        assert (
            spark.conf.get("spark.sql.session.timeZone")
            == "America/New_York"
        )
        # =/TO spelling hits the same GUC and also mirrors
        eng.sql("SET timezone = 'Asia/Tokyo'")
        assert rows(eng.sql("SHOW TIME ZONE")) == [("Asia/Tokyo",)]
        assert spark.conf.get("spark.sql.session.timeZone") == "Asia/Tokyo"
        # SET TIME ZONE DEFAULT restores the server default
        eng.sql("SET TIME ZONE DEFAULT")
        assert rows(eng.sql("SHOW TIME ZONE")) == [("UTC",)]
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_unique_matching_pk_case_folds_no_dup_constraint(eng):
    """A UNIQUE constraint spelled in different case than the PK is the
    same constraint (unquoted identifiers fold) — pg_constraint must emit
    one 'p' row, not a duplicate 'u' row."""
    eng.sql("CREATE TABLE ucase (Id INT, UNIQUE (ID), PRIMARY KEY (id))")
    cons = rows(
        eng.sql(
            "SELECT c.contype FROM pg_constraint c "
            "JOIN pg_class tc ON tc.oid = c.conrelid "
            "WHERE tc.relname = 'ucase'"
        )
    )
    assert cons == [("p",)]
    eng.sql("DROP TABLE ucase")


def test_timestamptz_reports_pg_oid(eng):
    """TIMESTAMPTZ columns resolve to pg's timestamptz OID (1184), not
    1114 (timestamp w/o tz), via pg_attribute ⋈ pg_type — what JDBC/psql
    use to describe tz-aware columns. Spark-side storage stays TIMESTAMP
    (session-tz semantics)."""
    eng.sql("CREATE TABLE tzc (ts TIMESTAMPTZ, plain TIMESTAMP)")
    r = rows(
        eng.sql(
            "SELECT a.attname, a.atttypid, t.typname FROM pg_attribute a "
            "JOIN pg_type t ON t.oid = a.atttypid "
            "WHERE a.relname = 'tzc' ORDER BY a.attnum"
        )
    )
    assert r == [("ts", 1184, "timestamptz"), ("plain", 1114, "timestamp")]
    eng.sql("DROP TABLE tzc")


def test_ctas_parenthesized_and_mixed_case_pk(eng):
    eng.sql("CREATE TABLE ctasp_src (id INT PRIMARY KEY)")
    eng.sql("INSERT INTO ctasp_src VALUES (1), (2)")
    eng.sql("CREATE TABLE ctasp AS (SELECT id * 2 AS d FROM ctasp_src)")
    assert rows(eng.sql("SELECT d FROM ctasp ORDER BY d")) == [(2,), (4,)]
    # mixed-case PK columns fold like pg: indkey resolves, no dup *_key row
    eng.sql("CREATE TABLE mcase (Id INT, PRIMARY KEY (ID))")
    pk = rows(
        eng.sql(
            "SELECT i.indkey, i.indisprimary FROM pg_index i "
            "JOIN pg_class c ON c.oid = i.indrelid "
            "WHERE c.relname = 'mcase'"
        )
    )
    assert pk == [("1", True)]
    eng.sql("DROP TABLE ctasp; DROP TABLE ctasp_src; DROP TABLE mcase")


def test_psql_handshake_functions(eng):
    r = rows(eng.sql("SELECT version() AS v, current_database() AS d"))[0]
    assert r[0].startswith("PostgreSQL 14.0")  # mirrors the reference
    assert r[1] == "cassandra_sql"  # matches the pg_database row


def test_do_block_accepted_as_noop(eng):
    # reference parity: DO bodies accepted, not executed
    # (QueryService.java:101-106); surrounding statements still run.
    eng.sql("CREATE TABLE dob (id INT)")
    out = eng.sql(
        "INSERT INTO dob VALUES (1); "
        "DO $$ BEGIN INSERT INTO dob VALUES (99); END $$; "
        "SELECT COUNT(*) AS n FROM dob"
    )
    assert rows(out) == [(1,)]  # the DO body did NOT execute
    assert "no-op" in rows(eng.sql("DO $x$ anything; at; all $x$"))[0][0]


def test_catalog_persistence(spark, tmp_path):
    wh = str(tmp_path / "persist")
    e1 = Engine(spark, warehouse=wh)
    e1.sql("CREATE TABLE p (id INT); INSERT INTO p VALUES (1), (2)")
    e2 = Engine(spark, warehouse=wh)  # fresh engine, same warehouse
    assert rows(e2.sql("SELECT COUNT(*) AS n FROM p")) == [(2,)]
    assert os.path.exists(os.path.join(wh, "_catalog.json"))


def test_insert_from_select(eng):
    eng.sql("CREATE TABLE src (id INT, v INT)")
    eng.sql("INSERT INTO src VALUES (1, 5), (2, 6)")
    eng.sql("CREATE TABLE dst (id INT, v INT)")
    eng.sql("INSERT INTO dst SELECT id, v * 10 FROM src WHERE v > 5")
    assert rows(eng.sql("SELECT * FROM dst")) == [(2, 60)]


def test_hidden_rowid(eng):
    # PK-less tables get a hidden auto-increment rowid (reference
    # kv/SchemaManager.java:736; HiddenRowIdTest / HiddenRowIdSelectTest)
    eng.sql("CREATE TABLE nk (v TEXT)")
    eng.sql("INSERT INTO nk VALUES ('a'), ('b'), ('c')")
    star = eng.sql("SELECT * FROM nk")
    assert star.columns == ["v"]  # hidden from *
    out = rows(eng.sql("SELECT rowid, v FROM nk ORDER BY rowid"))
    assert [v for _, v in out] == ["a", "b", "c"]
    ids = [r for r, _ in out]
    assert len(set(ids)) == 3 and ids == sorted(ids)
    # rowid usable in predicates (DELETE targets one physical row)
    eng.sql(f"DELETE FROM nk WHERE rowid = {ids[1]}")
    assert rows(eng.sql("SELECT v FROM nk ORDER BY rowid")) == [("a",), ("c",)]


def test_pg_catalog_views(eng):
    eng.sql("CREATE TABLE pgc (id INT PRIMARY KEY, name TEXT)")
    eng.sql("CREATE VIEW pgv AS SELECT id FROM pgc")
    assert ("public", "pgc") in rows(
        eng.sql("SELECT schemaname, tablename FROM pg_tables")
    )
    kinds = dict(rows(eng.sql("SELECT relname, relkind FROM pg_class")))
    assert kinds["pgc"] == "r" and kinds["pgv"] == "v"
    attrs = rows(
        eng.sql(
            "SELECT attname, attnum, attnotnull FROM pg_attribute "
            "WHERE relname = 'pgc' ORDER BY attnum"
        )
    )
    assert attrs == [("id", 1, True), ("name", 2, False)]
    # psql \d-style introspection: pg_class ⋈ pg_attribute ⋈ pg_type
    described = rows(
        eng.sql(
            "SELECT a.attname, t.typname FROM pg_class c "
            "JOIN pg_attribute a ON a.attrelid = c.oid "
            "JOIN pg_type t ON t.oid = a.atttypid "
            "WHERE c.relname = 'pgc' ORDER BY a.attnum"
        )
    )
    assert described == [("id", "int4"), ("name", "text")]
    # the PK materializes as a *_pkey index relation, indisprimary=true
    pkey = rows(
        eng.sql(
            "SELECT ic.relname, i.indisprimary, i.indisunique, i.indkey "
            "FROM pg_index i "
            "JOIN pg_class ic ON ic.oid = i.indexrelid "
            "JOIN pg_class tc ON tc.oid = i.indrelid "
            "WHERE tc.relname = 'pgc'"
        )
    )
    assert pkey == [("pgc_pkey", True, True, "1")]
    assert rows(eng.sql("SELECT datname FROM pg_database")) == [
        ("cassandra_sql",)
    ]
    assert rows(eng.sql("SELECT count(*) AS n FROM pg_proc")) == [(0,)]
    # constraint rows: PK with attnum vector, conindid -> the pkey index
    pkc = rows(
        eng.sql(
            "SELECT c.conname, c.contype, c.conkey, ic.relname "
            "FROM pg_constraint c "
            "JOIN pg_class tc ON tc.oid = c.conrelid "
            "JOIN pg_class ic ON ic.oid = c.conindid "
            "WHERE tc.relname = 'pgc'"
        )
    )
    assert pkc == [("pgc_pkey", "p", "{1}", "pgc_pkey")]
    assert ("public", "pgc", "pgc_pkey",
            "CREATE UNIQUE INDEX pgc_pkey ON pgc (id)") in rows(
        eng.sql("SELECT * FROM pg_indexes")
    )
    assert ("btree",) in rows(eng.sql("SELECT amname FROM pg_am"))
    assert rows(eng.sql("SELECT rolname FROM pg_roles")) == [("postgres",)]
    # FK constraint row points at the referenced relation
    eng.sql("CREATE TABLE pgc_child (cid INT REFERENCES pgc(id))")
    fkc = rows(
        eng.sql(
            "SELECT c.conname, c.contype, rc.relname, c.conkey, c.confkey "
            "FROM pg_constraint c "
            "JOIN pg_class tc ON tc.oid = c.conrelid "
            "JOIN pg_class rc ON rc.oid = c.confrelid "
            "WHERE tc.relname = 'pgc_child' AND c.contype = 'f'"
        )
    )
    assert fkc == [("pgc_child_cid_fkey", "f", "pgc", "{1}", "{1}")]
    eng.sql("DROP TABLE pgc_child")
    eng.sql("DROP TABLE pgc")
    assert ("public", "pgc") not in rows(
        eng.sql("SELECT schemaname, tablename FROM pg_tables")
    )


def test_pg_attribute_hides_rowid(eng):
    eng.sql("CREATE TABLE hid (v TEXT)")
    attrs = rows(
        eng.sql("SELECT attname FROM pg_attribute WHERE relname = 'hid'")
    )
    assert attrs == [("v",)]


def test_time_travel_version_as_of_and_vacuum(eng):
    eng.sql("CREATE TABLE tt (id INT PRIMARY KEY, v TEXT)")
    eng.sql("INSERT INTO tt VALUES (1, 'one')")            # v2
    eng.sql("UPDATE tt SET v = 'uno' WHERE id = 1")        # v3
    eng.sql("INSERT INTO tt VALUES (2, 'two')")            # v4
    assert rows(eng.sql("SELECT v FROM tt ORDER BY id")) == [("uno",), ("two",)]
    # v2 snapshot: pre-update, pre-second-insert
    assert rows(eng.sql("SELECT v FROM tt VERSION AS OF 2 ORDER BY id")) == [
        ("one",)
    ]
    # v3 snapshot: post-update
    assert rows(eng.sql("SELECT v FROM tt VERSION AS OF 3 ORDER BY id")) == [
        ("uno",)
    ]
    # aggregate over a snapshot works through the same rewrite
    assert rows(
        eng.sql("SELECT COUNT(*) AS n FROM tt VERSION AS OF 3")
    ) == [(1,)]
    eng.sql("VACUUM tt")
    # current version unaffected; old snapshots are gone
    assert rows(eng.sql("SELECT v FROM tt ORDER BY id")) == [("uno",), ("two",)]
    with pytest.raises(Exception, match="does not exist"):
        eng.sql("SELECT v FROM tt VERSION AS OF 2")


def test_vacuum_all_tables(eng):
    eng.sql("CREATE TABLE a1 (id INT PRIMARY KEY)")
    eng.sql("INSERT INTO a1 VALUES (1)")
    eng.sql("CREATE TABLE b1 (id INT PRIMARY KEY)")
    eng.sql("INSERT INTO b1 VALUES (2)")
    out = rows(eng.sql("VACUUM"))
    assert rows(eng.sql("SELECT id FROM a1")) == [(1,)]
    assert rows(eng.sql("SELECT id FROM b1")) == [(2,)]


def test_analyze_populates_pg_stats(eng):
    eng.sql("CREATE TABLE st (id INT PRIMARY KEY, grp TEXT, x DOUBLE)")
    eng.sql(
        "INSERT INTO st VALUES (1, 'a', 1.5), (2, 'a', 2.5), "
        "(3, 'b', NULL), (4, NULL, 4.0)"
    )
    eng.sql("ANALYZE st")
    out = {
        r.attname: r
        for r in eng.sql(
            "SELECT * FROM pg_stats WHERE tablename = 'st'"
        ).collect()
    }
    assert out["id"].n_rows == 4
    assert out["id"].n_distinct == 4
    assert out["id"].min_value == "1" and out["id"].max_value == "4"
    assert out["grp"].n_distinct == 2
    assert out["grp"].null_frac == 0.25
    assert out["x"].null_frac == 0.25


def test_merge_upsert(eng):
    eng.sql("CREATE TABLE inv (sku INT PRIMARY KEY, qty INT, price DOUBLE)")
    eng.sql("INSERT INTO inv VALUES (1, 10, 2.5), (2, 5, 4.0)")
    eng.sql("CREATE TABLE delta_in (sku INT, qty INT, price DOUBLE)")
    eng.sql("INSERT INTO delta_in VALUES (2, 7, 4.5), (3, 1, 9.9)")
    r = eng.sql(
        """
        MERGE INTO inv t USING delta_in s ON t.sku = s.sku
        WHEN MATCHED THEN UPDATE SET qty = t.qty + s.qty, price = s.price
        WHEN NOT MATCHED THEN INSERT (sku, qty, price)
        VALUES (s.sku, s.qty, s.price)
        """
    )
    assert rows(r)[0][1] == 2  # one update + one insert
    assert rows(eng.sql("SELECT sku, qty, price FROM inv ORDER BY sku")) == [
        (1, 10, 2.5),
        (2, 12, 4.5),
        (3, 1, 9.9),
    ]


def test_merge_conditional_delete_and_star(eng):
    eng.sql("CREATE TABLE tgt (id INT, v TEXT)")
    eng.sql("INSERT INTO tgt VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    eng.sql("CREATE TABLE src2 (id INT, v TEXT)")
    eng.sql("INSERT INTO src2 VALUES (1, 'drop'), (2, 'B'), (4, 'd')")
    eng.sql(
        """
        MERGE INTO tgt USING src2 ON tgt.id = src2.id
        WHEN MATCHED AND src2.v = 'drop' THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    assert rows(eng.sql("SELECT id, v FROM tgt ORDER BY id")) == [
        (2, "B"),
        (3, "c"),
        (4, "d"),
    ]


def test_merge_subquery_source_and_not_matched_by_source(eng):
    eng.sql("CREATE TABLE cur (id INT, n INT)")
    eng.sql("INSERT INTO cur VALUES (1, 1), (2, 2), (3, 3)")
    eng.sql("CREATE TABLE feed (id INT, n INT)")
    eng.sql("INSERT INTO feed VALUES (2, 20), (2, 200), (9, 90)")
    # source is a subquery (deduped); rows absent from it are deleted
    eng.sql(
        """
        MERGE INTO cur t
        USING (SELECT id, MAX(n) AS n FROM feed GROUP BY id) s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET n = s.n
        WHEN NOT MATCHED THEN INSERT (id, n) VALUES (s.id, s.n)
        WHEN NOT MATCHED BY SOURCE THEN DELETE
        """
    )
    assert rows(eng.sql("SELECT id, n FROM cur ORDER BY id")) == [
        (2, 200),
        (9, 90),
    ]


def test_merge_ambiguous_match_raises(eng):
    eng.sql("CREATE TABLE amb (id INT, n INT)")
    eng.sql("INSERT INTO amb VALUES (1, 1)")
    eng.sql("CREATE TABLE amb_src (id INT, n INT)")
    eng.sql("INSERT INTO amb_src VALUES (1, 10), (1, 11)")
    with pytest.raises(EngineError, match="multiple source rows"):
        eng.sql(
            """
            MERGE INTO amb USING amb_src ON amb.id = amb_src.id
            WHEN MATCHED THEN UPDATE SET n = amb_src.n
            """
        )


def test_merge_first_clause_wins_and_validation(eng):
    eng.sql("CREATE TYPE st AS ENUM ('ok','bad')")
    eng.sql("CREATE TABLE mv2 (id INT, s st)")
    eng.sql("INSERT INTO mv2 VALUES (1, 'ok')")
    eng.sql("CREATE TABLE mv2_src (id INT, s TEXT)")
    eng.sql("INSERT INTO mv2_src VALUES (1, 'weird')")
    with pytest.raises(EngineError, match="invalid st"):
        eng.sql(
            """
            MERGE INTO mv2 USING mv2_src ON mv2.id = mv2_src.id
            WHEN MATCHED THEN UPDATE SET s = mv2_src.s
            """
        )
    # table unchanged after failed merge
    assert rows(eng.sql("SELECT s FROM mv2")) == [("ok",)]


def test_insert_on_conflict_do_nothing(eng):
    eng.sql("CREATE TABLE oc1 (id INT PRIMARY KEY, v TEXT)")
    eng.sql("INSERT INTO oc1 VALUES (1, 'a'), (2, 'b')")
    eng.sql(
        "INSERT INTO oc1 VALUES (2, 'dup'), (3, 'c'), (3, 'c2') "
        "ON CONFLICT (id) DO NOTHING"
    )
    # pg keeps the FIRST batch row on within-batch conflicts
    assert rows(eng.sql("SELECT * FROM oc1 ORDER BY id")) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]
    # default conflict target = PRIMARY KEY
    eng.sql("INSERT INTO oc1 VALUES (1, 'zzz') ON CONFLICT DO NOTHING")
    assert rows(eng.sql("SELECT v FROM oc1 WHERE id = 1")) == [("a",)]


def test_insert_on_conflict_do_update(eng):
    eng.sql("CREATE TABLE oc2 (id INT PRIMARY KEY, v TEXT, cnt INT)")
    eng.sql("INSERT INTO oc2 VALUES (1, 'a', 1), (2, 'b', 1)")
    eng.sql(
        "INSERT INTO oc2 VALUES (2, 'b2', 1), (3, 'c', 1) "
        "ON CONFLICT (id) DO UPDATE SET v = excluded.v, "
        "cnt = oc2.cnt + excluded.cnt"
    )
    assert rows(eng.sql("SELECT * FROM oc2 ORDER BY id")) == [
        (1, "a", 1), (2, "b2", 2), (3, "c", 1),
    ]


def test_dml_returning(eng):
    eng.sql("CREATE TABLE r1 (id SERIAL PRIMARY KEY, v TEXT)")
    out = rows(eng.sql("INSERT INTO r1 (v) VALUES ('x'), ('y') RETURNING id, v"))
    assert sorted(out) == [(1, "x"), (2, "y")]
    out = rows(
        eng.sql("UPDATE r1 SET v = v || '!' WHERE id = 1 RETURNING *")
    )
    assert out == [(1, "x!")]
    out = rows(eng.sql("DELETE FROM r1 WHERE id = 2 RETURNING v"))
    assert out == [("y",)]
    assert rows(eng.sql("SELECT count(*) c FROM r1")) == [(1,)]
    # RETURNING after ON CONFLICT DO NOTHING returns only appended rows
    out = rows(
        eng.sql(
            "INSERT INTO r1 (id, v) VALUES (1, 'dup'), (9, 'new') "
            "ON CONFLICT (id) DO NOTHING RETURNING id"
        )
    )
    assert out == [(9,)]


def test_distinct_on(eng):
    eng.sql("CREATE TABLE d_on (k INT, v TEXT, rank INT)")
    eng.sql(
        "INSERT INTO d_on VALUES (1, 'worse', 2), (1, 'best', 1), "
        "(2, 'only', 5)"
    )
    out = rows(
        eng.sql(
            "SELECT DISTINCT ON (k) k, v FROM d_on ORDER BY k, rank"
        )
    )
    assert out == [(1, "best"), (2, "only")]


def test_tablesample(eng):
    eng.sql("CREATE TABLE ts1 (id INT)")
    eng.sql(
        "INSERT INTO ts1 VALUES " + ", ".join(f"({i})" for i in range(200))
    )
    n = rows(
        eng.sql("SELECT count(*) AS n FROM ts1 TABLESAMPLE BERNOULLI (50)")
    )[0][0]
    assert 0 < n < 200  # sampling happened, nondeterministic count


def test_check_constraints(eng):
    eng.sql(
        "CREATE TABLE chk (id INT PRIMARY KEY, qty INT CHECK (qty > 0), "
        "price DOUBLE, CHECK (price >= 0.0), "
        "CONSTRAINT sane CHECK (qty * price < 1000))"
    )
    eng.sql("INSERT INTO chk VALUES (1, 5, 10.0)")
    with pytest.raises(EngineError, match="CHECK violated"):
        eng.sql("INSERT INTO chk VALUES (2, -1, 10.0)")  # inline
    with pytest.raises(EngineError, match="CHECK violated"):
        eng.sql("INSERT INTO chk VALUES (3, 5, -1.0)")   # table-level
    with pytest.raises(EngineError, match="CHECK violated"):
        eng.sql("INSERT INTO chk VALUES (4, 100, 50.0)")  # named
    # pg semantics: NULL passes CHECK
    eng.sql("INSERT INTO chk VALUES (5, NULL, 1.0)")
    assert rows(eng.sql("SELECT count(*) n FROM chk")) == [(2,)]
    # UPDATE is validated too — a rewrite violating CHECK is rejected
    with pytest.raises(EngineError, match="CHECK violated"):
        eng.sql("UPDATE chk SET qty = -9 WHERE id = 1")
    assert rows(eng.sql("SELECT qty FROM chk WHERE id = 1")) == [(5,)]
    eng.sql("UPDATE chk SET qty = 7 WHERE id = 1")
    assert rows(eng.sql("SELECT qty FROM chk WHERE id = 1")) == [(7,)]


def test_update_cannot_create_duplicate_pk(eng):
    eng.sql("CREATE TABLE updup (id INT PRIMARY KEY, v TEXT)")
    eng.sql("INSERT INTO updup VALUES (1, 'a'), (2, 'b')")
    with pytest.raises(EngineError, match="UNIQUE"):
        eng.sql("UPDATE updup SET id = 1 WHERE id = 2")
    assert sorted(rows(eng.sql("SELECT id FROM updup"))) == [(1,), (2,)]


def test_pg_constraint_check_rows(eng):
    eng.sql("CREATE TABLE pc (id INT PRIMARY KEY, qty INT CHECK (qty > 0))")
    out = rows(
        eng.sql(
            "SELECT contype, consrc FROM pg_constraint c "
            "JOIN pg_class r ON r.oid = c.conrelid "
            "WHERE r.relname = 'pc' ORDER BY contype"
        )
    )
    assert ("c", "CHECK (qty > 0)") in out
    assert any(t == "p" for t, _ in out)


def test_alter_add_check(eng):
    eng.sql("CREATE TABLE ac (id INT PRIMARY KEY, v INT)")
    eng.sql("INSERT INTO ac VALUES (1, 5), (2, -3)")
    # existing rows violate -> the ADD is rejected, nothing changes
    with pytest.raises(EngineError, match="CHECK violated"):
        eng.sql("ALTER TABLE ac ADD CONSTRAINT pos CHECK (v > 0)")
    eng.sql("DELETE FROM ac WHERE v < 0")
    eng.sql("ALTER TABLE ac ADD CHECK (v > 0)")
    with pytest.raises(EngineError, match="CHECK violated"):
        eng.sql("INSERT INTO ac VALUES (3, 0)")
    eng.sql("INSERT INTO ac VALUES (3, 1)")
    assert rows(eng.sql("SELECT count(*) n FROM ac")) == [(2,)]


def test_generated_columns(eng):
    eng.sql(
        "CREATE TABLE gcol (a INT PRIMARY KEY, b INT, "
        "total INT GENERATED ALWAYS AS (a + b) STORED)"
    )
    eng.sql("INSERT INTO gcol (a, b) VALUES (1, 10), (2, 20)")
    assert rows(eng.sql("SELECT * FROM gcol ORDER BY a")) == [
        (1, 10, 11), (2, 20, 22),
    ]
    # bare INSERT omits generated columns, like identity
    eng.sql("INSERT INTO gcol VALUES (3, 30)")
    assert rows(eng.sql("SELECT total FROM gcol WHERE a = 3")) == [(33,)]
    # explicit write to a generated column is rejected
    with pytest.raises(EngineError, match="generated"):
        eng.sql("INSERT INTO gcol (a, b, total) VALUES (4, 40, 99)")
    with pytest.raises(EngineError, match="generated"):
        eng.sql("UPDATE gcol SET total = 0 WHERE a = 1")
    # UPDATE of a base column recomputes the generated value
    eng.sql("UPDATE gcol SET b = 100 WHERE a = 1")
    assert rows(eng.sql("SELECT total FROM gcol WHERE a = 1")) == [(101,)]
    out = rows(
        eng.sql("UPDATE gcol SET b = 5 WHERE a = 2 RETURNING total")
    )
    assert out == [(7,)]


def test_default_column_values(eng):
    eng.sql(
        "CREATE TABLE dflt (id INT PRIMARY KEY, "
        "status TEXT DEFAULT 'new' NOT NULL, "
        "score INT DEFAULT 2 + 3, "
        "created TIMESTAMP DEFAULT TIMESTAMP '2024-01-01 00:00:00')"
    )
    eng.sql("INSERT INTO dflt (id) VALUES (1)")
    eng.sql("INSERT INTO dflt (id, status) VALUES (2, 'open')")
    eng.sql("INSERT INTO dflt (id, score) VALUES (3, 99)")
    out = rows(eng.sql("SELECT id, status, score FROM dflt ORDER BY id"))
    assert out == [(1, "new", 5), (2, "open", 5), (3, "new", 99)]
    assert rows(
        eng.sql("SELECT CAST(created AS STRING) c FROM dflt WHERE id = 1")
    ) == [("2024-01-01 00:00:00",)]
    # DEFAULT + NOT NULL: omitted column passes the constraint via the fill
    eng.sql("INSERT INTO dflt (id) VALUES (4)")
    assert rows(eng.sql("SELECT count(*) n FROM dflt")) == [(4,)]


# ------------------------------------------------ CREATE FUNCTION (SQL body)

def test_create_function_return_form(eng):
    eng.sql("CREATE TABLE fx (id INT, amt DOUBLE)")
    eng.sql("INSERT INTO fx VALUES (1, 100.0), (2, 50.0)")
    eng.sql(
        "CREATE FUNCTION add_tax(amount DOUBLE) RETURNS DOUBLE"
        " RETURN amount * 1.21"
    )
    assert rows(
        eng.sql("SELECT id, add_tax(amt) t FROM fx ORDER BY id")
    ) == [(1, 121.0), (2, 60.5)]


def test_create_function_pg_dollar_body(eng):
    eng.sql(
        "CREATE FUNCTION short_label(s TEXT, n INTEGER) RETURNS TEXT"
        " AS $$ SELECT CONCAT(SUBSTR(s, 1, n), '...') $$ LANGUAGE SQL"
    )
    assert rows(eng.sql("SELECT short_label('abcdefgh', 3) l")) == [
        ("abc...",)
    ]


def test_create_function_quoted_body_language_sql(eng):
    eng.sql(
        "CREATE FUNCTION neg(x INT) RETURNS INT AS 'SELECT -x' LANGUAGE SQL"
    )
    assert rows(eng.sql("SELECT neg(7) n")) == [(-7,)]


def test_create_function_or_replace_and_duplicate(eng):
    eng.sql("CREATE FUNCTION f1(x INT) RETURNS INT RETURN x + 1")
    with pytest.raises(EngineError, match="already exists"):
        eng.sql("CREATE FUNCTION f1(x INT) RETURNS INT RETURN x + 2")
    eng.sql("CREATE OR REPLACE FUNCTION f1(x INT) RETURNS INT RETURN x + 2")
    assert rows(eng.sql("SELECT f1(1) v")) == [(3,)]


def test_drop_function(eng):
    eng.sql("CREATE FUNCTION gone(x INT) RETURNS INT RETURN x")
    eng.sql("DROP FUNCTION gone")
    with pytest.raises(Exception):
        eng.sql("SELECT gone(1)").collect()
    with pytest.raises(EngineError, match="not found"):
        eng.sql("DROP FUNCTION gone")
    eng.sql("DROP FUNCTION IF EXISTS gone")  # no-op, no raise


def test_function_persists_across_engines(spark, tmp_path):
    wh = str(tmp_path / "fnwh")
    e1 = Engine(spark, warehouse=wh)
    e1.sql(
        "CREATE FUNCTION double_it(x BIGINT) RETURNS BIGINT RETURN x * 2"
    )
    e2 = Engine(spark, warehouse=wh)
    assert rows(e2.sql("SELECT double_it(21) v")) == [(42,)]


def test_function_appears_in_pg_proc(eng):
    eng.sql("CREATE FUNCTION visible(x INT) RETURNS DOUBLE RETURN x * 0.5")
    got = rows(eng.sql(
        "SELECT proname, prorettype FROM pg_proc WHERE proname = 'visible'"
    ))
    assert got == [("visible", 701)]  # float8 oid
    eng.sql("DROP FUNCTION visible")
    assert rows(eng.sql("SELECT COUNT(*) n FROM pg_proc")) == [(0,)]


def test_function_body_with_keywordish_literal(eng):
    # literal containing 'LANGUAGE SQL' / 'RETURN' must not confuse parsing
    eng.sql(
        "CREATE FUNCTION tricky(x INT) RETURNS TEXT"
        " RETURN CONCAT('return language sql ', CAST(x AS STRING))"
    )
    assert rows(eng.sql("SELECT tricky(1) t")) == [("return language sql 1",)]


def test_interval_typed_column(eng):
    """INTERVAL columns are Spark DayTimeIntervalType (upgrade over the
    reference's ISO-string storage, kv/TableMetadata.java:348-349):
    they survive the parquet round-trip, coerce from 'd hh:mm:ss'
    strings and INTERVAL literals, order correctly, and do timestamp
    arithmetic natively — no cast required."""
    import datetime

    eng.sql(
        "CREATE TABLE jobs (id INT PRIMARY KEY, started TIMESTAMP, "
        "dur INTERVAL)"
    )
    eng.sql(
        "INSERT INTO jobs VALUES "
        "(1, TIMESTAMP '2024-01-01 08:00:00', "
        " INTERVAL '0 01:30:00' DAY TO SECOND), "
        "(3, TIMESTAMP '2024-01-02 10:00:00', NULL)"
    )
    # string form coerces via the per-column cast (a SEPARATE statement:
    # Spark's inline VALUES assigns untyped strings StringType and will
    # not unify them with an INTERVAL literal in the same column)
    eng.sql(
        "INSERT INTO jobs VALUES "
        "(2, TIMESTAMP '2024-01-01 09:00:00', '0 00:45:00')"
    )
    df = eng.sql("SELECT id, dur FROM jobs ORDER BY id")
    assert "interval day to second" in dict(df.dtypes)["dur"]
    got = rows(df)
    assert got[0][1] == datetime.timedelta(hours=1, minutes=30)
    assert got[1][1] == datetime.timedelta(minutes=45)
    assert got[2][1] is None
    # native arithmetic: finish = started + dur, and interval ordering
    out = rows(
        eng.sql(
            "SELECT id, started + dur AS finish FROM jobs "
            "WHERE dur IS NOT NULL ORDER BY dur DESC"
        )
    )
    assert [r[0] for r in out] == [1, 2]
    assert out[0][1] == datetime.datetime(2024, 1, 1, 9, 30)
    # aggregate over intervals (sum of durations)
    tot = rows(eng.sql("SELECT SUM(dur) AS t FROM jobs"))[0][0]
    assert tot == datetime.timedelta(hours=2, minutes=15)
