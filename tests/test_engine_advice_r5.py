"""Round-5 regression tests for the advisor-reported engine bugs:

1. ON CONFLICT DO UPDATE with duplicate conflict keys WITHIN the batch
   must raise (pg: "cannot affect row a second time"), not silently
   insert duplicate PK rows through MERGE's NOT MATCHED branch.
2. MERGE must enforce table CHECK constraints on the merged result (it
   re-validated only NOT NULL and enum domains).
3. CREATE TABLE constraint dispatch must key on the constraint KEYWORD,
   not a substring — `CONSTRAINT fk_x FOREIGN KEY (check_id) REFERENCES
   checklist(id)` is an FK even though 'check' appears three times.
4. RETURNING / ON CONFLICT suffix detection must ignore string literals
   in VALUES.
5. DISTINCT ON + ORDER BY + LIMIT/OFFSET must not absorb the LIMIT into
   the window's ORDER BY.
"""

from __future__ import annotations

import pytest

from cassandra_sql_spark.engine import Engine, EngineError


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, warehouse=str(tmp_path / "wh"))


def rows(df):
    return [tuple(r) for r in df.collect()]


def test_upsert_duplicate_batch_keys_raise(eng):
    eng.sql("CREATE TABLE t (id INT PRIMARY KEY, v TEXT)")
    eng.sql("INSERT INTO t VALUES (1, 'a')")
    with pytest.raises(EngineError, match="second time"):
        eng.sql(
            "INSERT INTO t VALUES (2, 'x'), (2, 'y') "
            "ON CONFLICT (id) DO UPDATE SET v = excluded.v"
        )
    # table unchanged: no duplicate-PK rows leaked through
    assert rows(eng.sql("SELECT id, v FROM t ORDER BY id")) == [(1, "a")]


def test_upsert_unique_batch_keys_still_work(eng):
    eng.sql("CREATE TABLE t (id INT PRIMARY KEY, v TEXT)")
    eng.sql("INSERT INTO t VALUES (1, 'a')")
    eng.sql(
        "INSERT INTO t VALUES (1, 'A'), (2, 'b') "
        "ON CONFLICT (id) DO UPDATE SET v = excluded.v"
    )
    assert rows(eng.sql("SELECT id, v FROM t ORDER BY id")) == [
        (1, "A"),
        (2, "b"),
    ]


def test_merge_enforces_check_constraints(eng):
    eng.sql("CREATE TABLE t (id INT PRIMARY KEY, n INT CHECK (n >= 0))")
    eng.sql("INSERT INTO t VALUES (1, 5)")
    eng.sql("CREATE TABLE s (id INT, n INT)")
    eng.sql("INSERT INTO s VALUES (1, -3)")
    with pytest.raises(EngineError, match="CHECK violated"):
        eng.sql(
            "MERGE INTO t USING s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET n = s.n"
        )
    assert rows(eng.sql("SELECT n FROM t")) == [(5,)]


def test_upsert_do_update_enforces_check(eng):
    # the ON CONFLICT DO UPDATE path goes through _merge too
    eng.sql("CREATE TABLE t (id INT PRIMARY KEY, n INT CHECK (n >= 0))")
    eng.sql("INSERT INTO t VALUES (1, 5)")
    with pytest.raises(EngineError, match="CHECK violated"):
        eng.sql(
            "INSERT INTO t VALUES (1, -9) "
            "ON CONFLICT (id) DO UPDATE SET n = excluded.n"
        )


def test_named_fk_with_check_in_identifiers(eng):
    eng.sql("CREATE TABLE checklist (id INT PRIMARY KEY, title TEXT)")
    eng.sql("INSERT INTO checklist VALUES (1, 'daily')")
    eng.sql(
        "CREATE TABLE items (item_id INT PRIMARY KEY, check_id INT, "
        "CONSTRAINT fk_check FOREIGN KEY (check_id) "
        "REFERENCES checklist (id))"
    )
    eng.sql("INSERT INTO items VALUES (10, 1)")
    # the FK must actually be registered — an orphan insert fails
    with pytest.raises(EngineError):
        eng.sql("INSERT INTO items VALUES (11, 999)")


def test_named_check_and_named_unique_constraints(eng):
    eng.sql(
        "CREATE TABLE t (id INT PRIMARY KEY, n INT, u TEXT, "
        "CONSTRAINT n_nonneg CHECK (n >= 0), CONSTRAINT u_uni UNIQUE (u))"
    )
    eng.sql("INSERT INTO t VALUES (1, 1, 'a')")
    with pytest.raises(EngineError, match="CHECK violated"):
        eng.sql("INSERT INTO t VALUES (2, -1, 'b')")
    with pytest.raises(EngineError, match="UNIQUE"):
        eng.sql("INSERT INTO t VALUES (3, 3, 'a')")


def test_insert_literal_containing_returning_keyword(eng):
    eng.sql("CREATE TABLE t (id INT PRIMARY KEY, v TEXT)")
    eng.sql("INSERT INTO t VALUES (1, 'items returning soon')")
    assert rows(eng.sql("SELECT v FROM t")) == [("items returning soon",)]


def test_insert_literal_containing_on_conflict_keyword(eng):
    eng.sql("CREATE TABLE t (id INT PRIMARY KEY, v TEXT)")
    eng.sql("INSERT INTO t VALUES (1, 'the on conflict do nothing clause')")
    assert rows(eng.sql("SELECT v FROM t")) == [
        ("the on conflict do nothing clause",)
    ]


def test_insert_literal_with_real_returning_after(eng):
    eng.sql("CREATE TABLE t (id INT PRIMARY KEY, v TEXT)")
    out = eng.sql(
        "INSERT INTO t VALUES (1, 'returning x') RETURNING id, v"
    )
    assert rows(out) == [(1, "returning x")]


def test_distinct_on_with_limit(eng):
    eng.sql("CREATE TABLE t (k INT, c INT)")
    eng.sql(
        "INSERT INTO t VALUES (1, 9), (1, 1), (2, 8), (2, 2), (3, 7)"
    )
    out = eng.sql(
        "SELECT DISTINCT ON (k) k, c FROM t ORDER BY k, c LIMIT 2"
    )
    assert rows(out) == [(1, 1), (2, 2)]


def test_distinct_on_with_offset(eng):
    eng.sql("CREATE TABLE t (k INT, c INT)")
    eng.sql("INSERT INTO t VALUES (1, 9), (1, 1), (2, 8), (3, 7)")
    out = eng.sql(
        "SELECT DISTINCT ON (k) k, c FROM t ORDER BY k, c "
        "LIMIT 10 OFFSET 1"
    )
    assert rows(out) == [(2, 8), (3, 7)]


# ---- round-5 DML/DDL extensions (pg staples the reference lacks) ----


def test_update_from(eng):
    eng.sql("CREATE TABLE t (id INT PRIMARY KEY, v INT)")
    eng.sql("INSERT INTO t VALUES (1, 10), (2, 20), (3, 30)")
    eng.sql("CREATE TABLE s (id INT PRIMARY KEY, delta INT)")
    eng.sql("INSERT INTO s VALUES (1, 100), (3, 300)")
    eng.sql("UPDATE t SET v = t.v + s.delta FROM s WHERE t.id = s.id")
    assert rows(eng.sql("SELECT id, v FROM t ORDER BY id")) == [
        (1, 110),
        (2, 20),
        (3, 330),
    ]


def test_update_from_multi_match_raises(eng):
    eng.sql("CREATE TABLE t (id INT PRIMARY KEY, v INT)")
    eng.sql("INSERT INTO t VALUES (1, 10)")
    eng.sql("CREATE TABLE s (id INT, delta INT)")
    eng.sql("INSERT INTO s VALUES (1, 100), (1, 200)")
    with pytest.raises(EngineError, match="more than once"):
        eng.sql("UPDATE t SET v = s.delta FROM s WHERE t.id = s.id")


def test_update_from_returning(eng):
    eng.sql("CREATE TABLE t (id INT PRIMARY KEY, v INT)")
    eng.sql("INSERT INTO t VALUES (1, 10), (2, 20)")
    eng.sql("CREATE TABLE s (id INT PRIMARY KEY, delta INT)")
    eng.sql("INSERT INTO s VALUES (2, 5)")
    out = eng.sql(
        "UPDATE t SET v = s.delta FROM s WHERE t.id = s.id "
        "RETURNING id, v"
    )
    assert rows(out) == [(2, 5)]


def test_update_substring_from_is_not_update_from(eng):
    # `substring(x FROM 2)` sits inside parens — must stay a plain UPDATE
    eng.sql("CREATE TABLE t (id INT PRIMARY KEY, v TEXT)")
    eng.sql("INSERT INTO t VALUES (1, 'abcdef')")
    eng.sql("UPDATE t SET v = substring(v FROM 2) WHERE id = 1")
    assert rows(eng.sql("SELECT v FROM t")) == [("bcdef",)]


def test_update_literal_with_from_keyword(eng):
    eng.sql("CREATE TABLE t (id INT PRIMARY KEY, v TEXT)")
    eng.sql("INSERT INTO t VALUES (1, 'x')")
    eng.sql("UPDATE t SET v = 'greetings from over there' WHERE id = 1")
    assert rows(eng.sql("SELECT v FROM t")) == [
        ("greetings from over there",)
    ]


def test_delete_using(eng):
    eng.sql("CREATE TABLE t (id INT PRIMARY KEY, v INT)")
    eng.sql("INSERT INTO t VALUES (1, 10), (2, 20), (3, 30)")
    eng.sql("CREATE TABLE dead (id INT PRIMARY KEY)")
    eng.sql("INSERT INTO dead VALUES (1), (3)")
    eng.sql("DELETE FROM t USING dead WHERE t.id = dead.id")
    assert rows(eng.sql("SELECT id FROM t ORDER BY id")) == [(2,)]


@pytest.mark.slow
def test_delete_using_returning(eng):
    eng.sql("CREATE TABLE t (id INT PRIMARY KEY, v INT)")
    eng.sql("INSERT INTO t VALUES (1, 10), (2, 20)")
    eng.sql("CREATE TABLE dead (id INT PRIMARY KEY)")
    eng.sql("INSERT INTO dead VALUES (2)")
    out = eng.sql("DELETE FROM t USING dead WHERE t.id = dead.id RETURNING id, v")
    assert rows(out) == [(2, 20)]


def test_insert_default_values(eng):
    eng.sql(
        "CREATE TABLE t (id SERIAL PRIMARY KEY, v TEXT DEFAULT 'dv', "
        "n INT)"
    )
    eng.sql("INSERT INTO t DEFAULT VALUES")
    eng.sql("INSERT INTO t DEFAULT VALUES")
    assert rows(eng.sql("SELECT id, v, n FROM t ORDER BY id")) == [
        (1, "dv", None),
        (2, "dv", None),
    ]


def test_alter_rename_table(eng):
    eng.sql("CREATE TABLE old_t (id SERIAL PRIMARY KEY, v TEXT)")
    eng.sql("INSERT INTO old_t (v) VALUES ('a')")
    eng.sql("ALTER TABLE old_t RENAME TO new_t")
    eng.sql("INSERT INTO new_t (v) VALUES ('b')")  # SERIAL survives rename
    assert rows(eng.sql("SELECT id, v FROM new_t ORDER BY id")) == [
        (1, "a"),
        (2, "b"),
    ]
    with pytest.raises(Exception):  # Spark AnalysisException: unknown table
        eng.sql("SELECT * FROM old_t")


def test_alter_rename_table_updates_fk_references(eng):
    eng.sql("CREATE TABLE p (id INT PRIMARY KEY)")
    eng.sql("INSERT INTO p VALUES (1)")
    eng.sql(
        "CREATE TABLE c (id INT PRIMARY KEY, pid INT, "
        "FOREIGN KEY (pid) REFERENCES p (id))"
    )
    eng.sql("ALTER TABLE p RENAME TO parent")
    eng.sql("INSERT INTO c VALUES (1, 1)")  # FK must resolve to new name
    with pytest.raises(EngineError):
        eng.sql("INSERT INTO c VALUES (2, 999)")


@pytest.mark.slow
def test_alter_rename_column(eng):
    eng.sql(
        "CREATE TABLE t (id INT PRIMARY KEY, n INT CHECK (n >= 0))"
    )
    eng.sql("INSERT INTO t VALUES (1, 5)")
    eng.sql("ALTER TABLE t RENAME COLUMN n TO amount")
    assert rows(eng.sql("SELECT amount FROM t")) == [(5,)]
    # the CHECK expression followed the rename
    with pytest.raises(EngineError, match="CHECK violated"):
        eng.sql("INSERT INTO t VALUES (2, -1)")
    # and so did the PK on a rename of the key column
    eng.sql("ALTER TABLE t RENAME COLUMN id TO tid")
    with pytest.raises(EngineError, match="UNIQUE|unique"):
        eng.sql("INSERT INTO t (tid, amount) VALUES (1, 3)")


# ---- adversarial interactions of the round-5 surface ----


@pytest.mark.slow
def test_update_from_null_join_keys(eng):
    # NULL = NULL is not a match in the join condition — NULL-keyed rows
    # stay untouched on both sides
    eng.sql("CREATE TABLE t (id INT PRIMARY KEY, k INT, v INT)")
    eng.sql("INSERT INTO t VALUES (1, NULL, 10), (2, 7, 20)")
    eng.sql("CREATE TABLE s (k INT, delta INT)")
    eng.sql("INSERT INTO s VALUES (NULL, 999), (7, 5)")
    eng.sql("UPDATE t SET v = s.delta FROM s WHERE t.k = s.k")
    assert rows(eng.sql("SELECT id, v FROM t ORDER BY id")) == [
        (1, 10),
        (2, 5),
    ]


@pytest.mark.slow
def test_delete_using_null_join_keys(eng):
    eng.sql("CREATE TABLE t (id INT PRIMARY KEY, k INT)")
    eng.sql("INSERT INTO t VALUES (1, NULL), (2, 7)")
    eng.sql("CREATE TABLE s (k INT)")
    eng.sql("INSERT INTO s VALUES (NULL), (7)")
    eng.sql("DELETE FROM t USING s WHERE t.k = s.k")
    assert rows(eng.sql("SELECT id FROM t ORDER BY id")) == [(1,)]


@pytest.mark.slow
def test_update_from_recomputes_generated_columns(eng):
    eng.sql(
        "CREATE TABLE t (id INT PRIMARY KEY, a INT, "
        "doubled INT GENERATED ALWAYS AS (a * 2) STORED)"
    )
    eng.sql("INSERT INTO t (id, a) VALUES (1, 3)")
    eng.sql("CREATE TABLE s (id INT PRIMARY KEY, a INT)")
    eng.sql("INSERT INTO s VALUES (1, 10)")
    eng.sql("UPDATE t SET a = s.a FROM s WHERE t.id = s.id")
    assert rows(eng.sql("SELECT a, doubled FROM t")) == [(10, 20)]


@pytest.mark.slow
def test_update_from_enforces_checks(eng):
    eng.sql("CREATE TABLE t (id INT PRIMARY KEY, n INT CHECK (n >= 0))")
    eng.sql("INSERT INTO t VALUES (1, 5)")
    eng.sql("CREATE TABLE s (id INT PRIMARY KEY, n INT)")
    eng.sql("INSERT INTO s VALUES (1, -4)")
    with pytest.raises(EngineError, match="CHECK violated"):
        eng.sql("UPDATE t SET n = s.n FROM s WHERE t.id = s.id")
    assert rows(eng.sql("SELECT n FROM t")) == [(5,)]


def test_insert_default_values_with_generated_column(eng):
    eng.sql(
        "CREATE TABLE t (id SERIAL PRIMARY KEY, a INT DEFAULT 21, "
        "doubled INT GENERATED ALWAYS AS (a * 2) STORED)"
    )
    eng.sql("INSERT INTO t DEFAULT VALUES")
    assert rows(eng.sql("SELECT id, a, doubled FROM t")) == [(1, 21, 42)]


@pytest.mark.slow
def test_rename_column_follows_generated_expression(eng):
    eng.sql(
        "CREATE TABLE t (id INT PRIMARY KEY, a INT, "
        "doubled INT GENERATED ALWAYS AS (a * 2) STORED)"
    )
    eng.sql("INSERT INTO t (id, a) VALUES (1, 4)")
    eng.sql("ALTER TABLE t RENAME COLUMN a TO base")
    eng.sql("UPDATE t SET base = 6 WHERE id = 1")
    assert rows(eng.sql("SELECT base, doubled FROM t")) == [(6, 12)]


@pytest.mark.slow
def test_rename_table_then_merge_and_views_still_work(eng):
    eng.sql("CREATE TABLE t0 (id INT PRIMARY KEY, v INT)")
    eng.sql("INSERT INTO t0 VALUES (1, 10)")
    eng.sql("ALTER TABLE t0 RENAME TO t1")
    eng.sql("CREATE TABLE src (id INT, v INT)")
    eng.sql("INSERT INTO src VALUES (1, 11), (2, 22)")
    eng.sql(
        "MERGE INTO t1 USING src ON t1.id = src.id "
        "WHEN MATCHED THEN UPDATE SET v = src.v "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (src.id, src.v)"
    )
    assert rows(eng.sql("SELECT id, v FROM t1 ORDER BY id")) == [
        (1, 11),
        (2, 22),
    ]


# ---- VERIFY CONSTRAINTS (the async ConstraintViolationCheckerJob,
# kv/jobs/ConstraintViolationCheckerJob.java, as a set-based statement) --


def test_verify_constraints_clean_table(eng):
    eng.sql("CREATE TABLE t (id INT PRIMARY KEY, n INT CHECK (n >= 0))")
    eng.sql("INSERT INTO t VALUES (1, 5)")
    assert rows(eng.sql("VERIFY CONSTRAINTS t")) == []


def test_verify_constraints_finds_fk_drift_after_parent_delete(eng):
    # FKs validate child writes only; deleting the parent afterwards
    # leaves orphans — the drift the reference's async job catches
    eng.sql("CREATE TABLE p (id INT PRIMARY KEY)")
    eng.sql("INSERT INTO p VALUES (1), (2)")
    eng.sql(
        "CREATE TABLE c (id INT PRIMARY KEY, pid INT, "
        "FOREIGN KEY (pid) REFERENCES p (id))"
    )
    eng.sql("INSERT INTO c VALUES (10, 1), (11, 2)")
    eng.sql("DELETE FROM p WHERE id = 2")
    got = rows(eng.sql("VERIFY CONSTRAINTS c"))
    assert got == [("c", "foreign_key", "(pid) -> p", 1)]


def test_verify_constraints_finds_pk_drift_after_alter_add_pk(eng):
    # ALTER ADD PRIMARY KEY validates the rows there, as pg does; a file
    # written into the version directory behind the engine's back later
    # is the drift VERIFY CONSTRAINTS surfaces
    eng.sql("CREATE TABLE t (id INT, v INT)")
    eng.sql("INSERT INTO t VALUES (1, 10), (2, 20)")
    eng.sql("ALTER TABLE t ADD PRIMARY KEY (id)")
    eng.spark.createDataFrame([(1, 11, 3)], "id int, v int, rowid bigint") \
        .write.mode("append").parquet(eng.catalog.tables["t"].path)
    got = rows(eng.sql("VERIFY CONSTRAINTS t"))
    assert ("t", "primary_key", "id", 2) in got


def test_copy_validates_check_so_verify_stays_clean(eng, tmp_path):
    # COPY FROM runs the same validation as INSERT — bad rows are
    # rejected wholesale, so the audit has nothing to find
    import csv

    path = tmp_path / "bad.csv"
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["id", "n"])
        w.writerow([1, 5])
        w.writerow([2, -7])
    eng.sql("CREATE TABLE t (id INT PRIMARY KEY, n INT CHECK (n >= 0))")
    with pytest.raises(EngineError, match="CHECK violated"):
        eng.sql(f"COPY t FROM '{path}' WITH (FORMAT CSV, HEADER)")
    assert rows(eng.sql("VERIFY CONSTRAINTS t")) == []


def test_verify_constraints_all_tables(eng):
    eng.sql("CREATE TABLE a (id INT PRIMARY KEY)")
    eng.sql("CREATE TABLE b (id INT PRIMARY KEY)")
    eng.sql("INSERT INTO a VALUES (1)")
    out = eng.sql("VERIFY CONSTRAINTS")
    assert rows(out) == []
    assert out.columns == [
        "table_name", "constraint_type", "constraint", "n_violations",
    ]


# ---- partitioned tables + OPTIMIZE [ZORDER BY] ----


def test_partitioned_table_roundtrip_and_pruning(eng, tmp_path):
    import glob

    eng.sql(
        "CREATE TABLE pt (id INT PRIMARY KEY, region TEXT, v INT) "
        "PARTITION BY LIST (region)"
    )
    eng.sql(
        "INSERT INTO pt VALUES (1, 'eu', 10), (2, 'us', 20), (3, 'eu', 30)"
    )
    assert rows(eng.sql("SELECT id, region, v FROM pt ORDER BY id")) == [
        (1, "eu", 10),
        (2, "us", 20),
        (3, "eu", 30),
    ]
    # hive-style layout on disk: one directory per partition value
    meta_path = eng.catalog.tables["pt"].path
    dirs = {
        d.split("/")[-1]
        for d in glob.glob(f"{meta_path}/region=*")
    }
    assert dirs == {"region=eu", "region=us"}
    # DML still works through the partitioned layout
    eng.sql("UPDATE pt SET v = v + 1 WHERE region = 'eu'")
    assert rows(eng.sql("SELECT id, v FROM pt ORDER BY id")) == [
        (1, 11),
        (2, 20),
        (3, 31),
    ]
    eng.sql("DELETE FROM pt WHERE region = 'us'")
    assert rows(eng.sql("SELECT id FROM pt ORDER BY id")) == [(1,), (3,)]


def test_partitioned_table_unknown_column_rejected(eng):
    with pytest.raises(EngineError, match="unknown partition column"):
        eng.sql(
            "CREATE TABLE bad (id INT PRIMARY KEY) PARTITION BY (nope)"
        )


def test_optimize_compacts(eng):
    eng.sql("CREATE TABLE ot (id INT PRIMARY KEY, v INT)")
    for i in range(4):
        eng.sql(f"INSERT INTO ot VALUES ({i}, {i * 10})")
    eng.sql("OPTIMIZE ot")
    assert rows(eng.sql("SELECT id, v FROM ot ORDER BY id")) == [
        (i, i * 10) for i in range(4)
    ]
    import glob

    files = glob.glob(f"{eng.catalog.tables['ot'].path}/*.parquet")
    assert len(files) == 1  # 4 rows -> 1 file


@pytest.mark.slow
def test_optimize_zorder_preserves_data_and_clusters(eng):
    import glob

    import pyarrow.parquet as pq

    eng.sql("CREATE TABLE zt (id INT PRIMARY KEY, a INT, b INT)")
    n = 200_000
    eng.sql(
        "INSERT INTO zt SELECT id, CAST(id % 1000 AS INT), "
        "CAST((id * 2654435761) % 1000 AS INT) "
        f"FROM range({n}) ORDER BY id"
    )
    eng.sql("OPTIMIZE zt ZORDER BY (a, b)")
    got = eng.sql("SELECT COUNT(*) AS n, SUM(a) AS sa, SUM(b) AS sb FROM zt")
    r = rows(got)[0]
    assert r[0] == n
    # multiple files, each covering a hyper-rectangle of (a, b): the
    # AVERAGE per-file span on BOTH columns sits well under the full
    # 0-999 range (a lexicographic sort leaves b's span at ~999 in every
    # file; the top-level z splits leave one dim wide in a few files,
    # which is why the bound is on the mean, not each file)
    files = sorted(glob.glob(f"{eng.catalog.tables['zt'].path}/*.parquet"))
    assert len(files) >= 4
    spans = {"a": [], "b": []}
    for f in files:
        pf = pq.ParquetFile(f)
        names = [pf.metadata.schema.column(i).name
                 for i in range(pf.metadata.num_columns)]
        for col in ("a", "b"):
            idx = names.index(col)
            mins, maxs = [], []
            for i in range(pf.metadata.num_row_groups):
                st = pf.metadata.row_group(i).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            spans[col].append(max(maxs) - min(mins))
    avg_a = sum(spans["a"]) / len(files)
    avg_b = sum(spans["b"]) / len(files)
    assert avg_a < 700 and avg_b < 700, (avg_a, avg_b, spans)


def test_optimize_zorder_unknown_column(eng):
    eng.sql("CREATE TABLE zx (id INT PRIMARY KEY)")
    with pytest.raises(Exception):
        eng.sql("OPTIMIZE zx ZORDER BY (missing)")


def test_engine_select_qualify(eng):
    eng.sql("CREATE TABLE ql (id INT PRIMARY KEY, k TEXT, v INT)")
    eng.sql(
        "INSERT INTO ql VALUES (1,'a',3),(2,'a',1),(3,'b',2),(4,'b',4)"
    )
    out = rows(eng.sql(
        "SELECT k, id FROM ql "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY k ORDER BY v DESC) = 1 "
        "ORDER BY k"
    ))
    assert out == [("a", 1), ("b", 4)]


# ---- subquery predicates in UPDATE / DELETE ----


def test_update_where_in_subquery(eng):
    eng.sql("CREATE TABLE sqa (id INT PRIMARY KEY, v INT)")
    eng.sql("CREATE TABLE sqb (id INT PRIMARY KEY)")
    eng.sql("INSERT INTO sqa VALUES (1,10),(2,20),(3,30)")
    eng.sql("INSERT INTO sqb VALUES (2),(3)")
    eng.sql("UPDATE sqa SET v = v + 1 WHERE id IN (SELECT id FROM sqb)")
    assert rows(eng.sql("SELECT id, v FROM sqa ORDER BY id")) == [
        (1, 10), (2, 21), (3, 31),
    ]


def test_update_where_correlated_exists(eng):
    eng.sql("CREATE TABLE sqc (id INT PRIMARY KEY, v INT)")
    eng.sql("CREATE TABLE sqd (id INT PRIMARY KEY)")
    eng.sql("INSERT INTO sqc VALUES (1,10),(2,20),(3,30)")
    eng.sql("INSERT INTO sqd VALUES (3)")
    eng.sql(
        "UPDATE sqc SET v = 0 "
        "WHERE EXISTS (SELECT 1 FROM sqd WHERE sqd.id = sqc.id)"
    )
    assert rows(eng.sql("SELECT id, v FROM sqc ORDER BY id")) == [
        (1, 10), (2, 20), (3, 0),
    ]


def test_update_set_scalar_subquery(eng):
    eng.sql("CREATE TABLE sqe (id INT PRIMARY KEY, v INT)")
    eng.sql("CREATE TABLE sqf (id INT PRIMARY KEY)")
    eng.sql("INSERT INTO sqe VALUES (1,10)")
    eng.sql("INSERT INTO sqf VALUES (7),(9)")
    eng.sql("UPDATE sqe SET v = (SELECT MAX(id) FROM sqf) WHERE id = 1")
    assert rows(eng.sql("SELECT v FROM sqe")) == [(9,)]


def test_delete_where_correlated_not_exists(eng):
    eng.sql("CREATE TABLE sqg (id INT PRIMARY KEY, v INT)")
    eng.sql("CREATE TABLE sqh (id INT PRIMARY KEY)")
    eng.sql("INSERT INTO sqg VALUES (1,10),(2,20),(3,30)")
    eng.sql("INSERT INTO sqh VALUES (1)")
    eng.sql(
        "DELETE FROM sqg "
        "WHERE NOT EXISTS (SELECT 1 FROM sqh WHERE sqh.id = sqg.id)"
    )
    assert rows(eng.sql("SELECT id FROM sqg ORDER BY id")) == [(1,)]


# ---- COPY (query) TO / ORC format ----


def test_copy_query_to_csv(eng, tmp_path):
    import csv, glob

    eng.sql("CREATE TABLE cq (id INT PRIMARY KEY, v INT)")
    eng.sql("INSERT INTO cq VALUES (1,10),(2,20),(3,30)")
    out = str(tmp_path / "q_out")
    eng.sql(
        f"COPY (SELECT id, v * 2 AS v2 FROM cq WHERE v > 10) "
        f"TO '{out}' HEADER"
    )
    f = glob.glob(f"{out}/*.csv")[0]
    with open(f) as fh:
        got = list(csv.reader(fh))
    assert got[0] == ["id", "v2"]
    assert sorted(got[1:]) == [["2", "40"], ["3", "60"]]


def test_copy_orc_roundtrip(eng, tmp_path):
    eng.sql("CREATE TABLE co (id INT PRIMARY KEY, v INT)")
    eng.sql("INSERT INTO co VALUES (1,10),(2,20)")
    p = str(tmp_path / "orc_out")
    eng.sql(f"COPY co TO '{p}' FORMAT ORC")
    eng.sql("CREATE TABLE co2 (id INT PRIMARY KEY, v INT)")
    eng.sql(f"COPY co2 FROM '{p}' FORMAT ORC")
    assert rows(eng.sql("SELECT id, v FROM co2 ORDER BY id")) == [
        (1, 10), (2, 20),
    ]


def test_copy_query_with_qualify_to_parquet(eng, tmp_path):
    eng.sql("CREATE TABLE cw (id INT PRIMARY KEY, k TEXT, v INT)")
    eng.sql("INSERT INTO cw VALUES (1,'a',3),(2,'a',1),(3,'b',2)")
    p = str(tmp_path / "pq_out")
    eng.sql(
        f"COPY (SELECT k, id FROM cw QUALIFY ROW_NUMBER() OVER "
        f"(PARTITION BY k ORDER BY v DESC) = 1) TO '{p}' FORMAT PARQUET"
    )
    got = sorted(
        tuple(r) for r in eng.spark.read.parquet(p).collect()
    )
    assert got == [("a", 1), ("b", 3)]
