"""The benchmark's workloads and their output checks.

A workload is a list of ops, each built fresh on every pass:

- ``registry``: the 15 SQL-family headline registry entries (``ANALYTICS``)
  and three training-data pipeline entries (``PIPELINE``), sunk to noop.
- ``engine_rw``: a pg-SQL script run statement by statement through
  ``Engine.sql`` on a fresh warehouse, each result collected to the client.

The seed sets the op order within each registry pass and the engine
script's predicate constants and VALUES rows. Outputs are checked against
DuckDB: registry entries against their ``Q.oracle`` SQL, the engine script
against the same script replayed in DuckDB and against DuckDB reading the
parquet files the engine wrote.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass
from typing import Callable, Optional

ANALYTICS = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q10_returned_items",
    "q18_large_volume_customer",
    "agg_count_distinct",
    "agg_rollup",
    "win_topk_per_group",
    "win_running_agg",
    "subq_correlated",
    "setop_union_distinct",
    "json_filter_agg",
    "expr_time_bucket_agg",
)

PIPELINE = (
    "dedup_ngram_jaccard",
    "text_repetition_filter",
    "sim_topk_bruteforce",
)

REGISTRY_OPS = ANALYTICS + PIPELINE

SOURCE_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


@dataclass
class Op:
    name: str
    cls: str                        # open | ddl | write | read
    build: Callable[[], object]     # returns a DataFrame, or None
    sink: str                       # noop | collect | none


def order_for_pass(names, seed: int, pass_no: int) -> list[str]:
    out = list(names)
    random.Random(f"{seed}:{pass_no}").shuffle(out)
    return out


def registry_ops(spark, data_dir: str, names) -> list[Op]:
    from cassandra_sql_spark.queries import REGISTRY

    def build(name):
        return lambda: REGISTRY[name].fn(spark, data_dir)

    return [Op(n, "read", build(n), "noop") for n in names]


def duck_sources(src_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in SOURCE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{src_dir}/{t}.parquet'"
        )
    return con


def check_registry(src_dir: str, sf: float, results: dict) -> dict[str, str]:
    """Problems per op name (missing name == output matches)."""
    from cassandra_sql_spark.queries import REGISTRY
    from cassandra_sql_spark.testing import compare
    from perfbench import expected

    stored = expected.load(sf)
    if stored["fingerprint"] != expected.fingerprint(src_dir):
        return {"expected.json": "stored oracle rows are for other data; "
                "regenerate with perfbench/expected.py"}
    con = duck_sources(src_dir)
    problems = {}
    for n in REGISTRY_OPS:
        if n not in results:
            continue  # the op raised; already counted as failed
        rows, cols = results[n]
        if n in expected.SLOW_ORACLES:
            want = stored["entries"][n]
            want_rows, want_cols = want["rows"], want["cols"]
        else:
            r = con.execute(REGISTRY[n].oracle)
            want_rows, want_cols = r.fetchall(), [d[0] for d in r.description]
        p = compare(rows, cols, want_rows, want_cols)
        if p:
            problems[n] = "; ".join(p)
    con.close()
    return problems


# -- engine_rw -------------------------------------------------------------


@dataclass
class Stmt:
    name: str
    cls: str
    sql: str                  # pg SQL for Engine.sql
    duck: Optional[str]       # the same step in DuckDB, None = no-op
    check: str                # count | rows | explain | vacuum | none


_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_COLS = "c_custkey, c_name, c_mktsegment, c_acctbal, profile"
SERIAL_ROWS = 2000


def _cust_rows(rng, keys, tag: str) -> str:
    return ", ".join(
        f"({k}, 'Customer#{tag}{k}', '{rng.choice(_SEGMENTS)}', "
        f"{rng.randint(-99_999, 999_999) / 100:.2f}, "
        f"'{{\"tier\": {rng.randint(0, 3)}}}')"
        for k in keys
    )


def engine_script(seed: int, rows: dict[str, int]) -> list[Stmt]:
    """The engine_rw script; ``rows`` are the source tables' row counts."""
    rng = random.Random(seed)
    n_cust, n_ord, n_part = rows["customer"], rows["orders"], rows["part"]
    serial_n = min(SERIAL_ROWS, n_cust)
    ship_cut = dt.date(2000, 6, 20) + dt.timedelta(rng.randint(-20, 20))
    upsert_keys = sorted(rng.sample(range(serial_n), 20)) + list(
        range(n_cust + 20_000, n_cust + 20_020))
    upsert = _cust_rows(rng, upsert_keys, "u")
    upd_key = int(n_ord * rng.uniform(0.009, 0.011))
    del_qty = rng.randint(47, 48)
    min_bal = rng.randint(0, 1000)
    max_part = int(n_part * rng.uniform(0.2, 0.3))

    lines_cols = (
        "l_orderkey BIGINT NOT NULL, l_linenumber INTEGER NOT NULL, "
        "l_partkey BIGINT, l_quantity DOUBLE PRECISION, "
        "l_extendedprice DOUBLE PRECISION, "
        "l_discount DOUBLE PRECISION NOT NULL, l_returnflag TEXT NOT NULL, "
        "l_shipyear INTEGER"
    )
    lines_pk = ", PRIMARY KEY (l_orderkey, l_linenumber)"
    custs_tail = (
        "c_custkey BIGINT NOT NULL UNIQUE, c_name TEXT NOT NULL, "
        "c_mktsegment TEXT NOT NULL, c_acctbal DOUBLE PRECISION, "
        "profile TEXT"
    )
    bulk = (
        "INSERT INTO lines SELECT l_orderkey, l_linenumber, l_partkey, "
        "l_quantity, l_extendedprice, l_discount, l_returnflag, "
        "CAST(year(l_shipdate) AS INTEGER) FROM (SELECT *, row_number() "
        "OVER (PARTITION BY l_orderkey, l_linenumber ORDER BY l_partkey, "
        "l_suppkey, l_extendedprice, l_quantity, l_discount, l_tax, "
        "l_returnflag, l_shipdate) AS rn FROM lineitem WHERE l_shipdate >= "
        f"TIMESTAMP '{ship_cut} 00:00:00') AS d WHERE rn = 1"
    )
    serial = (
        f"INSERT INTO custs ({_COLS}) SELECT c_custkey, c_name, "
        "c_mktsegment, c_acctbal, '{\"tier\": ' || (c_custkey % 4)::text "
        f"|| '}}' FROM customer WHERE c_custkey < {serial_n}"
    )
    update = (
        "UPDATE lines SET l_discount = l_discount + 0.01 WHERE l_orderkey "
        f"< {upd_key} RETURNING l_orderkey, l_linenumber, l_discount"
    )
    explain = (
        "SELECT l_returnflag, count(*) AS n FROM lines "
        "WHERE l_discount > 0.05 GROUP BY l_returnflag"
    )
    return [
        Stmt("create_lines", "ddl",
             f"CREATE TABLE lines ({lines_cols}{lines_pk}) PARTITION BY "
             "LIST (l_returnflag)",
             # no key index in DuckDB: its UPDATE of an indexed table can
             # raise a false duplicate-key error, and the engine is the
             # side whose key checks are under test
             f"CREATE TABLE lines ({lines_cols})", "none"),
        Stmt("create_custs", "ddl",
             f"CREATE TABLE custs (id SERIAL PRIMARY KEY, {custs_tail}) "
             "PARTITION BY LIST (c_mktsegment)",
             "CREATE SEQUENCE custs_id_seq; CREATE TABLE custs (id INTEGER "
             f"DEFAULT nextval('custs_id_seq') PRIMARY KEY, {custs_tail})",
             "none"),
        Stmt("insert_bulk", "write", bulk, bulk, "count"),
        Stmt("insert_serial", "write", serial, serial, "count"),
        Stmt("upsert", "write",
             f"INSERT INTO custs ({_COLS}) VALUES {upsert} ON CONFLICT "
             "(c_custkey) DO UPDATE SET c_acctbal = excluded.c_acctbal, "
             "profile = excluded.profile",
             f"INSERT INTO custs ({_COLS}) VALUES {upsert} ON CONFLICT "
             "(c_custkey) DO UPDATE SET c_acctbal = excluded.c_acctbal, "
             "profile = excluded.profile", "count"),
        Stmt("update_returning", "write", update, update, "rows"),
        Stmt("delete", "write",
             f"DELETE FROM lines WHERE l_quantity > {del_qty}",
             f"DELETE FROM lines WHERE l_quantity > {del_qty}", "count"),
        Stmt("select_cast", "read",
             "SELECT c_mktsegment, count(*)::bigint AS n, "
             "min(c_custkey)::bigint AS lo FROM custs "
             f"WHERE c_acctbal > {min_bal} GROUP BY c_mktsegment",
             None, "rows"),
        Stmt("select_json", "read",
             "SELECT profile->>'tier' AS tier, count(*)::bigint AS n "
             "FROM custs GROUP BY 1", None, "rows"),
        Stmt("select_distinct_on", "read",
             "SELECT DISTINCT ON (l_returnflag) l_returnflag, l_orderkey, "
             "l_linenumber, l_extendedprice FROM lines ORDER BY "
             "l_returnflag, l_extendedprice DESC, l_orderkey, l_linenumber",
             None, "rows"),
        Stmt("select_qualify", "read",
             "SELECT l_shipyear, l_orderkey, l_linenumber, l_quantity "
             f"FROM lines WHERE l_partkey < {max_part} QUALIFY row_number() "
             "OVER (PARTITION BY l_shipyear ORDER BY l_quantity DESC, "
             "l_orderkey, l_linenumber) <= 3", None, "rows"),
        Stmt("ctas", "ddl",
             "CREATE TABLE flag_year AS SELECT l_returnflag, l_shipyear, "
             "count(*)::bigint AS n FROM lines GROUP BY l_returnflag, "
             "l_shipyear",
             "CREATE TABLE flag_year AS SELECT l_returnflag, l_shipyear, "
             "count(*)::bigint AS n FROM lines GROUP BY l_returnflag, "
             "l_shipyear", "none"),
        Stmt("explain_analyze", "read", f"EXPLAIN ANALYZE {explain}",
             None, "explain"),
        Stmt("vacuum", "ddl", "VACUUM lines", None, "vacuum"),
    ]


# lines is written four times (create, bulk append, update, delete), so
# VACUUM drops the three versions before the current one
VACUUM_REMOVED = 3


class EnginePass:
    """One pass of the engine_rw script on its own warehouse."""

    def __init__(self, spark, data_dir: str, warehouse: str, script):
        self.spark, self.data_dir = spark, data_dir
        self.warehouse, self.script = warehouse, script
        self.engine = None

    def _open(self):
        from cassandra_sql_spark import io
        from cassandra_sql_spark.engine import Engine

        io.register(self.spark, self.data_dir, "lineitem", "customer")
        self.engine = Engine(self.spark, self.warehouse)

    def ops(self) -> list[Op]:
        def stmt(sql):
            return lambda: self.engine.sql(sql)

        return [Op("open", "open", self._open, "none")] + [
            Op(s.name, s.cls, stmt(s.sql), "collect") for s in self.script
        ]


def _tables_read(engine) -> dict[str, str]:
    """DuckDB expressions reading the parquet the engine wrote."""
    cat = engine.catalog
    out = {}
    for name in ("lines", "custs", "flag_year"):
        out[name] = (f"read_parquet('{cat.tables[name].path}/**/*.parquet', "
                     "hive_partitioning = true)")
    return out


def check_engine(src_dir: str, script, results: dict, engine) -> dict:
    """Replay the script in DuckDB; compare each statement's row count or
    rows, then every table the engine wrote, read back from its parquet."""
    from cassandra_sql_spark.testing import compare

    con = duck_sources(src_dir)
    problems = {}
    for s in script:
        got = results.get(s.name)
        if s.duck is not None:
            r = con.execute(s.duck)
        if got is None:
            continue  # the statement raised; already counted as failed
        rows, cols = got
        if s.check == "count":
            want = r.fetchall()[0][0]
            if rows[0][1] != want:
                problems[s.name] = f"rows={rows[0][1]} want {want}"
        elif s.check == "rows":
            if s.duck is None:
                r = con.execute(s.sql)
            p = compare(rows, cols, r.fetchall(),
                        [d[0] for d in r.description])
            if p:
                problems[s.name] = "; ".join(p)
        elif s.check == "explain":
            inner = s.sql.split(" ", 2)[2]
            want = len(con.execute(inner).fetchall())
            if f"Execution: {want} rows" not in rows[1][0]:
                problems[s.name] = f"{rows[1][0]!r} want {want} rows"
        elif s.check == "vacuum":
            if rows[0][1] != VACUUM_REMOVED:
                problems[s.name] = f"removed {rows[0][1]}"
    if engine is not None and "vacuum" in results:
        written = _tables_read(engine)
        for name, expr in written.items():
            meta = engine.catalog.tables.get(name)
            # storage-only columns: the hidden rowid, and SERIAL ids,
            # which each engine numbers in its own row order
            skip = [c.name for c in meta.columns
                    if c.hidden or c.identity] if meta else []
            cols = f"* EXCLUDE ({', '.join(skip)})" if skip else "*"
            a = con.execute(f"SELECT {cols} FROM {expr}")
            arows, acols = a.fetchall(), [d[0] for d in a.description]
            b = con.execute(f"SELECT * EXCLUDE (id) FROM {name}"
                            if name == "custs" else f"SELECT * FROM {name}")
            p = compare(arows, acols, b.fetchall(),
                        [d[0] for d in b.description])
            if p:
                problems[f"table:{name}"] = "; ".join(p)
        n, distinct = con.execute(
            f"SELECT count(*), count(DISTINCT id) FROM {written['custs']}"
        ).fetchone()
        if n != distinct:
            problems["table:custs.id"] = f"{n} rows, {distinct} distinct ids"
    con.close()
    return problems
