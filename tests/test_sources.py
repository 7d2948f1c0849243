"""Multi-format IO round-trips, partition pruning, the bucketed
co-located join (no Exchange) proof, and layout optimization.

The format round-trips, the partitioned write and the bucketed tables go
through Spark's own readers and writers; ``read_any``/``write_any`` below
are the settings those tests pin (CSV header, inferred or given schema).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cassandra_sql_spark import sources
from cassandra_sql_spark.io import load
from cassandra_sql_spark.profile import node_metrics, plan_nodes

FORMATS = ("parquet", "csv", "json", "orc")


def read_any(spark, path, fmt="parquet", schema=None):
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format: {fmt}")
    reader = spark.read.format(fmt)
    if schema:
        reader = reader.schema(schema)
    elif fmt in ("csv", "json"):
        reader = reader.option("inferSchema", "true")
    if fmt == "csv":
        reader = reader.option("header", "true")
    return reader.load(path)


def write_any(df, path, fmt="parquet", partition_by=None):
    writer = df.write.format(fmt).mode("overwrite")
    if fmt == "csv":
        writer = writer.option("header", "true")
    if partition_by:
        # hive-style dirs -> partition pruning: a filter on the partition
        # column never touches non-matching files
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json", "orc"])
def test_roundtrip_formats(spark, sf_dir, tmp_path, fmt):
    df = load(spark, sf_dir, "nation")
    path = str(tmp_path / f"nation_{fmt}")
    write_any(df, path, fmt)
    back = read_any(
        spark, path, fmt,
        schema="n_nationkey int, n_name string, n_regionkey int"
        if fmt in ("csv", "json") else None,
    )
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    df = load(spark, sf_dir, "customer")
    path = str(tmp_path / "cust_part")
    write_any(df, path, partition_by=["c_nationkey"])
    back = read_any(spark, path)
    pruned = back.filter(F.col("c_nationkey") == 3)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # partition filter must be applied at the file index, not post-scan
    assert "PartitionFilters: [isnotnull(c_nationkey" in plan or (
        "c_nationkey=3" in plan
    )
    want = df.filter(F.col("c_nationkey") == 3).count()
    assert pruned.count() == want


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Two tables bucketed the same way join WITHOUT any Exchange: at
    100 TB a fact-fact join becomes a local zip per bucket."""
    # (bucketed tables land in the session warehouse dir — static conf —
    # and are dropped in the finally block)
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    orders.write.mode("overwrite").bucketBy(8, "o_custkey").saveAsTable(
        "b_orders"
    )
    customer.withColumnRenamed("c_custkey", "o_custkey").write.mode(
        "overwrite"
    ).bucketBy(8, "o_custkey").saveAsTable("b_customer")
    # disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_customer"), "o_custkey"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        assert joined.count() > 0
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_bad_format_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="unsupported format"):
        read_any(spark, str(tmp_path), "avro")


def test_optimize_layout_preserves_data_and_caches(spark, sf_dir, tmp_path):
    import pyarrow.parquet as pq

    cache = str(tmp_path / "cache")
    out = sources.optimize_layout(sf_dir, cache_dir=cache, row_group_rows=100)
    assert out == cache
    # bit-exact: same schema, same rows (lineitem spot check)
    src = pq.read_table(f"{sf_dir}/lineitem.parquet")
    dst = pq.read_table(f"{cache}/lineitem.parquet")
    assert src.schema == dst.schema
    assert src.num_rows == dst.num_rows
    assert src.equals(dst)  # re-encode preserves row order and values
    # splittable now
    assert pq.ParquetFile(f"{cache}/lineitem.parquet").metadata.num_row_groups > 1
    # second call is a marker-validated no-op (mtime of outputs unchanged)
    import os

    before = os.path.getmtime(f"{cache}/lineitem.parquet")
    assert sources.optimize_layout(sf_dir, cache_dir=cache) == cache
    assert os.path.getmtime(f"{cache}/lineitem.parquet") == before
    # events TIMESTAMP(NANOS) must survive re-encode untouched
    se = pq.read_table(f"{sf_dir}/events.parquet")
    de = pq.read_table(f"{cache}/events.parquet")
    assert se.schema == de.schema


def test_sorted_layout_skips_row_groups(spark, sf_dir, tmp_path):
    """The CREATE INDEX substitute, proven: a tight predicate over the
    sort column reads strictly fewer rows out of the scan on the sorted
    layout than the table holds (parquet min/max row-group pruning)."""
    li = spark.range(200_000).select(
        F.col("id").alias("l_orderkey"),
        F.date_add(F.lit("1994-01-01"), (F.col("id") % 365).cast("int"))
        .cast("string")
        .alias("l_shipdate"),
        (F.col("id") % 50).cast("double").alias("l_quantity"),
    )
    total = li.count()
    path = str(tmp_path / "li_sorted")
    sources.write_sorted_table(li, path, ["l_shipdate"])

    probe = spark.read.parquet(path).filter(
        F.col("l_shipdate") == "1994-03-15"
    )
    qe = probe._jdf.queryExecution()
    qe.executedPlan().execute().count()

    scans = [
        node_metrics(node)
        for _, node in plan_nodes(qe.executedPlan())
        if "Scan" in node.nodeName()
    ]
    n_scan = next(
        (int(m["numOutputRows"]) for m in scans if "numOutputRows" in m), None
    )
    # pushdown + row-group stats: the scan surfaces far fewer rows than
    # the table holds (without skipping it would decode all of them; the
    # filter also row-level-prunes, so assert a strong reduction)
    assert n_scan is not None and n_scan < total / 10
    # and the result is correct vs the source frame
    expect = li.filter(F.col("l_shipdate") == "1994-03-15").count()
    assert probe.count() == expect and expect > 0


def _rg_hit_fraction(path: str, col: str, probes) -> float:
    """Average fraction of parquet row groups whose [min, max] statistics
    admit a probe value — the fraction a stats-pruning reader must read."""
    import glob

    import pyarrow.parquet as pq

    rgs = []
    for f in glob.glob(f"{path}/*.parquet"):
        pf = pq.ParquetFile(f)
        names = [pf.metadata.schema.column(i).name
                 for i in range(pf.metadata.num_columns)]
        idx = names.index(col)
        for i in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(i).column(idx).statistics
            rgs.append((st.min, st.max))
    assert len(rgs) >= 8, "need enough row groups for skipping to matter"
    hits = sum(
        1 for p in probes for mn, mx in rgs if mn <= p <= mx
    )
    return hits / (len(probes) * len(rgs))


def test_zorder_skips_on_every_dimension(spark, tmp_path):
    """Lexicographic sort gives min/max selectivity on the LEAD column
    only; the z-curve layout gives it on every z-ordered column at once.
    Measured directly from parquet row-group statistics (what any
    stats-pruning reader consults), not from one engine's metrics."""
    df = spark.range(200_000).select(
        (F.col("id") % 1000).alias("a"),
        # multiplicative-hash column, independent of a
        ((F.col("id") * 2654435761) % 1000).alias("b"),
        F.col("id").alias("payload"),
    )
    lex = str(tmp_path / "lex")
    zo = str(tmp_path / "zo")
    sources.write_sorted_table(df, lex, ["a", "b"])
    sources.write_zordered_table(df, zo, ["a", "b"])

    probes = [100, 500, 900]
    lex_a = _rg_hit_fraction(lex, "a", probes)
    lex_b = _rg_hit_fraction(lex, "b", probes)
    zo_a = _rg_hit_fraction(zo, "a", probes)
    zo_b = _rg_hit_fraction(zo, "b", probes)

    # lead column: both layouts selective
    assert lex_a < 0.25
    assert zo_a < 0.5
    # second column: lexicographic layout reads ~everything, z-order skips
    assert lex_b > 0.8
    assert zo_b < 0.5
    assert zo_b < lex_b / 2

    # layout is a rewrite, not a transformation: values intact
    back = spark.read.parquet(zo)
    assert back.count() == 200_000
    expect = df.filter("a = 500").count()
    assert back.filter("a = 500").count() == expect
