"""Distributed global-order primitives: rank and running sum without a
single-partition window.

The reference's ORDER BY executor is a single-node sort
(executor/QueryExecutor.java sorts materialized row lists), so every
"global rank" it computes is trivially serial. The Spark-native hazard
is the opposite: ``ROW_NUMBER() OVER (ORDER BY ...)`` with an empty
PARTITION BY collapses the whole input onto ONE reducer — fine on a
dimension-sized rollup, fatal on a 100 TB fact table. These helpers
compute the identical answer with no SinglePartition exchange:

1. ``repartitionByRange`` on the order columns — Spark's range
   partitioner samples boundaries, so shard k holds a contiguous,
   disjoint slice of the global order (ties share a shard: the
   partitioner binary-searches boundary values, equal keys land
   together);
2. a PER-SHARD window (PARTITION BY shard id) computes the local rank /
   running sum — parallel across shards, bounded memory per reducer;
3. per-shard totals (<= num_shards rows, a model-sized driver fetch of
   the same class as lloyd_int's centroid collect) become broadcast
   prefix OFFSETS added to every local value.

Rank/row_number needs the offset to be the COUNT of earlier shards'
rows; a running SUM needs the SUM of earlier shards' values — same
recipe, different offset column, and ``sharded_multi`` evaluates any
number of such specs over ONE shard pass (one shuffle, one window, one
<= num_shards-row collect) for callers like UniMax that need rank and
prefix-sum together. The result is exactly the global window's answer
whenever the order key is total (unique tuples); with duplicate keys
row_number's tie order differs within equal-key blocks, which every
caller here either breaks with an id column or is invariant to
(documented per entry).

Cost model at 100 TB: one range-repartition shuffle (same volume as
the global sort's exchange), a fully parallel window, a num_shards-row
collect, a broadcast hash join against a small offsets table. The
serial stage is gone; max reducer state drops from |rows| to
|rows|/num_shards.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["sharded_rank", "sharded_cumsum", "sharded_multi"]

_SHARD = "__go_shard"


def sharded_multi(
    df: DataFrame,
    order_cols: list[Column | str],
    specs: list[tuple[Column, Column, str]],
    num_shards: int | None = None,
    total_col: str | None = None,
) -> DataFrame:
    """Evaluate several global-order expressions in ONE shard pass.

    Each spec is ``(local_window_expr, shard_total_agg, out_col)``:
    the window expr runs over the per-shard ordered window, the agg
    computes that shard's contribution to later shards' offsets, and
    ``out_col`` receives local value + prefix offset. ``total_col``,
    when set, adds the FIRST spec's grand total as a literal column
    (free — it is the last prefix offset, already on the driver).
    """
    spark = df.sparkSession
    if num_shards is None:
        num_shards = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    # The shard assignment MUST be materialized before it is read twice:
    # RangePartitioner seeds its boundary sample from the RDD id, which
    # is a fresh global counter per job — without the checkpoint the
    # totals pass and the final pass can shard on DIFFERENT boundaries
    # and the offsets silently mis-add (caught by the sf1 identity test;
    # sf0.01 was too small to split differently). The checkpoint
    # materializes exactly what the global sort's shuffle would have.
    sharded = (
        df.repartitionByRange(num_shards, *cols)
        .withColumn(_SHARD, F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy(_SHARD).orderBy(*cols)
    local_cols = [f"__go_local{i}" for i in range(len(specs))]
    local = sharded.select(
        "*",
        *[
            expr.over(w).alias(lc)
            for (expr, _, _), lc in zip(specs, local_cols)
        ],
    )
    # per-shard totals: <= num_shards rows — a bounded, model-sized
    # fetch (NOT a data collect); prefix-sums on the driver
    totals = sorted(
        tuple(r)
        for r in sharded.groupBy(_SHARD)
        .agg(*[agg.alias(f"__t{i}") for i, (_, agg, _) in enumerate(specs)])
        .collect()
    )
    offsets, accs = [], [0] * len(specs)
    for row in totals:
        offsets.append((row[0], *accs))
        accs = [a + t for a, t in zip(accs, row[1:])]
    off_schema = f"{_SHARD} int, " + ", ".join(
        f"__go_off{i} bigint" for i in range(len(specs))
    )
    off_df = spark.createDataFrame(offsets, off_schema)
    out = local.join(F.broadcast(off_df), _SHARD)
    for i, (lc, (_, _, out_col)) in enumerate(zip(local_cols, specs)):
        out = out.withColumn(
            out_col, (F.col(lc) + F.col(f"__go_off{i}")).cast("long")
        )
    out = out.drop(
        _SHARD, *local_cols, *[f"__go_off{i}" for i in range(len(specs))]
    )
    if total_col is not None:
        # The grand total (all shards' first-spec agg summed) is already
        # on the driver — attach it as a literal so callers needing
        # |rows| (e.g. a top-frac cut or an NTILE bucket formula) avoid
        # a second evaluation of the input.
        out = out.withColumn(total_col, F.lit(accs[0]).cast("long"))
    return out


def sharded_rank(
    df: DataFrame,
    order_cols: list[Column | str],
    rank_col: str = "i",
    num_shards: int | None = None,
    total_col: str | None = None,
) -> DataFrame:
    """Global ``ROW_NUMBER() OVER (ORDER BY order_cols)`` as per-shard
    rank + broadcast prefix-count offsets. Identical to the window form
    when the order tuple is unique (callers break ties with an id).
    ``total_col``, when set, adds the total row count as a literal
    column (free — it is the last prefix offset)."""
    return sharded_multi(
        df,
        order_cols,
        [(F.row_number(), F.count(F.lit(1)).cast("long"), rank_col)],
        num_shards,
        total_col=total_col,
    )


def sharded_cumsum(
    df: DataFrame,
    order_cols: list[Column | str],
    value_col: str,
    out_col: str = "cum",
    num_shards: int | None = None,
) -> DataFrame:
    """Global inclusive running ``SUM(value_col) OVER (ORDER BY
    order_cols ROWS UNBOUNDED PRECEDING)`` as per-shard running sum +
    broadcast prefix-sum offsets. Exact for integral value columns
    (BIGINT adds are associative); same tie caveat as sharded_rank.

    ``value_col`` must be NON-NULL: a NULL row would make the local
    running sum NULL from that row onward (SQL window-SUM semantics)
    while the coalesced shard total skips it — callers filter or
    ``coalesce`` upstream. The per-shard total is coalesced to 0 so an
    (invalid but possible) all-NULL shard cannot poison the driver
    prefix loop with a ``None``."""
    return sharded_multi(
        df,
        order_cols,
        [
            (
                F.sum(value_col),
                F.coalesce(F.sum(value_col), F.lit(0)).cast("long"),
                out_col,
            )
        ],
        num_shards,
    )
