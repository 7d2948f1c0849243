"""Continuous corpus ingestion with near-duplicate rejection.

The 100 TB ingestion story: documents arrive as a stream; each
micro-batch is deduped (a) within itself and (b) against the
accumulated corpus MinHash index, and only the survivors are appended —
to the corpus AND to the index — so the next batch dedups against
everything accepted so far. Composes three pieces that are individually
tested elsewhere:

- ``pipeline.dedup.minhash_lsh_pairs`` (within-batch pairs),
- ``pipeline.dedup.dedup_against_index`` (batch-vs-corpus pairs; the
  corpus is never re-shingled — only its materialized bands/shingles
  stream through a join against the broadcast batch),
- the exactly-once foreachBatch recipe (``events.run_foreach_batch_
  parquet``): every write lands in a ``batch=<id>`` subdirectory,
  deleted-then-rewritten on replay, so crash re-delivery is idempotent.

Per-batch cost at scale: shingle/sign the BATCH only (map-side),
one broadcast join against the index bands, one verify join, three
batch-sized writes. The corpus index grows by append — no rebuild, no
rewrite of history. Spark's parquet partition discovery reads the
``batch=*`` layout back as one table.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_sql_spark.pipeline import dedup


def _accept_batch(
    spark: SparkSession,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    threshold: float,
) -> DataFrame:
    """Survivors of a batch: drop docs near-dup of the existing index,
    and for within-batch near-dup pairs keep the smaller id (the same
    min-id survivor rule as the batch dedup operators)."""
    batch = batch.localCheckpoint(eager=True)
    losers = None
    if os.path.exists(os.path.join(index_path, "bands")):
        vs_corpus = dedup.dedup_against_index(
            spark, batch, id_col, text_col, index_path, threshold
        ).select(F.col("new_id").alias(id_col))
        losers = vs_corpus
    within = (
        dedup.minhash_lsh_pairs(batch, id_col, text_col, threshold)
        .select(F.col("db").alias(id_col))  # db > da: later id loses
    )
    losers = within if losers is None else losers.union(within)
    return batch.join(losers.distinct(), id_col, "left_anti")


def ingest_stream_dedup(
    stream_df: DataFrame,
    id_col: str,
    text_col: str,
    corpus_dir: str,
    index_path: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
) -> None:
    """Drain the document stream, appending only near-dup-free survivors.

    Each micro-batch writes three batch=<id> partitions (corpus docs,
    index bands, index shingles), each idempotently replayable; offsets
    in ``checkpoint_dir`` make clean reruns no-ops. Ordering within a
    batch is deterministic (min-id survives); across batches, earlier
    batches win by construction (later ones dedup against their index
    rows)."""

    def handle(df: DataFrame, batch_id: int) -> None:
        spark = df.sparkSession
        accepted = _accept_batch(
            spark, df, id_col, text_col, index_path, threshold
        ).localCheckpoint(eager=True)
        for sub in ("bands", "shingles"):
            shutil.rmtree(
                os.path.join(index_path, sub, f"batch={batch_id}"),
                ignore_errors=True,
            )
        shutil.rmtree(
            os.path.join(corpus_dir, f"batch={batch_id}"), ignore_errors=True
        )
        accepted.write.parquet(
            os.path.join(corpus_dir, f"batch={batch_id}")
        )
        sh, sig = dedup.minhash_sketch(
            accepted, id_col, text_col, k, num_hashes
        )
        dedup._banded_keys(sig, num_hashes, bands).write.parquet(
            os.path.join(index_path, "bands", f"batch={batch_id}")
        )
        sh.write.parquet(
            os.path.join(index_path, "shingles", f"batch={batch_id}")
        )

    q = (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    ).start()
    q.awaitTermination()
