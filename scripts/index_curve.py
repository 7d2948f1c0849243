"""Incremental-index maintenance cost curve (r10 verdict task #7).

Measures, at three corpus decades (sf0.1 / sf1 / sf10):

1. MinHash dedup index BUILD (`write_minhash_index`): the one-time
   corpus shingle+sign+band materialization.
2. Incremental INGEST against it (`dedup_against_index`): a 200-doc
   batch (100 exact re-deliveries that must match, 100 novel docs that
   must not) deduped against the index — the per-batch steady-state
   cost, which must track BATCH size, not corpus size (the corpus text
   is never re-read; only its bands/shingle parquet streams through a
   broadcast join).
3. IVF index BUILD (`write_ivf_partitioned`: the exact-integer
   `lloyd_int` coarse quantizer, 8 centroids, the same model
   `sim_ivf_topk` trains inline) and PROBE (`topk_ivf_pruned`,
   nprobe=2): the probe must read only the probed partitions — the
   script ASSERTS the pruned-file fraction from the executed scan's
   RUNTIME numFiles metric rather than trusting the plan text
   (inputFiles() reports the pre-pruning relation).

Prints one JSON line per size; paste the table into SCALE.md.

Usage: python scripts/index_curve.py [sizes...]   (default all three)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from cassandra_sql_spark.io import load  # noqa: E402
from cassandra_sql_spark.pipeline import dedup, similarity  # noqa: E402
from cassandra_sql_spark.profile import node_metrics, plan_nodes  # noqa: E402
from cassandra_sql_spark.session import get_spark  # noqa: E402

SIZES = {
    "sf0.1": "/root/testdata/sf0.1",
    "sf1": "/root/repo/.scale/sf1",
    "sf10": "/root/repo/.scale/sf10",
}


def _scan_num_files(df) -> int:
    """Sum the executed plan's file-scan numFiles metrics — the number
    of files the probe ACTUALLY opened, after partition pruning."""
    scans = ("FileSourceScanExec", "BatchScanExec")
    return sum(
        int(node_metrics(node)["numFiles"])
        for _, node in plan_nodes(df._jdf.queryExecution().executedPlan())
        if node.getClass().getSimpleName() in scans
    )


def main() -> int:
    want = sys.argv[1:] or list(SIZES)
    spark = get_spark("index-curve")
    for label in want:
        sf = SIZES[label]
        docs = load(spark, sf, "documents")
        n_docs = docs.count()
        work = tempfile.mkdtemp(prefix=f"idxcurve-{label}-")
        idx = os.path.join(work, "minhash")

        t0 = time.time()
        dedup.write_minhash_index(docs, "doc_id", "text", idx)
        t_build = time.time() - t0

        # ingest batch: 100 exact re-deliveries + 100 novel docs. The
        # novel text is word-tagged (the make_sf1 trick) so it shares
        # no shingles with the corpus. Batch id offsets sit ABOVE the
        # whole scaled-corpus id space (sf10 tops out near 1e9 —
        # a 900M offset collided with copy ids and misread correct
        # dup matches as novel leaks).
        dup_part = (
            docs.filter(F.col("doc_id") % 29 == 0)
            .limit(100)
            .select(
                (F.col("doc_id") + 2_000_000_000).alias("doc_id"), "text"
            )
        )
        novel_part = (
            docs.filter(F.col("doc_id") % 29 == 1)
            .limit(100)
            .select(
                (F.col("doc_id") + 3_000_000_000).alias("doc_id"),
                F.regexp_replace(F.col("text"), r"(^|\s)", "$1zq_")
                .alias("text"),
            )
        )
        batch = dup_part.unionAll(novel_part).localCheckpoint(eager=True)
        n_dup = dup_part.count()

        t0 = time.time()
        hits = dedup.dedup_against_index(
            spark, batch, "doc_id", "text", idx, threshold=0.8
        )
        n_hits = hits.count()
        t_ingest = time.time() - t0
        matched_new = {
            r.new_id for r in hits.select("new_id").distinct().collect()
        }
        novel_matched = [i for i in matched_new if i >= 3_000_000_000]
        assert not novel_matched, (
            f"{label}: word-tagged novel docs matched the index: "
            f"{novel_matched[:5]}"
        )
        dup_matched = [
            i for i in matched_new if 2_000_000_000 <= i < 3_000_000_000
        ]
        assert len(dup_matched) >= 0.9 * n_dup, (
            f"{label}: only {len(dup_matched)}/{n_dup} re-delivered docs "
            "matched the index"
        )

        # IVF build (integer model, topk_ivf_exact's defaults) + probe
        emb = load(spark, sf, "embeddings")
        n_vecs = emb.count()
        ivf_path = os.path.join(work, "ivf")
        t0 = time.time()
        cents = similarity.write_ivf_partitioned(
            emb, ivf_path, n_centroids=8
        )
        t_ivf_build = time.time() - t0
        qv = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
        t0 = time.time()
        top = similarity.topk_ivf_pruned(
            spark, ivf_path, cents, qv, k=10, nprobe=2
        )
        n_top = len(top.collect())  # collect: the metric lives on THIS
        t_probe = time.time() - t0  # DataFrame's query execution
        # the real pruning assert: the scan's RUNTIME numFiles metric
        # (inputFiles() reports the relation before partition pruning)
        all_files = len(spark.read.parquet(ivf_path).inputFiles())
        probe_files = _scan_num_files(top)
        frac = probe_files / max(all_files, 1)
        assert frac <= 0.5, (
            f"{label}: probe read {probe_files}/{all_files} files — "
            "partition pruning is not engaging"
        )
        print(json.dumps({
            "size": label, "n_docs": n_docs, "n_vecs": n_vecs,
            "minhash_build_sec": round(t_build, 2),
            "ingest_batch_sec": round(t_ingest, 2),
            "ingest_matched": len(matched_new), "ingest_pairs": n_hits,
            "ivf_build_sec": round(t_ivf_build, 2),
            "ivf_probe_sec": round(t_probe, 2), "probe_rows": n_top,
            "probe_file_fraction": round(frac, 3),
        }), flush=True)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
