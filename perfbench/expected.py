"""Stored oracle output for the registry entry whose DuckDB oracle is too
slow to run in every benchmark run (about 13 s, longer than a pass).

Every other entry is checked against its live ``Q.oracle`` result. The
stored rows are that oracle's output on the benchmark's generated
data; ``fingerprint`` ties them to the generator's output, so a changed
generator fails the check instead of comparing against stale rows.

Regenerate after changing the generator or that oracle:

    python3 perfbench/expected.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import datagen  # noqa: E402

SLOW_ORACLES = ("dedup_ngram_jaccard",)
PATH = os.path.join(HERE, "expected.json")
SCALES = (0.01, 0.001)


def fingerprint(src_dir: str) -> str:
    """Digest of the documents table the slow entry reads."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(src_dir, "documents.parquet"))
    h = hashlib.sha256()
    for col in ("doc_id", "text", "lang", "source"):
        h.update("\x1f".join(map(str, t.column(col).to_pylist())).encode())
    return h.hexdigest()


def load(sf: float) -> dict:
    with open(PATH) as fh:
        return json.load(fh)[str(sf)]


def _compute(sf: float) -> dict:
    from cassandra_sql_spark.queries import REGISTRY
    from perfbench.workloads import duck_sources

    with tempfile.TemporaryDirectory(dir=HERE) as d:
        datagen.generate(d, sf)
        con = duck_sources(d)
        out = {"fingerprint": fingerprint(d), "entries": {}}
        for name in SLOW_ORACLES:
            r = con.execute(REGISTRY[name].oracle)
            rows = [list(row) for row in r.fetchall()]
            for v in (v for row in rows for v in row):
                if not isinstance(v, (int, float, str, bool, type(None))):
                    raise TypeError(f"{name}: {type(v)} does not round-trip")
            out["entries"][name] = {
                "cols": [c[0] for c in r.description], "rows": rows}
        con.close()
    return out


if __name__ == "__main__":
    with open(PATH, "w") as fh:
        json.dump({str(sf): _compute(sf) for sf in SCALES}, fh)
    print(f"wrote {PATH}")
