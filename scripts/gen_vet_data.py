"""Generate a distribution-matched documents table for the incremental
dedup benchmarks (scripts/bench_compaction.py, scripts/bench_incremental.py).

The generated table has the shape statistics of the sf fixtures'
documents (31-word vocab, 10-100-token docs, 5 langs, 20 sources, a
planted 1-token near-dup every 50th doc) at any row count.  This is a
PERFORMANCE fixture, not an oracle fixture.

Deterministic (fixed seed, row content derived from the row id), no
external data.  Usage:

    python scripts/gen_vet_data.py [out_dir] [scale]   # default /tmp/sf1_vet 10
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "slow", "group", "agg", "filter", "query",
    "big", "key", "window", "row", "table", "stream", "merge", "data",
    "hash", "join", "custom", "a", "index", "cache", "plan",
]
LANGS = ["en", "en", "zh", "es", "fr", "de"]  # en ~2x the others


def gen_documents(n: int, rng: np.random.Generator) -> pa.Table:
    lens = rng.integers(10, 101, size=n)
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n):
        toks = vocab[rng.integers(0, len(vocab), size=lens[i])]
        # plant near-dups like the driver data's natural ones: every 50th
        # doc is a 1-token edit of its predecessor
        if i % 50 == 0 and i > 0:
            prev = texts[i - 1].split(" ")
            prev[len(prev) // 2] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(prev))
        else:
            texts.append(" ".join(toks))
    langs = [LANGS[i] for i in rng.integers(0, len(LANGS), size=n)]
    return pa.Table.from_pydict({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1_vet"
    scale = float(sys.argv[2]) if len(sys.argv) > 2 else 10.0
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(71)
    n = int(5000 * scale)
    path = os.path.join(out, "documents.parquet")
    pq.write_table(gen_documents(n, rng), path)
    print(f"documents: {n} rows -> {path}")


if __name__ == "__main__":
    main()
