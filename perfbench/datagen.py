"""Seeded inputs for the benchmark workloads.

Everything the library reads is generated here; the same seed gives
byte-identical inputs.  The serve feed and the curation corpus use fixed
generator seeds, and a run's ``--seed`` orders the requests sent to them.
``fixtures.generate`` is the load generator for the chainweb feed; the
curation corpus mimics the shape of the sf0.1 ``documents`` /
``embeddings`` test tables (a 30-word
vocabulary, 10-100 words per document, ~5% near-duplicates that append one
token to an earlier document, a few exact copies, and random unit-norm
64-d embeddings with ten labels).
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet`` (one file
    each, like the sf0.1 test data) and return their sizes."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 20 and r < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")  # near-duplicate
        elif i > 20 and r < 0.052:
            texts.append(texts[rng.randrange(i)])  # exact copy
        else:
            n = rng.randint(10, 100)
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(n)))
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([rng.choice(LANGS) for _ in range(n_docs)], pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    nrng = np.random.default_rng(seed)
    m = nrng.standard_normal((n_vecs, EMB_DIM))
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(list(m.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(nrng.integers(0, N_LABELS, n_vecs), pa.int32()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"documents": n_docs, "embeddings": n_vecs}


def raw_feed(seed: int, n_chains: int, max_height: int) -> list[dict]:
    """The node's raw block feed ({header, powHash, payload} rows, orphan
    twins included) from the library's own load generator."""
    from chainweb_data_spark.fixtures.generate import generate_raw_rows

    return generate_raw_rows(n_chains=n_chains, max_height=max_height, seed=seed)


def write_feed_files(
    rows: list[dict],
    feed_dir: str,
    seed: int,
    blocks_per_file: int,
    redeliver_frac: float,
) -> dict:
    """Split the feed into height-ordered files (one file = one SSE burst)
    and re-deliver a seeded share of already-sent blocks in later files, as
    a reconnecting listener does.  Returns feed facts for the checks."""
    rng = random.Random(seed ^ 0x5EED)
    os.makedirs(feed_dir, exist_ok=True)
    files: list[list[dict]] = [
        rows[i : i + blocks_per_file] for i in range(0, len(rows), blocks_per_file)
    ]
    n_redelivered = 0
    for k in range(1, len(files)):
        sent = [r for f in files[:k] for r in f]
        n = sum(1 for _ in files[k] if rng.random() < redeliver_frac)
        extra = [rng.choice(sent) for _ in range(n)]
        files[k] = files[k] + extra
        n_redelivered += n
    raw_bytes = 0
    for k, f in enumerate(files):
        path = os.path.join(feed_dir, f"feed_{k:05d}.json")
        with open(path, "w") as fh:
            for r in f:
                fh.write(json.dumps(r) + "\n")
        raw_bytes += os.path.getsize(path)
    return {
        "files": len(files),
        "rows": sum(len(f) for f in files),
        "distinct_blocks": len(rows),
        "redelivered": n_redelivered,
        "raw_bytes": raw_bytes,
    }
