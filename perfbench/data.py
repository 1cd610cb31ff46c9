"""Seeded inputs for the gate workload: the `documents` and `embeddings`
tables the corpus and ANN gates read, in the layout `tables.load_table`
expects (one parquet file per table under one directory).

The shapes follow the engine's test tables: documents are 10-100 words
drawn from a 30-word vocabulary with an English-heavy language mix, 20
round-robin sources, every 20th document a near-duplicate (an earlier
text plus " dup") and one in 500 an exact copy; embeddings are 64-wide
unit float32 vectors with a label in 0..9.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.41, 0.14, 0.15, 0.15, 0.15]
DIM = 64


def documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    lengths = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    texts, pos = [], 0
    for i, ln in enumerate(lengths):
        if i >= 20 and i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i >= 500 and i % 500 == 250:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, size=n, p=LANG_WEIGHTS),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
        }
    )


def write_gate_tables(out_dir: str, seed: int, n_docs: int, n_vectors: int) -> None:
    """Write documents.parquet and embeddings.parquet for one seed."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    pq.write_table(
        pa.Table.from_pandas(documents(rng, n_docs), preserve_index=False),
        os.path.join(out_dir, "documents.parquet"),
    )
    pq.write_table(embeddings(rng, n_vectors), os.path.join(out_dir, "embeddings.parquet"))
