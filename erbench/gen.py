"""Seeded input generator for the ER benchmark.

The text pool is fixed: 5000 documents shaped like the sf0.1 ``documents``
table (10-100 words drawn uniformly from a 30-word vocabulary, 20 sources,
five languages). The workload seed permutes which ``doc_id`` each pool row
carries. Because ``transcripts_from_documents`` plants an exact repost for
``doc_id % 7 == 0`` and a near repost for ``doc_id % 5 == 0``, the seed
decides which texts get reposted and the order in which conversations
arrive. Seed 0 is the identity permutation. The corpus size never changes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 5000
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ("en", "en", "de", "es", "fr", "zh")
_POOL_SEED = 20240101


def text_pool(n_docs: int = N_DOCS) -> pa.Table:
    """The fixed document pool (doc_id = row number before permutation)."""
    rng = np.random.default_rng(_POOL_SEED)
    lengths = rng.integers(10, 101, size=n_docs)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    langs = rng.integers(0, len(LANGS), size=n_docs)
    texts, at = [], 0
    for n in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[at : at + n]))
        at += n
    ids = np.arange(n_docs, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [LANGS[i] for i in langs],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def permuted(pool: pa.Table, seed: int) -> pa.Table:
    """Relabel the pool's doc_ids with a seeded permutation; seed 0 keeps
    them. Rows keep their text, lang and source."""
    n = pool.num_rows
    perm = np.arange(n) if seed == 0 else np.random.default_rng(seed).permutation(n)
    out = pool.set_column(0, "doc_id", pa.array(perm.astype(np.int64)))
    return out.take(pa.array(np.argsort(perm)))


def write_documents(out_dir: str, seed: int, pool: pa.Table | None = None) -> str:
    """Write ``<out_dir>/documents.parquet`` for ``seed`` (one row group, like
    the sf0.1 file) and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(permuted(pool if pool is not None else text_pool(), seed), f"{out_dir}/documents.parquet")
    return out_dir
