"""Seeded documents + embeddings tables for the caption_dedup workload.

Same schema and statistics as the repository's sf0.1 test tables: documents
of 10-100 words drawn from a 30-word vocabulary, five language labels, 20
sources and a 5% share of near-duplicates (an earlier document plus the token
``dup``); embeddings are 64-dim unit Gaussian vectors with 10 labels.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line"
    " merge order part query row scan slow small sort spark stream table the"
    " value vector window"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)


def documents(seed: int, n: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 1])
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, size=int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, size=n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def embeddings(seed: int, n: int, dim: int = 64) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 2])
    x = rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": list(x.astype("float32")),
            "label": rng.integers(0, 10, size=n).astype("int32"),
        }
    )


def write(seed: int, n_docs: int, n_vecs: int, sf_dir: str) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` into ``sf_dir``."""
    os.makedirs(sf_dir, exist_ok=True)
    documents(seed, n_docs).to_parquet(os.path.join(sf_dir, "documents.parquet"), index=False)
    embeddings(seed, n_vecs).to_parquet(os.path.join(sf_dir, "embeddings.parquet"), index=False)
