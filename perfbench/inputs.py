"""Seeded inputs and the benchmark's own reference answers.

Everything here depends only on ``--seed`` and numpy, never on the engine:
the documents and embeddings tables are generated with numpy and handed to
Spark, and the PageRank reference is a plain power iteration written from
the reference recurrence (Cassovary ``PageRank.scala``), so an output check
never compares the engine against itself.
"""

from __future__ import annotations

import numpy as np

# a made-up vocabulary; skewed word choice makes documents share shingles
VOCAB = (
    "alpha beta gamma delta edge node graph walk rank page link hub tail "
    "chain turn tool call read write scan sort join merge split batch "
    "stream cache block shard index query plan cost step state table row "
    "column vector score label seed path loop"
).split()


def documents(n_docs: int, seed: int):
    """``(doc_id, text, source)`` rows as a pandas frame.

    About 10% of documents repeat an earlier one up to case and spacing
    (exact duplicates after normalization) and about 10% repeat one with two
    words replaced (near duplicates), so both dedup paths have work."""
    import pandas as pd

    rng = np.random.default_rng([seed, 1])
    weights = 1.0 / np.arange(1, len(VOCAB) + 1)
    weights /= weights.sum()
    texts: list[str] = []
    for i in range(n_docs):
        kind = rng.random() if i > 0 else 1.0
        if kind < 0.1:
            src = texts[int(rng.integers(0, i))]
            texts.append("  ".join(src.upper().split()) if rng.random() < 0.5 else src + " ")
        elif kind < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            for pos in rng.integers(0, len(words), size=2):
                words[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            n_words = int(rng.integers(30, 90))
            idx = rng.choice(len(VOCAB), size=n_words, p=weights)
            texts.append(" ".join(VOCAB[j] for j in idx) + ".")
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "source": [f"src{i % 7}" for i in range(n_docs)],
        }
    )


def embeddings(n_vecs: int, dim: int, seed: int):
    """``(vec_id, embedding, label)`` rows: points around 16 centers."""
    import pandas as pd

    rng = np.random.default_rng([seed, 2])
    centers = rng.normal(size=(16, dim))
    label = rng.integers(0, 16, size=n_vecs)
    vecs = (centers[label] + 0.3 * rng.normal(size=(n_vecs, dim))).astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vecs),
            "label": label.astype(np.int32),
        }
    )


def pick(values: np.ndarray, k: int, seed: int, salt: int) -> list[int]:
    """``k`` distinct values chosen by the seed (sorted input -> stable)."""
    rng = np.random.default_rng([seed, salt])
    return [int(v) for v in rng.choice(np.sort(values), size=k, replace=False)]


def reference_pagerank(
    src: np.ndarray,
    dst: np.ndarray,
    damping: float = 0.85,
    max_iterations: int | None = None,
    tolerance: float = 1e-6,
) -> tuple[np.ndarray, np.ndarray, int]:
    """PageRank by the reference recurrence; returns ``(ids, ranks,
    iterations)``. Starts from 1/N, spreads dangling mass uniformly and
    stops when the L1 change is at most ``tolerance`` or after
    ``max_iterations`` supersteps."""
    ids = np.unique(np.concatenate([src, dst]))
    si = np.searchsorted(ids, src)
    di = np.searchsorted(ids, dst)
    n = len(ids)
    outdeg = np.bincount(si, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    share = np.where(dangling, 0.0, damping / np.maximum(outdeg, 1.0))
    pr = np.full(n, 1.0 / n)
    it = 0
    change = np.inf
    while change > tolerance and (max_iterations is None or it < max_iterations):
        new = (
            np.bincount(di, weights=pr[si] * share[si], minlength=n)
            + (1.0 - damping) / n
            + damping * pr[dangling].sum() / n
        )
        change = float(np.abs(new - pr).sum())
        pr = new
        it += 1
    return ids, pr, it
