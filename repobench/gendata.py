"""Seeded inputs in the schema of the repository's test fixtures.

The recipe follows ``tools/gen_synth_corpus.py`` (uniform draws from the
fixture's 31-word vocabulary, 10-100 words per document, 256 injected
near-duplicate pairs and 8 exact-duplicate pairs per 5,000 documents,
64-d vectors around 10 label centres with N(0, 0.35) noise), but needs
no fixture on disk: the vocabulary and marginals are constants here, so
the benchmark runs from a bare checkout. The same (size, seed) gives the
same bytes on any host.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split()
)
LANGS = np.array(["de", "en", "es", "fr", "zh"])
LANG_P = np.array([702, 2059, 744, 742, 753], dtype=float) / 5000
N_SOURCES = 20
MIN_WORDS, MAX_WORDS = 10, 100
NEARDUP_PER_DOC = 256 / 5000
EXACT_PER_DOC = 8 / 5000
DIM = 64
N_LABELS = 10


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.Philox(key=[seed, stream]))


def centres(seed: int) -> np.ndarray:
    """Unit label centres shared by the corpus and its query batches."""
    c = _rng(seed, 0).normal(0.0, 1.0, size=(N_LABELS, DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def vectors(n: int, seed: int, stream: int = 1) -> tuple[np.ndarray, np.ndarray]:
    """(float32 vectors, int32 labels): centre + N(0, 0.35) noise."""
    rng = _rng(seed, stream)
    labels = rng.integers(0, N_LABELS, size=n).astype(np.int32)
    emb = centres(seed)[labels] + rng.normal(0.0, 0.35, size=(n, DIM))
    return emb.astype(np.float32), labels


def embeddings_table(n: int, seed: int) -> pa.Table:
    emb, labels = vectors(n, seed)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), type=pa.int64()),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(labels, type=pa.int32()),
        }
    )


def query_batch(corpus: np.ndarray, q: int, seed: int, batch: int) -> np.ndarray:
    """A batch of ``q`` query vectors: half sit next to corpus points (so
    they share clusters with them), the rest are spread over the label
    centres, so batches differ in how many IVF cells they probe."""
    rng = _rng(seed, 1000 + batch)
    near = q // 2
    picks = rng.integers(0, len(corpus), size=near)
    a = corpus[picks] + rng.normal(0.0, 0.05, size=(near, corpus.shape[1]))
    lab = rng.integers(0, N_LABELS, size=q - near)
    b = centres(seed)[lab] + rng.normal(0.0, 0.5, size=(q - near, corpus.shape[1]))
    return np.vstack([a, b]).astype(np.float32)


def document_texts(n: int, seed: int, stream: int = 2):
    """(texts, injected near-duplicate pairs as sorted (low, high) doc indexes)."""
    rng = _rng(seed, stream)
    lengths = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=n)
    tok = rng.integers(0, len(VOCAB), size=(n, MAX_WORDS))
    texts = [" ".join(VOCAB[tok[i, : lengths[i]]]) for i in range(n)]
    n_pairs = max(1, int(round(NEARDUP_PER_DOC * n)))
    n_exact = max(1, int(round(EXACT_PER_DOC * n)))
    ids = rng.choice(n, size=2 * (n_pairs + n_exact), replace=False)
    pairs = ids[: 2 * n_pairs].reshape(-1, 2)
    for base, partner in pairs:
        # partner = base with its last ~10% of tokens redrawn
        toks = texts[base].split(" ")
        tail = max(1, len(toks) // 10)
        toks[-tail:] = VOCAB[rng.integers(0, len(VOCAB), size=tail)]
        texts[partner] = " ".join(toks)
    for a, b in ids[2 * n_pairs :].reshape(-1, 2):
        texts[b] = texts[a]
    truth = sorted((int(min(a, b)), int(max(a, b))) for a, b in pairs)
    return texts, truth


def documents_table(n: int, seed: int) -> pa.Table:
    texts, _ = document_texts(n, seed)
    rng = _rng(seed, 3)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), type=pa.int64()),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), type=pa.string()),
            "source": pa.array(
                [f"src{i}" for i in rng.integers(0, N_SOURCES, size=n)],
                type=pa.string(),
            ),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def write_tables(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """Write ``documents.parquet`` / ``embeddings.parquet`` (a sf-dir)."""
    os.makedirs(out_dir, exist_ok=True)
    if n_docs:
        pq.write_table(documents_table(n_docs, seed), f"{out_dir}/documents.parquet")
    if n_vecs:
        pq.write_table(embeddings_table(n_vecs, seed), f"{out_dir}/embeddings.parquet")
