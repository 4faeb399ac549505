"""Seeded benchmark inputs, with the ground truth the checks need.

Pure numpy / pyarrow: nothing here goes through the engine, so the
engine under test only ever sees the files written below. The same seed
gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np

DIM = 384
CHUNK_SIZE = 2000
CHUNK_OVERLAP = 100

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def vocabulary(rng: np.random.Generator, size: int = 4000) -> list[str]:
    """``size`` distinct lowercase words, 2 to 10 letters long and longer
    the rarer they are, so that every seed's prose has about the same
    mean word length."""
    words: dict[str, None] = {}
    while len(words) < size:
        n = 2 + min(8, int(np.log2(len(words) + 1)))
        words.setdefault("".join(rng.choice(_LETTERS, n)), None)
    return list(words)


def zipf_words(
    rng: np.random.Generator, vocab: list[str], n: int, s: float = 1.1
) -> list[str]:
    """``n`` words drawn with Zipf(s) rank frequencies over ``vocab``."""
    p = 1.0 / np.arange(1, len(vocab) + 1) ** s
    idx = rng.choice(len(vocab), size=n, p=p / p.sum())
    return [vocab[i] for i in idx]


def lognormal_lengths(
    rng: np.random.Generator, n: int, median: float, sigma: float, lo: int, hi: int,
    total: int | None = None,
) -> list[int]:
    """``n`` lognormal lengths clipped to [lo, hi]; with ``total`` they are
    first scaled to sum to it, so every seed gives inputs of one size."""
    x = rng.lognormal(np.log(median), sigma, size=n)
    if total is not None:
        x *= total / x.sum()
    return [int(v) for v in np.clip(x, lo, hi)]


def stride_chunk_count(length: int, size: int = CHUNK_SIZE, overlap: int = CHUNK_OVERLAP) -> int:
    """Number of fixed-stride windows the chunker cuts from ``length``
    characters, computed independently of the engine."""
    if length <= size:
        return 1
    stride = size - overlap
    return 1 + -(-(length - size) // stride)


# ---------------------------------------------------------------- ingest

WORDS_PER_LINE = 12
LINES_PER_PAGE = 40


def pdf_documents(seed: int, n_docs: int) -> list[list[str]]:
    """Page texts per document: Zipf-vocabulary prose, lognormal word
    counts (so a document is anywhere from one to many chunks), lines of
    ``WORDS_PER_LINE`` words, pages of ``LINES_PER_PAGE`` lines."""
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(rng)
    docs = []
    for n_words in lognormal_lengths(rng, n_docs, 400, 0.9, 20, 8000, total=600 * n_docs):
        words = zipf_words(rng, vocab, n_words)
        lines = [
            " ".join(words[i : i + WORDS_PER_LINE])
            for i in range(0, n_words, WORDS_PER_LINE)
        ]
        docs.append(
            [
                "\n".join(lines[i : i + LINES_PER_PAGE])
                for i in range(0, len(lines), LINES_PER_PAGE)
            ]
        )
    return docs


def pdf_name(doc_id: int) -> str:
    return f"doc_{doc_id:05d}.pdf"


def write_pdf_landing(path: str, docs: list[list[str]]) -> dict:
    """One compressed PDF per document under ``path``; returns sizes and
    the ground truth the ingest checks need."""
    from pdf_using_hugging_face_and_vector_database_spark.sources.pdf_text import make_pdf

    os.makedirs(path, exist_ok=True)
    total = 0
    chunks = {}
    for doc_id, pages in enumerate(docs):
        data = make_pdf(pages, compress=True)
        with open(os.path.join(path, pdf_name(doc_id)), "wb") as f:
            f.write(data)
        total += len(data)
        # the text layer reads back page texts; pages concatenate with ""
        chunks[doc_id] = stride_chunk_count(len("".join(pages)))
    return {"pdfs": len(docs), "pdf_bytes": total, "chunks_per_doc": chunks}


# ----------------------------------------------------------------- vectors


def clustered_vectors(
    seed: int, n: int, n_clusters: int = 16, n_labels: int = 4, spread: float = 0.6,
    dim: int = DIM, stream: int = 2,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(ids, labels, unit vectors): points around ``n_clusters`` random
    centres; ``labels`` (``L0``..) are independent of the cluster, so a
    label filter keeps about 1/n_labels of every cluster."""
    rng = np.random.default_rng([seed, stream])
    centres = rng.normal(size=(n_clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    cl = rng.integers(0, n_clusters, n)
    x = centres[cl] + spread * rng.normal(size=(n, dim)) / np.sqrt(dim)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    labels = np.array([f"L{i}" for i in rng.integers(0, n_labels, n)])
    return np.arange(n, dtype=np.int64), labels, x


def near_queries(
    rng: np.random.Generator, x: np.ndarray, n: int, noise: float = 0.3
) -> np.ndarray:
    """Query vectors near random corpus points."""
    base = x[rng.integers(0, len(x), n)]
    q = base + noise * rng.normal(size=base.shape) / np.sqrt(x.shape[1])
    return q / np.linalg.norm(q, axis=1, keepdims=True)


def write_vector_parquet(
    path: str, ids: np.ndarray, labels: np.ndarray | None, x: np.ndarray,
    n_files: int = 4, id_col: str = "vec_id", vec_col: str = "embedding",
) -> int:
    """Write (id, [label], vector) rows as ``n_files`` parquet files with
    pyarrow; returns bytes written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    total = 0
    for f, part in enumerate(np.array_split(np.arange(len(ids)), n_files)):
        cols = {id_col: pa.array(ids[part])}
        if labels is not None:
            cols["label"] = pa.array(labels[part])
        flat = pa.array(x[part].astype(np.float64).ravel())
        cols[vec_col] = pa.FixedSizeListArray.from_arrays(flat, x.shape[1]).cast(
            pa.list_(pa.float64())
        )
        p = os.path.join(path, f"part-{f:03d}.parquet")
        pq.write_table(pa.table(cols), p)
        total += os.path.getsize(p)
    return total


# ------------------------------------------------------------------ dedup


def neardup_documents(
    seed: int, n_base: int, n_dups: int
) -> tuple[list[int], list[str], list[tuple[int, int]]]:
    """(doc_ids, texts, injected pairs). ``n_dups`` documents are copies
    of a base document with its last 1-2 words cut off: the 3-word
    shingle Jaccard stays above 0.98, so banded MinHash (4 bands of 4)
    misses such a pair with probability below 1e-5."""
    rng = np.random.default_rng([seed, 3])
    vocab = vocabulary(rng)
    texts = [
        " ".join(zipf_words(rng, vocab, n))
        for n in lognormal_lengths(rng, n_base, 260, 0.5, 150, 2000)
    ]
    pairs = []
    for src in rng.choice(n_base, size=n_dups, replace=False):
        words = texts[src].split(" ")
        cut = int(rng.integers(1, 3))
        pairs.append((int(src), len(texts)))
        texts.append(" ".join(words[:-cut]))
    # shuffle ids so duplicates are not adjacent to their source
    perm = rng.permutation(len(texts))
    ids = [int(i) for i in perm]
    pairs = [(ids[a], ids[b]) for a, b in pairs]
    return ids, texts, pairs


def write_documents_parquet(path: str, ids: list[int], texts: list[str], n_files: int = 4) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    total = 0
    for f, part in enumerate(np.array_split(np.arange(len(ids)), n_files)):
        p = os.path.join(path, f"part-{f:03d}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([ids[i] for i in part], pa.int64()),
                    "text": pa.array([texts[i] for i in part]),
                }
            ),
            p,
        )
        total += os.path.getsize(p)
    return total
