"""Seeded input generation. Every input of a run is a function of the seed.

Vectors are written as parquet with pyarrow and documents likewise, so the
engine only ever sees files, never the generator's numpy state.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream...) so adding a stream never
    shifts the values of another."""
    return np.random.default_rng([seed, *stream])


def clustered_vectors(rng: np.random.Generator, centers: np.ndarray,
                      n: int) -> tuple[np.ndarray, np.ndarray]:
    """``n`` float32 vectors around ``centers`` (a unit-variance Gaussian
    mixture) and the center each was drawn from."""
    lab = rng.integers(0, len(centers), n)
    x = centers[lab] + rng.normal(size=(n, centers.shape[1]))
    return x.astype(np.float32), lab


def centers(rng: np.random.Generator, k: int, d: int) -> np.ndarray:
    """Cluster centers spread wide enough (sd 4) that clusters separate."""
    return rng.normal(scale=4.0, size=(k, d)).astype(np.float32)


def zipf_weights(k: int, s: float, rng: np.random.Generator) -> np.ndarray:
    """Zipf(s) popularity over ``k`` clusters, randomly permuted so the hot
    clusters differ between seeds."""
    w = 1.0 / np.arange(1, k + 1) ** s
    return rng.permutation(w / w.sum())


def write_vectors(path: str, ids: np.ndarray, x: np.ndarray) -> None:
    flat = pa.array(np.ascontiguousarray(x, dtype=np.float32).ravel())
    vec = pa.ListArray.from_arrays(
        pa.array(np.arange(0, x.size + 1, x.shape[1], dtype=np.int32)), flat
    )
    pq.write_table(
        pa.table({"id": pa.array(ids, pa.int64()), "vector": vec}), path
    )


def query_rows(qids: np.ndarray, q: np.ndarray) -> list[tuple[int, list[float]]]:
    return [(int(i), v.tolist()) for i, v in zip(qids, q)]


QUERY_SCHEMA = "query_id long, qvec array<float>"


# -- documents ---------------------------------------------------------------

def vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """Lower-case pseudo-words, unique, 3-9 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, n)))
    return np.array(sorted(words))


def documents(rng: np.random.Generator, vocab: np.ndarray, n_base: int,
              exact_share: float, near_share: float, edit_rate: float):
    """A corpus of ``n_base`` random documents of 60-160 tokens plus planted
    copies.

    ``exact_share`` of the base documents get one verbatim copy and
    ``near_share`` get one copy with ``edit_rate`` of its tokens replaced by
    other vocabulary words. Returns ``(doc_ids, texts, planted)`` where
    ``planted`` lists ``(base_id, copy_id, kind)`` with kind "exact" or
    "near". Texts are lower case with single spaces, so the engine's
    normalisation leaves them unchanged. Ids are shuffled so copies are not
    adjacent to their originals.
    """
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    p /= p.sum()
    base = []
    for _ in range(n_base):
        n = int(rng.integers(60, 161))
        base.append(rng.choice(len(vocab), n, p=p))
    n_exact = int(round(exact_share * n_base))
    n_near = int(round(near_share * n_base))
    order = rng.permutation(n_base)
    exact_src = order[:n_exact]
    near_src = order[n_exact:n_exact + n_near]
    toks = list(base)
    sources = []
    for b in exact_src:
        toks.append(base[b].copy())
        sources.append((int(b), "exact"))
    for b in near_src:
        t = base[b].copy()
        n_edit = max(1, int(round(edit_rate * len(t))))
        pos = rng.choice(len(t), n_edit, replace=False)
        t[pos] = rng.integers(0, len(vocab), n_edit)
        toks.append(t)
        sources.append((int(b), "near"))
    ids = rng.permutation(len(toks)).astype(np.int64) + 1
    texts = [" ".join(vocab[t]) for t in toks]
    planted = [
        (int(ids[b]), int(ids[n_base + j]), k) for j, (b, k) in enumerate(sources)
    ]
    return ids, texts, planted


def write_documents(path: str, ids: np.ndarray, texts: list[str]) -> None:
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}),
        path,
    )
