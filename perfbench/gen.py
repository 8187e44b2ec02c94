"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of a ``numpy.random.Generator`` (or a
seed), so the same seed always yields byte-identical tables. The tables
use the testdata schemas of ``events``, ``documents`` and ``embeddings``;
the program under test only ever sees the parquet files written here.
Ground truth (true shingle Jaccard of planted near-duplicates, exact
cosine top-k) is computed here too, independently of the program.
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000
EVENT_TYPES = np.array(["view", "click", "purchase", "error"])
TOKEN_SPLIT = re.compile(r"[^a-z0-9]+")


def zipf_keys(rng: np.random.Generator, n: int, n_keys: int, s: float) -> np.ndarray:
    """``n`` key ids in ``[0, n_keys)``; the key of popularity rank r is
    drawn with probability proportional to r**-s. Ranks map to ids through
    a seeded permutation, so the hot key is not always id 0."""
    p = np.arange(1, n_keys + 1, dtype=np.float64) ** -s
    ranks = rng.choice(n_keys, size=n, p=p / p.sum())
    return rng.permutation(n_keys)[ranks].astype(np.int64)


def events_table(
    rng: np.random.Generator,
    n: int,
    n_keys: int,
    s: float,
    *,
    first_event_id: int = 0,
    ts_us: np.ndarray | None = None,
) -> pa.Table:
    """``events`` rows (event_id, ts, user_id, event_type, value, props).
    ``ts_us`` pins the timestamps (epoch microseconds, non-decreasing);
    otherwise they are sorted uniform draws over 30 days. event_id grows
    with ts, so (ts, event_id) is a total order."""
    if ts_us is None:
        ts_us = EPOCH_US + np.sort(rng.integers(0, 30 * DAY_US, n))
    users = zipf_keys(rng, n, n_keys, s)
    kinds = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    value = np.round(rng.gamma(2.0, 5.0, n), 2)
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": np.arange(first_event_id, first_event_id + n, dtype=np.int64),
            "ts": pa.array(np.asarray(ts_us, dtype="datetime64[us]")),
            "user_id": users,
            "event_type": pa.array(kinds),
            "value": value,
            "props": pa.array([f'{{"k": {int(x)}}}' for x in k]),
        }
    )


def event_props(tbl: pa.Table, s: float) -> dict:
    users = tbl.column("user_id").to_numpy()
    counts = np.bincount(users) if len(users) else np.zeros(1, dtype=np.int64)
    return {
        "rows": tbl.num_rows,
        "keys": int((counts > 0).sum()),
        "zipf_s": s,
        "hot_key_share": round(float(counts.max() / max(len(users), 1)), 4),
    }


def write_events(path: str, tbl: pa.Table) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path)


# ---------------------------------------------------------------------------
# small_calls: in-memory arrays, one per call
# ---------------------------------------------------------------------------


# One block of calls: (series, steps, number of lags) covering 1-16 series,
# 100-2000 steps and 1-5 lags. Every block runs this whole design in a
# seeded order, so the work per block is the same for every seed and only
# the order, the lag values and the data change.
CALL_DESIGN = (
    (1, 2000, 3), (2, 1800, 5), (4, 1500, 1), (6, 1200, 4),
    (8, 1000, 2), (11, 700, 5), (14, 400, 3), (16, 100, 1),
)


def small_call(seed: int, i: int) -> tuple[np.ndarray, str, list[int]]:
    """Input of the i-th ``lag_matrix_2d_pd`` call: a shape from
    CALL_DESIGN (block i // 8 in a seeded order), distinct lags from 0..10
    in random order, layouts alternating row/col. Depends only on (seed, i)."""
    block, pos = divmod(i, len(CALL_DESIGN))
    n_series, steps, n_lags = CALL_DESIGN[np.random.default_rng([seed, block]).permutation(len(CALL_DESIGN))[pos]]
    rng = np.random.default_rng([seed, block, pos])
    lags = [int(x) for x in rng.choice(11, size=n_lags, replace=False)]
    layout = "row" if i % 2 == 0 else "col"
    data = np.round(rng.standard_normal((n_series, steps)), 6)
    return (data if layout == "row" else data.T.copy()), layout, lags


# ---------------------------------------------------------------------------
# corpus_pipeline: documents with planted near-duplicates, clustered vectors
# ---------------------------------------------------------------------------


def shingles(text: str, k: int = 3) -> set[str]:
    """Word k-gram set with the program's tokenization: lowercase
    alphanumeric runs; a text shorter than k yields one short shingle."""
    toks = [t for t in TOKEN_SPLIT.split(text.lower()) if t]
    if len(toks) <= k:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: str, b: str, k: int = 3) -> float:
    sa, sb = shingles(a, k), shingles(b, k)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(3, 9))
        words.add("".join(letters[rng.integers(0, 26, n)]))
    return np.array(sorted(words))


def documents(
    rng: np.random.Generator, n_docs: int, *, dup_rate: float, vocab_size: int, s: float
) -> tuple[pa.Table, list[tuple[int, int, float]]]:
    """``documents`` rows plus the planted pairs (source id, copy id, true
    Jaccard). A copy replaces each word of its source with probability
    e ~ U(0.01, 0.2), which spreads true Jaccard over roughly 0.3-0.95,
    so some planted pairs fall below a 0.5 threshold."""
    vocab = _vocab(rng, vocab_size)
    n_dups = int(round(n_docs * dup_rate))
    n_base = n_docs - n_dups
    p = np.arange(1, vocab_size + 1, dtype=np.float64) ** -s
    p /= p.sum()
    words = [list(vocab[rng.choice(vocab_size, size=int(rng.integers(40, 121)), p=p)]) for _ in range(n_base)]
    sources = rng.choice(n_base, size=n_dups, replace=False)
    for src in sources:
        e = rng.uniform(0.01, 0.2)
        copy = list(words[src])
        for j in np.nonzero(rng.random(len(copy)) < e)[0]:
            copy[j] = vocab[rng.integers(0, vocab_size)]
        words.append(copy)
    texts = [" ".join(w) for w in words]
    ids = rng.permutation(n_docs).astype(np.int64)
    pairs = [
        (int(ids[src]), int(ids[n_base + j]), jaccard(texts[src], texts[n_base + j]))
        for j, src in enumerate(sources)
    ]
    order = np.argsort(ids)
    tbl = pa.table(
        {
            "doc_id": ids[order],
            "text": pa.array([texts[i] for i in order]),
            "lang": pa.array(["en"] * n_docs),
            "source": pa.array([f"src{int(i) % 4}" for i in ids[order]]),
            "n_chars": np.array([len(texts[i]) for i in order], dtype=np.int64),
        }
    )
    return tbl, pairs


def embeddings(
    rng: np.random.Generator, n: int, *, dim: int, clusters: int, noise: float
) -> tuple[pa.Table, np.ndarray]:
    """``embeddings`` rows (vec_id, embedding float32[dim], label) drawn
    around ``clusters`` Gaussian centres; returns the float32 matrix too."""
    centres = rng.standard_normal((clusters, dim))
    labels = rng.integers(0, clusters, n)
    x = (centres[labels] + noise * rng.standard_normal((n, dim))).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), dim).cast(
                pa.list_(pa.float32())
            ),
            "label": labels.astype(np.int32),
        }
    )
    return tbl, x


def exact_topk(x: np.ndarray, query_ids: np.ndarray, k: int) -> dict[int, list[int]]:
    """Exact cosine top-k (self excluded, ties by id), in float64 from the
    float32 values the program reads."""
    xd = x.astype(np.float64)
    xn = xd / np.maximum(np.linalg.norm(xd, axis=1, keepdims=True), 1e-300)
    out = {}
    for q in query_ids:
        sim = xn @ xn[q]
        sim[q] = -np.inf
        order = np.lexsort((np.arange(len(sim)), -sim))
        out[int(q)] = [int(i) for i in order[:k]]
    return out


def write_json(path: str, obj) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh)
