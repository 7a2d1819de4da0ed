"""Seeded input generators. Every input the package sees is a parquet
file written here from ``numpy.random.default_rng(seed)``, so the same
seed gives byte-identical files and a different seed different ones."""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1)
DAY_US = 86_400 * 1_000_000
# session channels; 'view' dominates, 'purchase' rows are the conversions
EVENT_TYPES = np.array(["view", "click", "signup", "error", "purchase"])
EVENT_WEIGHTS = np.array([0.46, 0.18, 0.10, 0.14, 0.12])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def event_arrays(rng: np.random.Generator, n_events: int, n_users: int, days: int, zipf_a: float) -> dict:
    """Events spread uniformly over ``days`` days. User activity is a
    mild Zipf law: rank r gets weight 1/r**zipf_a, so a few heavy users
    skew the user_id join."""
    w = 1.0 / np.arange(1, n_users + 1) ** zipf_a
    users = rng.choice(n_users, size=n_events, p=w / w.sum())
    ts = np.sort(rng.integers(0, days * DAY_US, size=n_events))
    kinds = rng.choice(len(EVENT_TYPES), size=n_events, p=EVENT_WEIGHTS)
    value = np.round(rng.uniform(0.5, 50.0, size=n_events), 2)
    k = rng.integers(0, 100, size=n_events)
    return {"ts": ts, "user_id": rng.permutation(n_users)[users], "kind": kinds, "value": value, "k": k}


def _events_table(a: dict, lo: int, hi: int) -> pa.Table:
    ts = (np.datetime64(EPOCH, "us") + a["ts"][lo:hi].astype("timedelta64[us]"))
    return pa.table(
        {
            "event_id": pa.array(np.arange(lo, hi, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(a["user_id"][lo:hi].astype(np.int64)),
            "event_type": pa.array(EVENT_TYPES[a["kind"][lo:hi]].tolist(), type=pa.string()),
            "value": pa.array(a["value"][lo:hi]),
            "props": pa.array([f'{{"k": {int(x)}}}' for x in a["k"][lo:hi]], type=pa.string()),
        }
    )


def write_events(seed: int, out_dir: str, n_events: int, n_users: int, days: int, zipf_a: float) -> str:
    """``<out_dir>/events.parquet``, the layout domain.load_table reads."""
    a = event_arrays(np.random.default_rng(seed), n_events, n_users, days, zipf_a)
    _write(_events_table(a, 0, n_events), os.path.join(out_dir, "events.parquet"))
    return out_dir


def write_day_files(seed: int, out_dir: str, n_events: int, n_users: int, days: int, zipf_a: float) -> list[str]:
    """The same event model cut into one parquet file per day, with
    strictly increasing modification times so a file stream reads them
    in day order. Returns the file paths."""
    a = event_arrays(np.random.default_rng(seed), n_events, n_users, days, zipf_a)
    bounds = np.searchsorted(a["ts"], np.arange(days + 1) * DAY_US)
    paths = []
    for d in range(days):
        p = os.path.join(out_dir, f"day={d:03d}.parquet")
        _write(_events_table(a, int(bounds[d]), int(bounds[d + 1])), p)
        mtime = 1_700_000_000 + d
        os.utime(p, (mtime, mtime))
        paths.append(p)
    return paths


def _vocab(n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = []
    for i in range(n):
        s, x = "", i
        while True:
            s += letters[x % 26]
            x //= 26
            if x == 0:
                break
        out.append(s + "x")
    return out


def _edit(rng, words: np.ndarray, text: str, n_edits: int) -> str:
    """Replace, delete or insert ``n_edits`` words; never returns ``text``."""
    copy = text
    while copy == text:
        toks = text.split(" ")
        for _ in range(n_edits):
            pos = int(rng.integers(0, len(toks)))
            op = int(rng.integers(0, 3))
            new = str(words[rng.integers(0, len(words))])
            if op == 0:
                toks[pos] = new
            elif op == 1:
                del toks[pos]
            else:
                toks.insert(pos, new)
        copy = " ".join(toks)
    return copy


def document_texts(seed: int, n_docs: int, n_planted: int, vocab: int = 3000) -> tuple[list[str], list[tuple[int, int]]]:
    """Word-soup documents with ``n_planted`` near-duplicate copies (two
    word edits each) and as many distractor copies (twelve edits, so
    Jaccard mostly below 1/2: LSH candidates that verification should
    reject). Each copy has its own base document; copies take the last
    ids. Returns (texts, near-duplicate (base_id, copy_id) pairs)."""
    rng = np.random.default_rng(seed)
    words = np.array(_vocab(vocab))
    n_base = n_docs - 2 * n_planted
    lens = rng.integers(30, 90, size=n_base)
    texts = [" ".join(words[rng.integers(0, vocab, size=int(m))]) for m in lens]
    bases = rng.choice(n_base, size=2 * n_planted, replace=False)
    pairs = []
    for j, b in enumerate(bases):
        near = j < n_planted
        texts.append(_edit(rng, words, texts[b], 2 if near else 12))
        if near:
            pairs.append((int(b), n_base + j))
    return texts, pairs


def write_documents(seed: int, out_dir: str, n_docs: int, n_planted: int):
    """Returns (path, texts, planted pairs)."""
    texts, pairs = document_texts(seed, n_docs, n_planted)
    path = os.path.join(out_dir, "documents.parquet")
    _write(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
                "text": pa.array(texts, type=pa.string()),
            }
        ),
        path,
    )
    return path, texts, pairs


def embedding_arrays(seed: int, n_vectors: int, n_queries: int, dim: int, n_clusters: int) -> tuple[np.ndarray, np.ndarray]:
    """Gaussian clusters around random centres; queries are fresh draws
    from the same mixture (never corpus rows)."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(n_clusters, dim))
    def draw(n):
        return (centres[rng.integers(0, n_clusters, size=n)] + 0.7 * rng.normal(size=(n, dim))).astype(np.float32)
    return draw(n_vectors), draw(n_queries)


def _vectors_table(v: np.ndarray) -> pa.Table:
    flat = pa.array(v.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, v.size + 1, v.shape[1], dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(len(v), dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
        }
    )


def write_embeddings(seed: int, out_dir: str, n_vectors: int, n_queries: int, dim: int, n_clusters: int):
    corpus, queries = embedding_arrays(seed, n_vectors, n_queries, dim, n_clusters)
    cpath, qpath = os.path.join(out_dir, "embeddings.parquet"), os.path.join(out_dir, "queries.parquet")
    _write(_vectors_table(corpus), cpath)
    _write(_vectors_table(queries), qpath)
    return cpath, qpath, corpus, queries
