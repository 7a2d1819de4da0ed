"""Vector kernels for the similarity layer, one Arrow record batch at a
time.  ``llm/similarity.py`` runs them through ``DataFrame.mapInArrow``;
this module imports only numpy and pyarrow, so the Python worker that
runs them stays small (see "Arrow in, Arrow out" below).

Bit identity with the Spark column algebra they replace:

- **Float folds.**  Spark's ``aggregate(zip_with(a, b, x * y), 0.0,
  acc + v)`` is a left fold in element order.  ``fold_dot`` and
  ``fold_pairs`` add one column at a time, ``acc = acc + a[:, j] *
  b[:, j]``, which is the same sequence of IEEE operations.  np.sum,
  ``@`` and einsum on floats sum pairwise or blocked and would differ
  in the last bits, so they are never used on floats here.
- **Integer k-means.**  Scores are exact int64 arithmetic, so any
  summation order gives the same answer.
- **Ties.**  Centroid tables are sorted by id, and np.argmax /
  stable argsort keep the first of equal values, so ties go to the
  lowest centroid id, as the Spark windows' ``centroid_id ASC``
  tie-break does.

Every kernel drops vectors that are null, hold a null element, or have
zero norm: they have no direction to compare by, and the Spark form
would divide 0/0 (ANSI mode raises ``DIVIDE_BY_ZERO``).

Arrow in, Arrow out: ``pa.array(ndarray)`` and ``Array.to_numpy()``
import pandas into the worker.  Inputs are read with ``np.frombuffer``
over the Arrow buffers (respecting slice offsets) and outputs are built
with ``pa.Array.from_buffers``.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa

Q20 = 1048576.0


# ---------------------------------------------------------------- Arrow I/O


def _primitive(arr: pa.Array, dtype) -> np.ndarray:
    """Zero-copy numpy view of a primitive Arrow array's values."""
    n = len(arr)
    buf = arr.buffers()[1]
    if n == 0 or buf is None:
        return np.empty(0, dtype)
    return np.frombuffer(buf, dtype, count=arr.offset + n)[arr.offset :]


def _valid(arr: pa.Array) -> np.ndarray:
    """Validity mask of an Arrow array (True = not null)."""
    n = len(arr)
    if arr.null_count == 0:
        return np.ones(n, bool)
    bits = np.unpackbits(np.frombuffer(arr.buffers()[0], np.uint8), bitorder="little")
    return bits[arr.offset : arr.offset + n].astype(bool)


def ints(arr: pa.Array) -> np.ndarray:
    """An integer id column as numpy (its own width)."""
    if not pa.types.is_signed_integer(arr.type):
        raise TypeError(f"id column must be a signed integer, got {arr.type}")
    return _primitive(arr, np.dtype(f"int{arr.type.bit_width}"))


def matrix(col: pa.Array, dtype=np.float64) -> tuple[np.ndarray, np.ndarray]:
    """A list column as an (n, d) ``dtype`` matrix plus a row mask that
    is False for null lists and lists holding a null element (their
    rows are zero).  All non-null lists must share one length."""
    n = len(col)
    if n == 0:
        return np.zeros((0, 0), dtype), np.zeros(0, bool)
    offs = _primitive(col.offsets, np.int32)
    child = col.values
    if pa.types.is_floating(child.type):
        vals = _primitive(child, np.dtype(f"float{child.type.bit_width}"))
    else:
        vals = ints(child)
    lengths = np.diff(offs)
    ok = _valid(col)
    dims = np.unique(lengths[ok])
    if len(dims) > 1:
        raise ValueError(f"vectors must share one dimension, got lengths {dims.tolist()}")
    d = int(dims[0]) if len(dims) else 0
    if (lengths == d).all():
        m = vals[offs[0] : offs[0] + n * d].reshape(n, d)
        elem_ok = _valid(child)[offs[0] : offs[0] + n * d].reshape(n, d)
    else:
        idx = offs[:-1, None] + np.arange(d)
        idx[~ok] = offs[0]
        m = vals[idx] if len(vals) else np.zeros((n, d), vals.dtype)
        elem_ok = _valid(child)[idx] if len(vals) else np.ones((n, d), bool)
    ok = ok & elem_ok.all(axis=1)
    m = m.astype(dtype)
    m[~ok] = 0
    return m, ok


def _buf(a: np.ndarray) -> pa.Buffer:
    return pa.py_buffer(np.ascontiguousarray(a))


def column(a: np.ndarray) -> pa.Array:
    """A 1-D numpy array of a primitive dtype as an Arrow array."""
    return pa.Array.from_buffers(pa.from_numpy_dtype(a.dtype), len(a), [None, _buf(a)])


def list_column(m: np.ndarray) -> pa.Array:
    """An (n, d) matrix as an Arrow list column, one list per row."""
    n, d = m.shape
    offs = np.arange(0, n * d + 1, d, dtype=np.int32) if d else np.zeros(n + 1, np.int32)
    child = column(m.reshape(-1))
    return pa.Array.from_buffers(pa.list_(child.type), n, [None, _buf(offs)], children=[child])


def _batch(**cols: pa.Array) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(list(cols.values()), names=list(cols))


# ---------------------------------------------------------------- float math


def fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot products of two (n, d) matrices as left folds."""
    acc = np.zeros(a.shape[0])
    for j in range(a.shape[1]):
        acc = acc + a[:, j] * b[:, j]
    return acc


def fold_pairs(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """All (m, n) dot products of a's rows with b's rows, each a left
    fold in element order (never ``a @ b.T``)."""
    at, bt = np.ascontiguousarray(a.T), np.ascontiguousarray(b.T)
    acc = np.zeros((a.shape[0], b.shape[0]))
    for j in range(at.shape[0]):
        acc += np.multiply.outer(at[j], bt[j])
    return acc


def norms(m: np.ndarray) -> np.ndarray:
    """L2 norms, sqrt of the left-fold self-dot."""
    return np.sqrt(fold_dot(m, m))


class Vectors(NamedTuple):
    """A bounded vector table held by the driver: centroids or queries,
    sorted by id, with their norms; null and zero-norm rows dropped."""

    ids: np.ndarray
    mat: np.ndarray
    norms: np.ndarray


def vectors(ids: np.ndarray, mat: np.ndarray, ok: np.ndarray) -> Vectors:
    n = norms(mat)
    keep = ok & (n > 0)
    order = np.argsort(ids[keep], kind="stable")
    return Vectors(ids[keep][order], mat[keep][order], n[keep][order])


def _read(batch: pa.RecordBatch) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(ids, float64 vectors, norms) of a batch's non-null, nonzero rows;
    column 0 is the id, column 1 the vector."""
    m, ok = matrix(batch.column(1))
    n = norms(m)
    keep = ok & (n > 0)
    return ints(batch.column(0))[keep], m[keep], n[keep]


# ---------------------------------------------------------------- kernels


def quantize(batch: pa.RecordBatch) -> pa.RecordBatch:
    """(vec_id, qv): floor(x / ||v|| * 2^20 + 1/2) per element."""
    ids, m, n = _read(batch)
    qv = np.floor(m / n[:, None] * Q20 + 0.5).astype(np.int64)
    return _batch(vec_id=column(ids), qv=list_column(qv))


def _nearest(m: np.ndarray, n: np.ndarray, cents: Vectors) -> tuple[np.ndarray, np.ndarray]:
    """Index into ``cents`` of each row's max-cosine centroid (lowest
    id on ties) and that cosine."""
    cos = fold_pairs(m, cents.mat) / (n[:, None] * cents.norms[None, :])
    best = np.argmax(cos, axis=1)
    return best, cos[np.arange(len(best)), best]


def assign(batch: pa.RecordBatch, cents: Vectors) -> pa.RecordBatch:
    """(vec_id, _v, _vn, cluster, _cs): each vector's nearest centroid
    by cosine and that cosine."""
    ids, m, n = _read(batch)
    if len(cents.ids) == 0:
        ids, m, n = ids[:0], m[:0], n[:0]
    best, cs = _nearest(m, n, cents) if len(ids) else (np.zeros(0, np.int64), np.zeros(0))
    return _batch(
        vec_id=column(ids),
        _v=list_column(m),
        _vn=column(n),
        cluster=column(cents.ids[best]),
        _cs=column(cs),
    )


def kmeans_partials(batch: pa.RecordBatch, cids: np.ndarray, cq: np.ndarray) -> pa.RecordBatch:
    """One Lloyd step's map-side combine over q20 vectors (column 1,
    list<long>): assign each vector to argmax(2 q.c - c.c), lowest
    cluster id on ties (``cids`` ascending), then emit (cluster, pos,
    s, n), the per-component sum and member count of every non-empty
    cluster.  All int64, so exact."""
    q, _ = matrix(batch.column(1), np.int64)
    if len(cids) == 0 or len(q) == 0:
        z = np.zeros(0, np.int64)
        return _batch(cluster=column(z), pos=column(z), s=column(z), n=column(z))
    score = 2 * (q @ cq.T) - (cq * cq).sum(axis=1)
    best = np.argmax(score, axis=1)
    members = (best[None, :] == np.arange(len(cids))[:, None]).astype(np.int64)
    sums = members @ q
    counts = members.sum(axis=1)
    live = np.nonzero(counts)[0]
    d = q.shape[1]
    return _batch(
        cluster=column(np.repeat(cids[live].astype(np.int64), d)),
        pos=column(np.tile(np.arange(d, dtype=np.int64), len(live))),
        s=column(sums[live].reshape(-1)),
        n=column(np.repeat(counts[live], d)),
    )


def probe_lists(queries: Vectors, cents: Vectors, probe: int) -> list[np.ndarray]:
    """For each centroid, the indices of the queries that probe it: a
    query probes its ``probe`` max-cosine centroids, lowest id on ties."""
    if len(cents.ids) == 0 or len(queries.ids) == 0:
        return [np.zeros(0, np.int64) for _ in cents.ids]
    cos = fold_pairs(queries.mat, cents.mat) / (queries.norms[:, None] * cents.norms[None, :])
    top = np.argsort(-cos, axis=1, kind="stable")[:, :probe]
    return [np.nonzero((top == c).any(axis=1))[0] for c in range(len(cents.ids))]


def ivf_candidates(
    batch: pa.RecordBatch,
    cents: Vectors,
    queries: Vectors,
    probes: list[np.ndarray],
    k: int,
    exclude_self: bool,
) -> pa.RecordBatch:
    """(query_id, vec_id, _cos): assign each corpus vector to its
    nearest centroid, score only the (query, vector) pairs whose
    cluster the query probes, and keep each query's top ``k`` of this
    batch by (cosine desc, vec_id asc).  The union over batches holds
    every query's global top k."""
    ids, m, n = _read(batch)
    qi, vi, cos = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)], [np.zeros(0)]
    if len(ids) and len(cents.ids):
        best, _ = _nearest(m, n, cents)
        for c in np.unique(best):
            qs, vs = probes[c], np.nonzero(best == c)[0]
            if len(qs) == 0:
                continue
            d = fold_pairs(queries.mat[qs], m[vs])
            cos.append((d / (queries.norms[qs][:, None] * n[vs][None, :])).reshape(-1))
            qi.append(np.repeat(qs, len(vs)))
            vi.append(np.tile(vs, len(qs)))
    qi, vi, cos = np.concatenate(qi), np.concatenate(vi), np.concatenate(cos)
    qid, vid = queries.ids[qi], ids[vi]
    if exclude_self:
        keep = vid != qid
        qi, qid, vid, cos = qi[keep], qid[keep], vid[keep], cos[keep]
    order = np.lexsort((vid, -cos, qi))
    qi, qid, vid, cos = qi[order], qid[order], vid[order], cos[order]
    start = np.searchsorted(qi, qi, side="left")
    top = np.arange(len(qi)) - start < k
    return _batch(query_id=column(qid[top]), vec_id=column(vid[top]), _cos=column(cos[top]))
