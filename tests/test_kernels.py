"""llm/kernels.py without Spark: the float folds match a pure-Python
left fold bit for bit, ties go to the lowest centroid id, per-batch
top-k lists hold the global top-k, and no kernel imports pandas."""

from __future__ import annotations

import math
import os
import subprocess
import sys
import textwrap

import numpy as np
import pyarrow as pa

from marketing_attribution_etl_framework__maef_spark.llm import kernels as K

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _float32_batches(seed: int, n: int, d: int, n_batches: int) -> tuple[np.ndarray, list]:
    """(the float32 vectors, the same rows as ``n_batches`` sliced
    (id, list<float>) record batches), so every batch after the first
    reads through nonzero Arrow offsets."""
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, d)).astype(np.float32)
    col = pa.array(vecs.tolist(), pa.list_(pa.float32()))
    whole = pa.RecordBatch.from_arrays([pa.array(range(n), pa.int64()), col], ["vec_id", "v"])
    cuts = np.linspace(0, n, n_batches + 1).astype(int)
    return vecs, [whole.slice(a, b - a) for a, b in zip(cuts[:-1], cuts[1:])]


def _py_dot(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def test_fold_norms_and_dots_equal_python_left_fold_bitwise():
    vecs, batches = _float32_batches(7, 60, 33, 3)
    assert len(batches) == 3 and batches[1].column(1).offset > 0
    mats = [K.matrix(b.column(1))[0] for b in batches]
    got_norms = np.concatenate([K.norms(m) for m in mats])
    want_norms = [math.sqrt(_py_dot(v, v)) for v in vecs]
    assert [x.hex() for x in got_norms.tolist()] == [x.hex() for x in want_norms]

    q = vecs[:5]
    got = np.concatenate([K.fold_pairs(q.astype(np.float64), m) for m in mats], axis=1)
    want = [[_py_dot(a, b) for b in vecs] for a in q]
    assert [x.hex() for x in got.ravel().tolist()] == [x.hex() for row in want for x in row]


def test_quantize_matches_python_q20_across_batches():
    vecs, batches = _float32_batches(11, 40, 16, 2)
    out = [K.quantize(b) for b in batches]
    got = [v for b in out for v in b.column("qv").to_pylist()]
    for v, qv in zip(vecs, got):
        n = math.sqrt(_py_dot(v, v))
        assert qv == [math.floor(float(x) / n * 1048576.0 + 0.5) for x in v]


def test_null_and_zero_norm_vectors_are_dropped():
    col = pa.array([[1.0, 0.0], None, [0.0, 0.0], [0.0, None], [0.0, 2.0]], pa.list_(pa.float32()))
    b = pa.RecordBatch.from_arrays([pa.array([1, 2, 3, 4, 5], pa.int64()), col], ["vec_id", "v"])
    assert K.quantize(b).column("vec_id").to_pylist() == [1, 5]
    cents = K.vectors(np.array([0, 1]), np.array([[1.0, 0.0], [0.0, 0.0]]), np.array([True, True]))
    assert cents.ids.tolist() == [0]
    assert K.assign(b, cents).column("vec_id").to_pylist() == [1, 5]


def test_equidistant_centroids_resolve_to_lowest_id():
    # stored in descending id order, so the tie-break must come from
    # the id sort, not the input order
    cents = K.vectors(np.array([9, 4]), np.array([[1.0, 0.0], [0.0, 1.0]]), np.ones(2, bool))
    b = pa.RecordBatch.from_arrays(
        [pa.array([0], pa.int64()), pa.array([[1.0, 1.0]], pa.list_(pa.float64()))], ["vec_id", "v"]
    )
    assert K.assign(b, cents).column("cluster").to_pylist() == [4]
    # a query at (1, 1) probes only the lowest-id centroid (index 0)
    query = K.vectors(np.array([0]), np.array([[1.0, 1.0]]), np.ones(1, bool))
    assert [p.tolist() for p in K.probe_lists(query, cents, 1)] == [[0], []]
    # k-means: 2 q.c - c.c ties between clusters 3 and 8 -> 3
    q = pa.RecordBatch.from_arrays(
        [pa.array([0], pa.int64()), pa.array([[1, 1]], pa.list_(pa.int64()))], ["vec_id", "qv"]
    )
    part = K.kmeans_partials(q, np.array([3, 8]), np.array([[2, 0], [0, 2]]))
    assert set(part.column("cluster").to_pylist()) == {3}


def test_union_of_batch_topk_holds_global_topk():
    vecs, batches = _float32_batches(3, 300, 8, 4)
    m = vecs.astype(np.float64)
    cents = K.vectors(np.arange(6), m[:6], np.ones(6, bool))
    queries = K.vectors(np.arange(1000, 1020), m[100:120] + 0.01, np.ones(20, bool))
    probes = K.probe_lists(queries, cents, 2)
    k = 5

    def topk(parts):
        rows = [r for p in parts for r in zip(*(p.column(i).to_pylist() for i in range(3)))]
        best: dict = {}
        for qid, vid, cos in sorted(rows, key=lambda r: (r[0], -r[2], r[1])):
            best.setdefault(qid, [])
            if len(best[qid]) < k:
                best[qid].append((vid, cos))
        return best

    per_batch = [K.ivf_candidates(b, cents, queries, probes, k, False) for b in batches]
    assert all(max(np.unique(p.column(0), return_counts=True)[1]) <= k for p in per_batch)
    whole = pa.RecordBatch.from_arrays(
        [pa.array(range(300), pa.int64()), pa.array(vecs.tolist(), pa.list_(pa.float32()))],
        ["vec_id", "v"],
    )
    assert topk(per_batch) == topk([K.ivf_candidates(whole, cents, queries, probes, 10**6, False)])


def test_kernels_do_not_import_pandas():
    """The Python worker imports the kernels through the package, as
    here; pandas would add ~30 MB to every worker."""
    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import numpy as np
        import pyarrow as pa
        from marketing_attribution_etl_framework__maef_spark.llm import kernels as K
        ids = K.column(np.arange(3, dtype=np.int64))
        vals = K.column(np.array([1, 0, 0, 1, 1, 1], dtype=np.float32))
        offs = pa.py_buffer(np.array([0, 2, 4, 6], dtype=np.int32))
        col = pa.Array.from_buffers(pa.list_(pa.float32()), 3, [None, offs], children=[vals])
        b = pa.RecordBatch.from_arrays([ids, col], ["vec_id", "v"])
        cents = K.vectors(np.array([0, 1]), np.array([[1.0, 0.0], [0.0, 1.0]]), np.ones(2, bool))
        q = K.quantize(b)
        K.assign(b, cents)
        K.kmeans_partials(q, np.array([0, 1]), np.array([[1048576, 0], [0, 1048576]]))
        K.ivf_candidates(b, cents, cents, K.probe_lists(cents, cents, 1), 2, True)
        assert "pandas" not in sys.modules, "a kernel imported pandas"
        """
    )
    r = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True)
    assert r.returncode == 0, r.stderr
