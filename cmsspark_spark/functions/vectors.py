"""Vector math over ``array<float>`` embedding columns.

Two kinds of kernel live here:

- ``dot``/``l2_norm``/``cosine_similarity`` are Catalyst folds
  (``zip_with``/``aggregate``, no Python boundary). They rescore
  candidate PAIRS after a join, where a Python UDF would have to ship
  both vectors of every pair (see ``similarity._rescore_topk``).
- ``sign_buckets_arrow``, ``centroid_probe_arrow``,
  ``pq_subspace_codes`` and ``pq_subspace_scores`` are the ONE
  implementation of the per-row hashing, probing and quantizing
  kernels: a pandas UDF over whole Arrow batches, each built on
  :func:`_fold_udf`.

Computation is promoted to double. The batch kernels fold each dot
product LEFT TO RIGHT over dimensions from 0.0, one multiply and one
add per step, vectorized over rows — the order of the Catalyst
``aggregate(zip_with(...))`` fold and of DuckDB's
``list_dot_product``. A BLAS ``x @ P.T`` sums in blocks and fuses
multiply-adds, so it can flip the sign of a dot within rounding of 0;
the fold cannot, which is what makes bucket ids, probe orders and PQ
codes bit-identical to the oracle twins (pinned by
``tests/test_vector_kernel_parity.py``).
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _dbl(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str) -> Column:
    prods = F.zip_with(_dbl(_c(a)), _dbl(_c(b)), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(F.aggregate(_dbl(_c(a)), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _fold_udf(weights, post, return_type: str):
    """The shared batch kernel: a scalar pandas UDF factory over one
    vector column whose rows are ``G`` groups of ``d`` dims. Per Arrow
    batch it computes ``acc[n, g, r] = Σ_j x[n, g, j] · w[g, r, j]``,
    folded left to right over ``j`` from 0.0 (vectorized over rows,
    groups and ``r``), and returns ``post(acc)``, one value per row.

    ``weights``: ``(G, R, d)`` float array. ``post``: a nested function
    or lambda of the caller (so it pickles BY VALUE, like the kernel:
    numpy arrays and plain values only, no package globals — executors
    never need ``cmsspark_spark`` importable)."""
    from pyspark.sql.functions import pandas_udf

    w = np.asarray(weights, dtype=np.float64)
    g, _, d = w.shape

    def _kernel(vecs):
        import pandas as pd

        x = np.asarray(list(vecs), dtype=np.float64).reshape(len(vecs), g, d)
        acc = np.zeros((len(x), g, w.shape[1]))
        for j in range(d):
            acc += x[:, :, j, None] * w[None, :, :, j]
        return pd.Series(list(post(acc)))

    # No type hints on purpose: `from __future__ import annotations`
    # stringifies them and PySpark's hint inference cannot resolve a
    # function-local `pd` — the explicit SCALAR eval type is equivalent.
    return pandas_udf(_kernel, return_type)


def sign_buckets_arrow(all_planes):
    """Sign-LSH bucket ids of every table in one batch kernel: bit ``i``
    of a table's id is ``plane_i · x ≥ 0`` (weight ``2**i``).

    ``all_planes``: list of (num_planes, dim) float arrays, one per
    table. Returns a column factory: call with the vector column, yields
    ``array<bigint>`` of per-table bucket ids."""
    stack = np.vstack(list(all_planes))[None]  # (1, T*H, dim)
    tables = len(all_planes)
    planes_per = all_planes[0].shape[0]
    weights = 2 ** np.arange(planes_per, dtype=np.int64)

    def _pack(acc):
        bits = acc[:, 0, :] >= 0.0
        return bits.reshape(len(acc), tables, planes_per).astype(np.int64) @ weights

    return _fold_udf(stack, _pack, "array<bigint>")


def centroid_probe_arrow(centroids, nprobe: int):
    """IVF probe order in one batch kernel: the top-``nprobe`` centroid
    ids by dot with the unit-normalized centroids (the query norm is
    rank-invariant). Ties break on centroid id DESCENDING — the
    (score DESC, id DESC) order the oracle twins use. Returns a column
    factory: call with the vector column, yields ``array<int>``."""
    cn = np.asarray(centroids, dtype=np.float64)
    cn = cn / np.maximum(np.linalg.norm(cn, axis=1, keepdims=True), 1e-12)
    n_c, k = len(cn), int(nprobe)

    def _order(acc):
        # stable-argsort the id-reversed scores: equal scores keep the
        # reversed (id DESC) order
        rev = np.argsort(-acc[:, 0, ::-1], axis=1, kind="stable")
        return (n_c - 1 - rev)[:, :k].astype(np.int32)

    return _fold_udf(cn[None], _order, "array<int>")


def _pq_fold(codebook, post, return_type: str):
    """PQ subspace scores ``sub_j · C_jc − ½|C_jc|²`` for every
    (subspace j, code c) — maximizing over c minimizes ‖sub_j − C_jc‖²,
    since ‖sub_j‖² is constant per row — then ``post`` of the
    (N, m, k) score array. The half-norms are Python-computed once, the
    same doubles the oracle twins inline."""
    cb = np.asarray(codebook, dtype=np.float64)
    m, k, _ = cb.shape
    hn = np.array(
        [[float(np.dot(cb[j, c], cb[j, c])) / 2.0 for c in range(k)] for j in range(m)]
    )
    return _fold_udf(cb, lambda acc: post(acc - hn), return_type)


def pq_subspace_codes(codebook):
    """Per-subspace PQ codes: the 1-based FIRST argmax of each
    subspace's scores (ties → smallest code id, as
    ``array_position(s, array_max(s))``). Column factory yielding
    ``array<int>`` of ``m`` codes — m ints per row leave Python, not
    m·k doubles."""
    return _pq_fold(
        codebook, lambda s: s.argmax(axis=2).astype(np.int32) + 1, "array<int>"
    )


def pq_subspace_scores(codebook):
    """Per-subspace PQ score tables: column factory yielding
    ``array<array<double>>`` (m arrays of k scores) — the ADC lookup
    tables of the broadcast query side."""
    return _pq_fold(
        codebook, lambda s: [list(row) for row in s], "array<array<double>>"
    )
