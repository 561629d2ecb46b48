"""Parity gate for the vector batch kernels of ``functions/vectors.py``.

Sign-LSH buckets, IVF probe orders and PQ codes/scores have ONE
implementation in the package: a pandas UDF that folds each dot
product left to right over dimensions. They replaced interpreted
Catalyst higher-order-function (HOF) trees, and are only admissible
because their output is BIT-IDENTICAL to those forms, which live on
below as the reference (moved unchanged from ``operators/similarity``).
The DuckDB oracle twins fold in the same order, so these tests are what
keeps the registry's LSH/IVF/PQ queries hash-exact.

The frames: the sf0.01 and sf0.1 embeddings, plus adversarial rows — a
zero vector, ``-0.0`` components, vectors projected onto a plane's
null space (their plane dot is within rounding of 0, so a BLAS
``x @ P.T`` and the fold disagree on its sign), two identical
centroids (the id-DESC probe tie) and a duplicated codeword (the
first-max code tie).
"""

from __future__ import annotations

import inspect
import math
import os
import pathlib
import re

import numpy as np
import pyspark.sql.functions as F
import pytest

from cmsspark_spark.functions.vectors import (
    centroid_probe_arrow,
    pq_subspace_codes,
    pq_subspace_scores,
    sign_buckets_arrow,
)
from cmsspark_spark.operators import similarity as S
from cmsspark_spark.operators.similarity import (
    _dbl_mat_lit,
    _int_arr_lit,
)
from cmsspark_spark.queries import _ivf_static_centroids

from tests.conftest import SF_ORACLE

# the sf0.1 set sits beside the oracle's sf0.01 one
SF_BENCH = os.environ.get(
    "SPARK_GRAFT_BENCH_DIR", str(pathlib.Path(SF_ORACLE).with_name("sf0.1"))
)

# the registry's shapes: embed_lsh_quality_report's 8 tables × 4
# planes, every static IVF centroid, the static PQ codebook
_RNG = np.random.default_rng(42)
PLANES = [_RNG.standard_normal((4, 64)) for _ in range(8)]
CENTS = _ivf_static_centroids()
CENTS_DUP = CENTS.copy()
CENTS_DUP[5] = CENTS_DUP[2]
CB = S.pq_codebook()
CB_DUP = CB.copy()
CB_DUP[:, 9] = CB_DUP[:, 4]


# ---------------------------------------------------------------------------
# Catalyst reference forms
# ---------------------------------------------------------------------------


def _dbl_cube_lit(cube) -> "F.Column":
    """``array<array<array<double>>>`` literal (see _dbl_mat_lit)."""
    return F.array(*[_dbl_mat_lit(mat) for mat in cube])


def _sign_bucket(vec_col: str, planes: np.ndarray) -> "F.Column":
    """Bucket id = bit pattern of sign(plane · vec) over all planes.

    The planes enter the plan as ONE matrix literal (one numpy-array
    py4j call per plane) and the per-plane dot/sign/bit terms are a
    ``transform(sequence(...))`` folded left-to-right — the plan
    subtree is O(1) in planes·dims where the old per-element literal
    chain was O(planes·dims) nodes Catalyst re-walked every pass
    (measured: seconds of plan-building for 16 planes × 64 dims).
    Bit values and the long sum are bit-identical to the unrolled
    ``IF(...) + IF(...)`` chain.
    """
    m = _dbl_mat_lit(planes)
    pow2 = _int_arr_lit([2 ** i for i in range(len(planes))])
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(len(planes) - 1)),
        lambda i: F.when(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.element_at(m, i + F.lit(1)),
                    lambda x, p: x.cast("double") * p,
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            >= 0.0,
            F.element_at(pow2, i + F.lit(1)),
        ).otherwise(F.lit(0).cast("long")),
    )
    # left-to-right long sum == the old explicit `+` chain bit-for-bit
    return F.aggregate(bits, F.lit(0).cast("long"), lambda a, x: a + x)


def _all_buckets(vec_col: str, all_planes: list) -> "F.Column":
    """``array<bigint>`` of every table's bucket id for one vector."""
    return F.array(
        *[
            _sign_bucket(vec_col, planes).cast("bigint")
            for planes in all_planes
        ]
    )


def _centroid_assign(vec_col: str, centroids: np.ndarray, nprobe: int) -> "F.Column":
    """Top-``nprobe`` centroid ids by cosine, as one bounded plan
    subtree: the normalized centroids enter as ONE matrix literal and
    a ``transform(sequence(...))`` computes the per-centroid (score,
    id) structs — the tree is O(1) in |centroids|·dim instead of the
    old per-centroid unrolled expression chain (same fold order, so
    scores and tie-breaks are bit-identical: dot = left-to-right
    aggregate over zip_with, sort ascending by (s, c), reversed)."""
    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )
    m = _dbl_mat_lit(cn)
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    scored = F.transform(
        F.sequence(F.lit(0), F.lit(len(cn) - 1)),
        lambda i: F.struct(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.element_at(m, i + F.lit(1)),
                    lambda x, p: x.cast("double") * p,
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("s"),
            i.alias("c"),
        ),
    )
    return F.transform(
        F.slice(F.reverse(F.array_sort(scored)), 1, nprobe), lambda e: e["c"]
    )


def _pq_subspace_scores_all(vec_col, codebook: np.ndarray) -> "F.Column":
    """ONE ``array<array<double>>`` column of every subspace's k scores
    ``sub_j · C_jc − ½|C_jc|²`` (maximizing this over c minimizes the
    L2 distance ‖sub_j − C_jc‖², since the ‖sub_j‖² term is constant
    per row). Pure Catalyst folds — the identical left-to-right double
    fold as the DuckDB twin's ``list_dot_product``, and the ½|C|²
    constants are Python-computed literals shared by BOTH engines, so
    assignment is hash-exact."""
    m, k, d_sub = codebook.shape
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    dvec = F.transform(vec, lambda x: x.cast("double"))
    cb3 = _dbl_cube_lit(codebook)
    hn2 = _dbl_mat_lit(
        [
            [
                float(np.dot(codebook[j, c], codebook[j, c])) / 2.0
                for c in range(k)
            ]
            for j in range(m)
        ]
    )
    scores_all = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.zip_with(
            F.element_at(cb3, j + F.lit(1)),
            F.element_at(hn2, j + F.lit(1)),
            lambda cent, hn: F.aggregate(
                F.zip_with(
                    F.slice(
                        dvec, j * F.lit(d_sub) + F.lit(1), F.lit(d_sub)
                    ),
                    cent,
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            - hn,
        ),
    )
    return scores_all


def _catalyst_codes(scores: "F.Column", m: int) -> "F.Column":
    """1-based first-max code per subspace of a scores column."""
    return F.array(
        *[
            F.array_position(
                F.element_at(scores, j + 1),
                F.array_max(F.element_at(scores, j + 1)),
            ).cast("int")
            for j in range(m)
        ]
    )


# ---------------------------------------------------------------------------
# Frames
# ---------------------------------------------------------------------------


def _fold(x: np.ndarray, w: np.ndarray) -> np.ndarray:
    """The kernels' left-to-right fold, in numpy, for row selection."""
    acc = np.zeros((len(x), len(w)))
    for j in range(x.shape[1]):
        acc += x[:, j, None] * w[None, :, j]
    return acc


def _projected_rows(n: int = 64) -> np.ndarray:
    """``a − (a·p/p·p)·p`` for seeded ``a`` and each sign-LSH plane
    ``p`` in turn: the plane dot is within rounding of 0. The
    coefficient is an exactly rounded ``fsum``, so the rows do not
    depend on the BLAS build."""
    stack = np.vstack(PLANES)
    rows = []
    for s in range(n):
        a = np.random.default_rng(1000 + s).standard_normal(64)
        p = stack[s % len(stack)]
        rows.append(a - math.fsum(a * p) / math.fsum(p * p) * p)
    return np.array(rows)


def _sign_split_rows() -> np.ndarray:
    """The projected rows on which a BLAS ``x @ P.T`` and the fold give
    a different sign for some plane."""
    x = _projected_rows()
    stack = np.vstack(PLANES)
    split = ((x @ stack.T) >= 0.0) != (_fold(x, stack) >= 0.0)
    return x[split.any(axis=1)]


def _adversarial_rows() -> list:
    cb = CB_DUP
    rows = [
        np.zeros(64),
        np.full(64, -0.0),
        np.where(np.arange(64) % 2 == 0, -0.0, 1.0),
        # every subspace ties codewords 4 and 9 at the maximum score
        np.concatenate([cb[j, 4] for j in range(cb.shape[0])]),
        # every centroid score ties centroids 2 and 5
        CENTS_DUP[2],
        -CENTS_DUP[5],
        *_projected_rows(16),
        *_sign_split_rows(),
    ]
    return [(i, [float(v) for v in r]) for i, r in enumerate(rows)]


@pytest.fixture(scope="module")
def frames(spark):
    return {
        "sf0.01": spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet"),
        "sf0.1": spark.read.parquet(f"{SF_BENCH}/embeddings.parquet"),
        "adversarial": spark.createDataFrame(
            _adversarial_rows(), "vec_id long, embedding array<double>"
        ),
    }


FRAMES = ["sf0.01", "sf0.1", "adversarial"]


def _pairs(df, ref, got) -> list:
    rows = df.select("vec_id", ref.alias("ref"), got.alias("got")).collect()
    assert rows
    return rows


def _bits(v) -> bytes:
    """Exact bit pattern of a (nested) double array — ``-0.0`` and
    ``0.0`` compare equal as floats but not here."""
    return np.asarray(v, dtype=np.float64).tobytes()


# ---------------------------------------------------------------------------
# Tests
# ---------------------------------------------------------------------------


def test_adversarial_rows_split_matmul_and_fold():
    """The projected rows are real adversaries: on some of them a BLAS
    matmul and the fold disagree on a plane sign, so the bucket parity
    below pins the fold ORDER, not just today's data."""
    assert len(_sign_split_rows()) >= 1


@pytest.mark.parametrize("frame", FRAMES)
def test_sign_buckets_match_catalyst(frames, frame):
    df = frames[frame]
    rows = _pairs(
        df,
        _all_buckets("embedding", PLANES),
        sign_buckets_arrow(PLANES)("embedding"),
    )
    bad = [r["vec_id"] for r in rows if list(r["ref"]) != list(r["got"])]
    assert not bad, bad


@pytest.mark.parametrize("cents", ["static", "duplicated"])
@pytest.mark.parametrize("frame", FRAMES)
def test_probe_order_matches_catalyst(frames, frame, cents):
    c = CENTS if cents == "static" else CENTS_DUP
    rows = _pairs(
        frames[frame],
        _centroid_assign("embedding", c, len(c)),
        centroid_probe_arrow(c, len(c))("embedding"),
    )
    bad = [r["vec_id"] for r in rows if list(r["ref"]) != list(r["got"])]
    assert not bad, bad


@pytest.mark.parametrize("codebook", ["static", "duplicated"])
@pytest.mark.parametrize("frame", FRAMES)
def test_pq_scores_and_codes_match_catalyst(frames, frame, codebook):
    cb = CB if codebook == "static" else CB_DUP
    m, k, _ = cb.shape
    df = frames[frame].select(
        "vec_id",
        _pq_subspace_scores_all("embedding", cb).alias("ref_s"),
        pq_subspace_scores(cb)("embedding").alias("got_s"),
        pq_subspace_codes(cb)("embedding").alias("got_c"),
    )
    rows = df.select(
        "vec_id", "ref_s", "got_s", "got_c",
        _catalyst_codes(F.col("ref_s"), m).alias("ref_c"),
    ).collect()
    assert rows
    bad_s = [r["vec_id"] for r in rows if _bits(r["ref_s"]) != _bits(r["got_s"])]
    bad_c = [r["vec_id"] for r in rows if list(r["ref_c"]) != list(r["got_c"])]
    assert not bad_s, bad_s
    assert not bad_c, bad_c
    for r in rows:
        assert all(1 <= c <= k for c in r["got_c"])
    if frame == "adversarial" and codebook == "duplicated":
        # the tied row takes the FIRST of the duplicated codewords
        tied = next(r for r in rows if r["vec_id"] == 3)
        assert list(tied["got_c"]) == [5] * m


def test_pq_codes_frame_matches_catalyst(frames):
    """``pq_codes`` (the corpus code table every PQ query scans) equals
    the Catalyst first-max argmax column by column, 1-based into k=16."""
    emb = frames["sf0.01"]
    m = CB.shape[0]
    codes = S.pq_codes(emb, "vec_id", "embedding", CB)
    assert codes.columns == ["vec_id"] + [f"code_{j}" for j in range(m)]
    ref = emb.select(
        "vec_id",
        _catalyst_codes(_pq_subspace_scores_all("embedding", CB), m).alias("c"),
    )
    want = {r["vec_id"]: tuple(r["c"]) for r in ref.collect()}
    got = {r["vec_id"]: tuple(r)[1:] for r in codes.collect()}
    assert got == want
    for c in got.values():
        assert all(1 <= x <= 16 for x in c)


def test_one_vector_kernel_path():
    """No caller can pick a second kernel path: no public function of
    the similarity or incremental operators takes ``impl``, and the
    package defines none of the Catalyst forms above (nor the helpers
    that only served them)."""
    import cmsspark_spark
    from cmsspark_spark.operators import incremental

    with_impl = {
        f"{mod.__name__}.{name}"
        for mod in (S, incremental)
        for name, fn in inspect.getmembers(mod, inspect.isfunction)
        if not name.startswith("_")
        and fn.__module__ == mod.__name__
        and "impl" in inspect.signature(fn).parameters
    }
    assert with_impl == set()
    gone = (
        "_sign_bucket", "_all_buckets", "_centroid_assign", "_probe_lists",
        "_pq_subspace_scores_all", "_pq_subspace_scores", "_dbl_cube_lit",
        "pq_codes_arrow",
    )
    pattern = re.compile(rf"^\s*def ({'|'.join(gone)})\(", re.M)
    root = pathlib.Path(cmsspark_spark.__file__).parent
    found = {
        (str(p.relative_to(root)), m.group(1))
        for p in sorted(root.rglob("*.py"))
        for m in pattern.finditer(p.read_text())
    }
    assert found == set()
