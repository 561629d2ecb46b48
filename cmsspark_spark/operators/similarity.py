"""Similarity search over embedding columns (SURVEY §7.2 M8).

Beyond-reference operators for ANN over ``array<float>``:

- ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query
  set against the corpus; per-partition scoring, TakeOrderedAndProject
  per query via window top-k. The *baseline* and the verifier.
- ``lsh_topk`` — random-hyperplane (sign) LSH: corpus and queries hash
  to sign-pattern buckets; candidates = same bucket (any of ``tables``
  independent tables); exact re-score on candidates only. The scale
  path: at 100 TB the bucket join replaces the full cross product.

Hyperplanes are generated from a seeded RNG in the driver and shipped as
*literal arrays* into the plan — deterministic, no UDF, no side files.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from cmsspark_spark.functions.vectors import (
    centroid_probe_arrow,
    cosine_similarity,
    dot,
    l2_norm,
    sign_buckets_arrow,
)
from cmsspark_spark.session import local_frame


#: (gateway id, element type, value bytes) → Column. Array-literal
#: Columns are immutable unresolved expressions, safely reused across
#: DataFrames and sessions of one JVM; the key's gateway id drops
#: entries if the JVM is ever relaunched in-process.
_LIT_CACHE: dict = {}


def _np_digest(*arrays) -> str:
    """Content digest of constant numpy arrays (the constants' part of
    a corpus-index memo key)."""
    import hashlib

    h = hashlib.sha1()
    for a in arrays:
        a = np.ascontiguousarray(a)
        h.update(str(a.shape).encode())
        h.update(str(a.dtype).encode())
        h.update(a.tobytes())
    return h.hexdigest()


def _corpus_index_shared(
    corpus: DataFrame, params: tuple, builder
) -> DataFrame:
    """Shared derived-index frame over the corpus — PQ code tables,
    IVF inverted-list assignments, LSH bucket tables. STATE at the
    same grain as the BM25 postings memo (r14, VERDICT item 4): the
    ladder's arms and a rung's repeat serves re-quantize/re-bucket the
    SAME corpus with the SAME constants, so the frame is built once
    per (plan, files, params) per session, and every serve RECOMPUTES
    its candidate generation + ranking from it — a rung's top-k output
    is never memoized. Concurrent arms share one build via the per-key
    lock. Unsafe keys (non-file sources) build unmemoized.

    The frame is pinned LAZILY (``pin_frame(eager=False)``): it
    materializes with its first serve, so the ladder's concurrent
    fan-out pays no extra job per arm (an eager pin measured
    ``ann_ladder_recall_report`` at 7.5/8.1 s against 6.3/6.8 s for
    the lazy persist it replaced; sf0.1, local[4], best of 2), and the
    lineage is still cut — consumers never re-analyze the
    codebook/centroid literals."""
    return _CORPUS_INDEX_MEMO.get_or(
        corpus.sparkSession,
        _CORPUS_INDEX_MEMO.key_for(corpus, *params),
        lambda: pin_frame(builder(), eager=False),
    )


def _jarr_lit(vals, jtype: str) -> "F.Column":
    """True array ``Literal`` column from a numeric vector, in O(1)
    py4j round-trips — ONE plan node.

    Why not the obvious forms (all measured at sf0.1, pq_adc build):
    - per-element ``F.array(*[F.lit(x) ...])``: >5 s — one driver
      round-trip per element, plus a CreateArray tree of |v| children
      that every analyzer rule re-walks on EVERY eager ``select``;
    - ``F.lit(ndarray)``: py4j's NumpyArrayConverter assigns the java
      array one element-round-trip at a time — same cost;
    - inline SQL ``array(1.0D, ...)``: one call, but ~0.3 s of
      analysis per select over the unfolded CreateArray;
    - string-encoded ``transform(split('...'), cast)``: tiny to build
      and analyze, but higher-order functions are NOT foldable, so the
      decode ran per row (measured 60 s on the ivfpq corpus scan).
    Here the values ship as ONE binary ByteBuffer payload, a bulk
    ``DoubleBuffer.get`` fills a ``double[]``/``long[]``, and JVM
    ``functions.lit`` wraps it as a single array Literal — bit-exact
    values, O(1) nodes, nothing to fold. Cached per (JVM, bytes):
    repeated builds of the same constant (bench reruns, ladder arms
    sharing one codebook) cost zero round-trips."""
    from pyspark import SparkContext
    from pyspark.sql.classic.column import Column

    sc = SparkContext._active_spark_context
    gw = sc._gateway
    jvm = sc._jvm
    arr = np.ascontiguousarray(
        vals, dtype=">f8" if jtype == "double" else ">i8"
    )
    key = (id(gw), jtype, arr.tobytes())
    hit = _LIT_CACHE.get(key)
    if hit is not None:
        return hit
    bb = jvm.java.nio.ByteBuffer.wrap(bytearray(arr.tobytes()))
    if jtype == "double":
        jarr = gw.new_array(jvm.double, len(arr))
        bb.asDoubleBuffer().get(jarr)
    else:
        jarr = gw.new_array(jvm.long, len(arr))
        bb.asLongBuffer().get(jarr)
    col = Column(jvm.org.apache.spark.sql.functions.lit(jarr))
    _LIT_CACHE[key] = col
    return col


def _dbl_arr_lit(v) -> "F.Column":
    """``array<double>`` literal, one plan node (see ``_jarr_lit``)."""
    return _jarr_lit([float(x) for x in v], "double")


def _dbl_mat_lit(mat) -> "F.Column":
    """``array<array<double>>`` literal: CreateArray of one Literal
    row each — |rows|+1 plan nodes, folded to one by the optimizer."""
    return F.array(*[_dbl_arr_lit(row) for row in mat])


def _int_arr_lit(v) -> "F.Column":
    """``array<bigint>`` literal, one plan node (see ``_jarr_lit``)."""
    return _jarr_lit([int(x) for x in v], "long")


def _int_mat_lit(mat) -> "F.Column":
    """``array<array<bigint>>`` literal (see ``_dbl_mat_lit``)."""
    return F.array(*[_int_arr_lit(row) for row in mat])


def _dbl_cube_lit(cube) -> "F.Column":
    """``array<array<array<double>>>`` literal (see _dbl_mat_lit)."""
    return F.array(*[_dbl_mat_lit(mat) for mat in cube])


def _rescore_topk(
    cand, k: int, id_col: str, vec_col: str, query_id_col: str
) -> DataFrame:
    """Shared tail of every ANN operator: exact cosine on candidates,
    per-query rank window (ties break on candidate id — deterministic),
    keep top-k.

    The rescore dot stays a Catalyst fold ON PURPOSE: an Arrow pandas
    UDF here must ship BOTH vectors of every candidate pair across the
    Python boundary (measured 2.8s → 13.2s on near-dup at sf0.1) —
    vectorizing pays pre-join (one array per row, see ``_all_buckets``),
    never post-join."""
    scored = cand.withColumn("cosine", cosine_similarity(vec_col, "_qvec"))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query.

    ``queries`` must be small (it is broadcast). Self-matches (same id)
    are excluded. Ties break on candidate id ascending, making the
    result fully deterministic.
    Returns (query_id, vec_id, cosine, rank).
    """
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qvec")
    )
    cand = corpus.crossJoin(F.broadcast(q)).filter(
        F.col(id_col) != F.col(query_id_col)
    )
    return _rescore_topk(cand, k, id_col, vec_col, query_id_col)


def cosine_near_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (id_a < id_b).

    All-pairs self-join: O(n²) scoring — the *verifier/baseline*, meant
    for bounded subsets (norms are precomputed once per row so the join
    only evaluates the dot product). For the corpus-scale path use
    ``cosine_near_pairs_lsh``.
    """
    normed = emb.select(
        F.col(id_col), _dblvec(vec_col).alias("_v"), l2_norm(vec_col).alias("_n")
    )
    a = normed.select(
        F.col(id_col).alias("id_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na")
    )
    b = normed.select(
        F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb")
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", dot("_va", "_vb") / (F.col("_na") * F.col("_nb")))
        .filter(F.col("cosine") >= threshold)
    )
    return pairs.select("id_a", "id_b", "cosine")


def cosine_near_pairs_lsh(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.9,
    num_planes: int = 6,
    tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "arrow",
) -> DataFrame:
    """Embedding near-dup pairs at scale: sign-LSH bucket self-join for
    candidates (high-cosine vectors land in the same bucket with
    probability (1 - θ/π)^planes per table), exact cosine only on
    candidates. Approximate: misses pairs no table co-buckets.

    ``impl="arrow"`` (default) hashes with one vectorized numpy matmul
    per Arrow batch; ``impl="sql"`` keeps the pure-Catalyst expression
    form (UDF-free, for environments where Arrow is off).

    Shuffle discipline (the 100 TB shape): the bucket self-join carries
    ONLY (id, table, bucket) — candidate pairs are ids, never vectors.
    A bucket of size s yields s² id-pairs; attaching the 64-dim arrays
    before the join multiplies every one of those by the vector payload
    (measured at sf0.1: ~1M candidates × 2×64 doubles ≈ 1 GB shuffled,
    6-13 s; ids-only ≈ 16 bytes/pair). Vectors are unit-normalized ONCE
    per row and joined back to the *deduplicated* pairs — AQE turns
    those join-backs into broadcasts when the embedding side is small.
    """
    rng = np.random.default_rng(seed)
    all_planes = [rng.standard_normal((num_planes, dim)) for _ in range(tables)]
    hashed = emb.select(
        F.col(id_col),
        F.posexplode(_all_buckets(vec_col, all_planes, impl)).alias(
            "_table", "_bucket"
        ),
    )
    a = hashed.select(F.col(id_col).alias("id_a"), "_table", "_bucket")
    b = hashed.select(F.col(id_col).alias("id_b"), "_table", "_bucket")
    cand = (
        a.join(b, on=["_table", "_bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # Unit-normalize once per row: the pair rescore is then one dot.
    unit = emb.select(
        F.col(id_col),
        F.zip_with(
            _dblvec(vec_col),
            F.array_repeat(l2_norm(vec_col), dim),
            lambda x, n: x / n,
        ).alias("_u"),
    )
    ua = unit.select(F.col(id_col).alias("id_a"), F.col("_u").alias("_ua"))
    ub = unit.select(F.col(id_col).alias("id_b"), F.col("_u").alias("_ub"))
    # Rescore stays a Catalyst fold: an Arrow UDF post-join ships both
    # vectors of every pair across the Python boundary (measured 2.8s →
    # 13.2s at sf0.1). Vectorize pre-join only.
    return (
        cand.join(ua, on="id_a")
        .join(ub, on="id_b")
        .withColumn("cosine", dot("_ua", "_ub"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    sample: int = 2048,
    iters: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
) -> np.ndarray:
    """Lloyd's k-means on a bounded driver-side sample → IVF centroids.

    Centroid training is the one deliberately driver-side step (standard
    for IVF: centroids are tiny and training needs iterations); the
    sample is capped so this never scales with the corpus. Assignment —
    the at-scale part — happens cluster-side in ``ivf_topk``.
    """
    rows = (
        corpus.select(vec_col)
        .limit(sample)
        .collect()
    )
    x = np.array([r[0] for r in rows], dtype=np.float64)
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        # cosine assignment: normalize once, argmax dot
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
        assign = np.argmax(xn @ cn.T, axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


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


def _probe_lists(
    vec_col: str, centroids: np.ndarray, nprobe: int, impl: str
) -> "F.Column":
    """Top-``nprobe`` inverted-list ids for one vector — arrow (numpy
    matmul per Arrow batch, default) or sql (one expression tree per
    centroid; oracle-safe/UDF-free fallback)."""
    if impl == "arrow":
        return centroid_probe_arrow(centroids, nprobe)(vec_col)
    return _centroid_assign(vec_col, centroids, nprobe)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    impl: str = "arrow",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their nearest
    centroid's inverted list; each query probes its ``nprobe`` nearest
    lists and exact-scores only those members.

    At 100 TB the corpus is written bucketed/partitioned by
    ``_centroid`` so a probe is a partition-pruned scan; here the list
    membership is a join key. Recall grows with nprobe (nprobe =
    n_centroids ⇒ exact).
    """
    # the corpus-side inverted-list assignment is shared index
    # STATE (the in-memory form of write_ivf_index's layout): one
    # build per (corpus, centroids, impl) per session (r14)
    c_assign = _corpus_index_shared(
        corpus,
        ("ivf_assign", id_col, vec_col, impl, _np_digest(centroids)),
        lambda: corpus.select(
            F.col(id_col),
            F.col(vec_col),
            # corpus side: nprobe=1 — each vector lives in ONE list
            _probe_lists(vec_col, centroids, 1, impl)
            .getItem(0)
            .alias("_centroid"),
        ),
    )
    q_assign = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("_qvec"),
        F.explode(_probe_lists(vec_col, centroids, nprobe, impl)).alias("_centroid"),
    )
    cand = (
        c_assign.join(F.broadcast(q_assign), on="_centroid")
        .filter(F.col(id_col) != F.col(query_id_col))
        .dropDuplicates([query_id_col, id_col])
    )
    return _rescore_topk(cand, k, id_col, vec_col, query_id_col)


def write_ivf_index(
    corpus: DataFrame,
    centroids: np.ndarray,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
    impl: str = "arrow",
) -> None:
    """Materialize the IVF index: corpus partitioned on disk by nearest
    centroid. At query time a probe reads ONLY its nprobe partitions
    (partition pruning at the file listing — the scan never touches the
    other inverted lists). This is the 100 TB layout; ``ivf_topk``'s
    join-on-centroid is the ad-hoc/in-memory form of the same plan."""
    assigned = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        _probe_lists(vec_col, centroids, 1, impl).getItem(0).alias("_centroid"),
    )
    # repartition by list: one writer per inverted list → one file per
    # partition dir, no small-file explosion
    assigned.repartition("_centroid").write.mode(mode).partitionBy(
        "_centroid"
    ).parquet(path)


def ivf_index_topk(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    impl: str = "arrow",
) -> DataFrame:
    """Probe a materialized IVF index: queries hash to their nprobe
    centroid lists; the corpus scan carries a ``_centroid IN (...)``
    filter that prunes to exactly the probed partitions."""
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("_qvec"),
        F.explode(_probe_lists(vec_col, centroids, nprobe, impl)).alias("_centroid"),
    )
    corpus = spark.read.option("basePath", index_path).parquet(index_path)
    cand = (
        corpus.join(F.broadcast(q), on="_centroid")
        .filter(F.col(id_col) != F.col(query_id_col))
        .dropDuplicates([query_id_col, id_col])
    )
    return _rescore_topk(cand, k, id_col, vec_col, query_id_col)


def _dblvec(vec_col: str) -> "F.Column":
    return F.transform(F.col(vec_col), lambda x: x.cast("double"))


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


def _all_buckets(vec_col: str, all_planes: list, impl: str) -> "F.Column":
    """``array<bigint>`` of every table's bucket id for one vector.

    arrow: one vectorized pandas UDF (numpy matmul per Arrow batch) —
    the hot path; the per-plane aggregate(zip_with) trees of the sql
    form are interpreted (HOFs never reach whole-stage codegen) and
    re-walk the vector per plane.
    sql: pure Catalyst expressions, UDF-free (oracle-safe fallback).
    """
    if impl == "arrow":
        return sign_buckets_arrow(all_planes)(vec_col)
    return F.array(
        *[
            _sign_bucket(vec_col, planes).cast("bigint")
            for planes in all_planes
        ]
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 6,
    tables: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate cosine top-k via sign-LSH bucketing + exact re-score.

    Candidates are corpus vectors sharing a bucket with the query in any
    of ``tables`` independent hash tables; only candidates get the exact
    cosine. Recall grows with ``tables`` and shrinks with ``num_planes``.
    Returns (query_id, vec_id, cosine, rank) like ``brute_force_topk``.
    Buckets come from the vectorized ``arrow`` hasher (see
    ``cosine_near_pairs_lsh``).
    """
    rng = np.random.default_rng(seed)
    all_planes = [
        rng.standard_normal((num_planes, dim)) for _ in range(tables)
    ]

    def bucketize(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        # ONE scan: every table's bucket in one array column (one UDF
        # call or one expression tree), exploded narrowly — no
        # union-of-branches re-reading the source.
        return df.select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).alias(out_vec),
            F.posexplode(_all_buckets(vec_col, all_planes, "arrow")).alias(
                "_table", "_bucket"
            ),
        )

    # the corpus-side hash tables are shared index STATE: one
    # bucketize per (corpus, planes) per session (r14)
    corpus_all = _corpus_index_shared(
        corpus,
        ("lsh_buckets", id_col, vec_col, dim, num_planes, tables, seed),
        lambda: bucketize(corpus, id_col, vec_col),
    )
    query_all = bucketize(queries, query_id_col, "_qvec")

    cand = (
        corpus_all.join(F.broadcast(query_all), on=["_table", "_bucket"])
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, vec_col, "_qvec")
        .dropDuplicates([query_id_col, id_col])
    )
    return _rescore_topk(cand, k, id_col, vec_col, query_id_col)


# ---------------------------------------------------------------------------
# Product quantization (compressed-domain ADC scan)
# ---------------------------------------------------------------------------


def pq_codebook(
    m: int = 8, k: int = 16, d_sub: int = 8, seed: int = 11
) -> np.ndarray:
    """Static PQ codebook: ``m`` subspaces × ``k`` codes × ``d_sub``
    dims (Jégou et al., "Product Quantization for Nearest Neighbor
    Search", TPAMI 2011). Seeded-random here — the production shape
    trains it offline on a sample (like ``train_ivf_centroids``) and
    ships the constant, which is exactly what a literal codebook
    models."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((m, k, d_sub))


def _pq_subspace_scores_all(vec_col, codebook: np.ndarray) -> "F.Column":
    """ONE ``array<array<double>>`` column of every subspace's k scores
    ``sub_j · C_jc − ½|C_jc|²`` (maximizing this over c minimizes the
    L2 distance ‖sub_j − C_jc‖², since the ‖sub_j‖² term is constant
    per row). Pure Catalyst folds — the identical left-to-right double
    fold as the DuckDB twin's ``list_dot_product``, and the ½|C|²
    constants are Python-computed literals shared by BOTH engines, so
    assignment is hash-exact.

    Callers that need the scores more than once MUST materialize this
    column once (``.select(..., sall.alias(...))``) and reference the
    attribute: HOF expressions are interpreted (never codegen'd), so
    per-subspace ``element_at`` copies of the full tree each recompute
    all m subspaces."""
    m, k, d_sub = codebook.shape
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    dvec = F.transform(vec, lambda x: x.cast("double"))
    # ALL m subspaces in ONE expression: the codebook enters as a
    # single 3-D literal (one py4j call, folded to one Literal node),
    # the ½-norms as one matrix literal, and the per-(subspace, code)
    # scores come from a nested transform/zip_with — the whole build
    # is O(10) driver round-trips where the per-subspace loop cost
    # ~3 000 (measured ~2.4 s of socket wait per query build). Fold
    # order per (j, c) — left-to-right dot, then −½|C|² — is
    # unchanged, so scores stay bit-identical.
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


def _pq_subspace_scores(vec_col, codebook: np.ndarray) -> list:
    """Per-subspace score arrays as a list of Columns — ``element_at``
    views over :func:`_pq_subspace_scores_all`. ONLY for frames where
    each row is consumed O(1) times (the broadcast query side);
    corpus-sized consumers materialize the _all column instead."""
    sall = _pq_subspace_scores_all(vec_col, codebook)
    return [F.element_at(sall, j + 1) for j in range(codebook.shape[0])]


def pq_codes(
    df: DataFrame, id_col: str, vec_col: str, codebook: np.ndarray
) -> DataFrame:
    """Encode each vector as ``m`` small codes: per subspace, the
    argmin-distance code (ties → smallest code id, via the
    first-occurrence semantics of ``array_position(scores,
    array_max(scores))``). Output (id, code_0..code_{m-1}) — this IS
    the index: 100 TB of float vectors compress to m bytes/vector, so
    the downstream scan is memory-bandwidth-bound on codes, never on
    raw embeddings. A narrow zero-shuffle map (two stacked projections:
    the scores array materializes ONCE per row, the code columns read
    the attribute — CollapseProject keeps the split because the HOF
    scores expression is not collapse-cheap)."""
    m = codebook.shape[0]
    staged = df.select(
        F.col(id_col),
        _pq_subspace_scores_all(vec_col, codebook).alias("_sall"),
    )
    cols = [F.col(id_col)]
    for j in range(m):
        s = F.element_at(F.col("_sall"), j + 1)
        cols.append(
            F.array_position(s, F.array_max(s)).cast("int").alias(f"code_{j}")
        )
    return staged.select(*cols)


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebook: np.ndarray,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: queries stay exact, the corpus
    is scanned in code space. Per query, a k(=16)-entry lookup table
    per subspace replaces every distance computation with ``m`` table
    lookups + an ordered sum.

    Plan shape: the (tiny) query side carries its per-subspace score
    arrays and BROADCASTS into the corpus-code scan — one narrow pass
    over the code table, no shuffle of vectors; the only shuffle is the
    per-query top-k (TakeOrderedAndProject-sized). The ADC sum is a
    LEFT-ASSOCIATIVE chain over subspace order, mirrored exactly by the
    oracle's ``list_reduce(list(s ORDER BY j), ...)`` so ranking is
    cross-engine deterministic. ``adc_score`` is the (constant-shifted)
    negated half-distance: rank by it DESC ≡ L2 ADC distance ASC.
    Plan contracts assert on ``_pq_adc_build``."""
    return _pq_adc_build(corpus, queries, codebook, k, id_col, vec_col)


def _pq_adc_build(
    corpus, queries, codebook, k, id_col, vec_col
) -> DataFrame:
    """The un-memoized ADC build (see pq_adc_topk)."""
    m = codebook.shape[0]
    # the corpus code table is shared index STATE: the static-PQ and
    # PQ-refine ladder arms encode the same corpus with the same
    # codebook — one build per session (r14, _corpus_index_shared)
    codes = _corpus_index_shared(
        corpus,
        ("pq_codes", id_col, vec_col, _np_digest(codebook)),
        lambda: pq_codes(corpus, id_col, vec_col, codebook),
    )
    qscores = _pq_subspace_scores(vec_col, codebook)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        *[s.alias(f"qs_{j}") for j, s in enumerate(qscores)],
    )
    joined = codes.join(
        F.broadcast(q), on=F.col(id_col) != F.col("query_id")
    )
    adc = None
    for j in range(m):
        term = F.element_at(F.col(f"qs_{j}"), F.col(f"code_{j}"))
        adc = term if adc is None else adc + term
    w = Window.partitionBy("query_id").orderBy(
        F.col("_adc").desc(), F.col(id_col)
    )
    return (
        joined.withColumn("_adc", adc)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            id_col,
            F.round("_adc", 6).alias("adc_score"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def pq_codes_arrow(
    df: DataFrame, id_col: str, vec_col: str, codebook: np.ndarray
) -> DataFrame:
    """Arrow fast path for PQ encoding: one numpy distance matrix per
    (Arrow batch, subspace) — ``argmin_c ‖sub − C_jc‖²`` via the
    ‖x‖²−2x·c+‖c‖² expansion — instead of m×k interpreted fold trees.
    ``np.argmin`` takes the FIRST minimum, matching ``pq_codes``'s
    smallest-code tie-break (bit-identical agreement is probabilistic —
    the two paths sum in different orders — but a flip needs two
    centroids within float error of equidistant: measure-zero for
    continuous data). Closure pickles by value (numpy constants only).
    """
    from pyspark.sql.functions import pandas_udf

    cb = codebook.astype(np.float64)
    m, k, d_sub = cb.shape
    flat = cb.reshape(m * k, d_sub)  # codes vary fastest within a subspace
    cnorm = (flat * flat).sum(axis=1)  # (m*k,)

    def _encode(vecs):
        import pandas as pd

        x = np.asarray(list(vecs), dtype=np.float64)  # (N, m*d_sub)
        subs = x.reshape(len(x), m, d_sub)
        codes = np.empty((len(x), m), dtype=np.int32)
        for j in range(m):
            cj = cb[j]  # (k, d_sub)
            d = cnorm[j * k : (j + 1) * k] - 2.0 * subs[:, j, :] @ cj.T
            codes[:, j] = np.argmin(d, axis=1) + 1  # 1-based like pq_codes
        return pd.Series(list(codes))

    enc = pandas_udf(_encode, "array<int>")
    out = df.select(F.col(id_col), enc(F.col(vec_col)).alias("_codes"))
    return out.select(
        id_col,
        *[F.element_at("_codes", j + 1).alias(f"code_{j}") for j in range(m)],
    )


def train_pq_codebook(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    sample: int = 2048,
    iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
) -> np.ndarray:
    """Per-subspace Lloyd's k-means on a bounded driver-side sample →
    PQ codebook (m, k, d_sub). Same division of labor as
    ``train_ivf_centroids``: training is tiny and iterative (driver),
    encoding/scanning is the at-scale part (cluster-side in
    ``pq_codes``/``pq_adc_topk``)."""
    rows = corpus.select(vec_col).limit(sample).collect()
    x = np.asarray([r[0] for r in rows], dtype=np.float64)
    dim = x.shape[1]
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    d_sub = dim // m
    rng = np.random.default_rng(seed)
    cb = np.empty((m, k, d_sub))
    for j in range(m):
        sub = x[:, j * d_sub : (j + 1) * d_sub]
        cents = sub[rng.choice(len(sub), size=min(k, len(sub)), replace=False)]
        for _ in range(iters):
            # L2 assignment via the |c|²−2x·c expansion
            d = (cents * cents).sum(axis=1) - 2.0 * sub @ cents.T
            assign = np.argmin(d, axis=1)
            for c in range(len(cents)):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        cb[j] = cents
    return cb


def semantic_dedup(
    corpus: DataFrame,
    centroids: np.ndarray,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "sql",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings by nearest centroid, then
    inside each cluster drop every vector that has a LOWER-id neighbor
    with cosine ≥ ``threshold`` (the deterministic leader rule; the
    paper keeps one representative per ε-ball — lowest id makes the
    survivor a pure function of the data instead of k-means internals).

    This is the embedding-space sibling of the MinHash-LSH text
    near-dup: the cluster id is the bucket, so the quadratic cosine
    check runs WITHIN clusters only — at 100 TB the all-pairs matrix is
    impossible, but per-cluster blocks are bounded by design (SemDeDup's
    own tradeoff: cross-cluster near-dups are missed; recall against
    the exact verifier is what tests gate). Each vector crosses the
    shuffle ONCE per join side, keyed by cluster (the per-pair work is
    then an in-partition dot); the pair OUTPUT is ids-only, and the
    drop list re-joins the corpus by id.

    Returns one row per input vector: (``_cluster``, id, ``_dropped``
    flag).
    """
    cl = corpus.select(
        F.col(id_col),
        _dblvec(vec_col).alias("_v"),
        l2_norm(vec_col).alias("_n"),
        F.element_at(_probe_lists(vec_col, centroids, 1, impl), 1).alias(
            "_cluster"
        ),
    )
    return _cluster_leader_drops(cl, threshold, id_col)


def _cluster_leader_drops(
    cl: DataFrame, threshold: float, id_col: str
) -> DataFrame:
    """Shared SemDeDup tail: within each ``_cluster``, drop every
    vector that has a LOWER-id neighbor with cosine ≥ threshold.
    ``cl`` carries (_cluster, id, _v double-vec, _n norm); each vector
    crosses the shuffle once per join side keyed by cluster, the pair
    output is ids-only."""
    a = cl.select(
        "_cluster", F.col(id_col).alias("_ida"),
        F.col("_v").alias("_va"), F.col("_n").alias("_na"),
    )
    b = cl.select(
        "_cluster", F.col(id_col).alias("_idb"),
        F.col("_v").alias("_vb"), F.col("_n").alias("_nb"),
    )
    pairs = (
        a.join(b, on="_cluster")
        .filter(F.col("_ida") < F.col("_idb"))
        .withColumn("_cos", dot("_va", "_vb") / (F.col("_na") * F.col("_nb")))
        .filter(F.col("_cos") >= F.lit(float(threshold)))
    )
    drops = pairs.select(F.col("_idb").alias(id_col)).distinct().withColumn(
        "_dropped", F.lit(1)
    )
    return cl.select("_cluster", id_col).join(drops, on=id_col, how="left")


def ivfpq_static_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    codebook: np.ndarray,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ — the production ANN composition (Jégou et al. 2011's
    IVFADC): a coarse quantizer routes each vector to an inverted list,
    PQ encodes the RESIDUAL (vector − centroid), and queries scan only
    their ``nprobe`` probed lists in code space:
    ``‖q − x‖² ≈ ‖q − c‖² − 2(q−c)·r̂ + ‖r̂‖²``.

    Index = (list id + m residual codes) per vector: at 100 TB the
    store is ~9 bytes/vector and a query touches nprobe/n_lists of it —
    the two-level pruning neither IVF (full vectors in lists) nor flat
    PQ (all codes scanned) achieves alone. Everything is Catalyst:
    centroid selection is ``element_at`` into an array-of-arrays
    literal, residuals are exact elementwise subtraction, and the ADC
    ranking key folds in the same left-associative order as the DuckDB
    twin, so the static-seed form is hash-exact cross-engine. Ranking
    maximizes ``Σⱼ s_j(code_j) − ½‖q−c‖²`` ≡ L2 ADC distance ASC."""
    return _ivfpq_static_build(
        corpus, queries, centroids, codebook, k, nprobe, id_col, vec_col
    )


def _ivfpq_static_build(
    corpus, queries, centroids, codebook, k, nprobe, id_col, vec_col
) -> DataFrame:
    """The un-memoized IVF-PQ build (see ivfpq_static_topk)."""
    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )
    cents_lit = _dbl_mat_lit(cn)

    def with_residual(df, cid_expr):
        dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        cent = F.element_at(cents_lit, cid_expr + 1)
        return F.zip_with(dvec, cent, lambda x, y: x - y)

    m = codebook.shape[0]
    # corpus: top-1 centroid, residual codes. Staged projections so the
    # centroid pick, the residual vector and the subspace-score arrays
    # each materialize ONCE per row and downstream columns read the
    # attribute (HOF expressions are interpreted — per-code copies of
    # the tree would recompute all m subspaces per column).
    cstar = F.element_at(_centroid_assign(vec_col, centroids, 1), 1)
    staged = (
        corpus.withColumn("_c", cstar)
        .select(
            F.col(id_col), "_c",
            with_residual(corpus, F.col("_c")).alias("_resid"),
        )
        .select(
            F.col(id_col), "_c",
            _pq_subspace_scores_all(
                F.col("_resid"), codebook
            ).alias("_sall"),
        )
    )
    # (list id + m residual codes) per vector IS the IVF-PQ index —
    # shared STATE per (corpus, centroids, codebook) (r14)
    codes = _corpus_index_shared(
        corpus,
        ("ivfpq_codes", id_col, vec_col, _np_digest(centroids, codebook)),
        lambda: staged.select(
            F.col(id_col),
            "_c",
            *[
                F.array_position(
                    F.element_at(F.col("_sall"), j + 1),
                    F.array_max(F.element_at(F.col("_sall"), j + 1)),
                ).cast("int").alias(f"code_{j}")
                for j in range(m)
            ],
        ),
    )
    # queries: nprobe probes, per-probe residual score tables + ‖q−c‖²
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.explode(_centroid_assign(vec_col, centroids, nprobe)).alias("_c"),
    )
    qresid = with_residual(probes.withColumnRenamed("_qv", vec_col), F.col("_c"))
    qscores = _pq_subspace_scores(qresid, codebook)
    qcn2 = F.aggregate(
        F.zip_with(qresid, qresid, lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    q = probes.withColumnRenamed("_qv", vec_col).select(
        "query_id",
        "_c",
        qcn2.alias("_qcn2"),
        *[sj.alias(f"qs_{j}") for j, sj in enumerate(qscores)],
    )
    joined = codes.join(F.broadcast(q), on="_c").filter(
        F.col(id_col) != F.col("query_id")
    )
    adc = None
    for j in range(m):
        term = F.element_at(F.col(f"qs_{j}"), F.col(f"code_{j}"))
        adc = term if adc is None else adc + term
    adc = adc - 0.5 * F.col("_qcn2")
    w = Window.partitionBy("query_id").orderBy(
        F.col("_adc").desc(), F.col(id_col)
    )
    return (
        joined.withColumn("_adc", adc)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            id_col,
            F.round("_adc", 6).alias("adc_score"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def semantic_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark decontamination (the semantic cousin
    of the n-gram/Bloom decontaminators): a corpus item whose maximum
    cosine against ANY benchmark embedding reaches ``threshold`` is
    contamination — paraphrases and reformats that verbatim n-gram
    matching misses. Returns every corpus row with
    (max_bench_cosine, contaminated).

    Plan: the benchmark side is tiny by definition (an eval set) — it
    BROADCASTS and the corpus streams through one narrow
    join+max-aggregate pass: no corpus shuffle beyond the per-id
    re-agg, vectors never leave their scan partitions. At 100 TB the
    prefilter for a large bench set is the same sign-LSH bucketing as
    ``cosine_near_pairs_lsh`` (bucket both sides, compare within
    buckets); the exact broadcast form here IS the production shape
    whenever the bench set fits an executor (thousands of rows).
    """
    # NO id predicate: corpus and benchmark id spaces are unrelated, so
    # an `id != bench_id` guard would silently skip exactly the
    # comparison that matters on a coincidental id collision (and with
    # an inner join could drop the corpus row entirely). Every bench
    # row is compared to every corpus row; a left broadcast join keeps
    # all corpus rows even when ``bench`` is empty (then
    # max_bench_cosine is null and contaminated is false).
    b = bench.select(F.col(vec_col).alias("_bvec"))
    scored = (
        corpus.join(F.broadcast(b), F.lit(True), "left")
        .withColumn("_cos", cosine_similarity(vec_col, "_bvec"))
        .groupBy(id_col)
        .agg(F.max("_cos").alias("max_bench_cosine"))
    )
    return scored.select(
        id_col,
        F.round("max_bench_cosine", 6).alias("max_bench_cosine"),
        F.coalesce(
            F.col("max_bench_cosine") >= threshold, F.lit(False)
        ).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# Distributed Lloyd's k-means (full-corpus, engine-exact)
# ---------------------------------------------------------------------------


def _kmeans_quantize(vec_col: str, scale: int) -> F.Column:
    """Integer-quantize a float vector: ``round(x * scale)`` per
    component, as BIGINT. All downstream k-means arithmetic stays in
    exact integer domain (sums, squared distances), so results are
    bit-identical across engines and partition orders — the property
    that makes full Lloyd's oracle-checkable, unlike float-mean
    updates whose partial-aggregation order perturbs the centroid."""
    return F.expr(
        f"transform(`{vec_col}`, "
        f"x -> CAST(round(CAST(x AS DOUBLE) * {scale}, 0) AS BIGINT))"
    )


def _kmeans_best(q_col: str, cents: list[list[int]]) -> F.Column:
    """argmin_j ||q - c_j||^2 as one bounded plan subtree: per-centroid
    exact integer squared distance (zip_with fold), array_min over (d2,
    cluster) structs — ties break to the lowest cluster index via
    struct ordering. Narrow: no shuffle, no UDF; centroids enter as ONE
    matrix literal and the per-centroid terms are a
    ``transform(sequence(...))`` — O(1) tree vs the old per-element
    unrolled chain (see _dbl_arr_lit), distances bit-identical."""
    m = _int_mat_lit(cents)
    q = F.col(q_col) if isinstance(q_col, str) else q_col
    scored = F.transform(
        F.sequence(F.lit(0), F.lit(len(cents) - 1)),
        lambda i: F.struct(
            F.aggregate(
                F.zip_with(
                    q,
                    F.element_at(m, i + F.lit(1)),
                    lambda x, p: (x - p) * (x - p),
                ),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ).alias("d"),
            i.alias("c"),
        ),
    )
    return F.array_min(scored)


def kmeans_lloyd(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    iters: int = 2,
    scale: int = 1000,
) -> DataFrame:
    """Full-corpus distributed Lloyd's k-means, deterministic and
    engine-exact (beyond-reference; complements ``train_ivf_centroids``
    which trains on a bounded driver sample — this one assigns and
    updates over ALL rows cluster-side, the corpus-clustering step of
    SemDeDup-style pipelines and offline IVF builds).

    Design for 100 TB:
    - vectors are integer-quantized once (``round(x*scale)``) and
      persisted; each iteration re-reads the quantized cache, never the
      raw corpus;
    - assignment is a NARROW map (centroids are broadcast as plan
      literals — k*dim ints), zero shuffle;
    - the update is ONE shuffle per iteration producing k rows (per-dim
      BIGINT sums + count — map-side combined), collected to the driver
      like MLlib's KMeans does: O(k*dim) bounded, never data-sized;
    - new centroid component = floor((2*s+n)/(2n)) — round-half-up of
      the exact mean, computed as IEEE double floor so Spark, Python
      and the DuckDB oracle agree bit-for-bit; empty clusters keep
      their previous centroid;
    - seeds are the ``k`` smallest-id vectors (TakeOrdered, k rows) —
      fully reproducible, no RNG.

    Returns the final assignment: (id_col, cluster int, d2 bigint) with
    d2 the exact squared distance in quantized space.
    """
    q, cents = _kmeans_shared(corpus, id_col, vec_col, scale, k, iters)
    best = _kmeans_best("_q", cents)
    return q.select(
        F.col("_id").alias(id_col),
        best["c"].alias("cluster"),
        best["d"].alias("d2"),
    )


def _kmeans_quantized_frame(
    corpus: DataFrame, id_col: str, vec_col: str, scale: int
) -> DataFrame:
    """(_id, _q) integer-quantized vectors, persisted: the frame every
    k-means iteration (and the final assignment) re-reads."""
    from pyspark import StorageLevel

    return corpus.select(
        F.col(id_col).alias("_id"), _kmeans_quantize(vec_col, scale).alias("_q")
    ).persist(StorageLevel.MEMORY_AND_DISK)


#: Session-scoped train-once memo: Lloyd's loop here is fully
#: deterministic (k-smallest-id seeds, integer quantization, no RNG),
#: so for a given (corpus plan + data fingerprint, params) the
#: centroids are a pure function — every consumer (assignment query,
#: SemDeDup bucketing, trained IVF, the ladder audit, a mixture
#: sampler) can share ONE training run and ONE persisted quantized
#: frame instead of each re-running the full-corpus iterations. Keyed
#: weakly by session so dead sessions' entries are collectable; the
#: key folds in the leaf files' (path, size, mtime) so appends and
#: overwrites retrain instead of silently serving stale centroids
#: (operators/memo.py — the r8 advice fix); the quantized frame's
#: persist is also deduped here (one cache per corpus, not one per
#: consumer — the cache-accumulation fix from the r7 advice).
from cmsspark_spark.operators.memo import SessionMemo as _SessionMemo
from cmsspark_spark.operators.memo import composite_key, pin_frame

_KMEANS_MEMO = _SessionMemo("kmeans")

#: Derived-index frames over a corpus (PQ codes, IVF assignments, LSH
#: buckets) — consumed by :func:`_corpus_index_shared` above.
_CORPUS_INDEX_MEMO = _SessionMemo("ann_corpus_index")


def _kmeans_shared(
    corpus: DataFrame, id_col: str, vec_col: str, scale: int, k: int, iters: int
) -> tuple[DataFrame, list]:
    """(quantized frame, trained centroids) memoized per
    (session, corpus plan hash + data fingerprint, id/vec cols, scale,
    k, iters). A memo miss trains exactly as before; a hit skips the
    seed scan and every iteration action. Falls back to untracked
    training if the plan has no safe memo key (no semanticHash, or a
    non-fingerprintable source)."""
    spark = corpus.sparkSession
    base_key = _KMEANS_MEMO.key_for(corpus, id_col, vec_col, scale)
    # the quantized frame is stored as its builder persists it: the
    # final assignment is a narrow map over that cache
    q = _KMEANS_MEMO.get_or(
        spark,
        composite_key("frame", base_key),
        lambda: _kmeans_quantized_frame(corpus, id_col, vec_col, scale),
    )
    cents = _KMEANS_MEMO.get_or(
        spark,
        composite_key("cents", base_key, k, iters),
        lambda: _kmeans_train(q, k, iters),
    )
    return q, cents


def _kmeans_train(q: DataFrame, k: int, iters: int) -> list:
    """The Lloyd loop over a quantized frame: k-smallest-id seeds,
    ``iters`` rounds of narrow assignment + one k-row update shuffle
    collected O(k*dim) to the driver. Returns the integer centroid
    list (cluster index = position)."""
    import math

    seed_rows = q.orderBy("_id").limit(k).collect()
    cents = [list(r["_q"]) for r in seed_rows]
    dim = len(cents[0])
    for _ in range(iters):
        assigned = q.select(
            F.col("_q"), _kmeans_best("_q", cents)["c"].alias("_cl")
        )
        sums = (
            assigned.groupBy("_cl")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                *[F.sum(F.col("_q")[i]).alias(f"_s{i}") for i in range(dim)],
            )
            .collect()
        )
        for r in sums:
            n = r["_n"]
            cents[r["_cl"]] = [
                int(math.floor((2 * r[f"_s{i}"] + n) / (2.0 * n)))
                for i in range(dim)
            ]
    return cents


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    iters: int = 2,
    scale: int = 1000,
) -> np.ndarray:
    """Train-only entry point: the deterministic full-corpus Lloyd
    centroids, de-quantized back to original units (float array,
    k x dim) — the distributed alternative to the driver-sampled
    ``train_ivf_centroids`` for seeding an IVF coarse quantizer. Same
    loop as ``kmeans_lloyd`` (shared ``_kmeans_train``), so the values
    an oracle recomputes from the k-means CTE divide by ``scale`` to
    exactly these doubles."""
    _, cents = _kmeans_shared(corpus, id_col, vec_col, scale, k, iters)
    return np.array(cents, dtype=np.float64) / float(scale)


def kmeans_assign(
    corpus: DataFrame,
    cents: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """ASSIGN-ONLY k-means serving: score a corpus (or an ingest
    increment) against already-trained integer centroids — no seed
    scan, no iterations, no state. The serving half of the
    train-once/assign-forever loop: ``kmeans_lloyd`` (or the memoized
    ``_kmeans_shared``) trains; ``save_kmeans_model`` persists the
    centroids; every later increment runs only this narrow map
    (centroids are plan literals, quantization is row-local — zero
    shuffle, zero driver traffic). Deterministic and engine-exact
    like the trainer, so assignments of the same vector NEVER flap
    between batches. Returns (id_col, cluster int, d2 bigint)."""
    q = corpus.select(
        F.col(id_col), _kmeans_quantize(vec_col, scale).alias("_q")
    )
    best = _kmeans_best("_q", cents)
    return q.select(
        F.col(id_col),
        best["c"].alias("cluster"),
        best["d"].alias("d2"),
    )


def save_kmeans_model(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    iters: int = 2,
    scale: int = 1000,
) -> None:
    """Train (via the session memo) and PERSIST a k-means model as a
    tiny parquet table: one row per cluster with the integer centroid,
    the quantization scale, and the cluster's training-time member
    SHARE — the reference distribution the streaming drift gate
    compares serving batches against (a healthy increment lands in
    clusters roughly proportionally; a drifted one piles into few).
    k rows on disk — the census-gate pattern applied to clustering."""
    q, cents = _kmeans_shared(corpus, id_col, vec_col, scale, k, iters)
    assign = q.select(_kmeans_best("_q", cents)["c"].alias("cluster"))
    shares = {
        r["cluster"]: r["n"]
        for r in assign.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    total = sum(shares.values()) or 1
    spark = corpus.sparkSession
    rows = [
        (ci, list(map(int, c)), int(scale), shares.get(ci, 0) / total)
        for ci, c in enumerate(cents)
    ]
    local_frame(
        spark,
        rows,
        "cluster int, centroid array<bigint>, scale int, train_share double",
    ).write.mode("overwrite").parquet(path)


def load_kmeans_model(spark, path: str) -> tuple[list[list[int]], int, dict]:
    """(centroids, scale, {cluster: train_share}) from a stored model
    — a k-row parquet read, the only driver traffic serving needs."""
    rows = sorted(
        spark.read.parquet(path).collect(), key=lambda r: r["cluster"]
    )
    cents = [list(r["centroid"]) for r in rows]
    scale = int(rows[0]["scale"]) if rows else 1000
    shares = {int(r["cluster"]): float(r["train_share"]) for r in rows}
    return cents, scale, shares


def pq_adc_refine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebook: np.ndarray,
    k: int = 5,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC-with-refine: the standard two-phase production ANN shape —
    scan the corpus in COMPRESSED domain (``pq_adc_topk``, ~m bytes
    per vector) to build a per-query ``shortlist``, then fetch raw
    vectors for shortlist members ONLY and re-rank by exact cosine.
    Refine repairs most of PQ's quantization error at the cost of one
    id-join touching ``shortlist`` vectors per query instead of the
    whole corpus — at 100 TB the exact vectors live in a separate
    store keyed by id and this join IS the fetch.

    Deterministic end-to-end: the ADC shortlist cut is the
    (adc DESC, id) order the PQ oracle reproduces, and the rescore is
    the shared exact-cosine tail, so the composed result is
    hash-exact against a composed oracle.

    Returns (query_id, vec_id, cosine, rank) with rank ≤ k.
    """
    cand = pq_adc_topk(
        corpus, queries, codebook, k=shortlist, id_col=id_col, vec_col=vec_col
    ).select("query_id", id_col)
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    withv = cand.join(corpus.select(id_col, vec_col), id_col).join(
        F.broadcast(qv), "query_id"
    )
    return _rescore_topk(withv, k, id_col, vec_col, "query_id")


def semantic_dedup_assigned(
    corpus: DataFrame,
    clusters: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup with an EXTERNAL cluster assignment — the paper's own
    shape (Abbas et al. 2023 run k-means first, then dedup within
    clusters): ``clusters`` is any (id, cluster) frame, e.g.
    ``kmeans_lloyd``'s output, so the bucketing quality and the dedup
    rule are independently tunable/auditable. Same deterministic
    leader rule and per-cluster-quadratic-only cost as
    ``semantic_dedup`` (shared tail); the assignment join is one
    id-keyed join before the cluster-keyed pair shuffle.

    Returns one row per input vector: (``_cluster``, id, ``_dropped``).
    """
    cl = corpus.select(
        F.col(id_col),
        _dblvec(vec_col).alias("_v"),
        l2_norm(vec_col).alias("_n"),
    ).join(
        clusters.select(id_col, F.col("cluster").alias("_cluster")), id_col
    )
    return _cluster_leader_drops(cl, threshold, id_col)


def _kmeans_probes(q_col: str, cents: list, nprobe: int) -> "F.Column":
    """Top-``nprobe`` k-means clusters for one quantized vector by
    EXACT integer squared L2 (ascending, ties → lower cluster index):
    sort the (d2, cluster) struct array, slice, project the ids — same
    bounded-tree matrix-literal form as ``_kmeans_best``."""
    m = _int_mat_lit(cents)
    q = F.col(q_col) if isinstance(q_col, str) else q_col
    scored = F.transform(
        F.sequence(F.lit(0), F.lit(len(cents) - 1)),
        lambda i: F.struct(
            F.aggregate(
                F.zip_with(
                    q,
                    F.element_at(m, i + F.lit(1)),
                    lambda x, p: (x - p) * (x - p),
                ),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ).alias("d"),
            i.alias("c"),
        ),
    )
    return F.transform(
        F.slice(F.array_sort(scored), 1, nprobe), lambda e: e["c"]
    )


def ivf_kmeans_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    km_k: int = 10,
    iters: int = 2,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF served from the DISTRIBUTED k-means trainer — train and
    serve in one deterministic composition: ``_kmeans_train`` builds
    the coarse quantizer over the full corpus (not a driver sample),
    inverted lists are the exact integer-L2 assignment, probes rank
    clusters by the same exact metric (so routing matches the k-means
    objective — no cosine/normalization mismatch), and candidates get
    the shared exact-cosine rescore. Integer routing keeps every
    routing decision bit-identical cross-engine, so unlike the
    driver-sampled ``train_ivf_centroids`` path this trained form IS
    hash-exact against a composed oracle.

    Plan: quantize+persist once; assignment and probing are narrow
    maps over it (centroids = plan literals); the candidate join keys
    on the cluster id; vectors attach to candidates by id join for the
    rescore — ids and clusters shuffle, full vectors only for
    candidates.
    """
    q, cents = _kmeans_shared(corpus, id_col, vec_col, scale, km_k, iters)
    assign = q.select(
        F.col("_id").alias(id_col),
        _kmeans_best("_q", cents)["c"].alias("_cluster"),
    )
    qq = queries.select(
        F.col(id_col).alias("query_id"),
        _kmeans_quantize(vec_col, scale).alias("_q"),
    )
    probes = qq.select(
        "query_id", F.explode(_kmeans_probes("_q", cents, nprobe)).alias("_cluster")
    )
    cand = (
        probes.join(assign, on="_cluster")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col)
        .distinct()
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    withv = cand.join(corpus.select(id_col, vec_col), id_col).join(
        F.broadcast(qv), "query_id"
    )
    return _rescore_topk(withv, k, id_col, vec_col, "query_id")
