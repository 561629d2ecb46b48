"""The BM25 kernel both stacks serve through: scoring, candidate
scoring, rank, the max-score θ / essential-term split and the
block-max survival rule, each written once.

Both stacks start from one postings step, :func:`postings_state`:
one tokenize pass per corpus per session, memoized as
(postings, sum_dl, n_docs). From it they derive the state this
kernel reads:

- the in-session rungs (operators/pipeline.py: exact, RM3, champion,
  max-score, block-max) serve it directly — exact bounds (max tf-part
  over the real postings) and the two-phase salted champion cut by
  rounded tf-part;
- the persisted index (operators/retrieval.py) writes it as one
  commit of monoid partials, merged at serve time — (max_tf, min_dl)
  bounds, tf-ordered champions, tombstone corrections.

Both hand the kernel frames over the index's column names: postings
``(doc, t, dl, tf)``, query terms ``(_qid, t)``, a df table
``(t, _df)``, candidates ``(_qid, doc)``, and the scalars ``n_docs``
(every document, zero-token ones included) and ``avgdl``.

Scoring is the Lucene/Okapi form
``Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`` with
``idf = ln(1 + (N−df+0.5)/(df+0.5))``. Every input is an exact
integer (tf, df, N, dl), so the float expression is a pure function
that Spark and the DuckDB oracles evaluate identically; the additive
constants enter as single literals, never re-derived as constant
sums, to dodge round-to-even midpoints. Ranks order by the score
rounded to 6 decimals, descending, then by doc id.

Exactness of the pruned serves (max-score and block-max). Both
stacks run the same three phases over their own bounds:

1. SEED. Champion candidates are scored exactly; θ is the k-th
   largest ``floor(score·1e6+0.5)`` among a query's seeds, a lower
   bound on the final k-th score on the micro grid. A query with
   fewer than k seeds has no θ and prunes nothing.
2. TERM SPLIT (max-score). Each query term gets an admissible upper
   bound ``ub = floor(idf·x·1e6)+1`` micro-units, where x dominates
   the term's tf-part in every posting (the +1 makes it admissible
   despite the floor). Per query, terms sorted by ascending ub
   accumulate; the maximal prefix whose cumulative ub stays below θ
   is non-essential. A doc matching only those terms satisfies
   ``s·1e6 ≤ Σ_noness ub ≤ θ−1``, so its rounded score is strictly
   below the k-th seed's and it cannot displace anything, not even
   through a doc-id tie-break.
3. BLOCK SURVIVAL (block-max). Postings of an essential term t fall
   into doc-id blocks ``doc div block_size`` with a local bound
   ``bub``. A block survives iff ``total_ub(q) − ub(t) + bub ≥ θ``.
   A pruned block containing doc d certifies
   ``score(d)·1e6 ≤ bub + Σ_{t'≠t} ub(t') < θ``: its own-term
   contribution is below the block bound, every other matched term is
   below its global bound, and all bounds are non-negative. So d is
   missing from the candidates only if every one of its appearances
   certifies it under θ.

Candidates (postings of essential terms, or of surviving blocks, plus
the seeds) are scored exactly, and the seeds keep at least k docs at
or above θ — the ranked top-k is identical to the exact serve's. All
bound arithmetic is integer micro-units (order-independent sums).
Looser bounds (the index's (max_tf, min_dl), which need not co-occur
in one doc) prune less, never wrongly.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from cmsspark_spark.functions.text import doc_term_postings
from cmsspark_spark.operators.memo import SessionMemo, composite_key, pin_frame

#: Okapi scoring constants; the derived sums are literals (see the
#: module docstring on float parity with the oracles).
K1, B, K1_PLUS_1, ONE_MINUS_B = 1.2, 0.75, 2.2, 0.25

#: Auto-guard ceiling for broadcasting a candidate id set
#: (``broadcast_candidates=None``): 2M (query, doc) id pairs ≈ tens of
#: MB serialized — comfortably broadcastable; beyond it the
#: candidate-scoring join falls back to a hash join.
_BROADCAST_CAND_MAX = 2_000_000


def _spread_small_scan(df: DataFrame) -> DataFrame:
    """Round out scan parallelism for CPU-heavy narrow maps
    (tokenize → explode): a corpus that arrives in fewer scan splits
    than the cluster has slots runs its per-row work serially on
    those few tasks (the classic one-small-file shape — guide §2.5
    'input skew'). When the plan has fewer partitions than
    ``defaultParallelism``, repartition up to it BEFORE the heavy map
    so the explode/aggregate runs on every core; at scale the scan
    already has more splits than slots and this is a no-op (no
    shuffle is added), so the fix is scale-adaptive, not a local
    tuning constant."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


#: Session memo for the (postings, sum_dl, n_docs) triple both stacks
#: start from: the in-session rungs (exact, champion, max-score,
#: block-max, RM3, hard negatives) and the persisted index's append
#: tokenize the SAME corpus — without sharing, each pays the full
#: postings kernel pass plus the two scalar driver jobs. The memoized
#: postings frame is pinned (pin_frame: (doc, t, dl, tf)
#: ids-and-tokens rows, no raw text), so clearCache() between queries
#: does not drop it; the postings and the scalars sit under their own
#: tagged keys; fresh-data keys per operators/memo.py, unsafe keys
#: fall back to a persist per call.
_POSTINGS_MEMO = SessionMemo("bm25_postings")


def postings_state(
    docs: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, int, int]:
    """(postings, sum_dl, n_docs) for the corpus — built once per
    session per (plan, files) and shared by every BM25 rung and by
    the index append: the pinned postings frame, over the kernel's
    (doc, t, dl, tf) column names, and the two scalars under their own
    keys. ``n_docs`` counts every row of ``docs``, zero-token ones
    included. An unmemoizable ``docs`` gets a persisted (``is_cached``)
    postings frame instead, which the caller may unpersist when done."""
    spark = docs.sparkSession
    key = _POSTINGS_MEMO.key_for(docs, id_col, text_col)
    post = _POSTINGS_MEMO.get_or(
        spark,
        composite_key("post", key),
        lambda: doc_term_postings(
            _spread_small_scan(docs.select(id_col, text_col)),
            id_col, text_col, cols=("doc", "t", "dl", "tf"),
        ),
        pin=True,
    )
    if key is None:
        # unmemoized and unpinned: persist, so the stats actions and
        # every later consumer share one tokenize pass
        from pyspark import StorageLevel

        post = post.persist(StorageLevel.MEMORY_AND_DISK)

    def stats() -> tuple[int, int]:
        # every token adds one to exactly one posting's tf, so Σ tf is
        # Σ dl over the docs: one global sum, no per-doc shuffle
        sum_dl = post.select(F.sum("tf")).first()[0] or 0
        return sum_dl, docs.count()

    sum_dl, n_docs = _POSTINGS_MEMO.get_or(
        spark, composite_key("stats", key), stats
    )
    return post, sum_dl, n_docs


def idf(n_docs: int) -> Column:
    """BM25 idf of the ``_df`` column over a corpus of ``n_docs``."""
    return F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("_df") + F.lit(0.5))
        / (F.col("_df") + F.lit(0.5))
    )


def tf_part(tf: str, dl: str, avgdl: float) -> Column:
    """The tf factor of one posting's contribution, over the named tf
    and dl columns; increasing in tf and decreasing in dl, so
    evaluating it at dominating (tf, dl) gives an upper bound."""
    tf, dl = F.col(tf), F.col(dl)
    return (tf * F.lit(K1_PLUS_1)) / (
        tf + F.lit(K1) * (F.lit(ONE_MINUS_B) + F.lit(B) * dl / F.lit(avgdl))
    )


def contribution(n_docs: int, avgdl: float) -> Column:
    """One posting's BM25 contribution, ``idf · tf_part``."""
    return idf(n_docs) * tf_part("tf", "dl", avgdl)


def micro_ub(x: Column) -> Column:
    """Admissible integer micro-unit bound ``floor(x·1e6)+1`` > x·1e6."""
    return (F.floor(x * F.lit(1000000.0)) + F.lit(1)).cast("long")


def block_id(block_size: int) -> Column:
    """Doc-id block of a posting (non-negative ids: both engines floor)."""
    return F.expr(f"doc div {int(block_size)}")


def query_docs(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """(_qid, doc) pairs of ``left ⋈ right``, a query's own doc excluded."""
    return (
        left.join(right, on)
        .filter(F.col("doc") != F.col("_qid"))
        .select("_qid", "doc")
    )


def score_query_terms(
    post: DataFrame,
    qterms: DataFrame,
    df_tab: DataFrame,
    n_docs: int,
    avgdl: float,
    weight: str | None = None,
) -> DataFrame:
    """Exact (_qid, doc, _score) over every posting of every query
    term, in one postings pass: query terms and the df table are small
    and broadcast, the only exchange is the (query, doc) aggregation.
    ``weight`` names an integer per-(query, term) column of ``qterms``
    that multiplies each contribution (RM3's weighted query)."""
    score = contribution(n_docs, avgdl)
    if weight is not None:
        score = F.col(weight).cast("double") * score
    return (
        post.join(F.broadcast(qterms), "t")
        .filter(F.col("doc") != F.col("_qid"))
        .join(F.broadcast(df_tab), "t")
        .groupBy("_qid", "doc")
        .agg(F.sum(score).alias("_score"))
    )


def score_candidates(
    post: DataFrame,
    cand: DataFrame,
    qterms: DataFrame,
    df_tab: DataFrame,
    n_docs: int,
    avgdl: float,
    broadcast_candidates: bool | None = True,
) -> DataFrame:
    """Exact (_qid, doc, _score) of a (_qid, doc) candidate set over
    all of each candidate's matched query terms.

    ``broadcast_candidates`` is the escape hatch for the candidate
    join: when θ is weak (few or low-quality seeds, every query term
    essential) the candidate set approaches corpus scale and a pinned
    broadcast would OOM the driver. ``True`` (the default — right
    whenever pruning works at all) pins the broadcast; ``False`` uses
    a plain hash join (postings shuffle once); ``None`` checkpoints
    the candidates, counts them and broadcasts only under
    ``_BROADCAST_CAND_MAX`` rows."""
    bcast = broadcast_candidates
    if bcast is None:
        cand = pin_frame(cand)
        bcast = cand.count() <= _BROADCAST_CAND_MAX
    if bcast:
        cand = F.broadcast(cand)
    return (
        post.join(cand, "doc")
        .join(F.broadcast(qterms), ["_qid", "t"], "left_semi")
        .join(F.broadcast(df_tab), "t")
        .groupBy("_qid", "doc")
        .agg(F.sum(contribution(n_docs, avgdl)).alias("_score"))
    )


def top_k(scored: DataFrame, k: int) -> DataFrame:
    """The per-query top-``k`` rows of a (_qid, doc, _score) frame with
    their ``rank``: rounded score descending, doc id ascending."""
    w = Window.partitionBy("_qid").orderBy(
        F.round("_score", 6).desc(), F.col("doc")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= int(k))


def ranked(
    scored: DataFrame,
    k: int,
    id_col: str = "doc_id",
    score_col: str = "bm25",
) -> DataFrame:
    """The serve output contract (query_id, id_col, score_col, rank)."""
    return top_k(scored, k).select(
        F.col("_qid").alias("query_id"),
        F.col("doc").alias(id_col),
        F.round("_score", 6).alias(score_col),
        "rank",
    )


def theta(seed_scores: DataFrame, k: int) -> DataFrame:
    """(_qid, _theta): the k-th best seed score on the micro grid."""
    w = Window.partitionBy("_qid").orderBy(
        F.col("_smicro").desc(), F.col("doc")
    )
    return (
        seed_scores.withColumn(
            "_smicro",
            F.floor(F.col("_score") * F.lit(1000000.0) + F.lit(0.5)).cast(
                "long"
            ),
        )
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == int(k))
        .select("_qid", F.col("_smicro").alias("_theta"))
    )


def essential_split(
    qterms: DataFrame, bounds: DataFrame, thetas: DataFrame
) -> DataFrame:
    """Query terms flagged ``_essential``: the ascending-``_ub``
    running sum per query stays below θ on the non-essential prefix.
    ``bounds`` is a small per-term (t, _ub, ...) frame; its other
    columns ride along. No θ row ⇒ every term essential."""
    w_cum = (
        Window.partitionBy("_qid")
        .orderBy(F.col("_ub").asc(), F.col("t").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        qterms.join(F.broadcast(bounds), "t")
        .join(F.broadcast(thetas), "_qid", "left")
        .withColumn("_cum", F.sum("_ub").over(w_cum))
        .withColumn(
            "_essential",
            F.col("_theta").isNull() | (F.col("_cum") >= F.col("_theta")),
        )
    )


def essential_candidates(post: DataFrame, flagged: DataFrame) -> DataFrame:
    """(_qid, doc) from every posting of a query's essential terms."""
    return query_docs(
        post,
        F.broadcast(flagged.filter(F.col("_essential")).select("_qid", "t")),
        "t",
    )


def block_survival(flagged: DataFrame, block_bounds: DataFrame) -> DataFrame:
    """Every (essential term, block) of a query with ``_survives``:
    ``total_ub − ub(t) + bub(t, blk) ≥ θ`` (no θ ⇒ survive).
    ``block_bounds`` is (t, blk, _bub, ...); its other columns ride
    along."""
    totals = flagged.groupBy("_qid").agg(F.sum("_ub").alias("_total_ub"))
    ess = (
        flagged.filter(F.col("_essential"))
        .select("_qid", "t", "_ub", "_theta")
        .join(F.broadcast(totals), "_qid")
    )
    return ess.join(block_bounds, "t").withColumn(
        "_survives",
        F.col("_theta").isNull()
        | (
            F.col("_total_ub") - F.col("_ub") + F.col("_bub")
            >= F.col("_theta")
        ),
    )


def block_candidates(
    post: DataFrame, blocks: DataFrame, block_size: int
) -> DataFrame:
    """(_qid, doc) from the postings of surviving blocks."""
    return query_docs(
        post.withColumn("blk", block_id(block_size)),
        F.broadcast(
            blocks.filter(F.col("_survives")).select("_qid", "t", "blk")
        ),
        ["t", "blk"],
    )
