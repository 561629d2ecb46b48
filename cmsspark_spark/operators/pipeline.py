"""Training-data pipeline operators (beyond-reference, SURVEY §7.2 M8).

The ops a large-scale LLM pre-training data pipeline runs between "raw
corpus" and "token stream": benchmark decontamination, sequence packing,
stratified sampling, and data-mixture weighting. All hot paths are pure
Catalyst expressions / window math; the one genuinely stateful op
(greedy bin packing) is an Arrow ``applyInPandas`` with a documented
per-partition contract.

Scale notes (100 TB shapes):

- Decontamination joins the corpus' exploded n-grams against the
  benchmark's — the benchmark side is small by construction (eval sets)
  and broadcast; the corpus side never shuffles. With a huge benchmark,
  swap the broadcast for a bloom-filter pre-pass + shuffle join on the
  survivors.
- Concat-packing is one window cumsum over doc ordering + a bounded
  per-row sequence explode: no driver state, no iteration.
- Greedy packing is per-partition-local by design (bins never span
  partitions) — the trade every distributed packer makes; partition by
  shard/source to control fragment count.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from cmsspark_spark.functions.text import raw_ngrams, tokens
from cmsspark_spark.operators import bm25
from cmsspark_spark.operators.memo import SessionMemo as _SessionMemo
from cmsspark_spark.operators.memo import composite_key, pin_frame
from cmsspark_spark.session import local_frame


def ngram_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: per document, how many of its distinct
    word n-grams appear anywhere in ``benchmark`` (the eval set being
    protected). Returns (id, n_grams, n_hit, hit_ratio) for every doc
    with ≥1 distinct n-gram; downstream filters on hit_ratio.

    Join discipline: the benchmark's distinct n-grams are broadcast
    (eval sets are tiny next to the corpus); the corpus side explodes
    its distinct grams ONCE and left-joins the broadcast per gram, so
    total and hit counts come out of a single aggregation — the corpus
    is scanned once and never shuffled beyond the per-doc re-agg.
    """
    from cmsspark_spark.functions.text import shingle_frame

    # distinct n-gram arrays come from the Arrow kernel (r14, §4.2);
    # the benchmark side needs only its distinct grams, so it carries
    # a constant id and needs no id column of its own
    bench_grams = (
        shingle_frame(
            benchmark.select(F.lit(0).alias("_bid"), bench_text_col),
            "_bid", bench_text_col, n, ("_bid", "_arr"),
        )
        .select(F.explode("_arr").alias("_gram"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    doc_grams = shingle_frame(
        docs, id_col, text_col, n, (id_col, "_arr")
    ).select(F.col(id_col), F.explode("_arr").alias("_gram"))
    return (
        doc_grams.join(F.broadcast(bench_grams), on="_gram", how="left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_hit").alias("n_hit"),
        )
        .withColumn(
            "hit_ratio",
            F.col("n_hit") / F.greatest(F.col("n_grams"), F.lit(1)),
        )
    )


def ngram_overlap_attribution(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str | None = None,
    bench_text_col: str = "text",
) -> DataFrame:
    """Contamination ATTRIBUTION: for every corpus document sharing at
    least one distinct word n-gram with the protected eval set, WHICH
    benchmark document it leaks from — (id, top_bench_id, n_shared,
    n_bench_docs_hit). ``ngram_overlap`` answers "how contaminated";
    this answers "by what", the report a pipeline owner needs to
    decide whether to drop the doc or retire the benchmark item.

    ``top_bench_id`` is the benchmark doc sharing the most distinct
    grams (ties → min bench id, deterministic under repartitioning);
    ``n_shared`` is that winning overlap size; ``n_bench_docs_hit``
    counts how many distinct benchmark docs were touched at all.

    Join discipline: distinct (bench_id, gram) pairs broadcast (eval
    sets are tiny); the corpus explodes its distinct grams once, the
    inner gram join emits only contaminated (doc, bench) id pairs, and
    two combiner-friendly aggregations — (doc, bench) counts, then the
    per-doc argmax — finish it. Text never shuffles.
    """
    from cmsspark_spark.functions.text import shingle_frame

    bench_id = bench_id_col or id_col
    bench_grams = (
        shingle_frame(
            benchmark, bench_id, bench_text_col, n, ("_bench_id", "_arr")
        )
        .select("_bench_id", F.explode("_arr").alias("_gram"))
        .distinct()
    )
    doc_grams = shingle_frame(
        docs, id_col, text_col, n, (id_col, "_arr")
    ).select(F.col(id_col), F.explode("_arr").alias("_gram"))
    pair_counts = (
        doc_grams.join(F.broadcast(bench_grams), on="_gram")
        .groupBy(id_col, "_bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    # argmax bench per doc: min(struct(-count, id)) — ids only need to
    # be orderable (same election form as dedup.near_dup_losers)
    return pair_counts.groupBy(id_col).agg(
        F.min(
            F.struct(
                (-F.col("n_shared")).alias("_k"),
                F.col("_bench_id").alias("_id"),
            )
        )["_id"].alias("top_bench_id"),
        F.max("n_shared").alias("n_shared"),
        F.count(F.lit(1)).cast("long").alias("n_bench_docs_hit"),
    )


def inverted_index_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_postings: int = 64,
) -> DataFrame:
    """Distributed inverted-index build: (token, df, postings) where
    ``df`` is the token's full document frequency and ``postings`` is
    the comma-joined sorted list of the first ``max_postings`` doc ids
    containing it — the corpus-search/debug sidecar a dedup or
    decontamination investigation reaches for ("which docs contain
    this leaked phrase?") without rescanning 100 TB of text.

    Posting lists are CAPPED deterministically (smallest ids win) so a
    stop-word's row stays bounded; ``df`` still reports the true
    frequency, so consumers know the list is a prefix. The cap is the
    no-silent-truncation contract: df > max_postings ⇒ prefix.

    One shuffle total: per-doc DISTINCT tokens explode (narrow), then
    a single hash partition by token computes rank and full count in
    the same window pass, the cap filter drops the tail, and the
    posting fold groups on the SAME key — Catalyst reuses the window's
    partitioning, so no second exchange. Ids-and-tokens only; text
    never shuffles.
    """
    tok = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(text_col))).alias("token"),
    )
    w = Window.partitionBy("token")
    ranked = tok.select(
        "token",
        F.col(id_col),
        F.row_number().over(w.orderBy(id_col)).alias("_rn"),
        F.count(F.lit(1)).over(w).alias("_df"),
    ).filter(F.col("_rn") <= int(max_postings))
    return ranked.groupBy("token").agg(
        F.first("_df").cast("long").alias("df"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(id_col)),
                lambda x: x.cast("string"),
            ),
        ).alias("postings"),
    )


def bm25_more_like_this(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_max_id: int = 5,
    k: int = 10,
) -> DataFrame:
    """Exact BM25 ranked retrieval (the Lucene/Okapi form, scored by
    the shared kernel in :mod:`cmsspark_spark.operators.bm25`), run as
    more-like-this: every doc with id < ``query_max_id`` is a query
    whose terms retrieve the corpus' top-``k`` best-matching other
    docs — the classic IR scoring rung over the inverted-index family.

    Plan shape: one (doc, term) postings build (pinned — reused for
    the query-term df count and the scoring pass); query terms and
    their df table are tiny and broadcast, so the corpus-side join is
    narrow; the only other exchange is the (query, doc) score
    aggregation. The corpus is tokenized exactly ONCE: the scalar
    stats come from the pinned postings (``sum_dl`` — a zero-token doc
    has no postings row but also contributes 0 to the sum) plus a
    column-pruned count-star on the raw input for N (parquet row-group
    metadata, never reads text — N must include zero-token docs to
    match the classic idf). At true scale the correctness-identical
    pruning path is max-score/block-max (:func:`bm25_maxscore_parts`)
    — here every matching posting is scored, which IS the exact
    semantics the oracle checks.

    Downstream compositions — the champion recall report,
    hard-negative mining — share the postings STATE via
    ``bm25.postings_state``; the ranking itself recomputes on every call
    (the r12-era ranked-OUTPUT memo was result caching and is retired
    — VERDICT r13 item 1).
    """
    post, n_docs, avgdl, qterms = _query_view(
        docs, id_col, text_col, query_max_id
    )
    scored = bm25.score_query_terms(
        post, qterms, _df_tab(_term_posts(post, qterms)), n_docs, avgdl
    )
    return bm25.ranked(scored, k, id_col)


def _query_view(
    docs: DataFrame, id_col: str, text_col: str, query_max_id: int
) -> tuple[DataFrame, int, float, DataFrame]:
    """(postings, n_docs, avgdl, query terms) — the in-session state
    every rung starts from; docs with id < ``query_max_id`` query."""
    post, sum_dl, n_docs = bm25.postings_state(docs, id_col, text_col)
    qterms = post.filter(F.col("doc") < query_max_id).select(
        F.col("doc").alias("_qid"), "t"
    )
    return post, n_docs, sum_dl / n_docs, qterms


def _term_posts(post: DataFrame, terms: DataFrame) -> DataFrame:
    """The postings of the terms of ``terms`` (broadcast; the semi-join
    ignores duplicate terms, so none are removed first)."""
    return post.join(F.broadcast(terms.select("t")), "t", "left_semi")


def _df_tab(term_posts: DataFrame) -> DataFrame:
    """(t, _df): document frequency of each term in ``term_posts``."""
    return term_posts.groupBy("t").agg(F.count(F.lit(1)).alias("_df"))


def bm25_rm3_more_like_this(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_max_id: int = 5,
    k: int = 10,
    fb_k: int = 5,
    fb_terms: int = 5,
    w_orig: int = 7,
    w_exp: int = 3,
) -> DataFrame:
    """PSEUDO-RELEVANCE-FEEDBACK query expansion (the RM3 shape,
    Lavrenko & Croft relevance models as popularized in Anserini/
    Indri): round 1 retrieves each query's top-``fb_k`` docs by exact
    BM25; the feedback docs' term frequencies elect ``fb_terms``
    EXPANSION terms (highest Σtf over the feedback set, query's own
    terms excluded, ties by term); round 2 rescores the corpus with a
    WEIGHTED query — original terms at integer weight ``w_orig``,
    expansion terms at ``w_exp`` — and returns the re-ranked
    top-``k``. This is the deterministic integer-grid variant of
    RM3's interpolation (λ·P_orig + (1−λ)·P_fb): the weights enter
    the score as exact integers, so the oracle can state the whole
    two-round computation in SQL and the parity is bit-for-bit under
    the same %.6f rounding as the exact rung.

    Plan shape: ONE (doc, term) postings build (pinned) feeds both
    rounds — round 1's scoring pass, the feedback tf aggregation
    (cost ∝ fb docs' postings), and round 2's scoring pass; query
    terms, feedback doc ids, expansion terms, and both df tables are
    k-row frames and broadcast. At 100 TB the persisted-index family
    serves round 1 and the expansion only touches fb_k·|queries| doc
    postings — expansion cost never scales with the corpus.

    Both rounds recompute on every call from the shared postings
    STATE (``bm25.postings_state``); the ranked output is not memoized
    (VERDICT r13 item 1)."""
    post, n_docs, avgdl, qterms = _query_view(
        docs, id_col, text_col, query_max_id
    )
    # ROUND 1: exact BM25, top-fb_k per query
    r1 = bm25.score_query_terms(
        post, qterms, _df_tab(_term_posts(post, qterms)), n_docs, avgdl
    )
    fb = bm25.top_k(r1, fb_k).select("_qid", "doc")

    # EXPANSION: feedback docs' term mass, query terms excluded,
    # top fb_terms per query (ties by term) — all-integer election
    wexp = Window.partitionBy("_qid").orderBy(
        F.col("_w").desc(), F.col("t")
    )
    exp_terms = (
        post.join(F.broadcast(fb), "doc")
        .groupBy("_qid", "t")
        .agg(F.sum("tf").alias("_w"))
        .join(F.broadcast(qterms), ["_qid", "t"], "left_anti")
        .withColumn("_r", F.row_number().over(wexp))
        .filter(F.col("_r") <= int(fb_terms))
        .select("_qid", "t")
    )

    # WEIGHTED QUERY: original terms at w_orig, expansion at w_exp
    wq = qterms.withColumn("_qw", F.lit(int(w_orig))).unionByName(
        exp_terms.withColumn("_qw", F.lit(int(w_exp)))
    )

    # ROUND 2: weighted rescore, same scoring algebra
    r2 = bm25.score_query_terms(
        post, wq, _df_tab(_term_posts(post, wq)), n_docs, avgdl,
        weight="_qw",
    )
    return bm25.ranked(r2, k, id_col, "rm3")


def cluster_split_assign(
    docs: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    boundaries: dict[str, int] | None = None,
) -> DataFrame:
    """LEAKAGE-FIXING split assignment: every document inherits the
    split of its near-dup cluster's REPRESENTATIVE (the component
    label — the min-id member), so a near-duplicate pair can never
    straddle train/eval. The constructive complement of
    split_leakage_audit: the audit DETECTS cross-split near-dups that
    a per-doc content hash cannot prevent (near-dups hash
    differently); this operator removes them by construction —
    cluster-consistent splitting is the standard fix (same move as
    URL/domain-keyed splits, but at the verified-near-dup grain).

    ``components`` is any (node, component) frame —
    ``dedup.connected_components`` over LSH-verified pairs.
    Unclustered docs keep their own content-hash split, so the split
    stays stable under re-sharding AND under incremental appends that
    don't touch a cluster.

    Plan shape: the component frame is small by construction (only
    docs with a verified near-dup) and BROADCASTS twice — once to
    fetch each representative's split label (ids + labels only), once
    onto the corpus-grain assignment; the corpus side is one narrow
    hash map, never shuffled. Returns one row per doc:
    (id, split, clustered, moved) where ``moved`` marks docs whose
    cluster split differs from their own-content split."""
    from cmsspark_spark.functions.text import hash_split

    bounds = boundaries or {"train": 80, "val": 90, "test": 100}
    sp = docs.select(
        F.col(id_col), hash_split(text_col, bounds).alias("_own")
    )
    # representative's split: broadcast the (tiny) label set onto the
    # corpus-grain split frame, then attach to every cluster member
    rep_split = sp.join(
        F.broadcast(
            components.select(
                F.col("component").alias(id_col)
            ).distinct()
        ),
        id_col,
        "left_semi",
    ).select(
        F.col(id_col).alias("component"), F.col("_own").alias("_rep_split")
    )
    rep = components.join(F.broadcast(rep_split), "component").select(
        F.col("node").alias(id_col), "_rep_split"
    )
    return (
        sp.join(F.broadcast(rep), id_col, "left")
        .select(
            id_col,
            F.coalesce("_rep_split", "_own").alias("split"),
            F.col("_rep_split").isNotNull().alias("clustered"),
            (
                F.col("_rep_split").isNotNull()
                & (F.col("_rep_split") != F.col("_own"))
            ).alias("moved"),
        )
    )


def bm25_champion_topk(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_max_id: int = 5,
    k: int = 10,
    champions: int = 16,
) -> DataFrame:
    """BM25 with CHAMPION-LIST candidate pruning — the at-scale sibling
    of :func:`bm25_more_like_this` (the max-score/WAND family member
    that maps naturally onto a batch engine; classic champion lists:
    Manning/Raghavan/Schütze IIR §7.1.3). Scoring every posting of
    every query term is exact but costs Σ df(t) — at 100 TB a common
    term's posting list alone is corpus-sized. Champion lists bound
    it: per query term keep only the top-``champions`` docs by the
    term's tf-part (its actual per-doc BM25 contribution modulo idf),
    union them into the candidate set, then score candidates EXACTLY
    over all their matched query terms. Per-query cost becomes
    O(|terms| · champions) candidates regardless of document
    frequency — the index-time half of max-score pruning, trading
    bounded recall (a doc outside every champion list is missed; with
    c ≥ k per term the top-k is usually intact — standard IR result)
    for a hard cost ceiling.

    Deterministic end-to-end (tf-part ranked on the round-6 grid with
    doc-id ties, exact scoring = the shared BM25 kernel), so unlike
    most pruned retrieval this variant is hash-exact against a
    composed DuckDB oracle. Plan shape: postings pinned once; the
    champion cut (:func:`_champion_seeds`) runs over query-term
    postings (query terms broadcast); candidate scoring joins the
    candidates (ids only, a pinned broadcast — O(queries · terms ·
    champions) by construction) back to postings — text never
    shuffles.

    The recall report shares this rung's postings STATE
    (``bm25.postings_state``); the champion cut and ranking recompute on
    every call (ranked-output memoization retired — VERDICT r13
    item 1).
    """
    post, n_docs, avgdl, qterms = _query_view(
        docs, id_col, text_col, query_max_id
    )
    term_posts = _term_posts(post, qterms)
    seed = _champion_seeds(qterms, term_posts, avgdl, champions)
    scored = bm25.score_candidates(
        post, seed, qterms, _df_tab(term_posts), n_docs, avgdl
    )
    return bm25.ranked(scored, k, id_col)


def _champion_seeds(
    qterms: DataFrame, term_posts: DataFrame, avgdl: float, c: int
) -> DataFrame:
    """(_qid, doc) seeds: each query's docs among the top-``c`` of any
    of its terms by rounded tf-part (idf is constant within a term,
    so tf-part order IS contribution order; doc id breaks ties).

    The cut is TWO-PHASE on purpose: a single
    ``Window.partitionBy(term)`` top-c would sort a stop-word term's
    ENTIRE postings list in one task at corpus scale. Phase 1 takes
    the per-(term, salt) top-c over 32 doc-hash salts (each task
    sorts ≤ 1/32 of the hottest term), phase 2 merges the ≤ 32·c
    survivors per term — the same comparator in both phases, so the
    selected champions are IDENTICAL to the single-window form."""
    order = [
        F.round(bm25.tf_part("tf", "dl", avgdl), 6).desc(), F.col("doc")
    ]
    partial = (
        term_posts.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("doc")), F.lit(32))
        )
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("t", "_salt").orderBy(*order)
            ),
        )
        .filter(F.col("_rk") <= int(c))
        .drop("_rk", "_salt")
    )
    champ = (
        partial.withColumn(
            "_rk", F.row_number().over(Window.partitionBy("t").orderBy(*order))
        )
        .filter(F.col("_rk") <= int(c))
        .select("t", "doc")
    )
    return bm25.query_docs(qterms, champ, "t").distinct()


def _bm25_prune_state(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_max_id: int,
    k: int,
    c: int,
) -> dict:
    """Shared state of the PRUNED exact-retrieval rungs (max-score and
    block-max), frames and scalars only: pinned postings, n_docs and
    avgdl, query terms and their postings, per-term (df, max tf-part,
    micro-grid bound ``_ub``), champion seeds, the seed threshold θ,
    and the essential/non-essential term split. The bounds are EXACT
    (max tf-part over the real postings); the kernel phases and the
    exactness argument are in :mod:`cmsspark_spark.operators.bm25`."""
    post, n_docs, avgdl, qterms = _query_view(
        docs, id_col, text_col, query_max_id
    )
    term_posts = _term_posts(post, qterms)
    # one aggregate yields the df table AND each term's max tf-part
    tstats = (
        term_posts.groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("_df"),
            F.max(bm25.tf_part("tf", "dl", avgdl)).alias("_maxtf"),
        )
        .withColumn("_ub", bm25.micro_ub(bm25.idf(n_docs) * F.col("_maxtf")))
    )
    df_tab = tstats.select("t", "_df")
    # seed/theta/flagged are per-query-sized (champions × queries,
    # ≤1 θ row per query, terms per query) but sit under EVERY
    # downstream output of every pruned rung — without a checkpoint
    # each action re-runs the champion windows and the seed-scoring
    # join from scratch (measured: ~2s per re-derivation at sf0.1,
    # paid 3-4× per rung build). Lazy checkpoints (pin_frame)
    # materialize each chain once and replay ids-only frames after.
    seed_raw = _champion_seeds(qterms, term_posts, avgdl, c)
    seed = pin_frame(seed_raw, eager=False)
    theta = pin_frame(
        bm25.theta(
            bm25.score_candidates(post, seed, qterms, df_tab, n_docs, avgdl),
            k,
        ),
        eager=False,
    )
    flagged = pin_frame(
        bm25.essential_split(qterms, tstats.select("t", "_df", "_ub"), theta),
        eager=False,
    )
    return {
        "post": post,
        "n_docs": n_docs,
        "avgdl": avgdl,
        "qterms": qterms,
        "term_posts": term_posts,
        "tstats": tstats,
        "df_tab": df_tab,
        "seed": seed,
        # un-checkpointed twin: the checkpoint above truncates the
        # champion-window lineage out of downstream plans, so the
        # two-phase-seeding plan contract is asserted on this one
        "seed_plan": seed_raw,
        "theta": theta,
        "flagged": flagged,
    }


#: Session memo for the pruned rungs' SHARED STATE dict
#: (:func:`_bm25_prune_state`: champion seeds, θ, per-term bounds,
#: essential split — lazily-checkpointed query-grain frames). This is
#: deliberately STATE-grain (VERDICT r13 item 1): the r12-era
#: ``_BM25_PRUNED_MEMO`` memoized each rung's (ranked, report) OUTPUT
#: pair, so a benched report twin replayed a checkpointed dict entry
#: instead of computing anything — result caching, retired this
#: round. Every rung's serve now recomputes its candidate set, exact
#: scoring and rank from the shared state on each call.
_PRUNE_STATE_MEMO = _SessionMemo("bm25_prune_state")


def _bm25_prune_state_shared(
    docs, id_col, text_col, query_max_id, k, c
) -> dict:
    """Memoized :func:`_bm25_prune_state`: max-score and block-max
    (ranked + report twins — four registry queries with identical
    bound params, whatever their ``broadcast_candidates``) share ONE
    seeds/θ/bounds build per session; each consumer recomputes its
    own candidates + ranking from it."""
    params = (id_col, text_col, query_max_id, k, c)
    return _PRUNE_STATE_MEMO.get_or(
        docs.sparkSession,
        _PRUNE_STATE_MEMO.key_for(docs, *params),
        lambda: _bm25_prune_state(docs, *params),
    )


def _rank_candidates(
    st: dict, cand: DataFrame, id_col: str, k: int, broadcast_candidates
) -> DataFrame:
    """Exact-score a pruned rung's candidates off its state and rank."""
    scored = bm25.score_candidates(
        st["post"], cand, st["qterms"], st["df_tab"], st["n_docs"],
        st["avgdl"], broadcast_candidates,
    )
    return bm25.ranked(scored, k, id_col)


def bm25_maxscore_parts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_max_id: int = 5,
    k: int = 10,
    seed_champions: int | None = None,
    broadcast_candidates: bool | None = True,
) -> tuple[DataFrame, DataFrame]:
    """EXACT top-k BM25 with MAX-SCORE pruning — the remaining member
    of the pruned-retrieval family the exact rung's docstring names
    (Turtle/Flood max-score; the index-ordered sibling of WAND):
    unlike champion lists (bounded recall), this provably returns the
    SAME top-k as :func:`bm25_more_like_this`, skipping posting lists
    that cannot change it.

    DEMONSTRATION PATH at small scale (same caveat as
    :func:`bm25_blockmax_parts`): the per-session prune-state build
    costs more than it saves below large-corpus postings volumes —
    production serving for maintained corpora is the persisted index
    (``retrieval.bm25_index_serve(mode="maxscore")``), which amortizes
    the bounds across appends.

    Batch formulation: champion seeds (top-``seed_champions`` per
    query term, default ``k``) scored exactly give θ; exact per-term
    bounds split each query's terms into essential and non-essential;
    docs matching ≥1 essential term, plus the seeds, are scored
    exactly and ranked. The phases and the exactness argument are
    written once, in :mod:`cmsspark_spark.operators.bm25`.

    Scale shape: postings pinned once; seed/θ/ub/essential tables are
    query-grain (tiny, broadcast). The corpus-side cost is Σ
    df(essential terms) — high-idf rare terms stay essential while
    common terms' corpus-sized lists are skipped, which is exactly
    the max-score economics; the report (second return value) audits
    it per query: n_terms, n_essential, postings_total,
    postings_scanned, n_candidates, pruned_frac (half-up on the
    integer micro grid — never a float-division round). Candidate
    ids broadcast per ``broadcast_candidates`` (see
    ``bm25.score_candidates``); a deployment with huge essential
    posting mass should raise ``seed_champions`` (a better θ prunes
    more). Returns ``(ranked, report)`` — ranked has the exact rung's
    schema (query_id, id_col, bm25, rank). The ranked registry query
    and its report sibling share ONE bounds build via
    ``_PRUNE_STATE_MEMO`` (state-grain); each recomputes its own
    candidates + scoring from it (VERDICT r13 item 1).
    """
    st = _bm25_prune_state_shared(
        docs, id_col, text_col, query_max_id, k, int(seed_champions or k)
    )
    from pyspark import StorageLevel

    flagged = st["flagged"]
    cand_all = (
        bm25.essential_candidates(st["term_posts"], flagged)
        .unionByName(st["seed"])
        .distinct()
        # consumed by both the exact-scoring rank and the report's
        # candidate count — persist (spill-graceful at corpus-scale
        # candidate sets) instead of recomputing the posting join
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ranked = _rank_candidates(st, cand_all, id_col, k, broadcast_candidates)
    n_cand = cand_all.groupBy("_qid").agg(
        F.countDistinct("doc").alias("n_candidates")
    )
    # half-up ratio on the integer micro grid, quotient-then-remainder
    # so nothing exceeds S*1e6 (no *2e6 blowup on huge posting masses)
    s6 = "(postings_total - postings_scanned) * 1000000"
    # divide by a DOUBLE, not 1000000.0 — Spark parses that literal
    # as DECIMAL and the whole column would come out decimal-typed
    frac = (
        f"(({s6}) div postings_total + (CASE WHEN "
        f"2 * (({s6}) % postings_total) >= postings_total "
        f"THEN 1 ELSE 0 END)) / CAST(1000000 AS DOUBLE)"
    )
    report = (
        flagged.groupBy("_qid")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(F.col("_essential").cast("long")).alias("n_essential"),
            F.sum("_df").alias("postings_total"),
            F.sum(
                F.when(F.col("_essential"), F.col("_df")).otherwise(F.lit(0))
            ).alias("postings_scanned"),
        )
        .join(n_cand, "_qid")
        .select(
            F.col("_qid").alias("query_id"),
            "n_terms",
            "n_essential",
            "postings_total",
            "postings_scanned",
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.expr(frac).alias("pruned_frac"),
        )
    )
    return ranked, report


def bm25_blockmax_parts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_max_id: int = 5,
    k: int = 10,
    seed_champions: int | None = None,
    block_size: int = 64,
    broadcast_candidates: bool | None = True,
    min_prune_docs: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """EXACT top-k BM25 with BLOCK-MAX pruning (Ding & Suel's
    block-max WAND, batch form) — the finest rung of the pruned
    family: max-score skips whole TERMS whose global bound can't
    reach θ; block-max additionally skips POSTING BLOCKS of the
    essential terms, using each (term, doc-id block) local maximum
    instead of the term's single global bound. Common terms whose few
    strong postings cluster in a few blocks contribute only those
    blocks' docs to the candidate set.

    DEMONSTRATION PATH at small scale: this in-session rung rebuilds
    the full prune state (bounds, seeds, block stats) per session, an
    overhead that only pays for itself on large corpora — at test SF
    it is the SLOWEST way to get the answer the exact rung already
    gives. The production serve for maintained corpora is the
    persisted index (``retrieval.bm25_index_serve(mode="blockmax")``),
    whose bounds are appended per commit and merged at read; default
    new pipelines to that. ``min_prune_docs`` makes the tradeoff
    explicit: when set and the corpus has fewer documents (N from the
    memoized postings stats, which the exact rung reuses), the ranked
    output is delegated to :func:`bm25_more_like_this` — identical
    top-k by the exactness argument — and the pruning report comes
    back EMPTY (no pruning ran).

    Batch formulation on top of :func:`_bm25_prune_state` (same seed
    θ, same integer micro-grid, same essential split): postings get a
    block id ``doc div block_size`` and per (term, block) the local
    bound ``bub = floor(idf·max tf-part(block)·1e6)+1``; the survival
    rule and the exactness argument are written once, in
    :mod:`cmsspark_spark.operators.bm25`.

    Returns ``(ranked, report)``; the report counts, per query, the
    block-grain economics on top of the term-grain ones: blocks_total
    / blocks_pruned over essential terms and postings_scanned at
    BLOCK grain (Σ block posting counts over surviving blocks —
    strictly ≤ max-score's Σ df(essential)). The ranked and report
    registry queries share one bounds build via ``_PRUNE_STATE_MEMO``
    (state-grain) and each recomputes its own candidates + scoring
    from it (VERDICT r13 item 1)."""
    if (
        min_prune_docs is not None
        and bm25.postings_state(docs, id_col, text_col)[2] < int(min_prune_docs)
    ):
        ranked = bm25_more_like_this(docs, id_col, text_col, query_max_id, k)
        empty_report = local_frame(
            docs.sparkSession,
            [],
            "query_id long, n_terms long, n_essential long, "
            "blocks_total long, blocks_pruned long, "
            "postings_total long, postings_scanned long, "
            "n_candidates long",
        )
        return ranked, empty_report
    st = _bm25_prune_state_shared(
        docs, id_col, text_col, query_max_id, k, int(seed_champions or k)
    )
    bs = int(block_size)
    flagged = st["flagged"]
    term_posts = st["term_posts"]
    # per-(term, block) posting count and local upper bound
    bstats = (
        term_posts.withColumn("blk", bm25.block_id(bs))
        .groupBy("t", "blk")
        .agg(
            F.count(F.lit(1)).alias("_bdf"),
            F.max(bm25.tf_part("tf", "dl", st["avgdl"])).alias("_bmaxtf"),
        )
        .join(F.broadcast(st["tstats"].select("t", "_df")), "t")
        .withColumn(
            "_bub",
            bm25.micro_ub(bm25.idf(st["n_docs"]) * F.col("_bmaxtf")),
        )
        .select("t", "blk", "_bdf", "_bub")
    )
    from pyspark import StorageLevel

    # (essential-term × block)-sized, consumed by the candidate join
    # AND the block report: checkpoint so the bstats aggregate runs
    # once
    blocks = pin_frame(bm25.block_survival(flagged, bstats), eager=False)
    cand_all = (
        bm25.block_candidates(term_posts, blocks, bs)
        .unionByName(st["seed"])
        .distinct()
        # consumed by the exact-scoring rank and the report's
        # candidate count — persist instead of re-joining postings
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ranked = _rank_candidates(st, cand_all, id_col, k, broadcast_candidates)
    n_cand = cand_all.groupBy("_qid").agg(
        F.countDistinct("doc").alias("n_candidates")
    )
    term_rep = flagged.groupBy("_qid").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum(F.col("_essential").cast("long")).alias("n_essential"),
        F.sum("_df").alias("postings_total"),
    )
    block_rep = blocks.groupBy("_qid").agg(
        F.count(F.lit(1)).alias("blocks_total"),
        F.sum(
            F.when(~F.col("_survives"), 1).otherwise(0)
        ).alias("blocks_pruned"),
        F.sum(
            F.when(F.col("_survives"), F.col("_bdf")).otherwise(F.lit(0))
        ).alias("postings_scanned"),
    )
    report = (
        term_rep.join(block_rep, "_qid")
        .join(n_cand, "_qid")
        .select(
            F.col("_qid").alias("query_id"),
            "n_terms",
            "n_essential",
            "blocks_total",
            "blocks_pruned",
            "postings_total",
            "postings_scanned",
            F.col("n_candidates").cast("long").alias("n_candidates"),
        )
    )
    return ranked, report


def concat_pack_chunks(
    docs: DataFrame,
    ctx_len: int,
    id_col: str = "doc_id",
    token_count_col: Column | None = None,
    order_col: str | None = None,
    partition_cols: list[str] | None = None,
    with_boundaries: bool = False,
    sep_tokens: int = 0,
    merges: list[tuple[str, str]] | None = None,
    text_col: str = "text",
    bpe_alphabet: str = "char",
) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in a
    deterministic order and slice the stream into fixed ``ctx_len``
    token windows; documents may span window boundaries. Returns one row
    per (chunk_id, doc) overlap:

    (partition cols..., chunk_id, id, doc_tokens, tokens_in_chunk)

    ``with_boundaries=True`` appends ``start_in_chunk`` — the doc's
    first-token offset WITHIN the chunk when the doc starts there
    (null for docs continuing from the previous chunk). Folding these
    per chunk yields the attention-reset boundary mask LLM training
    needs for packed sequences (block-diagonal attention: no token
    attends across a document start).

    Pure window math: a cumsum gives each doc its token offset; each doc
    overlaps chunks floor(start/ctx) .. floor((end-1)/ctx), a bounded
    row-local ``sequence`` explode. No driver state, no loops.

    **Scale default: pass ``partition_cols``** (shard/source) — the
    cumsum then partitions by shard and every stream packs in parallel
    (chunk_id is per-shard). With no partition cols the cumsum is one
    global total order, i.e. a single-partition sort — correct, and the
    right tool only when one global stream is genuinely required.

    ``sep_tokens`` models the per-document separator overhead a real
    trainer pays (an EOS/BOS between packed documents): each doc
    occupies ``doc_tokens + sep_tokens`` positions in the stream, its
    separator trailing it, and ``tokens_in_chunk`` counts the doc's
    occupancy INCLUDING its separator (chunk budgets fill with EOS
    exactly as on the real token stream). ``doc_tokens`` in the output
    stays the raw document length.

    ``merges`` switches length accounting to REAL-TOKENIZER units: the
    trained BPE merge list (``train_bpe_merges`` /
    ``bpe_merges_shared``) is applied to ``text_col`` and every budget
    (chunk assignment, occupancy, separators) is counted in BPE
    tokens instead of whitespace words — what the trainer actually
    packs (``bpe_alphabet`` must match the trainer's: ``char`` or the
    GPT-2-style ``byte``). Mutually exclusive with ``token_count_col``
    (which remains the fully general hook for any precomputed
    counter).
    """
    parts = list(partition_cols or [])
    sep = int(sep_tokens)
    if merges is not None:
        if token_count_col is not None:
            raise ValueError("pass merges OR token_count_col, not both")
        docs = apply_bpe(
            docs, merges, text_col=text_col, out_col="_bpe",
            alphabet=bpe_alphabet,
        )
        token_count_col = F.size("_bpe")
    tc = (
        token_count_col
        if token_count_col is not None
        else F.size(tokens("text"))
    ).alias("doc_tokens")
    order = order_col or id_col
    w = (
        Window.partitionBy(*parts).orderBy("_ord")
        if parts
        else Window.orderBy("_ord")
    )
    # Zero-token docs are dropped BEFORE the cumsum: they emit no
    # chunk rows, so they must not consume stream positions either —
    # with the filter after the window a dropped empty doc would still
    # pay its sep_tokens separator and shift every later doc's chunk
    # assignment by a phantom slot (r5 ADVICE).
    offs = (
        docs.select(*parts, F.col(id_col), tc, F.col(order).alias("_ord"))
        .filter(F.col("doc_tokens") > 0)
        .withColumn(
            "start_offset",
            F.coalesce(
                F.sum(F.col("doc_tokens") + sep).over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
        .withColumn(
            "_end", F.col("start_offset") + F.col("doc_tokens") + sep
        )
    )
    first = (F.col("start_offset") / ctx_len).cast("long")
    last = ((F.col("_end") - 1) / ctx_len).cast("long")
    out = offs.select(
        *parts,
        id_col,
        "doc_tokens",
        "start_offset",
        F.explode(F.sequence(first, last)).alias("chunk_id"),
    ).withColumn(
        "tokens_in_chunk",
        F.least(
            F.col("start_offset") + F.col("doc_tokens") + sep,
            (F.col("chunk_id") + 1) * ctx_len,
        )
        - F.greatest(F.col("start_offset"), F.col("chunk_id") * ctx_len),
    )
    if with_boundaries:
        out = out.withColumn(
            "start_in_chunk",
            F.when(
                F.col("start_offset") >= F.col("chunk_id") * ctx_len,
                F.col("start_offset") - F.col("chunk_id") * ctx_len,
            ).cast("long"),
        )
    return out.drop("start_offset")


def greedy_pack_bins(
    docs: DataFrame,
    capacity: int,
    id_col: str = "doc_id",
    token_count_col: Column | None = None,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Greedy next-fit bin packing: docs are packed whole (never split)
    into bins of ≤ ``capacity`` tokens. Within each partition group the
    docs are walked in ``id_col`` order; a doc that doesn't fit opens the
    next bin. Docs longer than ``capacity`` get a singleton bin with
    ``truncated=true``. Returns (partition cols..., id, doc_tokens,
    bin_id, truncated).

    Next-fit needs running *resettable* state (a window cumsum can't
    express "reset when the bin fills"), so this is the one packer
    stage that leaves Catalyst: an Arrow ``applyInPandas`` per
    partition group. Bins never span groups — partition by shard/source
    to bound group size and keep packing embarrassingly parallel.
    Deterministic: group walk order is a stable in-group sort on
    ``id_col``.
    """
    parts = partition_cols or []
    tc = (
        token_count_col if token_count_col is not None else F.size(tokens("text"))
    ).alias("doc_tokens")
    slim = docs.select(*parts, F.col(id_col), tc)
    cap = int(capacity)
    idc = str(id_col)
    # Output schema mirrors the input field types (a caller with an int
    # shard column or a string id must round-trip through Arrow cleanly);
    # only bin_id/truncated are ours.
    out_schema = StructType(
        [slim.schema[c] for c in parts]
        + [
            slim.schema[idc],
            slim.schema["doc_tokens"],
            StructField("bin_id", LongType()),
            StructField("truncated", BooleanType()),
        ]
    )

    out_cols = [*parts, idc, "doc_tokens", "bin_id", "truncated"]

    def _pack(pdf):
        # By-value closure: pandas only, no module globals.
        pdf = pdf.sort_values(idc).reset_index(drop=True)
        bins, toks, trunc = [], [], []
        bin_id, used = 0, 0
        started = False
        for t in pdf["doc_tokens"]:
            t = int(t)
            if t > cap:
                if started:
                    bin_id += 1
                bins.append(bin_id)
                trunc.append(True)
                bin_id += 1
                used, started = 0, False
                continue
            if started and used + t > cap:
                bin_id += 1
                used = 0
            bins.append(bin_id)
            trunc.append(False)
            used += t
            started = True
        pdf["bin_id"] = bins
        pdf["truncated"] = trunc
        return pdf[out_cols]

    grouped = slim.groupBy(*parts) if parts else slim.groupBy(F.lit(1).alias("_g"))
    return grouped.applyInPandas(_pack, schema=out_schema)


def stratified_topk_sample(
    df: DataFrame,
    strata_cols: list[str],
    k: int,
    key_col: str = "doc_id",
) -> DataFrame:
    """Exact k-per-stratum deterministic sample: rank rows inside each
    stratum by a content hash of ``key_col`` (stable under re-sharding
    and re-ordering — same property as ``hash_sample``) and keep the
    first ``k``. One shuffle on the strata key; ties in the hash break
    on the key itself so the sample is a pure function of the data.
    """
    h = F.md5(F.col(key_col).cast("string"))
    w = Window.partitionBy(*strata_cols).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def mixture_weights(
    df: DataFrame,
    source_col: str,
    alpha: float = 0.7,
    token_count_col: Column | None = None,
) -> DataFrame:
    """Temperature-scaled data-mixture weights: per source s with token
    share p_s, sampling weight w_s ∝ p_s^α, normalized to sum 1
    (multinomial mixture re-balancing à la multilingual pre-training;
    α<1 up-weights small sources). Returns per-source
    (source, n_docs, n_tokens, token_share, weight, boost) where boost =
    weight / token_share (how over/under-sampled the source is).

    Two tiny aggregations (per-source, then a broadcast-able global
    total folded in via a window over the per-source frame) — the corpus
    is scanned once.
    """
    tc = (
        token_count_col if token_count_col is not None else F.size(tokens("text"))
    )
    per = df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tc).alias("n_tokens"),
    )
    wall = Window.partitionBy()
    share = F.col("n_tokens") / F.sum("n_tokens").over(wall)
    raw = F.pow(share, F.lit(alpha))
    weight = raw / F.sum(raw).over(wall)
    return per.select(
        source_col,
        "n_docs",
        "n_tokens",
        share.alias("token_share"),
        weight.alias("weight"),
        (weight / share).alias("boost"),
    )


def mixture_resample(
    df: DataFrame,
    source_col: str = "source",
    alpha: float = 0.7,
    budget_frac: float = 0.5,
    key_col: str = "doc_id",
    token_count_col: Column | None = None,
) -> DataFrame:
    """Deterministic Bernoulli thinning that REALIZES a temperature
    mixture: per source, keep each doc with probability ``rate_s =
    min(1, budget_frac · w_s / p_s)`` (``mixture_weights``'s boost
    scaled by the overall budget), so the kept corpus's expected token
    shares match the α-temperature mixture.

    The coin is not random: a doc is kept iff the integer value of the
    first 13 hex chars of ``md5(key)`` falls below ``floor(rate·16¹³)``
    — a pure function of content, so membership is reproducible across
    runs, re-shards and engines, and DOWNSTREAM-CONSISTENT (a doc kept
    at budget 0.5 is also kept at any higher rate: nested samples, like
    progressive data ablations want). Rates round to 6 decimals before
    thresholding so the integer cut is cross-engine stable.

    Plan: the rate table is an aggregate OF the corpus, so the corpus
    is read twice — once collapsed to per-source token sums, once
    flagged through the broadcast rate join (a narrow map, no shuffle).
    At 100 TB persist/checkpoint the source between the two reads, or
    feed ``token_count_col`` from an already-materialized stats column.

    Returns ``df`` plus ``_rate`` and boolean ``_keep``.
    """
    w = mixture_weights(df, source_col, alpha, token_count_col)
    rate = F.least(
        F.lit(1.0), F.round(F.lit(float(budget_frac)) * F.col("boost"), 6)
    )
    rates = w.select(source_col, rate.alias("_rate"))
    u = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 13), 16, 10
    ).cast("long")
    thresh = F.floor(F.col("_rate") * F.lit(float(16**13))).cast("long")
    return df.join(F.broadcast(rates), on=source_col).withColumn(
        "_keep", u < thresh
    )


def dsir_logratio_weights(
    df: DataFrame,
    target_flag: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    alpha: float = 0.5,
) -> DataFrame:
    """Hashed n-gram importance weights for target-domain data
    selection (the DSIR recipe: "Data Selection for Language Models
    via Importance Resampling", Xie et al., NeurIPS 2023 — public).

    Features are the bag of word unigrams+bigrams hashed into
    ``n_buckets`` buckets; two smoothed bucket distributions are fit in
    one pass — p̂ over docs where ``target_flag`` is true (the small
    exemplar set of the domain you want more of) and q̂ over the rest
    (the raw pool) — and every pool doc is scored with its hashed-gram
    log likelihood ratio ``log w(x) = Σ_grams λ[bucket(gram)]`` where
    ``λ[b] = ln((c_t[b]+α)/(N_t+αB)) − ln((c_q[b]+α)/(N_q+αB))``.
    High-scoring docs look like the target under a bag-of-hashed-ngrams
    model; select by top-k or Gumbel-resample on ``log_weight``.

    Plan shape (100 TB): the corpus is tokenized+hashed ONCE into a
    per-(doc, bucket) count frame (≤min(grams, n_buckets) rows per
    doc, far smaller than raw gram rows) which is persisted and feeds
    both the fit and the scoring pass. The fit collapses map-side to
    ≤``n_buckets`` rows per partition before a tiny bucket shuffle;
    the per-bucket λ table (≤``n_buckets`` rows) is broadcast into the
    scoring pass, which re-aggregates (id, count) cells only — text
    never shuffles. Scores are ``Σ_b c_b·λ_b`` (count-then-multiply;
    the oracle uses the identical formulation so the float sums have
    the same ≤``n_buckets``-term shape). The smoothing normalizer
    uses the full ``N + αB`` mass regardless of which buckets
    materialize, so results are independent of bucket sparsity. Gram
    hashing is ``int_base_hash % n_buckets`` — the md5-fold formula
    shared with the MinHash/novelty family, so the oracle reproduces
    bucket collisions bit-for-bit.

    Returns one row per pool doc: (``id_col``, n_grams, log_weight,
    avg_gram_logw).
    """
    from pyspark import StorageLevel

    from cmsspark_spark.functions.text import int_base_hash

    toks = tokens(text_col)
    grams = F.concat(raw_ngrams(toks, 1), raw_ngrams(toks, 2))
    g = (
        df.select(
            F.col(id_col).alias("_id"),
            target_flag.alias("_is_t"),
            F.explode(grams).alias("_g"),
        )
        .select(
            "_id",
            "_is_t",
            (int_base_hash(F.col("_g")) % n_buckets).alias("_b"),
        )
        .groupBy("_id", "_b")
        .agg(F.first("_is_t").alias("_is_t"), F.count(F.lit(1)).alias("_c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    per_b = g.groupBy("_b").agg(
        F.sum(F.when(F.col("_is_t"), F.col("_c")).otherwise(F.lit(0))).alias("_ct"),
        F.sum(F.when(F.col("_is_t"), F.lit(0)).otherwise(F.col("_c"))).alias("_cq"),
    )
    wall = Window.partitionBy()  # ≤ n_buckets rows: single-partition OK
    sm = float(alpha) * n_buckets
    lam = (
        F.log((F.col("_ct") + F.lit(float(alpha))) / (F.sum("_ct").over(wall) + F.lit(sm)))
        - F.log((F.col("_cq") + F.lit(float(alpha))) / (F.sum("_cq").over(wall) + F.lit(sm)))
    )
    lam_tab = per_b.select("_b", lam.alias("_lam"))
    return (
        g.filter(~F.col("_is_t"))
        .join(F.broadcast(lam_tab), "_b")
        .groupBy("_id")
        .agg(
            F.sum("_c").alias("n_grams"),
            F.sum(F.col("_c") * F.col("_lam")).alias("log_weight"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_grams",
            "log_weight",
            (F.col("log_weight") / F.col("n_grams")).alias("avg_gram_logw"),
        )
    )


def logreg_hashed_features(
    df: DataFrame,
    label_flag: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """Per-(doc, bucket) hashed unigram+bigram count features for the
    trained quality classifier, with the binary label CARRIED ON EVERY
    FEATURE ROW (``_y``) and an explicit intercept bucket
    ``b = n_buckets`` (count 1 per doc) — so the entire GD loop needs
    no separate labels join. Returned frame is (_id, _b, _c, _y),
    hash-partitioned on ``_id`` and persisted: every training
    iteration and the final scoring pass re-read this cache, and
    because both the per-doc margin aggregation and the
    feature×residual join key on ``_id``, the co-partitioning is
    reused — no corpus-grain exchange after the one repartition.

    The per-(doc, bucket) counts come from one ``mapInArrow`` batch
    kernel (``arrow_text.hashed_gram_counts_arrow``, row-local, so the
    one repartition below is the frame's ONLY shuffle); its Catalyst
    twin — a gram/hash/RLE chain of interpreted HOFs, ~6.7 s of the
    sf0.1 cold fit — lives only in tests/test_arrow_text_parity.py as
    the equality reference. ``_id`` keeps the id column's type."""
    from pyspark import StorageLevel

    from cmsspark_spark.functions.arrow_text import hashed_gram_counts_arrow

    counts = hashed_gram_counts_arrow(
        df.select(
            F.col(id_col).alias("_id"),
            label_flag.cast("double").alias("_y"),
            F.col(text_col).alias("_text"),
        ),
        "_id", "_y", "_text", n_buckets,
    )
    intercept = df.select(
        F.col(id_col).alias("_id"),
        F.lit(n_buckets).alias("_b"),
        label_flag.cast("double").alias("_y"),
        F.lit(1).cast("long").alias("_c"),
    )
    return (
        counts.select("_id", "_b", "_y", "_c")
        .unionByName(intercept)
        .repartition("_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def _grid6(x: float) -> float:
    """Round-half-up onto the 1e-6 grid — ``floor(x*1e6 + 0.5)/1e6``,
    the weight quantizer. Deterministic and engine-identical (DuckDB
    evaluates the same floor formula; no banker's-rounding ambiguity),
    the float-domain analogue of k-means' integer centroid floor."""
    import math

    return math.floor(x * 1e6 + 0.5) / 1e6


def logreg_hashed_train(
    feat: DataFrame,
    n_buckets: int = 256,
    iters: int = 3,
    lr: float = 0.5,
) -> list:
    """Distributed full-batch gradient descent for the hashed-feature
    logistic quality classifier (the trainable form of the fixed-
    weight ``quality_classifier_gate`` — the fastText-style
    quality-filter rung of RefinedWeb/GPT-3-style pipelines, built
    from scratch on DataFrame ops so the whole fit is reproducible
    and oracle-checkable; no MLlib dependency).

    Loop shape per iteration (the MLlib-GD shape, but cheaper):
    broadcast the (n_buckets+1)-row weight table into the feature
    cache, aggregate per-doc margins ``z = Σ c·w`` (no exchange —
    ``feat`` is already partitioned on ``_id``), compute residuals
    ``y − σ(z)`` narrowly, join back to features on ``_id``
    (co-partitioned, no exchange) and aggregate the per-bucket
    gradient — a ≤257-row map-side-combined shuffle collected to the
    driver, O(buckets) like k-means' O(k·dim). Weights update as
    ``w_b ← grid6(w_b + lr·g_b/N)`` — quantized to the 1e-6 grid
    every iteration so Spark, Python and the DuckDB oracle can never
    drift more than a rounding cliff apart.

    Returns the final weight list (index = bucket, last = intercept).
    """
    # one intercept row per doc, no distinct exchange needed
    n_docs = feat.filter(F.col("_b") == n_buckets).count()
    w = [0.0] * (n_buckets + 1)
    for _ in range(iters):
        # the weight table is (n_buckets+1) doubles — ship it as ONE
        # array literal (element_at by bucket) instead of a
        # createDataFrame + broadcast-exchange job per iteration; the
        # looked-up values are the identical floats
        from cmsspark_spark.operators.similarity import _dbl_arr_lit

        wlit = _dbl_arr_lit([float(wv) for wv in w])
        z = (
            feat.withColumn(
                "_w",
                F.element_at(wlit, (F.col("_b") + 1).cast("int")),
            )
            .groupBy("_id")
            .agg(
                F.sum(F.col("_c") * F.col("_w")).alias("_z"),
                F.first("_y").alias("_y"),
            )
        )
        r = z.select(
            "_id",
            (F.col("_y") - F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("_z")))).alias(
                "_r"
            ),
        )
        grad = (
            feat.join(r, "_id")
            .groupBy("_b")
            .agg(F.sum(F.col("_c") * F.col("_r")).alias("_g"))
            .collect()
        )
        g = {row["_b"]: row["_g"] for row in grad}
        w = [
            _grid6(w[b] + lr * g.get(b, 0.0) / n_docs)
            for b in range(n_buckets + 1)
        ]
    return w


#: Session memo for the GD trainer — deterministic (zero-init, full
#: batch, 1e-6-grid quantization every iteration, no RNG), so for a
#: given (corpus plan + data fingerprint, label expr, params) the
#: weights are a pure function: the registry's weights/scores/sweep
#: trio shares ONE featurize pass and ONE fit instead of three. Same
#: fresh-data keying as the k-means/BPE/components memos.
_LOGREG_MEMO = _SessionMemo("logreg")


def logreg_hashed_shared(
    df: DataFrame,
    label_flag: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    iters: int = 3,
    lr: float = 0.5,
) -> tuple[DataFrame, list]:
    """(features frame, trained weights) memoized per session. The
    memo key hashes a canonical PROBE plan (id, casted label, text) —
    ``semanticHash`` covers the label Column expression along with the
    corpus plan, and the leaf-file fingerprint covers the data, so
    changed labels, params, or files all retrain. A hit skips the
    featurize pass and every GD iteration; unsafe keys train
    unmemoized exactly as before."""
    probe = df.select(
        F.col(id_col),
        label_flag.cast("double").alias("_y"),
        F.col(text_col),
    )
    spark = df.sparkSession
    key = _LOGREG_MEMO.key_for(probe, n_buckets, iters, lr)
    # stored as its builder persists it (the _id-partitioned cache
    # every GD iteration re-reads), so not pinned
    feat = _LOGREG_MEMO.get_or(
        spark,
        composite_key("feat", key),
        lambda: logreg_hashed_features(
            df, label_flag, text_col, id_col, n_buckets
        ),
    )
    weights = _LOGREG_MEMO.get_or(
        spark,
        composite_key("w", key),
        lambda: logreg_hashed_train(feat, n_buckets, iters, lr),
    )
    return feat, weights


def logreg_hashed_score(feat: DataFrame, weights: list) -> DataFrame:
    """Score every doc in a ``logreg_hashed_features`` frame with a
    trained weight list: one broadcast join + the same no-exchange
    per-doc aggregation as training. Returns (_id, _y, p) with
    ``p = σ(Σ c·w)`` un-rounded (callers round for display/parity)."""
    spark = feat.sparkSession
    w_df = local_frame(
        spark,
        [(b, float(wv)) for b, wv in enumerate(weights)], "_b long, _w double"
    )
    return (
        feat.join(F.broadcast(w_df), "_b")
        .groupBy("_id")
        .agg(
            F.sum(F.col("_c") * F.col("_w")).alias("_z"),
            F.first("_y").alias("_y"),
        )
        .select(
            "_id",
            "_y",
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("_z")))).alias("p"),
        )
    )


#: GPT-2-STYLE pre-tokenization for the byte-level BPE alphabet,
#: restricted to a lookahead-free subset so ONE pattern string runs
#: identically under Java regex (Spark), RE2 (DuckDB) and Python re —
#: all three use leftmost-first alternation. Leading spaces attach to
#: the following word (the GPT-2 convention that makes spaces in-band
#: symbols instead of a word-end marker); runs of residual whitespace
#: form their own pre-tokens.
BPE_BYTE_PRETOKEN_RE = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +"


def _bpe_pretokens(text_col: str, alphabet: str):
    """Column of pre-token arrays for an alphabet: ``char`` =
    whitespace words (the Sennrich form), ``byte`` = GPT-2-style
    regex pre-tokens over the lowered text."""
    if alphabet == "char":
        return tokens(text_col)
    return F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(BPE_BYTE_PRETOKEN_RE), 0
    )


def _bpe_symbols(word_col):
    """``char``-alphabet symbol array: characters + word-end marker."""
    return F.concat(F.split(word_col, ""), F.array(F.lit("</w>")))


def _bpe_byte_symbols(word_col):
    """``byte``-alphabet symbol array: the UTF-8 bytes of the
    pre-token as uppercase hex pairs ('74','6f',…) — a TRUE byte
    alphabet that is engine-exact (Spark ``hex(encode(...))`` ==
    DuckDB ``hex(encode(...))``) and needs no word-end marker because
    GPT-2-style pre-tokens carry their leading space in-band."""
    return F.regexp_extract_all(
        F.hex(F.encode(word_col, "UTF-8")), F.lit("[0-9A-F]{2}"), 0
    )


def train_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    k: int = 20,
    min_freq: int = 1,
    alphabet: str = "char",
) -> list[tuple[str, str]]:
    """Byte-pair-encoding merge training on the corpus (Sennrich et
    al. 2016, "Neural Machine Translation of Rare Words with Subword
    Units"): k rounds of count-all-adjacent-symbol-pairs → merge the
    most frequent pair everywhere.

    ``alphabet`` picks the tokenizer family (r10): ``char`` is the
    Sennrich word/character form (whitespace pre-tokens, characters +
    '</w>' marker); ``byte`` is the GPT-2-style byte-level form —
    regex pre-tokenization (``BPE_BYTE_PRETOKEN_RE``, spaces in-band)
    over UTF-8 bytes rendered as hex-pair symbols, so the alphabet is
    exactly 256 symbols, any unicode input is representable, and the
    whole chain stays engine-exact for the SQL oracle.

    Division of labor at scale: the corpus collapses ONCE to the
    distinct-word frequency table (the only corpus-sized shuffle —
    everything after is proportional to |vocab|, not corpus tokens).
    Each round the pair counts are a distributed explode+sum over that
    word table, the argmax pair comes back to the driver (one tiny
    collect — the merge decision is inherently sequential), and the
    merge applies cluster-side in an Arrow batch. Ties break (count
    DESC, pair lexicographic ASC) so the merge sequence is a pure
    function of the corpus.

    Returns the ordered merge list [(left, right), ...].
    """
    from pyspark.sql.functions import pandas_udf

    from cmsspark_spark.functions.text import _RUN_COUNTS, _RUN_STARTS

    syms = _bpe_symbols if alphabet == "char" else _bpe_byte_symbols
    # per-doc (word, count) row-locally (sort+RLE) before the global
    # word aggregation: the corpus-sized exchange carries doc-distinct
    # words instead of every occurrence (guide §2.3); summed counts
    # are identical to the exploded form
    words = (
        df.select(
            F.array_sort(_bpe_pretokens(text_col, alphabet)).alias("_st")
        )
        .withColumn("_starts", F.expr(_RUN_STARTS))
        .select(F.explode(F.expr(_RUN_COUNTS)).alias("_p"))
        .groupBy(F.col("_p._t").alias("w"))
        .agg(F.sum(F.col("_p._tf").cast("long")).alias("n"))
        .select(F.col("n"), syms(F.col("w")).alias("syms"))
    )
    words = words.localCheckpoint()  # cut the scan lineage once
    merges: list[tuple[str, str]] = []
    for _ in range(k):
        pairs = (
            words.select(
                "n",
                F.explode(
                    F.zip_with(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1),
                        lambda a, b: F.struct(
                            a.alias("l"), b.alias("r")
                        ),
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("n").alias("cnt"))
        )
        top = (
            pairs.filter(F.col("cnt") >= min_freq)
            .orderBy(F.col("cnt").desc(), F.col("l"), F.col("r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right = top[0]["l"], top[0]["r"]
        merges.append((left, right))

        def _merge(batches, _l=left, _r=right):
            for pdf in batches:
                out = []
                for syms in pdf["syms"]:
                    s = list(syms)
                    i, res = 0, []
                    while i < len(s):
                        if i + 1 < len(s) and s[i] == _l and s[i + 1] == _r:
                            res.append(_l + _r)
                            i += 2
                        else:
                            res.append(s[i])
                            i += 1
                    out.append(res)
                pdf = pdf.copy()
                pdf["syms"] = out
                yield pdf

        words = words.mapInPandas(_merge, schema="n long, syms array<string>")
        # LAZY checkpoint: still truncates lineage at O(1) depth, but
        # the merge pass materializes inside the NEXT round's
        # pair-count job instead of as its own job — one job per round
        # instead of two, and the final round's merge (whose result no
        # one reads) never executes at all
        words = words.localCheckpoint(eager=False)
    return merges


#: Session-scoped train-once memo for BPE merges — the merge sequence
#: is a pure function of (corpus plan + data fingerprint, text_col, k,
#: min_freq) (count argmax with total tie-break, no RNG), so every
#: tokenizer-aware consumer (length profiles, packing, curricula)
#: shares ONE training run per session instead of re-running the k
#: sequential rounds. Same fresh-data key design as
#: similarity._KMEANS_MEMO (operators/memo.py): appended/overwritten
#: leaf files change the key, so stale merges are never served.
_BPE_MEMO = _SessionMemo("bpe")


def bpe_merges_shared(
    df: DataFrame,
    text_col: str = "text",
    k: int = 20,
    min_freq: int = 1,
    alphabet: str = "char",
) -> list[tuple[str, str]]:
    """Memoized :func:`train_bpe_merges` — a hit skips all k training
    rounds; a miss trains exactly as before. Falls back to untracked
    training when the plan has no safe memo key. The alphabet is part
    of the memo key, so char- and byte-level consumers each share
    their own training run."""
    return _BPE_MEMO.get_or(
        df.sparkSession,
        _BPE_MEMO.key_for(df, text_col, k, min_freq, alphabet),
        lambda: train_bpe_merges(
            df, text_col, k=k, min_freq=min_freq, alphabet=alphabet
        ),
    )


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
    alphabet: str = "char",
) -> DataFrame:
    """Encode text with a learned merge list: per pre-token, apply the
    merges in training order (the standard greedy BPE encode). One
    Arrow batch per partition, merge list + pre-tokenizer shipped by
    value; a narrow map — the 100 TB path tokenizes in place, nothing
    shuffles. ``alphabet`` must match the trainer's (``char``:
    whitespace words, char symbols + '</w>'; ``byte``: GPT-2-style
    regex pre-tokens, UTF-8 hex-pair symbols)."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    mlist = [tuple(m) for m in merges]
    byte_mode = alphabet == "byte"
    pretoken_re = BPE_BYTE_PRETOKEN_RE

    def _enc(it):
        import re

        pat = re.compile(pretoken_re) if byte_mode else None
        # word -> encoded tokens, shared across all Arrow batches of a
        # task (SCALAR_ITER): natural text is Zipf-distributed, so the
        # k-merge scan runs once per distinct word, not per occurrence.
        # Encoding is a pure function of (word, mlist); bounded so a
        # pathological vocabulary can't hold task memory hostage.
        cache = {}

        def one(text):
            if text is None:
                return None
            out = []
            # input column is already lowercased (enc(F.lower(...)))
            pretoks = pat.findall(text) if byte_mode else text.split()
            for w in pretoks:
                syms = cache.get(w)
                if syms is None:
                    if byte_mode:
                        h = w.encode("utf-8").hex().upper()
                        syms = [h[i : i + 2] for i in range(0, len(h), 2)]
                    else:
                        syms = list(w) + ["</w>"]
                    for l, r in mlist:
                        if len(syms) < 2:
                            break
                        i, res = 0, []
                        while i < len(syms):
                            if (
                                i + 1 < len(syms)
                                and syms[i] == l
                                and syms[i + 1] == r
                            ):
                                res.append(l + r)
                                i += 2
                            else:
                                res.append(syms[i])
                                i += 1
                        syms = res
                    if len(cache) >= 1_000_000:
                        cache.clear()
                    cache[w] = syms
                out.extend(syms)
            return out

        for s in it:
            yield s.map(one)

    enc = pandas_udf(_enc, "array<string>", PandasUDFType.SCALAR_ITER)
    return df.withColumn(out_col, enc(F.lower(F.col(text_col))))


def chunk_overlap(
    df: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Sliding-window document chunking with overlap — the RAG/context-
    window shape (stride < chunk ⇒ consecutive chunks share
    ``chunk − stride`` tokens, so no boundary loses context). Chunks
    never span documents, unlike ``concat_pack_chunks``.

    Pure Catalyst: tokenize once, one bounded ``sequence`` → explode
    per doc (⌈(n−overlap)/stride⌉ chunks), ``slice`` per window — a
    narrow 1→N map with zero shuffle; at 100 TB chunking parallelizes
    per input split with no coordination. Emits (id, carry cols...,
    chunk_idx, n_tokens, chunk_text); the final short chunk is kept
    (standard for retrieval corpora). ``carry_cols`` threads metadata
    columns (source, lang, ...) through the explode so consumers
    don't pay a join-back to re-attach them.
    """
    if stride <= 0 or chunk_tokens <= 0 or stride > chunk_tokens:
        raise ValueError("need 0 < stride <= chunk_tokens")
    tk = tokens(text_col)
    n_chunks = F.greatest(
        F.ceil(
            (F.col("_n") - (chunk_tokens - stride)) / stride
        ).cast("int"),
        F.lit(1),
    )
    carry = list(carry_cols)
    return (
        df.select(
            F.col(id_col), *carry, tk.alias("_tk"), F.size(tk).alias("_n")
        )
        .filter(F.col("_n") > 0)
        .select(
            id_col,
            *carry,
            "_tk",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            id_col,
            *carry,
            "chunk_idx",
            F.slice(
                F.col("_tk"), F.col("chunk_idx") * stride + 1, chunk_tokens
            ).alias("_chunk"),
        )
        .select(
            id_col,
            *carry,
            "chunk_idx",
            F.size("_chunk").alias("n_tokens"),
            F.array_join("_chunk", " ").alias("chunk_text"),
        )
    )


def curriculum_cells(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    length_qs: tuple[float, float] = (0.5, 0.9),
    quality_qs: tuple[float, float] = (0.25, 0.75),
    checkpoint: bool = True,
) -> DataFrame:
    """Quantile-binned (length, quality) curriculum cells — the table
    a curriculum sampler consumes: every document is assigned a
    length bin (short/mid/long against its SOURCE's token-count
    quantiles, so a 'long' code file and a 'long' tweet are judged
    against their own populations) and a quality bin (low/mid/high
    against the GLOBAL stopword-ratio quantiles), and each (source,
    length_bin, quality_bin) cell reports its doc count, token mass
    and share of the corpus token budget.

    Scale shape: tokenize ONCE into a (source, n_tokens, quality)
    frame — two doubles per doc — and lazily localCheckpoint it (the
    multi-consumer rule: three consumers — per-source percentiles,
    global percentiles, binning — would each re-tokenize the corpus
    otherwise). Both percentile frames are dimension-sized and
    broadcast back onto the scored frame; the only corpus-grain
    shuffle is the final cell groupBy. ``token_share`` normalizes via
    a window over the cells frame itself (|sources| x 9 rows —
    driver-light)."""
    from cmsspark_spark.functions.text import stopword_ratio, token_count

    lo_q, hi_q = quality_qs
    lo_l, hi_l = length_qs
    scored = df.select(
        F.col(source_col).alias("source"),
        token_count(text_col).cast("long").alias("n"),
        stopword_ratio(text_col).alias("q"),
    )
    if checkpoint:
        scored = scored.localCheckpoint(eager=False)
    lp = scored.groupBy("source").agg(
        F.percentile("n", F.lit(lo_l)).alias("_p_lo"),
        F.percentile("n", F.lit(hi_l)).alias("_p_hi"),
    )
    qp = scored.agg(
        F.percentile("q", F.lit(lo_q)).alias("_q_lo"),
        F.percentile("q", F.lit(hi_q)).alias("_q_hi"),
    )
    binned = (
        scored.join(F.broadcast(lp), on="source")
        .crossJoin(F.broadcast(qp))
        .select(
            "source",
            F.when(F.col("n") <= F.col("_p_lo"), "short")
            .when(F.col("n") <= F.col("_p_hi"), "mid")
            .otherwise("long")
            .alias("length_bin"),
            F.when(F.col("q") <= F.col("_q_lo"), "low")
            .when(F.col("q") <= F.col("_q_hi"), "mid")
            .otherwise("high")
            .alias("quality_bin"),
            "n",
        )
    )
    cells = binned.groupBy("source", "length_bin", "quality_bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("cell_tokens"),
    )
    return cells.select(
        "source",
        "length_bin",
        "quality_bin",
        "n_docs",
        "cell_tokens",
        F.round(
            F.col("cell_tokens")
            / F.sum("cell_tokens").over(Window.partitionBy()),
            6,
        ).alias("token_share"),
    )


def snapshot_psi(
    df: DataFrame,
    group_col: str,
    value_col: str,
    is_ref_col: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Population Stability Index between two snapshots of a corpus —
    the standard drift gate a training pipeline runs when a new ingest
    lands: did the per-source distribution of some metric (token
    length, quality score, ...) shift enough that mixtures and
    curricula need re-tuning? Rule of thumb: PSI < 0.1 stable,
    0.1-0.25 drifting, > 0.25 action needed.

    Bins are the REFERENCE snapshot's exact per-group quantiles
    (``probs`` → len(probs)+1 bins), so the reference lands ~uniformly
    and drift shows as current-side mass imbalance. Laplace-smoothed
    shares (+0.5 per bin) keep ln() finite for empty bins.

    Plan shape: the bound frame is one tiny per-group aggregate
    (exact ``F.percentile`` — swap for approx_percentile at 100 TB,
    same shape) BROADCAST back onto the corpus; binning is a narrow
    array fold; the count table is one (group, bin) shuffle. Only
    observed (group, bin) cells are emitted — absent cells are absent
    from both engines by construction.

    Returns one row per (group, bin): counts, smoothed shares, the
    bin's PSI term and the group's total PSI.
    """
    nbins = len(probs) + 1
    ref = df.filter(F.col(is_ref_col))
    plist = ", ".join(str(p) for p in probs)
    bounds = ref.groupBy(group_col).agg(
        F.expr(f"percentile(`{value_col}`, array({plist}))").alias("_bs")
    )
    binned = df.join(F.broadcast(bounds), group_col).select(
        group_col,
        F.col(is_ref_col).alias("_r"),
        (
            1
            + F.aggregate(
                F.col("_bs"),
                F.lit(0),
                lambda acc, b: acc
                + F.when(F.col(value_col) > b, 1).otherwise(0),
            )
        ).alias("bin"),
    )
    counts = binned.groupBy(group_col, "bin").agg(
        F.sum(F.when(F.col("_r"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("_r"), 0).otherwise(1)).alias("n_cur"),
    )
    w = Window.partitionBy(group_col)
    tot = counts.withColumn("_Nr", F.sum("n_ref").over(w)).withColumn(
        "_Nc", F.sum("n_cur").over(w)
    )
    p_ref = (F.col("n_ref") + 0.5) / (F.col("_Nr") + 0.5 * nbins)
    p_cur = (F.col("n_cur") + 0.5) / (F.col("_Nc") + 0.5 * nbins)
    term = (p_cur - p_ref) * F.log(p_cur / p_ref)
    scored = tot.select(
        group_col,
        "bin",
        "n_ref",
        "n_cur",
        F.round(p_ref, 6).alias("p_ref"),
        F.round(p_cur, 6).alias("p_cur"),
        F.round(term, 6).alias("psi_term"),
        term.alias("_t"),
    )
    return scored.withColumn(
        "psi", F.round(F.sum("_t").over(w), 6)
    ).drop("_t")


def psi_reference(
    df: DataFrame,
    group_col: str,
    value_col: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """The stored half of the drift monitor: per (group, bin) —
    quantile bounds (the same array on every row of a group), the
    reference count and its Laplace-smoothed share. Persist this ONCE
    from a trusted snapshot; ``psi_against_reference`` then scores any
    later batch against it without re-reading the reference corpus.
    Bins cover the whole real line (len(probs)+1 buckets from the
    group's own quantiles), so every future value lands in exactly one
    stored row's bin.

    ALL len(probs)+1 bins are materialized per group, with n_ref=0 and
    the Laplace-smoothed floor share for bins the reference never hit.
    A tied/skewed reference (duplicate quantile bounds — e.g. a
    near-constant metric) piles its mass into one bin; without the
    empty rows a later batch landing in the other bins would be
    silently unscoreable, reporting ~0 PSI for extreme drift."""
    nbins = len(probs) + 1
    plist = ", ".join(str(p) for p in probs)
    bounds = df.groupBy(group_col).agg(
        F.expr(f"percentile(`{value_col}`, array({plist}))").alias("bs")
    )
    binned = df.join(F.broadcast(bounds), group_col).select(
        group_col,
        (
            1
            + F.aggregate(
                F.col("bs"),
                F.lit(0),
                lambda acc, b: acc
                + F.when(F.col(value_col) > b, 1).otherwise(0),
            )
        ).alias("bin"),
    )
    counts = binned.groupBy(group_col, "bin").agg(
        F.count(F.lit(1)).alias("n_ref")
    )
    # group × [1..nbins] skeleton (one row per group in `bounds`, tiny)
    # left-joined with observed counts so empty bins persist explicitly.
    skeleton = bounds.select(
        group_col,
        "bs",
        F.explode(F.sequence(F.lit(1), F.lit(nbins))).alias("bin"),
    )
    full = skeleton.join(counts, [group_col, "bin"], "left").withColumn(
        "n_ref", F.coalesce(F.col("n_ref"), F.lit(0)).cast("long")
    )
    w = Window.partitionBy(group_col)
    return full.select(
        group_col,
        "bin",
        "bs",
        "n_ref",
        (
            (F.col("n_ref") + 0.5)
            / (F.sum("n_ref").over(w) + 0.5 * nbins)
        ).alias("p_ref"),
    )


def psi_against_reference(
    batch: DataFrame,
    ref: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Score a batch against a stored ``psi_reference`` table: bin the
    batch with the REFERENCE bounds (broadcast, narrow fold), count per
    (group, bin), then fold PSI over ALL reference bins — a bin the
    batch never hits still contributes its term (that absence IS
    drift), which is why this outer-joins the reference rather than
    emitting only observed cells like snapshot_psi. The bin count is
    carried explicitly as size(bs)+1 (never inferred from max(bin), so
    a legacy reference table that stored only observed cells still
    smooths correctly), and batch cells landing in bins the reference
    never hit are kept by the full-outer cell join — the smoothed
    p_ref floor prices them as drift instead of dropping them.

    Groups present in the batch but ABSENT from the reference (a
    brand-new source — the strongest drift signal there is) cannot be
    binned, so they are emitted with psi/max_bin_shift NULL and
    ``new_group`` = true rather than silently dropped; stored groups
    score ``new_group`` = false. Returns one row per group:
    (group, n_cur, psi, max_bin_shift, new_group)."""
    nbins_df = ref.groupBy(group_col).agg(
        (F.size(F.first("bs")) + 1).cast("int").alias("_nbins"),
        F.first("bs").alias("bs"),
    )
    joined = batch.join(F.broadcast(nbins_df), group_col, "left")
    binned = joined.filter(F.col("bs").isNotNull()).select(
        group_col,
        (
            1
            + F.aggregate(
                F.col("bs"),
                F.lit(0),
                lambda acc, b: acc
                + F.when(F.col(value_col) > b, 1).otherwise(0),
            )
        ).alias("bin"),
    )
    cur = binned.groupBy(group_col, "bin").agg(
        F.count(F.lit(1)).alias("n_cur")
    )
    cells = (
        ref.select(group_col, "bin", "p_ref")
        .join(cur, [group_col, "bin"], "full_outer")
        .join(F.broadcast(nbins_df.select(group_col, "_nbins")), group_col)
        .withColumn("n_cur", F.coalesce("n_cur", F.lit(0)))
    )
    w = Window.partitionBy(group_col)
    p_cur = (F.col("n_cur") + 0.5) / (
        F.sum("n_cur").over(w) + 0.5 * F.col("_nbins")
    )
    # legacy ref tables may lack a stored row for an empty bin the
    # batch hit: price it at the same Laplace floor the full table
    # would have stored (0.5 / (N_ref + 0.5·nbins) is unrecoverable
    # without N_ref, so use the batch-side smoothing denominator —
    # conservative and finite).
    p_ref = F.coalesce(
        F.col("p_ref"),
        F.lit(0.5) / (F.sum("n_cur").over(w) + 0.5 * F.col("_nbins")),
    )
    term = (p_cur - p_ref) * F.log(p_cur / p_ref)
    scored = cells.withColumn("_t", term).withColumn(
        "_shift", F.abs(p_cur - p_ref)
    )
    known = scored.groupBy(group_col).agg(
        F.sum("n_cur").alias("n_cur"),
        F.round(F.sum("_t"), 6).alias("psi"),
        F.round(F.max("_shift"), 6).alias("max_bin_shift"),
        F.lit(False).alias("new_group"),
    )
    unknown = (
        joined.filter(F.col("bs").isNull())
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_cur"),
            F.lit(None).cast("double").alias("psi"),
            F.lit(None).cast("double").alias("max_bin_shift"),
            F.lit(True).alias("new_group"),
        )
    )
    return known.unionByName(unknown)
