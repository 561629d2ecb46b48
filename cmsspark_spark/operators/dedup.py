"""Deduplication operators for training-data pipelines (SURVEY §7.2 M8).

Beyond-reference: the reference only has exact key-dedup
(``drop_duplicates`` — P9, degraded/condor_cpu_efficiency.py:378). A
100 TB document pipeline needs the near-dup family too:

- exact dedup        — hash groupBy, deterministic survivor choice
- MinHash + LSH      — shingle → k minhashes → bands → bucket join
- SimHash            — token-hash bit voting → Hamming buckets
- n-gram Jaccard     — exact pairwise similarity on candidate pairs

Portability note: base hashing uses ``md5`` (identical in Spark and
DuckDB) rather than Spark's murmur3 ``hash()``, so every operator here
is oracle-testable in pure SQL; MinHash permutes ONE md5-derived
integer base per shingle with (a*x+b) mod p — integer-only after the
single md5. At scale, swap the base for ``F.xxhash64`` for another ~2×
(only oracle parity is lost, the structure is unchanged).

Scale design: all operators are shuffle-on-key joins/aggregations.
MinHash-LSH is the scale path — candidate generation is a self-join on
(band, signature) buckets, linear-ish in corpus size, never all-pairs.
The exact-Jaccard verifier only runs on LSH candidates.
"""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

import random

from cmsspark_spark.functions.text import int_base_hash, shingles, tokens
from cmsspark_spark.operators.memo import SessionMemo as _SessionMemo
from cmsspark_spark.operators.memo import composite_key, pin_frame

#: Modulus for permutation-based MinHash (2^31 - 1, prime). Products
#: a*base stay < 2^62 so the arithmetic never overflows signed 64-bit —
#: mandatory for oracle parity (DuckDB errors on BIGINT overflow while
#: Spark would wrap silently).
MINHASH_PRIME = (1 << 31) - 1


def minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod p.

    Uses ``random.Random`` (Mersenne Twister — stable across Python
    versions) so the Spark plan and the oracle SQL derive identical
    constants."""
    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, MINHASH_PRIME) | 1, rnd.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]





def exact_dedup(
    df: DataFrame, key_cols: Sequence[str], tie_breaker: str
) -> DataFrame:
    """Keep exactly one row per key: the one with the minimum
    ``tie_breaker`` — deterministic, unlike raw ``dropDuplicates`` which
    keeps an arbitrary row (P9).

    ONE shuffle: ``min_by`` carries the surviving row's payload through
    the aggregation itself (vs. the min + semi-join-back idiom, which
    shuffles twice and re-scans). Requires ``tie_breaker`` unique per
    key for fully deterministic payloads (ties keep one arbitrary
    tied row).
    """
    others = [c for c in df.columns if c not in key_cols and c != tie_breaker]
    packed = df.groupBy(*key_cols).agg(
        F.min(tie_breaker).alias(tie_breaker),
        *(
            [F.min_by(F.struct(*others), F.col(tie_breaker)).alias("_rest")]
            if others
            else []
        ),
    )
    if others:
        packed = packed.select(*key_cols, tie_breaker, "_rest.*")
    return packed


def dedup_by_fingerprint(
    df: DataFrame, id_col: str, fingerprint_col: Column, keep: str = "min"
) -> DataFrame:
    """Group docs by content fingerprint; keep min/max id as survivor.

    Returns (fingerprint, survivor_id, n_dups) — the exact-dedup report.
    """
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    return (
        df.select(fingerprint_col.alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(agg.alias("survivor_id"), F.count(F.lit(1)).alias("n_dups"))
    )


#: Session memo for WIDE MinHash signature frames (see
#: minhash_signatures_wide docstring).
_MINHASH_MEMO = _SessionMemo("minhash_sigs")


def minhash_signatures_wide(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """Per-document MinHash signature, wide form: columns h0..h{k-1}
    where h_i = min over shingles of (a_i * base(shingle) + b_i) mod p —
    permutation MinHash over ONE md5-derived integer base per shingle.

    ONE shuffle total: all ``num_hashes`` mins are computed as parallel
    agg columns of a single groupBy(_id) with map-side partials — the
    shuffle carries |docs| rows of longs, never |shingles| × num_hashes
    hash strings.

    Implementation is ZERO-shuffle: each document's signature is a pure
    row-local array expression — ``array_min(transform(bases, x ->
    (a*x+b) mod p))`` per hash — so signature generation is a narrow map
    over the corpus (the explode + groupBy(min) form this replaces
    shuffled and hash-aggregated |shingle| rows). ``shingles()`` always
    yields ≥1 element (short docs collapse to one shingle), so no doc
    is dropped — identical output to the agg form.

    The signature frame is session-memoized (``_MINHASH_MEMO`` — |docs|
    × k longs, eagerly checkpointed): the LSH pair join, the star-capped
    rung, the bucket report and the census builders all start from the
    same signatures, and a memo hit replays the tiny frame instead of
    re-paying tokenize→shingle→minhash. Callers' own ``persist`` of the
    returned frame stays harmless.
    """
    return _MINHASH_MEMO.get_or(
        df.sparkSession,
        _MINHASH_MEMO.key_for(df, id_col, text_col, n, num_hashes),
        lambda: _minhash_signatures_wide_run(
            df, id_col, text_col, n, num_hashes
        ),
        pin=True,
    )


def _minhash_signatures_wide_run(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
) -> DataFrame:
    """The un-memoized signature pipeline (see minhash_signatures_wide)."""
    from cmsspark_spark.functions.text import shingle_frame

    params = minhash_params(num_hashes)
    # Two-step select ON PURPOSE: naming _bases keeps the (large)
    # hash expression tree single-instance; CollapseProject will not
    # inline a non-cheap expression referenced num_hashes times. The
    # shingle arrays come from the Arrow kernel (r14, guide §4.2 — its
    # Catalyst twin lives only in the parity tests); only the md5 base
    # hash stays Catalyst, on the already-distinct grams.
    based = shingle_frame(df, id_col, text_col, n, ("_id", "_sh")).select(
        "_id",
        F.transform(F.col("_sh"), int_base_hash).alias("_bases"),
    )
    def _perm(a: int, b: int):
        return lambda x: (F.lit(a) * x + F.lit(b)) % MINHASH_PRIME

    mins = [
        F.array_min(F.transform(F.col("_bases"), _perm(a, b))).alias(f"h{i}")
        for i, (a, b) in enumerate(params)
    ]
    return based.select("_id", *mins)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """Long-form signature view: (_id, hash_idx, minhash) — derived from
    the wide form by a narrow explode (no extra shuffle)."""
    wide = minhash_signatures_wide(df, id_col, text_col, n, num_hashes)
    pairs = F.array(
        *[
            F.struct(F.lit(i).alias("hash_idx"), F.col(f"h{i}").alias("minhash"))
            for i in range(num_hashes)
        ]
    )
    return wide.select("_id", F.explode(pairs).alias("p")).select(
        "_id", "p.hash_idx", "p.minhash"
    )


def minhash_band_rows(
    wide: DataFrame,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    with_sig: bool = False,
) -> DataFrame:
    """(_id, band, band_sig[, sig]) rows from a WIDE signature frame —
    the banding step of MinHash-LSH as a reusable piece: each band's
    signature is the '|'-joined sorted concat of its ``rows_per_band``
    consecutive minhashes, derived by a NARROW array explode (no
    shuffle). ``with_sig=True`` additionally carries the full
    h0..h{k-1} signature as one array column — what a cross-run census
    store persists so later increments can both bucket-join (band,
    band_sig) AND estimate Jaccard from component agreement without
    ever re-reading corpus text."""
    nbands = num_hashes // rows_per_band
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).cast("bigint").alias("band"),
                F.concat_ws(
                    "|",
                    F.sort_array(
                        F.array(
                            *[F.col(f"h{b * rows_per_band + j}") for j in range(rows_per_band)]
                        )
                    ),
                ).alias("band_sig"),
            )
            for b in range(nbands)
        ]
    )
    cols = ["_id", "bs.band", "bs.band_sig"]
    out = wide.select(
        "_id",
        *([F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")]
          if with_sig else []),
        F.explode(band_structs).alias("bs"),
    )
    if with_sig:
        return out.select("_id", "bs.band", "bs.band_sig", "sig")
    return out.select(*cols)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    cache: bool = True,
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH.

    Bands group ``rows_per_band`` consecutive minhashes; two documents
    are candidates if any band signature matches. Returns distinct
    (id_a, id_b) with id_a < id_b.

    Scale: the join is on (band, signature) — bucket sizes are the skew
    risk. AQE skew-join splits a hot bucket's INPUT across tasks, but
    cannot bound the join's OUTPUT: a boilerplate cluster of m
    near-identical docs shares a (band, band_sig) bucket and the
    self-join emits O(m²) candidate rows into the verifier — at 100 TB
    a 1M-doc template cluster is 10¹² rows. ``hot_bucket_cap`` is the
    output-cardinality control: buckets with more than ``cap`` members
    are STAR-REDUCED — each member emits one edge to the bucket's
    minimum id instead of all C(m,2) pairs, so a capped bucket
    contributes O(m) rows. Every bucket member is a mutual CANDIDATE
    by construction (they share the band signature — that is the LSH
    candidate definition), so the candidate graph's connected
    components are unchanged: members link through the bucket min.
    What changes is the explicit pair list (and therefore which pairs
    a downstream exact verifier scores) — audit capped buckets with
    :func:`minhash_lsh_bucket_report`, nothing is silently dropped.
    Default ``None`` keeps the exact full pair semantics.

    Band signatures are derived from the wide signature without any
    extra shuffle: the per-band sorted concat is a narrow array op and
    the (band, band_sig) rows come from exploding an array literal.
    The cap path adds one window over (band, band_sig) — the same key
    the join shuffles on, so the exchange is shared, and the window
    aggregates (count/min) are O(bucket), never O(bucket²).

    ``cache=True`` persists the wide signatures (|docs| × k longs —
    tiny next to the corpus) so the tokenize→shingle→minhash pipeline
    runs ONCE; both self-join branches then scan the cached
    signatures instead of re-deriving the whole expression tree.
    """
    wide = minhash_signatures_wide(df, id_col, text_col, n, num_hashes)
    if cache:
        from pyspark import StorageLevel

        wide = wide.persist(StorageLevel.MEMORY_AND_DISK)
    bands = minhash_band_rows(wide, num_hashes, rows_per_band)
    if hot_bucket_cap is None:
        a = bands.select(F.col("_id").alias("id_a"), "band", "band_sig")
        b = bands.select(F.col("_id").alias("id_b"), "band", "band_sig")
        pairs = a.join(b, on=["band", "band_sig"]).filter(
            F.col("id_a") < F.col("id_b")
        )
        return pairs.select("id_a", "id_b").distinct()
    cap = int(hot_bucket_cap)
    w = Window.partitionBy("band", "band_sig")
    sized = bands.withColumn("_m", F.count(F.lit(1)).over(w)).withColumn(
        "_mn", F.min("_id").over(w)
    )
    small = sized.filter(F.col("_m") <= cap)
    a = small.select(F.col("_id").alias("id_a"), "band", "band_sig")
    b = small.select(F.col("_id").alias("id_b"), "band", "band_sig")
    dense = (
        a.join(b, on=["band", "band_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    star = sized.filter(
        (F.col("_m") > cap) & (F.col("_id") != F.col("_mn"))
    ).select(F.col("_mn").alias("id_a"), F.col("_id").alias("id_b"))
    return dense.unionByName(star).distinct()


def minhash_lsh_bucket_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """Per-band audit of LSH bucket-size skew — the no-silent-
    truncation companion of ``minhash_lsh_pairs(hot_bucket_cap=…)``:
    one row per band with bucket counts, the max bucket size, and
    (when a cap is given) how many buckets/members the star reduction
    touched. Read it to size the cap: ``capped_members`` is exactly
    the number of star edges replacing ``Σ C(m,2)`` dense pairs.
    Plan: the band rows aggregate twice on (band, band_sig) then
    band — ids only, no text past the signature step."""
    wide = minhash_signatures_wide(df, id_col, text_col, n, num_hashes)
    bands = minhash_band_rows(wide, num_hashes, rows_per_band)
    per_bucket = bands.groupBy("band", "band_sig").agg(
        F.count(F.lit(1)).alias("_m")
    )
    cap = int(hot_bucket_cap) if hot_bucket_cap is not None else None
    is_hot = (
        F.col("_m") > F.lit(cap) if cap is not None else F.lit(False)
    )
    return (
        per_bucket.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("_m").alias("max_bucket_size"),
            F.sum(is_hot.cast("long")).alias("n_hot_buckets"),
            F.sum(F.when(is_hot, F.col("_m")).otherwise(F.lit(0))).alias(
                "capped_members"
            ),
        )
        .orderBy("band")
    )


#: Session memo for the candidate MEMBERS' hashed SHINGLE frame —
#: derived index STATE, same grain as the MinHash signature memos:
#: per-doc-distinct (id, n_sh, xxhash64(shingle)) rows of only the
#: docs appearing in a candidate pair. The r12-era ``_JACCARD_MEMO``
#: memoized the verified-pair OUTPUT frame, so benched consumers
#: (leakage audit, components family) replayed a checkpointed dict
#: entry instead of verifying — result caching by the r13 policy line
#: (VERDICT r13 item 1), retired: the pair join + aggregation now
#: recompute on every call from the shared shingle state. Keyed on
#: BOTH input plans' fresh-data keys (corpus and candidates).
_SHINGLE_MEMO = _SessionMemo("jaccard_shingles")


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
    cache: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard similarity between documents.

    Without ``candidates`` this computes all pairs sharing ≥1 shingle
    (exact but O(pairs-with-overlap)); with ``candidates`` (e.g. from
    ``minhash_lsh_pairs``) it verifies only those — the 100 TB path.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥ threshold.

    Shuffle economics: the self-join keys on ``xxhash64(shingle)``
    (8 bytes, same pair counts modulo a negligible 64-bit collision
    probability); each shingle row CARRIES its document's shingle-set
    size, so no separate sizes aggregation and no join-back — the whole
    operator is two identical map branches + one self-join + one
    groupBy. ``shingles()`` is per-document distinct already, so no
    distinct shuffle either.

    In candidate mode the members' shingle frame is memoized per
    session on fresh-data keys of BOTH inputs (``_SHINGLE_MEMO`` —
    state-grain: the tokenize+shingle pass over candidate members runs
    once, the verify join + aggregation recompute every call; the
    threshold is applied per call, so different thresholds share one
    shingle build). All-pairs mode and unsafe keys run unmemoized and
    lazy as before.
    """
    if candidates is None:
        return _jaccard_pairs_run(
            df, id_col, text_col, n, threshold, None, cache
        )
    key = composite_key(
        _SHINGLE_MEMO.key_for(df, id_col, text_col, n),
        _SHINGLE_MEMO.key_for(candidates),
    )
    if key is None:
        return _jaccard_pairs_run(
            df, id_col, text_col, n, threshold, candidates, cache
        )

    def build() -> DataFrame:
        from pyspark import StorageLevel

        cand = candidates.select("id_a", "id_b").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        return _shingle_rows(
            _candidate_members(df, id_col, cand), id_col, text_col, n
        )

    shingled = _SHINGLE_MEMO.get_or(df.sparkSession, key, build, pin=True)
    return _pairs_from_shingles(
        shingled, candidates.select("id_a", "id_b"), threshold
    )


def _candidate_members(
    df: DataFrame, id_col: str, candidates: DataFrame
) -> DataFrame:
    """The corpus pruned to candidate-pair MEMBERS (broadcast
    semi-join — ids only cross the exchange, never text)."""
    members = (
        candidates.select(F.col("id_a").alias(id_col))
        .union(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # Broadcast the member-id set: without the hint the semi-join
    # sort-merges and the CORPUS side shuffles (doc_id, text) —
    # megabytes of text per row through an exchange just to test
    # id membership (caught by test_split_leakage_shuffles_ids_
    # not_text). The member set is ids-only and candidate-sized;
    # if a corpus ever has too many candidates to broadcast, the
    # right fix is tighter LSH bands, not a text shuffle.
    return df.join(F.broadcast(members), on=id_col, how="left_semi")


def _shingle_rows(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Per-doc-distinct (id, n_sh, xxhash64(shingle)) rows.

    Two-step projection ON PURPOSE: naming the shingle array before
    size()+explode() reference it keeps the array single-instance —
    CollapseProject won't inline a non-cheap expression referenced
    twice. (Historically this guarded a large Catalyst shingle tree —
    measured ~30s of first-execution planning at sf0.1; the array now
    comes from the Arrow kernel via ``shingle_frame``, which removes
    that tree outright, but the two-step shape stays for the sql
    fallback.)"""
    from cmsspark_spark.functions.text import shingle_frame

    return (
        shingle_frame(df, id_col, text_col, n, ("_id", "_arr"))
        .select(
            "_id", F.size("_arr").alias("n_sh"),
            F.explode("_arr").alias("shingle"),
        )
        .select("_id", "n_sh", F.xxhash64("shingle").alias("shingle"))
    )


def _pairs_from_shingles(
    sh: DataFrame, candidates: DataFrame, threshold: float
) -> DataFrame:
    """Candidate pairs verified against a shingle frame: pick up id_a's
    shingles, match id_b's rows on (id_b, shingle), aggregate to the
    exact Jaccard — work is linear in Σ|shingles(candidate docs)|,
    never the all-co-occurring-pairs blowup of the exact mode."""
    a = sh.select(
        F.col("_id").alias("id_a"), F.col("n_sh").alias("n_a"), "shingle"
    )
    b = sh.select(
        F.col("_id").alias("id_b"), F.col("n_sh").alias("n_b"), "shingle"
    )
    pairs = candidates.join(a, on="id_a").join(b, on=["id_b", "shingle"])
    common = pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
    )
    out = common.withColumn(
        "jaccard",
        F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
    ).filter(F.col("jaccard") >= threshold)
    return out.select("id_a", "id_b", "jaccard")


def _jaccard_pairs_run(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    candidates: DataFrame | None,
    cache: bool,
) -> DataFrame:
    """The un-memoized verify pipeline (see jaccard_pairs)."""
    if candidates is not None:
        # Prune the corpus to candidate MEMBERS before any shingling:
        # verification compute must be ∝ Σ|shingles(candidate docs)|,
        # not ∝ corpus size — at 100 TB the candidate set is orders of
        # magnitude smaller than the corpus, and without this semi-join
        # the whole corpus is tokenized+shingled just to verify a few
        # pairs (measured 4-5× wall-clock on the bench composition).
        # Persist candidates first: they feed the member set AND both
        # pair-join branches, and (when they come from minhash_lsh_pairs)
        # re-deriving them means re-running the whole MinHash plan.
        from pyspark import StorageLevel

        candidates = candidates.select("id_a", "id_b").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        df = _candidate_members(df, id_col, candidates)

    sh = _shingle_rows(df, id_col, text_col, n)
    if cache:
        # The shingle frame feeds BOTH self-join branches. Persisting it
        # (reference O6 pattern: cache frames consumed ≥2×) halves the
        # tokenize/shingle compute AND keeps each branch's plan a tiny
        # InMemoryTableScan instead of two copies of the large shingle
        # expression tree. MEMORY_AND_DISK: spills instead of OOM at
        # corpus scale; pass cache=False to trade recompute for memory.
        from pyspark import StorageLevel

        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)

    if candidates is not None:
        return _pairs_from_shingles(sh, candidates, threshold)
    a = sh.select(
        F.col("_id").alias("id_a"), F.col("n_sh").alias("n_a"), "shingle"
    )
    b = sh.select(
        F.col("_id").alias("id_b"), F.col("n_sh").alias("n_b"), "shingle"
    )
    pairs = a.join(b, on="shingle").filter(F.col("id_a") < F.col("id_b"))
    common = pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
    )
    out = common.withColumn(
        "jaccard",
        F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
    ).filter(F.col("jaccard") >= threshold)
    return out.select("id_a", "id_b", "jaccard")


def signature_agreement(
    candidates: DataFrame,
    wide: DataFrame,
    num_hashes: int = 8,
) -> DataFrame:
    """(id_a, id_b, n_agree): per candidate pair, how many of the k
    MinHash signature components agree — the standard MinHash Jaccard
    estimator (E[n_agree / k] = J(a, b), Broder 1997) read off a WIDE
    signature frame. Both joins key on ids over ids+longs frames —
    the corpus text is never touched, so estimating every LSH
    candidate costs two hash joins on |pairs|-sized inputs however
    large the documents are."""
    sa = wide.select(
        F.col("_id").alias("id_a"),
        *[F.col(f"h{i}").alias(f"_a{i}") for i in range(num_hashes)],
    )
    sb = wide.select(
        F.col("_id").alias("id_b"),
        *[F.col(f"h{i}").alias(f"_b{i}") for i in range(num_hashes)],
    )
    agree = sum(
        (F.col(f"_a{i}") == F.col(f"_b{i}")).cast("int")
        for i in range(num_hashes)
    )
    return (
        candidates.select("id_a", "id_b")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", agree.cast("int").alias("n_agree"))
    )


def jaccard_pairs_screened(
    df: DataFrame,
    id_col: str,
    text_col: str,
    candidates: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 8,
    min_agree: int | None = None,
    cache: bool = True,
) -> DataFrame:
    """LSH-candidate verification with a SIGNATURE SCREEN in front of
    the exact shingle join — the honest-cost fix for the verify rung
    (r10 scale sweep: the un-memoized LSH→verify pipeline is dominated
    by tokenizing/shingling every candidate MEMBER and self-joining
    their shingles; at sf1 that is ~60 s while the signatures it
    already computed sit unused).

    Screen: estimate each candidate pair's Jaccard as n_agree/k from
    the (session-memoized) wide MinHash signatures — two ids-only hash
    joins, no text — and run the exact shingle verifier ONLY on pairs
    with ``n_agree >= min_agree`` (default ``ceil(threshold * k)``,
    the estimator's unbiased point for the threshold). Docs whose
    every pair screens out never get tokenized, so verify compute
    shrinks from Σ|shingles(candidate members)| to
    Σ|shingles(screened members)|.

    Semantics: deterministic but explicitly a RECALL TRADE — a true
    pair whose k-sample estimate falls below the floor is dropped
    without verification (with k=8 and floor 4, pairs at J≈0.5 have
    binomial tail risk; calibrate the floor with
    ``lsh_screen_quality_report``, which verifies every candidate at
    audit scale and tabulates recall/precision per floor choice).
    Exact-verified pairs that pass are identical to
    :func:`jaccard_pairs` output on the screened subset — the screen
    never changes a surviving pair's jaccard value.

    Returns (id_a, id_b, n_agree, jaccard) with jaccard >= threshold.
    """
    if min_agree is None:
        import math

        min_agree = math.ceil(threshold * num_hashes)
    wide = minhash_signatures_wide(df, id_col, text_col, n, num_hashes)
    est = signature_agreement(candidates, wide, num_hashes)
    screened = est.filter(F.col("n_agree") >= int(min_agree))
    verified = jaccard_pairs(
        df,
        id_col,
        text_col,
        n=n,
        threshold=threshold,
        candidates=screened.select("id_a", "id_b"),
        cache=cache,
    )
    return verified.join(screened, ["id_a", "id_b"]).select(
        "id_a", "id_b", "n_agree", "jaccard"
    )


#: Session memo for FINGERPRINT frames: the fingerprint rung and the
#: pair rung of each SimHash family (plus the star-capped variant)
#: build the identical vote pipeline — the memoized value is the tiny
#: (_id, simhash) frame, eagerly checkpointed, so siblings replay an
#: ids+long frame instead of re-paying the token explode + 16 vote
#: aggs. Fresh-data keys per operators/memo.py, unsafe keys run
#: unmemoized, stores are bounded LRUs.
_SIMHASH_MEMO = _SessionMemo("simhash")


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """Per-document SimHash over tokens (bit-vote fingerprint).

    Each token hashes (md5 → first bits of the digest); each bit votes
    +1/-1; the sign vector is the fingerprint. Near-dups differ in few
    bits. Output: (_id, simhash) as a bigint.

    Implemented entirely with higher-order array functions — one explode,
    one groupBy(_id); JVM-side throughout. The output frame is
    session-memoized (``_SIMHASH_MEMO``) so the fingerprint query and
    every pair rung share ONE vote pipeline run.
    """
    return _SIMHASH_MEMO.get_or(
        df.sparkSession,
        _SIMHASH_MEMO.key_for(df, "plain", id_col, text_col, bits),
        lambda: _simhash_run(df, id_col, text_col, bits),
        pin=True,
    )


def _simhash_run(
    df: DataFrame, id_col: str, text_col: str, bits: int
) -> DataFrame:
    """The un-memoized vote pipeline (see simhash).

    Token occurrences never cross an exchange: per-(doc, token) counts
    come from the row-local sort+RLE kernel (``doc_term_postings``), so
    the only shuffle is the per-doc vote aggregation over doc-term
    rows. A token with tf occurrences votes ±tf in one row — the same
    integer sum as tf separate ±1 votes."""
    from cmsspark_spark.functions.text import doc_term_postings

    tok = doc_term_postings(
        df, id_col, text_col, cols=("_id", "tok", "_dl", "_tf")
    ).select("_id", "tok", "_tf")
    # First 16 hex chars of md5 → low `bits` bits of a long.
    tok = tok.withColumn(
        "th", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    )
    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1,
                F.col("_tf"),
            ).otherwise(-F.col("_tf"))
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    voted = tok.groupBy("_id").agg(*votes)
    sim = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = bit if sim is None else sim + bit
    return voted.select("_id", sim.alias("simhash"))


def simhash_weighted(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """IDF-WEIGHTED SimHash (Charikar fingerprints with per-feature
    weights — the form the original paper defines; the unweighted
    :func:`simhash` is its w=1 special case): each token occurrence
    votes ±w on every bit, with ``w = floor(ln(1 + N/df)·1e6) + 1`` —
    integer micro-units of the token's idf, so a rare token outvotes
    boilerplate. Two docs sharing their RARE vocabulary land near each
    other even when their common filler differs, which is what makes
    weighted fingerprints materially better near-dup signals on
    template-heavy corpora.

    Engine parity: the weight is an integer (floor of the same float
    expression both engines evaluate identically; +1 keeps it
    positive), votes are integer sums (order-free), the sign rule is
    ``v > 0``. Plan shape: one (token) df-count shuffle, one token
    join (tokens, never raw text, cross the exchanges), one per-doc
    vote aggregation — same O(corpus tokens) as the unweighted form.
    Returns (_id, simhash bigint); feed to
    :func:`hamming_near_pairs` like every fingerprint here.
    Session-memoized like :func:`simhash` — the weighted fingerprint
    query and the weighted pair rung share one run.
    """
    return _SIMHASH_MEMO.get_or(
        df.sparkSession,
        _SIMHASH_MEMO.key_for(df, "weighted", id_col, text_col, bits),
        lambda: _simhash_weighted_run(df, id_col, text_col, bits),
        pin=True,
    )


def _simhash_weighted_run(
    df: DataFrame, id_col: str, text_col: str, bits: int
) -> DataFrame:
    """The un-memoized weighted vote pipeline (see simhash_weighted).

    Shuffle grain is (doc, term), never token occurrences: per-doc tf
    comes from the row-local RLE kernel (``doc_term_postings``), df is
    a plain count over the already-(doc,term)-distinct postings (no
    countDistinct Expand), and a term's tf occurrences vote as one
    ±tf·w row — the identical integer sum."""
    from cmsspark_spark.functions.text import doc_term_postings

    n_docs = df.count()
    tok = doc_term_postings(
        df, id_col, text_col, cols=("_id", "tok", "_dl", "_tf")
    ).select("_id", "tok", "_tf")
    dft = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
    w = (
        F.floor(
            F.log(F.lit(1.0) + F.lit(float(n_docs)) / F.col("_df"))
            * F.lit(1000000.0)
        )
        + F.lit(1)
    ).cast("long")
    tw = (
        tok.join(dft, "tok")
        .withColumn("_wv", F.col("_tf") * w)
        .withColumn(
            "th",
            F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long"),
        )
    )
    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1,
                F.col("_wv"),
            ).otherwise(-F.col("_wv"))
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    voted = tw.groupBy("_id").agg(*votes)
    sim = None
    for i in range(bits):
        bit = F.when(
            F.col(f"b{i}") > 0, F.lit(2**i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sim = bit if sim is None else sim + bit
    return voted.select("_id", sim.alias("simhash"))


def hamming_near_pairs(
    hashes: DataFrame,
    id_col: str = "_id",
    hash_col: str = "simhash",
    bits: int = 16,
    max_hamming: int = 2,
    star_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs among ANY per-item bit fingerprints by Hamming
    distance — the block-split (pigeonhole) candidate generator shared
    by text SimHash and perceptual image hashes: distance ≤ d ⇒ at
    least one of d+1 disjoint bit blocks is equal, so candidates come
    from a self-join per block on the block value, never all-pairs.
    Works on signed 64-bit fingerprints (shifts/xor/bit_count operate
    on the two's-complement pattern). Returns (id_a, id_b, hamming).

    ``star_cap`` bounds the output on IDENTICAL-fingerprint groups —
    the realistic hot bucket (m near-identical boilerplate docs hash
    to the same fingerprint, and every block join then emits all
    C(m,2) pairs). A group with more than ``cap`` members is
    star-reduced: members link to the group's minimum id with
    hamming 0 (identical fingerprints ARE mutually near-dup, distance
    exactly 0 — the reduction loses no uncertain information), and
    only that representative enters the block join, standing in for
    the group against the rest of the corpus (any external item is at
    the same distance from every member, so cross-group connectivity
    is preserved exactly and the pair graph's connected components
    are UNCHANGED — only the explicit pair list shrinks from O(m²) to
    O(m)). Groups at or under the cap keep today's full pair output;
    default ``None`` is the exact full semantics everywhere.
    """
    s = hashes.select(
        F.col(id_col).alias("_id"), F.col(hash_col).alias("_h")
    )
    star = None
    if star_cap is not None:
        cap = int(star_cap)
        w = Window.partitionBy("_h")
        sized = s.withColumn("_m", F.count(F.lit(1)).over(w)).withColumn(
            "_mn", F.min("_id").over(w)
        )
        star = sized.filter(
            (F.col("_m") > cap) & (F.col("_id") != F.col("_mn"))
        ).select(
            F.col("_mn").alias("id_a"),
            F.col("_id").alias("id_b"),
            F.lit(0).cast("integer").alias("hamming"),
        )
        s = sized.filter(
            (F.col("_m") <= cap) | (F.col("_id") == F.col("_mn"))
        ).select("_id", "_h")
    nblocks = max_hamming + 1
    block_bits = bits // nblocks
    blocks = []
    for bi in range(nblocks):
        width = block_bits if bi < nblocks - 1 else bits - block_bits * (nblocks - 1)
        val = F.shiftrightunsigned(F.col("_h"), bi * block_bits).bitwiseAND(
            F.lit((1 << width) - 1) if width < 63 else F.lit(2**63 - 1)
        )
        blocks.append(
            s.select("_id", "_h", F.lit(bi).alias("block"), val.alias("bval"))
        )
    stacked = blocks[0]
    for other in blocks[1:]:
        stacked = stacked.unionByName(other)
    a = stacked.select(
        F.col("_id").alias("id_a"), F.col("_h").alias("sh_a"), "block", "bval"
    )
    b = stacked.select(
        F.col("_id").alias("id_b"), F.col("_h").alias("sh_b"), "block", "bval"
    )
    cand = (
        a.join(b, on=["block", "bval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    out = (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    if star is not None:
        out = out.unionByName(star)
    return out


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16, max_hamming: int = 2
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance — the text instance
    of :func:`hamming_near_pairs` (same pigeonhole block join).
    Returns (id_a, id_b, hamming)."""
    s = simhash(df, id_col, text_col, bits)
    return hamming_near_pairs(
        s, "_id", "simhash", bits=bits, max_hamming=max_hamming
    )


#: Session-scoped memo for the propagation fixpoint: min-label
#: propagation is a pure function of the pair list, and SEVEN registry
#: consumers (components, survivors, survivor map, size histogram,
#: soft dedup, leakage audit, cluster-consistent split) build the
#: byte-identical LSH→Jaccard pair plan — without sharing, each pays
#: the full LSH + verify + propagation cost (~50 s of redundant work
#: at sf0.1; 7 full runs where 1 suffices at 100 TB). The memoized
#: value is the final labels frame, already pinned by the loop's
#: own pin_frame checkpoint, so a hit replays a tiny ids-only RDD —
#: clearCache() between queries does not touch it and its footprint
#: is O(nodes-with-a-near-dup), not corpus-sized. Fresh-data keys per
#: operators/memo.py (plan hash + leaf-file fingerprint), so an
#: appended/rewritten corpus re-propagates instead of serving stale
#: clusters.
_CC_MEMO = _SessionMemo("components")


def connected_components(
    pairs: DataFrame,
    left: str = "id_a",
    right: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Duplicate-cluster assignment: connected components over a
    near-dup pair graph by min-label propagation.

    LSH/Jaccard emit PAIRS; a dedup pipeline needs GROUPS (keep one
    survivor per component, drop the rest). Each node starts labeled
    with its own id; every round each node takes the min of its label
    and its neighbors' labels; at fixpoint the label is the component's
    minimum member id — the canonical survivor.

    Scale design: one shuffle per round (edge ⋈ label hash join +
    min-aggregate), rounds = O(component diameter) — near-dup clusters
    are shallow (stars/cliques around a template), so 3-5 rounds in
    practice. Lineage is truncated every round with an eager
    ``pin_frame`` checkpoint (reliable on request, for clusters), the
    standard Spark idiom for iterative graph algorithms; the
    convergence probe is a 1-row aggregate, not a collect of the data.

    The result is memoized per session on a fresh-data key
    (``_CC_MEMO``): every consumer of the same pair plan over the same
    underlying files shares one propagation run. The stored frame is
    already pinned by the loop's last round, so the memo does not pin
    it again.

    Returns (node, component) for every node appearing in ``pairs``.
    """
    return _CC_MEMO.get_or(
        pairs.sparkSession,
        _CC_MEMO.key_for(pairs, left, right, max_iters),
        lambda: _connected_components_run(pairs, left, right, max_iters),
    )


def _connected_components_run(
    pairs: DataFrame, left: str, right: str, max_iters: int
) -> DataFrame:
    """The un-memoized propagation loop (see connected_components)."""
    # Materialize the pair list ONCE before mirroring it: the union's
    # two branches would otherwise each re-execute the full upstream
    # plan (e.g. LSH + Jaccard verification), and every propagation
    # round would re-execute it again. A checkpoint (not persist) so
    # the upstream runs through normal adaptive execution; pin_frame
    # makes it reliable on request (executor-loss resilience).
    pairs = pin_frame(
        pairs.select(F.col(left).alias("src"), F.col(right).alias("dst"))
    )
    edges = pin_frame(
        pairs.union(pairs.select(F.col("dst"), F.col("src"))).distinct()
    )
    # no edges → no nodes: skip the propagation round entirely (an
    # ingest increment with no near-dup pairs otherwise pays a full
    # join+agg+checkpoint iteration just to discover convergence)
    if not edges.take(1):
        return edges.select(F.col("src").alias("node"), F.col("src").alias("component"))
    labels = edges.select("src").distinct().withColumn("component", F.col("src"))
    for _ in range(max_iters):
        nbr = (
            edges.join(labels.select("src", "component").withColumnRenamed("src", "dst"), on="dst")
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        # The changed-flag rides INSIDE the checkpointed frame: one
        # heavy job per round (the eager checkpoint), and the
        # convergence probe is then a cheap scan of the materialized
        # result — not a second execution of the join.
        labels = pin_frame(
            labels.join(nbr, on="src", how="left")
            .select(
                "src",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", "component")
                ).alias("new_component"),
                (
                    F.coalesce("nbr_min", F.col("component"))
                    < F.col("component")
                ).cast("int").alias("_chg"),
            )
            .withColumnRenamed("new_component", "component")
        )
        changed = labels.agg(F.sum("_chg").alias("c")).collect()[0]["c"]
        if not changed:
            return labels.select(F.col("src").alias("node"), "component")
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds"
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_chars: int = 1,
) -> DataFrame:
    """Line-level exact dedup (the C4 move: drop every repeated LINE
    across the corpus, keeping its first occurrence) and reassemble
    documents from their surviving lines in original order.

    Shape: posexplode lines (keeping line ordinals) → one hash-groupBy
    elects the global survivor per distinct line text (min (doc, pos) —
    deterministic) → survivors re-fold per document with
    ``array_sort``/``array_join`` over (pos, line) structs. Two
    shuffles total (line election, doc re-fold); the shuffle key is the
    md5 of the line, never the line text twice. Documents whose every
    line is elsewhere's duplicate come back EMPTY (text '') rather than
    vanishing — the caller decides the drop policy.

    Returns (id, text, n_lines_kept, n_lines_dropped).
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), r"\n")).alias("pos", "line"),
    ).filter(F.length(F.trim(F.col("line"))) >= min_line_chars)
    keyed = lines.withColumn("_h", F.md5(F.col("line")))
    w = Window.partitionBy("_h").orderBy(F.col(id_col).asc(), F.col("pos").asc())
    elected = keyed.withColumn("_rn", F.row_number().over(w))
    marked = elected.withColumn("_keep", F.col("_rn") == 1)
    return (
        marked.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_keep"),
                                F.struct(F.col("pos"), F.col("line")),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias(text_col),
            F.sum(F.col("_keep").cast("long")).alias("n_lines_kept"),
            F.sum((~F.col("_keep")).cast("long")).alias("n_lines_dropped"),
        )
    )


def repeated_span_stats(
    docs: DataFrame,
    window: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document repeated-span detection — the windowed-hash
    approximation of exact-substring dedup (Lee et al. 2022's
    ExactSubstr; the suffix-array construction is the single-machine
    exact method, sliding fixed-``window`` token hashes are the
    standard distributed approximation): every ``window``-token span is
    hashed; a span whose hash occurs in ≥2 DISTINCT documents is
    duplicated text. Returns per doc (n_windows, n_dup_windows,
    dup_ratio) — the "drop/trim docs that are mostly copied spans"
    gate a training pipeline runs between near-dup dedup and
    decontamination (line_dedup catches verbatim LINES; this catches
    verbatim RUNS that cross line boundaries or sit inside otherwise
    unique lines).

    Scale shape: the only thing shuffled is (hash, doc_id) pairs —
    never text; the global span census is one hash-keyed agg
    (boilerplate heavy-hitter hashes skew it — AQE skew-join handles
    the re-join; the census itself is a partial-agg count). Window
    hashing is row-local and ORDERED AROUND THE EXPLODE deliberately:
    the generator is a cheap index ``sequence`` and each window's
    ``xxhash64`` over the token slice is a plain projection AFTER the
    explode, so every window is hashed exactly once. The rejected
    form — project the whole hash array into a column, then explode
    it — pays a pathological re-evaluation of the expensive Project
    under Generate in this Spark build (measured ~20x at 10x scale;
    same effect reproduced on the n-gram explode with a 15x penalty).
    The hash never reaches the output, so the oracle groups on raw
    span text and agrees modulo 64-bit collisions.
    """
    w = int(window)
    tk = F.col("_tk")
    n_win = F.greatest(F.size(tk) - (w - 1), F.lit(0))
    win_idx = F.explode(
        F.when(n_win > 0, F.sequence(F.lit(1), n_win)).otherwise(
            F.array().cast("array<int>")
        )
    )

    base = docs.withColumn("_tk", tokens(F.col(text_col))).select(
        F.col(id_col), n_win.cast("long").alias("n_windows"), F.col("_tk")
    )
    spans = base.select(id_col, "_tk", win_idx.alias("_i")).select(
        id_col, F.xxhash64(F.slice("_tk", F.col("_i"), w)).alias("_h")
    )
    base = base.drop("_tk")
    dup_hashes = (
        spans.groupBy("_h")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("_h")
    )
    per_doc_dups = (
        spans.join(dup_hashes, on="_h", how="left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup_windows"))
    )
    return (
        base.join(per_doc_dups, on=id_col, how="left")
        .withColumn(
            "n_dup_windows", F.coalesce("n_dup_windows", F.lit(0)).cast("long")
        )
        .withColumn(
            "dup_ratio",
            F.round(
                F.when(
                    F.col("n_windows") > 0,
                    F.col("n_dup_windows") / F.col("n_windows"),
                ).otherwise(F.lit(0.0)),
                4,
            ),
        )
    )


def strip_repeated_spans(
    docs: DataFrame,
    window: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr-style span REMOVAL (Lee et al. 2022 §3: every
    duplicated substring keeps exactly ONE copy corpus-wide): windows
    whose hash occurs ≥2 times anywhere elect a global survivor
    occurrence (min (doc, pos) — content-deterministic); every other
    occurrence marks its [pos, pos+window) token interval for removal;
    per doc the intervals merge (overlapping dup windows from a long
    repeated run collapse to one island) and the text is rebuilt from
    the surviving ORIGINAL-CASE tokens (matching is case-insensitive —
    windows hash over lowercased tokens — but stripping never
    case-folds the corpus). Documents with nothing stripped keep their
    text byte-exact; stripped documents get single-space joins between
    surviving tokens.

    Distribution: one (hash → survivor election) aggregate and one
    hash-keyed semi-join carry (hash, doc, pos) triples — text never
    shuffles; interval merging, token masking and reassembly are
    row-local higher-order array expressions (``aggregate`` fold over
    the sorted intervals, ``exists`` mask per token). The election is
    a fixed-width sortable string min, so ties are impossible and the
    result is partition-count-independent. Same hash-after-explode
    economics as ``repeated_span_stats``: the generator is a cheap
    index sequence; the per-window ``xxhash64`` over the token slice
    is a projection AFTER the explode, never the generator itself.
    """
    w = int(window)
    tk = F.col("_tk")
    n_win = F.greatest(F.size(tk) - (w - 1), F.lit(0))
    win_idx = F.explode(
        F.when(n_win > 0, F.sequence(F.lit(0), n_win - 1)).otherwise(
            F.array().cast("array<int>")
        )
    )

    base = docs.select(F.col(id_col), F.col(text_col))
    occ = (
        docs.withColumn("_tk", tokens(F.col(text_col)))
        .select(F.col(id_col), F.col("_tk"), win_idx.alias("_pos"))
        .select(
            id_col,
            "_pos",
            F.xxhash64(F.slice("_tk", F.col("_pos") + 1, w)).alias("_h"),
        )
    )
    okey = F.format_string("%012d|%06d", F.col(id_col), F.col("_pos"))
    elect = (
        occ.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_cnt"), F.min(okey).alias("_keep"))
        .filter(F.col("_cnt") >= 2)
    )
    removal = (
        occ.join(elect, on="_h")
        .filter(okey != F.col("_keep"))
        .select(
            id_col,
            F.struct(
                F.col("_pos").alias("s"), (F.col("_pos") + w).alias("e")
            ).alias("_iv"),
        )
    )
    per_doc = removal.groupBy(id_col).agg(
        F.array_sort(F.collect_list("_iv")).alias("_ivs")
    )

    empty = F.array().cast("array<struct<s:int,e:int>>")
    merged = F.aggregate(
        F.col("_ivs"),
        empty,
        lambda acc, x: F.when(F.size(acc) == 0, F.array(x)).otherwise(
            F.when(
                x["s"] <= F.element_at(acc, -1)["e"],
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(
                        F.struct(
                            F.element_at(acc, -1)["s"].alias("s"),
                            F.greatest(
                                F.element_at(acc, -1)["e"], x["e"]
                            ).alias("e"),
                        )
                    ),
                ),
            ).otherwise(F.concat(acc, F.array(x)))
        ),
    )

    joined = base.join(per_doc, on=id_col, how="left").select(
        id_col,
        text_col,
        F.coalesce(merged, empty).alias("_isl"),
    )
    # Rebuild from ORIGINAL-CASE tokens: hashing tokenizes through
    # ``tokens()`` (lowercased, for case-insensitive span matching),
    # but ``lower()`` preserves whitespace, so the case-preserving
    # split below yields positionally identical tokens — the islands
    # index both the same way. Untouched documents (no span stripped)
    # keep their text BYTE-EXACT; documents that lost a span are
    # rebuilt with single-space joins between the surviving
    # original-case tokens (inter-token whitespace is normalized for
    # those rows only — the one deviation from a byte-exact rebuild,
    # inherent to token-level stripping).
    raw_tokens = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda t: t != ""
    )
    idx_tokens = F.transform(
        raw_tokens, lambda t, i: F.struct(t.alias("t"), i.alias("i"))
    )
    kept = F.filter(
        idx_tokens,
        lambda s: ~F.exists(
            F.col("_isl"), lambda m: (s["i"] >= m["s"]) & (s["i"] < m["e"])
        ),
    )
    removed_cnt = F.aggregate(
        F.col("_isl"), F.lit(0), lambda a, m: a + (m["e"] - m["s"])
    )
    # islands are merged and clipped to the token range by construction
    # (e ≤ len), so removed = Σ(e-s) never double-counts.
    return joined.select(
        id_col,
        F.when(
            removed_cnt > 0,
            F.concat_ws(" ", F.transform(kept, lambda s: s["t"])),
        )
        .otherwise(F.col(text_col))
        .alias(text_col),
        F.size(kept).cast("long").alias("n_tokens_kept"),
        removed_cnt.cast("long").alias("n_tokens_removed"),
    )


def near_dup_losers(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    policy: str = "min_id",
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """Ids to DROP after near-dup clustering: LSH candidates → verified
    Jaccard pairs → connected components → one elected survivor per
    cluster, everyone else returned as a loser list (one column,
    ``id_col``). Anti-join it against the corpus to realize the dedup.

    Survivor policies (both deterministic under repartitioning):

    - ``min_id``  — the component label itself (smallest member id);
    - ``longest`` — the member with the most tokens, ties → min id
      (the keep-longest quality policy of ``dedup_quality_survivors``).

    Shuffle economics: candidates/verification/components are the
    bucketed ids-only path; the election is one struct-max per
    component over the (tiny) cluster membership; the loser list is
    ids-only. Documents outside any cluster never appear.
    """
    from cmsspark_spark.functions.text import tokens as _tokens

    cand = minhash_lsh_pairs(
        docs, id_col, text_col,
        n=n, num_hashes=num_hashes, rows_per_band=rows_per_band,
        hot_bucket_cap=hot_bucket_cap,
    )
    pairs = jaccard_pairs(
        docs, id_col, text_col, n=n, threshold=threshold, candidates=cand
    )
    comp = connected_components(pairs, "id_a", "id_b")
    if policy == "min_id":
        # the component label IS the survivor
        losers = comp.filter(F.col("node") != F.col("component"))
        return losers.select(F.col("node").alias(id_col))
    if policy != "longest":
        raise ValueError(f"unknown survivor policy: {policy!r}")
    tc = docs.select(
        F.col(id_col).alias("node"),
        F.size(_tokens(F.col(text_col))).cast("long").alias("_nt"),
    )
    m = comp.join(tc, on="node")
    # Election: most tokens, ties -> min id. min(struct(-tokens, id))
    # negates only the NUMERIC token count, so ids merely need to be
    # orderable — the earlier max(struct(tokens, -id, id)) form
    # applied unary minus to the id itself and broke (null election /
    # AnalysisException) on string doc ids (r5 ADVICE).
    elect = m.groupBy("component").agg(
        F.min(
            F.struct(
                (-F.col("_nt")).alias("_k"), F.col("node").alias("_id")
            )
        )["_id"].alias("_survivor")
    )
    return (
        m.join(elect, on="component")
        .filter(F.col("node") != F.col("_survivor"))
        .select(F.col("node").alias(id_col))
    )


def explode_paragraphs(
    df: DataFrame,
    domain_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    para_split: str = r"\n{2,}",
    min_para_chars: int = 1,
) -> DataFrame:
    """Paragraph instance stream for domain-grain dedup: one row per
    (domain, doc, position, paragraph), paragraphs split on
    ``para_split`` (blank lines by default — the web-corpus
    convention) and trimmed-empty ones dropped. A narrow 1→N map —
    zero shuffle; every consumer hashes the paragraph immediately so
    paragraph TEXT never travels through an exchange."""
    return df.select(
        F.col(domain_col).alias("domain"),
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), para_split)).alias(
            "pos", "para"
        ),
    ).filter(F.length(F.trim(F.col("para"))) >= min_para_chars)


def _paragraph_hash_counts(paragraphs: DataFrame) -> DataFrame:
    """(domain, para_hash, n_docs, n_occurrences) over the paragraph
    instance stream. ONE shuffle, keyed (domain, md5(para)) — ids and
    hashes move, paragraph text never does; both counts are map-side-
    combinable."""
    return (
        paragraphs.select(
            "domain", "id", F.md5(F.col("para")).alias("para_hash")
        )
        .groupBy("domain", "para_hash")
        .agg(
            F.countDistinct("id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        )
    )


def domain_boilerplate_droplist(
    paragraphs: DataFrame, min_docs: int = 3
) -> DataFrame:
    """The RefinedWeb/CCNet boilerplate ELECTION at domain grain: a
    paragraph is boilerplate within a domain when it recurs in >=
    ``min_docs`` DISTINCT documents of that domain (nav bars, cookie
    banners, license footers — template text that per-document dedup
    can't see because each copy appears once per doc). Input is the
    ``explode_paragraphs`` stream (domain, id, pos, para); output is
    the drop-list (domain, para_hash, n_docs, n_occurrences).

    The drop-list is template-text-sized (bounded by distinct
    boilerplate per domain, not by corpus rows), so applying it is a
    broadcastable semi-join at any corpus size.
    """
    return _paragraph_hash_counts(paragraphs).filter(
        F.col("n_docs") >= min_docs
    )


def domain_boilerplate_report(
    paragraphs: DataFrame, min_docs: int = 3, checkpoint: bool = True
) -> DataFrame:
    """Per-domain boilerplate fractions — the table a corpus owner
    reads to decide which domains need template stripping before
    training: paragraph instances, distinct paragraphs, elected
    boilerplate groups (>= ``min_docs`` distinct docs), the fraction
    of the domain's paragraph stream that is boilerplate, and how
    many documents carry at least one elected paragraph.

    The (domain, hash) count table feeds BOTH the per-domain rollup
    and the docs-affected semi-join, so it is localCheckpoint'ed
    (lazily) per the multi-consumer rule — without it the corpus-wide
    hash aggregation would recompute once per consumer. The
    docs-affected join reuses the (domain, para_hash) key the counts
    are already partitioned on.
    Returns (domain, n_para_instances, n_distinct_paras,
    n_boiler_paras, boiler_instances, boilerplate_frac,
    n_docs_affected).
    """
    ph = _paragraph_hash_counts(paragraphs)
    if checkpoint:
        ph = ph.localCheckpoint(eager=False)
    boiler = F.col("n_docs") >= min_docs
    agg = ph.groupBy("domain").agg(
        F.sum("n_occurrences").cast("long").alias("n_para_instances"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_paras"),
        F.sum(boiler.cast("long")).cast("long").alias("n_boiler_paras"),
        F.coalesce(
            F.sum(F.when(boiler, F.col("n_occurrences"))), F.lit(0)
        )
        .cast("long")
        .alias("boiler_instances"),
    )
    aff = (
        paragraphs.select(
            "domain", "id", F.md5(F.col("para")).alias("para_hash")
        )
        .join(
            ph.filter(boiler).select("domain", "para_hash"),
            on=["domain", "para_hash"],
            how="left_semi",
        )
        .groupBy("domain")
        .agg(F.countDistinct("id").cast("long").alias("n_docs_affected"))
    )
    return agg.join(aff, on="domain", how="left").select(
        "domain",
        "n_para_instances",
        "n_distinct_paras",
        "n_boiler_paras",
        "boiler_instances",
        F.round(
            F.col("boiler_instances") / F.col("n_para_instances"), 6
        ).alias("boilerplate_frac"),
        F.coalesce("n_docs_affected", F.lit(0))
        .cast("long")
        .alias("n_docs_affected"),
    )


def domain_boilerplate_strip(
    df: DataFrame,
    domain_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 3,
    para_split: str = r"\n{2,}",
    para_join: str = "\n\n",
) -> DataFrame:
    """Apply the domain boilerplate election: drop EVERY occurrence of
    an elected paragraph (unlike line_dedup's keep-first — template
    text carries no information in any copy) and reassemble each doc
    from its surviving paragraphs in original order. Docs reduced to
    nothing come back with text '' — the caller decides drop policy.

    Two shuffles beyond the election: the left_anti against the
    drop-list reuses the (domain, para_hash) key (and the drop-list
    side is auto-broadcast when small), then one doc-grain re-fold.
    Returns (domain, id, text, n_paras_kept, n_paras_dropped).
    """
    paras = explode_paragraphs(
        df, domain_col, id_col, text_col, para_split
    ).withColumn("para_hash", F.md5(F.col("para")))
    drop = domain_boilerplate_droplist(paras, min_docs=min_docs).select(
        "domain", "para_hash"
    )
    marked = paras.join(drop, on=["domain", "para_hash"], how="left_anti")
    kept = marked.groupBy("domain", "id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("para")))
                ),
                lambda s: s["para"],
            ),
            para_join,
        ).alias(text_col),
        F.count(F.lit(1)).cast("long").alias("n_paras_kept"),
    )
    totals = paras.groupBy("domain", "id").agg(
        F.count(F.lit(1)).cast("long").alias("_n_total")
    )
    return (
        totals.join(kept, on=["domain", "id"], how="left")
        .select(
            F.col("domain").alias(domain_col),
            F.col("id").alias(id_col),
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            F.coalesce("n_paras_kept", F.lit(0)).alias("n_paras_kept"),
            (F.col("_n_total") - F.coalesce("n_paras_kept", F.lit(0)))
            .cast("long")
            .alias("n_paras_dropped"),
        )
    )


def soft_dedup_keep(
    df: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
    coin_mod: int = 10000,
) -> DataFrame:
    """Soft (frequency-weighted) dedup: instead of hard-dropping every
    non-survivor, keep each member of a near-dup cluster with
    probability 1/cluster_size — one expected survivor per cluster,
    but WHICH copy survives varies per cluster, removing the frequency
    skew duplicates induce in a training mix while keeping the
    survivor choice unbiased (the soft variant of the cluster election
    in ``near_dup_losers``; cf. the duplication-aware downsampling
    line of work around "Deduplicating Training Data Makes Language
    Models Better" / D4).

    The coin is the deterministic content-keyed hash used everywhere
    else in this package (``functions/text.int_base_hash`` of the id):
    keep iff ``hash(id) % coin_mod < floor(coin_mod / n_members)`` —
    reproducible across engines, re-shards and reruns, and
    oracle-checkable, unlike ``df.sample``.

    ``components`` is a (node, component) frame from
    ``connected_components``; rows of ``df`` absent from it are
    singletons (n_members = 1, always kept).

    Plan: cluster sizes are a component-grain aggregate of the (tiny)
    membership table; the corpus sees ONE left broadcast-able join on
    id and a narrow filter — no corpus shuffle beyond that join when
    the membership frame is broadcast.

    Returns (id_col, n_members, kept).
    """
    from cmsspark_spark.functions.text import int_base_hash

    sizes = components.groupBy("component").agg(
        F.count(F.lit(1)).alias("_n")
    )
    membership = components.join(sizes, "component").select(
        F.col("node").alias(id_col), F.col("_n")
    )
    out = df.select(id_col).join(F.broadcast(membership), id_col, "left")
    n = F.coalesce(F.col("_n"), F.lit(1)).cast("long")
    coin = int_base_hash(F.col(id_col).cast("string")) % coin_mod
    return out.select(
        id_col,
        n.alias("n_members"),
        (coin < F.floor(F.lit(float(coin_mod)) / n)).alias("kept"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    min_df: int = 2,
    max_df: int = 5,
) -> DataFrame:
    """ASYMMETRIC n-gram containment: |A∩B| / |A| per direction — the
    doc-nested-in-doc detector. A short document quoted wholesale
    inside a much larger one has Jaccard ≈ |A|/|B| (tiny) but
    containment ≈ 1, so the symmetric MinHash/Jaccard dedup path
    structurally misses it; this operator is the complement that
    catches quotes, boilerplate wrappers and subset re-posts.

    Candidate generation is RARE-SHINGLE BLOCKING, not LSH (MinHash
    band collision probability tracks Jaccard, so it also misses
    low-Jaccard/high-containment pairs): two docs become a candidate
    iff they share a shingle with document frequency in
    [``min_df``, ``max_df``]. Shingles rarer than ``min_df`` pair
    nothing; more frequent than ``max_df`` are blocked from pairing
    (but still counted in the exact verification), which caps the
    per-shingle self-join at ``max_df²`` pairs — the standard
    blocking bound that keeps the join linear-ish at corpus scale.
    Trade-off (documented, tested): a pair whose ONLY shared shingles
    are ubiquitous (df > max_df) is not discovered.

    Shuffle economics mirror ``jaccard_pairs``: shingles travel as
    xxhash64 cells carrying their doc's set size — ids and 8-byte
    hashes shuffle, text never does. Verification is restricted to
    candidates (join on id_a's shingles, match on (id_b, shingle)).

    Returns (id_a, id_b, n_common, n_a, n_b, containment_a,
    containment_b, direction) with id_a < id_b and
    max(containment) ≥ threshold; containment_a = |A∩B|/|A|
    ("how much of A is inside B"), direction = which doc is the
    (mostly) contained one.
    """
    from pyspark import StorageLevel

    from cmsspark_spark.functions.text import shingle_frame

    sh = (
        shingle_frame(df, id_col, text_col, n, ("_id", "_arr"))
        .select("_id", F.size("_arr").alias("n_sh"), F.explode("_arr").alias("shingle"))
        .select("_id", "n_sh", F.xxhash64("shingle").alias("shingle"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter((F.col("_df") >= min_df) & (F.col("_df") <= max_df))
        .select("shingle")
    )
    a = sh.select(F.col("_id").alias("id_a"), F.col("n_sh").alias("n_a"), "shingle")
    b = sh.select(F.col("_id").alias("id_b"), F.col("n_sh").alias("n_b"), "shingle")
    cand = (
        a.join(rare, "shingle")
        .join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    pairs = cand.join(a, "id_a").join(b, ["id_b", "shingle"])
    common = pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
    )
    ca = F.col("n_common") / F.col("n_a")
    cb = F.col("n_common") / F.col("n_b")
    return (
        common.filter(F.greatest(ca, cb) >= threshold)
        .select(
            "id_a",
            "id_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(ca, 4).alias("containment_a"),
            F.round(cb, 4).alias("containment_b"),
            F.when(ca >= cb, F.lit("a_in_b"))
            .otherwise(F.lit("b_in_a"))
            .alias("direction"),
        )
    )
