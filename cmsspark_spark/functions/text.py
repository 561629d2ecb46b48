"""Text-analysis column expressions for training-data pipelines.

Beyond-reference operators (SURVEY §7.2 M8): tokenization, token
counting, quality features, stopword ratios, language-ID heuristic, and
document fingerprinting — all pure Catalyst expressions (no Python UDFs)
so they run JVM-side at 100 TB scale. Every expression here has a
line-for-line ANSI-SQL equivalent used by the DuckDB oracle tests.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# Small, deterministic marker-word lists for the language-ID heuristic.
# Real pipelines plug in fastText etc.; the heuristic's value here is the
# distributed shape: per-token scoring without leaving the JVM.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "la", "los", "y", "es"),
}

EN_STOPWORDS = ("the", "a", "an", "of", "and", "or", "is", "in", "to", "it")


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization after lowercasing; drops empty tokens."""
    return F.filter(F.split(F.lower(_c(text)), r"\s+"), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


#: 1-based start offsets of each distinct-token run in the sorted
#: token array ``_st`` (empty-array guard: sequence(1, 0) would
#: generate a DESCENDING ramp, not an empty one).
_RUN_STARTS = (
    "if(size(_st) = 0, array(), "
    "filter(sequence(1, size(_st)), "
    "i -> i = 1 OR element_at(_st, i) != element_at(_st, i - 1)))"
)

#: (token, tf) per run: the token at the run's start; tf = next run's
#: start (or array end + 1) minus this start.
_RUN_COUNTS = (
    "transform(_starts, (s, j) -> struct("
    "element_at(_st, s) AS _t, "
    "coalesce(try_element_at(_starts, j + 2), size(_st) + 1) - s AS _tf))"
)


def doc_term_postings(
    df,
    id_col: str,
    text_col: str,
    cols: tuple[str, str, str, str] = ("_doc", "_t", "_dl", "_tf"),
):
    """(doc, term, doc_len, term_frequency) postings — computed
    ROW-LOCALLY (tokenize and count each document inside one
    ``mapInArrow`` batch kernel) instead of the explode-then-
    ``groupBy(doc, term)`` shape, which shuffles every token occurrence
    across the cluster just to count duplicates that all live in the
    same row. At corpus scale that token-level Exchange is the dominant
    byte-mover of any postings build; here it disappears outright
    (guide §2.4).

    The kernel is ``arrow_text.doc_term_postings_arrow``; its Catalyst
    twin (sort the token array, run-length encode it, explode the runs)
    lives only in tests/test_arrow_text_parity.py, which pins the two
    bit-identical for every id type. The doc id keeps the input's type.
    The output is not hash-partitioned by (doc, term) — every
    downstream consumer aggregates by term or by (query, doc) and
    shuffles to its own key anyway."""
    from cmsspark_spark.functions.arrow_text import doc_term_postings_arrow

    return doc_term_postings_arrow(df, id_col, text_col, cols)


def stopword_ratio(text: Column | str, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    """Fraction of tokens that are stopwords (quality-scoring feature)."""
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def mean_token_length(text: Column | str) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_features(text: Column | str) -> dict[str, Column]:
    """Bundle of cheap quality-scoring features (length/stopword/shape)."""
    t = _c(text)
    return {
        "n_chars": F.length(t),
        "n_tokens": token_count(t),
        "mean_token_len": mean_token_length(t),
        "stopword_ratio": stopword_ratio(t),
    }


def lang_marker_hits(text: Column | str, lang: str) -> Column:
    """Count of tokens matching `lang`'s marker words."""
    markers = LANG_MARKERS[lang]
    return F.size(F.filter(tokens(text), lambda t: t.isin(*markers)))


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID: argmax of marker-word hit counts.

    Ties (incl. all-zero) resolve to the lexicographically first language
    code, making the expression fully deterministic and therefore
    oracle-testable.
    """
    t = _c(text)
    scored = F.array(
        *[
            F.struct(
                lang_marker_hits(t, lang).alias("hits"),
                F.lit(lang).alias("lang"),
            )
            for lang in sorted(LANG_MARKERS)
        ]
    )
    # array_max on struct uses field-order comparison: hits desc wins; on
    # equal hits the *larger* lang string wins, so invert by sorting desc
    # on (hits, negated-rank). Simpler: reduce with an explicit comparator.
    best = F.aggregate(
        scored,
        F.struct(F.lit(-1).alias("hits"), F.lit("").alias("lang")),
        lambda acc, x: F.when(x["hits"] > acc["hits"], x).otherwise(acc),
    )
    return best["lang"]


#: BPE-ish token pattern: runs of alphanumerics OR single non-space
#: punctuation — the shape BPE pre-tokenizers (GPT-2 style) split on.
BPE_TOKEN_RE = r"[a-z0-9]+|[^a-z0-9\s]"


def bpe_tokens(text: Column | str) -> Column:
    """Regex pre-tokenization (lowercased): word runs + punctuation
    singletons. A deterministic stand-in for a real BPE vocab merge —
    the *count* tracks BPE token counts closely for English text."""
    return F.regexp_extract_all(F.lower(_c(text)), F.lit(BPE_TOKEN_RE), 0)


def bpe_token_count(text: Column | str) -> Column:
    return F.size(bpe_tokens(text))


#: Rolling-hash constants: base/modulus chosen so acc*B + x < 2^63
#: always (P < 2^31, B = 131 → acc*B < 2^39) — safe in Spark longs AND
#: DuckDB BIGINT (which errors on overflow instead of wrapping).
ROLLING_B = 131
ROLLING_P = (1 << 31) - 1
_BASE_MOD = 1 << 31


def int_base_hash(col: Column) -> Column:
    """31-bit integer hash of a string (md5-prefix fold): the shared
    base for rolling fingerprints AND MinHash permutations. Identically
    expressible in DuckDB (('0x'||substring(md5(x),1,15))::BIGINT %
    2147483648) — the oracle-parity-critical formula lives ONLY here."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long") % _BASE_MOD


def rolling_fingerprint(text: Column | str) -> Column:
    """Polynomial rolling hash over the token stream:
    ``acc_{i+1} = (acc_i * B + hash(tok_i)) mod P``.

    Order-sensitive (unlike a bag-of-tokens hash) and incremental — the
    classic document fingerprint for dedup at scale. Empty token
    streams hash to 0. Pure Catalyst fold via ``F.aggregate``.
    """
    bases = F.transform(tokens(text), int_base_hash)
    return F.aggregate(
        bases,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * ROLLING_B + x) % ROLLING_P,
    )


def fingerprint(text: Column | str) -> Column:
    """Canonical-form document fingerprint: md5 of the normalized token
    stream. Identical token sequences (ignoring case/whitespace) collide —
    the classic dedup fingerprint."""
    return F.md5(F.concat_ws(" ", tokens(text)))


def raw_ngrams(toks: Column, n: int) -> Column:
    """Order-preserving word n-gram list (duplicates kept) over a token
    array. Token streams shorter than ``n`` collapse to one degenerate
    gram (the full join), so no document yields an empty list."""
    k = F.size(toks)
    return F.transform(
        F.sequence(F.lit(0), F.greatest(k - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )


def shingle_frame(
    df,
    id_col: str,
    text_col: str,
    n: int = 3,
    cols: tuple[str, str] = ("_id", "_arr"),
):
    """(id, distinct-shingle array) frame — the starting point of every
    MinHash/Jaccard/containment/decontamination consumer.

    The kernel is ``arrow_text.distinct_shingles_arrow``, one
    ``mapInArrow`` batch kernel; the Catalyst ``shingles()`` chain is
    interpreted HOFs (measured ~3.1 s of a 9.4 s components query at
    local[8], plus the big expression tree every consumer's optimizer
    pass re-walks) and now serves only as the equality reference in
    tests/test_arrow_text_parity.py. The id keeps the input's type."""
    from cmsspark_spark.functions.arrow_text import distinct_shingles_arrow

    return distinct_shingles_arrow(df, id_col, text_col, n, cols)


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct), the MinHash/Jaccard unit.

    Documents shorter than ``n`` tokens produce their full token join as
    a single shingle, so no document is silently dropped.
    """
    return F.array_distinct(raw_ngrams(tokens(text), n))


def _top_fraction(grams: Column, denom: Column) -> Column:
    """Fraction of ``denom`` taken by the most frequent element of
    ``grams``: sort, then fold for the longest equal-run — O(n log n)
    row-local array work per document (the naive distinct×filter count
    is quadratic: measured 22s vs <1s on the sf0.1 corpus)."""
    top = F.aggregate(
        F.array_sort(grams),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return top / F.greatest(denom, F.lit(1))


def repetition_features(text: Column | str) -> dict[str, Column]:
    """Gopher-style within-document repetition signals (quality
    filters for training corpora; Rae et al. 2021 §A1.1):

    - ``dup_token_ratio``  — 1 − distinct/total tokens
    - ``top_token_frac``   — fraction of tokens that are the single most
      frequent token
    - ``top_bigram_frac``  — fraction of bigram slots taken by the most
      frequent bigram

    All pure row-local array expressions — no explode, no shuffle; a
    quality-filter pass over 100 TB stays a narrow map.
    """
    toks = tokens(text)
    k = F.greatest(F.size(toks), F.lit(1))
    bigrams = raw_ngrams(toks, 2)
    return {
        "dup_token_ratio": F.lit(1.0) - F.size(F.array_distinct(toks)) / k,
        "top_token_frac": _top_fraction(toks, F.size(toks)),
        "top_bigram_frac": _top_fraction(bigrams, F.size(bigrams)),
    }


#: PII patterns (RE2-safe: identical semantics in Spark's Java regex and
#: DuckDB, so redaction is oracle-testable). Deliberately conservative.
#: Order matters: IPv4 before phone — dotted quads also match the
#: looser phone shape.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    (r"\+?[0-9][0-9() .-]{7,}[0-9]", "<PHONE>"),
)


def pii_redact(text: Column | str) -> Column:
    """Replace email / phone-shaped / IPv4 substrings with typed
    placeholder tags — the standard pre-training scrub pass. Chained
    ``regexp_replace`` (replace-all), entirely JVM-side."""
    out = _c(text)
    for pat, tag in PII_PATTERNS:
        out = F.regexp_replace(out, pat, tag)
    return out


def hash_split(key: Column | str, boundaries: dict[str, int]) -> Column:
    """Deterministic content-keyed train/val/test assignment.

    ``boundaries`` maps label → exclusive upper percentile, e.g.
    ``{"train": 80, "val": 90, "test": 100}``: a row lands in the first
    label whose bound exceeds ``md5-hash(key) mod 100``. Content-keyed
    (hash of the key column, not row position) so the split is stable
    under re-sharding, re-ordering, and incremental appends — the
    property a training pipeline needs for leak-free splits.
    """
    bucket = int_base_hash(_c(key)) % 100
    expr: Column | None = None
    for label, bound in sorted(boundaries.items(), key=lambda kv: kv[1]):
        cond = bucket < bound
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    assert expr is not None, "boundaries must be non-empty"
    return expr.otherwise(F.lit(None))


def hash_sample(key: Column | str, fraction: float) -> Column:
    """Deterministic content-keyed sampling predicate: keep a row iff
    ``md5-hash(key) mod 10000 < fraction*10000``. Unlike ``df.sample``
    (seed- and partition-dependent, irreproducible across engines or
    re-shards) the kept set is a pure function of the data — the
    downsampling a training pipeline can re-run identically anywhere.
    Basis-point granularity; composable: ``hash_sample(k, 0.1)`` keeps a
    subset of ``hash_sample(k, 0.2)``'s rows.
    """
    return int_base_hash(_c(key)) % 10000 < int(round(fraction * 10000))


#: Markup-stripping patterns (C4-style cleanup; Raffel et al. 2020 §2.2
#: strip lines that are boilerplate): HTML tags, then bare URLs. RE2-safe
#: so Spark and DuckDB agree (oracle-testable).
MARKUP_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"<[^>]{1,200}>", " "),                      # HTML/XML tags
    (r"https?://[^\s]+", " "),                    # bare URLs
    (r"&(amp|lt|gt|quot|nbsp);", " "),            # common entities
)


def strip_markup(text: Column | str) -> Column:
    """Remove HTML tags, bare URLs and common entities, then collapse
    runs of whitespace — the standard pre-tokenization cleanup pass.
    Chained ``regexp_replace``, entirely JVM-side."""
    out = _c(text)
    for pat, repl in MARKUP_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def collapse_token_runs(text: Column | str) -> Column:
    """Collapse each run of consecutively repeated tokens to a single
    occurrence ("the the the" -> "the") — the stutter/generation-loop
    cleanup that global line dedup cannot express (it removes lines
    repeated ANYWHERE; this removes only ADJACENT repeats, preserving
    legitimate reuse elsewhere in the document). Pure row-local array
    expression: an index-aware ``filter`` keeping token i iff it is
    the first token or differs from token i-1 — codegen'd, zero
    shuffle, no UDF."""
    tk = tokens(text)
    # element_at is 1-based, so tk[i] is the PREVIOUS token for the
    # 0-based lambda index i; greatest(i, 1) keeps the index legal at
    # i = 0 (OR does not short-circuit inside codegen) — the i == 0
    # disjunct already decides that row.
    return F.filter(
        tk,
        lambda t, i: (i == F.lit(0))
        | (t != F.element_at(tk, F.greatest(i, F.lit(1)))),
    )
