"""Parity gate for the Arrow text kernels (round 14, VERDICT item 3).

The ``mapInArrow`` kernels in ``functions/arrow_text.py`` are the only
implementation of three oracle-checked paths (the postings build behind
every BM25 query, the shingle frame behind every MinHash/Jaccard
consumer, the featurize stage behind the logreg quality family). They
replaced interpreted Catalyst HOF chains and are only admissible
because their output is BIT-IDENTICAL to those forms — which live on
below as the reference. These tests pin that contract for bigint, int
and string ids on an adversarial corpus (unicode case-mapping cliffs,
exotic whitespace, null/empty/degenerate docs) plus the real test
corpus.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cmsspark_spark.functions.text import (
    _RUN_COUNTS,
    _RUN_STARTS,
    doc_term_postings,
    int_base_hash,
    raw_ngrams,
    shingle_frame,
    shingles,
    tokens,
)
from cmsspark_spark.operators.pipeline import logreg_hashed_features

from tests.conftest import SF_SMOKE

# The cliffs that break naive reimplementations:
# - Java/Catalyst \s is ASCII-only: NBSP (\xa0), U+2028, U+3000 must
#   NOT split; \x0b (vertical tab) MUST.
# - Full Unicode case mapping: İ -> i + combining dot (TWO codepoints),
#   ẞ -> ß, ǅ -> ǆ (titlecase digraph), Σ final-sigma context.
# - Degenerate docs: null, empty, whitespace-only, single token.
ADVERSARIAL = [
    (1, None),
    (2, ""),
    (3, "   "),
    (4, " \t\n\x0b\f\r "),
    (5, "Hello WORLD hello HELLO world"),
    (6, "a\xa0b c d e　f"),          # exotic WS: no split
    (7, "a\x0bb c\td e\rf g\nh"),             # ASCII WS: splits
    (8, "İstanbul STRASSE ẞ ǅungla ǄUNGLA"),  # full case mapping
    (9, "ΣΊΣΥΦΟΣ ΟΔΥΣΣΕΥΣ"),                  # final sigma
    (10, "singleton"),
    (11, "!!! ... ??? ,,,"),
    (12, "x " * 300 + "y z y z x"),
    (13, "naïve NAÏVE café CAFÉ ß ẞ"),
    (14, "数据 处理 数据 管道"),
    (15, "🎉 emoji 🎉 EMOJI tokens 🎉"),
    (16, "MixedCASE mixedcase MIXEDCASE"),
]


@pytest.fixture(scope="module")
def adversarial_df(spark):
    return spark.createDataFrame(ADVERSARIAL, "doc_id long, text string")


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_kernel_tokens_match_catalyst(spark, adversarial_df):
    """Python re-split + str.lower() == Catalyst split(lower, \\s+)
    token-for-token on every adversarial doc (the pinned JVM
    semantics the kernels' docstrings promise)."""
    import re

    split = re.compile("[ \t\n\x0b\f\r]+")
    got = {
        r["doc_id"]: r["toks"]
        for r in adversarial_df.select(
            "doc_id", tokens("text").alias("toks")
        ).collect()
    }
    for doc_id, tx in ADVERSARIAL:
        expected = (
            None
            if tx is None
            else [w for w in split.split(tx.lower()) if w]
        )
        assert got[doc_id] == expected, (doc_id, tx)


def test_kernel_bucket_hash_matches_int_base_hash(spark, adversarial_df):
    """The kernel's md5-prefix fold == Catalyst int_base_hash
    digit-for-digit on every adversarial token and gram."""
    from hashlib import md5

    toks = adversarial_df.select(
        F.explode(tokens("text")).alias("g")
    ).union(
        adversarial_df.select(F.lit("").alias("g"))
    ).union(
        adversarial_df.select(
            F.concat_ws(" ", F.slice(tokens("text"), 1, 2)).alias("g")
        ).where(F.col("g").isNotNull())
    )
    rows = toks.select("g", int_base_hash(F.col("g")).alias("h")).collect()
    assert rows
    for r in rows:
        py = int(md5(r["g"].encode("utf-8")).hexdigest()[:15], 16) % 2147483648
        assert py == r["h"], r["g"]


# --- Catalyst references -------------------------------------------------
# The pure-Catalyst forms the kernels replaced, kept here as the equality
# oracle (the production path runs only the Arrow kernels).


def _postings_sql(df, id_col, text_col, cols=("_doc", "_t", "_dl", "_tf")):
    """Sort the token array, run-length encode it, explode the runs."""
    d, t, dl, tf = cols
    return (
        df.select(
            F.col(id_col).alias(d),
            F.array_sort(tokens(text_col)).alias("_st"),
        )
        .withColumn("_starts", F.expr(_RUN_STARTS))
        .select(
            d,
            F.size("_st").alias(dl),
            F.explode(F.expr(_RUN_COUNTS)).alias("_p"),
        )
        .select(
            d,
            F.col("_p._t").alias(t),
            F.col(dl),
            F.col("_p._tf").cast("long").alias(tf),
        )
    )


def _shingle_frame_sql(df, id_col, text_col, n, cols=("_id", "_arr")):
    x, y = cols
    return df.select(F.col(id_col).alias(x), shingles(text_col, n).alias(y))


def _logreg_features_sql(df, label_flag, text_col, id_col, n_buckets):
    """Hashed unigram+bigram bucket counts by sort+RLE, plus the
    intercept bucket — logreg_hashed_features before the repartition."""
    toks = tokens(text_col)
    grams = F.concat(raw_ngrams(toks, 1), raw_ngrams(toks, 2))
    counts = (
        df.select(
            F.col(id_col).alias("_id"),
            label_flag.cast("double").alias("_y"),
            F.array_sort(
                F.transform(grams, lambda g: int_base_hash(g) % n_buckets)
            ).alias("_st"),
        )
        .withColumn("_starts", F.expr(_RUN_STARTS))
        .select("_id", "_y", F.explode(F.expr(_RUN_COUNTS)).alias("_p"))
        .select(
            "_id",
            F.col("_p._t").cast("long").alias("_b"),
            "_y",
            F.col("_p._tf").cast("long").alias("_c"),
        )
    )
    intercept = df.select(
        F.col(id_col).alias("_id"),
        F.lit(n_buckets).alias("_b"),
        label_flag.cast("double").alias("_y"),
        F.lit(1).cast("long").alias("_c"),
    )
    return counts.unionByName(intercept)


#: (source, id type) cases: the kernels carry the id column's type
#: through. bigint — what both sources carry — keeps the bare source
#: id; the other id types run on the adversarial corpus only.
CASES = [
    pytest.param("adversarial", "bigint", id="adversarial"),
    pytest.param("adversarial", "int", id="adversarial-int"),
    pytest.param("adversarial", "string", id="adversarial-string"),
    pytest.param("corpus", "bigint", id="corpus"),
]


@pytest.fixture
def source_df(adversarial_df, corpus_df, source, id_type):
    df = adversarial_df if source == "adversarial" else corpus_df
    return df.select(
        F.col("doc_id").cast(id_type).alias("doc_id"), "text"
    )


def _schema(df):
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


@pytest.mark.parametrize("source,id_type", CASES)
def test_doc_term_postings_arrow_matches_sql(spark, source_df, id_type):
    arrow = doc_term_postings(source_df, "doc_id", "text")
    sql = _postings_sql(source_df, "doc_id", "text")
    assert _schema(arrow) == _schema(sql)
    assert arrow.schema["_doc"].dataType.simpleString() == id_type
    assert _rows(arrow) == _rows(sql)


@pytest.mark.parametrize("source,id_type", CASES)
def test_logreg_features_arrow_matches_sql(spark, source_df, id_type):
    label = (F.coalesce(F.length("text"), F.lit(0)) % 2 == 0).cast("int")
    arrow = logreg_hashed_features(
        source_df, label, text_col="text", id_col="doc_id"
    )
    sql = _logreg_features_sql(source_df, label, "text", "doc_id", 256)
    try:
        assert _schema(arrow) == _schema(sql)
        assert arrow.schema["_id"].dataType.simpleString() == id_type
        assert _rows(arrow) == _rows(sql)
    finally:
        arrow.unpersist()


@pytest.mark.parametrize("n", [2, 3, 5])
@pytest.mark.parametrize("source,id_type", CASES)
def test_shingle_frame_arrow_matches_sql(spark, source_df, id_type, n):
    """distinct_shingles_arrow == select(id, shingles(text, n))
    value-for-value INCLUDING array element order (array_distinct's
    first-occurrence order) and the degenerate short-doc / empty-doc
    collapse rules."""
    arrow = shingle_frame(source_df, "doc_id", "text", n)
    sql = _shingle_frame_sql(source_df, "doc_id", "text", n)
    assert _schema(arrow) == _schema(sql)
    assert arrow.schema["_id"].dataType.simpleString() == id_type
    got = {r["_id"]: r["_arr"] for r in arrow.collect()}
    exp = {r["_id"]: r["_arr"] for r in sql.collect()}
    assert got == exp
