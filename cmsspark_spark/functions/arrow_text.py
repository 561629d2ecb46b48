"""Arrow batch kernels for the tokenize-heavy text operators.

The postings / shingle / hashed-gram builders
(``text.doc_term_postings``, ``text.shingle_frame``,
``pipeline.logreg_hashed_features``) run these ``mapInArrow`` kernels
and nothing else. Their Catalyst forms were chains of higher-order
array functions (array_sort, transform, filter, aggregate) — HOFs never
enter whole-stage codegen, so every row paid an interpreted walk per
expression (measured: ~4.6 s postings / ~6.7 s featurize at sf0.1 for
work a native batch kernel does in <0.5 s). The kernels follow guide
§4.2: Spark keeps distribution and I/O, each task hand-processes whole
Arrow batches. The Catalyst forms now live only in
``tests/test_arrow_text_parity.py``, as the equality reference.

PARITY CONTRACT: output rows are BIT-IDENTICAL to the Catalyst forms —
integer counts and bucket ids only, no floats. The token semantics are
pinned to the JVM's:

- split on Java ``\\s+`` = ``[ \\t\\n\\x0B\\f\\r]+`` EXACTLY (Python's
  ``\\s`` is Unicode-wide and WRONG here: NBSP/U+2028 must NOT split);
- ``str.lower()`` — CPython implements the same locale-independent
  FULL Unicode case mapping as the JVM's ``toLowerCase()`` (İ→i̇ two
  codepoints, ẞ→ß, ǅ→ǆ; verified against Spark in
  tests/test_arrow_text_parity.py). DuckDB's ``lower`` was rejected
  for this kernel precisely because it applies SIMPLE mappings
  (İ→i, measured divergence);
- the gram hash replicates ``text.int_base_hash`` digit-for-digit:
  ``int(md5(utf8)[:15 hex], 16) % 2**31``;
- null/empty/whitespace-only documents produce NO postings rows,
  matching the Catalyst explode of an empty runs array (pinned by the
  parity tests' adversarial corpus).

Ids are carried, never converted: each kernel gathers the input id
column with ``take``, so the output id keeps the input's Arrow (and
Spark) type — bigint, int, string or anything else Arrow can gather.

Every closure pickles BY VALUE (stdlib + pyarrow only — no
``cmsspark_spark`` references), so executors never need the package
importable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _id_type(df: DataFrame, id_col: str) -> str:
    return df.schema[id_col].dataType.simpleString()


def doc_term_postings_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    cols: tuple[str, str, str, str] = ("_doc", "_t", "_dl", "_tf"),
) -> DataFrame:
    """(doc, term, doc_len, term_frequency) postings via one
    ``mapInArrow`` kernel (row-local, zero shuffle). Each input row is
    one document, so per-batch counting is complete — no cross-batch
    merge needed."""
    d, t, dl, tf = cols

    def _kernel(batches):
        import re

        import pyarrow as pa

        split = re.compile("[ \t\n\x0b\f\r]+")
        for batch in batches:
            ids = batch.column(0)
            rows: list = []
            toks_flat: list = []
            dls: list = []
            for r, tx in enumerate(batch.column(1).to_pylist()):
                if tx is None:
                    continue
                toks = [w for w in split.split(tx.lower()) if w]
                n = len(toks)
                rows.extend([r] * n)
                dls.extend([n] * n)
                toks_flat.extend(toks)
            flat = pa.table(
                {
                    d: ids.take(pa.array(rows, pa.int64())),
                    t: pa.array(toks_flat, pa.string()),
                    dl: pa.array(dls, pa.int32()),
                }
            )
            counted = (
                flat.group_by([d, t, dl])
                .aggregate([([], "count_all")])
                .select([d, t, dl, "count_all"])
                .rename_columns([d, t, dl, tf])
            )
            yield from counted.to_batches()

    return df.select(id_col, text_col).mapInArrow(
        _kernel,
        f"{d} {_id_type(df, id_col)}, {t} string, {dl} int, {tf} long",
    )


def distinct_shingles_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    cols: tuple[str, str] = ("_id", "_arr"),
) -> DataFrame:
    """(id, per-doc-distinct word n-gram array) via one ``mapInArrow``
    kernel (row-local, first-occurrence order preserved like
    ``array_distinct``). The frame every MinHash/Jaccard/containment/
    decontamination consumer starts from.

    Degenerate rules replicate ``text.raw_ngrams``: a k-token document
    yields max(k−n, 0)+1 grams where gram_i joins tokens [i, i+n)
    (``F.slice`` truncates at the end exactly like a Python slice), so
    k ≤ n collapses to ONE gram — the full token join — and an
    empty/null token stream yields one empty-string gram."""
    x, y = cols

    def _kernel(batches):
        import re

        import pyarrow as pa

        split = re.compile("[ \t\n\x0b\f\r]+")
        for batch in batches:
            arrs: list = []
            for tx in batch.column(1).to_pylist():
                toks = (
                    [w for w in split.split(tx.lower()) if w]
                    if tx is not None
                    else []
                )
                k = len(toks)
                if k <= n:
                    grams = [" ".join(toks)]
                else:
                    grams = [
                        " ".join(toks[j : j + n]) for j in range(k - n + 1)
                    ]
                arrs.append(list(dict.fromkeys(grams)))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(arrs, pa.list_(pa.string()))],
                names=[x, y],
            )

    return df.select(id_col, text_col).mapInArrow(
        _kernel, f"{x} {_id_type(df, id_col)}, {y} array<string>"
    )


def hashed_gram_counts_arrow(
    df: DataFrame,
    id_col: str,
    y_col: str,
    text_col: str,
    n_buckets: int,
) -> DataFrame:
    """Per-(doc, bucket) hashed unigram+bigram counts with the label
    carried on every row — the featurize stage of
    ``pipeline.logreg_hashed_features`` (output ``(_id, _b, _y, _c)``).

    Gram construction replicates ``text.raw_ngrams`` degenerate rules:
    a k-token document yields k unigrams and max(k−1, 1) bigrams; a
    1-token document's "bigram" is the token itself; an empty token
    stream yields one empty-string unigram and one empty-string bigram
    (``concat_ws`` over an empty slice). The bucket id replicates
    ``text.int_base_hash``: first 15 hex digits of the utf-8 md5 as an
    integer, mod 2^31, mod ``n_buckets``."""
    nb = int(n_buckets)

    def _kernel(batches):
        import re
        from collections import Counter
        from hashlib import md5

        import pyarrow as pa

        split = re.compile("[ \t\n\x0b\f\r]+")

        def bucket(g: str) -> int:
            h = md5(g.encode("utf-8")).hexdigest()[:15]
            return (int(h, 16) % 2147483648) % nb

        for batch in batches:
            rows: list = []
            o_b: list = []
            o_c: list = []
            for r, tx in enumerate(batch.column(2).to_pylist()):
                toks = (
                    [w for w in split.split(tx.lower()) if w]
                    if tx is not None
                    else []
                )
                k = len(toks)
                if k == 0:
                    grams = ["", ""]
                elif k == 1:
                    grams = [toks[0], toks[0]]
                else:
                    grams = toks + [
                        f"{toks[j]} {toks[j + 1]}" for j in range(k - 1)
                    ]
                counts = Counter(bucket(g) for g in grams)
                rows.extend([r] * len(counts))
                o_b.extend(counts.keys())
                o_c.extend(counts.values())
            take = pa.array(rows, pa.int64())
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0).take(take),
                    pa.array(o_b, pa.int64()),
                    batch.column(1).take(take),
                    pa.array(o_c, pa.int64()),
                ],
                names=["_id", "_b", "_y", "_c"],
            )

    return df.select(id_col, y_col, text_col).mapInArrow(
        _kernel,
        f"_id {_id_type(df, id_col)}, _b long, _y double, _c long",
    )
