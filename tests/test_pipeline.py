"""Invariant tests for the training-data pipeline operators
(operators/pipeline.py): packing capacity/coverage, decontamination
hit semantics, sampling determinism, mixture-weight algebra.

greedy_pack_bins has no SQL oracle (resettable running state) — these
invariants ARE its correctness contract.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cmsspark_spark import catalog
from cmsspark_spark.operators import pipeline as PL

SF = "/root/testdata/sf0.001"
CAP = 100


@pytest.fixture(scope="module")
def docs(spark):
    return catalog.load_table(spark, SF, "documents", widen=False)


def test_greedy_pack_capacity_and_coverage(spark, docs):
    packed = PL.greedy_pack_bins(docs, capacity=CAP, partition_cols=["source"])
    rows = packed.collect()
    n_docs = docs.count()
    # every doc exactly once
    assert len(rows) == n_docs
    assert len({(r["source"], r["doc_id"]) for r in rows}) == n_docs
    # capacity: non-truncated bins fit; truncated rows exceed cap alone
    from collections import defaultdict

    bin_tokens = defaultdict(int)
    bin_members = defaultdict(list)
    for r in rows:
        bin_tokens[(r["source"], r["bin_id"])] += r["doc_tokens"]
        bin_members[(r["source"], r["bin_id"])].append(r)
    for key, members in bin_members.items():
        if any(m["truncated"] for m in members):
            assert len(members) == 1, "truncated doc must sit alone in its bin"
            assert members[0]["doc_tokens"] > CAP
        else:
            assert bin_tokens[key] <= CAP, f"bin {key} over capacity"


def test_greedy_pack_bins_contiguous_and_deterministic(spark, docs):
    packed = PL.greedy_pack_bins(docs, capacity=CAP, partition_cols=["source"])
    one = {(r["source"], r["doc_id"]): r["bin_id"] for r in packed.collect()}
    # bins contiguous from 0 per group
    from collections import defaultdict

    per_group = defaultdict(set)
    for (src, _), b in one.items():
        per_group[src].add(b)
    for src, bins in per_group.items():
        assert bins == set(range(len(bins))), f"holes in bin ids for {src}"
    # deterministic under re-partitioning (group walk is a stable sort)
    again = {
        (r["source"], r["doc_id"]): r["bin_id"]
        for r in PL.greedy_pack_bins(
            docs.repartition(7), capacity=CAP, partition_cols=["source"]
        ).collect()
    }
    assert one == again


def test_concat_pack_chunks_partition_of_doc_tokens(spark, docs):
    ctx = 128
    chunks = PL.concat_pack_chunks(docs, ctx_len=ctx)
    rows = chunks.collect()
    # per-doc: chunk fragments partition the doc's tokens
    from collections import defaultdict

    per_doc = defaultdict(int)
    per_chunk = defaultdict(int)
    for r in rows:
        assert r["tokens_in_chunk"] > 0
        per_doc[r["doc_id"]] += r["tokens_in_chunk"]
        per_chunk[r["chunk_id"]] += r["tokens_in_chunk"]
    doc_tokens = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id",
            F.size(F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")).alias("n"),
        ).collect()
        if r["n"] > 0
    }
    assert per_doc == doc_tokens
    # every chunk is exactly full except the last
    last = max(per_chunk)
    for cid, n in per_chunk.items():
        if cid != last:
            assert n == ctx, f"chunk {cid} not full: {n}"
        else:
            assert 0 < n <= ctx
    assert set(per_chunk) == set(range(last + 1))


def test_ngram_overlap_planted_contamination(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high"),  # shares trigrams
            (2, "completely unrelated text about spark engines"),
            (3, "the quick brown fox jumps over the lazy dog"),  # exact
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in PL.ngram_overlap(docs, bench, n=3).collect()
    }
    assert out[3]["hit_ratio"] == 1.0
    assert out[1]["n_hit"] >= 3  # "the quick brown", "quick brown fox", "brown fox jumps"
    assert out[2]["n_hit"] == 0 and out[2]["hit_ratio"] == 0.0


def test_ngram_overlap_benchmark_needs_no_id_column(spark):
    """The benchmark side only contributes its distinct grams, so a
    text-only eval set works and scores like one with ids."""
    text = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps high"), (2, "unrelated words")],
        ["doc_id", "text"],
    )
    with_id = spark.createDataFrame([(100, text)], ["doc_id", "text"])
    text_only = spark.createDataFrame([(text,)], ["text"])
    got = sorted(tuple(r) for r in PL.ngram_overlap(docs, text_only).collect())
    assert got == sorted(
        tuple(r) for r in PL.ngram_overlap(docs, with_id).collect()
    )
    assert [r[2] for r in got] == [3, 0]  # n_hit per doc


def test_stratified_sample_exact_k_and_stable(spark, docs):
    k = 3
    s1 = {
        (r["source"], r["doc_id"])
        for r in PL.stratified_topk_sample(
            docs.select("doc_id", "source"), ["source"], k=k
        ).collect()
    }
    # exactly k per stratum (every source has ≥ k docs at sf0.001)
    from collections import Counter

    per = Counter(src for src, _ in s1)
    assert all(v == k for v in per.values())
    # stable under re-partitioning AND row-order changes
    shuffled = docs.select("doc_id", "source").orderBy(F.rand(7)).repartition(5)
    s2 = {
        (r["source"], r["doc_id"])
        for r in PL.stratified_topk_sample(shuffled, ["source"], k=k).collect()
    }
    assert s1 == s2


def test_mixture_weights_algebra(spark, docs):
    out = PL.mixture_weights(docs, "source", alpha=0.7).collect()
    assert abs(sum(r["weight"] for r in out) - 1.0) < 1e-9
    assert abs(sum(r["token_share"] for r in out) - 1.0) < 1e-9
    # α<1 boosts small sources above their share, shrinks large ones
    by_share = sorted(out, key=lambda r: r["token_share"])
    assert by_share[0]["boost"] >= by_share[-1]["boost"]
    # α=1 is share-proportional (boost == 1)
    flat = PL.mixture_weights(docs, "source", alpha=1.0).collect()
    assert all(abs(r["boost"] - 1.0) < 1e-9 for r in flat)


def test_line_dedup_drops_repeats_keeps_order(spark):
    from cmsspark_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha\nshared line\nbeta"),
            (2, "shared line\ngamma"),       # 'shared line' already in doc 1
            (3, "shared line"),              # entirely duplicate → empty
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert out[1]["text"] == "alpha\nshared line\nbeta"
    assert out[1]["n_lines_dropped"] == 0
    assert out[2]["text"] == "gamma" and out[2]["n_lines_dropped"] == 1
    assert out[3]["text"] == "" and out[3]["n_lines_kept"] == 0


def test_strip_markup_removes_tags_urls_entities(spark):
    from cmsspark_spark.functions.text import strip_markup

    df = spark.createDataFrame(
        [("<div>hello <b>world</b></div> go to https://x.io/a?b=1 &amp; more",)],
        ["t"],
    )
    assert df.select(strip_markup("t").alias("c")).collect()[0]["c"] == (
        "hello world go to more"
    )


def test_mixture_resample_nested_and_deterministic(spark):
    from cmsspark_spark.operators.pipeline import mixture_resample

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    lo = mixture_resample(d, "source", alpha=0.7, budget_frac=0.3)
    hi = mixture_resample(d, "source", alpha=0.7, budget_frac=0.8)
    kept_lo = {r["doc_id"] for r in lo.filter("_keep").select("doc_id").collect()}
    kept_hi = {r["doc_id"] for r in hi.filter("_keep").select("doc_id").collect()}
    # content-hash coin → nested samples: raising the budget only ADDS docs
    assert kept_lo <= kept_hi
    assert len(kept_hi) > len(kept_lo) > 0
    # and a rerun is bit-identical
    again = {r["doc_id"] for r in mixture_resample(
        d, "source", alpha=0.7, budget_frac=0.3
    ).filter("_keep").select("doc_id").collect()}
    assert again == kept_lo


def _bpe_reference(word_counts, k, min_freq=1):
    """Pure-Python Sennrich BPE trainer — the independent twin."""
    vocab = {tuple(list(w) + ["</w>"]): n for w, n in word_counts.items()}
    merges = []
    for _ in range(k):
        pairs = {}
        for syms, n in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + n
        pairs = {p: c for p, c in pairs.items() if c >= min_freq}
        if not pairs:
            break
        # count DESC, pair lexicographic ASC — the operator's tie-break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        new_vocab = {}
        for syms, n in vocab.items():
            s, i, res = list(syms), 0, []
            while i < len(s):
                if i + 1 < len(s) and (s[i], s[i + 1]) == best:
                    res.append(s[i] + s[i + 1])
                    i += 2
                else:
                    res.append(s[i])
                    i += 1
            new_vocab[tuple(res)] = new_vocab.get(tuple(res), 0) + n
        vocab = new_vocab
    return merges


def test_bpe_merges_match_reference(spark):
    from collections import Counter

    from cmsspark_spark.operators.pipeline import apply_bpe, train_bpe_merges

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"),
         (2, "the cats chatter on that mat"),
         (3, "that cat chased the rat"),
         (4, "rats and cats chat")],
        "doc_id: long, text: string",
    )
    got = train_bpe_merges(docs, "text", k=12)
    wc = Counter(
        w for r in docs.collect() for w in r["text"].lower().split()
    )
    want = _bpe_reference(wc, 12)
    assert got == want
    # encode round-trip: merges compress the character stream and the
    # concatenated tokens reproduce each word exactly
    enc = apply_bpe(docs, got, "text")
    for r in enc.collect():
        text = r["text"].lower()
        toks = r["bpe_tokens"]
        rebuilt = "".join(toks).replace("</w>", " ").strip()
        assert rebuilt == " ".join(text.split())
        n_chars = sum(len(w) + 1 for w in text.split())
        assert len(toks) < n_chars  # merges actually merged
    # 'the</w>' should become a single token after 12 merges on this corpus
    all_toks = {t for r in enc.collect() for t in r["bpe_tokens"]}
    assert "the</w>" in all_toks


def test_bpe_merges_on_documents_table(spark):
    """Trainer runs distributed over the real documents table and is
    deterministic across invocations."""
    from cmsspark_spark.operators.pipeline import train_bpe_merges

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    m1 = train_bpe_merges(d, "text", k=6)
    m2 = train_bpe_merges(d, "text", k=6)
    assert m1 == m2
    assert len(m1) == 6


def test_cluster_split_assign_eliminates_leakage(spark):
    """r8: cluster-consistent splitting — after assignment, NO
    verified near-dup pair straddles splits (zero by construction);
    unclustered docs keep their own content-hash split; every doc is
    assigned exactly once."""
    from cmsspark_spark.functions.text import hash_split
    from cmsspark_spark.operators import dedup as D

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cand = D.minhash_lsh_pairs(d, "doc_id", "text", n=3, num_hashes=8,
                               rows_per_band=2)
    pairs = D.jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5,
                            candidates=cand)
    comp = D.connected_components(pairs, "id_a", "id_b")
    assign = PL.cluster_split_assign(d, comp).cache()

    assert assign.count() == d.count()
    assert assign.select("doc_id").distinct().count() == d.count()

    # zero cross-split near-dup pairs under the new assignment
    sa = assign.select(F.col("doc_id").alias("id_a"),
                       F.col("split").alias("s_a"))
    sb = assign.select(F.col("doc_id").alias("id_b"),
                       F.col("split").alias("s_b"))
    crossing = (
        pairs.join(sa, "id_a").join(sb, "id_b")
        .filter(F.col("s_a") != F.col("s_b"))
        .count()
    )
    assert crossing == 0
    # the plain content split DOES leak on this corpus (the fix is
    # non-vacuous): at least one verified pair straddles hash splits
    own = d.select(
        "doc_id",
        hash_split("text", {"train": 80, "val": 90, "test": 100})
        .alias("s"),
    )
    oa = own.select(F.col("doc_id").alias("id_a"), F.col("s").alias("s_a"))
    ob = own.select(F.col("doc_id").alias("id_b"), F.col("s").alias("s_b"))
    raw_crossing = (
        pairs.join(oa, "id_a").join(ob, "id_b")
        .filter(F.col("s_a") != F.col("s_b"))
        .count()
    )
    assert raw_crossing > 0
    # unclustered docs keep their own-content split
    unc = assign.filter(~F.col("clustered"))
    both = unc.join(own, "doc_id")
    assert both.filter(F.col("split") != F.col("s")).count() == 0
    assert unc.filter(F.col("moved")).count() == 0
    assign.unpersist()


def test_bm25_champion_exactness_and_monotone_recall(spark):
    """r8: champion-list pruning properties — (a) candidates are
    scored EXACTLY (any (query, doc) both rungs rank carries an
    identical score), (b) recall is monotone in the champion width c,
    (c) with c ≥ corpus size every posting survives the cut and the
    pruned result IS the exact result, row for row."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def run(c):
        return {
            (r.query_id, r.doc_id): (r.bm25, r.rank)
            for r in PL.bm25_champion_topk(
                d, query_max_id=3, k=10, champions=c
            ).collect()
        }

    exact = {
        (r.query_id, r.doc_id): (r.bm25, r.rank)
        for r in PL.bm25_more_like_this(d, query_max_id=3, k=10).collect()
    }
    full = run(1000)  # c >= n_docs: no posting pruned
    assert full == exact

    small, mid = run(8), run(64)
    r_small = len(set(small) & set(exact))
    r_mid = len(set(mid) & set(exact))
    assert r_small <= r_mid <= len(exact)
    assert r_mid >= 0.5 * len(exact), (r_mid, len(exact))
    for key in set(small) & set(exact):  # exact scoring on hits
        assert small[key][0] == exact[key][0], key


def test_bpe_merges_shared_trains_once(spark):
    """r8: the session memo returns the identical merge list object
    for a repeated (corpus, params) request — training runs once and
    every tokenizer-aware consumer shares it."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    m1 = PL.bpe_merges_shared(d, "text", k=4)
    m2 = PL.bpe_merges_shared(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
        "text",
        k=4,
    )
    assert m1 is m2  # same cached object, not just equal
    assert PL.bpe_merges_shared(d, "text", k=3) is not m1  # params matter


def test_concat_pack_chunks_bpe_budgeting(spark):
    """r8: packing with a merges table budgets chunks in BPE tokens.
    'aaaa bbbb' = 2 whitespace tokens but (untrained-merge) 10 BPE
    symbols per doc, so the same ctx_len packs far fewer docs per
    chunk; totals must equal the BPE token sum exactly. Passing both
    counters is an error."""
    docs = spark.createDataFrame(
        [(i, "aaaa bbbb") for i in range(8)], "doc_id long, text string"
    )
    # no merges apply -> each word is chars + </w> = 5 symbols, 10/doc
    plain = PL.concat_pack_chunks(docs, ctx_len=20)
    bpe = PL.concat_pack_chunks(docs, ctx_len=20, merges=[])
    assert plain.agg(F.sum("tokens_in_chunk")).first()[0] == 16
    assert bpe.agg(F.sum("tokens_in_chunk")).first()[0] == 80
    assert bpe.agg(F.max("chunk_id")).first()[0] == 3  # 80/20 chunks
    with pytest.raises(ValueError):
        PL.concat_pack_chunks(
            docs, ctx_len=20, merges=[], token_count_col=F.lit(1)
        )


def test_chunk_overlap_boundaries(spark):
    from cmsspark_spark.operators.pipeline import chunk_overlap

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))),  # 10 tokens
         (2, "one two"),                              # shorter than chunk
         (3, "")],
        "doc_id: long, text: string",
    )
    ch = chunk_overlap(docs, chunk_tokens=4, stride=3)
    rows = {
        (r["doc_id"], r["chunk_idx"]): r["chunk_text"] for r in ch.collect()
    }
    # doc1: ceil((10-1)/3)=3 chunks at starts 0,3,6; last has 4 tokens
    assert rows[(1, 0)] == "t0 t1 t2 t3"
    assert rows[(1, 1)] == "t3 t4 t5 t6"   # 1-token overlap (4-3)
    assert rows[(1, 2)] == "t6 t7 t8 t9"
    # short doc: one chunk, kept whole; empty doc: no rows
    assert rows[(2, 0)] == "one two"
    assert not any(k[0] == 3 for k in rows)
    # every token of every doc appears in at least one chunk
    covered = set()
    for (d, _), t in rows.items():
        if d == 1:
            covered.update(t.split())
    assert covered == {f"t{i}" for i in range(10)}


def test_repeated_span_stats_finds_cross_doc_runs(spark):
    from cmsspark_spark.operators.dedup import repeated_span_stats

    shared = "one two three four"          # 4-token run shared by docs 1,2
    docs = spark.createDataFrame(
        [
            (1, f"aa bb {shared} cc"),     # 7 tokens → 4 windows, 1 dup
            (2, f"xx {shared} yy zz"),     # 7 tokens → 4 windows, 1 dup
            (3, "totally unique words here five"),  # no dup windows
            (4, "short"),                  # 1 token < window → 0 windows
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in repeated_span_stats(docs, window=4).collect()}
    assert out[1]["n_windows"] == 4 and out[1]["n_dup_windows"] == 1
    assert out[2]["n_windows"] == 4 and out[2]["n_dup_windows"] == 1
    assert out[3]["n_dup_windows"] == 0
    assert out[4]["n_windows"] == 0 and out[4]["dup_ratio"] == 0.0
    assert abs(out[1]["dup_ratio"] - 0.25) < 1e-9
    # a REPEATED span inside one doc only is NOT cross-doc duplicated
    solo = spark.createDataFrame(
        [(1, "p q r s p q r s"), (2, "different words entirely now")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in repeated_span_stats(solo, window=4).collect()}
    assert got[1]["n_dup_windows"] == 0


def test_strip_repeated_spans_global_survivor(spark):
    from cmsspark_spark.operators.dedup import strip_repeated_spans

    shared = "one two three four"
    docs = spark.createDataFrame(
        [
            (1, f"aa bb {shared} cc"),        # survivor (min doc,pos)
            (2, f"xx {shared} yy zz"),        # stripped
            (5, f"{shared} {shared} tail"),   # both occurrences stripped
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in strip_repeated_spans(docs, window=4).collect()}
    assert out[1]["text"] == "aa bb one two three four cc"
    assert out[1]["n_tokens_removed"] == 0
    assert out[2]["text"] == "xx yy zz" and out[2]["n_tokens_removed"] == 4
    # doc 5: the 8-token repeated run merges into ONE island and goes
    assert out[5]["text"] == "tail" and out[5]["n_tokens_removed"] == 8
    # idempotence: a second pass removes nothing further
    again = strip_repeated_spans(
        spark.createDataFrame(
            [(r["doc_id"], r["text"]) for r in out.values()],
            ["doc_id", "text"],
        ),
        window=4,
    ).collect()
    assert all(r["n_tokens_removed"] == 0 for r in again)


def test_strip_repeated_spans_preserves_case(spark):
    """ADVICE r5 regression: span MATCHING is case-insensitive, but
    stripping must never case-fold the corpus — stripped docs rebuild
    from original-case tokens, untouched docs keep their text
    byte-exact (including irregular whitespace)."""
    from cmsspark_spark.operators.dedup import strip_repeated_spans

    docs = spark.createDataFrame(
        [
            (1, "AA bb One Two Three Four cc"),   # survivor occurrence
            (2, "xx one two three four YY zz"),   # case-variant: stripped
            (3, "Untouched   DOC  with   Weird spacing"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r for r in strip_repeated_spans(docs, window=4).collect()
    }
    # survivor (min (doc,pos)) untouched → byte-exact original case
    assert out[1]["text"] == "AA bb One Two Three Four cc"
    assert out[1]["n_tokens_removed"] == 0
    # lowercased copy matched and was stripped; surviving tokens keep case
    assert out[2]["text"] == "xx YY zz"
    assert out[2]["n_tokens_removed"] == 4
    # no duplicated spans → byte-exact, irregular whitespace preserved
    assert out[3]["text"] == "Untouched   DOC  with   Weird spacing"


def test_near_dup_losers_policies(spark):
    """r5: the reusable cluster-survivor election — min_id keeps the
    component label, longest keeps the most-token member (ties → min
    id); docs outside any cluster never appear in the loser list."""
    from cmsspark_spark.operators.dedup import near_dup_losers

    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, base),                       # cluster A
            (2, base + " extra tokens here"),  # cluster A, longest
            (3, base + " extra"),            # cluster A
            (7, "totally different words nothing shared here at all"),
        ],
        ["doc_id", "text"],
    )
    kw = dict(n=3, num_hashes=8, rows_per_band=2, threshold=0.5)
    min_id = {
        r["doc_id"]
        for r in near_dup_losers(docs, policy="min_id", **kw).collect()
    }
    assert min_id == {2, 3}  # survivor 1 (label); 7 unclustered
    longest = {
        r["doc_id"]
        for r in near_dup_losers(docs, policy="longest", **kw).collect()
    }
    assert longest == {1, 3}  # survivor 2 (most tokens); 7 unclustered

    import pytest as _pytest

    with _pytest.raises(ValueError):
        near_dup_losers(docs, policy="best").collect()

    # r5 ADVICE: 'longest' must work with STRING doc ids (the generic
    # id_col the signature advertises) — the old tie-break negated the
    # id arithmetically. Ties on token count -> lexicographic min id.
    sdocs = spark.createDataFrame(
        [
            ("doc-b", base),
            ("doc-a", base + " pad"),   # same cluster, longest is tie-free
            ("doc-c", base + " pad"),   # ties doc-a on tokens -> min id wins
        ],
        ["doc_id", "text"],
    )
    s_longest = {
        r["doc_id"]
        for r in near_dup_losers(sdocs, policy="longest", **kw).collect()
    }
    assert s_longest == {"doc-b", "doc-c"}  # survivor doc-a


def test_concat_pack_sep_tokens_overhead(spark):
    """r5: sep_tokens models the EOS a trainer pays between packed
    docs — each doc occupies doc_tokens + sep positions (separator
    trailing), chunk occupancy counts it, and sep_tokens=0 reproduces
    the original layout exactly."""
    from cmsspark_spark.operators.pipeline import concat_pack_chunks

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f g"), (3, "h i")], ["doc_id", "text"]
    )
    # ctx=5, sep=1: stream = [3 +1][4 +1][2 +1] → offsets 0, 4, 9
    out = {
        (r["doc_id"], r["chunk_id"]): r["tokens_in_chunk"]
        for r in concat_pack_chunks(docs, ctx_len=5, sep_tokens=1).collect()
    }
    # doc1 occupies [0,4) → chunk0:4; doc2 [4,9) → chunk0:1, chunk1:4
    # doc3 [9,12) → chunk1:1, chunk2:2
    assert out == {
        (1, 0): 4,
        (2, 0): 1,
        (2, 1): 4,
        (3, 1): 1,
        (3, 2): 2,
    }
    # occupancy conserves: Σ tokens_in_chunk = Σ (doc_tokens + sep)
    assert sum(out.values()) == (3 + 1) + (4 + 1) + (2 + 1)
    # sep=0 reproduces the original packing
    base = {
        (r["doc_id"], r["chunk_id"]): r["tokens_in_chunk"]
        for r in concat_pack_chunks(docs, ctx_len=5).collect()
    }
    assert base == {(1, 0): 3, (2, 0): 2, (2, 1): 2, (3, 1): 2}
    # boundaries shift with the separator: doc2 starts at 4 in chunk 0
    b = {
        r["doc_id"]: (r["chunk_id"], r["start_in_chunk"])
        for r in concat_pack_chunks(
            docs, ctx_len=5, sep_tokens=1, with_boundaries=True
        ).collect()
        if r["start_in_chunk"] is not None
    }
    assert b == {1: (0, 0), 2: (0, 4), 3: (1, 4)}


def test_concat_pack_sep_tokens_empty_doc_no_phantom_slot(spark):
    """r5 ADVICE: a zero-token doc emits no chunk rows, so it must not
    consume a separator slot either — with the doc_tokens>0 filter
    after the cumsum, an empty doc between docs 1 and 2 would shift
    every later doc's offsets by sep (phantom EOS)."""
    from cmsspark_spark.operators.pipeline import concat_pack_chunks

    with_empty = spark.createDataFrame(
        [(1, "a b c"), (2, "   "), (3, "d e f g"), (4, "h i")],
        ["doc_id", "text"],
    )
    without = spark.createDataFrame(
        [(1, "a b c"), (3, "d e f g"), (4, "h i")], ["doc_id", "text"]
    )

    def layout(docs):
        return {
            (r["doc_id"], r["chunk_id"]): r["tokens_in_chunk"]
            for r in concat_pack_chunks(
                docs, ctx_len=5, sep_tokens=1
            ).collect()
        }

    # empty doc_id 2 sits mid-stream; its presence must be invisible
    assert layout(with_empty) == layout(without)


def test_ngram_overlap_attribution_planted_leak(spark):
    """r6: attribution names the benchmark doc a corpus doc leaks from
    (most shared distinct trigrams, ties -> min bench id) and counts
    distinct benchmark docs touched; clean docs emit nothing."""
    import pyspark.sql.functions as F

    from cmsspark_spark.operators.pipeline import ngram_overlap_attribution

    bench = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (200, "pack my box with five dozen liquor jugs"),
            (300, "the quick brown fox sleeps all day long"),
        ],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [
            # shares 3 trigrams with 100, 1 with 300 ("the quick brown")
            (1, "the quick brown fox jumps over a fence"),
            # verbatim copy of 200 -> all 7 trigrams shared
            (2, "pack my box with five dozen liquor jugs"),
            # clean
            (3, "completely unrelated words appear here only"),
            # ties 100 and 300 on exactly one shared trigram -> min id
            (4, "something something the quick brown something"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r
        for r in ngram_overlap_attribution(docs, bench, n=3).collect()
    }
    assert set(got) == {1, 2, 4}
    assert got[1]["top_bench_id"] == 100
    assert got[1]["n_shared"] == 4  # quick-brown-fox chain: 4 trigrams
    assert got[1]["n_bench_docs_hit"] == 2
    assert got[2]["top_bench_id"] == 200 and got[2]["n_shared"] == 6
    assert got[2]["n_bench_docs_hit"] == 1
    assert got[4]["top_bench_id"] == 100  # tie with 300 -> min id
    assert got[4]["n_shared"] == 1 and got[4]["n_bench_docs_hit"] == 2

    # plan: the benchmark side broadcasts; no sort-merge on grams
    from cmsspark_spark import plans

    plan = plans.formatted_plan(ngram_overlap_attribution(docs, bench, n=3))
    assert "BroadcastHashJoin" in plan


def test_inverted_index_cap_and_distinct(spark):
    """r6: posting lists cap at max_postings with the SMALLEST ids
    (deterministic prefix) while df reports the true frequency;
    repeated tokens within one doc post once."""
    from cmsspark_spark.operators.pipeline import inverted_index_postings

    docs = spark.createDataFrame(
        [(i, "common common rare" if i == 5 else "common") for i in range(1, 9)],
        ["doc_id", "text"],
    )
    got = {
        r["token"]: r
        for r in inverted_index_postings(docs, max_postings=3).collect()
    }
    assert got["common"]["df"] == 8              # true df, not the cap
    assert got["common"]["postings"] == "1,2,3"  # smallest-id prefix
    assert got["rare"]["df"] == 1 and got["rare"]["postings"] == "5"


@pytest.mark.parametrize(
    "qname", ["chunk_dedup_rate", "chunk_overlap_windows"]
)
def test_chunk_oracles_length_unbounded(spark, tmp_path, qname):
    """The r6 chunk oracles capped chunks/doc at 128
    (generate_series(0,127)), silently truncating any doc over
    16 + 128*48 = 6160 tokens (VERDICT r6 item 1 / ADVICE). The r7
    per-row LATERAL series must stay hash-exact on a 7,000-token doc
    (146 chunks) — including cross-doc duplicate counting."""
    import duckdb

    from cmsspark_spark.queries import ORACLES, QUERIES
    from tests.conftest import canonical_rows

    long_text = " ".join(f"tok{i}" for i in range(7000))  # 146 chunks
    docs = spark.createDataFrame(
        [
            (1, "web", long_text),
            (2, "web", long_text),          # same-source duplicate: nd > 1
            (3, "web", "alpha beta gamma"),
            (4, "books", "alpha beta gamma delta"),
        ],
        "doc_id: long, source: string, text: string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))

    sdf = QUERIES[qname](spark, str(tmp_path))
    s_rows = [tuple(r) for r in sdf.collect()]
    if qname == "chunk_dedup_rate":
        # sanity: the long docs alone contribute 2*146 chunks — far
        # past the old 128 cap — and every long-doc chunk duplicates
        web = next(
            r for r in s_rows if r[sdf.columns.index("source")] == "web"
        )
        assert web[sdf.columns.index("n_chunks")] == 2 * 146 + 1
    else:
        d1 = next(
            r for r in s_rows if r[sdf.columns.index("doc_id")] == 1
        )
        assert d1[sdf.columns.index("n_chunks")] == 146

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    res = con.execute(ORACLES[qname])
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    con.close()
    sc, sr = canonical_rows(sdf.columns, s_rows)
    dc, dr = canonical_rows(d_cols, d_rows)
    assert sc == dc
    assert sr == dr


def test_domain_boilerplate_planted(spark):
    """Planted template text: a footer recurring in 3 docs of domain A
    is elected; the SAME footer in only 1 doc of domain B is not (the
    election is per-domain); stripping drops EVERY occurrence and
    reassembles surviving paragraphs in order."""
    from cmsspark_spark.operators.dedup import (
        domain_boilerplate_droplist,
        domain_boilerplate_strip,
        explode_paragraphs,
    )

    footer = "subscribe to our newsletter"
    docs = spark.createDataFrame(
        [
            ("A", 1, f"alpha body one\n\n{footer}"),
            ("A", 2, f"{footer}\n\nbeta body two"),
            ("A", 3, f"gamma body three\n\n{footer}\n\ndelta tail"),
            ("A", 4, "unrelated text"),
            ("B", 5, f"other domain\n\n{footer}"),
            ("A", 6, footer),  # ONLY boilerplate -> strips to empty
        ],
        "source: string, doc_id: long, text: string",
    )
    paras = explode_paragraphs(docs)
    drop = domain_boilerplate_droplist(paras, min_docs=3).collect()
    # exactly one elected (domain, paragraph): the footer in A —
    # 4 docs x 1 occurrence each
    assert len(drop) == 1
    assert (drop[0]["domain"], drop[0]["n_docs"], drop[0]["n_occurrences"]) \
        == ("A", 4, 4)

    out = {
        r["doc_id"]: r
        for r in domain_boilerplate_strip(docs, min_docs=3).collect()
    }
    assert out[1]["text"] == "alpha body one"
    assert out[2]["text"] == "beta body two"
    assert out[3]["text"] == "gamma body three\n\ndelta tail"
    assert out[4]["text"] == "unrelated text"
    assert out[5]["text"] == f"other domain\n\n{footer}"  # B untouched
    assert out[6]["text"] == "" and out[6]["n_paras_kept"] == 0
    assert out[3]["n_paras_dropped"] == 1 and out[4]["n_paras_dropped"] == 0


def test_domain_boilerplate_report_matches_droplist(spark):
    """The report's per-domain numbers must agree with the drop-list
    it elects from."""
    from cmsspark_spark.operators.dedup import (
        domain_boilerplate_droplist,
        domain_boilerplate_report,
        explode_paragraphs,
    )

    docs = spark.createDataFrame(
        [
            ("A", 1, "x\n\nfoot"), ("A", 2, "y\n\nfoot"),
            ("A", 3, "z\n\nfoot"), ("B", 4, "q\n\nr"),
        ],
        "source: string, doc_id: long, text: string",
    )
    paras = explode_paragraphs(docs)
    rep = {r["domain"]: r for r in
           domain_boilerplate_report(paras, min_docs=3).collect()}
    assert rep["A"]["n_boiler_paras"] == 1
    assert rep["A"]["boiler_instances"] == 3
    assert rep["A"]["n_para_instances"] == 6
    assert rep["A"]["boilerplate_frac"] == 0.5
    assert rep["A"]["n_docs_affected"] == 3
    assert rep["B"]["n_boiler_paras"] == 0
    assert rep["B"]["boilerplate_frac"] == 0.0
    assert rep["B"]["n_docs_affected"] == 0
    n_drop = domain_boilerplate_droplist(paras, min_docs=3).count()
    assert n_drop == rep["A"]["n_boiler_paras"] + rep["B"]["n_boiler_paras"]


def test_curriculum_cells_bins_and_shares(spark):
    """Per-source length quantiles and global quality quantiles drive
    the cell assignment; shares sum to 1 and token mass is conserved."""
    from cmsspark_spark.operators.pipeline import curriculum_cells

    mk = lambda n, stop: " ".join(  # noqa: E731
        (["the"] * stop) + ["w%d" % i for i in range(n - stop)]
    )
    docs = spark.createDataFrame(
        [
            ("A", 1, mk(4, 0)), ("A", 2, mk(6, 0)), ("A", 3, mk(8, 4)),
            ("A", 4, mk(40, 0)),
            ("B", 5, mk(100, 0)), ("B", 6, mk(120, 60)),
            ("B", 7, mk(140, 0)), ("B", 8, mk(400, 0)),
        ],
        "source: string, doc_id: long, text: string",
    )
    rows = curriculum_cells(docs).collect()
    cells = {(r["source"], r["length_bin"], r["quality_bin"]): r for r in rows}
    # per-source binning: doc 4 (40 tokens) is 'long' FOR A even though
    # every B doc is longer; doc 8 (400) is long for B
    assert ("A", "long", "low") in cells
    assert cells[("A", "long", "low")]["n_docs"] == 1
    assert ("B", "long", "low") in cells
    # stopword-heavy docs land in the high-quality-ratio bin
    assert any(k[0] == "A" and k[2] == "high" for k in cells)
    assert any(k[0] == "B" and k[2] == "high" for k in cells)
    # conservation: doc counts and token shares
    assert sum(r["n_docs"] for r in rows) == 8
    assert abs(sum(r["token_share"] for r in rows) - 1.0) < 1e-4
    assert sum(r["cell_tokens"] for r in rows) == 4+6+8+40+100+120+140+400


def test_snapshot_psi_zero_on_identical_halves(spark):
    """Identical ref/cur distributions (same values, same counts) give
    p_ref == p_cur in every bin and PSI exactly 0."""
    rows = [("s", v, ref) for v in (1, 2, 3, 4, 5, 6, 7, 8)
            for ref in (True, False)]
    df = spark.createDataFrame(rows, "source string, n long, is_ref boolean")
    out = PL.snapshot_psi(df, "source", "n", "is_ref").collect()
    assert out and all(r.psi == 0.0 and r.psi_term == 0.0 for r in out)
    assert {r.bin for r in out} == {1, 2, 3, 4}


def test_snapshot_psi_detects_planted_shift(spark):
    """Current snapshot shifted far above the reference quantiles:
    all current mass lands in the top bin and PSI clears the 0.25
    action threshold."""
    ref = [("s", v, True) for v in range(1, 21)]
    cur = [("s", v, False) for v in range(100, 120)]
    df = spark.createDataFrame(
        ref + cur, "source string, n long, is_ref boolean"
    )
    out = PL.snapshot_psi(df, "source", "n", "is_ref").collect()
    psi = out[0].psi
    assert psi > 0.25, psi
    top = [r for r in out if r.bin == 4][0]
    assert top.n_cur == 20 and top.n_ref <= 5


def test_snapshot_psi_empty_side_bins_stay_finite(spark):
    """Laplace smoothing: bins where one side has zero rows produce
    finite terms (no inf/nan from ln of 0)."""
    import math

    ref = [("s", v, True) for v in (1, 2, 3, 4, 5, 6, 7, 8)]
    cur = [("s", 1, False)] * 6  # all current mass in the bottom bin
    df = spark.createDataFrame(
        ref + cur, "source string, n long, is_ref boolean"
    )
    out = PL.snapshot_psi(df, "source", "n", "is_ref").collect()
    for r in out:
        assert math.isfinite(r.psi_term) and math.isfinite(r.psi)
    assert sum(r.n_cur for r in out) == 6


def test_psi_reference_materializes_empty_bins(spark):
    """A tied/near-constant reference metric piles all its mass into
    one bin (duplicate quantile bounds). The stored table must still
    carry ALL nbins rows per group — with n_ref=0 and the smoothed
    floor share — so a later batch landing in the other bins scores
    as drift instead of being silently dropped."""
    ref = spark.createDataFrame(
        [("s", 5)] * 40, "source string, n long"
    )
    tbl = PL.psi_reference(ref, "source", "n").collect()
    assert {r.bin for r in tbl} == {1, 2, 3, 4}
    by_bin = {r.bin: r for r in tbl}
    assert by_bin[1].n_ref == 40
    for b in (2, 3, 4):
        assert by_bin[b].n_ref == 0 and by_bin[b].p_ref > 0

    # extreme drift: every batch value above the (constant) bound
    batch = spark.createDataFrame(
        [("s", v) for v in range(100, 140)], "source string, n long"
    )
    ref_df = spark.createDataFrame(tbl)
    out = PL.psi_against_reference(batch, ref_df, "source", "n").collect()
    assert len(out) == 1
    assert out[0].psi > 0.25 and not out[0].new_group
    assert out[0].n_cur == 40


def test_psi_against_reference_flags_new_group(spark):
    """A group present only in the batch (a brand-new source) cannot
    be binned against the stored reference — it must surface with
    new_group=true and null psi, not vanish."""
    ref = spark.createDataFrame(
        [("old", v) for v in range(1, 41)], "source string, n long"
    )
    tbl = PL.psi_reference(ref, "source", "n")
    batch = spark.createDataFrame(
        [("old", v) for v in range(1, 41)]
        + [("brand_new", v) for v in range(5)],
        "source string, n long",
    )
    out = {r.source: r for r in
           PL.psi_against_reference(batch, tbl, "source", "n").collect()}
    assert set(out) == {"old", "brand_new"}
    assert not out["old"].new_group and out["old"].psi < 0.05
    ng = out["brand_new"]
    assert ng.new_group and ng.psi is None and ng.n_cur == 5


def test_split_distribution_psi_neutral_on_hash_split(spark):
    """Content-hash splits are distribution-neutral by construction:
    the PSI between the train split and its holdout over token-length
    bins stays well under the 0.1 'investigate' threshold, and the
    per-bin counts conserve the corpus."""
    from cmsspark_spark.queries import QUERIES

    rows = QUERIES["split_distribution_psi"](spark, SF).collect()
    assert rows
    psi = rows[0]["psi"]
    assert all(r["psi"] == psi for r in rows)
    assert 0.0 <= psi < 0.1, psi
    n_total = sum(r["n_train"] + r["n_holdout"] for r in rows)
    n_docs = catalog.load_table(spark, SF, "documents").count()
    assert n_total == n_docs


def test_dsir_weights_rank_target_like_docs_first(spark):
    """Planted domains: target docs speak 'alpha beta gamma ...';
    pool docs that reuse that vocabulary must out-score pool docs
    drawn from a disjoint vocabulary, and only pool docs are scored."""
    tgt = ["alpha beta gamma delta epsilon zeta", "beta gamma alpha zeta"]
    like = "alpha beta gamma delta"  # target vocabulary
    unlike = "xray yankee zulu quebec"  # disjoint vocabulary
    rows = (
        [(i, t, True) for i, t in enumerate(tgt)]
        + [(10, like, False), (11, unlike, False)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    out = PL.dsir_logratio_weights(df, F.col("is_t"), n_buckets=512)
    got = {r.doc_id: r for r in out.collect()}
    assert set(got) == {10, 11}  # target docs are never scored
    assert got[10].log_weight > got[11].log_weight
    assert got[10].avg_gram_logw > 0 > got[11].avg_gram_logw
    # n_grams = unigrams + bigrams of a 4-token doc
    assert got[10].n_grams == 4 + 3


def test_dsir_gumbel_resample_reorders_margin_only(spark):
    """Gumbel resampling vs argmax top-k on real data: same k, heavy
    overlap (the importance weights dominate), but a nonempty
    symmetric difference (noise re-draws the margin — the diversity
    the paper's resampling step exists to preserve), dense 1..k
    ranks, and keys never below the doc's own log-weight floor minus
    the max possible Gumbel magnitude."""
    from cmsspark_spark.queries import QUERIES

    sf = "/root/testdata/sf0.01"  # sf0.001's pool is smaller than k
    topk = QUERIES["dsir_target_selection"](spark, sf).collect()
    gum = QUERIES["dsir_gumbel_resample"](spark, sf).collect()
    a = {r.doc_id for r in topk}
    b = {r.doc_id for r in gum}
    assert len(a) == len(b) == 200
    assert len(a & b) >= 100  # weights dominate the draw
    assert a != b  # but the margin is re-drawn
    assert sorted(r.rank for r in gum) == list(range(1, 201))
    for r in gum:
        assert r.gumbel_key is not None and r.log_weight is not None


def test_logreg_hashed_learns_planted_separation(spark):
    """Linearly separable planted vocabularies: after 8 GD rounds the
    trained model ranks every positive doc above every negative one
    and classifies all correctly at the 0.5 threshold; the zero-init
    model (all p = 0.5) provably improved."""
    pos = ["good clean prose here", "clean good text prose", "prose good here"]
    neg = ["junk spam noise garble", "garble spam junk", "noise junk garble spam"]
    rows = [(i, t, True) for i, t in enumerate(pos)] + [
        (10 + i, t, False) for i, t in enumerate(neg)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_q boolean")
    feat = PL.logreg_hashed_features(df, F.col("is_q"), n_buckets=64)
    w = PL.logreg_hashed_train(feat, n_buckets=64, iters=8, lr=1.0)
    assert any(abs(v) > 1e-4 for v in w)  # training moved the weights
    assert all(v == PL._grid6(v) for v in w)  # stays on the 1e-6 grid
    got = {r._id: r.p for r in PL.logreg_hashed_score(feat, w).collect()}
    p_pos = [got[i] for i in (0, 1, 2)]
    p_neg = [got[i] for i in (10, 11, 12)]
    assert min(p_pos) > 0.5 > max(p_neg)
    feat.unpersist()


def test_logreg_scoring_plan_reuses_doc_partitioning(spark):
    """The scoring pass (same shape as every training iteration) must
    be: broadcast weight join + per-doc agg with NO corpus-grain
    exchange beyond the one cached repartition — the invariant that
    keeps each GD iteration a single narrow pass at 100 TB."""
    from cmsspark_spark import plans

    df = spark.createDataFrame(
        [(1, "a b c", True), (2, "c d e", False)],
        "doc_id long, text string, is_q boolean",
    )
    feat = PL.logreg_hashed_features(df, F.col("is_q"), n_buckets=64)
    scored = PL.logreg_hashed_score(feat, [0.0] * 65)
    plan = plans.formatted_plan(scored)
    assert "BroadcastHashJoin" in plan
    assert plans.count_nodes(scored, "SortMergeJoin") == 0
    # the only hashpartitioning exchange is the cached repartition on
    # _id; the groupBy rides it
    import re

    keyed = [
        m.group(0)
        for m in re.finditer(r"\(\d+\) Exchange\n(?:.+\n)+?", plan)
        if "hashpartitioning" in m.group(0)
    ]
    assert len(keyed) <= 1, plan
    feat.unpersist()


def test_bm25_ranks_rare_term_match_first(spark):
    """Planted relevance: the query doc shares a RARE term (df=2) with
    doc 10 and a ubiquitous term (df=4 of 5) with docs 11-13 — idf
    must rank 10 first, the equal-scored common-term docs tie-break
    by id, and the query doc never retrieves itself."""
    rows = [
        (0, "zyzzyva filler"),                  # the query
        (10, "zyzzyva aardvark banana"),         # rare-term match (df=2)
        (11, "filler something else"),           # common-term match (df=4)
        (12, "filler disjoint vocabulary"),      # common term, padding df
        (13, "filler more padding text"),        # common term, padding df
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = PL.bm25_more_like_this(df, query_max_id=1, k=2).collect()
    got = {r.doc_id: r for r in out}
    assert set(got) == {10, 11}  # top-2 cut; 0 never retrieves itself
    assert got[10].rank == 1 and got[11].rank == 2
    assert got[10].bm25 > got[11].bm25 > 0


def test_doc_novelty_first_owner_wins(spark):
    """Planted ingest order: the first doc owns all its grams, an exact
    copy later has zero novelty, a half-recycled doc scores ~0.5."""
    from cmsspark_spark.queries import QUERIES
    import tempfile, os

    base = " ".join(f"tok{i}" for i in range(12))       # 10 trigrams
    fresh = " ".join(f"new{i}" for i in range(12))
    half = " ".join(f"tok{i}" for i in range(7)) + " " + \
        " ".join(f"only{i}" for i in range(5))
    df = spark.createDataFrame(
        [(1, base, "en", "s", 1), (2, base, "en", "s", 1),
         (3, fresh, "en", "s", 1), (4, half, "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        out = {r.doc_id: r for r in
               QUERIES["doc_novelty_scores"](spark, td).collect()}
    assert out[1].novelty_frac == 1.0
    assert out[2].novelty_frac == 0.0 and out[2].n_novel == 0
    assert out[3].novelty_frac == 1.0
    assert 0.0 < out[4].novelty_frac < 1.0


def test_split_leakage_audit_planted(spark, tmp_path):
    """Plant a near-duplicate pair straddling the train/test hash
    split and prove the audit reports it as a leak, hash-exact vs the
    DuckDB oracle. The plant is found deterministically by replicating
    the md5 split bucket AND the MinHash band signatures in pure
    Python, so the pair is guaranteed to be (a) cross-split, (b) an
    LSH candidate, (c) Jaccard >= 0.5."""
    import hashlib
    import re

    import duckdb

    from cmsspark_spark.operators.dedup import MINHASH_PRIME, minhash_params
    from cmsspark_spark.queries import ORACLES, QUERIES
    from tests.conftest import canonical_rows

    def bucket(text):
        h = int(hashlib.md5(text.encode()).hexdigest()[:15], 16)
        return h % 2147483648 % 100

    params = minhash_params(8)

    def bands(text):
        tk = [t for t in re.split(r"\s+", text.lower()) if t]
        grams = {" ".join(tk[i : i + 3]) for i in range(len(tk) - 2)}
        bases = [
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % 2147483648
            for g in grams
        ]
        sig = [min((a * x + b) % MINHASH_PRIME for x in bases)
               for a, b in params]
        return {(i, tuple(sorted(sig[i * 2 : i * 2 + 2])))
                for i in range(4)}

    base = " ".join(f"w{i}" for i in range(48))
    plant = None
    for i in range(200):
        a = f"{base} leaka{i}"
        if bucket(a) >= 80:
            continue
        for j in range(200):
            b = f"{base} leakb{j}"
            if bucket(b) < 90:
                continue
            if bands(a) & bands(b):  # at least one LSH band collides
                plant = (a, b)
                break
        if plant:
            break
    assert plant, "no deterministic plant found in the search budget"

    docs = spark.createDataFrame(
        [
            (1, "web", plant[0]),                      # train
            (2, "web", plant[1]),                      # test
            (3, "web", "alpha beta gamma delta one"),
            (4, "books", "totally unrelated content here"),
        ],
        "doc_id: long, source: string, text: string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))

    sdf = QUERIES["split_leakage_audit"](spark, str(tmp_path))
    rows = {(r.split_a, r.split_b): r for r in sdf.collect()}
    leak = rows[("test", "train")]  # lexical least/greatest ordering
    assert leak.is_leak == 1 and leak.n_pairs >= 1 and leak.n_docs >= 2
    assert leak.avg_jaccard >= 0.5

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    res = con.execute(ORACLES["split_leakage_audit"])
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    con.close()
    sc, sr = canonical_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    dc, dr = canonical_rows(d_cols, d_rows)
    assert sc == dc and sr == dr


def test_bpe_byte_merges_match_reference(spark):
    """r10: the byte-level (GPT-2-style) alphabet — regex pre-tokens
    with leading spaces in-band, UTF-8 hex-pair symbols, no '</w>' —
    trains the same merge sequence as an independent pure-Python
    trainer, and the encoding reproduces each pre-token's bytes."""
    import re
    from collections import Counter

    from cmsspark_spark.operators.pipeline import (
        BPE_BYTE_PRETOKEN_RE,
        apply_bpe,
        train_bpe_merges,
    )

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"),
         (2, "the cats chatter, on that mat!"),
         (3, "that cat chased 12 rats"),
         (4, "rats and cats chat")],
        "doc_id: long, text: string",
    )
    got = train_bpe_merges(docs, "text", k=10, alphabet="byte")
    pat = re.compile(BPE_BYTE_PRETOKEN_RE)
    wc = Counter(
        w for r in docs.collect() for w in pat.findall(r["text"].lower())
    )

    def hexsyms(w):
        h = w.encode("utf-8").hex().upper()
        return tuple(h[i : i + 2] for i in range(0, len(h), 2))

    vocab = {hexsyms(w): n for w, n in wc.items()}
    merges = []
    for _ in range(10):
        pairs = {}
        for syms, n in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        nv = {}
        for syms, n in vocab.items():
            s, i, res = list(syms), 0, []
            while i < len(s):
                if i + 1 < len(s) and (s[i], s[i + 1]) == best:
                    res.append(s[i] + s[i + 1])
                    i += 2
                else:
                    res.append(s[i])
                    i += 1
            nv[tuple(res)] = nv.get(tuple(res), 0) + n
        vocab = nv
    assert got == merges
    # encode round-trip: concatenated hex tokens reproduce the bytes
    enc = apply_bpe(docs, got, "text", alphabet="byte")
    for r in enc.collect():
        text = r["text"].lower()
        rebuilt = bytes.fromhex("".join(r["bpe_tokens"])).decode("utf-8")
        assert rebuilt == "".join(pat.findall(text))
        assert len(r["bpe_tokens"]) < 2 * len(text)  # merges merged


def test_blockmax_small_corpus_guard_falls_back_to_exact(spark):
    """VERDICT r11 item 5: the in-session block-max rung is a
    demonstration path; with min_prune_docs set, a corpus below the
    threshold skips the prune-state build entirely — ranked output
    identical to the exact rung, report EMPTY (no pruning ran)."""
    from cmsspark_spark.operators import pipeline as PL

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(120)
    guarded, report = PL.bm25_blockmax_parts(
        docs, min_prune_docs=10_000
    )
    exact = PL.bm25_more_like_this(docs)
    assert sorted(map(tuple, guarded.collect())) == sorted(
        map(tuple, exact.collect())
    )
    assert report.count() == 0
    assert report.columns == [
        "query_id", "n_terms", "n_essential", "blocks_total",
        "blocks_pruned", "postings_total", "postings_scanned",
        "n_candidates",
    ]
    # above the threshold the real pruned build runs (non-empty report)
    _, full_report = PL.bm25_blockmax_parts(docs, min_prune_docs=10)
    assert full_report.count() > 0
