"""Session train-once memos (operators/memo.py): fresh-data keys.

The r8 advice hazard: keys built from ``semanticHash()`` alone are
PLAN hashes — re-reading a path after its files changed yields the
same key and would serve stale results. The memo key now folds in the
leaf files' (path, size, mtime), so these tests prove both halves:
repeated identical requests share one run (hit), and a changed corpus
at the SAME path retrains/re-propagates (invalidation).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

import cmsspark_spark.operators.bm25 as BM
import cmsspark_spark.operators.dedup as D
import cmsspark_spark.operators.pipeline as PL
import cmsspark_spark.operators.similarity as S
import cmsspark_spark.queries as Q
from cmsspark_spark.operators.memo import (
    _REGISTRY,
    SessionMemo,
    invalidate_session_memos,
    plan_data_fingerprint,
)


def _labels(df):
    return {(r["node"], r["component"]) for r in df.collect()}


def test_plan_data_fingerprint_shapes(spark, tmp_path):
    # local relations: data is in the plan (semanticHash covers it) →
    # empty-but-usable fingerprint
    local = spark.createDataFrame([(1,)], "x long")
    assert plan_data_fingerprint(local) == ()
    # file-backed: one (path, size, mtime) per leaf file
    p = str(tmp_path / "t")
    local.write.parquet(p)
    fp = plan_data_fingerprint(spark.read.parquet(p))
    assert fp and all(len(e) == 3 for e in fp)
    # Range is fully described by its plan → fingerprintable, empty
    assert plan_data_fingerprint(spark.range(3)) == ()
    # a leaf kind the allowlist doesn't know (streaming source) →
    # None → callers run unmemoized
    stream = spark.readStream.format("rate").load()
    assert plan_data_fingerprint(stream) is None


def test_connected_components_memo_hit_and_invalidation(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setattr(D, "_CC_MEMO", SessionMemo("cc-test"))
    calls = {"n": 0}
    real = D._connected_components_run

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(D, "_connected_components_run", counting)
    p = str(tmp_path / "pairs")
    spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    ).write.parquet(p)

    r1 = _labels(D.connected_components(spark.read.parquet(p)))
    # a SEPARATELY BUILT identical plan (what sibling registry queries
    # produce) must hit the memo — semanticHash is plan-stable
    r2 = _labels(D.connected_components(spark.read.parquet(p)))
    assert r1 == r2 == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    assert calls["n"] == 1

    # different params → different key → fresh run
    D.connected_components(spark.read.parquet(p), max_iters=7).collect()
    assert calls["n"] == 2

    # SAME path, new data → fingerprint changes → re-propagates (the
    # staleness the advice flagged with plan-hash-only keys)
    spark.createDataFrame(
        [(1, 3), (7, 8)], "id_a long, id_b long"
    ).write.mode("overwrite").parquet(p)
    r3 = _labels(D.connected_components(spark.read.parquet(p)))
    assert calls["n"] == 3
    assert r3 == {(1, 1), (3, 1), (7, 7), (8, 7)}


def test_connected_components_local_pairs_still_memoized(spark, monkeypatch):
    """Local-relation pair frames carry their data in the plan hash
    (verified distinct for distinct data), so they memoize too — and
    two DIFFERENT local pair lists never collide."""
    monkeypatch.setattr(D, "_CC_MEMO", SessionMemo("cc-local-test"))
    a = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    b = spark.createDataFrame([(5, 6)], "id_a long, id_b long")
    assert _labels(D.connected_components(a)) == {(1, 1), (2, 1)}
    assert _labels(D.connected_components(b)) == {(5, 5), (6, 5)}


def test_kmeans_memo_invalidates_on_changed_corpus(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(S, "_KMEANS_MEMO", SessionMemo("kmeans-test"))
    calls = {"n": 0}
    real = S._kmeans_train

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(S, "_kmeans_train", counting)
    p = str(tmp_path / "emb")
    spark.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(12)],
        "vec_id long, embedding array<double>",
    ).write.parquet(p)
    c1 = S.kmeans_centroids(spark.read.parquet(p), k=2, iters=1)
    c2 = S.kmeans_centroids(spark.read.parquet(p), k=2, iters=1)
    assert calls["n"] == 1 and (c1 == c2).all()
    # appended file at the same path → new fingerprint → retrain
    spark.createDataFrame(
        [(100, [50.0, 1.0])], "vec_id long, embedding array<double>"
    ).write.mode("append").parquet(p)
    S.kmeans_centroids(spark.read.parquet(p), k=2, iters=1)
    assert calls["n"] == 2


def test_invalidate_session_memos_clears_everything(spark, tmp_path):
    p = str(tmp_path / "pairs")
    spark.createDataFrame([(1, 2)], "id_a long, id_b long").write.parquet(p)
    pairs = spark.read.parquet(p)
    out1 = D.connected_components(pairs)
    key = D._CC_MEMO.key_for(pairs, "id_a", "id_b", 25)
    assert key is not None and key in D._CC_MEMO._store[spark]
    invalidate_session_memos(spark)
    assert key not in D._CC_MEMO._store.get(spark, {})
    # and the recomputed answer is unchanged
    assert _labels(D.connected_components(pairs)) == _labels(out1)


def test_jaccard_pairs_shares_shingle_state_not_outputs(
    spark, tmp_path, monkeypatch
):
    """r14 (VERDICT r13 item 1): jaccard_pairs memoizes the candidate
    MEMBERS' shingle frame — derived index STATE, keyed on BOTH input
    plans' fresh-data keys — while the verify join + aggregation
    recompute on EVERY call (the r12-era verified-pair OUTPUT memo was
    result caching and is retired). A rewritten corpus re-shingles."""
    monkeypatch.setattr(D, "_SHINGLE_MEMO", SessionMemo("shingle-test"))
    sh_calls = {"n": 0}
    verify_calls = {"n": 0}
    real_sh = D._shingle_rows
    real_verify = D._pairs_from_shingles

    def counting_sh(*a, **k):
        sh_calls["n"] += 1
        return real_sh(*a, **k)

    def counting_verify(*a, **k):
        verify_calls["n"] += 1
        return real_verify(*a, **k)

    monkeypatch.setattr(D, "_shingle_rows", counting_sh)
    monkeypatch.setattr(D, "_pairs_from_shingles", counting_verify)
    p = str(tmp_path / "docs")
    base = " ".join(f"tok{i}" for i in range(30))
    spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "unrelated words only here")],
        "doc_id long, text string",
    ).write.parquet(p)

    def pairs():
        d = spark.read.parquet(p)
        cand = D.minhash_lsh_pairs(d, "doc_id", "text")
        return {
            (r.id_a, r.id_b)
            for r in D.jaccard_pairs(
                d, "doc_id", "text", threshold=0.5, candidates=cand
            ).collect()
        }

    r1, r2 = pairs(), pairs()  # separately-built identical plans
    assert r1 == r2 == {(1, 2)}
    assert sh_calls["n"] == 1      # shingle STATE built once per key
    assert verify_calls["n"] == 2  # the verify recomputes per call
    # changed corpus at the same path → fingerprint miss → re-shingle
    spark.createDataFrame(
        [(1, base), (7, base + " tail")], "doc_id long, text string"
    ).write.mode("overwrite").parquet(p)
    assert pairs() == {(1, 7)}
    assert sh_calls["n"] == 2
    assert verify_calls["n"] == 3


def test_logreg_memo_shares_fit_and_keys_on_label(spark, tmp_path, monkeypatch):
    """r9: the GD trainer memoizes like k-means — the weights/scores/
    sweep trio shares one featurize+fit; a DIFFERENT label expression
    over the same corpus is a different key (the probe plan hashes the
    label Column), and changed files retrain."""
    monkeypatch.setattr(PL, "_LOGREG_MEMO", SessionMemo("logreg-test"))
    calls = {"n": 0}
    real = PL.logreg_hashed_train

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(PL, "logreg_hashed_train", counting)
    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 5} filler words", f"src{i % 3}")
         for i in range(24)],
        "doc_id long, text string, source string",
    ).write.parquet(p)

    def fit(label):
        d = spark.read.parquet(p)
        return PL.logreg_hashed_shared(d, label, n_buckets=16, iters=1)

    _, w1 = fit(F.col("source") == "src0")
    _, w2 = fit(F.col("source") == "src0")
    assert w1 is w2 and calls["n"] == 1  # shared fit object
    _, w3 = fit(F.col("source") == "src1")  # different label → new fit
    assert calls["n"] == 2 and w3 is not w1
    # appended data at the same path → fingerprint miss → retrain
    spark.createDataFrame(
        [(100, "tok1 tok2 new words", "src0")],
        "doc_id long, text string, source string",
    ).write.mode("append").parquet(p)
    fit(F.col("source") == "src0")
    assert calls["n"] == 3


def test_session_memo_store_is_bounded_lru():
    """r10 (ADVICE): memo entries hold eagerly-checkpointed frames, so
    an unbounded per-session store pins executor blocks for the session
    lifetime. The store is an LRU capped at MEMO_MAX_ENTRIES: inserts
    beyond the cap evict the least-recently-USED key (reads refresh
    recency), dropping the only reference to the evicted frame."""
    from cmsspark_spark.operators.memo import (
        MEMO_MAX_ENTRIES,
        SessionMemo,
        _LruDict,
    )

    class FakeSession:  # weak-referenceable stand-in
        pass

    memo = SessionMemo("lru-test")
    sess = FakeSession()
    for i in range(MEMO_MAX_ENTRIES):
        assert memo.get_or(sess, ("k", i), lambda i=i: i) == i
    store = memo._store[sess]
    assert isinstance(store, _LruDict)
    assert memo.get_or(sess, ("k", 0), lambda: "rebuilt") == 0  # hit
    memo.get_or(sess, ("k", MEMO_MAX_ENTRIES), lambda: 0)  # overflow by one
    assert len(store) == MEMO_MAX_ENTRIES
    assert ("k", 0) in store          # recently read → retained
    assert ("k", 1) not in store      # the actual LRU → evicted
    assert ("k", MEMO_MAX_ENTRIES) in store


#: One concurrency case per memo declared in cmsspark_spark: the memo
#: site's build functions (module attribute names, each counted) and a
#: call through the site on the tiny memo_inputs. Builders a site takes
#: as an argument are wrapped with ``counted`` by the call itself.
MEMO_CASES = {
    "minhash_sigs": (
        [(D, "_minhash_signatures_wide_run")],
        lambda i, counted: D.minhash_signatures_wide(i.docs, "doc_id", "text"),
    ),
    "jaccard_shingles": (
        [(D, "_shingle_rows")],
        lambda i, counted: D.jaccard_pairs(
            i.docs, "doc_id", "text", candidates=i.pairs
        ),
    ),
    "simhash": (
        [(D, "_simhash_run")],
        lambda i, counted: D.simhash(i.docs, "doc_id", "text"),
    ),
    "components": (
        [(D, "_connected_components_run")],
        lambda i, counted: D.connected_components(i.pairs),
    ),
    "bm25_postings": (
        [(BM, "doc_term_postings")],
        lambda i, counted: BM.postings_state(i.docs, "doc_id", "text"),
    ),
    "bm25_prune_state": (
        [(PL, "_bm25_prune_state")],
        lambda i, counted: PL._bm25_prune_state_shared(
            i.docs, "doc_id", "text", 2, 3, 2
        ),
    ),
    "logreg": (
        [(PL, "logreg_hashed_features"), (PL, "logreg_hashed_train")],
        lambda i, counted: PL.logreg_hashed_shared(
            i.docs, F.col("doc_id") % 2 == 0, n_buckets=16, iters=1
        ),
    ),
    "bpe": (
        [(PL, "train_bpe_merges")],
        lambda i, counted: PL.bpe_merges_shared(i.docs, "text", k=2),
    ),
    "kmeans": (
        [(S, "_kmeans_quantized_frame"), (S, "_kmeans_train")],
        lambda i, counted: S.kmeans_centroids(i.emb, k=2, iters=1),
    ),
    "ann_corpus_index": (
        [],
        lambda i, counted: S._corpus_index_shared(
            i.emb, ("probe",), counted(lambda: i.emb.select("vec_id"), "index")
        ),
    ),
    "bm25_index_dirs": (
        [],
        lambda i, counted: Q._bm25_index_dir(
            i.docs, "probe", counted(os.makedirs, "index")
        ),
    ),
}


def _declared_memos() -> dict:
    """Every SessionMemo a cmsspark_spark module declares, by name."""
    import importlib
    import pkgutil

    import cmsspark_spark

    found = {}
    for info in pkgutil.walk_packages(
        cmsspark_spark.__path__, "cmsspark_spark."
    ):
        for v in vars(importlib.import_module(info.name)).values():
            if isinstance(v, SessionMemo):
                found[v.name] = v
    return found


def test_every_declared_memo_has_a_concurrency_case():
    declared = _declared_memos()
    assert all(m in _REGISTRY for m in declared.values())
    assert set(declared) == set(MEMO_CASES)


@pytest.fixture(scope="module")
def memo_inputs(spark, tmp_path_factory):
    """Tiny file-backed inputs, so every memo site has a safe key."""
    from types import SimpleNamespace

    base = tmp_path_factory.mktemp("memo_inputs")
    text = " ".join(f"tok{i}" for i in range(12))
    frames = {
        "docs": spark.createDataFrame(
            [(1, text), (2, text + " extra"), (3, "other words here")],
            "doc_id long, text string",
        ),
        "pairs": spark.createDataFrame([(1, 2)], "id_a long, id_b long"),
        "emb": spark.createDataFrame(
            [(i, [float(i), float(i % 3)]) for i in range(6)],
            "vec_id long, embedding array<double>",
        ),
    }
    for name, df in frames.items():
        df.write.parquet(str(base / name))
    return SimpleNamespace(
        **{n: spark.read.parquet(str(base / n)) for n in frames}
    )


@pytest.mark.parametrize("name", sorted(MEMO_CASES))
def test_get_or_concurrent_misses_share_one_build(
    spark, memo_inputs, monkeypatch, name
):
    """Four threads missing the same key at one memo site serialize on
    the per-key lock and share ONE build of every value the site
    keeps — the train-once contract under concurrent fan-outs (ladder
    arms, rung twins)."""
    import time
    from collections import Counter
    from concurrent.futures import ThreadPoolExecutor

    patches, call = MEMO_CASES[name]
    calls: Counter = Counter()

    def counted(fn, label):
        def build(*a, **k):
            calls[label] += 1
            time.sleep(0.3)  # widen the race window
            return fn(*a, **k)

        return build

    for mod, attr in patches:
        monkeypatch.setattr(mod, attr, counted(getattr(mod, attr), attr))
    _declared_memos()[name].invalidate(spark)
    with ThreadPoolExecutor(max_workers=4) as pool:
        for f in [pool.submit(call, memo_inputs, counted) for _ in range(4)]:
            f.result(timeout=300)
    assert calls and set(calls.values()) == {1}, calls


def test_ann_corpus_index_shares_state_not_outputs(
    spark, tmp_path, monkeypatch
):
    """r14 (VERDICT r13 item 4): the PQ/IVF/LSH arms memoize the
    corpus-side derived INDEX frame (codes, assignments, buckets) —
    built once per (plan, files, constants) per session — while each
    serve recomputes its candidate generation + ranking per call.
    A rewritten corpus re-encodes."""
    import numpy as np

    monkeypatch.setattr(
        S, "_CORPUS_INDEX_MEMO", SessionMemo("ann-index-test")
    )
    codes_calls = {"n": 0}
    build_calls = {"n": 0}
    real_codes = S.pq_codes
    real_build = S._pq_adc_build

    def counting_codes(*a, **k):
        codes_calls["n"] += 1
        return real_codes(*a, **k)

    def counting_build(*a, **k):
        build_calls["n"] += 1
        return real_build(*a, **k)

    monkeypatch.setattr(S, "pq_codes", counting_codes)
    monkeypatch.setattr(S, "_pq_adc_build", counting_build)
    p = str(tmp_path / "emb")
    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.standard_normal(64)]) for i in range(40)
    ]
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").write.parquet(p)
    cb = S.pq_codebook()

    def topk():
        emb = spark.read.parquet(p)
        q = emb.filter("vec_id < 2")
        return sorted(
            tuple(r)
            for r in S.pq_adc_topk(emb, q, cb, k=3).collect()
        )

    r1, r2 = topk(), topk()  # separately-built identical plans
    assert r1 == r2 and len(r1) == 6
    assert codes_calls["n"] == 1   # the code table is built ONCE
    assert build_calls["n"] == 2   # the ADC serve recomputes per call
    # changed corpus at the same path -> fingerprint miss -> re-encode
    spark.createDataFrame(
        rows[:20], "vec_id long, embedding array<float>"
    ).write.mode("overwrite").parquet(p)
    topk()
    assert codes_calls["n"] == 2


def test_pin_frame_default_local_reliable_opt_in(spark, tmp_path):
    """r14 (VERDICT r13 item 8): pin_frame localCheckpoints by default
    (no files written); with spark.cmsspark.checkpoint.reliable=true
    and a checkpoint dir it routes through the RELIABLE
    DataFrame.checkpoint (blocks survive executor loss), writing to
    the configured dir. Values identical either way — for a bare
    frame, for an in-session block-max call (postings, seeds, θ,
    essential split, surviving blocks), for a tombstoned index
    serve (tombstones, dead-doc df), for a min/max snapshot
    aggregate refresh with removals (affected groups) and for the
    span ingest gate's verdict."""
    import os

    from cmsspark_spark.operators import retrieval as R
    from cmsspark_spark.operators import snapshots as SN
    from cmsspark_spark.operators.memo import pin_frame
    from tests.conftest import SF_SMOKE

    ckdir = str(tmp_path / "ck")
    df = spark.range(5).withColumnRenamed("id", "x")
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    idx = str(tmp_path / "idx")
    R.append_bm25_index(docs, idx)
    R.tombstone_bm25_index(
        docs.filter(F.col("doc_id") % 7 == 3).select("doc_id"), idx
    )

    def rows(frame):
        return sorted(tuple(r) for r in frame.collect())

    def blockmax():
        invalidate_session_memos(spark)
        ranked, report = PL.bm25_blockmax_parts(docs)
        return rows(ranked), rows(report)

    def serve():
        return rows(R.bm25_index_serve(spark, idx, mode="blockmax"))

    def ck_files():
        return sum(len(files) for _, _, files in os.walk(ckdir))

    def span_gate():
        from cmsspark_spark.operators.incremental import (
            score_increment_span_dedup,
        )

        inc = docs.select("doc_id", "text").limit(20)
        return rows(score_increment_span_dedup(
            spark, inc, str(tmp_path / "census"), window=4
        ))

    # a min/max refresh with removals pins its affected-group set: two
    # states of one table at v1, each refreshed to the v2 delete
    table = str(tmp_path / "snap")
    SN.snapshot_write(
        spark.range(0, 40).selectExpr("id", "id % 4 AS g", "id * 3 AS v"),
        table,
    )

    def agg(state):
        return rows(SN.maintain_snapshot_agg(
            spark, table, str(tmp_path / state), ["g"], ["v"],
            min_cols=["v"], max_cols=["v"],
        ))

    for state in ("agg_local", "agg_reliable"):
        agg(state)
    SN.snapshot_delete(
        spark, table, spark.range(30, 40).selectExpr("id"), ["id"]
    )

    local = pin_frame(df)
    assert sorted(r.x for r in local.collect()) == [0, 1, 2, 3, 4]
    want_blockmax, want_serve = blockmax(), serve()
    want_agg = agg("agg_local")
    want_gate = span_gate()
    assert want_gate  # an empty census admits the increment
    assert not os.path.isdir(ckdir)  # default never touches disk
    spark.sparkContext.setCheckpointDir(ckdir)
    spark.conf.set("spark.cmsspark.checkpoint.reliable", "true")
    try:
        rel = pin_frame(df)
        assert sorted(r.x for r in rel.collect()) == [0, 1, 2, 3, 4]
        n0 = ck_files()
        assert n0  # reliable blocks landed in the checkpoint dir
        assert blockmax() == want_blockmax
        n1 = ck_files()
        assert n1 > n0
        assert serve() == want_serve
        n2 = ck_files()
        assert n2 > n1
        assert agg("agg_reliable") == want_agg
        n3 = ck_files()
        assert n3 > n2
        assert span_gate() == want_gate
        assert ck_files() > n3
    finally:
        spark.conf.set("spark.cmsspark.checkpoint.reliable", "false")
        invalidate_session_memos(spark)
