"""Approximate-operator quality gates: LSH recall/precision vs exact
baselines, SimHash near-pair correctness. These back the rows-only
queries that have no SQL oracle."""

from __future__ import annotations

import pyspark.sql.functions as F

from cmsspark_spark.operators import dedup as D
from cmsspark_spark.operators import similarity as S

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_ann_lsh_recall_vs_brute_force(spark):
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 5)
    exact = S.brute_force_topk(emb, queries, k=5)
    approx = S.lsh_topk(emb, queries, dim=64, k=5, num_planes=4, tables=4)
    exact_set = {(r.query_id, r.vec_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"LSH top-k recall {recall:.2f} < 0.6"


def test_ivf_recall_vs_brute_force(spark):
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 5)
    exact = S.brute_force_topk(emb, queries, k=5)
    cents = S.train_ivf_centroids(emb, n_centroids=8)
    approx = S.ivf_topk(emb, queries, cents, k=5, nprobe=3)
    exact_set = {(r.query_id, r.vec_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.4, f"IVF top-k recall {recall:.2f} < 0.4"


def test_ivf_full_probe_is_exact(spark):
    """nprobe == n_centroids degrades IVF to exact brute force."""
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 3)
    exact = S.brute_force_topk(emb, queries, k=5)
    cents = S.train_ivf_centroids(emb, n_centroids=4)
    approx = S.ivf_topk(emb, queries, cents, k=5, nprobe=4)
    assert {(r.query_id, r.vec_id) for r in approx.collect()} == {
        (r.query_id, r.vec_id) for r in exact.collect()
    }


def test_ivf_index_roundtrip_matches_inmemory(spark, tmp_path):
    """Materialized IVF index returns exactly what the in-memory
    join-form computes, and the probe scan prunes partitions."""
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 3)
    cents = S.train_ivf_centroids(emb, n_centroids=4)
    path = str(tmp_path / "ivf")
    S.write_ivf_index(emb, cents, path)
    from_index = S.ivf_index_topk(spark, path, queries, cents, k=5, nprobe=2)
    in_memory = S.ivf_topk(emb, queries, cents, k=5, nprobe=2)
    assert sorted(
        (r.query_id, r.vec_id, r.rank) for r in from_index.collect()
    ) == sorted((r.query_id, r.vec_id, r.rank) for r in in_memory.collect())
    # partition layout: one directory per inverted list
    import os

    dirs = [d for d in os.listdir(path) if d.startswith("_centroid=")]
    assert 1 <= len(dirs) <= 4
    # the probe scan must PRUNE the unprobed inverted lists: broadcast
    # join on the partition column triggers dynamic partition pruning
    from cmsspark_spark.plans import formatted_plan

    assert "dynamicpruningexpression(_centroid" in formatted_plan(from_index)


def test_embed_near_dup_lsh_precision_and_recall(spark):
    emb = _emb(spark)
    thr = 0.3
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in S.cosine_near_pairs(emb, threshold=thr).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.cosine
        for r in S.cosine_near_pairs_lsh(
            emb, dim=64, threshold=thr, num_planes=4, tables=8
        ).collect()
    }
    # Precision is exact by construction: candidates are re-scored.
    assert set(approx) <= set(exact)
    for pair, cos in approx.items():
        assert cos >= thr
    if exact:
        recall = len(approx) / len(exact)
        assert recall >= 0.3, f"near-dup LSH recall {recall:.2f} < 0.3"


def test_simhash_near_pairs_finds_planted_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base + " extra"),              # near-dup: 1 token differs
        (3, "completely different words about spark catalyst tungsten"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = D.simhash_near_pairs(df, "doc_id", "text", bits=16, max_hamming=4)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_simhash_identical_docs_zero_hamming(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma")], ["doc_id", "text"]
    )
    pairs = D.simhash_near_pairs(df, "doc_id", "text", bits=16, max_hamming=0)
    rows = pairs.collect()
    assert len(rows) == 1 and rows[0].hamming == 0


def test_minhash_lsh_finds_planted_near_dup(spark):
    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(f"tok{i}" for i in range(39)) + " tokX"
    far = " ".join(f"other{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(df, "doc_id", "text").collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_jaccard_with_candidates_filters(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "a b c d e f")],
        ["doc_id", "text"],
    )
    cands = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    out = D.jaccard_pairs(df, "doc_id", "text", threshold=0.5, candidates=cands)
    rows = out.collect()
    assert {(r.id_a, r.id_b) for r in rows} == {(1, 2)}
    assert abs(rows[0].jaccard - 1.0) < 1e-9


def test_connected_components_chain_and_star(spark):
    """A 4-node chain and a 3-node star must each collapse to one
    component labeled by the min member; an isolated pair stays its
    own component."""
    from cmsspark_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        # chain 1-2-3-4; star 10-(11,12); pair 20-21
        [(2, 1), (2, 3), (3, 4), (10, 11), (10, 12), (21, 20)],
        "id_a: long, id_b: long",
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components(pairs).collect()
    }
    want = {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }
    assert got == want


def test_connected_components_idempotent_on_clique(spark):
    """Already-minimal labels (a clique) converge in one probe round."""
    from cmsspark_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "id_a: long, id_b: long"
    )
    rows = connected_components(pairs, max_iters=3).collect()
    assert {(r["node"], r["component"]) for r in rows} == {
        (1, 1), (2, 1), (3, 1)
    }


# ---------------------------------------------------------------------------
# Product quantization
# ---------------------------------------------------------------------------


def test_pq_adc_recall_vs_brute_force(spark):
    emb = _emb(spark)
    """PQ is approximate; with a TRAINED 8×16 codebook over 64 dims it
    must put a decent fraction of the true top-5 in its top-5 (sanity
    gate, not a precision claim) and must rank deterministically. (A
    seeded-random codebook — the static-oracle query's machinery — has
    no retrieval power; retrieval quality needs the k-means one.)"""
    cb = S.train_pq_codebook(emb)
    queries = emb.filter(F.col("vec_id") < 10)
    pq = S.pq_adc_topk(emb, queries, cb, k=5)
    exact = S.brute_force_topk(emb, queries, k=5)
    pq_sets = {}
    for r in pq.collect():
        pq_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = tot = 0
    for r in exact.collect():
        tot += 1
        hits += r["vec_id"] in pq_sets.get(r["query_id"], set())
    assert tot == 50
    assert hits / tot >= 0.2  # well above the 5/499 ≈ 1% random floor
    # deterministic: rerun hashes identically
    again = {(r["query_id"], r["vec_id"], r["rank"]) for r in pq.collect()}
    first = {(r["query_id"], r["vec_id"], r["rank"]) for r in pq.collect()}
    assert again == first


def test_semantic_dedup_recall_and_determinism(spark):
    """Cluster-bucketed semantic dedup vs the exact all-pairs verifier:
    within-cluster blocking must recover a real fraction of the global
    near-dup drop set (cross-cluster pairs are the documented miss),
    and the flagged frame must be a pure function of the data."""
    from cmsspark_spark.queries import _ivf_static_centroids

    emb = _emb(spark)
    cents = _ivf_static_centroids()
    flagged = S.semantic_dedup(emb, cents, threshold=0.4)
    dropped = {
        r["vec_id"] for r in flagged.filter("_dropped IS NOT NULL").collect()
    }
    # exact global leader-rule drop set at the same threshold
    pairs = S.cosine_near_pairs(emb, threshold=0.4)
    global_drops = {r["id_b"] for r in pairs.collect()}
    assert dropped, "no semantic duplicates found at 0.4"
    assert dropped <= global_drops  # in-cluster pairs are real pairs
    assert len(dropped) / len(global_drops) >= 0.1
    again = {
        r["vec_id"]
        for r in S.semantic_dedup(emb, cents, threshold=0.4)
        .filter("_dropped IS NOT NULL")
        .collect()
    }
    assert again == dropped


def test_incremental_embed_ingest_blocks_duplicates(spark):
    """Cross-run embedding dedup: exact re-submissions of existing
    vectors are ALWAYS blocked (identical vectors share every sign
    bucket), near-dups block approximately, novel vectors are
    admitted, and the result is deterministic."""
    import pyspark.sql.functions as F
    from cmsspark_spark.operators.incremental import (
        ingest_increment_embed_dedup,
    )

    emb = _emb(spark)
    existing = emb.filter(F.col("vec_id") < 300)
    novel = emb.filter(F.col("vec_id") >= 300).limit(50)
    # re-submissions: 5 existing vectors under new (higher) ids
    resub = (
        emb.filter(F.col("vec_id") < 5)
        .select((F.col("vec_id") + 100000).alias("vec_id"), "embedding",
                "label")
    )
    incoming = novel.unionByName(resub)
    admitted = ingest_increment_embed_dedup(
        existing, incoming, dim=64, threshold=0.4
    )
    ids = {r["vec_id"] for r in admitted.select("vec_id").collect()}
    # every exact re-submission blocked
    assert not any(i >= 100000 for i in ids)
    # novel vectors overwhelmingly admitted (no planted near-dups among
    # them at 0.4 is not guaranteed, so allow a small number of drops)
    assert len(ids) >= 40
    again = {
        r["vec_id"]
        for r in ingest_increment_embed_dedup(
            existing, incoming, dim=64, threshold=0.4
        ).select("vec_id").collect()
    }
    assert again == ids


def test_ivfpq_recall_and_determinism(spark):
    """IVF-PQ with trained coarse centroids: must beat the random floor
    against exact top-5 (both quantization levels lose information and
    nprobe=2 of 8 lists bounds recall — this is a sanity gate) and be
    deterministic."""
    import pyspark.sql.functions as F

    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 10)
    cents = S.train_ivf_centroids(emb, n_centroids=8)
    cb = S.train_pq_codebook(emb)
    got = S.ivfpq_static_topk(emb, queries, cents, cb, k=5, nprobe=3)
    exact = S.brute_force_topk(emb, queries, k=5)
    got_set = {(r["query_id"], r["vec_id"]) for r in got.collect()}
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    assert len(got_set & exact_set) / len(exact_set) >= 0.1
    again = {
        (r["query_id"], r["vec_id"])
        for r in S.ivfpq_static_topk(
            emb, queries, cents, cb, k=5, nprobe=3
        ).collect()
    }
    assert again == got_set


def test_semantic_decontaminate_id_collision_and_empty_bench(spark):
    """ADVICE r5 regression: corpus and bench id spaces are unrelated —
    a corpus row whose id coincidentally equals a bench id must STILL
    be compared (the old `id != bench_id` join predicate skipped
    exactly that comparison), and an empty bench must keep every
    corpus row with contaminated=false."""
    schema = "vec_id: long, embedding: array<double>"
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], schema
    )
    # bench id 1 collides with corpus id 1 AND is the identical vector
    bench = spark.createDataFrame([(1, [1.0, 0.0])], schema)
    out = {
        r["vec_id"]: r
        for r in S.semantic_decontaminate(
            corpus, bench, threshold=0.9
        ).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["contaminated"] and out[1]["max_bench_cosine"] == 1.0
    assert not out[2]["contaminated"]
    out2 = {
        r["vec_id"]: r
        for r in S.semantic_decontaminate(corpus, bench.limit(0)).collect()
    }
    assert set(out2) == {1, 2}
    for r in out2.values():
        assert r["contaminated"] is False
        assert r["max_bench_cosine"] is None


def test_kmeans_lloyd_planted_clusters(spark):
    """Two well-separated planted clusters: every point lands with its
    own group, d2 is the exact quantized squared distance, and the
    assignment is invariant to input row order (engine-exact claim)."""
    rows = [
        (0, [0.0, 0.0]), (1, [10.0, 10.0]),  # seeds (k smallest ids)
        (2, [0.1, -0.1]), (3, [0.2, 0.1]),
        (4, [10.1, 9.9]), (5, [9.8, 10.2]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r.cluster for r in S.kmeans_lloyd(
        df, k=2, iters=2, scale=1000).collect()}
    assert out[0] == out[2] == out[3]
    assert out[1] == out[4] == out[5]
    assert out[0] != out[1]
    shuffled = df.orderBy(F.rand(7))
    out2 = {r.vec_id: (r.cluster, r.d2) for r in S.kmeans_lloyd(
        shuffled, k=2, iters=2, scale=1000).collect()}
    full = {r.vec_id: (r.cluster, r.d2) for r in S.kmeans_lloyd(
        df, k=2, iters=2, scale=1000).collect()}
    assert out2 == full


def test_kmeans_assign_matches_lloyd_and_model_roundtrips(spark, tmp_path):
    """r8: assign-only serving — save_kmeans_model persists (centroid,
    scale, train_share); load + kmeans_assign reproduces the trainer's
    own final assignment exactly (no flap between train-time and
    serve-time labels), and shares sum to 1."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "model")
    S.save_kmeans_model(emb, path, k=5, iters=2, scale=1000)
    cents, scale, shares = S.load_kmeans_model(spark, path)
    assert len(cents) == 5 and scale == 1000
    assert abs(sum(shares.values()) - 1.0) < 1e-9

    served = {
        (r.vec_id, r.cluster, r.d2)
        for r in S.kmeans_assign(emb, cents, scale=scale).collect()
    }
    trained = {
        (r.vec_id, r.cluster, r.d2)
        for r in S.kmeans_lloyd(emb, k=5, iters=2, scale=1000).collect()
    }
    assert served == trained


def test_kmeans_lloyd_empty_cluster_keeps_seed(spark):
    """k exceeds the number of distinct points: the starved cluster
    keeps its previous centroid and every point still gets exactly one
    assignment (no crash, no dropped rows)."""
    rows = [(i, [float(i % 2), 0.0]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.kmeans_lloyd(df, k=4, iters=2, scale=10).collect()
    assert len(out) == 6
    assert {r.vec_id for r in out} == set(range(6))
    # two distinct point values -> at most 2 clusters ever win a point
    assert len({r.cluster for r in out}) <= 2


def test_kmeans_lloyd_inertia_not_worse_than_seeds(spark):
    """Lloyd's with exact-mean (rounded) updates should not end with a
    higher inertia than the seed assignment on real data."""
    emb = _emb(spark)
    seed_only = S.kmeans_lloyd(emb, k=10, iters=0)
    trained = S.kmeans_lloyd(emb, k=10, iters=2)
    i0 = seed_only.agg(F.sum("d2")).collect()[0][0]
    i2 = trained.agg(F.sum("d2")).collect()[0][0]
    assert i2 <= i0, f"inertia grew: {i0} -> {i2}"


def test_kmeans_lloyd_inertia_monotone_in_iters(spark):
    """Each Lloyd iteration (assignment then exact-mean update) is
    non-increasing in total inertia; integer-rounded centroids keep
    that true to within quantization noise on real data. The
    embeddings table's labels are NOT geometrically meaningful (near-
    random unit vectors), so the gate is the optimization invariant,
    not label recovery."""
    emb = _emb(spark)
    inertias = [
        S.kmeans_lloyd(emb, k=10, iters=i).agg(F.sum("d2")).collect()[0][0]
        for i in (0, 1, 2)
    ]
    assert inertias[1] <= inertias[0] and inertias[2] <= inertias[1], inertias


def _md5_coin(key: str, mod: int = 10000) -> int:
    import hashlib

    return int(hashlib.md5(key.encode()).hexdigest()[:15], 16) % 2147483648 % mod


def test_soft_dedup_keep_matches_formula_and_keeps_singletons(spark):
    """Per-row kept flag must equal the documented coin formula
    (hash(id) % 10000 < floor(10000/n)); docs absent from the
    component frame are singletons and always kept."""
    docs = spark.createDataFrame(
        [(i,) for i in range(20)], "doc_id long"
    )
    comp = spark.createDataFrame(
        # one cluster of 4 (ids 0-3), one of 2 (ids 10-11)
        [(0, 0), (1, 0), (2, 0), (3, 0), (10, 10), (11, 10)],
        "node long, component long",
    )
    out = {r.doc_id: r for r in D.soft_dedup_keep(docs, comp).collect()}
    assert len(out) == 20
    import math

    for i in range(20):
        n = 4 if i < 4 else (2 if i in (10, 11) else 1)
        assert out[i].n_members == n
        expect = _md5_coin(str(i)) < math.floor(10000.0 / n)
        assert out[i].kept == expect, (i, n)
    for i in range(20):
        if out[i].n_members == 1:
            assert out[i].kept


def test_soft_dedup_expected_survivor_rate(spark):
    """Statistical sanity (deterministic, so stable forever): a large
    planted cluster of size 5 keeps ~1/5 of its members."""
    n_docs, csize = 500, 5
    docs = spark.createDataFrame([(i,) for i in range(n_docs)], "doc_id long")
    comp = spark.createDataFrame(
        [(i, (i // csize) * csize) for i in range(n_docs)],
        "node long, component long",
    )
    out = D.soft_dedup_keep(docs, comp).collect()
    kept = sum(1 for r in out if r.kept)
    assert abs(kept / n_docs - 1 / csize) < 0.05, kept


def test_containment_finds_nested_doc_jaccard_misses(spark):
    """A short doc quoted wholesale inside a long one: containment
    flags it as a_in_b with containment_a = 1.0 even though its
    Jaccard is far below the usual 0.5 dedup threshold."""
    small = " ".join(f"tok{i}" for i in range(10))
    big = small + " " + " ".join(f"pad{i}" for i in range(60))
    other = " ".join(f"zzz{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, small), (2, big), (3, other)], ["doc_id", "text"]
    )
    out = {(r.id_a, r.id_b): r for r in D.containment_pairs(
        df, "doc_id", "text", n=3, threshold=0.8, max_df=5).collect()}
    assert (1, 2) in out and len(out) == 1
    r = out[(1, 2)]
    assert r.direction == "a_in_b" and r.containment_a == 1.0
    # Jaccard on the same pair is small — the symmetric path misses it
    jac = D.jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5)
    assert not [x for x in jac.collect() if (x.id_a, x.id_b) == (1, 2)]


def test_containment_blocking_tradeoff_ubiquitous_shingles(spark):
    """Documented blocking bound: a pair whose only shared shingles
    exceed max_df everywhere is NOT discovered (every shared shingle
    appears in all docs, so none is 'rare')."""
    shared = " ".join(f"com{i}" for i in range(12))
    rows = [(i, shared + f" uniq{i}a uniq{i}b uniq{i}c") for i in range(8)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = D.containment_pairs(
        df, "doc_id", "text", n=3, threshold=0.5, min_df=2, max_df=5
    ).collect()
    assert out == []  # all shared shingles have df=8 > max_df


def test_containment_counts_all_common_shingles_not_just_rare(spark):
    """Verification must count EVERY common shingle, including ones
    too frequent to pair on — only candidate generation is blocked."""
    shared = " ".join(f"com{i}" for i in range(12))   # df=3 shingles
    rare = "rareone raretwo rarethree rarefour"        # df=2 shingles
    df = spark.createDataFrame(
        [(1, shared + " " + rare), (2, shared + " " + rare),
         (3, shared + " different tail here")],
        ["doc_id", "text"],
    )
    out = {(r.id_a, r.id_b): r for r in D.containment_pairs(
        df, "doc_id", "text", n=3, threshold=0.9, min_df=2, max_df=2
    ).collect()}
    # pair (1,2) blocked-in via the rare tail, but n_common includes
    # the df=3 'com' shingles too -> containment 1.0 both ways
    assert (1, 2) in out
    assert out[(1, 2)].containment_a == 1.0 == out[(1, 2)].containment_b


def test_pq_refine_recall_not_worse_than_adc(spark):
    """Exact refine on the ADC shortlist can only improve recall@5 vs
    ranking by the compressed-domain score alone (both deterministic
    on real data)."""
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 5)
    cb = S.pq_codebook()
    exact = {(r.query_id, r.vec_id)
             for r in S.brute_force_topk(emb, queries, k=5).collect()}
    adc = {(r.query_id, r.vec_id)
           for r in S.pq_adc_topk(emb, queries, cb, k=5).collect()}
    ref = {(r.query_id, r.vec_id)
           for r in S.pq_adc_refine_topk(
               emb, queries, cb, k=5, shortlist=20).collect()}
    assert len(ref & exact) >= len(adc & exact)
    # refine output is a subset of its own shortlist
    short = {(r.query_id, r.vec_id)
             for r in S.pq_adc_topk(emb, queries, cb, k=20).collect()}
    assert ref <= short


def test_pq_refine_full_shortlist_is_exact(spark):
    """shortlist == corpus size degrades refine to exact brute force."""
    emb = _emb(spark).filter(F.col("vec_id") < 40)
    queries = emb.filter(F.col("vec_id") < 3)
    cb = S.pq_codebook()
    exact = sorted((r.query_id, r.vec_id, r.rank)
                   for r in S.brute_force_topk(emb, queries, k=5).collect())
    ref = sorted((r.query_id, r.vec_id, r.rank)
                 for r in S.pq_adc_refine_topk(
                     emb, queries, cb, k=5, shortlist=40).collect())
    assert ref == exact


def test_semantic_dedup_assigned_matches_manual_leader_rule(spark):
    """External-assignment SemDeDup: with a hand-built clustering, the
    drop set must be exactly 'has a lower-id same-cluster neighbor
    with cosine >= threshold' — cross-cluster near-dups are missed by
    design."""
    rows = [
        (0, [1.0, 0.0], 0), (1, [0.999, 0.01], 0),   # near-dup pair, cl 0
        (2, [0.0, 1.0], 0),                           # same cluster, far
        (3, [1.0, 0.001], 1),                         # near-dup of 0, but
                                                      # OTHER cluster -> kept
        (4, [0.0, -1.0], 1),
    ]
    emb = spark.createDataFrame(
        [(i, v) for i, v, _ in rows], "vec_id long, embedding array<double>"
    )
    clusters = spark.createDataFrame(
        [(i, c) for i, _, c in rows], "vec_id long, cluster int"
    )
    out = {r.vec_id: r._dropped for r in S.semantic_dedup_assigned(
        emb, clusters, threshold=0.9).collect()}
    assert out[1] == 1           # dropped: lower-id near neighbor 0
    assert out[0] is None and out[2] is None
    assert out[3] is None and out[4] is None  # cluster boundary protects 3


def test_semantic_dedup_assigned_agrees_with_static_on_same_buckets(spark):
    """Feeding semantic_dedup's own centroid assignment through the
    external-assignment form reproduces semantic_dedup exactly (the
    shared-tail refactor cannot change results)."""
    emb = _emb(spark).filter(F.col("vec_id") < 120)
    from cmsspark_spark.queries import _ivf_static_centroids

    cents = _ivf_static_centroids()
    base = {(r.vec_id, r._cluster, r._dropped)
            for r in S.semantic_dedup(emb, cents, threshold=0.4).collect()}
    assign = S.semantic_dedup(emb, cents, threshold=0.4).select(
        "vec_id", F.col("_cluster").alias("cluster"))
    ext = {(r.vec_id, r._cluster, r._dropped)
           for r in S.semantic_dedup_assigned(
               emb, assign, threshold=0.4).collect()}
    assert ext == base


def test_ivf_kmeans_full_probe_is_exact(spark):
    """nprobe == number of clusters degrades the trained-IVF serve
    path to exact brute force."""
    emb = _emb(spark).filter(F.col("vec_id") < 60)
    queries = emb.filter(F.col("vec_id") < 3)
    exact = sorted((r.query_id, r.vec_id, r.rank)
                   for r in S.brute_force_topk(emb, queries, k=5).collect())
    got = sorted((r.query_id, r.vec_id, r.rank)
                 for r in S.ivf_kmeans_topk(
                     emb, queries, k=5, nprobe=4, km_k=4, iters=1
                 ).collect())
    assert got == exact


def test_ivf_kmeans_recall_vs_brute_force(spark):
    """Trained coarse quantizer + nprobe=3 of 10 lists keeps decent
    recall on real data (deterministic, stable forever)."""
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.vec_id)
             for r in S.brute_force_topk(emb, queries, k=5).collect()}
    got = {(r.query_id, r.vec_id)
           for r in S.ivf_kmeans_topk(emb, queries, k=5, nprobe=3).collect()}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.4, f"trained-IVF recall {recall:.2f} < 0.4"


def test_kmeans_centroids_dequantized_shape_and_values(spark):
    """kmeans_centroids = _kmeans_train ints / scale, k x dim floats;
    with iters=0 they are exactly the k smallest-id vectors quantized
    and de-quantized (round-trip to 1e-3 of the originals)."""
    import numpy as np

    emb = _emb(spark)
    cents = S.kmeans_centroids(emb, k=4, iters=0, scale=1000)
    assert cents.shape == (4, 64)
    seeds = np.array(
        [r.embedding for r in
         emb.orderBy("vec_id").limit(4).collect()], dtype=np.float64
    )
    assert np.abs(cents - seeds).max() <= 0.0005 + 1e-12


def test_kmeans_lloyd_k_exceeding_corpus_degrades_to_n_clusters(spark):
    """k larger than the corpus: seeds collapse to every point
    (k_eff = n), each point is its own exact-zero-distance cluster —
    no crash, no empty output."""
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [5.0, 5.0]), (2, [0.1, 0.1])],
        "vec_id long, embedding array<double>",
    )
    out = sorted(
        (r.vec_id, r.cluster, r.d2)
        for r in S.kmeans_lloyd(df, k=10, iters=2, scale=100).collect()
    )
    assert out == [(0, 0, 0), (1, 1, 0), (2, 2, 0)]


def test_simhash_weighted_identity_and_rare_token_dominance(spark):
    """r9: IDF-weighted SimHash — identical docs collide exactly; two
    docs sharing only RARE vocabulary land closer than two docs
    sharing only the corpus-wide filler (the weighting's purpose:
    template boilerplate cannot mask near-dups)."""
    from cmsspark_spark.operators.dedup import simhash_weighted

    filler = " ".join(f"common{i}" for i in range(10))
    rows = [
        (1, filler + " rareальфа rarebeta rareгамма"),
        (2, filler + " rareальфа rarebeta rareгамма"),        # == doc 1
        (3, filler + " rareальфа rarebeta rareгамма extra1"),  # near-dup
        (4, filler + " unrelated other words entirely"),       # filler only
    ] + [(10 + i, filler + f" noise{i}a noise{i}b noise{i}c") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    h = {
        r["_id"]: r["simhash"]
        for r in simhash_weighted(df, "doc_id", "text", bits=16).collect()
    }

    def ham(a, b):
        return bin((a ^ b) & 0xFFFF).count("1")

    assert h[1] == h[2]                      # identity
    assert ham(h[1], h[3]) < ham(h[1], h[4])  # rare overlap beats filler
