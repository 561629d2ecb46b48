"""Incrementally-maintained BM25 serving state (operators/retrieval.py):
append-then-serve equals full rebuild, appends never rescan the corpus,
pruned serve stays exact off maintained bounds."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cmsspark_spark.operators import pipeline as PL
from cmsspark_spark.operators import retrieval as R

SF = "/root/testdata/sf0.001"


def _ranked(df):
    return sorted(tuple(r) for r in df.collect())


def test_append_then_serve_equals_full_rebuild(spark, tmp_path):
    """The train-once/serve-increment contract: an index built by
    three successive appends serves results row-identical to a
    single-shot build AND to the in-session exact, max-score and
    block-max rungs — both stacks serve through one BM25 kernel."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    multi = str(tmp_path / "multi")
    for part in range(3):
        R.append_bm25_index(docs.filter(F.col("doc_id") % 3 == part), multi)
    single = str(tmp_path / "single")
    R.append_bm25_index(docs, single)

    want = _ranked(PL.bm25_more_like_this(docs, "doc_id", "text", 5, 10))
    assert _ranked(R.bm25_index_serve(spark, multi)) == want
    assert _ranked(R.bm25_index_serve(spark, single)) == want
    # pruned serves off the MAINTAINED bounds: exact too
    for mode in ("maxscore", "blockmax"):
        assert (
            _ranked(R.bm25_index_serve(spark, multi, mode=mode)) == want
        )
        assert (
            _ranked(R.bm25_index_serve(spark, single, mode=mode)) == want
        )
    for parts in (PL.bm25_maxscore_parts, PL.bm25_blockmax_parts):
        assert _ranked(parts(docs)[0]) == want

    rep = R.bm25_index_commit_report(spark, multi).first()
    assert rep.n_commits == 3 and rep.n_docs == docs.count()


def test_append_reads_nothing_from_existing_state(spark, tmp_path):
    """Cost ∝ increment, by construction: an append writes only
    increment-derived rows and never opens existing index files.
    Proven by poisoning every state table with an UNREADABLE parquet
    file — any read of existing state would throw, yet the append
    succeeds. (The serve, which legitimately reads state, does choke
    on the poison — asserted as the control.)"""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx = str(tmp_path / "idx")
    R.append_bm25_index(docs.filter(F.col("doc_id") % 2 == 0), idx)
    ((_seq, cdir),) = R._list_commit_dirs(spark, idx)
    for sub in ("postings", "termstats", "champions", "globals"):
        with open(f"{cdir}/{sub}/part-poison.parquet", "wb") as fh:
            fh.write(b"this is not a parquet file")

    R.append_bm25_index(docs.filter(F.col("doc_id") % 2 == 1), idx)

    # control: the serve DOES read state, so the poison must bite —
    # otherwise this test would prove nothing
    with pytest.raises(Exception):
        R.bm25_index_serve(spark, idx).collect()


def test_zero_token_docs_count_toward_n(spark, tmp_path):
    """A doc with no tokens contributes to N (the idf denominator)
    but no postings — exactly the in-session rung's semantics. The
    served scores must match the exact rung on the SAME corpus
    including the empty doc."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    extra = spark.createDataFrame(
        [(999900, ""), (999901, None)], "doc_id long, text string"
    )
    corpus = docs.select("doc_id", "text").unionByName(extra)
    idx = str(tmp_path / "idx")
    R.append_bm25_index(docs.select("doc_id", "text"), idx)
    R.append_bm25_index(extra, idx)

    rep = R.bm25_index_commit_report(spark, idx).first()
    assert rep.n_docs == 52  # empty docs counted

    want = _ranked(PL.bm25_more_like_this(corpus, "doc_id", "text", 5, 10))
    assert _ranked(R.bm25_index_serve(spark, idx)) == want


def test_serve_pushes_query_filter_into_postings_scan(spark, tmp_path):
    """Plan contract: the query-doc extraction filters doc <
    query_max_id directly on the postings parquet scan — PushedFilters
    in the scan node, so a 100 TB postings table pays a pruned read,
    not a full scan, to find the query terms."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx = str(tmp_path / "idx")
    R.append_bm25_index(docs, idx)
    post = R.index_table(spark, idx, "postings")
    qterms = post.filter(F.col("doc") < 5)
    plan = qterms._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(doc), LessThan(doc,5)" in plan


def test_serve_rejects_unknown_mode(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(10)
    idx = str(tmp_path / "idx")
    R.append_bm25_index(docs, idx)
    with pytest.raises(ValueError, match="exact|maxscore"):
        R.bm25_index_serve(spark, idx, mode="wand")


def test_compaction_preserves_serving_and_later_appends(spark, tmp_path):
    """compact_bm25_index folds the per-commit partials into one
    merged row-set; serving before/after is row-identical (monoid
    idempotence), and appends AFTER a compaction keep composing."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx = str(tmp_path / "idx")
    for part in range(3):
        R.append_bm25_index(docs.filter(F.col("doc_id") % 4 == part), idx)

    before = _ranked(R.bm25_index_serve(spark, idx, mode="maxscore"))
    before_blk = _ranked(R.bm25_index_serve(spark, idx, mode="blockmax"))
    rep = R.compact_bm25_index(spark, idx)
    assert rep["globals_rows"] == (3, 1)
    assert rep["termstats_rows"][1] <= rep["termstats_rows"][0]
    assert rep["blockstats_rows"][1] <= rep["blockstats_rows"][0]
    assert _ranked(R.bm25_index_serve(spark, idx, mode="maxscore")) == before
    assert (
        _ranked(R.bm25_index_serve(spark, idx, mode="blockmax"))
        == before_blk
    )

    # append the last quarter on top of the compacted state
    R.append_bm25_index(docs.filter(F.col("doc_id") % 4 == 3), idx)
    want = _ranked(PL.bm25_more_like_this(docs, "doc_id", "text", 5, 10))
    assert _ranked(R.bm25_index_serve(spark, idx, mode="maxscore")) == want


def test_build_index_cli_e2e(spark, tmp_path, capsys):
    """The retrieval-index CLI: append twice, report, serve to
    parquet, compact — the operational loop, end to end."""
    from cmsspark_spark.jobs import build_index

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    half_a = str(tmp_path / "a.parquet")
    half_b = str(tmp_path / "b.parquet")
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(half_a)
    docs.filter(F.col("doc_id") % 2 == 1).write.parquet(half_b)
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "ranked")

    build_index.main(["append", "--docs", half_a, "--index", idx])
    build_index.main(["append", "--docs", half_b, "--index", idx])
    build_index.main(["report", "--index", idx])
    assert "'n_commits': 2" in capsys.readouterr().out

    build_index.main(
        ["serve", "--index", idx, "--mode", "maxscore", "--out", out]
    )
    want = _ranked(PL.bm25_more_like_this(docs, "doc_id", "text", 5, 10))
    got = sorted(
        (r.query_id, r.doc_id, r.bm25, r.rank)
        for r in spark.read.parquet(out).collect()
    )
    assert got == want

    build_index.main(["compact", "--index", idx])
    assert "'globals_rows': (2, 1)" in capsys.readouterr().out


def test_blockmax_guards(spark, tmp_path):
    """Block-bound safety rails: an index whose blockstats do not
    cover the query terms' postings fails LOUDLY (missing bounds must
    never silently skip blocks), and an index pinned to a different
    block size refuses further appends."""
    import shutil

    from cmsspark_spark import fsops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx = str(tmp_path / "idx")
    R.append_bm25_index(docs, idx)

    # simulate a pre-blockstats index: drop the block partials for
    # one arbitrary subset by truncating the table inside the commit
    ((_seq, cdir),) = R._list_commit_dirs(spark, idx)
    shutil.rmtree(f"{cdir}/blockstats")
    spark.createDataFrame(
        [], "t string, blk long, df_delta long, max_tf long, min_dl long"
    ).write.parquet(f"{cdir}/blockstats")
    with pytest.raises(ValueError, match="does not cover"):
        R.bm25_index_serve(spark, idx, mode="blockmax").collect()

    # block-size pin: a mismatched meta refuses the append
    idx2 = str(tmp_path / "idx2")
    R.append_bm25_index(docs.limit(10), idx2)
    fsops.write_json_meta(
        spark, f"{idx2}/_index_meta.json", {"block_size": 999}
    )
    with pytest.raises(ValueError, match="block_size"):
        R.append_bm25_index(docs.limit(5), idx2)


def test_serve_hash_join_fallback_identical(spark, tmp_path):
    """The candidate-broadcast escape hatch (mirroring the in-session
    rungs' r10 ADVICE fix): broadcast_candidates=False (hash join)
    and None (count-guarded) return the identical exact top-k."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx = str(tmp_path / "idx")
    R.append_bm25_index(docs, idx)
    want = _ranked(R.bm25_index_serve(spark, idx, mode="maxscore"))
    for bc in (False, None):
        got = _ranked(
            R.bm25_index_serve(
                spark, idx, mode="maxscore", broadcast_candidates=bc
            )
        )
        assert got == want


def test_snapshot_pinned_index_consumes_versions_exactly_once(
    spark, tmp_path
):
    """The retrieval pin discipline: an index fed from a snapshot
    table consumes each version's changes exactly once (replays
    no-op), serves identically to an index built from the live
    content, and refuses removals and wrong tables."""
    from cmsspark_spark.operators import snapshots as SN

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    table = str(tmp_path / "corpus")
    SN.snapshot_write(docs.filter(F.col("doc_id") % 2 == 0), table,
                      mode="append")
    idx = str(tmp_path / "idx")

    r1 = R.append_bm25_index_from_snapshot(spark, table, idx)
    assert r1 == {"from": None, "to": 1, "noop": False}
    # replay: no-op, commit count unchanged
    assert R.append_bm25_index_from_snapshot(spark, table, idx)[
        "noop"
    ]
    assert R.bm25_index_commit_report(spark, idx).first().n_commits == 1

    SN.snapshot_write(docs.filter(F.col("doc_id") % 2 == 1), table,
                      mode="append")
    r2 = R.append_bm25_index_from_snapshot(spark, table, idx)
    assert r2 == {"from": 1, "to": 2, "noop": False}

    want = _ranked(PL.bm25_more_like_this(docs, "doc_id", "text", 5, 10))
    assert _ranked(R.bm25_index_serve(spark, idx, mode="blockmax")) == want

    # a rollback removes files: the append-only index refuses
    SN.rollback_snapshot(spark, table, 1)
    with pytest.raises(ValueError, match="cannot un-index"):
        R.append_bm25_index_from_snapshot(spark, table, idx)
    # wrong table refused
    other = str(tmp_path / "other")
    SN.snapshot_write(docs.limit(5), other, mode="append")
    with pytest.raises(ValueError, match="wrong-table"):
        R.append_bm25_index_from_snapshot(spark, other, idx)


def test_tombstones_serve_exactly_like_live_corpus(spark, tmp_path):
    """Deletes without un-indexing: tombstoned docs vanish from every
    serve mode's results EXACTLY — scores equal the exact rung run on
    the live (post-delete) corpus, because N / sum_dl / per-term df
    are corrected from the dead docs' own postings while the pruning
    bounds keep the raw (loosened, still admissible) extremes."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx = str(tmp_path / "idx")
    R.append_bm25_index(docs, idx)
    R.tombstone_bm25_index(
        docs.filter(F.col("doc_id") % 7 == 3).select("doc_id"), idx
    )
    live = docs.filter(F.col("doc_id") % 7 != 3)
    want = _ranked(PL.bm25_more_like_this(live, "doc_id", "text", 5, 10))
    for mode in ("exact", "maxscore", "blockmax"):
        assert _ranked(R.bm25_index_serve(spark, idx, mode=mode)) == want

    # a tombstoned QUERY doc no longer queries
    R.tombstone_bm25_index(
        spark.createDataFrame([(2,)], "doc_id long"), idx
    )
    got = R.bm25_index_serve(spark, idx)
    assert 2 not in {r.query_id for r in got.collect()}


def test_consume_removals_as_tombstones(spark, tmp_path):
    """allow_removals: a rollback's removed docs are tombstoned (the
    CDC's -1 rows), the serve matches the live snapshot's exact rung,
    and a version that rewrites the same doc id is refused."""
    from cmsspark_spark.operators import snapshots as SN

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    table = str(tmp_path / "corpus")
    SN.snapshot_write(docs.filter(F.col("doc_id") % 2 == 0), table,
                      mode="append")
    SN.snapshot_write(docs.filter(F.col("doc_id") % 2 == 1), table,
                      mode="append")
    idx = str(tmp_path / "idx")
    R.append_bm25_index_from_snapshot(spark, table, idx)

    # v3 = rollback to v1: the odd docs are REMOVED
    SN.rollback_snapshot(spark, table, 1)
    with pytest.raises(ValueError, match="allow_removals"):
        R.append_bm25_index_from_snapshot(spark, table, idx)
    r = R.append_bm25_index_from_snapshot(
        spark, table, idx, allow_removals=True
    )
    assert r["noop"] is False

    live = docs.filter(F.col("doc_id") % 2 == 0)
    want = _ranked(PL.bm25_more_like_this(live, "doc_id", "text", 5, 10))
    assert _ranked(R.bm25_index_serve(spark, idx, mode="blockmax")) == want

    # a REWRITE (remove + re-add same id) is refused even with
    # allow_removals: build the history on a fresh table
    t2 = str(tmp_path / "t2")
    SN.snapshot_write(docs.limit(40), t2, mode="append")
    idx2 = str(tmp_path / "idx2")
    R.append_bm25_index_from_snapshot(spark, t2, idx2)
    SN.snapshot_write(
        docs.limit(40).withColumn("text", F.concat(F.col("text"),
                                                   F.lit(" rewritten"))),
        t2, mode="overwrite",
    )
    with pytest.raises(ValueError, match="REWRITES"):
        R.append_bm25_index_from_snapshot(
            spark, t2, idx2, allow_removals=True
        )


def test_corrupt_tombstones_fail_loudly_not_resurrect(spark, tmp_path):
    """ADVICE r11: a tombstones READ failure must propagate — if it
    were swallowed as 'no tombstones' (the old bare-except), a serve
    would silently resurrect every deleted document."""
    import os

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(60)
    idx = str(tmp_path / "idx")
    R.append_bm25_index(docs, idx)
    R.tombstone_bm25_index(
        docs.filter(F.col("doc_id") % 7 == 0).select("doc_id"), idx
    )
    # sanity: tombstoned serve works
    assert R.bm25_index_serve(spark, idx).count() > 0

    # corrupt the tombstones table: a garbage 'parquet' part file
    # inside the tombstone commit dir
    tomb_dirs = [
        f"{c}/tombstones"
        for _s, c in R._list_commit_dirs(spark, idx)
        if os.path.isdir(f"{c}/tombstones")
    ]
    assert tomb_dirs
    with open(os.path.join(tomb_dirs[0], "part-junk.parquet"),
              "wb") as fh:
        fh.write(b"this is not parquet")
    with pytest.raises(Exception) as exc:
        R.bm25_index_serve(spark, idx).collect()
    assert "resurrect" not in str(exc.value)  # it raised, good enough


def test_consume_crash_after_rename_resumes_pin_only(
    spark, tmp_path, monkeypatch
):
    """The other crash window: the commit RENAMED (increment fully
    visible) but the pin advance never ran. The retry must recognize
    its own tagged commit and only advance the pin — re-appending
    would double-index every overlap."""
    from cmsspark_spark.operators import snapshots as SN

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    table = str(tmp_path / "corpus")
    SN.snapshot_write(docs.filter(F.col("doc_id") % 2 == 0), table,
                      mode="append")
    SN.snapshot_write(docs.filter(F.col("doc_id") % 2 == 1), table,
                      mode="append")
    idx = str(tmp_path / "idx")
    R.append_bm25_index_from_snapshot(spark, table, idx, to_version=1)

    # simulate: the v1->v2 increment committed (tagged), pin not moved
    inc = SN.snapshot_changes(spark, table, 1, 2)
    R.append_bm25_index(
        inc.select("doc_id", "text"), idx,
        commit_tag={"consume": {"table": table, "from": 1, "to": 2}},
    )

    r = R.append_bm25_index_from_snapshot(spark, table, idx)
    assert r == {"from": 1, "to": 2, "noop": False, "resumed": True}
    # exactly TWO commits (no double-append), serve exact
    assert R.bm25_index_commit_report(spark, idx).first().n_commits == 2
    want = _ranked(PL.bm25_more_like_this(docs, "doc_id", "text", 5, 10))
    assert _ranked(R.bm25_index_serve(spark, idx, mode="maxscore")) == want
    # and the replay after the resume is a clean no-op
    assert R.append_bm25_index_from_snapshot(spark, table, idx)["noop"]


def test_compaction_refuses_unresolved_consume_commit(spark, tmp_path):
    """A live commit tagged with a consume AHEAD of the recorded pin
    is an interrupted consume mid-resume; folding it would destroy the
    tag the resume needs — compaction refuses until the resume runs."""
    from cmsspark_spark.operators import snapshots as SN

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    table = str(tmp_path / "corpus")
    SN.snapshot_write(docs.limit(60), table, mode="append")
    idx = str(tmp_path / "idx")
    R.append_bm25_index_from_snapshot(spark, table, idx)
    SN.snapshot_write(
        docs.filter(F.col("doc_id") >= 10_000).limit(20), table,
        mode="append",
    )
    inc = SN.snapshot_changes(spark, table, 1, 2)
    R.append_bm25_index(
        inc, idx,
        commit_tag={"consume": {"table": table, "from": 1, "to": 2}},
    )
    with pytest.raises(ValueError, match="resume"):
        R.compact_bm25_index(spark, idx)
    # the resume clears the block, then compaction proceeds
    assert R.append_bm25_index_from_snapshot(spark, table, idx)["resumed"]
    R.compact_bm25_index(spark, idx)
    assert R.bm25_index_commit_report(spark, idx).first().n_commits == 1


def test_compaction_folds_tombstones_into_base(spark, tmp_path):
    """LSM semantics: compaction drops dead postings, recomputes the
    stats/champions exactly from the live corpus, clears the
    tombstones — and the tombstoned serve stays hash-identical."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx = str(tmp_path / "idx")
    R.append_bm25_index(docs, idx)
    R.tombstone_bm25_index(
        docs.filter(F.col("doc_id") % 7 == 3).select("doc_id"), idx
    )
    before = _ranked(R.bm25_index_serve(spark, idx, mode="blockmax"))
    want = _ranked(
        PL.bm25_more_like_this(
            docs.filter(F.col("doc_id") % 7 != 3), "doc_id", "text", 5, 10
        )
    )
    assert before == want

    R.compact_bm25_index(spark, idx)
    # tombstones gone from the layout, serve unchanged
    assert (
        R.index_table(spark, idx, "tombstones", required=False) is None
    )
    assert _ranked(R.bm25_index_serve(spark, idx, mode="blockmax")) \
        == want
    # dead docs physically dropped
    post = R.index_table(spark, idx, "postings")
    assert post.filter(F.col("doc") % 7 == 3).count() == 0


def test_first_consume_crash_windows_recover(spark, tmp_path):
    """Self-review r12: the FIRST consume's crash after the rename
    leaves a tagged commit with no pin — the retry must resume off the
    tag, not refuse it as a '--docs index'; a genuine --docs index is
    still refused. (The crash before the rename, which leaves a
    block_size-only meta, is a case of the crash-point enumeration in
    tests/test_fsops.py.)"""
    from cmsspark_spark.operators import snapshots as SN

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).limit(80)
    table = str(tmp_path / "corpus")
    SN.snapshot_write(docs, table, mode="append")

    # first consume's commit landed, pin never advanced
    idx_b = str(tmp_path / "idx_b")
    R.append_bm25_index(
        SN.read_snapshot(spark, table, 1), idx_b,
        commit_tag={"consume": {"table": table, "from": None, "to": 1}},
    )
    r = R.append_bm25_index_from_snapshot(spark, table, idx_b)
    assert r == {"from": None, "to": 1, "noop": False, "resumed": True}
    assert R.bm25_index_commit_report(spark, idx_b).first().n_commits == 1
    # and a genuine --docs index with no pin is still refused
    idx_c = str(tmp_path / "idx_c")
    R.append_bm25_index(docs, idx_c)
    with pytest.raises(ValueError, match="--docs"):
        R.append_bm25_index_from_snapshot(spark, table, idx_c)


def test_vacuum_sweeps_aged_meta_temporaries(spark, tmp_path):
    """The atomic meta replace leaves a .tmp orphan per crash-before-
    rename; vacuum reclaims aged ones and spares fresh ones (an
    in-flight writer's temp)."""
    import os

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(30)
    idx = str(tmp_path / "idx")
    R.append_bm25_index(docs, idx)
    aged = f"{idx}/_index_meta.json.tmp.deadbeef"
    fresh = f"{idx}/_index_meta.json.tmp.cafebabe"
    for p in (aged, fresh):
        with open(p, "w") as fh:
            fh.write("{}")
    os.utime(aged, (1, 1))
    rep = R.vacuum_bm25_index(spark, idx, staging_min_age_s=3600)
    assert any(p.endswith("tmp.deadbeef") for p in rep["removed"])
    assert not os.path.exists(aged) and os.path.exists(fresh)


def test_vacuum_reclaims_folded_commits_and_gap_markers(spark, tmp_path):
    """Vacuum removes every commit dir and sequence marker a compaction
    folded (seq <= base_through_seq), including a marker whose commit
    never landed (a crash between the claim and the rename), and
    nothing past the base."""
    import os

    from cmsspark_spark import fsops

    idx = str(tmp_path / "idx")
    fsops.write_json_meta(
        spark, f"{idx}/_index_meta.json",
        {"base_version": 1, "base_through_seq": 3},
    )
    for name in ("c-00000001-a", "c-00000003-b", "c-00000004-c"):
        os.makedirs(f"{idx}/commits/{name}")
    for seq in (1, 2, 3, 4):
        fsops.put_no_overwrite(spark, f"{idx}/commits/s-{seq:08d}")
    R.vacuum_bm25_index(spark, idx)
    assert sorted(os.listdir(f"{idx}/commits")) == [
        "c-00000004-c", "s-00000004"
    ]


def test_partlog_to_snapshot_to_index_pipeline(spark, tmp_path):
    """Composition of this round's two big pieces: the executor-
    parallel partlog source streams into the exactly-once snapshot
    sink, and each landed version is consumed ATOMICALLY into the
    persisted BM25 index — Kafka-shaped log to serving index, every
    hop crash-safe, serve hash-identical to an index built from the
    final corpus directly."""
    import json as _json

    from cmsspark_spark.operators import snapshots as SN
    from cmsspark_spark.sources.pyds import PartLogDataSource

    spark.dataSource.register(PartLogDataSource)
    docs = [
        (i, t)
        for i, t in enumerate(
            [
                "spark shuffles data between stages",
                "parquet files hold columnar row groups",
                "bm25 ranks documents by term rarity",
                "the quick brown fox jumps over spark",
                "columnar scans prune unread columns",
                "rarity weighted terms rank retrieval",
                "fox and hound documents on disk",
                "stages exchange shuffle partitions",
            ]
        )
    ]
    root = tmp_path / "topic"
    (root / "p0").mkdir(parents=True)
    (root / "p1").mkdir()
    table = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")

    def land(batch_no: int, items: list) -> None:
        half = len(items) // 2
        (root / "p0" / f"{batch_no:06d}.log").write_text(
            "".join(_json.dumps({"doc_id": i, "text": t}) + "\n"
                    for i, t in items[:half])
        )
        (root / "p1" / f"{batch_no:06d}.log").write_text(
            "".join(_json.dumps({"doc_id": i, "text": t}) + "\n"
                    for i, t in items[half:])
        )
        q = (
            spark.readStream.format("partlog")
            .option("path", str(root))
            .load()
            .selectExpr(
                "CAST(get_json_object(value, '$.doc_id') AS LONG)"
                " AS doc_id",
                "get_json_object(value, '$.text') AS text",
            )
            .writeStream.foreachBatch(SN.snapshot_sink(table))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        R.append_bm25_index_from_snapshot(spark, table, idx)

    land(1, docs[:5])
    land(2, docs[5:])

    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    want = _ranked(
        PL.bm25_more_like_this(corpus, "doc_id", "text", 3, 5)
    )
    got = _ranked(
        R.bm25_index_serve(spark, idx, query_max_id=3, k=5,
                           mode="blockmax")
    )
    assert got == want
    # the pin tracks the snapshot history: replay is a no-op
    assert R.append_bm25_index_from_snapshot(spark, table, idx)["noop"]


def test_bm25_index_sink_streaming_maintenance(spark, tmp_path, monkeypatch):
    """The streaming maintenance sink: docs stream in, every
    micro-batch lands as a snapshot version AND is consumed into the
    index; a replayed batch is a full no-op; a crash between the
    landing and the consume heals on the next batch; the final serve
    is hash-identical to a direct build."""
    import json as _json

    from cmsspark_spark.operators import snapshots as SN

    docs = [
        (i, t) for i, t in enumerate([
            "spark shuffles data between stages",
            "parquet files hold columnar row groups",
            "bm25 ranks documents by term rarity",
            "the quick brown fox jumps over spark",
            "columnar scans prune unread columns",
            "rarity weighted terms rank retrieval",
        ])
    ]
    src = tmp_path / "in"
    src.mkdir()
    table = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    sink = R.bm25_index_sink(table, idx)

    def run_stream():
        q = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    (src / "a.json").write_text(
        "\n".join(_json.dumps({"doc_id": i, "text": t})
                  for i, t in docs[:3])
    )
    run_stream()
    assert R.bm25_index_commit_report(spark, idx).first().n_docs == 3

    # crash window: batch 2 lands its snapshot but the consume dies
    (src / "b.json").write_text(
        "\n".join(_json.dumps({"doc_id": i, "text": t})
                  for i, t in docs[3:5])
    )
    real = R.append_bm25_index_from_snapshot
    monkeypatch.setattr(
        R, "append_bm25_index_from_snapshot",
        lambda *a, **k: (_ for _ in ()).throw(
            RuntimeError("simulated crash after landing")
        ),
    )
    try:
        run_stream()
    except Exception:
        pass  # the foreachBatch error fails the query — expected
    monkeypatch.setattr(R, "append_bm25_index_from_snapshot", real)
    # landed but not indexed
    assert SN.list_snapshots(spark, table)[-1] == 2
    assert R.bm25_index_commit_report(spark, idx).first().n_docs == 3

    # next batch heals: its consume folds v2 AND v3 in one increment
    (src / "c.json").write_text(
        _json.dumps({"doc_id": docs[5][0], "text": docs[5][1]})
    )
    run_stream()
    assert R.bm25_index_commit_report(spark, idx).first().n_docs == 6

    # replay the whole stream: nothing lands, nothing re-indexes
    n_versions = len(SN.list_snapshots(spark, table))
    run_stream()
    assert len(SN.list_snapshots(spark, table)) == n_versions
    assert R.bm25_index_commit_report(spark, idx).first().n_docs == 6

    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    want = _ranked(
        PL.bm25_more_like_this(corpus, "doc_id", "text", 3, 5)
    )
    assert _ranked(
        R.bm25_index_serve(spark, idx, query_max_id=3, k=5,
                           mode="blockmax")
    ) == want


def test_consume_equality_delete_version_tombstones(spark, tmp_path):
    """A DELETE-ONLY snapshot version (equality deletes — file sets
    unchanged) must not slip past the consume as a no-content change:
    with allow_removals the dead docs are tombstoned in the same
    atomic commit; without it the consume refuses; and a rollback
    reviving an index-tombstoned id is refused as a rebuild."""
    from cmsspark_spark.operators import snapshots as SN

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).limit(60)
    table = str(tmp_path / "corpus")
    SN.snapshot_write(docs, table, mode="append")
    idx = str(tmp_path / "idx")
    R.append_bm25_index_from_snapshot(spark, table, idx)

    dead = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    SN.snapshot_delete(spark, table, dead, ["doc_id"])  # v2

    with pytest.raises(ValueError, match="delete set changed"):
        R.append_bm25_index_from_snapshot(spark, table, idx)
    r = R.append_bm25_index_from_snapshot(
        spark, table, idx, allow_removals=True
    )
    assert r == {"from": 1, "to": 2, "noop": False}

    live = docs.join(dead, "doc_id", "left_anti")
    want = _ranked(PL.bm25_more_like_this(live, "doc_id", "text", 5, 10))
    assert _ranked(R.bm25_index_serve(spark, idx, mode="blockmax")) \
        == want

    # rollback revives the dead docs: the index refuses (rebuild)
    SN.rollback_snapshot(spark, table, 1)  # v3
    with pytest.raises(ValueError, match="REVIVES"):
        R.append_bm25_index_from_snapshot(
            spark, table, idx, allow_removals=True
        )


def test_boolean_phrase_serve_and_pins(spark, tmp_path):
    """Conjunctive + phrase retrieval off a positional index: AND hits
    contain every term; phrase hits are brute-force-verified adjacent;
    tombstoned docs drop out; the positional pin refuses a mixed
    index; the prune report's scanned count never exceeds the total."""
    import re

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx = str(tmp_path / "idx")
    R.append_bm25_index(docs.filter(F.col("doc_id") % 2 == 0), idx,
                        positions=True)
    # mixed positional-ness is refused
    with pytest.raises(ValueError, match="positions"):
        R.append_bm25_index(docs.filter(F.col("doc_id") % 2 == 1), idx)
    R.append_bm25_index(docs.filter(F.col("doc_id") % 2 == 1), idx,
                        positions=True)

    qs = [(0, ["hash", "join"]), (1, ["zzznope", "join"])]
    res = R.bm25_index_boolean_serve(spark, idx, qs, k=8)
    rows = {r.doc_id: r for r in res.filter("query_id = 0").collect()}
    assert rows, "conjunctive serve found nothing for common terms"
    assert res.filter("query_id = 1").count() == 0  # absent term

    def toks(t):
        return [w for w in re.split(r"\s+", t.lower()) if w]

    text = {
        r.doc_id: toks(r.text)
        for r in docs.select("doc_id", "text").collect()
    }
    for d in rows:
        assert "hash" in text[d] and "join" in text[d]

    ph = R.bm25_index_boolean_serve(
        spark, idx, [(0, ["hash", "join"])], k=8, phrase=True
    )
    got = {r.doc_id for r in ph.collect()}
    brute = {
        d for d, tk in text.items()
        if any(tk[i] == "hash" and tk[i + 1] == "join"
               for i in range(len(tk) - 1))
    }
    assert got and got <= brute

    # the report's invariants: scanned ≤ total, surviving ≤ considered
    rep = {r.query_id: r for r in
           R.bm25_boolean_prune_report(spark, idx, qs).collect()}
    assert rep[0].postings_scanned <= rep[0].postings_total
    assert rep[0].blocks_surviving <= rep[0].blocks_considered
    assert rep[1].blocks_surviving == 0 and rep[1].and_docs == 0

    # tombstoned docs drop from boolean and phrase serves
    victim = sorted(got)[0]
    R.tombstone_bm25_index(
        spark.createDataFrame([(victim,)], "doc_id long"), idx
    )
    after = {
        r.doc_id
        for r in R.bm25_index_boolean_serve(
            spark, idx, [(0, ["hash", "join"])], k=8, phrase=True
        ).collect()
    }
    assert victim not in after
    # ... and compaction (which folds positions too) serves the same
    R.compact_bm25_index(spark, idx)
    post_c = {
        r.doc_id
        for r in R.bm25_index_boolean_serve(
            spark, idx, [(0, ["hash", "join"])], k=8, phrase=True
        ).collect()
    }
    assert post_c == after


def test_commit_seq_claim_is_exclusive(spark, tmp_path):
    """The commit sequence is claimed by an EXCLUSIVE marker create,
    not by the payload rename (whose uuid-suffixed destination cannot
    collide): two stagings finalized against the same listing state
    get DISTINCT sequences, and the markers of folded commits are
    vacuumed."""
    import os

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
    idx = str(tmp_path / "idx")
    R.append_bm25_index(docs.filter(F.col("doc_id") % 2 == 0), idx)
    R.append_bm25_index(docs.filter(F.col("doc_id") % 2 == 1), idx)
    commits = R._list_commit_dirs(spark, idx)
    seqs = [s for s, _ in commits]
    assert seqs == sorted(set(seqs)), f"duplicate commit seqs: {seqs}"
    markers = {
        n for n in os.listdir(f"{idx}/commits") if n.startswith("s-")
    }
    assert markers == {f"s-{s:08d}" for s in seqs}
    R.compact_bm25_index(spark, idx)
    left = {
        n for n in os.listdir(f"{idx}/commits") if n.startswith("s-")
    }
    assert left == set(), f"folded markers not vacuumed: {left}"


# --- one postings state for both stacks ------------------------------------


def _count_kernel_calls(monkeypatch):
    """Count the postings kernel passes the shared postings step runs."""
    from cmsspark_spark.operators import bm25

    calls = []
    kernel = bm25.doc_term_postings

    def counted(*a, **k):
        calls.append(1)
        return kernel(*a, **k)

    monkeypatch.setattr(bm25, "doc_term_postings", counted)
    return calls


def test_serve_then_append_tokenize_the_corpus_once(
    spark, tmp_path, monkeypatch
):
    """The in-session serve and the index append of the same corpus
    share one postings pass, in either order of first use."""
    from cmsspark_spark.operators.memo import invalidate_session_memos

    invalidate_session_memos(spark)
    calls = _count_kernel_calls(monkeypatch)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    want = _ranked(PL.bm25_more_like_this(docs, query_max_id=5))
    idx = str(tmp_path / "idx")
    R.append_bm25_index(docs, idx)
    assert len(calls) == 1
    assert _ranked(R.bm25_index_serve(spark, idx)) == want


def test_append_only_session_keeps_one_postings_entry(spark, tmp_path):
    """An append in a fresh session leaves exactly one corpus in the
    postings memo (its postings frame and its scalars), and the
    blanket invalidation drops it."""
    from cmsspark_spark.operators import bm25
    from cmsspark_spark.operators.memo import invalidate_session_memos

    fresh = spark.newSession()
    docs = fresh.read.parquet(f"{SF}/documents.parquet")
    R.append_bm25_index(docs, str(tmp_path / "idx"))
    store = bm25._POSTINGS_MEMO._session_store(fresh)
    assert {key[1] for key in store} == {
        bm25._POSTINGS_MEMO.key_for(docs, "doc_id", "text")
    }
    assert sorted(key[0] for key in store) == ["post", "stats"]
    invalidate_session_memos(fresh)
    assert len(bm25._POSTINGS_MEMO._session_store(fresh)) == 0


def test_unmemoizable_append_releases_its_postings(
    spark, tmp_path, monkeypatch
):
    """An increment the memo cannot key is tokenized once, persisted
    for the append and released when it ends: no persistent RDD is
    left behind, and the index serves like the in-session rung."""
    from cmsspark_spark.operators import bm25

    calls = _count_kernel_calls(monkeypatch)
    monkeypatch.setattr(
        bm25._POSTINGS_MEMO, "key_for", lambda *a, **k: None
    )
    sc = spark.sparkContext
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    before = set(sc._jsc.getPersistentRDDs().keySet())
    idx = str(tmp_path / "idx")
    R.append_bm25_index(docs, idx)
    assert set(sc._jsc.getPersistentRDDs().keySet()) <= before
    assert len(calls) == 1
    monkeypatch.undo()
    want = _ranked(PL.bm25_more_like_this(docs, query_max_id=5))
    assert _ranked(R.bm25_index_serve(spark, idx)) == want


def test_append_tables_equal_a_direct_kernel_build(spark, tmp_path):
    """Every table an append commits holds the rows of the index
    built straight from one kernel pass over the increment — the
    shared postings state changes where the postings come from, not
    what the index stores."""
    from cmsspark_spark.functions.text import doc_term_postings

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    PL.bm25_more_like_this(docs, query_max_id=1)  # warm the shared state
    cdir = R.append_bm25_index(docs, str(tmp_path / "idx"))
    post = doc_term_postings(
        docs, "doc_id", "text", cols=("doc", "t", "dl", "tf")
    )
    sum_dl = sum(r.dl for r in post.select("doc", "dl").distinct().collect())
    want = {
        "postings": post,
        **R._stat_partials(post, 16),
        "globals": spark.createDataFrame(
            [(docs.count(), sum_dl)], "n_docs long, sum_dl long"
        ),
    }
    for name, frame in want.items():
        got = spark.read.parquet(f"{cdir}/{name}")
        assert got.dtypes == frame.dtypes, name
        assert _ranked(got) == _ranked(frame), name


def _commit_dirs(spark, idx):
    return [cdir for _seq, cdir in R._list_commit_dirs(spark, idx)]


def test_commits_record_the_schema_spark_reads_back(spark, tmp_path):
    """Every table a commit (or a compaction's base) writes carries its
    schema in the commit record, equal to the schema Spark infers from
    the written files: postings, termstats, blockstats, champions,
    globals, positions and tombstones."""
    import json

    from pyspark.sql.types import StructType

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(120)
    idx = str(tmp_path / "idx")
    R.append_bm25_index(docs, idx, positions=True)
    R.tombstone_bm25_index(docs.filter(F.col("doc_id") % 5 == 1), idx)
    seen = set()

    def check(part, recorded):
        for table, js in recorded.items():
            inferred = spark.read.parquet(f"{part}/{table}").schema
            assert StructType.fromJson(js) == inferred, (part, table)
            seen.add(table)

    for cdir in _commit_dirs(spark, idx):
        with open(f"{cdir}/_commit.json") as fh:
            check(cdir, json.load(fh)["schemas"])
    assert seen == set(R._INDEX_TABLES)
    R.compact_bm25_index(spark, idx)
    with open(f"{idx}/_index_meta.json") as fh:
        imeta = json.load(fh)
    base = f"{idx}/base/v{imeta['base_version']:08d}"
    seen.clear()
    check(base, imeta["base_schemas"])
    assert seen == set(R._INDEX_TABLES) - {"tombstones"}


def test_exact_serve_runs_no_schema_inference_job(spark, tmp_path):
    """An exact serve over a one-commit, 400-doc index reads every
    table with its recorded schema: at most 10 Spark jobs, none of
    them a parquet schema inference."""
    import uuid

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(400)
    idx = str(tmp_path / "idx")
    R.append_bm25_index(docs, idx)
    sc = spark.sparkContext
    group = f"serve-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        R.bm25_index_serve(spark, idx, query_max_id=5, mode="exact").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    store = sc._jsc.sc().statusStore()
    names = [
        store.job(j).name()
        for j in sc.statusTracker().getJobIdsForGroup(group)
    ]
    assert len(names) <= 10, names
    assert not [n for n in names if n.startswith("parquet at")], names


def test_commits_without_recorded_schemas_serve_identically(
    spark, tmp_path
):
    """A commit record without its ``schemas`` key (written before
    commits recorded them) is read by inference, alone or beside parts
    that record theirs, and serves identical rows."""
    import json

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx = str(tmp_path / "idx")
    for part in range(2):
        R.append_bm25_index(docs.filter(F.col("doc_id") % 2 == part), idx)
    R.tombstone_bm25_index(docs.filter(F.col("doc_id") % 9 == 4), idx)
    want = {
        mode: _ranked(R.bm25_index_serve(spark, idx, mode=mode))
        for mode in ("exact", "blockmax")
    }
    for i, cdir in enumerate(_commit_dirs(spark, idx)):
        with open(f"{cdir}/_commit.json") as fh:
            meta = json.load(fh)
        del meta["schemas"]
        with open(f"{cdir}/_commit.json", "w") as fh:
            json.dump(meta, fh)
        for mode, rows in want.items():
            assert _ranked(R.bm25_index_serve(spark, idx, mode=mode)) == rows, (
                i, mode,
            )


def test_exact_serve_sums_recorded_globals_on_the_driver(
    spark, tmp_path, monkeypatch
):
    """An exact serve over a one-commit, 400-doc index takes N and
    sum_dl from the commit record: it never reads the globals table
    (whose sum cost two jobs) and runs at most 7 Spark jobs."""
    import uuid

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(400)
    idx = str(tmp_path / "idx")
    R.append_bm25_index(docs, idx)
    read = []
    real = R.index_table
    monkeypatch.setattr(
        R, "index_table", lambda s, d, table, *a, **k: (
            read.append(table) or real(s, d, table, *a, **k)
        ),
    )
    sc = spark.sparkContext
    group = f"serve-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        R.bm25_index_serve(spark, idx, query_max_id=5, mode="exact").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    store = sc._jsc.sc().statusStore()
    names = [
        store.job(j).name()
        for j in sc.statusTracker().getJobIdsForGroup(group)
    ]
    assert "globals" not in read, read
    assert len(names) <= 7, names


def test_commits_without_recorded_globals_serve_identically(spark, tmp_path):
    """A commit record without ``sum_dl`` (written before records
    carried it), and a compacted base whose meta lacks ``base_sum_dl``,
    make the serve read the globals table instead; the rows served are
    identical."""
    import json

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx = str(tmp_path / "idx")
    R.append_bm25_index(docs.filter(F.col("doc_id") % 3 == 0), idx)
    R.compact_bm25_index(spark, idx)
    R.append_bm25_index(docs.filter(F.col("doc_id") % 3 == 1), idx)
    R.tombstone_bm25_index(docs.filter(F.col("doc_id") % 9 == 4), idx)
    R.append_bm25_index(docs.filter(F.col("doc_id") % 3 == 2), idx)
    want = _ranked(R.bm25_index_serve(spark, idx, mode="exact"))
    meta_path = f"{idx}/_index_meta.json"
    records = [f"{cdir}/_commit.json" for cdir in _commit_dirs(spark, idx)]
    for path, key in [(meta_path, "base_sum_dl")] + [
        (p, "sum_dl") for p in records
    ]:
        with open(path) as fh:
            meta = json.load(fh)
        del meta[key]
        with open(path, "w") as fh:
            json.dump(meta, fh)
        assert _ranked(R.bm25_index_serve(spark, idx, mode="exact")) == want, path
