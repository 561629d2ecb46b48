"""Snapshot-versioned tables: time travel, rollback, expiry, commit
races (operators/snapshots.py)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cmsspark_spark.operators import snapshots as S


def _ids(df):
    return sorted(r.id for r in df.select("id").collect())


def test_time_travel_across_append_and_overwrite(spark, tmp_path):
    t = str(tmp_path / "t")
    v1 = S.snapshot_write(spark.range(0, 10), t, mode="append")
    v2 = S.snapshot_write(spark.range(10, 15), t, mode="append")
    v3 = S.snapshot_write(spark.range(100, 103), t, mode="overwrite")
    assert (v1, v2, v3) == (1, 2, 3)

    assert _ids(S.read_snapshot(spark, t, 1)) == list(range(0, 10))
    assert _ids(S.read_snapshot(spark, t, 2)) == list(range(0, 15))
    assert _ids(S.read_snapshot(spark, t, 3)) == [100, 101, 102]
    # latest == newest version
    assert _ids(S.read_snapshot(spark, t)) == [100, 101, 102]
    # overwrite superseded but did NOT delete: v2 still readable (above)
    hist = {r.version: r for r in S.snapshot_history(spark, t).collect()}
    assert hist[3].op == "overwrite" and hist[3].parent == 2
    assert hist[2].op == "append" and hist[2].n_files >= hist[1].n_files


def test_rollback_restores_content_and_keeps_history(spark, tmp_path):
    t = str(tmp_path / "t")
    S.snapshot_write(spark.range(0, 5), t, mode="append")
    S.snapshot_write(spark.range(5, 8), t, mode="overwrite")
    v3 = S.rollback_snapshot(spark, t, 1)
    assert v3 == 3
    assert _ids(S.read_snapshot(spark, t)) == list(range(0, 5))
    # the bad version stays auditable
    assert _ids(S.read_snapshot(spark, t, 2)) == [5, 6, 7]
    ops = {r.version: r.op for r in S.snapshot_history(spark, t).collect()}
    assert ops[3] == "rollback:1"


def test_expire_deletes_only_unreferenced_files(spark, tmp_path):
    t = str(tmp_path / "t")
    S.snapshot_write(spark.range(0, 10), t, mode="append")   # files A
    S.snapshot_write(spark.range(10, 15), t, mode="append")  # A + B
    S.snapshot_write(spark.range(100, 103), t, mode="overwrite")  # C

    # keep the last 2 (v2, v3): v1's files are all shared with v2 ->
    # nothing deletable
    plan = S.expire_snapshots(spark, t, keep_last=2, dry_run=True)
    assert plan["expired_versions"] == [1]
    assert plan["deleted_files"] == []

    # keep only v3: A and B unreferenced -> deleted; C survives
    res = S.expire_snapshots(spark, t, keep_last=1, dry_run=False)
    assert res["expired_versions"] == [1, 2]
    assert len(res["deleted_files"]) > 0
    assert _ids(S.read_snapshot(spark, t, 3)) == [100, 101, 102]
    with pytest.raises(FileNotFoundError):
        S.read_snapshot(spark, t, 1)
    with pytest.raises(FileNotFoundError):
        S.read_snapshot(spark, t, 2)
    # deleted files are really gone from disk
    from cmsspark_spark import fsops

    on_disk = {
        f.rsplit("/", 1)[-1] for f in fsops.list_parquet_files(spark, t)
    }
    assert on_disk.isdisjoint(set(res["deleted_files"]))
    meta = S.read_snapshot_meta(spark, t, 3)
    assert set(meta["files"]) <= on_disk


def test_commit_race_skips_claimed_version(spark, tmp_path):
    t = str(tmp_path / "t")
    S.snapshot_write(spark.range(0, 3), t, mode="append")
    # a concurrent writer claims v2 out from under us
    snapdir = tmp_path / "t" / S.SNAPDIR
    (snapdir / "v00000002.json").write_text(
        '{"version": 2, "op": "append", "parent": 1, "files": [], '
        '"n_files": 0}'
    )
    v = S.snapshot_write(spark.range(3, 6), t, mode="append")
    assert v == 3
    # and the append chained off the REAL latest at commit time
    assert S.list_snapshots(spark, t) == [1, 2, 3]


def test_dry_run_expire_touches_nothing(spark, tmp_path):
    t = str(tmp_path / "t")
    S.snapshot_write(spark.range(0, 4), t, mode="append")
    S.snapshot_write(spark.range(4, 8), t, mode="overwrite")
    before = sorted(p.name for p in (tmp_path / "t").rglob("*.parquet"))
    S.expire_snapshots(spark, t, keep_last=1, dry_run=True)
    after = sorted(p.name for p in (tmp_path / "t").rglob("*.parquet"))
    assert before == after
    assert S.list_snapshots(spark, t) == [1, 2]


def test_snapshot_changes_reads_only_added_rows(spark, tmp_path):
    t = str(tmp_path / "t")
    S.snapshot_write(spark.range(0, 10), t, mode="append")
    S.snapshot_write(spark.range(10, 14), t, mode="append")
    S.snapshot_write(spark.range(100, 105), t, mode="overwrite")

    assert _ids(S.snapshot_changes(spark, t, 1, 2)) == [10, 11, 12, 13]
    assert _ids(S.snapshot_changes(spark, t, 1, 1)) == []
    # across the overwrite: only v3's new files count as added
    assert _ids(S.snapshot_changes(spark, t, 2, 3)) == list(range(100, 105))
    # default to_version = latest
    assert _ids(S.snapshot_changes(spark, t, 2)) == list(range(100, 105))


def test_snapshot_sink_streaming_exactly_once(spark, tmp_path):
    """The foreachBatch snapshot sink: one snapshot per micro-batch
    with batch_id recorded; a REPLAYED batch (same id) is skipped —
    version history and row counts are exactly-once."""
    import json as _json

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.json").write_text(
        "\n".join(_json.dumps({"id": i}) for i in range(5))
    )
    (src / "b.json").write_text(
        "\n".join(_json.dumps({"id": i}) for i in range(5, 9))
    )
    t = str(tmp_path / "t")
    stream = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(S.snapshot_sink(t))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    versions = S.list_snapshots(spark, t)
    assert len(versions) == 2
    assert _ids(S.read_snapshot(spark, t)) == list(range(9))
    assert S.committed_batch_ids(spark, t) == {"0", "1"}

    # simulate the at-least-once replay: re-deliver batch 0 directly
    replay = spark.createDataFrame([(i,) for i in range(5)], "id long")
    S.snapshot_sink(t)(replay, 0)
    assert S.list_snapshots(spark, t) == versions  # no new version
    assert _ids(S.read_snapshot(spark, t)) == list(range(9))

    # a genuinely new batch still lands
    S.snapshot_sink(t)(spark.createDataFrame([(99,)], "id long"), 2)
    assert _ids(S.read_snapshot(spark, t)) == list(range(9)) + [99]


def test_snapshot_table_cli_smoke(spark, tmp_path, capsys, monkeypatch):
    """history/rollback/expire/changes subcommands drive the real
    operators end-to-end."""
    from cmsspark_spark.jobs import snapshot_table

    # the CLI builds its own session via get_spark — reuse the fixture
    monkeypatch.setattr(
        snapshot_table, "get_spark", lambda *a, **k: spark
    )
    t = str(tmp_path / "t")
    S.snapshot_write(spark.range(0, 6), t, mode="append")
    S.snapshot_write(spark.range(6, 9), t, mode="overwrite")

    snapshot_table.main(["history", "--table", t])
    snapshot_table.main(
        ["changes", "--table", t, "--from-version", "1",
         "--out", str(tmp_path / "delta")]
    )
    assert _ids(spark.read.parquet(str(tmp_path / "delta"))) == [6, 7, 8]
    snapshot_table.main(["rollback", "--table", t, "--version", "1"])
    assert _ids(S.read_snapshot(spark, t)) == list(range(0, 6))
    snapshot_table.main(
        ["expire", "--table", t, "--keep-last", "1", "--delete"]
    )
    assert S.list_snapshots(spark, t) == [3]
    out = capsys.readouterr().out
    assert "rolled_back_to" in out and "rows_added" in out


def test_clean_corpus_snapshot_versions_across_runs(spark, tmp_path):
    """clean_corpus --snapshot commits each run's survivors as one
    snapshot version of <out>/corpus: a stricter re-run supersedes the
    corpus while the first version stays readable (time travel), and
    the latest version equals the shard output of the latest run."""
    from cmsspark_spark.jobs import clean_corpus

    out = str(tmp_path / "cc")
    clean_corpus.run(
        spark, "/root/testdata/sf0.001", out,
        min_tokens=5, snapshot=True,
    )
    v1 = S.read_snapshot(spark, out + "/corpus", 1)
    n1 = v1.count()
    assert n1 > 0

    clean_corpus.run(
        spark, "/root/testdata/sf0.001", out,
        min_tokens=40, snapshot=True,  # stricter gate -> fewer docs
    )
    assert S.list_snapshots(spark, out + "/corpus") == [1, 2]
    v2 = S.read_snapshot(spark, out + "/corpus")
    n2 = v2.count()
    assert 0 < n2 < n1            # stricter run kept fewer
    assert v1.count() == n1       # v1 unchanged after the re-run
    shard_ids = {
        r.doc_id
        for r in spark.read.parquet(out + "/shards").select("doc_id").collect()
    }
    assert {r.doc_id for r in v2.select("doc_id").collect()} == shard_ids


def test_snapshot_version_diff_classifies_adds_removes_changes(spark, tmp_path):
    t = str(tmp_path / "t")
    df1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    S.snapshot_write(df1, t, mode="append")
    df2 = spark.createDataFrame(
        [(2, "b"), (3, "C-NEW"), (4, "d")], "doc_id long, text string"
    )
    S.snapshot_write(df2, t, mode="overwrite")
    diff = {
        r.doc_id: r.change
        for r in S.snapshot_version_diff(spark, t, 1, 2).collect()
    }
    assert diff == {1: "removed", 3: "changed", 4: "added"}


def test_concurrent_appends_compose_instead_of_clobbering(spark, tmp_path):
    """The review-found race: two writers appending concurrently must
    BOTH land in the final live view — the losing committer re-reads
    the winner's live list inside its retry, so no append is ever
    dropped. Exercised with real threads racing snapshot_write."""
    import threading

    t = str(tmp_path / "t")
    S.snapshot_write(spark.range(0, 5), t, mode="append")

    errs = []

    def _append(lo, hi):
        try:
            S.snapshot_write(spark.range(lo, hi), t, mode="append")
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    threads = [
        threading.Thread(target=_append, args=(100 * i, 100 * i + 10))
        for i in range(1, 5)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    versions = S.list_snapshots(spark, t)
    assert len(versions) == 5  # every writer got its own version
    got = _ids(S.read_snapshot(spark, t))
    want = list(range(0, 5)) + sorted(
        x for i in range(1, 5) for x in range(100 * i, 100 * i + 10)
    )
    assert got == sorted(want)


def test_write_attribution_ignores_foreign_inflight_files(spark, tmp_path):
    """ADVICE r10: snapshot_write must derive its committed file set
    from the write itself, never from a directory-listing diff — a
    concurrent writer's in-flight file landing in the table dir must
    not be claimed by this commit."""
    t = str(tmp_path / "t")
    S.snapshot_write(spark.range(0, 5), t, mode="append")

    # a foreign writer's partially-landed batch: a raw parquet file in
    # the table root that NO snapshot owns (it landed between any two
    # points of our commit — with listing-diff attribution it would be
    # claimed; with write-derived attribution it never can be)
    spark.range(900, 905).write.mode("append").parquet(t)

    v2 = S.snapshot_write(spark.range(5, 10), t, mode="append")
    meta = S.read_snapshot_meta(spark, t, v2)
    assert all(n.startswith("snap-") for n in meta["files"])
    assert _ids(S.read_snapshot(spark, t, v2)) == list(range(0, 10))
    # the foreign rows are invisible to every snapshot
    assert 900 not in _ids(S.read_snapshot(spark, t))


def test_staging_files_invisible_to_listing(spark, tmp_path):
    """Files under an underscore-prefixed subdir (_staging, _temporary)
    must be invisible to fsops.list_parquet_files — they are another
    commit's in-flight data."""
    from cmsspark_spark import fsops

    t = tmp_path / "t"
    spark.range(0, 5).write.parquet(str(t))
    spark.range(5, 8).write.parquet(str(t / "_staging" / "abc"))
    listed = fsops.list_parquet_files(spark, str(t))
    assert listed  # the real files are there
    assert all("/_staging/" not in p for p in listed)
    # listing the staging dir DIRECTLY still works (the write path
    # enumerates its own staged files this way)
    inner = fsops.list_parquet_files(spark, str(t / "_staging" / "abc"))
    assert inner and all(p.endswith(".parquet") for p in inner)


def test_empty_snapshot_keeps_committed_schema(spark, tmp_path):
    """ADVICE r10: an empty version must be readable with the schema
    it was COMMITTED under — not the directory's current (possibly
    drifted) footers, and not fail when the table has no footers at
    all (empty first write)."""
    t = str(tmp_path / "t")
    empty = spark.range(0).selectExpr("id", "cast(id as string) as name")
    v1 = S.snapshot_write(empty, t, mode="append")
    got = S.read_snapshot(spark, t, v1)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["id", "name"]

    # later the table's live schema drifts; v1 must NOT inherit it
    drifted = spark.range(5).selectExpr("id", "id * 2 as other")
    S.snapshot_write(drifted, t, mode="overwrite")
    again = S.read_snapshot(spark, t, v1)
    assert [f.name for f in again.schema.fields] == ["id", "name"]

    # an empty OVERWRITE pins its own schema too, and rollback to it
    # carries the schema forward
    v3 = S.snapshot_write(
        spark.range(0).selectExpr("id", "id + 1 as third"), t,
        mode="overwrite",
    )
    v4 = S.rollback_snapshot(spark, t, v3)
    assert [f.name for f in S.read_snapshot(spark, t, v4).schema.fields] == [
        "id", "third",
    ]


def test_claim_seam_catches_overwriting_rename(spark, tmp_path):
    """ADVICE r10 / verdict item 4: on an S3-like store whose rename
    OVERWRITES, the default claim would let two racers both 'win' a
    version (one commit silently vanishes). The pluggable claim seam
    lets a caller supply a CAS-backed claim that serializes the race.

    The fake filesystem here is an overwriting rename (shutil.move):
    first we prove it produces the double-claim, then that a CAS claim
    built on the SAME overwriting primitive yields distinct versions
    with both commits preserved."""
    import shutil
    import threading

    def overwriting_claim(tmp: str, dest: str) -> bool:
        # S3-semantics fake: last writer wins, no exists check
        shutil.move(tmp.replace("file:", ""), dest.replace("file:", ""))
        return True

    t1 = str(tmp_path / "bad")
    spark.range(0, 3).write.parquet(t1)
    files = [p.rsplit("/", 1)[-1] for p in
             __import__("glob").glob(t1 + "/*.parquet")]
    # two racers plan the same next version; with overwriting rename
    # BOTH claims report success -> one meta file is silently lost
    barrier = threading.Barrier(2)
    got = []

    def _race(tag):
        import json as _json
        import os
        import uuid as _uuid
        snapdir = t1 + "/" + S.SNAPDIR
        os.makedirs(snapdir, exist_ok=True)
        v = (S.list_snapshots(spark, t1) or [0])
        v = (v[-1] if v else 0) + 1
        tmp = f"{snapdir}/_tmp.{_uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            _json.dump({"version": v, "op": tag, "parent": None,
                        "files": files, "n_files": len(files)}, fh)
        barrier.wait()
        assert overwriting_claim(tmp, f"{snapdir}/v{v:08d}.json")
        got.append(v)

    ths = [threading.Thread(target=_race, args=(f"w{i}",)) for i in range(2)]
    for th in ths:
        th.start()
    for th in ths:
        th.join()
    assert got[0] == got[1]  # the double-claim: both racers "won" v1
    assert S.list_snapshots(spark, t1) == [1]  # one commit vanished

    # the seam: a CAS claim over the same overwriting primitive
    t2 = str(tmp_path / "good")
    claimed: set[str] = set()
    lock = threading.Lock()

    def cas_claim(tmp: str, dest: str) -> bool:
        with lock:  # stands in for a conditional put / lock table
            if dest in claimed:
                return False
            claimed.add(dest)
        shutil.move(tmp.replace("file:", ""), dest.replace("file:", ""))
        return True

    spark.range(0, 3).write.parquet(t2)
    f2 = [p.rsplit("/", 1)[-1] for p in
          __import__("glob").glob(t2 + "/*.parquet")]
    errs = []

    def _commit(tag):
        try:
            S.commit_snapshot(spark, t2, f2, op=tag, claim=cas_claim)
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    ths = [threading.Thread(target=_commit, args=(f"w{i}",))
           for i in range(4)]
    for th in ths:
        th.start()
    for th in ths:
        th.join()
    assert not errs
    assert S.list_snapshots(spark, t2) == [1, 2, 3, 4]  # no lost commit


def test_expire_aborts_on_concurrent_commit(spark, tmp_path, monkeypatch):
    """ADVICE r10: a commit landing between expire's planning and its
    deletions could reference files being deleted. The destructive
    path re-lists the version log and aborts if it changed."""
    t = str(tmp_path / "t")
    S.snapshot_write(spark.range(0, 5), t, mode="append")
    S.snapshot_write(spark.range(5, 8), t, mode="overwrite")
    S.snapshot_write(spark.range(8, 12), t, mode="overwrite")

    real_list = S.list_snapshots
    calls = {"n": 0}

    def racy_list(spark_, table_):
        calls["n"] += 1
        vs = real_list(spark_, table_)
        if calls["n"] == 1:
            # a concurrent rollback commits v4 right after planning
            S.rollback_snapshot(spark_, table_, 1)
        return vs

    monkeypatch.setattr(S, "list_snapshots", racy_list)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        S.expire_snapshots(spark, t, keep_last=1, dry_run=False)
    monkeypatch.undo()
    # nothing was deleted: every version (incl. the racer's) readable
    assert _ids(S.read_snapshot(spark, t, 1)) == list(range(0, 5))
    assert _ids(S.read_snapshot(spark, t, 4)) == list(range(0, 5))


def test_cdc_signed_rows_read_only_changed_files(spark, tmp_path):
    """snapshot_cdc derives the content delta at file grain: an
    append's CDC reads ONLY the appended files (+1), a rollback's
    only the rolled-off files (-1) — asserted on the plan's input
    files, the 100-TB property."""
    t = str(tmp_path / "t")
    v1 = S.snapshot_write(spark.range(0, 10), t, mode="append")
    v2 = S.snapshot_write(spark.range(10, 15), t, mode="append")
    v1_files = set(S.read_snapshot_meta(spark, t, v1)["files"])
    v2_files = set(S.read_snapshot_meta(spark, t, v2)["files"])

    cdc = S.snapshot_cdc(spark, t, v1, v2)
    read = {p.rsplit("/", 1)[-1] for p in cdc.inputFiles()}
    assert read == v2_files - v1_files  # appended files only
    rows = cdc.collect()
    assert all(r._cdc_sign == 1 for r in rows)
    assert sorted(r.id for r in rows) == list(range(10, 15))

    v3 = S.rollback_snapshot(spark, t, v1)
    cdc_back = S.snapshot_cdc(spark, t, v2, v3)
    read_back = {p.rsplit("/", 1)[-1] for p in cdc_back.inputFiles()}
    assert read_back == v2_files - v1_files  # rolled-off files only
    assert all(r._cdc_sign == -1 for r in cdc_back.collect())

    # no-change CDC: empty, schema preserved
    assert S.snapshot_cdc(spark, t, v3, v3).count() == 0


def test_maintained_agg_equals_recompute_at_every_version(spark, tmp_path):
    """VERDICT r10 item 8: the CDC-maintained groupBy materialization
    equals a from-scratch aggregate of the live snapshot after every
    commit — appends, a rewriting overwrite, and a rollback that
    erases a whole group."""
    t = str(tmp_path / "t")
    state = str(tmp_path / "agg")

    def mk(lo, hi, grp):
        return (
            spark.range(lo, hi)
            .selectExpr("id", f"'{grp}' as g", "id * 10 as v")
        )

    def recompute():
        return {
            (r.g): (r.n_rows, r.sum_v)
            for r in S.read_snapshot(spark, t)
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("v").cast("long").alias("sum_v"),
            )
            .collect()
        }

    def maintained():
        return {
            (r.g): (r.n_rows, r.sum_v)
            for r in S.maintain_snapshot_agg(
                spark, t, state, ["g"], ["v"]
            ).collect()
        }

    S.snapshot_write(mk(0, 10, "a"), t, mode="append")
    assert maintained() == recompute()
    S.snapshot_write(mk(10, 15, "b"), t, mode="append")
    assert maintained() == recompute()
    # overwrite rewrites the world: CDC = remove-all + add-all, the
    # signed fold still lands exactly on the recompute
    S.snapshot_write(mk(100, 104, "a"), t, mode="overwrite")
    assert maintained() == recompute()
    # rollback to v2: group 'b' reappears; then rollback to v1 and
    # group 'b' vanishes from the materialization entirely
    S.rollback_snapshot(spark, t, 2)
    m = maintained()
    assert m == recompute() and "b" in m
    S.rollback_snapshot(spark, t, 1)
    m = maintained()
    assert m == recompute() and "b" not in m
    # an already-current state is returned as-is (no-op refresh)
    assert maintained() == m


def test_manifest_mode_appends_reuse_parent_pointers(spark, tmp_path):
    """Iceberg-style manifest-list indirection: past the inline
    threshold a version stores m-*.json pointers, and each APPEND
    reuses the parent's pointers plus ONE new chunk for its own files
    — commit metadata cost ∝ increment. Reads, time travel, rollback
    and CDC resolve through the pointers identically to inline mode."""
    import json as _json

    t = str(tmp_path / "t")
    S.snapshot_write(spark.range(0, 10).repartition(4), t, mode="append")
    # force the threshold below the live file count: next commit
    # converts to manifest mode
    inline_meta = S.read_snapshot_meta(spark, t, 1)
    assert "files" in inline_meta

    from cmsspark_spark.operators import snapshots as SN

    old_max = SN.MANIFEST_INLINE_MAX
    SN.MANIFEST_INLINE_MAX = 3
    try:
        S.snapshot_write(spark.range(10, 20).repartition(4), t,
                         mode="append")
        m2 = S.read_snapshot_meta(spark, t, 2)
        assert "manifests" in m2 and "files" not in m2
        assert m2["n_files"] == inline_meta["n_files"] + 4

        S.snapshot_write(spark.range(20, 25).repartition(2), t,
                         mode="append")
        m3 = S.read_snapshot_meta(spark, t, 3)
        # pointer REUSE: v3 carries every v2 pointer plus exactly one
        assert set(m2["manifests"]) < set(m3["manifests"])
        assert len(m3["manifests"]) == len(m2["manifests"]) + 1

        # resolution: every version reads its exact content
        assert _ids(S.read_snapshot(spark, t, 1)) == list(range(0, 10))
        assert _ids(S.read_snapshot(spark, t, 2)) == list(range(0, 20))
        assert _ids(S.read_snapshot(spark, t)) == list(range(0, 25))

        # rollback reuses pointers (O(1) metadata)
        v4 = S.rollback_snapshot(spark, t, 2)
        m4 = S.read_snapshot_meta(spark, t, v4)
        assert m4["manifests"] == m2["manifests"]
        assert _ids(S.read_snapshot(spark, t, v4)) == list(range(0, 20))

        # CDC across manifest-mode versions: adds/removes by file set
        cdc = S.snapshot_cdc(spark, t, 2, 3)
        assert sorted(r.id for r in cdc.collect()) == list(range(20, 25))
    finally:
        SN.MANIFEST_INLINE_MAX = old_max


def test_manifest_mode_expire_reclaims_unreferenced_chunks(
    spark, tmp_path
):
    """expire on a manifest-mode table deletes data files AND manifest
    chunks no retained version references; shared chunks survive (the
    pointer-reuse twin of the shared-data-file rule)."""
    import os

    from cmsspark_spark.operators import snapshots as SN

    t = str(tmp_path / "t")
    old_max = SN.MANIFEST_INLINE_MAX
    SN.MANIFEST_INLINE_MAX = 1
    try:
        S.snapshot_write(spark.range(0, 5).coalesce(1), t, mode="append")
        S.snapshot_write(spark.range(5, 8).coalesce(1), t, mode="append")
        S.snapshot_write(spark.range(100, 103).repartition(2), t,
                         mode="overwrite")
        m2 = S.read_snapshot_meta(spark, t, 2)
        m3 = S.read_snapshot_meta(spark, t, 3)
        assert "manifests" in m2 and "manifests" in m3

        res = S.expire_snapshots(spark, t, keep_last=1, dry_run=False)
        # v1/v2's chunks are unreferenced by v3 -> reclaimed
        assert set(res["deleted_manifests"]) == set(m2["manifests"])
        snapdir = os.path.join(t, S.SNAPDIR)
        left = {n for n in os.listdir(snapdir) if n.startswith("m-")}
        assert left == set(m3["manifests"])
        # the survivor still reads
        assert _ids(S.read_snapshot(spark, t)) == [100, 101, 102]
        with pytest.raises(FileNotFoundError):
            S.read_snapshot_meta(spark, t, 2)
    finally:
        SN.MANIFEST_INLINE_MAX = old_max


def test_maintained_agg_refuses_wrong_table(spark, tmp_path):
    """A state dir refuses refreshes against a different table: folding
    another table's CDC would silently corrupt the aggregate. (Crash
    safety of the refresh is a case of the crash-point enumeration in
    tests/test_fsops.py.)"""
    t = str(tmp_path / "t")
    state = str(tmp_path / "agg")
    S.snapshot_write(spark.range(0, 10).selectExpr("id", "id * 2 as v"),
                     t, mode="append")
    S.maintain_snapshot_agg(spark, t, state, [], ["v"])
    t2 = str(tmp_path / "other")
    S.snapshot_write(spark.range(0, 3).selectExpr("id", "id as v"),
                     t2, mode="append")
    with pytest.raises(ValueError, match="refusing to refresh"):
        S.maintain_snapshot_agg(spark, t2, state, [], ["v"])


def test_expire_reclaims_aged_orphan_manifests(spark, tmp_path):
    """ADVICE r11: an m-*.json referenced by NO version (commit that
    crashed before claiming its version, or a lost-race retry chunk)
    is reclaimed by expire once past the age gate; a FRESH orphan — a
    concurrent in-flight commit's manifest — survives."""
    import os

    t = str(tmp_path / "t")
    old_max = S.MANIFEST_INLINE_MAX
    S.MANIFEST_INLINE_MAX = 1
    try:
        S.snapshot_write(spark.range(0, 5).coalesce(1), t, mode="append")
        S.snapshot_write(spark.range(5, 9).coalesce(1), t, mode="append")
        m2 = S.read_snapshot_meta(spark, t, 2)
        snapdir = os.path.join(t, S.SNAPDIR)

        aged = os.path.join(snapdir, "m-deadbeef.json")
        fresh = os.path.join(snapdir, "m-cafebabe.json")
        tmp_orphan = os.path.join(snapdir, "_tmp.deadcrash")
        for f in (aged, fresh, tmp_orphan):
            with open(f, "w") as fh:
                fh.write("[]")
        os.utime(aged, (1, 1))
        os.utime(tmp_orphan, (1, 1))

        plan = S.expire_snapshots(spark, t, keep_last=2, dry_run=True)
        assert plan["orphan_manifests"] == [
            "_tmp.deadcrash", "m-deadbeef.json"
        ]
        assert os.path.exists(aged)  # dry run deletes nothing

        S.expire_snapshots(spark, t, keep_last=2, dry_run=False)
        assert not os.path.exists(aged)
        assert not os.path.exists(tmp_orphan)
        assert os.path.exists(fresh)  # age-gated: in-flight commit safe
        # every REFERENCED manifest of the retained versions survives
        for n in m2["manifests"]:
            assert os.path.exists(os.path.join(snapdir, n))
        assert _ids(S.read_snapshot(spark, t)) == list(range(0, 9))
    finally:
        S.MANIFEST_INLINE_MAX = old_max


def test_expire_reclaims_crashed_ref_and_stage_temporaries(
    spark, tmp_path, monkeypatch
):
    """A crash inside the atomic JSON replace of a tag move or a stage
    entry leaves a ``<name>.tmp.<uuid>`` beside it; an aged expire
    lists it (dry run) and deletes it, and the tag and the staged data
    are untouched by the crash. An aged tag whose own name contains
    ``.tmp.`` is a real ref, not a temporary, and survives."""
    import os
    import re

    t = str(tmp_path / "t")
    S.snapshot_write(spark.range(0, 5).coalesce(1), t, mode="append")
    S.snapshot_write(spark.range(5, 8).coalesce(1), t, mode="append")
    S.snapshot_tag(spark, t, "base", 1)
    S.snapshot_tag(spark, t, "nightly.tmp.1", 2)

    def crash(*a, **k):
        raise RuntimeError("simulated crash in the rename step")

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            S.snapshot_tag(spark, t, "base", 2, replace=True)
        with pytest.raises(RuntimeError, match="simulated crash"):
            S.snapshot_write_staged(spark.range(8, 9), t)
    snapdir = os.path.join(t, S.SNAPDIR)

    def temps():
        return sorted(
            os.path.relpath(os.path.join(d, n), snapdir)
            for d, _, names in os.walk(snapdir)
            for n in names
            if re.fullmatch(r".+\.tmp\.[0-9a-f]{32}", n)
        )

    tags = {"base": 1, "nightly.tmp.1": 2}
    left = temps()
    assert [p.split("/")[0] for p in left] == ["refs", "staged"]
    assert S.snapshot_tags(spark, t) == tags
    assert S.list_staged(spark, t) == []

    kept = S.expire_snapshots(spark, t, keep_last=5)  # not aged yet
    assert kept["orphan_temps"] == []
    plan = S.expire_snapshots(spark, t, keep_last=5, orphan_min_age_s=0)
    assert plan["orphan_temps"] == left
    S.expire_snapshots(
        spark, t, keep_last=5, orphan_min_age_s=0, dry_run=False
    )
    assert temps() == []
    assert S.snapshot_tags(spark, t) == tags
    assert _ids(S.read_snapshot(spark, t, "base")) == list(range(0, 5))
    assert _ids(S.read_snapshot(spark, t, "nightly.tmp.1")) == list(
        range(0, 8)
    )


def test_maintained_minmax_agg_equals_recompute_at_every_version(
    spark, tmp_path
):
    """VERDICT r11 item 3: min/max maintenance — append-only CDC
    merges extrema exactly (least/greatest of partials); a CDC with
    removals recomputes ONLY the affected groups; the materialization
    equals a from-scratch aggregate after every commit, including a
    rollback that restores a previously-shrunk maximum."""
    t = str(tmp_path / "t")
    state = str(tmp_path / "agg")

    def mk(rows):
        return spark.createDataFrame(rows, "id long, g string, v long")

    def recompute():
        return {
            r.g: (r.n_rows, r.sum_v, r.min_v, r.max_v)
            for r in S.read_snapshot(spark, t)
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("v").cast("long").alias("sum_v"),
                F.min("v").alias("min_v"),
                F.max("v").alias("max_v"),
            )
            .collect()
        }

    def maintained():
        return {
            r.g: (r.n_rows, r.sum_v, r.min_v, r.max_v)
            for r in S.maintain_snapshot_agg(
                spark, t, state, ["g"],
                sum_cols=["v"], min_cols=["v"], max_cols=["v"],
            ).collect()
        }

    S.snapshot_write(mk([(1, "a", 10), (2, "a", 50), (3, "b", 7)]), t,
                     mode="append")
    assert maintained() == recompute()
    # append-only fast path: new max for 'a', new group 'c'
    S.snapshot_write(mk([(4, "a", 99), (5, "c", -3)]), t, mode="append")
    assert maintained() == recompute()
    # overwrite removes the v=99 row: 'a' max must SHRINK back — only
    # the recompute-affected-groups path can learn that
    S.snapshot_write(
        mk([(1, "a", 10), (2, "a", 50), (3, "b", 7), (5, "c", -3)]),
        t, mode="overwrite",
    )
    m = maintained()
    assert m == recompute() and m["a"][3] == 50
    # rollback restores v2's content: max grows back to 99
    S.rollback_snapshot(spark, t, 2)
    m = maintained()
    assert m == recompute() and m["a"][3] == 99
    # rollback to v1: groups shrink, 'c' vanishes entirely
    S.rollback_snapshot(spark, t, 1)
    m = maintained()
    assert m == recompute() and "c" not in m
    # no-op refresh returns the same state
    assert maintained() == m


def test_maintained_agg_spec_change_is_refused(spark, tmp_path):
    """A refresh whose aggregate spec no longer matches the stored
    state's columns must fail loudly — silently merging a sum state
    as a min/max state would corrupt both."""
    t = str(tmp_path / "t")
    state = str(tmp_path / "agg")
    S.snapshot_write(
        spark.createDataFrame([(1, "a", 5)], "id long, g string, v long"),
        t, mode="append",
    )
    S.maintain_snapshot_agg(spark, t, state, ["g"], sum_cols=["v"])
    S.snapshot_write(
        spark.createDataFrame([(2, "b", 6)], "id long, g string, v long"),
        t, mode="append",
    )
    with pytest.raises(ValueError, match="spec changed"):
        S.maintain_snapshot_agg(
            spark, t, state, ["g"], sum_cols=["v"], max_cols=["v"]
        )


def test_optimize_snapshot_folds_files_content_identical(spark, tmp_path):
    """optimize_snapshot rewrites the latest version into fewer
    (z-ordered) files as a NEW version: rows identical, older versions
    still read the superseded files, and expire reclaims them."""
    import os

    t = str(tmp_path / "t")
    # many small appends -> small-file accumulation
    for lo in range(0, 40, 10):
        S.snapshot_write(
            spark.range(lo, lo + 10)
            .selectExpr("id", "id % 7 as a", "id % 3 as b")
            .repartition(3),
            t, mode="append",
        )
    v = S.list_snapshots(spark, t)[-1]
    n_before = len(S.snapshot_files(spark, t, v))
    rows_before = sorted(
        tuple(r) for r in S.read_snapshot(spark, t).collect()
    )

    v_opt = S.optimize_snapshot(spark, t, n_files=2, zorder_by=["a", "b"])
    assert v_opt == v + 1
    files_opt = S.snapshot_files(spark, t, v_opt)
    assert len(files_opt) <= 2 < n_before
    assert sorted(
        tuple(r) for r in S.read_snapshot(spark, t).collect()
    ) == rows_before
    # time travel: the pre-optimize version still reads its own files
    assert sorted(
        tuple(r) for r in S.read_snapshot(spark, t, v).collect()
    ) == rows_before
    ops = {r.version: r.op for r in S.snapshot_history(spark, t).collect()}
    assert ops[v_opt] == f"optimize:{v}"

    # expire to the optimized version reclaims every superseded file
    res = S.expire_snapshots(spark, t, keep_last=1, dry_run=False)
    assert set(res["kept_versions"]) == {v_opt}
    on_disk = {
        f
        for f in os.listdir(t)
        if f.endswith(".parquet")
    }
    assert on_disk == set(files_opt)
    assert sorted(
        tuple(r) for r in S.read_snapshot(spark, t).collect()
    ) == rows_before


def test_optimize_snapshot_aborts_on_concurrent_commit(
    spark, tmp_path, monkeypatch
):
    """The rewrite must not publish a version that drops a concurrent
    append's rows: a version landing between the plan and the commit
    aborts the optimize, and the table still reads everything."""
    t = str(tmp_path / "t")
    S.snapshot_write(spark.range(0, 20).selectExpr("id", "id % 5 as a"),
                     t, mode="append")

    real = S._write_attributed

    def _race(df, table):
        names = real(df, table)
        # restore first: the concurrent writer below goes through
        # snapshot_write -> _write_attributed (else infinite recursion)
        monkeypatch.setattr(S, "_write_attributed", real)
        S.snapshot_write(
            spark.range(100, 105).selectExpr("id", "id % 5 as a"),
            table, mode="append",
        )
        return names

    monkeypatch.setattr(S, "_write_attributed", _race)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        S.optimize_snapshot(spark, t, n_files=1)
    monkeypatch.setattr(S, "_write_attributed", real)
    assert _ids(S.read_snapshot(spark, t)) == list(range(0, 20)) + list(
        range(100, 105)
    )


def test_snapshot_schema_evolution_append(spark, tmp_path):
    """Lakehouse add-column contract: an append with a new column
    marks the commit mixed_schemas, the merged read surfaces the
    column as null for pre-evolution rows, pinned reads of old
    versions keep their own schema, rollback carries the flag, and
    optimize homogenizes it away."""
    t = str(tmp_path / "t")
    S.snapshot_write(spark.range(0, 5).selectExpr("id"), t, mode="append")
    S.snapshot_write(
        spark.range(5, 8).selectExpr("id", "id * 2 as v"), t,
        mode="append",
    )
    assert S.read_snapshot_meta(spark, t, 2).get("mixed_schemas") is True

    df = S.read_snapshot(spark, t)
    assert set(df.columns) == {"id", "v"}
    rows = {r.id: r.v for r in df.collect()}
    assert rows[0] is None and rows[5] == 10 and len(rows) == 8
    # the pre-evolution version still reads with its own schema
    assert S.read_snapshot(spark, t, 1).columns == ["id"]

    # a third append WITHOUT the new column keeps the flag (chain)
    S.snapshot_write(spark.range(8, 9).selectExpr("id"), t, mode="append")
    assert S.read_snapshot_meta(spark, t, 3).get("mixed_schemas") is True
    assert S.read_snapshot(spark, t).count() == 9

    # CDC across the evolution: the old side surfaces v as null
    S.rollback_snapshot(spark, t, 1)  # v4 drops the evolved files
    assert S.read_snapshot_meta(spark, t, 4).get("mixed_schemas") is None
    cdc = S.snapshot_cdc(spark, t, 3, 4)
    drops = {r.id: (r.v, r._cdc_sign) for r in cdc.collect()}
    assert drops[5] == (10, -1) and drops[8] == (None, -1)

    # maintained aggregate folds the evolved history exactly
    state = str(tmp_path / "agg")
    S.rollback_snapshot(spark, t, 3)  # v5: back to all 9 rows
    got = {
        r.id % 2: (r.n_rows, r.sum_v)
        for r in S.maintain_snapshot_agg(
            spark, t, state, ["id"], sum_cols=["v"], to_version=5
        )
        .selectExpr("id % 2 as id", "n_rows", "sum_v")
        .groupBy("id")
        .agg(
            F.sum("n_rows").alias("n_rows"), F.sum("sum_v").alias("sum_v")
        )
        .collect()
    }
    assert got[0][0] + got[1][0] == 9

    # optimize homogenizes: one schema, no flag, content identical
    v_opt = S.optimize_snapshot(spark, t, n_files=1)
    assert S.read_snapshot_meta(spark, t, v_opt).get(
        "mixed_schemas"
    ) is None
    opt = {r.id: r.v for r in S.read_snapshot(spark, t, v_opt).collect()}
    assert opt == {**{i: None for i in range(5)},
                   **{i: i * 2 for i in range(5, 8)}, 8: None}


def test_snapshot_equality_deletes_full_lifecycle(spark, tmp_path):
    """Iceberg-v2-shaped equality deletes: rows die without any data
    file rewrite; time travel still shows them; appends inherit the
    delete set; CDC emits newly-dead rows as -1 and rollback-revived
    rows as +1 (so the maintained aggregate stays exact); optimize
    folds deletes physically; expire reclaims the delete files; mixed
    key shapes are refused."""
    import os

    t = str(tmp_path / "t")

    def mk(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id", "id % 3 as g", "id * 10 as v"
        )

    S.snapshot_write(mk(0, 10), t, mode="append")              # v1
    v2 = S.snapshot_delete(
        spark, t, spark.createDataFrame([(3,), (7,)], "id long"), ["id"]
    )
    assert v2 == 2
    assert _ids(S.read_snapshot(spark, t)) == [0, 1, 2, 4, 5, 6, 8, 9]
    # time travel: v1 still shows the dead rows; no data file rewrote
    assert _ids(S.read_snapshot(spark, t, 1)) == list(range(10))
    assert S.read_snapshot_meta(spark, t, 2)["files"] == \
        S.read_snapshot_meta(spark, t, 1)["files"]

    # CDC v1 -> v2: exactly the two dead rows, signed -1
    cdc = {(r.id, r._cdc_sign) for r in S.snapshot_cdc(spark, t, 1, 2)
           .select("id", "_cdc_sign").collect()}
    assert cdc == {(3, -1), (7, -1)}

    # an APPEND inherits the delete set (no resurrection)
    S.snapshot_write(mk(10, 12), t, mode="append")              # v3
    assert _ids(S.read_snapshot(spark, t)) == [0, 1, 2, 4, 5, 6, 8, 9,
                                               10, 11]
    # CDC v2 -> v3: just the appended rows
    cdc = {(r.id, r._cdc_sign) for r in S.snapshot_cdc(spark, t, 2, 3)
           .select("id", "_cdc_sign").collect()}
    assert cdc == {(10, 1), (11, 1)}

    # a second delete stacks; a different key shape is refused
    S.snapshot_delete(
        spark, t, spark.createDataFrame([(10,)], "id long"), ["id"]
    )                                                           # v4
    assert 10 not in _ids(S.read_snapshot(spark, t))
    with pytest.raises(ValueError, match="pins delete keys"):
        S.snapshot_delete(
            spark, t, spark.createDataFrame([(1, 1)], "id long, g long"),
            ["id", "g"],
        )

    # maintained aggregate equals recompute at EVERY version incl.
    # deletes and the rollback that revives a dead row
    state = str(tmp_path / "agg")

    def maintained():
        return {
            r.g: (r.n_rows, r.sum_v)
            for r in S.maintain_snapshot_agg(
                spark, t, state, ["g"], sum_cols=["v"]
            ).collect()
        }

    def recompute():
        return {
            r.g: (r.n_rows, r.sum_v)
            for r in S.read_snapshot(spark, t)
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("v").cast("long").alias("sum_v"),
            )
            .collect()
        }

    assert maintained() == recompute()
    S.rollback_snapshot(spark, t, 2)  # v5: revives 10, re-kills none
    assert _ids(S.read_snapshot(spark, t)) == [0, 1, 2, 4, 5, 6, 8, 9]
    assert maintained() == recompute()
    # CDC v4 -> v5 emitted the dropped append files AND nothing else
    # spurious (10/11 leave as file drops, delete-set delta handled)
    cdc = {(r.id, r._cdc_sign) for r in S.snapshot_cdc(spark, t, 4, 5)
           .select("id", "_cdc_sign").collect()}
    assert cdc == {(11, -1)}  # 10 was already dead at v4

    # optimize folds the deletes physically
    v_opt = S.optimize_snapshot(spark, t, n_files=1)
    meta = S.read_snapshot_meta(spark, t, v_opt)
    assert "delete_files" not in meta
    assert _ids(S.read_snapshot(spark, t, v_opt)) == [0, 1, 2, 4, 5, 6,
                                                      8, 9]
    assert maintained() == recompute()

    # expire past every delete version reclaims the delete files
    S.expire_snapshots(spark, t, keep_last=1, dry_run=False)
    left = [f for f in os.listdir(t) if f.startswith("snapdel-")]
    assert left == []
    assert _ids(S.read_snapshot(spark, t)) == [0, 1, 2, 4, 5, 6, 8, 9]


def test_equality_delete_then_reinsert_roundtrip(spark, tmp_path):
    """Iceberg v2 SEQUENCE SCOPING: a delete file applies only to data
    files with a strictly lower add-sequence, so a row appended AFTER
    a delete of its key is immune to that delete (the standard
    delete-then-reinsert correction), while a LATER delete still
    kills it. Sequences survive rollback and the inline→manifest
    conversion."""
    t = str(tmp_path / "t")

    def rows(*ids):
        return spark.createDataFrame(
            [(int(i), int(i) * 10) for i in ids], "id long, v long"
        )

    S.snapshot_write(rows(1, 2, 3), t, mode="append")            # v1
    S.snapshot_delete(spark, t, rows(2).select("id"), ["id"])    # v2
    assert _ids(S.read_snapshot(spark, t)) == [1, 3]

    # reinsert the deleted key: must be live again (pre-sequencing
    # this row silently vanished — ADVICE r12)
    S.snapshot_write(rows(2), t, mode="append")                  # v3
    assert _ids(S.read_snapshot(spark, t)) == [1, 2, 3]
    cdc = {
        (r.id, r._cdc_sign)
        for r in S.snapshot_cdc(spark, t, 2, 3)
        .select("id", "_cdc_sign").collect()
    }
    assert cdc == {(2, 1)}

    # a LATER delete still kills the reinserted row; a second
    # reinsert survives the now-stacked deletes
    S.snapshot_delete(spark, t, rows(2).select("id"), ["id"])    # v4
    assert _ids(S.read_snapshot(spark, t)) == [1, 3]
    S.snapshot_write(rows(2), t, mode="append")                  # v5
    assert _ids(S.read_snapshot(spark, t)) == [1, 2, 3]

    # every era's truth is time-travelable
    assert _ids(S.read_snapshot(spark, t, 2)) == [1, 3]
    assert _ids(S.read_snapshot(spark, t, 3)) == [1, 2, 3]
    assert _ids(S.read_snapshot(spark, t, 4)) == [1, 3]

    # rollback to the reinserted era carries the sequences: the
    # reinsert stays immune to the older delete
    S.rollback_snapshot(spark, t, 3)                             # v6
    assert _ids(S.read_snapshot(spark, t)) == [1, 2, 3]

    # inline→manifest conversion groups chunks by add-seq so the
    # scoping survives pointer mode
    from cmsspark_spark.operators import snapshots as SN

    old_max = SN.MANIFEST_INLINE_MAX
    SN.MANIFEST_INLINE_MAX = 2
    try:
        S.snapshot_write(rows(7), t, mode="append")              # v7
        m7 = S.read_snapshot_meta(spark, t, 7)
        assert "manifests" in m7 and "files" not in m7
        assert _ids(S.read_snapshot(spark, t)) == [1, 2, 3, 7]
        # manifest-mode append on a deleted lineage keeps scoping:
        # delete 7, reinsert 7
        S.snapshot_delete(spark, t, rows(7).select("id"), ["id"])  # v8
        assert _ids(S.read_snapshot(spark, t)) == [1, 2, 3]
        S.snapshot_write(rows(7), t, mode="append")              # v9
        assert _ids(S.read_snapshot(spark, t)) == [1, 2, 3, 7]
    finally:
        SN.MANIFEST_INLINE_MAX = old_max

    # maintained aggregate built on CDC agrees with recompute at HEAD
    state = str(tmp_path / "agg")
    got = {
        r.id: r.n_rows
        for r in S.maintain_snapshot_agg(
            spark, t, state, ["id"]
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 7: 1}


def test_partition_overwrite_daily_pattern(spark, tmp_path):
    """Partition-grain commits (the reference's daily dynamic
    overwrite): re-running a day replaces that day only, atomically,
    with full time travel; reads prune to one partition's manifest;
    disjoint-partition writers planned against a stale parent COMPOSE;
    overlapping overwrites and unattributed intervening commits fail
    loudly; optimize compacts per partition keeping the attribution."""
    t = str(tmp_path / "t")

    def day(d, lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id", f"'{d}' as day", "id * 2 as v"
        )

    # v1: days 1+2 land together; v2: day 2 re-run (corrected subset)
    S.snapshot_write_partitions(
        day("d1", 0, 4).union(day("d2", 4, 8)), t, ["day"]
    )
    v2 = S.snapshot_write_partitions(day("d2", 4, 6), t, ["day"])
    assert _ids(S.read_snapshot(spark, t)) == [0, 1, 2, 3, 4, 5]
    assert _ids(S.read_snapshot(spark, t, 1)) == list(range(8))

    # partition-pruned read == filtered read, resolved from metadata
    pruned = S.read_snapshot(spark, t, partitions={"day": "d2"})
    assert _ids(pruned) == [4, 5]
    parts = {
        (r.day, r.n_files)
        for r in S.snapshot_partitions(spark, t).collect()
    }
    assert {p[0] for p in parts} == {"d1", "d2"}

    # append mode adds to a partition without replacing it
    S.snapshot_write_partitions(day("d2", 6, 7), t, ["day"], mode="append")
    assert _ids(S.read_snapshot(spark, t, partitions={"day": "d2"})) == \
        [4, 5, 6]

    # DISJOINT writers compose: a d3 writer planned before a d1 writer
    # commits still lands (retry re-applies on the real parent)
    stale_parent = S.list_snapshots(spark, t)[-1]
    S.snapshot_write_partitions(day("d1", 0, 2), t, ["day"],
                                expected_parent=stale_parent)   # d1 re-run
    S.snapshot_write_partitions(day("d3", 10, 12), t, ["day"],
                                expected_parent=stale_parent)   # composes
    assert _ids(S.read_snapshot(spark, t)) == [0, 1, 4, 5, 6, 10, 11]

    # OVERLAPPING overwrite planned before a commit that touched the
    # same partition fails loudly instead of losing the update
    with pytest.raises(RuntimeError, match="partition conflict"):
        S.snapshot_write_partitions(day("d3", 20, 21), t, ["day"],
                                    expected_parent=stale_parent)

    # pinned partition columns; unattributed lineage refused
    with pytest.raises(ValueError, match="pins partition columns"):
        S.snapshot_write_partitions(
            day("d9", 0, 1).withColumnRenamed("day", "d"), t, ["d"]
        )
    t2 = str(tmp_path / "flat")
    S.snapshot_write(spark.range(3), t2, mode="append")
    with pytest.raises(ValueError, match="no partition attribution"):
        S.snapshot_write_partitions(day("d1", 0, 1), t2, ["day"])

    # equality deletes are refused at this grain (overwrite the
    # partition instead), and vice versa
    with pytest.raises(ValueError, match="partition-attributed"):
        S.snapshot_delete(
            spark, t, spark.createDataFrame([(1,)], "id long"), ["id"]
        )

    # a rollback cannot prove which partitions it touched: an
    # overwrite planned before it must re-plan
    pre_rb = S.list_snapshots(spark, t)[-1]
    S.rollback_snapshot(spark, t, v2)
    assert _ids(S.read_snapshot(spark, t)) == [0, 1, 2, 3, 4, 5]
    with pytest.raises(RuntimeError, match="does not declare touched"):
        S.snapshot_write_partitions(day("d4", 30, 31), t, ["day"],
                                    expected_parent=pre_rb)
    # ... and partition commits continue fine on top of the rollback
    S.snapshot_write_partitions(day("d4", 30, 31), t, ["day"])
    assert _ids(S.read_snapshot(spark, t, partitions={"day": "d4"})) == [30]

    # optimize compacts per partition, attribution survives
    v_opt = S.optimize_snapshot(spark, t, n_files=4)
    m = S.read_snapshot_meta(spark, t, v_opt)
    assert m.get("part_cols") == ["day"]
    assert _ids(S.read_snapshot(spark, t)) == [0, 1, 2, 3, 4, 5, 30]
    per_part = {
        r.day: r.n_files
        for r in S.snapshot_partitions(spark, t, v_opt).collect()
    }
    assert set(per_part) == {"d1", "d2", "d4"}
    assert all(n == 1 for n in per_part.values())
    S.snapshot_write_partitions(day("d5", 40, 41), t, ["day"])
    assert _ids(S.read_snapshot(spark, t, partitions={"day": "d5"})) == [40]

    # maintained aggregate stays exact across partition overwrites
    state = str(tmp_path / "agg")
    got = {
        r.day: (r.n_rows, r.sum_v)
        for r in S.maintain_snapshot_agg(
            spark, t, state, ["day"], sum_cols=["v"]
        ).collect()
    }
    want = {
        r.day: (r.n_rows, r.sum_v)
        for r in S.read_snapshot(spark, t)
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("v").cast("long").alias("sum_v"),
        )
        .collect()
    }
    assert got == want

    # expire reclaims the replaced partitions' files and manifests
    # (files landed by the deliberately-failed conflict commits above
    # are never-referenced residue — vacuum's job, not expire's)
    import os
    rep = S.expire_snapshots(spark, t, keep_last=1, dry_run=False)
    assert rep["deleted_files"]
    assert _ids(S.read_snapshot(spark, t)) == [0, 1, 2, 3, 4, 5, 30, 40]
    live = set(S.snapshot_files(spark, t))
    on_disk = {f for f in os.listdir(t) if f.startswith("snap-")}
    assert live <= on_disk
    assert not (set(rep["deleted_files"]) & on_disk)


def test_streaming_partition_sink_exactly_once_with_backfill(
    spark, tmp_path
):
    """Streaming ingest at PARTITION grain: each micro-batch lands as
    a partition-attributed append commit with its epoch recorded
    (restart replays are skipped); a batch backfill then OVERWRITES
    one day without touching the streamed history of the others, and
    a partition-pruned read resolves from metadata."""
    import pyspark.sql.functions as FX

    table = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    src = str(tmp_path / "src")
    spark.range(0, 6).selectExpr(
        "id", "CASE WHEN id < 3 THEN 'd1' ELSE 'd2' END AS day"
    ).write.json(src)

    def run():
        q = (
            spark.readStream.schema("id long, day string")
            .json(src)
            .writeStream.foreachBatch(
                S.snapshot_partition_sink(table, ["day"])
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    run()
    assert _ids(S.read_snapshot(spark, table)) == list(range(6))
    n_versions = len(S.list_snapshots(spark, table))
    # restart with no new data: nothing recommitted
    run()
    assert len(S.list_snapshots(spark, table)) == n_versions
    assert _ids(S.read_snapshot(spark, table)) == list(range(6))

    # new day streams in
    spark.range(10, 12).selectExpr("id", "'d3' AS day").write.mode(
        "append"
    ).json(src)
    run()
    assert _ids(
        S.read_snapshot(spark, table, partitions={"day": "d3"})
    ) == [10, 11]

    # batch backfill REPLACES d1 only; streamed d2/d3 stay intact
    corrected = spark.range(0, 2).withColumn("day", FX.lit("d1"))
    S.snapshot_write_partitions(corrected, table, ["day"])
    assert _ids(S.read_snapshot(spark, table)) == [0, 1, 3, 4, 5, 10, 11]
    assert _ids(
        S.read_snapshot(spark, table, partitions={"day": "d2"})
    ) == [3, 4, 5]


def test_vacuum_reclaims_never_referenced_files(spark, tmp_path):
    """Files landed by commits that never published (conflict-aborted
    partition overwrite here) are invisible to every version and to
    expire — vacuum_snapshot_table reclaims them, age-gated, without
    touching referenced files or foreign files."""
    import os
    import time

    t = str(tmp_path / "t")

    def day(d, lo, hi):
        return spark.range(lo, hi).selectExpr("id", f"'{d}' as day")

    S.snapshot_write_partitions(day("d1", 0, 3), t, ["day"])
    stale = S.list_snapshots(spark, t)[-1]
    S.snapshot_write_partitions(day("d1", 0, 2), t, ["day"])
    # conflict-aborted overwrite lands files, publishes nothing
    with pytest.raises(RuntimeError, match="partition conflict"):
        S.snapshot_write_partitions(day("d1", 9, 10), t, ["day"],
                                    expected_parent=stale)
    live = set(S.snapshot_files(spark, t)) | set(
        S.snapshot_files(spark, t, 1)
    )
    on_disk = {f for f in os.listdir(t) if f.startswith("snap-")}
    residue = on_disk - live
    assert residue, "expected conflict residue on disk"

    # age gate: a fresh residue file is NOT reclaimed
    plan = S.vacuum_snapshot_table(spark, t, min_age_s=3600)
    assert plan["unreferenced"] == []
    # beyond the gate: reclaimed exactly, foreign files untouched
    (tmp_path / "t" / "NOTICE.txt").write_text("keep me")
    old = time.time() - 7200
    for n in residue:
        os.utime(os.path.join(t, n), (old, old))
    rep = S.vacuum_snapshot_table(spark, t, min_age_s=3600,
                                  dry_run=False)
    assert set(rep["unreferenced"]) == residue
    left = {f for f in os.listdir(t) if f.startswith("snap-")}
    assert left == live
    assert os.path.exists(os.path.join(t, "NOTICE.txt"))
    assert _ids(S.read_snapshot(spark, t)) == [0, 1]
    assert _ids(S.read_snapshot(spark, t, 1)) == [0, 1, 2]


def test_partition_range_pruned_read(spark, tmp_path):
    """PartitionRange selects a metadata-pruned day window (ISO string
    order) and numeric partitions compare numerically ('9' < '10')."""
    t = str(tmp_path / "t")
    df = spark.range(0, 8).selectExpr(
        "id",
        "CASE CAST(id % 4 AS INT) WHEN 0 THEN '2024-01-05' "
        "WHEN 1 THEN '2024-01-15' WHEN 2 THEN '2024-02-01' "
        "ELSE '2024-02-20' END AS day",
    )
    S.snapshot_write_partitions(df, t, ["day"])
    got = _ids(S.read_snapshot(spark, t, partitions={
        "day": S.PartitionRange("2024-01-10", "2024-02-10")
    }))
    assert got == [1, 2, 5, 6]  # the Jan-15 and Feb-01 partitions
    # open-ended upper bound
    assert _ids(S.read_snapshot(spark, t, partitions={
        "day": S.PartitionRange("2024-02-01")
    })) == [2, 3, 6, 7]

    t2 = str(tmp_path / "num")
    nf = spark.range(0, 12).selectExpr(
        "id", "CAST(id AS STRING) AS bucket"
    )
    S.snapshot_write_partitions(nf, t2, ["bucket"])
    got = _ids(S.read_snapshot(spark, t2, partitions={
        "bucket": S.PartitionRange(9, 11)
    }))
    assert got == [9, 10, 11]  # numeric, not lexicographic


def test_upsert_merge_lifecycle(spark, tmp_path):
    """Keyed MERGE in one atomic commit (snapshot_upsert): existing
    keys replaced, new keys inserted, stacked upserts compose, CDC
    emits exact update images, rollback restores the pre-upsert view,
    OPTIMIZE folds the accumulated delete files physically."""
    t = str(tmp_path / "t")

    def rows(pairs):
        return spark.createDataFrame(
            [(int(i), int(v)) for i, v in pairs], "id long, v long"
        )

    def content(version=None):
        return {
            (r.id, r.v)
            for r in S.read_snapshot(spark, t, version).collect()
        }

    S.snapshot_write(rows([(1, 10), (2, 20), (3, 30)]), t)       # v1
    # update 2, insert 4 — one commit
    v2 = S.snapshot_upsert(rows([(2, 21), (4, 40)]), t, ["id"])
    assert v2 == 2
    assert content() == {(1, 10), (2, 21), (3, 30), (4, 40)}
    # old image intact under time travel
    assert content(1) == {(1, 10), (2, 20), (3, 30)}

    # CDC across the upsert: old row -1, new rows +1
    cdc = {
        (r.id, r.v, r._cdc_sign)
        for r in S.snapshot_cdc(spark, t, 1, 2)
        .select("id", "v", "_cdc_sign").collect()
    }
    assert cdc == {(2, 20, -1), (2, 21, 1), (4, 40, 1)}

    # stacked upsert touching both an original and an upserted key
    S.snapshot_upsert(rows([(2, 22), (3, 31)]), t, ["id"])       # v3
    assert content() == {(1, 10), (2, 22), (3, 31), (4, 40)}

    # rollback past the second upsert restores its pre-image
    S.rollback_snapshot(spark, t, 2)                             # v4
    assert content() == {(1, 10), (2, 21), (3, 30), (4, 40)}

    # OPTIMIZE folds deletes physically: content identical, delete
    # state cleared, no anti-join in the read plan
    S.optimize_snapshot(spark, t, 2)                             # v5
    assert content() == {(1, 10), (2, 21), (3, 30), (4, 40)}
    m5 = S.read_snapshot_meta(spark, t, 5)
    assert not m5.get("delete_files")


def test_upsert_into_empty_or_fresh_table_keeps_own_rows(
    spark, tmp_path
):
    """Regression for the track_seqs gap: the FIRST commit of a
    lineage carrying both data and delete files must stamp its data
    files' add-sequences — otherwise they default to seq 0 and the
    commit's own delete (seq=v) kills the rows it just inserted."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 10), (2, 20)], "id long, v long")
    S.snapshot_upsert(df, t, ["id"])  # v1: insert-only upsert
    assert _ids(S.read_snapshot(spark, t)) == [1, 2]
    meta = S.read_snapshot_meta(spark, t, 1)
    # data files stamped at the commit's own seq
    assert set((meta.get("file_seqs") or {}).values()) == {1}

    # same gap on a fresh APPEND parent with no delete state yet:
    # first-ever upsert must not kill its own replacements
    t2 = str(tmp_path / "t2")
    S.snapshot_write(df, t2)                                     # v1
    S.snapshot_upsert(
        spark.createDataFrame([(2, 21)], "id long, v long"), t2, ["id"]
    )                                                            # v2
    got = {
        (r.id, r.v) for r in S.read_snapshot(spark, t2).collect()
    }
    assert got == {(1, 10), (2, 21)}


def test_upsert_guards(spark, tmp_path):
    """Duplicate keys refuse loudly (all would survive), key pinning
    carries over from prior deletes, partition-grain tables refuse,
    and allow_duplicate_keys is an explicit escape hatch."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 10), (2, 20)], "id long, v long")
    S.snapshot_write(df, t)

    dup = spark.createDataFrame(
        [(2, 21), (2, 22)], "id long, v long"
    )
    with pytest.raises(ValueError, match="multiple rows"):
        S.snapshot_upsert(dup, t, ["id"])
    # explicit multi-row replacement: both batch rows live, old dead
    S.snapshot_upsert(dup, t, ["id"], allow_duplicate_keys=True)
    got = {
        (r.id, r.v) for r in S.read_snapshot(spark, t).collect()
    }
    assert got == {(1, 10), (2, 21), (2, 22)}

    # key pinning: a delete pinned ["id"]; upsert on ["v"] refuses
    with pytest.raises(ValueError, match="pins delete keys"):
        S.snapshot_upsert(df, t, ["v"])
    # missing key column
    with pytest.raises(ValueError, match="lacks key columns"):
        S.snapshot_upsert(df.select("v"), t, ["id"])

    # partition-attributed tables: replace = overwrite the partition
    t2 = str(tmp_path / "t2")
    S.snapshot_write_partitions(
        df.withColumn("p", F.col("id") % 2), t2, ["p"]
    )
    with pytest.raises(ValueError, match="partition-attributed"):
        S.snapshot_upsert(df.withColumn("p", F.col("id") % 2), t2, ["id"])


def test_upsert_maintained_agg_and_expiry(spark, tmp_path):
    """A CDC-maintained aggregate stays exact across upserts (refresh
    cost ∝ batch), and expire_snapshots reclaims superseded data AND
    delete files once no retained version references them."""
    t = str(tmp_path / "t")
    state = str(tmp_path / "agg")

    def rows(pairs):
        return spark.createDataFrame(
            [(int(i), int(v)) for i, v in pairs], "id long, v long"
        )

    def refresh():
        return {
            r.g: (r.n_rows, r.sum_v)
            for r in S.maintain_snapshot_agg(
                spark, t, state, ["g"], sum_cols=["v"]
            ).collect()
        }

    base = rows([(i, i * 10) for i in range(1, 9)]).withColumn(
        "g", F.col("id") % 2
    )
    S.snapshot_write(base, t)                                     # v1
    refresh()
    up = rows([(2, 1000), (9, 90)]).withColumn("g", F.col("id") % 2)
    S.snapshot_upsert(up, t, ["id"])                              # v2
    got = refresh()
    direct = {
        r.g: (r.n_rows, r.sum_v)
        for r in S.read_snapshot(spark, t)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("v").cast("long").alias("sum_v"),
        )
        .collect()
    }
    assert got == direct

    # optimize then expire: the upsert's delete file becomes
    # unreferenced once pre-optimize versions roll off
    S.optimize_snapshot(spark, t, 2)                              # v3
    res = S.expire_snapshots(spark, t, keep_last=1, dry_run=False)
    assert any(
        f.startswith("snapdel-") for f in res["deleted_files"]
    ), res
    got2 = {
        (r.id, r.v) for r in S.read_snapshot(spark, t).collect()
    }
    assert got2 == {(i, i * 10) for i in range(1, 9) if i != 2} | {
        (2, 1000), (9, 90)
    }


def test_streaming_upsert_sink_exactly_once(spark, tmp_path):
    """Streaming CDC-apply: an update stream keyed by id materializes
    into a snapshot table whose live view is latest-row-per-key;
    intra-batch duplicate keys resolve by the data's own order column;
    restart replays are skipped (exactly-once) so deletes can never
    double-apply onto their own batch's re-inserted rows."""
    table = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    src = str(tmp_path / "src")
    # seq is the source's total order; id 2 updated twice in one file
    spark.createDataFrame(
        [(1, 10, 1), (2, 20, 2), (2, 21, 3), (3, 30, 4)],
        "id long, v long, seq long",
    ).coalesce(1).write.json(src)

    def run():
        q = (
            spark.readStream.schema("id long, v long, seq long")
            .json(src)
            .writeStream.foreachBatch(
                S.snapshot_upsert_sink(table, ["id"], order_col="seq")
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    def live():
        return {
            (r.id, r.v) for r in S.read_snapshot(spark, table).collect()
        }

    run()
    assert live() == {(1, 10), (2, 21), (3, 30)}
    n_versions = len(S.list_snapshots(spark, table))
    run()  # restart, no new data: no new commits
    assert len(S.list_snapshots(spark, table)) == n_versions

    # a later file updates an existing key and inserts a new one
    spark.createDataFrame(
        [(2, 22, 5), (4, 40, 6)], "id long, v long, seq long"
    ).coalesce(1).write.mode("append").json(src)
    run()
    assert live() == {(1, 10), (2, 22), (3, 30), (4, 40)}
    # history is time-travelable across batches
    assert {
        (r.id, r.v)
        for r in S.read_snapshot(spark, table, n_versions).collect()
    } == {(1, 10), (2, 21), (3, 30)}


@pytest.mark.parametrize("lineage", ["inline", "manifest", "partition"])
def test_snapshot_cdc_source_batch_matches_engine_cdc(
    spark, tmp_path, monkeypatch, lineage
):
    """The snapshot_cdc DataSource (batch mode) emits the same signed
    rows as the engine's snapshot_cdc() across append, upsert, delete,
    and rollback commits — file-identity planning, executor-side
    arrow reads, per-version _cdc_version attribution. Three lineages
    go through the one planner: inline file lists, manifest pointers
    (every commit past one live file), and a partition-attributed
    table, where the upsert is a partition merge and the delete of
    key 1 a partition overwrite."""
    from cmsspark_spark.sources import snapcdc

    t = str(tmp_path / "t")

    def rows(pairs):
        return spark.createDataFrame(
            [(int(i), int(v)) for i, v in pairs], "id long, v long"
        )

    if lineage == "manifest":
        monkeypatch.setattr(S, "MANIFEST_INLINE_MAX", 1)
    if lineage == "partition":
        S.snapshot_write_partitions(
            rows([(1, 10), (2, 20), (3, 30)]), t, ["id"]
        )                                                         # v1
        S.snapshot_upsert_partitions(
            rows([(2, 21), (4, 40)]), t, ["id"], ["id"]
        )                                                         # v2
        S.snapshot_write_partitions(rows([(1, 11)]), t, ["id"])   # v3
    else:
        S.snapshot_write(rows([(1, 10), (2, 20), (3, 30)]), t)    # v1
        S.snapshot_upsert(rows([(2, 21), (4, 40)]), t, ["id"])    # v2
        S.snapshot_delete(
            spark, t, rows([(1, 0)]).select("id"), ["id"]
        )                                                         # v3
    S.rollback_snapshot(spark, t, 2)                              # v4

    snapcdc.register(spark)
    feed = (
        spark.read.format("snapshot_cdc").option("path", t).load()
    )
    got = {
        (r.id, r.v, r._cdc_sign, r._cdc_version)
        for r in feed.collect()
    }
    expect = set()
    for v in (1, 2, 3, 4):
        expect |= {
            (r.id, r.v, r._cdc_sign, v)
            for r in S.snapshot_cdc(spark, t, v - 1 if v > 1 else 1, v)
            .collect()
        } if v > 1 else {
            (r.id, r.v, 1, 1)
            for r in S.read_snapshot(spark, t, 1).collect()
        }
    assert got == expect
    # spot-check the semantics directly
    assert (2, 20, -1, 2) in got and (2, 21, 1, 2) in got  # upsert images
    assert (1, 10, -1, 3) in got                           # delete
    assert (1, 10, 1, 4) in got                            # rollback revives
    # cumulative signed fold == live view
    import pyspark.sql.functions as FX

    folded = {
        (r.id, r.v)
        for r in feed.groupBy("id", "v")
        .agg(FX.sum("_cdc_sign").alias("s"))
        .filter("s > 0")
        .collect()
    }
    live = {(r.id, r.v) for r in S.read_snapshot(spark, t).collect()}
    assert folded == live

    # version windows: start_version/end_version slice the feed
    sliced = (
        spark.read.format("snapshot_cdc")
        .option("path", t)
        .option("start_version", 1)
        .option("end_version", 2)
        .load()
    )
    assert {
        (r.id, r.v, r._cdc_sign) for r in sliced.collect()
    } == {(2, 20, -1), (2, 21, 1), (4, 40, 1)}



def test_snapshot_cdc_keys_each_delete_set_by_its_own_version(
    spark, tmp_path
):
    """An optimize drops the delete pin, so a later delete may pin other
    key columns: v2 deletes by ``id``, v3 optimizes, v4 deletes by
    ``v``, v5 rolls back to v2. Every span the engine's snapshot_cdc
    plans, and every step of the snapshot_cdc source, joins each delete
    set on the key columns of the version it came from, and the signed
    rows fold to the live-view difference."""
    from collections import Counter

    from cmsspark_spark.sources import snapcdc

    t = str(tmp_path / "t")
    S.snapshot_write(
        spark.createDataFrame(
            [(i, 10 * i) for i in range(1, 7)], "id long, v long"
        ).repartition(2),
        t,
    )                                                                # v1
    S.snapshot_delete(
        spark, t, spark.createDataFrame([(1,)], "id long"), ["id"]
    )                                                                # v2
    S.optimize_snapshot(spark, t, 1)                                 # v3
    S.snapshot_delete(
        spark, t, spark.createDataFrame([(30,)], "v long"), ["v"]
    )                                                                # v4
    S.rollback_snapshot(spark, t, 2)                                 # v5

    lives = {
        v: Counter(
            (r.id, r.v) for r in S.read_snapshot(spark, t, v).collect()
        )
        for v in range(1, 6)
    }
    live = lives.__getitem__

    def net(rows):
        out = Counter()
        for r in rows:
            out[(r.id, r.v)] += r._cdc_sign
        return {k: n for k, n in out.items() if n}

    for a in range(1, 6):
        for b in range(a + 1, 6):
            want = dict(live(b))
            for k, n in live(a).items():
                want[k] = want.get(k, 0) - n
            assert net(S.snapshot_cdc(spark, t, a, b).collect()) == {
                k: n for k, n in want.items() if n
            }, (a, b)
    snapcdc.register(spark)
    feed = spark.read.format("snapshot_cdc").option("path", t).load()
    assert net(feed.collect()) == dict(live(5))
    assert live(4) == Counter({(i, 10 * i): 1 for i in (2, 4, 5, 6)})
    assert live(5) == Counter({(i, 10 * i): 1 for i in range(2, 7)})


_CDC_OUTSIDE_REPO = """
import json, sys
sys.path.insert(0, sys.argv[1])
from cmsspark_spark.operators import snapshots as S
from cmsspark_spark.session import get_spark
from cmsspark_spark.sources import snapcdc

spark = get_spark("cdc-outside-repo", master="local[2]", shuffle_partitions=2)
t = sys.argv[2]
rows = lambda pairs: spark.createDataFrame(pairs, "id long, v long")
S.snapshot_write(rows([(1, 10), (2, 20)]), t)
S.snapshot_upsert(rows([(2, 21)]), t, ["id"])
S.snapshot_delete(spark, t, rows([(1, 0)]).select("id"), ["id"])
snapcdc.register(spark)
feed = spark.read.format("snapshot_cdc").option("path", t).load()
got = sorted((r.id, r.v, r._cdc_sign, r._cdc_version) for r in feed.collect())
want = sorted(
    (r.id, r.v, r._cdc_sign, v)
    for v in (2, 3)
    for r in S.snapshot_cdc(spark, t, v - 1, v).collect()
) + [(1, 10, 1, 1), (2, 20, 1, 1)]
print(json.dumps({"got": got, "want": sorted(want)}))
spark.stop()
"""


def test_snapshot_cdc_source_runs_without_the_package_on_workers(tmp_path):
    """The source's Python workers start in a directory where
    ``cmsspark_spark`` is not importable (no PYTHONPATH entry, working
    directory outside the repo): the source and its planner must reach
    them pickled by value, or every worker fails to import them."""
    import json
    import os
    import pathlib
    import subprocess
    import sys

    repo = str(pathlib.Path(__file__).resolve().parents[1])
    env = {
        k: v for k, v in os.environ.items() if k != "PYTHONPATH"
    }
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _CDC_OUTSIDE_REPO, repo, str(tmp_path / "t")],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["got"] == out["want"]
    assert [2, 20, -1, 2] in out["got"] and [1, 10, -1, 3] in out["got"]


def test_snapshot_cdc_source_streaming_exactly_once(spark, tmp_path):
    """readStream over a snapshot table: the version log is the offset
    log. Each commit streams exactly once across restarts; commits
    made between runs are picked up from the checkpointed version."""
    from cmsspark_spark.sources import snapcdc

    t = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def rows(pairs):
        return spark.createDataFrame(
            [(int(i), int(v)) for i, v in pairs], "id long, v long"
        )

    S.snapshot_write(rows([(1, 10), (2, 20)]), t)                 # v1
    S.snapshot_upsert(rows([(2, 21)]), t, ["id"])                 # v2

    snapcdc.register(spark)

    def run():
        q = (
            spark.readStream.format("snapshot_cdc")
            .option("path", t)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    run()
    got = {
        (r.id, r.v, r._cdc_sign, r._cdc_version)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        (1, 10, 1, 1), (2, 20, 1, 1), (2, 20, -1, 2), (2, 21, 1, 2),
    }
    run()  # restart with no new commits: nothing re-emitted
    assert spark.read.parquet(out).count() == 4

    # a commit between runs streams incrementally
    S.snapshot_delete(spark, t, rows([(1, 0)]).select("id"), ["id"])  # v3
    run()
    got = {
        (r.id, r.v, r._cdc_sign, r._cdc_version)
        for r in spark.read.parquet(out).collect()
    }
    assert (1, 10, -1, 3) in got and len(got) == 5


def test_cdc_replication_tracks_source_table(spark, tmp_path):
    """Full CDC-replication loop: snapshot_cdc source over table A →
    snapshot_replicate_sink applies each micro-batch's NET effect to
    table B in one atomic commit. B's live view tracks A's across
    append / upsert / delete / reinsert; restarts replay nothing; a
    key changed twice within one batch lands once (superseded changes
    collapse)."""
    from cmsspark_spark.sources import snapcdc

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    ckpt = str(tmp_path / "ckpt")

    def rows(pairs):
        return spark.createDataFrame(
            [(int(i), int(v)) for i, v in pairs], "id long, v long"
        )

    def live(t):
        return {(r.id, r.v) for r in S.read_snapshot(spark, t).collect()}

    snapcdc.register(spark)

    def run():
        q = (
            spark.readStream.format("snapshot_cdc")
            .option("path", a)
            .load()
            .writeStream.foreachBatch(
                S.snapshot_replicate_sink(b, ["id"])
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    # several source commits BEFORE the first run: one batch must
    # collapse key 2's three images (20 → 21 → dead) to its net state
    S.snapshot_write(rows([(1, 10), (2, 20), (3, 30)]), a)        # v1
    S.snapshot_upsert(rows([(2, 21), (4, 40)]), a, ["id"])        # v2
    S.snapshot_delete(spark, a, rows([(2, 0)]).select("id"), ["id"])  # v3
    run()
    assert live(b) == live(a) == {(1, 10), (3, 30), (4, 40)}
    nb = len(S.list_snapshots(spark, b))
    run()  # restart, nothing new: no commit on B
    assert len(S.list_snapshots(spark, b)) == nb

    # incremental: reinsert a dead key, update an old one
    S.snapshot_write(rows([(2, 22)]), a, mode="append")           # v4
    S.snapshot_upsert(rows([(1, 11)]), a, ["id"])                 # v5
    run()
    assert live(b) == live(a) == {(1, 11), (2, 22), (3, 30), (4, 40)}
    # B has its own history: the pre-batch image is time-travelable
    assert {
        (r.id, r.v) for r in S.read_snapshot(spark, b, nb).collect()
    } == {(1, 10), (3, 30), (4, 40)}


def test_write_audit_publish_lifecycle(spark, tmp_path):
    """WAP: staged writes are invisible to every reader until
    published; the audit read previews the exact publish result;
    append stages compose with commits made between stage and
    publish; publish is crash-idempotent; discard + vacuum reclaims;
    a pending stage is vacuum-safe."""
    t = str(tmp_path / "t")

    def rows(pairs):
        return spark.createDataFrame(
            [(int(i), int(v)) for i, v in pairs], "id long, v long"
        )

    S.snapshot_write(rows([(1, 10), (2, 20)]), t)                 # v1
    sid = S.snapshot_write_staged(rows([(3, 30)]), t)
    # invisible to normal readers and to the version chain
    assert _ids(S.read_snapshot(spark, t)) == [1, 2]
    assert S.list_snapshots(spark, t) == [1]
    assert [e["stage_id"] for e in S.list_staged(spark, t)] == [sid]
    # audit read previews the publish result
    assert _ids(S.read_staged(spark, t, sid)) == [1, 2, 3]

    # a commit lands BETWEEN stage and publish: the stage composes
    S.snapshot_write(rows([(4, 40)]), t, mode="append")           # v2
    assert _ids(S.read_staged(spark, t, sid)) == [1, 2, 3, 4]
    v = S.publish_staged(spark, t, sid)                           # v3
    assert v == 3
    assert _ids(S.read_snapshot(spark, t)) == [1, 2, 3, 4]
    assert not S.list_staged(spark, t)
    # crash-idempotent: re-publish returns the committed version
    assert S.publish_staged(spark, t, sid) == 3
    assert _ids(S.read_snapshot(spark, t)) == [1, 2, 3, 4]

    # unknown stage fails loudly
    with pytest.raises(FileNotFoundError):
        S.read_staged(spark, t, "nope")

    # discard: entry gone, files become vacuum residue after the age
    # gate; a PENDING stage's files are never vacuum candidates
    sid2 = S.snapshot_write_staged(rows([(9, 90)]), t)
    sid3 = S.snapshot_write_staged(rows([(8, 80)]), t)
    S.discard_staged(spark, t, sid2)
    plan = S.vacuum_snapshot_table(spark, t, min_age_s=0, dry_run=True)
    doomed = set(plan["unreferenced"])
    assert doomed, "discarded stage files must be reclaimable"
    staged_files = set(S._staged_entry(spark, t, sid3)["files"])
    assert not (doomed & staged_files), "pending stage must be safe"
    S.vacuum_snapshot_table(spark, t, min_age_s=0, dry_run=False)
    # pending stage still publishable after the vacuum
    S.publish_staged(spark, t, sid3)                              # v4
    assert _ids(S.read_snapshot(spark, t)) == [1, 2, 3, 4, 8]


def test_staged_publish_respects_deletes_and_overwrite(spark, tmp_path):
    """An append stage published onto a delete-carrying lineage gets
    the commit's add-sequence (immune to older deletes, killable by
    later ones); an overwrite stage replaces the live set at publish
    time."""
    t = str(tmp_path / "t")

    def rows(*ids):
        return spark.createDataFrame(
            [(int(i), int(i) * 10) for i in ids], "id long, v long"
        )

    S.snapshot_write(rows(1, 2, 3), t)                            # v1
    S.snapshot_delete(spark, t, rows(2).select("id"), ["id"])     # v2
    # stage a reinsert of the deleted key, audit, publish
    sid = S.snapshot_write_staged(rows(2), t)
    assert _ids(S.read_staged(spark, t, sid)) == [1, 2, 3]
    S.publish_staged(spark, t, sid)                               # v3
    assert _ids(S.read_snapshot(spark, t)) == [1, 2, 3]
    # a later delete still reaches the published rows
    S.snapshot_delete(spark, t, rows(2).select("id"), ["id"])     # v4
    assert _ids(S.read_snapshot(spark, t)) == [1, 3]

    # overwrite stage: audit sees ONLY the staged content; publish
    # replaces the live set
    sid2 = S.snapshot_write_staged(rows(7, 8), t, mode="overwrite")
    assert _ids(S.read_staged(spark, t, sid2)) == [7, 8]
    assert _ids(S.read_snapshot(spark, t)) == [1, 3]
    S.publish_staged(spark, t, sid2)                              # v5
    assert _ids(S.read_snapshot(spark, t)) == [7, 8]
    # pre-publish history is intact
    assert _ids(S.read_snapshot(spark, t, 4)) == [1, 3]


def test_partition_grain_upsert_merge(spark, tmp_path):
    """Keyed MERGE at partition grain (snapshot_upsert_partitions —
    copy-on-write): touched days are rewritten with keys replaced /
    inserted, untouched days' manifests are reused by pointer, new
    partitions insert, stale-parent merges to overlapping partitions
    fail the conflict audit loudly."""
    t = str(tmp_path / "t")

    def rows(triples):
        return spark.createDataFrame(
            [(int(i), str(d), int(v)) for i, d, v in triples],
            "id long, day string, v long",
        )

    def content():
        return {
            (r.id, r.day, r.v)
            for r in S.read_snapshot(spark, t).collect()
        }

    base = rows([
        (1, "d1", 10), (2, "d1", 20), (3, "d2", 30), (4, "d2", 40),
        (5, "d3", 50),
    ])
    S.snapshot_write_partitions(base, t, ["day"])                 # v1

    # update key 2 (d1), insert key 6 (d1), insert new partition d4
    v2 = S.snapshot_upsert_partitions(
        rows([(2, "d1", 21), (6, "d1", 60), (7, "d4", 70)]),
        t, ["day"], ["id"],
    )
    assert v2 == 2
    assert content() == {
        (1, "d1", 10), (2, "d1", 21), (6, "d1", 60),
        (3, "d2", 30), (4, "d2", 40), (5, "d3", 50), (7, "d4", 70),
    }
    # untouched partitions reuse manifests by pointer: d2/d3 manifests
    # identical across versions
    m1 = S.read_snapshot_meta(spark, t, 1)
    m2 = S.read_snapshot_meta(spark, t, 2)

    def parts_of(meta, pk):
        return {
            m for m, p in meta["manifest_parts"].items()
            if json.loads(p)[0] == pk
        }

    import json

    for day in ("d2", "d3"):
        assert parts_of(m1, day) == parts_of(m2, day)
    assert parts_of(m1, "d1") != parts_of(m2, "d1")

    # time travel: pre-merge day intact
    assert {
        (r.id, r.v)
        for r in S.read_snapshot(spark, t, 1, partitions={"day": "d1"})
        .select("id", "v").collect()
    } == {(1, 10), (2, 20)}

    # stale-parent merge to an OVERLAPPING partition fails loudly
    with pytest.raises(Exception, match="[Cc]onflict|overlap|stale"):
        S.snapshot_upsert_partitions(
            rows([(1, "d1", 11)]), t, ["day"], ["id"], expected_parent=1
        )
    # stale-parent merge to a DISJOINT partition composes
    S.snapshot_upsert_partitions(
        rows([(5, "d3", 51)]), t, ["day"], ["id"], expected_parent=2
    )
    assert (5, "d3", 51) in content() and (2, "d1", 21) in content()

    # guards: dup keys, wrong grain, non-partitioned table
    with pytest.raises(ValueError, match="multiple rows"):
        S.snapshot_upsert_partitions(
            rows([(9, "d1", 1), (9, "d1", 2)]), t, ["day"], ["id"]
        )
    t2 = str(tmp_path / "t2")
    S.snapshot_write(rows([(1, "d1", 10)]), t2)
    with pytest.raises(ValueError, match="not partition-attributed"):
        S.snapshot_upsert_partitions(
            rows([(1, "d1", 11)]), t2, ["day"], ["id"]
        )


def test_snapshot_tags_pin_retention_and_resolve_reads(spark, tmp_path):
    """Named refs (Iceberg tag shape): a tag is a stable read handle
    AND a retention pin — expire_snapshots keeps tagged versions (and
    their files) through any keep_last policy; untagging releases
    them; tag moves need replace=True; reads resolve tags by name."""
    t = str(tmp_path / "t")
    S.snapshot_write(spark.range(0, 5), t)                        # v1
    S.snapshot_write(spark.range(5, 8), t, mode="overwrite")      # v2
    S.snapshot_write(spark.range(8, 12), t, mode="overwrite")     # v3
    S.snapshot_write(spark.range(12, 13), t, mode="overwrite")    # v4

    assert S.snapshot_tag(spark, t, "baseline", 1) == 1
    assert S.snapshot_tag(spark, t, "latest-good") == 4  # default latest
    assert S.snapshot_tags(spark, t) == {"baseline": 1, "latest-good": 4}

    # read by name
    assert _ids(S.read_snapshot(spark, t, "baseline")) == [0, 1, 2, 3, 4]
    with pytest.raises(FileNotFoundError, match="no tag"):
        S.read_snapshot(spark, t, "nope")

    # tag moves refuse silently-breaking overwrites
    with pytest.raises(FileExistsError):
        S.snapshot_tag(spark, t, "baseline", 2)
    assert S.snapshot_tag(spark, t, "baseline", 2, replace=True) == 2

    # retention: keep_last=1 would expire v1-v3, but v2 is tagged
    res = S.expire_snapshots(spark, t, keep_last=1, dry_run=False)
    assert res["expired_versions"] == [1, 3]
    assert res["kept_versions"] == [2, 4]
    # the pinned version still reads, by number and by name
    assert _ids(S.read_snapshot(spark, t, 2)) == [5, 6, 7]
    assert _ids(S.read_snapshot(spark, t, "baseline")) == [5, 6, 7]

    # untag releases the pin; the next expire reclaims v2 and its files
    assert S.snapshot_untag(spark, t, "baseline") == 2
    S.snapshot_untag(spark, t, "latest-good")
    res = S.expire_snapshots(spark, t, keep_last=1, dry_run=False)
    assert res["expired_versions"] == [2]
    assert res["deleted_files"], "v2's overwrite files must be reclaimed"
    with pytest.raises(FileNotFoundError):
        S.read_snapshot(spark, t, 2)

    # guards
    with pytest.raises(ValueError, match="ref name"):
        S.snapshot_tag(spark, t, "bad/name")
    with pytest.raises(FileNotFoundError):
        S.snapshot_tag(spark, t, "ghost", 99)
    with pytest.raises(FileNotFoundError):
        S.snapshot_untag(spark, t, "ghost")


def test_cdc_stream_initial_snapshot_and_admission(spark, tmp_path):
    """initial_snapshot=true starts the feed from the CURRENT live
    content (+1 rows, no history replay) and follows; a later commit
    streams as a delta. max_versions_per_batch bounds how many source
    commits one micro-batch spans (best-effort admission control)."""
    from cmsspark_spark.sources import snapcdc

    t = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def rows(pairs):
        return spark.createDataFrame(
            [(int(i), int(v)) for i, v in pairs], "id long, v long"
        )

    S.snapshot_write(rows([(1, 10), (2, 20)]), t)                 # v1
    S.snapshot_upsert(rows([(2, 21)]), t, ["id"])                 # v2
    S.snapshot_delete(spark, t, rows([(1, 0)]).select("id"), ["id"])  # v3

    snapcdc.register(spark)

    def run():
        q = (
            spark.readStream.format("snapshot_cdc")
            .option("path", t)
            .option("initial_snapshot", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    run()
    got = {
        (r.id, r.v, r._cdc_sign, r._cdc_version)
        for r in spark.read.parquet(out).collect()
    }
    # current live content only — no v1/v2 history, no dead rows
    assert got == {(2, 21, 1, 3)}
    # follow-up commit streams as a delta
    S.snapshot_write(rows([(5, 50)]), t, mode="append")           # v4
    run()
    got = {
        (r.id, r.v, r._cdc_sign, r._cdc_version)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {(2, 21, 1, 3), (5, 50, 1, 4)}

    # admission control: several pending commits drain in bounded
    # bites under availableNow (one micro-batch per version here)
    t2 = str(tmp_path / "t2")
    out2 = str(tmp_path / "out2")
    ckpt2 = str(tmp_path / "ckpt2")
    for i in range(4):
        S.snapshot_write(rows([(i, i * 10)]), t2, mode="append")
    batches = []

    def sink(df, bid):
        vs = [r._cdc_version for r in df.select("_cdc_version").collect()]
        df.write.mode("append").parquet(out2)
        if vs:
            batches.append((min(vs), max(vs)))  # AFTER the write: the
            # poll loop below must not stop the query mid-write

    import time

    q = (
        spark.readStream.format("snapshot_cdc")
        .option("path", t2)
        .option("max_versions_per_batch", "1")
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt2)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while len(batches) < 4 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
    assert spark.read.parquet(out2).count() == 4  # all rows landed
    # every batch spanned exactly one source version
    assert [b for b in batches] == [(i, i) for i in range(1, 5)], batches


def test_rewrite_manifests_folds_metadata(spark, tmp_path):
    """Metadata compaction: many appends -> many manifest chunks;
    rewrite_manifests folds them into few, content identical, delete
    scoping preserved (seq grouping), partition attribution preserved
    at partition grain; no-op cases return None without committing."""
    from cmsspark_spark.operators import snapshots as SN

    t = str(tmp_path / "t")

    def rows(*ids):
        return spark.createDataFrame(
            [(int(i), int(i) * 10) for i in ids], "id long, v long"
        )

    old_max = SN.MANIFEST_INLINE_MAX
    SN.MANIFEST_INLINE_MAX = 2
    try:
        for i in range(6):
            S.snapshot_write(rows(i), t, mode="append")
        # delete + reinsert so seq scoping must survive the fold
        S.snapshot_delete(spark, t, rows(3).select("id"), ["id"])
        S.snapshot_write(rows(3), t, mode="append")
        before = S.read_snapshot_meta(
            spark, t, S.list_snapshots(spark, t)[-1]
        )
        n_before = len(before["manifests"])
        assert n_before > 3
        v = S.rewrite_manifests(spark, t)
        assert v is not None
        after = S.read_snapshot_meta(spark, t, v)
        assert len(after["manifests"]) < n_before
        assert _ids(S.read_snapshot(spark, t)) == [0, 1, 2, 3, 4, 5]
        # the reinserted key must stay immune to the old delete
        assert after.get("delete_files") == before.get("delete_files")
        # second rewrite: nothing to fold
        assert S.rewrite_manifests(spark, t) is None
    finally:
        SN.MANIFEST_INLINE_MAX = old_max

    # partition grain: fold within partitions, attribution preserved
    t2 = str(tmp_path / "t2")
    base = spark.createDataFrame(
        [(i, f"d{i % 2}", i * 10) for i in range(4)],
        "id long, day string, v long",
    )
    for i in range(3):
        S.snapshot_write_partitions(
            base.withColumn("v", base.v + i), t2, ["day"], mode="append"
        )
    m_before = S.read_snapshot_meta(
        spark, t2, S.list_snapshots(spark, t2)[-1]
    )
    assert len(m_before["manifests"]) == 6
    v2 = S.rewrite_manifests(spark, t2)
    m_after = S.read_snapshot_meta(spark, t2, v2)
    assert len(m_after["manifests"]) == 2
    full = S.read_snapshot(spark, t2)
    assert full.count() == 12
    pruned = S.read_snapshot(spark, t2, partitions={"day": "d1"})
    assert pruned.count() == 6
    # inline table: no-op
    t3 = str(tmp_path / "t3")
    S.snapshot_write(rows(1), t3)
    assert S.rewrite_manifests(spark, t3) is None


def test_snapshot_table_cli_tags_wap_rewrite(
    spark, tmp_path, capsys, monkeypatch
):
    """The admin CLI drives the round-13 maintenance surface: tags
    (pin/list/unpin), the write-audit-publish flow, and manifest
    rewriting — all against the real operators."""
    from cmsspark_spark.jobs import snapshot_table
    from cmsspark_spark.operators import snapshots as SN

    monkeypatch.setattr(
        snapshot_table, "get_spark", lambda *a, **k: spark
    )
    t = str(tmp_path / "t")
    S.snapshot_write(spark.range(0, 4), t)
    S.snapshot_write(spark.range(4, 6), t, mode="overwrite")

    snapshot_table.main(
        ["tag", "--table", t, "--name", "baseline", "--version", "1"]
    )
    snapshot_table.main(["tags", "--table", t])
    assert S.snapshot_tags(spark, t) == {"baseline": 1}
    snapshot_table.main(["untag", "--table", t, "--name", "baseline"])
    assert S.snapshot_tags(spark, t) == {}

    sid = S.snapshot_write_staged(spark.range(6, 8), t)
    snapshot_table.main(["stages", "--table", t])
    snapshot_table.main(["publish", "--table", t, "--stage", sid])
    assert _ids(S.read_snapshot(spark, t)) == [4, 5, 6, 7]
    sid2 = S.snapshot_write_staged(spark.range(9, 10), t)
    snapshot_table.main(["discard", "--table", t, "--stage", sid2])
    assert not S.list_staged(spark, t)

    old_max = SN.MANIFEST_INLINE_MAX
    SN.MANIFEST_INLINE_MAX = 1
    try:
        S.snapshot_write(spark.range(10, 11), t, mode="append")
        S.snapshot_write(spark.range(11, 12), t, mode="append")
        snapshot_table.main(["rewrite-manifests", "--table", t])
    finally:
        SN.MANIFEST_INLINE_MAX = old_max
    assert _ids(S.read_snapshot(spark, t)) == [4, 5, 6, 7, 10, 11]
    out = capsys.readouterr().out
    assert "published" in out and "rewrote" in out and "baseline" in out


def test_cdc_source_over_partition_grain_table(spark, tmp_path):
    """The snapshot_cdc source generalizes to partition-attributed
    tables for free (their metas resolve through the same manifest
    pointers): a partition overwrite streams as -1 old rows / +1 new
    rows for exactly the touched partition, and a partition-merge
    (snapshot_upsert_partitions) streams its touched partitions'
    rewrite."""
    from cmsspark_spark.sources import snapcdc

    t = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "d1", 10), (2, "d1", 20), (3, "d2", 30)],
        "id long, day string, v long",
    )
    S.snapshot_write_partitions(base, t, ["day"])                 # v1
    corrected = spark.createDataFrame(
        [(1, "d1", 11)], "id long, day string, v long"
    )
    S.snapshot_write_partitions(corrected, t, ["day"])            # v2 (ow d1)
    S.snapshot_upsert_partitions(
        spark.createDataFrame(
            [(3, "d2", 31), (4, "d2", 40)], "id long, day string, v long"
        ),
        t, ["day"], ["id"],
    )                                                             # v3

    snapcdc.register(spark)
    feed = spark.read.format("snapshot_cdc").option("path", t).load()
    got = {
        (r.id, r.day, r.v, r._cdc_sign, r._cdc_version)
        for r in feed.collect()
    }
    expect = {
        (1, "d1", 10, 1, 1), (2, "d1", 20, 1, 1), (3, "d2", 30, 1, 1),
        # v2: d1 overwritten — both old rows out, corrected row in
        (1, "d1", 10, -1, 2), (2, "d1", 20, -1, 2), (1, "d1", 11, 1, 2),
        # v3: d2 merged — old content out, merged content in
        (3, "d2", 30, -1, 3), (3, "d2", 31, 1, 3), (4, "d2", 40, 1, 3),
    }
    assert got == expect


def test_timestamp_as_of_resolution(spark, tmp_path):
    """TIMESTAMP AS OF: commits stamp committed_ms; version_as_of
    resolves the last version at-or-before a timestamp (epoch s/ms or
    ISO string); read_snapshot(as_of=...) reads it; a timestamp that
    predates all retained history fails loudly; pre-stamp commits
    fall back to the version file's mtime."""
    import time

    t = str(tmp_path / "t")
    S.snapshot_write(spark.range(0, 3), t)                        # v1
    m1 = S.read_snapshot_meta(spark, t, 1)
    time.sleep(0.05)
    between = time.time() * 1000
    time.sleep(0.05)
    S.snapshot_write(spark.range(3, 5), t, mode="overwrite")      # v2

    assert S.version_as_of(spark, t, between) == 1
    assert S.version_as_of(spark, t, time.time() * 1000) == 2
    assert S.version_as_of(spark, t, time.time()) == 2  # epoch seconds
    assert _ids(S.read_snapshot(spark, t, as_of=between)) == [0, 1, 2]
    # ISO string (UTC)
    import datetime as dt

    iso = dt.datetime.fromtimestamp(
        between / 1000, dt.timezone.utc
    ).isoformat()
    assert S.version_as_of(spark, t, iso) == 1
    with pytest.raises(FileNotFoundError, match="no version as of"):
        S.version_as_of(spark, t, m1["committed_ms"] - 10_000)
    with pytest.raises(ValueError, match="not both"):
        S.read_snapshot(spark, t, 1, as_of=between)
    # history exposes the stamps, monotone along the chain
    hist = S.snapshot_history(spark, t).orderBy("version").collect()
    assert hist[0].committed_ms <= hist[1].committed_ms

    # legacy (pre-stamp) commit: mtime fallback
    import json as _json

    import os

    p = f"{t}/_snapshots/v00000001.json"
    meta = _json.load(open(p))
    meta.pop("committed_ms")
    open(p, "w").write(_json.dumps(meta))
    crc = f"{t}/_snapshots/.v00000001.json.crc"
    if os.path.exists(crc):
        os.remove(crc)  # hand-edited file invalidates Hadoop's crc
    # restore the original commit time: the fallback reads mtime, and
    # this hand-edit just reset it to "now"
    orig_s = m1["committed_ms"] / 1000.0
    os.utime(p, (orig_s, orig_s))
    assert S.version_as_of(spark, t, between) == 1


def test_maintain_table_policy_runner(spark, tmp_path):
    """maintain_table sequences OPTIMIZE / rewrite_manifests / expire
    / vacuum under thresholds: below-threshold steps skip with a
    reason, dry_run reports without mutating, a destructive run folds
    the delete-heavy table and retires history (tags still pin)."""
    from cmsspark_spark.operators import snapshots as SN

    t = str(tmp_path / "t")

    def rows(*ids):
        return spark.createDataFrame(
            [(int(i), int(i) * 10) for i in ids], "id long, v long"
        )

    S.snapshot_write(rows(1, 2, 3, 4), t)
    for i in (1, 2, 3):
        S.snapshot_delete(spark, t, rows(i).select("id"), ["id"])

    # dry run: optimize would run (delete files over threshold),
    # nothing mutates
    n_versions = len(S.list_snapshots(spark, t))
    rep = S.maintain_table(
        spark, t, max_delete_files=2, keep_last=1, vacuum_min_age_s=0,
        dry_run=True,
    )
    assert rep["optimize"].get("would_run") is True
    assert "delete files" in rep["optimize"]["reason"]
    assert rep["rewrite_manifests"].get("skipped")
    assert len(S.list_snapshots(spark, t)) == n_versions

    # destructive: optimize folds deletes, expire retires pre-fold
    # versions, content survives
    rep = S.maintain_table(
        spark, t, target_files=1, max_delete_files=2, keep_last=1,
        vacuum_min_age_s=0, dry_run=False,
    )
    assert "version" in rep["optimize"]
    assert rep["expire"]["expired_versions"]
    assert _ids(S.read_snapshot(spark, t)) == [4]
    meta = S.read_snapshot_meta(spark, t, S.list_snapshots(spark, t)[-1])
    assert not meta.get("delete_files")

    # everything-below-threshold: all steps skip
    rep = S.maintain_table(spark, t, dry_run=False)
    assert all(
        v.get("skipped") for v in rep.values()
    ), rep


def test_file_skipping_stats_range_read(spark, tmp_path):
    """Min/max file-skipping on snapshot reads: stats recorded at
    write/OPTIMIZE time prune files whose range cannot intersect a
    where_between read BEFORE any data I/O (asserted via inputFiles);
    files without stats are scanned, never skipped; the row filter on
    top makes the result exact either way; temporal stats columns
    refuse loudly."""
    from cmsspark_spark.operators import snapshots as SN

    t = str(tmp_path / "t")

    def rows(lo, hi):
        return (
            spark.range(lo, hi)
            .withColumn("v", F.col("id") * 10)
            .coalesce(1)
        )

    S.snapshot_write(rows(0, 100), t, stats_cols=["id"])
    S.snapshot_write(rows(100, 200), t, stats_cols=["id"])
    S.snapshot_write(rows(200, 300), t, stats_cols=["id"])
    meta = S.read_snapshot_meta(spark, t, 3)
    assert len(meta["file_stats"]) == 3
    full_files = len(S.read_snapshot(spark, t).inputFiles())

    pruned = S.read_snapshot(spark, t, where_between=("id", 120, 180))
    assert len(pruned.inputFiles()) == 1
    assert _ids(pruned) == list(range(120, 181))  # inclusive bounds
    # open-ended bounds
    assert _ids(
        S.read_snapshot(spark, t, where_between=("id", 250, None))
    ) == list(range(250, 300))

    # an append WITHOUT stats is always scanned, results stay exact
    S.snapshot_write(rows(50, 60).withColumn("id", F.col("id") + 1000), t)
    pruned = S.read_snapshot(spark, t, where_between=("id", 120, 180))
    assert len(pruned.inputFiles()) == 2  # stats file + stats-less file
    assert _ids(pruned) == list(range(120, 181))

    # OPTIMIZE with z-order + stats: tight ranges, pruning recovers
    S.optimize_snapshot(spark, t, 4, zorder_by=["id"], stats_cols=["id"])
    m = S.read_snapshot_meta(spark, t, S.list_snapshots(spark, t)[-1])
    assert m.get("file_stats")
    pruned = S.read_snapshot(spark, t, where_between=("id", 120, 180))
    assert len(pruned.inputFiles()) < 4
    assert _ids(pruned) == list(range(120, 181))

    # stats survive equality deletes; the pruned read composes with
    # the delete anti-join
    S.snapshot_delete(
        spark, t, spark.range(150, 160).select("id"), ["id"]
    )
    got = _ids(S.read_snapshot(spark, t, where_between=("id", 120, 180)))
    assert got == [i for i in range(120, 181) if not 150 <= i < 160]

    # temporal stats columns refuse loudly
    t2 = str(tmp_path / "t2")
    dated = spark.range(0, 5).withColumn(
        "d", F.to_date(F.lit("2026-01-01"))
    )
    with pytest.raises(TypeError, match="stats columns"):
        S.snapshot_write(dated, t2, stats_cols=["d"])


def test_expire_by_age_and_policy_union(spark, tmp_path):
    """Age-based retention (keep_newer_than_s) composes with count
    (keep_last) and tags as a UNION of keeps; the latest version
    always survives; at least one policy is required."""
    import time

    t = str(tmp_path / "t")
    S.snapshot_write(spark.range(0, 3), t)                        # v1
    S.snapshot_write(spark.range(3, 5), t, mode="overwrite")      # v2
    time.sleep(0.2)
    cut = time.time()
    S.snapshot_write(spark.range(5, 6), t, mode="overwrite")      # v3

    with pytest.raises(ValueError, match="retention policy"):
        S.expire_snapshots(spark, t)

    # age window covering only v3: v1/v2 expire (latest always kept)
    age = time.time() - cut
    res = S.expire_snapshots(
        spark, t, keep_newer_than_s=age, dry_run=True
    )
    assert res["expired_versions"] == [1, 2]

    # union with count: keep_last=2 additionally keeps v2
    res = S.expire_snapshots(
        spark, t, keep_last=2, keep_newer_than_s=age, dry_run=True
    )
    assert res["expired_versions"] == [1]

    # union with tags: tagging v1 pins it too
    S.snapshot_tag(spark, t, "base", 1)
    res = S.expire_snapshots(
        spark, t, keep_newer_than_s=age, dry_run=False
    )
    assert res["expired_versions"] == [2]
    assert _ids(S.read_snapshot(spark, t, "base")) == [0, 1, 2]

    # a huge window keeps everything
    res = S.expire_snapshots(
        spark, t, keep_newer_than_s=10_000, dry_run=True
    )
    assert res["expired_versions"] == []


def test_cdc_source_mixed_schema_lineage(spark, tmp_path):
    """The CDC source pads schema-evolution gaps: rows from files
    written before an added column surface it as a typed null, and
    the declared schema comes from the latest commit."""
    from cmsspark_spark.sources import snapcdc

    t = str(tmp_path / "t")
    S.snapshot_write(
        spark.createDataFrame([(1, 10)], "id long, v long"), t
    )                                                             # v1
    S.snapshot_write(
        spark.createDataFrame(
            [(2, 20, "x")], "id long, v long, tag string"
        ),
        t, mode="append",
    )                                                             # v2 (evolved)
    snapcdc.register(spark)
    feed = spark.read.format("snapshot_cdc").option("path", t).load()
    got = {
        (r.id, r.v, r.tag, r._cdc_sign, r._cdc_version)
        for r in feed.collect()
    }
    assert got == {(1, 10, None, 1, 1), (2, 20, "x", 1, 2)}
    assert [f.name for f in feed.schema.fields] == [
        "id", "v", "tag", "_cdc_sign", "_cdc_version"
    ]


def test_cdc_source_column_projection(spark, tmp_path):
    """A user schema narrows the feed: the reader pushes the
    projection into the parquet read (footer-intersected, so
    mixed-schema files pad instead of erroring) and the declared
    columns come back exactly."""
    from pyspark.sql.types import (
        IntegerType, LongType, StructField, StructType,
    )

    from cmsspark_spark.sources import snapcdc

    t = str(tmp_path / "t")
    S.snapshot_write(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b")], "id long, v long, s string"
        ),
        t,
    )
    S.snapshot_upsert(
        spark.createDataFrame(
            [(2, 21, "b2")], "id long, v long, s string"
        ),
        t, ["id"],
    )
    snapcdc.register(spark)
    narrow = StructType([
        StructField("id", LongType()),
        StructField("v", LongType()),
        StructField("_cdc_sign", IntegerType()),
        StructField("_cdc_version", LongType()),
    ])
    feed = (
        spark.read.format("snapshot_cdc")
        .schema(narrow)
        .option("path", t)
        .load()
    )
    assert feed.columns == ["id", "v", "_cdc_sign", "_cdc_version"]
    got = {
        (r.id, r.v, r._cdc_sign, r._cdc_version) for r in feed.collect()
    }
    assert got == {
        (1, 10, 1, 1), (2, 20, 1, 1), (2, 20, -1, 2), (2, 21, 1, 2),
    }


def test_concurrent_upserts_compose_through_retry(spark, tmp_path):
    """Two upserts planned against the SAME stale parent commit one
    after the other: the commit retry loop re-reads the parent, so
    the second composes on top of the first — files, delete sets, and
    sequence stamps all accumulate correctly (the later delete
    outranks the earlier batch's files, so cross-batch key overlap
    resolves last-writer-wins)."""
    from cmsspark_spark.operators import snapshots as SN

    t = str(tmp_path / "t")

    def rows(pairs):
        return spark.createDataFrame(
            [(int(i), int(v)) for i, v in pairs], "id long, v long"
        )

    S.snapshot_write(rows([(1, 10), (2, 20), (3, 30)]), t)        # v1

    # simulate two writers racing from the same parent: both compute
    # their batch before either commits (no coordination), then
    # commit sequentially — exactly what the claim/retry machinery
    # must absorb
    a = rows([(2, 21), (4, 40)])   # writer A: update 2, insert 4
    b = rows([(2, 22), (5, 50)])   # writer B: update 2, insert 5
    va = SN.snapshot_upsert(a, t, ["id"])
    vb = SN.snapshot_upsert(b, t, ["id"])
    assert (va, vb) == (2, 3)
    got = {(r.id, r.v) for r in S.read_snapshot(spark, t).collect()}
    # B committed after A: B's update of key 2 wins; both inserts live
    assert got == {(1, 10), (2, 22), (3, 30), (4, 40), (5, 50)}
    # time travel shows A's intermediate state
    assert {
        (r.id, r.v) for r in S.read_snapshot(spark, t, 2).collect()
    } == {(1, 10), (2, 21), (3, 30), (4, 40)}
    # CDC across the pair nets out exactly
    cdc = {}
    for r in S.snapshot_cdc(spark, t, 1, 3).collect():
        cdc[(r.id, r.v)] = cdc.get((r.id, r.v), 0) + r._cdc_sign
    net = {k for k, s in cdc.items() if s > 0}
    assert net == {(2, 22), (4, 40), (5, 50)}


def test_cdc_source_equals_engine_cdc_over_lifecycle(spark, tmp_path):
    """PROPERTY: over a mixed 8-commit lifecycle (append, upsert,
    delete, overwrite, rollback, reinsert), the snapshot_cdc SOURCE's
    whole feed equals the union of the engine's per-step batch
    snapshot_cdc frames — the source and the DataFrame operator are
    the same algebra through two independent implementations
    (JVM joins vs executor-side Arrow joins)."""
    from cmsspark_spark.sources import snapcdc

    t = str(tmp_path / "t")

    def rows(pairs):
        return spark.createDataFrame(
            [(int(i), int(v)) for i, v in pairs], "id long, v long"
        )

    S.snapshot_write(rows([(1, 10), (2, 20), (3, 30)]), t)        # v1
    S.snapshot_upsert(rows([(2, 21), (4, 40)]), t, ["id"])        # v2
    S.snapshot_delete(spark, t, rows([(3, 0)]).select("id"), ["id"])  # v3
    S.snapshot_write(rows([(3, 31)]), t, mode="append")           # v4 reinsert
    S.snapshot_upsert(rows([(1, 11), (5, 50)]), t, ["id"])        # v5
    S.rollback_snapshot(spark, t, 3)                              # v6
    S.snapshot_write(rows([(9, 90)]), t, mode="overwrite")        # v7
    S.snapshot_write(rows([(8, 80)]), t, mode="append")           # v8

    expect = set()
    for v in range(2, 9):
        expect |= {
            (r.id, r.v, r._cdc_sign, v)
            for r in S.snapshot_cdc(spark, t, v - 1, v).collect()
        }
    expect |= {
        (r.id, r.v, 1, 1)
        for r in S.read_snapshot(spark, t, 1).collect()
    }

    snapcdc.register(spark)
    got = {
        (r.id, r.v, r._cdc_sign, r._cdc_version)
        for r in spark.read.format("snapshot_cdc")
        .option("path", t).load().collect()
    }
    assert got == expect
    # and the signed fold of the feed reproduces the live view
    acc = {}
    for (i, v, s, _ver) in got:
        acc[(i, v)] = acc.get((i, v), 0) + s
    assert {k for k, s in acc.items() if s > 0} == {
        (r.id, r.v) for r in S.read_snapshot(spark, t).collect()
    }


def test_staged_upsert_write_audit_publish(spark, tmp_path):
    """WAP over the merge path: an upsert stage previews the merged
    view, composes with commits made while pending, and publishes
    rows + key-delete in ONE commit at the publish version's sequence
    (older rows of matched keys die, the batch's own survive).
    Guards: key_cols required, duplicate keys refuse at stage time,
    key-pin mismatches refuse at publish, publish is idempotent."""
    from cmsspark_spark.operators import snapshots as SN

    t = str(tmp_path / "t")

    def rows(pairs):
        return spark.createDataFrame(
            [(int(i), int(v)) for i, v in pairs], "id long, v long"
        )

    S.snapshot_write(rows([(1, 10), (2, 20), (3, 30)]), t)        # v1
    sid = S.snapshot_write_staged(
        rows([(2, 21), (4, 40)]), t, mode="upsert", key_cols=["id"]
    )
    # audit: merged preview; live table untouched
    assert {
        (r.id, r.v) for r in S.read_staged(spark, t, sid).collect()
    } == {(1, 10), (2, 21), (3, 30), (4, 40)}
    assert {
        (r.id, r.v) for r in S.read_snapshot(spark, t).collect()
    } == {(1, 10), (2, 20), (3, 30)}

    # a commit lands while the stage is pending — even one touching a
    # staged key; publish-time sequence makes the staged rows win
    S.snapshot_write(rows([(2, 29), (6, 60)]), t, mode="append")  # v2
    v = S.publish_staged(spark, t, sid)                           # v3
    assert v == 3
    got = {(r.id, r.v) for r in S.read_snapshot(spark, t).collect()}
    assert got == {(1, 10), (2, 21), (3, 30), (4, 40), (6, 60)}
    # idempotent re-publish
    assert S.publish_staged(spark, t, sid) == 3

    # guards
    with pytest.raises(ValueError, match="require key_cols"):
        S.snapshot_write_staged(rows([(9, 90)]), t, mode="upsert")
    with pytest.raises(ValueError, match="multiple rows"):
        S.snapshot_write_staged(
            rows([(9, 90), (9, 91)]), t, mode="upsert", key_cols=["id"]
        )
    with pytest.raises(ValueError, match="only applies"):
        S.snapshot_write_staged(rows([(9, 90)]), t, key_cols=["id"])
    # pin mismatch detected at publish (table pinned ["id"] by the
    # published upsert)
    bad = S.snapshot_write_staged(
        rows([(9, 90)]), t, mode="upsert", key_cols=["v"]
    )
    with pytest.raises(ValueError, match="pins delete keys"):
        S.publish_staged(spark, t, bad)
    S.discard_staged(spark, t, bad)


# ---------------------------------------------------------------------------
# The parent contract: every parent-dependent decision is made inside the
# commit attempt, against the parent the claim lands on. Each race lands a
# competing commit deterministically inside the writer's own commit path.
# ---------------------------------------------------------------------------


def _race_inside(monkeypatch, name, competing):
    """Run ``competing()`` once, when the writer next calls ``S.<name>``
    — after it made every decision that precedes that step."""
    real = getattr(S, name)

    def racing(*args, **kwargs):
        monkeypatch.setattr(S, name, real)
        competing()
        return real(*args, **kwargs)

    monkeypatch.setattr(S, name, racing)


def test_evolving_append_race_keeps_mixed_schemas(spark, tmp_path, monkeypatch):
    """An append whose parent gains a column before the claim derives
    the schema flag from the parent it lands on: the commit stays
    mixed_schemas and the concurrent writer's column reads back."""
    t = str(tmp_path / "t")
    S.snapshot_write(spark.range(0, 3), t)
    _race_inside(monkeypatch, "_commit", lambda: S.snapshot_write(
        spark.range(10, 12).selectExpr("id", "id * 7 AS x"), t
    ))
    v = S.snapshot_write(spark.range(3, 5), t)
    assert v == 3
    assert S.read_snapshot_meta(spark, t, v).get("mixed_schemas") is True
    got = {r.id: r.x for r in S.read_snapshot(spark, t).collect()}
    assert got == {0: None, 1: None, 2: None, 3: None, 4: None,
                   10: 70, 11: 77}


def test_delete_race_on_other_keys_is_refused(spark, tmp_path, monkeypatch):
    """A delete keyed on ``v`` that loses its race to a delete keyed on
    ``id`` is refused at the claim (the winner pinned the keys), and
    the winner's deleted row stays dead."""
    t = str(tmp_path / "t")
    S.snapshot_write(
        spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "id long, v long"),
        t,
    )
    _race_inside(monkeypatch, "_commit", lambda: S.snapshot_delete(
        spark, t, spark.createDataFrame([(1,)], "id long"), ["id"]
    ))
    with pytest.raises(ValueError, match="pins delete keys"):
        S.snapshot_delete(
            spark, t, spark.createDataFrame([(30,)], "v long"), ["v"]
        )
    assert S.list_snapshots(spark, t) == [1, 2]
    assert _ids(S.read_snapshot(spark, t)) == [2, 3]


def test_rewrite_manifests_refuses_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """A manifest fold that a concurrent append lands under refuses
    with "concurrent commit" instead of dropping the append's rows."""
    monkeypatch.setattr(S, "MANIFEST_INLINE_MAX", 1)
    t = str(tmp_path / "t")
    for lo in (0, 1, 2):
        S.snapshot_write(spark.range(lo, lo + 1), t)
    _race_inside(monkeypatch, "_write_manifests", lambda: S.snapshot_write(
        spark.range(99, 100), t
    ))
    with pytest.raises(RuntimeError, match="concurrent commit"):
        S.rewrite_manifests(spark, t, chunk=100)
    assert _ids(S.read_snapshot(spark, t)) == [0, 1, 2, 99]


def test_optimize_with_stats_refuses_append_during_stats_job(
    spark, tmp_path, monkeypatch
):
    """An append that lands while OPTIMIZE computes its file stats —
    after the rewrite files landed — is caught at the claim."""
    t = str(tmp_path / "t")
    S.snapshot_write(spark.range(0, 20), t)
    S.snapshot_write(spark.range(20, 30), t)
    _race_inside(monkeypatch, "_compute_file_stats", lambda: S.snapshot_write(
        spark.range(99, 100), t
    ))
    with pytest.raises(RuntimeError, match="concurrent commit"):
        S.optimize_snapshot(spark, t, n_files=1, stats_cols=["id"])
    assert _ids(S.read_snapshot(spark, t)) == list(range(30)) + [99]


def _replay_batch(spark, kind):
    rows = [(1, 10, "d1"), (2, 20, "d2")]
    df = spark.createDataFrame(rows, "id long, v long, day string")
    if kind == "replicate":
        return df.withColumn("_cdc_sign", F.lit(1)).withColumn(
            "_cdc_version", F.lit(1).cast("long")
        )
    return df


SINKS = {
    "append": lambda t: S.snapshot_sink(t),
    "upsert": lambda t: S.snapshot_upsert_sink(t, ["id"]),
    "replicate": lambda t: S.snapshot_replicate_sink(t, ["id"]),
    "partition": lambda t: S.snapshot_partition_sink(t, ["day"]),
}


@pytest.mark.parametrize("kind", sorted(SINKS))
def test_sink_replay_through_fresh_closure_commits_once(spark, tmp_path, kind):
    """Every snapshot sink records its batch id in its commit: the same
    batch delivered again through a fresh closure (a restarted query)
    is skipped, so the table holds one version of it."""
    t = str(tmp_path / "t")
    SINKS[kind](t)(_replay_batch(spark, kind), 0)
    SINKS[kind](t)(_replay_batch(spark, kind), 0)
    assert S.list_snapshots(spark, t) == [1]
    assert S.committed_batch_ids(spark, t) == {"0"}
    assert _ids(S.read_snapshot(spark, t)) == [1, 2]


def test_key_join_keeps_column_order(spark, tmp_path):
    """Deletes keyed on a non-leading column leave every read in the
    table's own column order (a USING join would move the key first)."""
    t = str(tmp_path / "t")
    rows = "id long, v long"
    S.snapshot_write(spark.createDataFrame([(1, 10), (2, 20)], rows), t)
    S.snapshot_write(spark.createDataFrame([(3, 30), (4, 40)], rows), t)
    S.snapshot_delete(
        spark, t, spark.createDataFrame([(20,), (30,)], "v long"), ["v"]
    )
    assert S.read_snapshot(spark, t).columns == ["id", "v"]
    assert _ids(S.read_snapshot(spark, t)) == [1, 4]
    cdc = S.snapshot_cdc(spark, t, 1, 3)
    assert cdc.columns == ["id", "v", "_cdc_sign"]
    assert sorted(tuple(r) for r in cdc.collect()) == [
        (2, 20, -1), (4, 40, 1),
    ]
    changes = S.snapshot_changes(spark, t, 1, 3)
    assert changes.columns == ["id", "v"]
    assert sorted(tuple(r) for r in changes.collect()) == [(4, 40)]


def test_agg_refresh_reclaims_aged_meta_temps(spark, tmp_path):
    """A refresh sweeps the temporaries a crashed ``_agg_meta.json``
    replace left beside the meta once they are old; a fresh temp (a
    writer mid-replace) and the meta itself stay."""
    import os
    import time

    t, state = str(tmp_path / "t"), tmp_path / "agg"
    S.snapshot_write(spark.range(0, 6).selectExpr("id", "id % 2 AS g"), t)
    S.maintain_snapshot_agg(spark, t, str(state), ["g"], ["id"])
    aged = state / "_agg_meta.json.tmp.0123abcd"
    fresh = state / "_agg_meta.json.tmp.4567ef01"
    for p in (aged, fresh):
        p.write_text("{}")
    old = time.time() - 2 * 3600
    os.utime(aged, (old, old))
    S.snapshot_write(spark.range(6, 8).selectExpr("id", "id % 2 AS g"), t)
    S.maintain_snapshot_agg(spark, t, str(state), ["g"], ["id"])
    assert not aged.exists()
    assert fresh.exists() and (state / "_agg_meta.json").exists()


def _root_data_files(table):
    import os

    return sorted(n for n in os.listdir(table) if n.startswith("snap-"))


def _day_rows(spark, d, lo, hi):
    return spark.range(lo, hi).selectExpr("id", f"'{d}' AS day")


def test_flat_append_onto_partition_table_is_refused_before_writing(
    spark, tmp_path
):
    """A flat append would keep a partition-attributed table's files
    under a version with no attribution, and every later partition
    write would refuse. It is refused before any file lands; partition
    writes carry on."""
    t = str(tmp_path / "t")
    S.snapshot_write_partitions(_day_rows(spark, "d1", 0, 2), t, ["day"])
    before = _root_data_files(t)
    with pytest.raises(ValueError, match="snapshot_write_partitions"):
        S.snapshot_write(_day_rows(spark, "d2", 2, 3), t, mode="append")
    assert _root_data_files(t) == before
    assert S.list_snapshots(spark, t) == [1]
    S.snapshot_write_partitions(_day_rows(spark, "d2", 2, 4), t, ["day"])
    assert S.read_snapshot_meta(spark, t, 2)["part_cols"] == ["day"]
    assert _ids(S.read_snapshot(spark, t)) == [0, 1, 2, 3]
    # a flat overwrite keeps no parent file, so nothing is dropped
    S.snapshot_write(_day_rows(spark, "d3", 7, 8), t, mode="overwrite")
    assert _ids(S.read_snapshot(spark, t)) == [7]


def test_refused_partition_write_leaves_no_residue(spark, tmp_path):
    """A partition write that breaks a lineage rule (here the pinned
    partition columns) is refused before its batch lands in the
    table root."""
    t = str(tmp_path / "t")
    S.snapshot_write_partitions(_day_rows(spark, "d1", 0, 2), t, ["day"])
    before = _root_data_files(t)
    with pytest.raises(ValueError, match="pins partition columns"):
        S.snapshot_write_partitions(
            _day_rows(spark, "d2", 2, 3).withColumnRenamed("day", "d"),
            t, ["d"],
        )
    assert _root_data_files(t) == before
    assert S.list_snapshots(spark, t) == [1]
