"""The filesystem seam (cmsspark_spark/fsops.py): its contract on the
local and the Hadoop branch, the exclusive index sequence claim, and one
crash-point enumeration over every commit protocol built on it (after
Pillai et al., OSDI 2014: crash at each persistence step in turn, then
check what a reader and a retry see)."""

from __future__ import annotations

import os
import shutil
import sys
import threading
from dataclasses import dataclass
from typing import Any, Callable

import pyspark.sql.functions as F
import pytest

from cmsspark_spark import fsops
from cmsspark_spark.operators import retrieval as R
from cmsspark_spark.operators import snapshots as S
from tests.conftest import SF_SMOKE

MUTATING = ("put_no_overwrite", "replace", "claim", "rename", "delete")
PRIMITIVES = MUTATING + ("read_bytes", "listdir", "size", "list_parquet_files")


@pytest.fixture(params=["local", "hadoop"])
def branch(request, monkeypatch):
    """Run a test on the os branch or, with ``local_path`` answering
    None, on the Hadoop branch (Hadoop's LocalFileSystem over the same
    tmp dir)."""
    if request.param == "hadoop":
        monkeypatch.setattr(fsops, "local_path", lambda spark, path: None)
    return request.param


def _broken_rename(*a, **k):
    raise RuntimeError("simulated crash in the rename step")


def test_seam_contract(spark, tmp_path, branch, monkeypatch):
    d = str(tmp_path)
    p = f"{d}/a/x.json"
    # absent paths are quiet
    assert fsops.read_bytes(spark, p) is None
    assert fsops.size(spark, p) is None
    assert fsops.listdir(spark, f"{d}/nope") == []
    assert fsops.delete(spark, f"{d}/nope") is False
    assert fsops.delete(spark, f"{d}/nope", recursive=True) is False
    # create-no-overwrite makes the parent and refuses an existing path
    fsops.put_no_overwrite(spark, p, b"one")
    with pytest.raises(FileExistsError):
        fsops.put_no_overwrite(spark, p, b"two")
    assert fsops.read_bytes(spark, p) == b"one"
    assert fsops.size(spark, p) == 3
    # claim wins once, then loses without touching the winner's bytes
    for name in ("t1", "t2"):
        fsops.put_no_overwrite(spark, f"{d}/a/{name}", name.encode())
    assert fsops.claim(spark, f"{d}/a/t1", f"{d}/a/v1") is True
    assert fsops.claim(spark, f"{d}/a/t2", f"{d}/a/v1") is False
    assert fsops.read_bytes(spark, f"{d}/a/v1") == b"t1"
    # replace overwrites; a death in its rename step keeps the old
    # bytes and leaves one temp orphan
    fsops.replace(spark, p, b"new")
    assert fsops.read_bytes(spark, p) == b"new"
    with monkeypatch.context() as m:
        if branch == "local":
            m.setattr(os, "replace", _broken_rename)
        else:
            m.setattr(fsops, "_context_rename", _broken_rename)
        with pytest.raises(RuntimeError, match="simulated crash"):
            fsops.replace(spark, p, b"torn")
    assert fsops.read_bytes(spark, p) == b"new"
    entries = {n: is_dir for n, is_dir, _s, _m in fsops.listdir(spark, d)}
    assert entries == {"a": True}
    temps = [
        n for n, *_ in fsops.listdir(spark, f"{d}/a")
        if n.startswith("x.json.tmp.")
    ]
    assert len(temps) == 1
    # rename raises on failure and moves otherwise
    with pytest.raises(IOError):
        fsops.rename(spark, f"{d}/a/nope", f"{d}/a/nope2")
    fsops.rename(spark, f"{d}/a/v1", f"{d}/a/v2")
    assert fsops.read_bytes(spark, f"{d}/a/v2") == b"t1"
    assert fsops.delete(spark, f"{d}/a/v2") is True
    assert fsops.delete(spark, f"{d}/a", recursive=True) is True
    assert fsops.listdir(spark, d) == []
    # the parquet listing skips underscore/dot subdirectories
    spark.range(3).write.parquet(f"{d}/t")
    spark.range(2).write.parquet(f"{d}/t/_staging/s")
    spark.range(2).write.parquet(f"{d}/t/.hidden")
    listed = fsops.list_parquet_files(spark, f"{d}/t")
    assert listed and all(x.endswith(".parquet") for x in listed)
    assert all("/_staging/" not in x and "/.hidden/" not in x for x in listed)
    # the tree size counts every file but checksum sidecars; the
    # qualified root prefixes what the listing returns; the aged
    # selection filters entries by name and age
    assert fsops.tree_size(spark, f"{d}/t") == sum(
        os.path.getsize(os.path.join(r, n))
        for r, _, names in os.walk(f"{d}/t")
        for n in names
        if not n.endswith(".crc")
    ) > 0
    assert all(
        x.startswith(fsops.qualify(spark, f"{d}/t") + "/") for x in listed
    )
    assert fsops.aged(
        spark, f"{d}/t", 0, lambda n: n.endswith(".parquet")
    ) == sorted(x.rsplit("/", 1)[-1] for x in listed)
    assert fsops.aged(spark, f"{d}/t", 3600) == []
    # JSON sidecars round-trip through the same primitives
    fsops.write_json_meta(spark, f"{d}/m/meta.json", {"v": 1})
    assert fsops.read_json_meta(spark, f"{d}/m/meta.json") == {"v": 1}


def test_index_sequence_claim_is_exclusive(spark, tmp_path):
    """8 writers finalizing staged increments into one index at once
    each get a distinct commit sequence. The claim is an exclusive
    create, so no round may hand one sequence to two writers (a
    check-then-create claim loses this race a few times per hundred
    rounds)."""
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for rnd in range(40):
            idx = f"{tmp_path}/i{rnd}"
            stages = []
            for i in range(8):
                st = f"{idx}/_staging/w{i}"
                os.makedirs(st)
                with open(f"{st}/_commit.json", "w") as fh:
                    fh.write("{}")
                stages.append(st)
            barrier = threading.Barrier(8)
            out: list = [None] * 8

            def run(i: int) -> None:
                barrier.wait(timeout=30)
                try:
                    out[i] = R._finalize_commit(spark, idx, stages[i])
                except Exception as exc:  # reported by the assert below
                    out[i] = exc

            threads = [
                threading.Thread(target=run, args=(i,)) for i in range(8)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
            assert not any(t.is_alive() for t in threads)
            assert all(isinstance(o, str) for o in out), out
            seqs = sorted(
                int(o.rsplit("/", 1)[-1].split("-")[1]) for o in out
            )
            assert seqs == list(range(1, 9)), (rnd, seqs)
    finally:
        sys.setswitchinterval(old)


# ---------------------------------------------------------------------------
# crash-point enumeration
# ---------------------------------------------------------------------------


class _Crash(BaseException):
    """The process died. A BaseException, so `except Exception` retry
    loops cannot swallow it; once raised, every later primitive raises
    too, so cleanup handlers cannot repair anything either."""


class _Hook:
    """Counts mutating seam calls; with ``crash_at=k`` the k-th one and
    every primitive after it raise :class:`_Crash`."""

    def __init__(self, mp, crash_at: int | None = None):
        self.calls = 0
        self.crash_at = crash_at
        self.dead = False
        for name in PRIMITIVES:
            mp.setattr(fsops, name, self._wrap(name, getattr(fsops, name)))

    def _wrap(self, name: str, real: Callable) -> Callable:
        def call(*a, **k):
            if self.dead:
                raise _Crash(name)
            if name in MUTATING:
                self.calls += 1
                if self.calls == self.crash_at:
                    self.dead = True
                    raise _Crash(name)
            return real(*a, **k)

        return call


@dataclass
class Case:
    setup: Callable[[Any, str], None]  # builds the pre-state under root
    run: Callable[[Any, str], Any]     # the protocol; returns a plain value
    view: Callable[[Any, str], Any]    # what a reader sees
    idempotent: bool                   # a retry may always re-run it
    after: Callable[[Any, str], None] | None = None  # post-retry check


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def _snap_view(spark, root: str):
    t = f"{root}/t"
    return [
        (v, _rows(S.read_snapshot(spark, t, v)))
        for v in S.list_snapshots(spark, t)
    ]


def _index_view(spark, root: str):
    idx = f"{root}/idx"
    globals_ = R.index_table(spark, idx, "globals", required=False)
    if globals_ is None:
        return None
    return (
        globals_.count(), _rows(R.bm25_index_serve(spark, idx, k=5))
    )


def _index_vacuums(spark, root: str) -> None:
    """A crashed attempt's staging orphan is reclaimed by an aged
    vacuum, and the vacuum changes nothing a reader sees."""
    idx = f"{root}/idx"
    before = _index_view(spark, root)
    R.vacuum_bm25_index(spark, idx, staging_min_age_s=0)
    assert fsops.listdir(spark, f"{idx}/_staging") == []
    assert _index_view(spark, root) == before


def _docs(spark, lo: int, hi: int):
    return (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        .select("doc_id", "text")
    )


def _ids(spark, lo: int, hi: int):
    return spark.range(lo, hi).selectExpr("id", "id * 3 AS v").coalesce(1)


def _append(spark, root, lo, hi):
    return S.snapshot_write(_ids(spark, lo, hi), f"{root}/t", mode="append")


def _manifest_append_setup(spark, root):
    _append(spark, root, 0, 4)
    _append(spark, root, 4, 8)


def _expire_setup(spark, root):
    _append(spark, root, 0, 4)
    S.snapshot_write(_ids(spark, 10, 12), f"{root}/t", mode="overwrite")


def _sink(spark, root, lo, hi, batch_id):
    S.snapshot_sink(f"{root}/t")(_ids(spark, lo, hi), batch_id)


def _consume_setup(spark, root, first: bool):
    t = f"{root}/t"
    S.snapshot_write(_docs(spark, 0, 30).coalesce(1), t, mode="append")
    if not first:
        S.snapshot_write(_docs(spark, 30, 50).coalesce(1), t, mode="append")
        R.append_bm25_index_from_snapshot(spark, t, f"{root}/idx", 1)


def _consume(spark, root):
    return R.append_bm25_index_from_snapshot(spark, f"{root}/t", f"{root}/idx")


def _compact_setup(spark, root):
    R.append_bm25_index(_docs(spark, 0, 25), f"{root}/idx")
    R.append_bm25_index(_docs(spark, 25, 50), f"{root}/idx")


def _compact_after(spark, root):
    idx = f"{root}/idx"
    R.vacuum_bm25_index(spark, idx)
    assert [n for n, *_ in fsops.listdir(spark, f"{idx}/base")] == [
        "v00000001"
    ]
    assert R._list_commit_dirs(spark, idx) == []


def _agg_setup(spark, root):
    _append(spark, root, 0, 10)
    _agg_refresh(spark, root)
    _append(spark, root, 10, 15)


def _agg_refresh(spark, root) -> None:
    S.maintain_snapshot_agg(spark, f"{root}/t", f"{root}/agg", [], ["v"])


def _agg_view(spark, root):
    meta = fsops.read_json_meta(spark, f"{root}/agg/_agg_meta.json")
    return meta["version"], _rows(
        spark.read.parquet(f"{root}/agg/{meta['data']}")
    )


def _meta_path(root):
    return f"{root}/m/_index_meta.json"


CASES = {
    "snapshot_append": Case(
        lambda spark, root: _append(spark, root, 0, 5),
        lambda spark, root: _append(spark, root, 5, 8),
        _snap_view, idempotent=False,
    ),
    "manifest_append": Case(
        _manifest_append_setup,
        lambda spark, root: _append(spark, root, 8, 11),
        _snap_view, idempotent=False,
    ),
    "upsert": Case(
        lambda spark, root: _append(spark, root, 0, 6),
        lambda spark, root: S.snapshot_upsert(
            spark.range(4, 9).selectExpr("id", "id * 7 AS v").coalesce(1),
            f"{root}/t", ["id"],
        ),
        _snap_view, idempotent=False,
    ),
    "rollback": Case(
        _expire_setup,
        lambda spark, root: S.rollback_snapshot(spark, f"{root}/t", 1),
        _snap_view, idempotent=False,
    ),
    "expire": Case(
        _expire_setup,
        lambda spark, root: S.expire_snapshots(
            spark, f"{root}/t", keep_last=1, dry_run=False
        ),
        _snap_view, idempotent=True,
    ),
    "sink_batch": Case(
        lambda spark, root: _sink(spark, root, 0, 4, 0),
        lambda spark, root: _sink(spark, root, 4, 7, 1),
        _snap_view, idempotent=True,
    ),
    "index_append": Case(
        lambda spark, root: R.append_bm25_index(
            _docs(spark, 0, 30), f"{root}/idx"
        ),
        lambda spark, root: bool(
            R.append_bm25_index(_docs(spark, 30, 50), f"{root}/idx")
        ),
        _index_view, idempotent=False, after=_index_vacuums,
    ),
    "tombstone": Case(
        lambda spark, root: R.append_bm25_index(
            _docs(spark, 0, 40), f"{root}/idx"
        ),
        lambda spark, root: R.tombstone_bm25_index(
            _docs(spark, 10, 20), f"{root}/idx"
        ),
        _index_view, idempotent=False, after=_index_vacuums,
    ),
    "compact": Case(
        _compact_setup,
        lambda spark, root: R.compact_bm25_index(spark, f"{root}/idx"),
        _index_view, idempotent=False, after=_compact_after,
    ),
    "consume": Case(
        lambda spark, root: _consume_setup(spark, root, first=False),
        _consume, _index_view, idempotent=True, after=_index_vacuums,
    ),
    "consume_first": Case(
        lambda spark, root: _consume_setup(spark, root, first=True),
        _consume, _index_view, idempotent=True, after=_index_vacuums,
    ),
    "agg_refresh": Case(
        _agg_setup, _agg_refresh, _agg_view, idempotent=True,
    ),
    "write_json_meta": Case(
        lambda spark, root: fsops.write_json_meta(
            spark, _meta_path(root), {"block_size": 64, "v": 1}
        ),
        lambda spark, root: fsops.write_json_meta(
            spark, _meta_path(root), {"block_size": 64, "v": 2}
        ),
        lambda spark, root: fsops.read_json_meta(spark, _meta_path(root)),
        idempotent=True,
    ),
}

#: The whole enumeration takes ~5 min on a 4-core host, so only the
#: snapshot-append and index-append cases run in the default tier.
DEFAULT_TIER = {"snapshot_append", "index_append"}
ENUMERATED = [
    pytest.param(
        name, branch,
        marks=() if name in DEFAULT_TIER else pytest.mark.slow,
    )
    for name, branch in [(name, "local") for name in CASES]
    + [("snapshot_append", "hadoop"), ("index_append", "hadoop")]
]


@pytest.mark.parametrize(("name", "branch"), ENUMERATED, indirect=["branch"])
def test_crash_at_every_step(spark, tmp_path, monkeypatch, name, branch):
    """Crash the protocol at each mutating seam call k = 1..N in turn,
    from the same pre-state: readers then see exactly the old or the
    new state, and a retry converges to the new state — idempotent
    protocols always re-run, the others only while the old state is
    visible. A retry from the old state returns what the clean run
    returned."""
    case = CASES[name]
    if name == "manifest_append":
        monkeypatch.setattr(S, "MANIFEST_INLINE_MAX", 1)
    work, template = str(tmp_path / "work"), str(tmp_path / "template")
    case.setup(spark, work)
    shutil.copytree(work, template)
    old = case.view(spark, work)

    def restore() -> None:
        shutil.rmtree(work)
        shutil.copytree(template, work)

    with monkeypatch.context() as m:
        hook = _Hook(m)
        want = case.run(spark, work)
    n_calls = hook.calls
    new = case.view(spark, work)
    assert n_calls > 0 and new != old
    for k in range(1, n_calls + 1):
        restore()
        with monkeypatch.context() as m:
            _Hook(m, crash_at=k)
            with pytest.raises(_Crash):
                case.run(spark, work)
        seen = case.view(spark, work)
        assert seen in (old, new), f"torn state after a crash at call {k}"
        if case.idempotent or seen == old:
            got = case.run(spark, work)
            if seen == old:
                assert got == want, f"retry after a crash at call {k}"
        assert case.view(spark, work) == new, f"retry after call {k}"
        if case.after is not None:
            case.after(spark, work)
