"""Snapshot-versioned tables: time travel for the curated-table family.

The incremental/curated lifecycle (append-only tables, partition-scoped
upserts, compaction, VACUUM — operators/incremental.py, layout.py)
mutates ONE live view of a table; a pipeline that re-trains on "the
corpus as of last week" or needs to audit exactly what a job read has
nothing to pin. This module adds the lakehouse snapshot shape (the
public Iceberg/Delta model, re-built from scratch on plain parquet +
a tiny version log):

- every write commits a SNAPSHOT: an immutable, atomically-renamed
  version file under ``<table>/_snapshots/`` listing the data files
  that are LIVE in that version (names + sizes — metadata only);
- ``read_snapshot(version=...)`` plans an explicit-path parquet scan
  of exactly that version's files — old versions stay readable after
  later appends/overwrites because data files are never mutated, only
  superseded (overwrite = write new files + commit a list without the
  old ones; the old files stay on disk until expired);
- ``rollback_snapshot`` commits a NEW version whose file list is a
  past version's (history is append-only; nothing is deleted);
- ``expire_snapshots`` retires old versions and deletes data files no
  RETAINED version references — the time-travel-safe VACUUM
  (``layout.vacuum_table`` keeps only what the single manifest lists;
  this keeps the union of all retained versions).

Concurrency: a commit writes ``_tmp.<uuid>`` then CLAIMS
``v<NNNNNNNN>.json`` with a no-overwrite move, so two racing writers
cannot both claim a version; the loser retries at the next number
(optimistic concurrency, bounded retries). Every filesystem step goes
through :mod:`cmsspark_spark.fsops`, whose ``claim`` is atomic on POSIX
(a hard link) and on HDFS-class stores (a server-side rename without
overwrite). Object stores without atomic rename have no claim at all.
For those, the claim is PLUGGABLE: pass ``claim=`` to
:func:`commit_snapshot` (a callable that must atomically move the temp
file to the version name and report whether it won) backed by whatever
lock/CAS primitive the store offers (a DB row, a DynamoDB conditional
put, a lock service).

Scale: everything here is driver-side metadata ∝ file count — and past
:data:`MANIFEST_INLINE_MAX` live files the version entry switches to
MANIFEST POINTERS (the Iceberg manifest-list design, r11): immutable
``m-*.json`` chunks under ``_snapshots/``, with appends REUSING the
parent's pointers plus one new chunk for their own files, so commits
to a million-file table write O(increment) metadata instead of
re-serializing the live list. Readers resolve pointers with a dedup;
rollback reuses pointers; expire deletes chunks no retained version
references. Orphan manifests from lost commit retries are reclaimed
when the versions that raced them expire; a standalone orphan (commit
crashed between manifest write and claim) is inert residue like an
unreferenced data file.

Not in the reference: the reference overwrites HDFS output directories in
place (e.g. ``dbs_condor.py`` writes day outputs with no history); this
is beyond-reference operability for the training-data lifecycle.
"""

from __future__ import annotations

import json
import time as _time
import uuid
from typing import Callable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from cmsspark_spark import fsops
from cmsspark_spark.operators import snapmeta
from cmsspark_spark.operators.memo import pin_frame
from cmsspark_spark.session import local_frame

SNAPDIR = "_snapshots"

#: Above this many live files a version entry stores MANIFEST POINTERS
#: (``m-<uuid>.json`` sidecars under ``_snapshots/``, each listing a
#: chunk of file names) instead of the inline list — the Iceberg
#: manifest-list shape. The win is append cost: a child commit REUSES
#: the parent's manifest pointers and adds one manifest for its own
#: files, so committing to a million-file table writes O(increment)
#: bytes, not O(live files). Small tables stay inline (one fewer
#: read per plan).
MANIFEST_INLINE_MAX = 10_000


def _write_attributed(
    df: DataFrame,
    table: str,
    precommit: Callable[[], None] | None = None,
    prefix: str = "snap",
    part_cols: Sequence[str] | None = None,
    distribute: bool = True,
):
    """Write ``df``'s parquet files into ``table`` and return EXACTLY
    the basenames this write produced — by construction, not by
    listing-diff. The files land in a per-write staging subdir
    (``_staging/<uuid>``, invisible to parquet readers per the
    underscore convention) and are then renamed into the table root
    under a ``<prefix>-<uuid>-`` prefix. A concurrent writer's
    in-flight files can never be claimed by this write: the
    attributed set is the staged listing, which only this writer
    populates. (ADVICE r10: the old before/after directory diff
    attributed a concurrent writer's partially-landed batch to this
    snapshot.)

    ``precommit`` (if given) runs after the staged write completes and
    BEFORE any file is renamed into the table root — the barrier that
    lets a caller overlap validation jobs with the write (guide-style
    concurrent jobs) and still abort with zero table-root residue: on
    a precommit exception the staging dir is deleted and the error
    propagates.

    ``part_cols`` stages the write PARTITION-PURE (no file ever spans
    two partition values — ``partitionBy`` on throwaway ``pk<uuid>_*``
    copies of the columns) and returns ``{pk_key: [basenames]}``
    instead; the real partition columns stay in the data files and the
    table root stays flat. Such writes first HASH-DISTRIBUTE by the
    partition columns (Iceberg's ``write.distribution-mode=hash``,
    skipped with ``distribute=False``): without it every task opens a
    writer per partition value it holds — files = tasks × partitions,
    and a single task writes every partition's file in turn (measured
    3× slower at bench scale)."""
    from urllib.parse import unquote

    spark = df.sparkSession
    root = table.rstrip("/")
    token = uuid.uuid4().hex[:12]
    staging = f"{root}/_staging/{token}"
    if part_cols is None:
        df.write.mode("error").parquet(staging)
    else:
        staged_df = (
            df.repartition(
                spark.sparkContext.defaultParallelism, *part_cols
            )
            if distribute
            else df
        )
        # the throwaway layout column must NOT start with "_" or "."
        # (underscore-prefixed partition dirs are invisible to Hadoop
        # listings); the token makes collisions with real columns
        # impossible in practice
        pcols = [f"pk{token}_{c}" for c in part_cols]
        for c, pc in zip(part_cols, pcols):
            staged_df = staged_df.withColumn(pc, F.col(c).cast("string"))
        staged_df.write.partitionBy(*pcols).mode("error").parquet(staging)
    if precommit is not None:
        try:
            precommit()
        except BaseException:
            fsops.delete(spark, staging, recursive=True)
            raise
    marker = f"/_staging/{token}/"
    moves = []
    by_part: dict = {}
    for i, p in enumerate(fsops.list_parquet_files(spark, staging)):
        name = p.rsplit("/", 1)[-1]
        if part_cols is None:
            moves.append((p, f"{prefix}-{token}-{name}"))
            continue
        segs = p.split(marker, 1)[1].split("/")[:-1]
        if len(segs) != len(part_cols):
            raise IOError(f"unexpected staging layout for {p!r}: {segs}")
        vals = []
        for pc, seg in zip(pcols, segs):
            if not seg.startswith(f"{pc}="):
                raise IOError(f"unexpected staging segment {seg!r}")
            raw = seg[len(pc) + 1:]
            # Hive writes %xx-escaped values and a null sentinel
            vals.append(
                None if raw == "__HIVE_DEFAULT_PARTITION__" else unquote(raw)
            )
        base = f"{prefix}-{token}-{i:05d}-{name}"
        moves.append((p, base))
        by_part.setdefault(_pk_key(vals), []).append(base)
    for src, base in moves:
        fsops.rename(spark, src, f"{root}/{base}")
    fsops.delete(spark, staging, recursive=True)
    return [base for _, base in moves] if part_cols is None else by_part


def _snap_dir(table: str) -> str:
    return table.rstrip("/") + "/" + SNAPDIR


def list_snapshots(spark: SparkSession, table: str) -> list[int]:
    """Committed version numbers, ascending. Metadata listing only."""
    versions = (
        snapmeta.parse_version_name(name)
        for name, _d, _s, _m in fsops.listdir(spark, _snap_dir(table))
    )
    return sorted(v for v in versions if v is not None)


def _read_required(spark: SparkSession, path: str, missing: str):
    meta = fsops.read_json_meta(spark, path)
    if meta is None:
        raise FileNotFoundError(missing)
    return meta


def read_snapshot_meta(spark: SparkSession, table: str, version: int) -> dict:
    """Parse one version file. Raises FileNotFoundError for an unknown
    or EXPIRED version — time travel past the retention window must
    fail loudly, never silently read the current state."""
    return _read_required(
        spark, _snap_dir(table) + "/" + snapmeta.version_name(version),
        f"snapshot v{version} of {table} does not exist or was expired",
    )


def _write_manifest_file(
    spark: SparkSession, table: str, names: Sequence[str]
) -> str:
    """Write one manifest chunk (``m-<uuid>.json`` — a JSON list of
    file basenames) under the snapshot dir; returns its basename.
    Manifests are immutable and content-addressed-ish (uuid names):
    a commit attempt that loses its version race leaves an orphan
    manifest, which expire_snapshots reclaims as unreferenced."""
    name = f"m-{uuid.uuid4().hex}.json"
    fsops.put_no_overwrite(
        spark, _snap_dir(table) + "/" + name,
        json.dumps(sorted(names)).encode("utf-8"),
    )
    return name


def _read_manifest_file(
    spark: SparkSession, table: str, name: str
) -> list:
    path = _snap_dir(table) + "/" + name
    return _read_required(spark, path, f"manifest {path} does not exist")


def _read_manifest_files(
    spark: SparkSession, table: str, names: Sequence[str]
) -> dict:
    """``{manifest name: [file basenames]}`` for many manifests at
    once. Local reads are microseconds each and run inline; remote
    schemes fan the py4j/FS round-trips over a small thread pool
    (Hadoop FileSystem objects and the py4j gateway are thread-safe),
    so resolving a manifest-list of N chunks costs ~N/8 round-trips
    of latency instead of N."""
    names = list(names)
    if len(names) <= 2 or fsops.local_path(spark, table) is not None:
        return {m: _read_manifest_file(spark, table, m) for m in names}
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(8, len(names))) as pool:
        listed = pool.map(
            lambda m: _read_manifest_file(spark, table, m), names
        )
        return dict(zip(names, listed))


def _write_manifests(
    spark: SparkSession,
    table: str,
    groups: Sequence[tuple],
    chunk: int | None = None,
) -> list:
    """Write ``groups`` (``[(key, names)]``: an add-sequence or a
    partition key, with its file basenames) as manifests of at most
    ``chunk`` sorted names each (one per group when None); returns
    ``[(manifest, key, n_names)]`` in group order. Grouping by
    add-sequence is what lets sequences survive chunking (a manifest
    carries one seq). Local writes run inline (microseconds each);
    remote schemes fan the py4j round-trips over a thread pool, so N
    manifests cost ~N/8 round-trips of latency instead of N."""
    jobs = []
    for key, names in groups:
        names = sorted(names)
        step = chunk or max(1, len(names))
        jobs += [(key, names[i:i + step]) for i in range(0, len(names), step)]

    def write(job: tuple) -> tuple:
        key, names = job
        return _write_manifest_file(spark, table, names), key, len(names)

    if len(jobs) <= 2 or fsops.local_path(spark, table) is not None:
        return [write(j) for j in jobs]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(8, len(jobs))) as pool:
        return list(pool.map(write, jobs))


def _seq_groups(seqs: dict) -> list:
    """``{name: add-seq}`` → ``[(seq, names)]`` ascending by seq."""
    by_seq: dict = {}
    for n, seq in seqs.items():
        by_seq.setdefault(int(seq), []).append(n)
    return sorted(by_seq.items())


def _manifest_reader(spark: SparkSession, table: str) -> Callable:
    """The bulk manifest reader :mod:`snapmeta` resolves through."""
    return lambda names: _read_manifest_files(spark, table, names)


def snapshot_files(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    meta: dict | None = None,
) -> list:
    """The resolved live file basenames of one version — inline lists
    and manifest-pointer entries look the same to every reader.
    Manifest resolution dedups across chunks (set union), so a
    contract-violating duplicate name can never double-plan a scan."""
    if meta is None:
        if version is None:
            versions = list_snapshots(spark, table)
            if not versions:
                raise FileNotFoundError(f"{table} has no snapshots")
            version = versions[-1]
        meta = read_snapshot_meta(spark, table, version)
    return snapmeta.live_files(meta, _manifest_reader(spark, table))


def default_claim(spark: SparkSession, table: str) -> Callable[[str, str], bool]:
    """The built-in version claim, :func:`fsops.claim`: a no-overwrite
    move that is atomic on POSIX (a hard link) and on HDFS-class stores
    (a rename without overwrite — the server enforces
    dest-must-not-exist). Object stores without atomic rename need a
    caller-provided claim instead (see :func:`commit_snapshot`).
    Returns a ``claim(tmp, dest) -> bool`` callable: True = this
    writer owns ``dest``; False = lost the race."""
    return lambda tmp, dest: fsops.claim(spark, tmp, dest)


#: Version-claim attempts before a commit gives up under contention.
COMMIT_ATTEMPTS = 16


def _commit(
    spark: SparkSession,
    table: str,
    build: Callable[[int, list], dict],
    claim: Callable[[str, str], bool] | None = None,
) -> int:
    """The optimistic commit loop under every snapshot commit. Each
    attempt lists the version log, asks ``build(v, versions)`` for the
    meta of the next version ``v`` (``build`` re-reads the real parent
    itself and makes every parent-dependent decision against it, so a
    writer that lost a race re-applies its change on top of the
    winner's commit; it may raise to refuse), writes it to a temp file
    and claims ``v`` with it. A lost claim deletes the temp and
    retries. Returns the committed version."""
    if claim is None:
        claim = default_claim(spark, table)
    last_err: Exception | None = None
    for _ in range(COMMIT_ATTEMPTS):
        versions = list_snapshots(spark, table)
        v = (versions[-1] + 1) if versions else 1
        meta = build(v, versions)
        tmp = _snap_dir(table) + f"/_tmp.{uuid.uuid4().hex}"
        fsops.put_no_overwrite(
            spark, tmp, json.dumps(meta).encode("utf-8")
        )
        dest = _snap_dir(table) + "/" + snapmeta.version_name(v)
        try:
            if claim(tmp, dest):
                return v
            last_err = RuntimeError(f"version claim lost for {dest}")
        except Exception as exc:
            last_err = exc
        fsops.delete(spark, tmp)
    raise RuntimeError(
        f"could not commit a snapshot of {table} after {COMMIT_ATTEMPTS} "
        f"attempts (heavy concurrent-writer contention); last error: "
        f"{last_err}"
    )


def _refuse_early(
    spark: SparkSession,
    table: str,
    key_cols: Sequence[str] | None = None,
    part_cols: Sequence[str] | None = None,
) -> list[int]:
    """Check the lineage rules (:func:`snapmeta.inherit`) against the
    latest version BEFORE any file lands, so a refused batch leaves no
    residue; the commit attempt checks them again against the parent
    it actually lands on. Returns the version listing it checked
    (empty when the table has no version yet)."""
    versions = list_snapshots(spark, table)
    if versions:
        snapmeta.inherit(
            table, read_snapshot_meta(spark, table, versions[-1]),
            key_cols=key_cols, part_cols=part_cols,
        )
    return versions


def _refuse_duplicate_keys(df: DataFrame, key_cols: Sequence[str]) -> None:
    """Refuse an upsert batch with several rows for one key: every one
    would survive the merge (a batch's rows are immune to its own
    delete). One batch-sized aggregation."""
    dup = (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            "upsert batch carries multiple rows for key "
            f"{tuple(dup[0][c] for c in key_cols)} — every one would "
            "survive the merge; dedupe the batch, or pass "
            "allow_duplicate_keys=True where the operation takes it"
        )


def commit_snapshot(
    spark: SparkSession,
    table: str,
    files: Sequence[str] | None = None,
    op: str = "append",
    expected_parent: int | None = None,
    extra: dict | None = None,
    append_files: Sequence[str] | None = None,
    claim: Callable[[str, str], bool] | None = None,
    manifests: Sequence[str] | None = None,
    new_delete_files: Sequence[str] | None = None,
) -> int:
    """Atomically commit the next snapshot version. With ``files`` the
    commit lists exactly those basenames (overwrite/rollback — the
    live set does not depend on the parent). With ``append_files`` the
    commit lists PARENT-LIVE + those basenames, and crucially the
    parent's live list is re-read INSIDE the retry loop: a writer that
    loses a version race re-applies its append on top of the winner's
    commit instead of re-numbering a stale list (which would silently
    drop the winner's files from the live view).

    Every decision that depends on the parent is made per attempt,
    against the parent the claim lands on: the lineage rules, the
    inherited delete state, schema and ``mixed_schemas`` flag
    (:func:`snapmeta.inherit`; the batch's ``schema`` and a keyed
    commit's ``delete_key_cols`` come in ``extra``). ``expected_parent``
    (the version a rewrite was planned against) refuses with a
    "concurrent commit" error when any other version is the parent.

    The version claim is PLUGGABLE: ``claim(tmp_path, dest_path)``
    must atomically move the written temp file to the version name iff
    the name is unclaimed, returning True on success and False when
    another writer won (this writer then renumbers and retries, after
    deleting its temp). The default (:func:`default_claim`) is a
    no-overwrite move — atomic on POSIX and HDFS-class stores. On
    S3-like stores whose rename/copy overwrites, pass a claim backed
    by a real CAS primitive (conditional put, a lock table) — with the
    default there, two racers could both "win" a version and one
    commit would silently vanish. ``extra`` adds
    metadata fields to the commit (the streaming sink records its
    batch_id this way). Returns the committed version number.

    Large tables go through MANIFEST POINTERS (the Iceberg
    manifest-list shape): past :data:`MANIFEST_INLINE_MAX` live files
    the version entry stores
    ``m-*.json`` sidecar names instead of the inline list, and an
    APPEND on a manifest-mode parent reuses the parent's pointers
    plus one new manifest for its own files — commit cost
    O(increment), never O(live files). ``manifests`` reuses existing
    pointers directly (rollback's path). In manifest mode ``n_files``
    is maintained additively under the fresh-names-per-append
    contract (every write path here generates unique names); readers
    resolve through a dedup, so even a violated contract can only
    skew the count, never a scan.

    DELETE SEQUENCING: ``new_delete_files`` registers equality-delete
    files whose sequence is this commit's version (stamped inside the
    retry loop). Once a lineage carries delete state, appends record
    per-file add-sequences (inline ``file_seqs``; manifest-mode
    ``manifest_seqs`` — one seq per increment manifest), so reads can
    scope each delete to data files with strictly lower sequence, the
    Iceberg v2 contract that makes delete-then-reinsert correct."""
    if manifests is not None:
        if files is not None or append_files is not None:
            raise ValueError(
                "manifests is exclusive with files / append_files"
            )
    elif (files is None) == (append_files is None):
        raise ValueError("pass exactly one of files / append_files")
    threshold = MANIFEST_INLINE_MAX
    # manifests whose content does not depend on the parent are
    # written once and reused across version-race retries (a retry
    # that rewrote them would orphan the prior set)
    written: dict = {}
    inc_names = sorted({f.rsplit("/", 1)[-1] for f in append_files or ()})

    def listing_of(v: int, pmeta: dict | None) -> dict:
        if manifests is not None:
            n_total = sum(
                len(listed)
                for listed in _read_manifest_files(
                    spark, table, manifests
                ).values()
            )
            return {"manifests": list(manifests), "n_files": n_total}
        if files is not None:
            names = sorted({f.rsplit("/", 1)[-1] for f in files})
            if len(names) <= threshold:
                return {"files": names, "n_files": len(names)}
            # chunks group by add-seq when the caller carries one
            # (rollback of a seq-tracked inline version), so sequences
            # survive the chunking
            if "chunks" not in written:
                efs = (extra or {}).get("file_seqs") or {}
                written["chunks"] = _write_manifests(
                    spark, table,
                    _seq_groups({n: efs.get(n, 0) for n in names}),
                    threshold,
                )
            out = {
                "manifests": [m for m, _, _ in written["chunks"]],
                "n_files": len(names),
            }
            mseqs = {m: s for m, s, _ in written["chunks"] if s}
            if mseqs:
                out["manifest_seqs"] = mseqs
            return out
        pmeta = pmeta or {}
        p_manifests = pmeta.get("manifests")
        p_inline = pmeta.get("files", [])
        # ADD SEQUENCES (Iceberg v2 delete scoping): once the lineage
        # carries delete state, every appended file records the
        # version that added it, so later reads can exempt it from
        # OLDER deletes (delete-then-reinsert). Tracking starts at the
        # first delete — untracked files default to seq 0, which every
        # delete outranks, exactly the pre-delete-era semantics. A
        # commit that CARRIES its own delete files (upsert: append +
        # delete in one version) must also stamp its data files even
        # when the parent has no delete state yet — at seq 0 the
        # commit's own delete (seq = v > 0) would apply to them and
        # the upsert would kill the rows it just inserted.
        track_seqs = bool(snapmeta.delete_files(pmeta)) or bool(
            new_delete_files
        )
        if p_manifests is None and (
            len(p_inline) + len(inc_names) <= threshold
        ):
            live = set(p_inline) | set(inc_names)
            out = {"files": sorted(live), "n_files": len(live)}
            fseqs = {
                k: s
                for k, s in (pmeta.get("file_seqs") or {}).items()
                if k in live
            }
            if track_seqs:
                fseqs.update((n, v) for n in inc_names)
            if fseqs:
                out["file_seqs"] = fseqs
            return out
        # manifest mode: reuse the parent's pointers (NEVER re-listing
        # its live set) + one manifest for this increment; an inline
        # parent converts with one chunk per distinct add-seq. The
        # increment's SEQ lives in the version meta, re-stamped per
        # attempt, so a lost race can never pin a stale sequence onto
        # the increment.
        if "inc" not in written:
            written["inc"] = _write_manifest_file(spark, table, inc_names)
        ptrs = list(p_manifests or [])
        mseqs = dict(pmeta.get("manifest_seqs") or {})
        n_total = pmeta.get("n_files", 0) if p_manifests else len(p_inline)
        if p_manifests is None and p_inline:
            converted = _write_manifests(
                spark, table,
                _seq_groups(
                    snapmeta.add_seqs(pmeta, _manifest_reader(spark, table))
                ),
                threshold,
            )
            ptrs += [m for m, _, _ in converted]
            mseqs.update((m, s) for m, s, _ in converted if s)
        ptrs.append(written["inc"])
        if track_seqs:
            mseqs[written["inc"]] = v
        mseqs = {k: s for k, s in mseqs.items() if k in set(ptrs)}
        out = {"manifests": ptrs, "n_files": n_total + len(inc_names)}
        if mseqs:
            out["manifest_seqs"] = mseqs
        return out

    def build(v: int, versions: list) -> dict:
        parent = versions[-1] if versions else None
        if expected_parent is not None and parent != expected_parent:
            raise RuntimeError(
                f"concurrent commit detected on {table}: v{parent} "
                f"landed after this commit was planned against "
                f"v{expected_parent} — publishing would drop its rows; "
                "re-run in a quiet window (files this commit landed are "
                "unreferenced residue, reclaimed by vacuum)"
            )
        # only an append keeps the parent's live files, so only an
        # append inherits from it; the other shapes list their own set
        pmeta = (
            read_snapshot_meta(spark, table, parent)
            if append_files is not None and versions
            else None
        )
        extra_eff = dict(extra or {})
        meta = {
            "version": v,
            "op": op,
            "parent": parent,
            # wall-clock commit stamp (re-stamped per retry attempt):
            # powers TIMESTAMP AS OF resolution (version_as_of)
            "committed_ms": int(_time.time() * 1000),
        }
        meta.update(snapmeta.inherit(
            table, pmeta, extra_eff.get("schema"),
            extra_eff.get("delete_key_cols"),
        ))
        listing = listing_of(v, pmeta)
        meta.update(listing)
        if files is not None and "manifests" in listing:
            # chunking already folded the caller's per-file seqs into
            # manifest_seqs; the inline map must not leak into meta
            extra_eff.pop("file_seqs", None)
        # FILE SKIPPING STATS: inline commits carry a per-file
        # {col: [min, max]} map — appends inherit the parent's entries
        # for still-live files and add the caller's new ones. Manifest
        # mode drops stats (meta must stay O(increment)); a file with
        # no entry is never skipped, so the degradation is less
        # pruning, never a wrong answer.
        new_fstats = extra_eff.pop("file_stats", None)
        if "files" in listing:
            live_set = set(listing["files"])
            merged_stats = {
                k: st
                for k, st in ((pmeta or {}).get("file_stats") or {}).items()
                if k in live_set
            }
            if new_fstats:
                merged_stats.update(
                    {k: st for k, st in new_fstats.items() if k in live_set}
                )
            if merged_stats:
                meta["file_stats"] = merged_stats
        meta.update(extra_eff)
        if new_delete_files is not None:
            # the new delete files' SEQUENCE is this commit's version —
            # stamped per attempt so a lost race renumbers the delete
            # along with the commit (a delete applies to data files
            # with strictly lower seq, so an understamped delete would
            # wrongly kill rows appended just before it)
            nd = sorted({f.rsplit("/", 1)[-1] for f in new_delete_files})
            meta["delete_files"] = snapmeta.delete_files(meta) + nd
            dseqs = dict(meta.get("delete_seqs") or {})
            dseqs.update((n, v) for n in nd)
            meta["delete_seqs"] = dseqs
        return meta

    return _commit(spark, table, build, claim)


def _compute_file_stats(
    spark: SparkSession,
    table: str,
    names: Sequence[str],
    cols: Sequence[str],
) -> dict:
    """Per-file min/max of ``cols`` over the given data files — ONE
    grouped job (input_file_name grain), used to record skipping
    stats at commit time. Values must be JSON-stable scalars
    (numbers, strings, bools); temporal or complex columns fail
    loudly — project them to epoch numbers before snapshotting."""
    root = table.rstrip("/")
    df = spark.read.parquet(*[f"{root}/{n}" for n in names])
    aggs = []
    for c in cols:
        aggs.append(F.min(c).alias(f"_lo_{c}"))
        aggs.append(F.max(c).alias(f"_hi_{c}"))
    rows = (
        df.withColumn("_f", F.input_file_name())
        .groupBy("_f")
        .agg(*aggs)
        .collect()
    )
    out: dict = {}
    for r in rows:
        base = r._f.rsplit("/", 1)[-1]
        ent = {}
        for c in cols:
            lo, hi = r[f"_lo_{c}"], r[f"_hi_{c}"]
            for v in (lo, hi):
                if v is not None and not isinstance(
                    v, (int, float, str, bool)
                ):
                    raise TypeError(
                        f"file stats for column {c!r} would record a "
                        f"{type(v).__name__} — stats columns must be "
                        "numeric/string (cast temporals to epoch "
                        "numbers before snapshotting)"
                    )
            ent[c] = [lo, hi]
        out[base] = ent
    return out


def snapshot_write(
    df: DataFrame,
    table: str,
    mode: str = "append",
    stats_cols: Sequence[str] = (),
) -> int:
    """Write ``df`` to ``table`` and commit the resulting snapshot.

    ``append``: new parquet files land beside the existing ones via a
    per-commit staging dir (:func:`_write_attributed` — the committed
    file set is derived from the write itself, never from a directory
    listing diff, so a concurrent writer's in-flight files are never
    claimed); the snapshot lists parent files + new files.
    ``overwrite``: new files land the same way (NO in-place directory
    wipe) and the snapshot lists ONLY them — prior versions keep
    reading the superseded files until expiry. The write's schema is
    recorded in the commit so an empty version stays readable with the
    schema it was committed under. Returns the committed version.

    SCHEMA EVOLUTION: an append whose columns differ from the parent
    version's recorded schema (a new nullable column, a dropped one)
    marks the commit ``mixed_schemas`` — :func:`read_snapshot` then
    plans the scan with parquet schema merging, so old rows surface
    the new column as null (the lakehouse add-column contract). The
    flag propagates along append chains and clears on overwrite or
    :func:`optimize_snapshot` (both rewrite to one homogeneous
    schema). The flag is derived inside the commit attempt, against
    the parent the claim lands on, so a concurrent writer's evolution
    is compared too.

    ``stats_cols``: record per-file MIN/MAX of these columns in the
    commit (one extra grouped job over the new files) — the skipping
    metadata :func:`read_snapshot`'s ``where_between`` prunes with.
    Inline-mode tables inherit stats along append chains; manifest-
    mode commits drop them (keeping commit cost O(increment) — the
    scale path records stats at OPTIMIZE where the file count is
    small; a stats-less file is simply never skipped)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    spark = df.sparkSession
    if mode == "append":
        _refuse_early(spark, table)
    new_files = _write_attributed(df, table)
    extra: dict = {"schema": df.schema.jsonValue()}
    if stats_cols:
        extra["file_stats"] = _compute_file_stats(
            spark, table,
            [p.rsplit("/", 1)[-1] for p in new_files], list(stats_cols),
        )
    if mode == "append":
        # parent's live list resolved inside the commit retry loop —
        # concurrent appends compose instead of clobbering
        return commit_snapshot(
            spark, table, op=mode, append_files=new_files, extra=extra
        )
    return commit_snapshot(spark, table, new_files, op=mode, extra=extra)


def _stage_delete_files(
    spark: SparkSession,
    table: str,
    keys: DataFrame,
    key_cols: Sequence[str],
    precommit: Callable[[], None] | None = None,
) -> list[str]:
    """Land ``keys``' distinct key rows as immutable ``snapdel-*``
    delete files beside the table's data (staged write + rename), and
    return their basenames — the caller registers them with a commit
    (``commit_snapshot(new_delete_files=...)``), which stamps their
    sequence. No coalesce(1): a huge delete-key set must not funnel
    through one task — AQE's partition coalescing already collapses a
    small distinct() output to one or a few files, and a billion-key
    delete writes in parallel (ADVICE r12)."""
    return _write_attributed(
        keys.select(*key_cols).distinct(), table, precommit,
        prefix="snapdel",
    )


def snapshot_delete(
    spark: SparkSession,
    table: str,
    keys: DataFrame,
    key_cols: Sequence[str],
) -> int:
    """EQUALITY DELETES for snapshot tables (the Iceberg v2 delete-file
    shape): mark rows dead WITHOUT rewriting any data file. The key
    rows land in an immutable DELETE FILE (``snapdel-*`` parquet beside
    the data); the new version lists the parent's data files unchanged
    plus the accumulated delete files, and every read of a version
    carrying deletes anti-joins them on ``key_cols``. Prior versions
    never reference the new delete file, so time travel still shows the
    rows; :func:`rollback_snapshot` restores a pre-delete delete-set;
    :func:`optimize_snapshot` FOLDS deletes physically (the rewrite
    reads the delete-applied content and commits with a clean delete
    state); :func:`expire_snapshots` reclaims delete files no retained
    version references. Write cost ∝ keys, never table size — the
    point of delete files at 100 TB.

    ``key_cols`` is pinned at the first delete and must match on every
    later one (mixing key shapes would make the anti-join silently
    wrong). The pin, the accumulated delete set and the carried schema
    are all decided inside the commit attempt, against the parent the
    claim lands on, so a racing delete under other keys is refused.
    Returns the committed version.

    SEQUENCE SCOPING (Iceberg v2): the delete file is stamped with the
    commit's version as its sequence and applies ONLY to data files
    with a strictly lower add-sequence — rows appended AFTER the
    delete are immune even when their keys match, so the standard
    delete-then-reinsert / upsert correction pattern round-trips
    (see :func:`_scan_with_deletes`). Tables written before sequence
    tracking keep their old whole-table delete semantics (an
    unstamped delete file sorts after every data file)."""
    key_cols = list(key_cols)
    if not _refuse_early(spark, table, key_cols=key_cols):
        raise FileNotFoundError(f"{table} has no snapshots")
    del_names = _stage_delete_files(spark, table, keys, key_cols)
    # the accumulated delete list and the new files' sequence stamps
    # are assembled INSIDE the commit retry loop (parent re-read, seq
    # = final version) — see commit_snapshot(new_delete_files=...)
    return commit_snapshot(
        spark, table, op="delete", append_files=[],
        extra={"delete_key_cols": key_cols}, new_delete_files=del_names,
    )


def snapshot_upsert(
    df: DataFrame,
    table: str,
    key_cols: Sequence[str],
    allow_duplicate_keys: bool = False,
) -> int:
    """Keyed MERGE (the Delta ``MERGE WHEN MATCHED UPDATE / WHEN NOT
    MATCHED INSERT`` shape) in ONE atomic snapshot commit: every row of
    ``df`` lands, and any pre-existing live row sharing its key dies —
    existing keys are REPLACED, new keys are INSERTED, and no reader
    can ever observe the half-applied state (there is no intermediate
    version; the commit carries both the new data files and the
    equality-delete file).

    Mechanics ride the Iceberg v2 sequence scoping already in place
    (:func:`_scan_with_deletes`): the commit registers ``df``'s files
    with add-sequence = v and a delete file of ``df``'s keys with
    sequence = v; the delete applies only to data files with strictly
    LOWER sequence, so it kills the old rows and leaves the new ones
    untouched. Stacked upserts of the same key compose (each round's
    delete outranks every earlier file); :func:`rollback_snapshot`
    restores the pre-upsert image; :func:`optimize_snapshot` folds the
    accumulated delete files physically; :func:`snapshot_cdc` across
    an upsert emits exact update images (old row −1 via the delete-set
    delta, new row +1 via the added files) — so maintained aggregates
    (:func:`maintain_snapshot_agg`) stay exact through upserts with
    refresh cost ∝ the batch, never the table.

    Write cost ∝ the batch (data files + a key-sized delete file);
    read cost grows with accumulated delete commits until OPTIMIZE
    folds them — same economics as Iceberg v2 merge-on-read, the
    shape that works at 100 TB where copy-on-write rewrites don't.

    ``df`` must carry at most one row per key: duplicate keys in one
    batch would all survive (they are all immune to the batch's own
    delete), which is almost always a caller bug — detected with one
    batch-sized aggregation and refused loudly unless
    ``allow_duplicate_keys=True`` (intentional multi-row replacement:
    "replace key k's rows with THESE n rows"). Concurrent writers
    compose: the key pin, the carried delete state and the schema flag
    are decided inside the commit attempt, against the parent the
    claim lands on. Partition-attributed tables refuse (at that grain
    the replace mechanism is overwriting the partition)."""
    return snapshot_apply_changes(
        df.sparkSession, table, key_cols, upserts=df,
        allow_duplicate_keys=allow_duplicate_keys, op="upsert",
    )


def snapshot_apply_changes(
    spark: SparkSession,
    table: str,
    key_cols: Sequence[str],
    upserts: DataFrame | None = None,
    delete_keys: DataFrame | None = None,
    allow_duplicate_keys: bool = False,
    extra: dict | None = None,
    op: str = "apply",
) -> int:
    """The generalized one-commit change application under
    :func:`snapshot_upsert` and the CDC-replication sink: ``upserts``'
    rows replace their keys' live rows, ``delete_keys``' keys die — in
    ONE atomic version (the commit carries the new data files at
    add-seq v plus a single delete file of upsert-keys ∪ delete-keys
    at seq v; sequence scoping spares the batch's own rows). This is
    what a CDC-apply needs: an update stream's net batch effect
    (replacements + net deletions) lands with no intermediate version
    a reader could catch half-applied, and replays are detectable from
    one commit's metadata (pass ``extra={"batch_id": ...}``).

    Either side may be None/empty (pure upsert / pure delete). Write
    cost ∝ the batch; guards (key pinning, partition-grain refusal,
    duplicate-key detection over ``upserts``) as in
    :func:`snapshot_upsert`. Returns the committed version."""
    key_cols = list(key_cols)
    if upserts is not None:
        missing = [c for c in key_cols if c not in upserts.columns]
        if missing:
            raise ValueError(f"upsert df lacks key columns {missing}")
    if delete_keys is not None:
        missing = [c for c in key_cols if c not in delete_keys.columns]
        if missing:
            raise ValueError(
                f"delete_keys df lacks key columns {missing}"
            )
    if upserts is None and delete_keys is None:
        raise ValueError("pass at least one of upserts / delete_keys")
    _refuse_early(spark, table, key_cols=key_cols)
    extra_eff: dict = {**(extra or {}), "delete_key_cols": key_cols}
    if upserts is not None:
        extra_eff["schema"] = upserts.schema.jsonValue()
    keys = None
    if upserts is not None:
        keys = upserts.select(*key_cols)
    if delete_keys is not None:
        dk = delete_keys.select(*key_cols)
        keys = dk if keys is None else keys.unionByName(dk)
    # the three batch-sized jobs (duplicate-key check, data-file
    # write, delete-file write) are independent until anything lands
    # in the table root — run them as concurrent jobs and put the
    # dup-check barrier before both rename steps, so a refused batch
    # still leaves zero table-root residue
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        fut_dup = (
            pool.submit(_refuse_duplicate_keys, upserts, key_cols)
            if upserts is not None and not allow_duplicate_keys
            else None
        )

        def _barrier() -> None:
            if fut_dup is not None:
                fut_dup.result()

        fut_data = (
            pool.submit(_write_attributed, upserts, table, _barrier)
            if upserts is not None
            else None
        )
        del_names = _stage_delete_files(
            spark, table, keys, key_cols, precommit=_barrier
        )
        new_files = fut_data.result() if fut_data is not None else []
        if fut_dup is not None:
            fut_dup.result()
    # ONE commit carries both: data files stamped seq=v, delete file
    # stamped seq=v → the delete reaches every older file, never these
    return commit_snapshot(
        spark, table, op=op, append_files=new_files, extra=extra_eff,
        new_delete_files=del_names,
    )


def _staged_path(table: str, stage_id: str) -> str:
    return _snap_dir(table) + f"/staged/s-{stage_id}.json"


def snapshot_write_staged(
    df: DataFrame,
    table: str,
    mode: str = "append",
    key_cols: Sequence[str] | None = None,
) -> str:
    """WRITE-AUDIT-PUBLISH, step 1 (the public Iceberg WAP pattern):
    land ``df``'s data files beside the table and record them in a
    STAGE ENTRY (``_snapshots/staged/s-<id>.json``) — NOT a version.
    Normal readers cannot see staged data (the version chain is
    untouched); an audit process reads it with :func:`read_staged`,
    then :func:`publish_staged` turns the entry into a real commit or
    :func:`discard_staged` drops it (the files become vacuum residue).
    Returns the stage id.

    Staging OUTSIDE the chain is what keeps this safe: every
    latest-version consumer (reads, appends, maintenance, CDC,
    streaming sinks) is oblivious to in-flight stages, and commits
    made BETWEEN stage and publish compose — an ``append`` stage
    replays its increment onto whatever parent is current at publish
    time, exactly like a late writer in the commit retry loop.
    ``overwrite`` stages replace the live set at publish, same as a
    direct overwrite would.

    ``mode="upsert"`` (requires ``key_cols``) stages a KEYED MERGE:
    the audit previews the merged view, and the publish lands the
    batch's rows plus the equality-delete of its keys in ONE commit
    (:func:`snapshot_upsert` semantics at the publish version's
    sequence) — the audited-correction workflow: stage the fix,
    validate it against the live table, publish atomically. Duplicate
    keys refuse AT STAGE TIME (the data is frozen from here);
    partition-attributed tables refuse for upsert stages."""
    if mode not in ("append", "overwrite", "upsert"):
        raise ValueError(
            f"mode must be append|overwrite|upsert, got {mode!r}"
        )
    spark = df.sparkSession
    if mode == "upsert":
        if not key_cols:
            raise ValueError("upsert stages require key_cols")
        key_cols = list(key_cols)
        missing = [c for c in key_cols if c not in df.columns]
        if missing:
            raise ValueError(f"upsert df lacks key columns {missing}")
        versions = list_snapshots(spark, table)
        if versions:
            # a stage is no commit: its grain is final here, its key pin
            # is checked at publish (an optimize in between re-pins)
            latest = read_snapshot_meta(spark, table, versions[-1])
            snapmeta.inherit(
                table, {**latest, "delete_key_cols": None}, key_cols=key_cols
            )
        _refuse_duplicate_keys(df, key_cols)
    elif key_cols:
        raise ValueError("key_cols only applies to mode='upsert'")
    new_files = _write_attributed(df, table)
    sid = uuid.uuid4().hex[:16]
    entry = {
        "stage_id": sid,
        "op": mode,
        "files": sorted({p.rsplit("/", 1)[-1] for p in new_files}),
        "schema": df.schema.jsonValue(),
    }
    if mode == "upsert":
        entry["key_cols"] = key_cols
    versions = list_snapshots(spark, table)
    if versions:
        entry["staged_at_version"] = versions[-1]
    fsops.write_json_meta(spark, _staged_path(table, sid), entry)
    return sid


def list_staged(spark: SparkSession, table: str) -> list[dict]:
    """All pending stage entries (metadata listing only)."""
    out = []
    d = _snap_dir(table) + "/staged"
    for name, _d, _s, _m in fsops.listdir(spark, d):
        if name.startswith("s-") and name.endswith(".json"):
            e = fsops.read_json_meta(spark, f"{d}/{name}")
            if e is not None:
                out.append(e)
    return sorted(out, key=lambda e: e.get("stage_id", ""))


def _staged_entry(spark: SparkSession, table: str, stage_id: str) -> dict:
    e = fsops.read_json_meta(spark, _staged_path(table, stage_id))
    if e is None:
        raise FileNotFoundError(
            f"stage {stage_id} of {table} does not exist (published, "
            "discarded, or never created)"
        )
    return e


def read_staged(
    spark: SparkSession, table: str, stage_id: str
) -> DataFrame:
    """AUDIT read of a stage: exactly what the table would contain if
    the stage were published NOW — for an ``append`` stage, the
    current live view (deletes applied) plus the staged increment
    (immune to existing deletes, matching the add-sequence the
    publish will stamp); for ``overwrite``, the staged files alone.
    Run validation queries against this frame, then publish or
    discard."""
    e = _staged_entry(spark, table, stage_id)
    root = table.rstrip("/")
    inc = spark.read.parquet(*[f"{root}/{n}" for n in e["files"]])
    if e["op"] == "overwrite" or not list_snapshots(spark, table):
        return inc
    base = read_snapshot(spark, table)
    if e["op"] == "upsert":
        kc = list(e["key_cols"])
        base = base.join(
            inc.select(*kc).distinct(), kc, "left_anti"
        )
    return base.unionByName(inc, allowMissingColumns=True)


def publish_staged(
    spark: SparkSession, table: str, stage_id: str
) -> int:
    """WRITE-AUDIT-PUBLISH, step 3: turn a stage entry into a real
    commit. IDEMPOTENT under crash-retry: the stage id rides in the
    commit metadata, so a publish that crashed between committing and
    removing the entry is detected on re-run (the ledger wins, the
    leftover entry is swept, the committed version is returned) —
    never a double-apply. An ``append`` stage composes with every
    commit made since staging (its increment replays onto the current
    parent; delete state, key pin and schema flag decided and
    add-sequences stamped inside the commit attempt); an ``overwrite``
    stage replaces the live set. Returns the committed version."""
    done = replay_ledger(spark, table, "stage_id").get(str(stage_id))
    if done is not None:
        # already published (crash between commit and entry sweep)
        fsops.delete(spark, _staged_path(table, stage_id))
        return done
    e = _staged_entry(spark, table, stage_id)
    extra: dict = {"stage_id": stage_id, "schema": e["schema"]}
    if e["op"] == "upsert":
        kc = list(e["key_cols"])
        _refuse_early(spark, table, key_cols=kc)
        extra["delete_key_cols"] = kc
        root = table.rstrip("/")
        keys = spark.read.parquet(
            *[f"{root}/{n}" for n in e["files"]]
        ).select(*kc)
        # a crash between here and the commit leaves an unreferenced
        # snapdel file — ordinary vacuum residue; the re-publish
        # stages a fresh one (the ledger check above makes the commit
        # itself idempotent)
        del_names = _stage_delete_files(spark, table, keys, kc)
        v = commit_snapshot(
            spark, table, op="publish-upsert",
            append_files=e["files"], extra=extra,
            new_delete_files=del_names,
        )
    elif e["op"] == "append":
        v = commit_snapshot(
            spark, table, op="publish", append_files=e["files"],
            extra=extra,
        )
    else:
        v = commit_snapshot(
            spark, table, e["files"], op="publish-overwrite",
            extra=extra,
        )
    fsops.delete(spark, _staged_path(table, stage_id))
    return v


def discard_staged(
    spark: SparkSession, table: str, stage_id: str
) -> dict:
    """Drop a stage without publishing. The entry disappears
    immediately (auditors see it gone); the landed data files become
    never-referenced residue that :func:`vacuum_snapshot_table`
    reclaims after its age gate. Returns the discarded entry."""
    e = _staged_entry(spark, table, stage_id)
    fsops.delete(spark, _staged_path(table, stage_id))
    return e


# above this total size the accumulated delete-key files are NOT
# force-broadcast — AQE picks the join strategy (ADVICE r12: a
# billion-row delete set forced through F.broadcast blows the
# driver/executor broadcast limits long before "key-sized" stops
# being true)
BROADCAST_DELETES_MAX_BYTES = 64 << 20


def _delete_keys_df(
    spark: SparkSession, table: str, names: Sequence[str]
) -> DataFrame:
    """Distinct key rows of the given delete files, broadcast-hinted
    only while their total on-disk size stays small."""
    root = table.rstrip("/")
    del_df = spark.read.parquet(
        *[f"{root}/{n}" for n in names]
    ).distinct()
    total = 0
    for n in names:
        nbytes = fsops.size(spark, f"{root}/{n}")
        if nbytes is None:
            return del_df  # unknown size: let AQE decide
        total += nbytes
    if total <= BROADCAST_DELETES_MAX_BYTES:
        return F.broadcast(del_df)
    return del_df


def _scan_entries(
    spark: SparkSession,
    table: str,
    entries: Sequence[tuple],
    del_keys: dict,
    merge_schema: bool | None,
) -> DataFrame | None:
    """Explicit-path scan of ``(sign, file, anti_deletes,
    semi_deletes)`` entries (:func:`snapmeta.plan`'s shape; ``sign``
    None adds no ``_cdc_sign`` column), each delete set joined on its
    own key columns (``del_keys``, :func:`snapmeta.delete_keys`): ONE
    scan per distinct (sign, anti-set, semi-set) with one anti-join
    over the union of its anti deletes, the scans of one (sign,
    semi-set) unioned under ONE semi-join, and each distinct delete
    set's key frame built once — never a per-delete-file join chain.
    Under sequence scoping the anti-sets of one version are nested
    suffixes of its seq-ordered delete list, so a side of the plan is
    at most ``#delete-commits + 1`` branches. None when there are no
    entries."""
    root = table.rstrip("/")
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    key_frames: dict = {}

    def restrict(df: DataFrame, dels: tuple, how: str) -> DataFrame:
        if not dels:
            return df
        if dels not in key_frames:
            key_frames[dels] = _delete_keys_df(spark, table, dels)
        # a USING join moves its keys to the front; keep the scan's
        # order (names quoted: a column name may hold a dot)
        order = [F.col("`" + c.replace("`", "``") + "`") for c in df.columns]
        return df.join(key_frames[dels], del_keys[dels[0]], how).select(
            *order
        )

    def union(a: DataFrame | None, b: DataFrame) -> DataFrame:
        return b if a is None else a.unionByName(b, allowMissingColumns=True)

    groups: dict = {}
    for sign, name, anti, semi in entries:
        groups.setdefault((sign, tuple(semi)), {}).setdefault(
            tuple(anti), []
        ).append(name)
    out = None
    for (sign, semi), by_anti in groups.items():
        df = None
        for anti, names in by_anti.items():
            df = union(df, restrict(
                reader.parquet(*[f"{root}/{n}" for n in sorted(names)]),
                anti, "left_anti",
            ))
        df = restrict(df, semi, "left_semi")
        if sign is not None:
            df = df.withColumn("_cdc_sign", F.lit(sign))
        out = union(out, df)
    return out


def _scan_with_deletes(
    spark: SparkSession,
    table: str,
    meta: dict,
    names: Sequence[str],
) -> DataFrame:
    """Explicit-path scan of ``names`` with the version's equality
    deletes applied at ICEBERG V2 SEQUENCE SCOPE
    (:func:`snapmeta.delete_scope`): a delete file with sequence s
    anti-joins only rows of data files whose add-sequence is STRICTLY
    LOWER than s. A row appended AFTER a delete of its key is
    therefore immune to that delete — the standard
    delete-then-reinsert correction pattern works (ADVICE r12: the
    flat anti-join silently vanished such rows). A version without
    deletes is one plain scan."""
    scope = snapmeta.delete_scope(
        meta, sorted(set(names)), _manifest_reader(spark, table)
    )
    # most-deleted group first: files in add-sequence order
    entries = sorted(
        ((None, n, dels, ()) for n, dels in scope.items()),
        key=lambda e: -len(e[2]),
    )
    return _scan_entries(
        spark, table, entries, snapmeta.delete_keys(meta),
        meta.get("mixed_schemas"),
    )


def optimize_snapshot(
    spark: SparkSession,
    table: str,
    n_files: int,
    zorder_by: Sequence[str] = (),
    stats_cols: Sequence[str] = (),
) -> int:
    """Rewrite the LATEST version's content into ``n_files`` (optionally
    z-order-clustered) files and commit the rewrite as a NEW version
    whose rows are identical — Iceberg's rewrite_data_files / Delta
    OPTIMIZE for snapshot tables. Small-file accumulation is the tax
    of frequent appends (every streaming micro-batch lands its own
    files); this folds them without breaking time travel: the new
    version lists ONLY the rewritten files, prior versions keep
    reading the superseded ones until :func:`expire_snapshots`
    reclaims them, and a crash anywhere before the version claim
    leaves every reader untouched (the orphaned rewrite files are
    unreferenced-landing residue, reclaimable as vacuum).

    ``zorder_by``: integer columns to interleave (``layout.zorder_key``)
    — the rewrite then range-partitions and sorts by the z-key, so the
    per-file min/max envelopes tighten on every listed dimension and a
    stats manifest rebuilt after the optimize prunes multi-dimension
    lookups (the layout family's skipping reports quantify it).

    Concurrency: the commit attempt checks that its parent is still
    the version the rewrite read, and refuses with a "concurrent
    commit" error instead of publishing a version that silently drops
    a concurrent append's rows (a partition-attributed table composes
    with commits to partitions the rewrite did not touch, under
    :func:`commit_partition_snapshot`'s conflict audit). Returns the
    committed version."""
    if n_files < 1:
        raise ValueError("n_files must be >= 1")
    versions = list_snapshots(spark, table)
    if not versions:
        raise FileNotFoundError(f"{table} has no snapshots to optimize")
    src_v = versions[-1]
    src_meta = read_snapshot_meta(spark, table, src_v)
    df = read_snapshot(spark, table, src_v)
    pcols = src_meta.get("part_cols")
    if pcols is not None:
        # PARTITION-ATTRIBUTED table: compact per partition, keeping
        # the attribution (a flat rewrite would strand the lineage —
        # later partition commits refuse unattributed files). Hashing
        # the partition columns into n_files tasks lands each
        # partition's rows in one task, so the rewrite compacts to
        # ~one file per partition; n_files bounds the parallelism.
        out = df.repartition(int(n_files), *pcols)
        if zorder_by:
            from cmsspark_spark.operators.layout import zorder_key

            out = zorder_key(out, *zorder_by).sortWithinPartitions(
                "_zkey"
            ).drop("_zkey")
        # distribute=False: the rewrite just hash/z-order-shaped `out`
        # itself; a second repartition would undo the clustering
        by_part = _write_attributed(
            out, table, part_cols=pcols, distribute=False
        )
        return commit_partition_snapshot(
            spark, table, pcols, by_part, mode="overwrite",
            expected_parent=src_v,
            extra={
                "schema": df.schema.jsonValue(),
                "optimized_from": src_v,
                "op": f"optimize:{src_v}",
            },
        )
    if zorder_by:
        from cmsspark_spark.operators.layout import zorder_key

        out = (
            zorder_key(df, *zorder_by)
            .repartitionByRange(int(n_files), "_zkey")
            .sortWithinPartitions("_zkey")
            .drop("_zkey")
        )
    else:
        out = df.repartition(int(n_files))
    new_files = _write_attributed(out, table)
    # the rewrite homogenizes: record the (possibly merged) schema the
    # rewrite actually wrote and do NOT carry a mixed_schemas flag
    extra = {
        "schema": df.schema.jsonValue(),
        "optimized_from": src_v,
    }
    if stats_cols:
        # post-optimize is where skipping stats pay: few files, and a
        # z-ordered rewrite gives them tight disjoint ranges
        extra["file_stats"] = _compute_file_stats(
            spark, table,
            [p.rsplit("/", 1)[-1] for p in new_files],
            list(stats_cols),
        )
    return commit_snapshot(
        spark, table, new_files, op=f"optimize:{src_v}", extra=extra,
        expected_parent=src_v,
    )


def read_snapshot(
    spark: SparkSession,
    table: str,
    version: int | str | None = None,
    partitions: dict | None = None,
    as_of=None,
    where_between: tuple | None = None,
) -> DataFrame:
    """DataFrame over exactly one snapshot's files (latest when
    ``version`` is None) — an explicit-path parquet scan, so Spark
    lists and reads nothing the version does not own. Filters and
    column pruning push into the scan as usual. A version whose live
    files span an APPEND-TIME SCHEMA CHANGE (commit marked
    ``mixed_schemas`` by snapshot_write) plans with parquet schema
    merging: pre-evolution rows surface added columns as null;
    homogeneous versions skip the merge (no extra footer pass).

    ``partitions`` (partition-attributed tables only) prunes the plan
    to the requested partition values via the commit's manifest-part
    pointers — METADATA-only pruning, so a one-day read of a
    years-long table never lists or stats the other days' files.

    ``version`` also takes a NAMED REF (:func:`snapshot_tag`): a
    string resolves through the tag — the stable handle consumers
    hold instead of a raw number. ``as_of`` (exclusive with
    ``version``) resolves TIMESTAMP AS OF via :func:`version_as_of`.

    ``where_between=(col, lo, hi)`` is a STATS-PRUNED range read:
    files whose recorded min/max (``stats_cols`` at write/OPTIMIZE
    time) cannot intersect [lo, hi] are dropped from the plan before
    any data I/O, and the row-level filter is applied on top so the
    result is exactly the range regardless of which files carried
    stats — a file without stats is scanned, never skipped (less
    pruning, never a wrong answer). Bounds are inclusive; pass
    ``None`` for an open end."""
    if as_of is not None:
        if version is not None:
            raise ValueError("pass version or as_of, not both")
        version = version_as_of(spark, table, as_of)
    versions = list_snapshots(spark, table)
    if not versions:
        raise FileNotFoundError(f"{table} has no snapshots")
    if isinstance(version, str):
        tags = snapshot_tags(spark, table)
        if version not in tags:
            raise FileNotFoundError(f"no tag {version!r} on {table}")
        version = tags[version]
    v = versions[-1] if version is None else version
    meta = read_snapshot_meta(spark, table, v)
    if partitions is not None:
        live = _prune_partition_files(spark, table, meta, partitions)
    else:
        live = snapshot_files(spark, table, meta=meta)
    if where_between is not None:
        col, lo, hi = where_between
        fstats = meta.get("file_stats") or {}

        def _may_hit(name: str) -> bool:
            ent = fstats.get(name)
            if not ent or col not in ent:
                return True  # no stats: must scan
            fmin, fmax = ent[col]
            if fmin is None or fmax is None:
                return True  # all-null or unknown: must scan
            if lo is not None and fmax < lo:
                return False
            if hi is not None and fmin > hi:
                return False
            return True

        live = [n for n in live if _may_hit(n)]
    out = None
    if not live:
        # the schema recorded AT COMMIT TIME, not the directory's
        # current footers — an old empty version must not inherit a
        # newer version's drifted schema (and a first-write-empty
        # table has no footers to infer from at all)
        if "schema" in meta:
            out = local_frame(
                spark, [], StructType.fromJson(meta["schema"])
            )
        else:
            out = local_frame(
                spark, [], spark.read.parquet(table).schema
            )
    else:
        out = _scan_with_deletes(spark, table, meta, live)
    if where_between is not None:
        col, lo, hi = where_between
        if lo is not None:
            out = out.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            out = out.filter(F.col(col) <= F.lit(hi))
    return out


def _commit_ms(
    spark: SparkSession, table: str, version: int, meta: dict | None = None
) -> float:
    """Wall-clock commit time of one version: the recorded
    ``committed_ms``, falling back to the version FILE's modification
    time for pre-stamp commits (the claim rename's time — same
    ordering, coarser clock)."""
    if meta is None:
        meta = read_snapshot_meta(spark, table, version)
    ms = meta.get("committed_ms")
    if ms is not None:
        return float(ms)
    name = snapmeta.version_name(version)
    for n, _d, _s, mtime_ms in fsops.listdir(spark, _snap_dir(table)):
        if n == name:
            return float(mtime_ms)
    raise FileNotFoundError(
        f"snapshot v{version} of {table} does not exist or was expired"
    )


def version_as_of(
    spark: SparkSession, table: str, ts
) -> int:
    """TIMESTAMP AS OF resolution: the last version committed at or
    before ``ts`` — epoch seconds/millis (numeric) or an ISO-8601
    string (naive = UTC). Commits stamp ``committed_ms`` inside the
    claim loop; a pre-stamp version (older table) falls back to its
    version file's modification time, which is the claim rename's
    time — same ordering, coarser clock. Raises when the table has no
    version that old (expired history must fail loudly, never
    silently resolve to the oldest survivor — that would silently
    read data the caller's timestamp predates)."""
    import datetime as _dt

    if isinstance(ts, str):
        d = _dt.datetime.fromisoformat(ts)
        if d.tzinfo is None:
            d = d.replace(tzinfo=_dt.timezone.utc)
        ts_ms = d.timestamp() * 1000.0
    else:
        ts_ms = float(ts)
        if ts_ms < 10_000_000_000:  # epoch seconds, not millis
            ts_ms *= 1000.0
    versions = list_snapshots(spark, table)
    if not versions:
        raise FileNotFoundError(f"{table} has no snapshots")
    best = None
    for v in versions:
        if _commit_ms(spark, table, v) <= ts_ms:
            best = v
        else:
            break  # committed_ms is monotone along the version chain
    if best is None:
        raise FileNotFoundError(
            f"{table} has no version as of {ts!r} — the earliest "
            "retained commit is newer (history expired?)"
        )
    return best


def rollback_snapshot(spark: SparkSession, table: str, version: int) -> int:
    """Restore a past version by committing a NEW snapshot with that
    version's file list (op='rollback') — history stays append-only,
    the bad versions remain auditable, and expiry rules apply
    uniformly. Carries the source version's recorded schema forward so
    an empty rollback target stays readable. A manifest-mode target's
    POINTERS are reused (manifests are immutable — expire keeps any
    manifest a retained version references), so rolling back a
    million-file table writes O(1) metadata. Returns the new version
    number."""
    meta = read_snapshot_meta(spark, table, version)
    # touched_parts is deliberately NOT carried: a rollback may change
    # any partition, so concurrent partition overwrites planned before
    # it must fail their disjointness audit, not compose over it
    extra = {
        k: meta[k]
        for k in (
            "schema", "mixed_schemas", "delete_files", "delete_key_cols",
            "delete_seqs", "file_seqs", "manifest_seqs",
            "part_cols", "manifest_parts", "manifest_sizes",
        )
        if k in meta
    } or None
    if "manifests" in meta:
        return commit_snapshot(
            spark, table, op=f"rollback:{version}", extra=extra,
            manifests=meta["manifests"],
        )
    return commit_snapshot(
        spark, table, meta["files"], op=f"rollback:{version}", extra=extra
    )


def snapshot_history(spark: SparkSession, table: str) -> DataFrame:
    """(version, op, parent, n_files, committed_ms) per committed
    snapshot — the audit view (committed_ms null for pre-stamp
    commits)."""
    rows = [
        (
            m["version"],
            m["op"],
            m.get("parent"),
            m["n_files"],
            m.get("committed_ms"),
        )
        for m in (
            read_snapshot_meta(spark, table, v)
            for v in list_snapshots(spark, table)
        )
    ]
    return local_frame(
        spark,
        rows,
        "version int, op string, parent int, n_files int, "
        "committed_ms long",
    )


def rewrite_manifests(
    spark: SparkSession,
    table: str,
    chunk: int | None = None,
) -> int | None:
    """METADATA compaction (Iceberg's rewrite_manifests): after N
    appends a manifest-mode version carries ~N pointer chunks and
    every read resolves all of them — this folds the live list into
    ~``ceil(live/chunk)`` fresh chunks and commits a version with
    IDENTICAL content (no data file moves, no data reads; cost ∝
    metadata). Add-sequences survive (chunks group by seq, exactly
    like the inline→manifest conversion) so equality-delete scoping
    is untouched; delete state, schema, and the mixed flag carry
    over. Partition-attributed tables fold per partition (pointer
    attribution preserved; partitions already at one chunk are
    reused, not rewritten). Returns the new version, or None when the
    table is inline-mode or already fully folded (no commit made —
    rewriting nothing would only grow history). Like OPTIMIZE, the
    commit refuses with a "concurrent commit" error when a version
    lands after the one it folded."""
    versions = list_snapshots(spark, table)
    if not versions:
        raise FileNotFoundError(f"{table} has no snapshots")
    src_v = versions[-1]
    meta = read_snapshot_meta(spark, table, src_v)
    if "manifests" not in meta:
        return None
    threshold = (
        MANIFEST_INLINE_MAX if chunk is None else max(1, int(chunk))
    )
    # the fold keeps every live file, so it inherits the whole lineage
    extra = snapmeta.inherit(table, meta, part_cols=meta.get("part_cols"))
    if meta.get("part_cols"):
        # fold within each partition; single-chunk partitions reuse
        # their pointer untouched
        by_part: dict = {}
        for m in meta["manifests"]:
            pk = (meta.get("manifest_parts") or {}).get(m)
            by_part.setdefault(pk, []).append(m)
        if all(len(ms) <= 1 for ms in by_part.values()):
            return None
        written: list = []
        for pk in sorted(by_part, key=str):
            ms = by_part[pk]
            if len(ms) == 1:
                n = (meta.get("manifest_sizes") or {}).get(ms[0])
                if n is None:
                    n = len(_read_manifest_file(spark, table, ms[0]))
                written.append((ms[0], pk, n))
                continue
            listed = _read_manifest_files(spark, table, ms).values()
            written += _write_manifests(
                spark, table, [(pk, {n for ns in listed for n in ns})],
                threshold,
            )
        extra["manifest_parts"] = {m: pk for m, pk, _ in written}
        extra["manifest_sizes"] = {m: n for m, _, n in written}
        extra["touched_parts"] = sorted(
            pk for pk, ms in by_part.items() if len(ms) > 1
        )
        return commit_snapshot(
            spark, table, op="rewrite-manifests",
            manifests=[m for m, _, _ in written], extra=extra,
            expected_parent=src_v,
        )
    groups = _seq_groups(
        snapmeta.add_seqs(meta, _manifest_reader(spark, table))
    )
    n_new = sum(-(-len(grp) // threshold) for _, grp in groups)
    if n_new >= len(meta["manifests"]):
        return None  # already as folded as the seq grouping allows
    written = _write_manifests(spark, table, groups, threshold)
    mseqs = {m: s for m, s, _ in written if s}
    if mseqs:
        extra["manifest_seqs"] = mseqs
    return commit_snapshot(
        spark, table, op="rewrite-manifests",
        manifests=[m for m, _, _ in written], extra=extra,
        expected_parent=src_v,
    )


def maintain_table(
    spark: SparkSession,
    table: str,
    target_files: int = 64,
    max_small_files: int = 256,
    max_delete_files: int = 8,
    max_manifests: int = 64,
    keep_last: int | None = None,
    vacuum_min_age_s: int | None = None,
    dry_run: bool = True,
) -> dict:
    """ONE maintenance entry point for a snapshot table — the policy
    runner a scheduler calls nightly instead of hand-sequencing four
    ops. In order, each gated by a threshold and skipped when below
    it:

    1. OPTIMIZE (:func:`optimize_snapshot` → ``target_files``) when
       live files exceed ``max_small_files`` OR accumulated
       equality-delete files exceed ``max_delete_files`` (read cost
       grows with both: small files in listing/open overhead, delete
       files in per-epoch anti-joins). Partition-attributed tables
       use the partition-aware path automatically.
    2. rewrite_manifests when pointer chunks exceed ``max_manifests``
       (and OPTIMIZE didn't already rewrite the metadata).
    3. expire_snapshots with ``keep_last`` (None = skip) — tagged
       versions stay pinned, as always.
    4. vacuum_snapshot_table with ``vacuum_min_age_s`` (None = skip)
       for never-referenced residue.

    ``dry_run=True`` (default) only REPORTS what each step would do —
    the same contract as expire/vacuum, extended to the whole policy.
    Ordering rationale: folding data first makes the later steps see
    the compacted state (expire can then retire the pre-fold
    versions; vacuum sweeps what the fold superseded once expired).
    Returns a report dict with one entry per step (``skipped`` with
    the reason, or the step's own result)."""
    report: dict = {}
    versions = list_snapshots(spark, table)
    if not versions:
        raise FileNotFoundError(f"{table} has no snapshots")
    meta = read_snapshot_meta(spark, table, versions[-1])
    n_files = int(meta.get("n_files", 0))
    n_dels = len(meta.get("delete_files", []))
    if n_files > max_small_files or n_dels > max_delete_files:
        why = (
            f"{n_files} live files > {max_small_files}"
            if n_files > max_small_files
            else f"{n_dels} delete files > {max_delete_files}"
        )
        if dry_run:
            report["optimize"] = {"would_run": True, "reason": why}
        else:
            v = optimize_snapshot(spark, table, int(target_files))
            report["optimize"] = {"version": v, "reason": why}
            meta = read_snapshot_meta(spark, table, v)
    else:
        report["optimize"] = {
            "skipped": f"{n_files} files / {n_dels} delete files "
            "within thresholds"
        }
    n_manifests = len(meta.get("manifests", []) or [])
    if n_manifests > max_manifests:
        if dry_run:
            report["rewrite_manifests"] = {
                "would_run": True,
                "reason": f"{n_manifests} manifests > {max_manifests}",
            }
        else:
            v = rewrite_manifests(spark, table)
            report["rewrite_manifests"] = {"version": v}
    else:
        report["rewrite_manifests"] = {
            "skipped": f"{n_manifests} manifests within threshold"
        }
    if keep_last is not None:
        report["expire"] = expire_snapshots(
            spark, table, keep_last=keep_last, dry_run=dry_run
        )
    else:
        report["expire"] = {"skipped": "no keep_last policy"}
    if vacuum_min_age_s is not None:
        report["vacuum"] = vacuum_snapshot_table(
            spark, table, min_age_s=vacuum_min_age_s, dry_run=dry_run
        )
    else:
        report["vacuum"] = {"skipped": "no vacuum policy"}
    return report


def _ref_path(table: str, name: str) -> str:
    return _snap_dir(table) + f"/refs/{name}.json"


def _check_ref_name(name: str) -> None:
    if not name or not all(
        c.isalnum() or c in "._-" for c in name
    ):
        raise ValueError(
            f"ref name {name!r} must be non-empty [A-Za-z0-9._-]"
        )


def snapshot_tag(
    spark: SparkSession,
    table: str,
    name: str,
    version: int | None = None,
    replace: bool = False,
) -> int:
    """Create a NAMED REF (the Iceberg tag shape) pointing at a
    version (latest when None). Tags do two jobs: a stable handle —
    ``read_snapshot(spark, table, "baseline-2026-08")`` — and a
    RETENTION PIN: :func:`expire_snapshots` never expires a tagged
    version, so "keep the monthly baselines, expire everything else"
    is one policy instead of a hand-maintained keep-list. Tag moves
    are refused unless ``replace=True`` (a silently moved tag breaks
    every consumer that resolved it). Returns the tagged version."""
    _check_ref_name(name)
    versions = list_snapshots(spark, table)
    if not versions:
        raise FileNotFoundError(f"{table} has no snapshots")
    if version is None:
        version = versions[-1]
    if version not in set(versions):
        raise FileNotFoundError(
            f"cannot tag v{version} of {table}: not in the version log"
        )
    if not replace and fsops.read_json_meta(
        spark, _ref_path(table, name)
    ) is not None:
        raise FileExistsError(
            f"tag {name!r} already exists on {table} — pass "
            "replace=True to move it"
        )
    fsops.write_json_meta(
        spark, _ref_path(table, name),
        {"name": name, "version": int(version)},
    )
    return int(version)


def snapshot_tags(spark: SparkSession, table: str) -> dict:
    """All named refs: ``{name: version}`` (metadata listing only)."""
    out: dict = {}
    d = _snap_dir(table) + "/refs"
    for fname, _d, _s, _m in fsops.listdir(spark, d):
        if fname.endswith(".json"):
            e = fsops.read_json_meta(spark, f"{d}/{fname}")
            if e is not None:
                out[e["name"]] = int(e["version"])
    return out


def snapshot_untag(spark: SparkSession, table: str, name: str) -> int:
    """Delete a named ref; the version it pinned becomes expirable
    again. Returns that version. Unknown tags fail loudly."""
    _check_ref_name(name)
    e = fsops.read_json_meta(spark, _ref_path(table, name))
    if e is None:
        raise FileNotFoundError(f"no tag {name!r} on {table}")
    fsops.delete(spark, _ref_path(table, name))
    return int(e["version"])


def expire_snapshots(
    spark: SparkSession,
    table: str,
    keep_last: int | None = None,
    dry_run: bool = True,
    orphan_min_age_s: int = 86400,
    keep_newer_than_s: float | None = None,
) -> dict:
    """Retire old versions and delete the data files that NO retained
    version references — the time-travel-safe VACUUM. Retention is
    the UNION of the given policies: ``keep_last`` keeps the newest K
    versions, ``keep_newer_than_s`` keeps every version committed
    within the age window (via the commit's ``committed_ms`` stamp,
    mtime fallback), tags always pin, and the latest version always
    survives. A file shared by an expired and a retained version
    survives (live sets are unions, exactly Iceberg's
    expire_snapshots contract). Dry-run by default. Returns
    ``{"expired_versions": [...], "deleted_files": [...],
    "kept_versions": [...]}``.

    ORPHAN manifests are reclaimed too: an ``m-*.json`` referenced by
    NO version at all (a commit that crashed after writing its
    manifest but before claiming a version, or a lost-race retry's
    chunks) would otherwise leak forever — it is deleted once older
    than ``orphan_min_age_s`` (the age gate keeps a CONCURRENT
    in-flight commit's just-written manifest safe, same grace as
    data-file vacuum). Crashed version-claim temporaries
    (``_tmp.*`` in the snapshot dir) get the same age-gated sweep, as
    do the ``<name>.tmp.<uuid>`` files a crashed tag or stage-entry
    replace leaves under ``refs/`` and ``staged/`` (``orphan_temps``;
    a tag whose own name contains ``.tmp.`` is not one).

    Concurrency: expire must not run alongside commits that can
    reference expiring files (a rollback past the retention window, or
    any commit replaying an expired version's list) — the retained set
    is computed from a snapshot of the version log, so such a commit
    could reference files mid-deletion. A destructive run re-lists the
    version log after planning and ABORTS if a new version appeared;
    that narrows the window to the deletion itself but does not close
    it — schedule expire in a maintenance slot without concurrent
    rollbacks, as Iceberg's expire_snapshots requires."""
    if keep_last is None and keep_newer_than_s is None:
        raise ValueError(
            "pass a retention policy: keep_last (count) and/or "
            "keep_newer_than_s (age)"
        )
    if keep_last is not None and keep_last <= 0:
        raise ValueError("keep_last must be positive")
    versions = list_snapshots(spark, table)
    # TAGGED versions are pinned: a named ref (snapshot_tag) holds its
    # version — and therefore its files — through any retention policy
    # until untagged, the Iceberg tag contract that makes "keep the
    # monthly baselines, expire the rest" safe to automate.
    pinned = {
        v for v in snapshot_tags(spark, table).values()
        if v in set(versions)
    }
    # policies COMPOSE as unions of keeps (Iceberg's retain-last +
    # expire-older-than shape): count keeps the newest K, age keeps
    # everything committed within the window, tags pin, and the
    # LATEST version always survives (a table must stay readable).
    kept_set = set(versions[-keep_last:]) if keep_last else set()
    kept_set |= pinned | ({versions[-1]} if versions else set())
    if keep_newer_than_s is not None:
        cutoff = _time.time() * 1000.0 - float(keep_newer_than_s) * 1000.0
        for v in versions:
            if _commit_ms(spark, table, v) >= cutoff:
                kept_set.add(v)
    kept = [v for v in versions if v in kept_set]
    expired = [v for v in versions if v not in kept_set]
    retained_files: set[str] = set()
    retained_manifests: set[str] = set()
    for v in kept:
        m = read_snapshot_meta(spark, table, v)
        retained_files.update(snapshot_files(spark, table, meta=m))
        retained_files.update(m.get("delete_files", []))
        retained_manifests.update(m.get("manifests", []))
    doomed_files: set[str] = set()
    doomed_manifests: set[str] = set()
    for v in expired:
        m = read_snapshot_meta(spark, table, v)
        doomed_files.update(
            f
            for f in m.get("delete_files", [])
            if f not in retained_files
        )
        doomed_files.update(
            f
            for f in snapshot_files(spark, table, meta=m)
            if f not in retained_files
        )
        doomed_manifests.update(
            mf for mf in m.get("manifests", [])
            if mf not in retained_manifests
        )
        retained_manifests.update(m.get("manifests", []))
    # manifests referenced by NO version (crashed or lost-race commit
    # attempts) + crashed claim temporaries, age-gated; and the
    # temporaries a crashed tag or stage-entry replace leaves
    snapdir = _snap_dir(table)
    orphan_manifests = fsops.aged(
        spark, snapdir, orphan_min_age_s,
        lambda n: n.startswith("_tmp.") or (
            n.startswith("m-") and n.endswith(".json")
            and n not in retained_manifests
        ),
    )
    orphan_temps = [
        f"{sub}/{n}"
        for sub in ("refs", "staged")
        for n in fsops.aged(
            spark, f"{snapdir}/{sub}", orphan_min_age_s,
            fsops.is_replace_temp,
        )
    ]
    out = {
        "kept_versions": kept,
        "expired_versions": expired,
        "deleted_files": sorted(doomed_files),
        "deleted_manifests": sorted(doomed_manifests),
        "orphan_manifests": orphan_manifests,
        "orphan_temps": orphan_temps,
    }
    if not dry_run:
        if list_snapshots(spark, table) != versions:
            raise RuntimeError(
                f"concurrent commit detected on {table} while planning "
                "expire — a new version may reference files scheduled "
                "for deletion; re-run expire in a quiet window"
            )
        pinned_now = {
            v for v in snapshot_tags(spark, table).values()
            if v in set(versions)
        }
        if not pinned_now <= kept_set:
            raise RuntimeError(
                f"a tag was created on {table} while planning expire "
                "and pins a version scheduled for deletion; re-run"
            )
        # versions go FIRST: a crash part-way must never leave a listed
        # version whose files are gone (it would read as a scan error,
        # not as expired); files and manifests a crash leaves behind
        # are unreferenced residue for vacuum and the orphan sweep
        root = table.rstrip("/")
        for v in expired:
            fsops.delete(spark, f"{snapdir}/{snapmeta.version_name(v)}")
        for n in sorted(doomed_files):
            fsops.delete(spark, f"{root}/{n}")
        for n in sorted(doomed_manifests) + orphan_manifests + orphan_temps:
            fsops.delete(spark, f"{snapdir}/{n}")
    return out


def vacuum_snapshot_table(
    spark: SparkSession,
    table: str,
    min_age_s: int = 3600,
    dry_run: bool = True,
) -> dict:
    """Reclaim NEVER-REFERENCED data files under a snapshot table — the
    residue the version log cannot see and expire_snapshots therefore
    never deletes: a writer that crashed between landing its files and
    claiming a version, a partition overwrite aborted by the conflict
    audit, an optimize whose concurrency re-check refused to publish.
    Such files cost storage and listing time forever; no reader ever
    plans them.

    A file is reclaimed iff (a) its name matches the snapshot write
    prefixes (``snap-*`` / ``snapdel-*`` — foreign files are never
    touched), (b) NO committed version references it (union over the
    whole retained version log, manifests resolved), and (c) it is
    older than ``min_age_s`` — the age gate keeps a CONCURRENT
    in-flight commit's just-landed, not-yet-claimed files safe.
    Aged ``_staging/`` leftovers get the same sweep. Dry-run by
    default; returns ``{"unreferenced": [...], "staging": [...]}``.

    Concurrency: like expire, run in a maintenance slot — the
    referenced set is computed from a snapshot of the version log, and
    a destructive run re-lists it after planning and ABORTS if a new
    version appeared."""
    versions = list_snapshots(spark, table)
    referenced: set = set()
    for v in versions:
        m = read_snapshot_meta(spark, table, v)
        referenced.update(snapshot_files(spark, table, meta=m))
        referenced.update(m.get("delete_files", []))
    # a PENDING stage (write-audit-publish) references its files even
    # though no version does yet — vacuum must never eat a stage that
    # is awaiting audit; DISCARDED stages lose the entry and their
    # files age into ordinary reclaimable residue
    for e in list_staged(spark, table):
        referenced.update(e.get("files", []))
    root = table.rstrip("/")
    out = {
        "unreferenced": fsops.aged(
            spark, root, min_age_s,
            lambda n: n.startswith(("snap-", "snapdel-"))
            and n not in referenced,
        ),
        "staging": fsops.aged(spark, f"{root}/_staging", min_age_s),
    }
    if not dry_run:
        if list_snapshots(spark, table) != versions:
            raise RuntimeError(
                f"concurrent commit detected on {table} while planning "
                "vacuum — a new version may reference files scheduled "
                "for deletion; re-run in a quiet window"
            )
        for n in out["unreferenced"]:
            fsops.delete(spark, f"{root}/{n}")
        for n in out["staging"]:
            fsops.delete(spark, f"{root}/_staging/{n}", recursive=True)
    return out


def snapshot_changes(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """CDC-lite for append-mostly tables: the rows ADDED between two
    snapshots, read as an explicit-path scan of exactly the files
    present in ``to_version`` but not in ``from_version`` — the
    incremental-training read ("docs ingested since snapshot N")
    without any diff compute: file identity IS the change log because
    data files are immutable. Note the contract: a file carried by
    both versions contributes nothing even if an overwrite version
    between them dropped and re-added it; rows REMOVED by an
    overwrite are not reported (pair with read_snapshot diffs when a
    removal audit is needed — removal is the rare path for curated
    corpora)."""
    to_version, entries, _, to_meta = _cdc_entries(
        spark, table, from_version, to_version
    )
    # rows in added files that the TO version's equality deletes kill
    # were never live at `to` — the plan already scopes them out
    added = [
        (None, n, anti, ()) for sign, n, anti, semi in entries
        if sign > 0 and not semi
    ]
    if not added:
        return read_snapshot(spark, table, to_version).limit(0)
    return _scan_entries(
        spark, table, added, snapmeta.delete_keys(to_meta),
        to_meta.get("mixed_schemas"),
    )


def replay_ledger(
    spark: SparkSession, table: str, key: str = "batch_id"
) -> dict:
    """``{id: version}`` of the commits that recorded ``key`` — a
    streaming sink's ``batch_id`` or a WAP publish's ``stage_id`` —
    the ledger an exactly-once writer consults before committing
    again (driver-side metadata only)."""
    out: dict = {}
    for v in list_snapshots(spark, table):
        i = read_snapshot_meta(spark, table, v).get(key)
        if i is not None:
            out[str(i)] = v
    return out


def committed_batch_ids(spark: SparkSession, table: str) -> set[str]:
    """Batch ids recorded by the snapshot sinks' commits."""
    return set(replay_ledger(spark, table))


def _exactly_once(table: str, apply: Callable[[DataFrame, dict], None]):
    """The foreachBatch wrapper under every snapshot sink.
    ``apply(batch_df, extra)`` lands one micro-batch as ONE commit
    carrying ``extra`` (the batch id), so the version log is the
    replay ledger: a batch id already in it is skipped, and the
    version history is exactly-once even though foreachBatch delivers
    at least once (a restart between the data write and the checkpoint
    commit replays the batch). Readers pinned to any version never see
    a torn batch: the data files land before the version file that
    references them, and an unreferenced landing from a crashed
    attempt is invisible to every snapshot (expire/vacuum residue).

    The ledger is read once per closure (the first batch after a start
    or restart) and kept in memory after that, so a micro-batch does
    not re-parse every version file. One streaming query owns the
    table, as it owns its checkpoint."""
    state: dict = {"ids": None}

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if state["ids"] is None:
            state["ids"] = committed_batch_ids(batch_df.sparkSession, table)
        bid = str(batch_id)
        if bid not in state["ids"]:
            apply(batch_df, {"batch_id": bid})
            state["ids"].add(bid)

    return _sink


def snapshot_sink(table: str):
    """foreachBatch sink that lands each micro-batch as a SNAPSHOT
    APPEND, exactly once (:func:`_exactly_once`).

    Use: ``df.writeStream.foreachBatch(snapshot_sink(path)).start()``.
    """

    def _apply(batch_df: DataFrame, extra: dict) -> None:
        commit_snapshot(
            batch_df.sparkSession,
            table,
            op="stream-append",
            extra={**extra, "schema": batch_df.schema.jsonValue()},
            append_files=_write_attributed(batch_df, table),
        )

    return _exactly_once(table, _apply)


def snapshot_upsert_sink(
    table: str,
    key_cols: Sequence[str],
    order_col: str | None = None,
):
    """foreachBatch sink landing each micro-batch as a keyed UPSERT
    (:func:`snapshot_upsert`) — the streaming CDC-apply pattern: an
    update stream keyed by primary key materializes into a snapshot
    table whose live view is always "latest row per key", with full
    time travel across batches. When a batch can carry several updates
    of one key, ``order_col`` names the column that decides the winner
    (a source sequence number / event time — ``max_by`` per key; Spark
    gives no meaningful cross-partition arrival order inside a batch,
    so the order MUST come from the data). Without ``order_col`` the
    batch is required to be key-unique and duplicate keys fail loudly
    (:func:`snapshot_upsert`'s check) rather than resolving
    nondeterministically. Exactly-once (:func:`_exactly_once`): the
    epoch id rides in the upsert's commit, so a replay can never
    double-apply a batch's deletes onto its own re-inserted rows.

    Use: ``df.writeStream.foreachBatch(
    snapshot_upsert_sink(path, ["k"], order_col="seq")).start()``."""
    key_cols = list(key_cols)

    def _apply(batch_df: DataFrame, extra: dict) -> None:
        latest = batch_df
        if order_col is not None:
            val_cols = [c for c in batch_df.columns if c not in key_cols]
            latest = (
                batch_df.groupBy(*key_cols)
                .agg(
                    *[
                        F.expr(
                            f"max_by(`{c}`, `{order_col}`)"
                        ).alias(c)
                        for c in val_cols
                    ]
                )
                .select(*batch_df.columns)
            )
        snapshot_apply_changes(
            batch_df.sparkSession, table, key_cols, upserts=latest,
            extra=extra, op="upsert",
        )

    return _exactly_once(table, _apply)


def snapshot_replicate_sink(table: str, key_cols: Sequence[str]):
    """foreachBatch sink that APPLIES a change-data feed to a replica
    table — the full CDC-replication loop when paired with the
    ``snapshot_cdc`` source (sources/snapcdc.py): stream table A's
    commits, land each micro-batch's NET effect on table B as one
    atomic :func:`snapshot_apply_changes` commit, and B's live view
    tracks A's exactly (with B keeping its own independent history /
    time travel). Net effect per key over the batch's signed rows:
    the key's changes at its highest ``_cdc_version`` decide — a +1
    row there is the key's new image (upsert), only −1 there means
    the key died (delete); earlier versions inside the same batch are
    superseded, so a key updated five times in one batch lands once.

    Exactly-once (:func:`_exactly_once`), and because upsert+delete
    land in ONE commit there is no torn middle state for a crash to
    expose. Requires a keyed feed (the upstream table's delete/upsert
    key discipline); ties inside one source version (a key with
    several +1 rows in one upstream commit, i.e. allow_duplicate_keys
    upstream) replicate them all.

    Use: ``spark.readStream.format("snapshot_cdc").option("path", A)
    .load().writeStream.foreachBatch(
    snapshot_replicate_sink(B, ["k"])).start()``."""
    key_cols = list(key_cols)

    def _apply(batch_df: DataFrame, extra: dict) -> None:
        vmax = batch_df.groupBy(*key_cols).agg(
            F.max("_cdc_version").alias("_vmax")
        )
        last = batch_df.join(vmax, key_cols).filter(
            F.col("_cdc_version") == F.col("_vmax")
        )
        data_cols = [
            c for c in batch_df.columns
            if c not in ("_cdc_sign", "_cdc_version")
        ]
        # the batch is consumed several times (upserts, net-dead keys,
        # key staging) — pin the superseded-filtered view once
        last = pin_frame(last)
        ups = last.filter(F.col("_cdc_sign") > 0).select(*data_cols)
        dead = (
            last.groupBy(*key_cols)
            .agg(F.max("_cdc_sign").alias("_smax"))
            .filter(F.col("_smax") < 0)
            .select(*key_cols)
        )
        if not ups.limit(1).count() and not dead.limit(1).count():
            return  # nothing net; skipping is replay-idempotent
        snapshot_apply_changes(
            batch_df.sparkSession, table, key_cols,
            upserts=ups, delete_keys=dead,
            allow_duplicate_keys=True,
            extra=extra,
            op="replicate",
        )

    return _exactly_once(table, _apply)


def snapshot_partition_sink(
    table: str, part_cols: Sequence[str], mode: str = "append"
):
    """foreachBatch sink landing each micro-batch as a PARTITION-GRAIN
    snapshot commit — the streaming form of the reference's daily
    ingest: records stream in, each batch's files attribute to the
    partitions its rows belong to, and a later backfill/correction of
    one day (``snapshot_write_partitions(..., mode='overwrite')``)
    replaces exactly that day with the streaming history intact.

    ``mode='append'`` (default) adds to the touched partitions —
    append commits commute, so the sink coexists with concurrent
    batch overwrites of OTHER partitions (the conflict audit is
    mode-aware). ``mode='overwrite'`` replaces each batch's
    partitions — only correct when a batch carries a partition's full
    refreshed content (e.g. re-emitting whole days). Exactly-once
    (:func:`_exactly_once`).

    Use: ``df.writeStream.foreachBatch(
    snapshot_partition_sink(path, ["day"])).start()``."""
    part_cols = list(part_cols)

    def _apply(batch_df: DataFrame, extra: dict) -> None:
        commit_partition_snapshot(
            batch_df.sparkSession,
            table,
            part_cols,
            _write_attributed(batch_df, table, part_cols=part_cols),
            mode=mode,
            extra={**extra, "schema": batch_df.schema.jsonValue()},
        )

    return _exactly_once(table, _apply)


def snapshot_cdc(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Signed row-level CDC between two snapshot versions, derived at
    FILE grain: because data files are immutable, the content delta
    between versions is exactly (rows of files only in ``to``) as
    inserts (+1) and (rows of files only in ``from``) as deletes
    (-1) — a key rewritten between versions appears as its old row
    with -1 and its new row with +1, which is precisely the algebra a
    summable downstream aggregate needs. Cost ∝ CHANGED FILES: an
    append's CDC reads only the appended files, a rollback's only the
    rolled-off files — never the table. Output: the table's columns
    plus ``_cdc_sign`` (+1 | -1).

    EQUALITY DELETES compose exactly: each side's file-grain frame is
    filtered by ITS OWN version's delete set (a row dead at ``from``
    never emits -1; a row added-then-deleted never emits +1), and the
    delete-set DELTA over files common to both versions adds the
    missing rows — keys newly deleted emit their ``from``-live rows as
    -1, keys un-deleted (a rollback past the delete) emit them back as
    +1. Cost stays ∝ changed files + changed keys."""
    to_version, entries, from_meta, to_meta = _cdc_entries(
        spark, table, from_version, to_version
    )
    out = _scan_entries(
        spark, table, entries, snapmeta.delete_keys(from_meta, to_meta),
        to_meta.get("mixed_schemas") or from_meta.get("mixed_schemas"),
    )
    if out is None:
        return read_snapshot(spark, table, to_version).withColumn(
            "_cdc_sign", F.lit(1)
        ).limit(0)
    return out


def _cdc_entries(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None,
) -> tuple:
    """``(to_version, plan, from_meta, to_meta)``: the
    :func:`snapmeta.plan` between two versions (latest when
    ``to_version`` is None)."""
    if to_version is None:
        versions = list_snapshots(spark, table)
        if not versions:
            raise FileNotFoundError(f"{table} has no snapshots")
        to_version = versions[-1]
    from_meta = read_snapshot_meta(spark, table, from_version)
    to_meta = read_snapshot_meta(spark, table, to_version)
    entries = snapmeta.plan(
        from_meta, to_meta, _manifest_reader(spark, table)
    )
    return to_version, entries, from_meta, to_meta


def snapshot_cdc_plan(
    spark: SparkSession, table: str, from_version: int, to_version: int
) -> list:
    """The file-grain :func:`snapmeta.plan` between two versions —
    metadata only, no data file is opened."""
    return _cdc_entries(spark, table, from_version, to_version)[1]


def _agg_meta_path(state_path: str) -> str:
    return state_path.rstrip("/") + "/_agg_meta.json"


def _read_agg_meta(spark: SparkSession, state_path: str) -> dict | None:
    return fsops.read_json_meta(spark, _agg_meta_path(state_path))


def _write_agg_meta(
    spark: SparkSession, state_path: str, meta: dict
) -> None:
    fsops.write_json_meta(spark, _agg_meta_path(state_path), meta)


def maintain_snapshot_agg(
    spark: SparkSession,
    table: str,
    state_path: str,
    group_cols: Sequence[str],
    sum_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    sumsq_cols: Sequence[str] = (),
    to_version: int | None = None,
) -> DataFrame:
    """CDC-maintained groupBy materialization (VERDICT r10 item 8):
    keep ``group_cols → (n_rows, sum_<c>...)`` of a snapshot table
    current WITHOUT full recompute. The first call materializes from
    the pinned version; every later call reads only
    :func:`snapshot_cdc` between the state's recorded version and the
    target (adds count +1 / removes -1 per key; sums fold the signed
    measure), merges the delta into the stored groups, drops groups
    whose row count reaches zero, and advances the recorded version.
    Refresh cost ∝ changed files + group count, never table size.

    Exactness: counts and integer-typed sums are maintained exactly
    (the signed fold is the inverse-element argument — a group's
    adds and removes cancel term-for-term). Float sums would
    accumulate reassociation error across refreshes; pass integer
    measures (cast cents, micro-units) for hash-stable maintenance,
    the same integer-grid discipline the engine uses everywhere.

    MIN/MAX (``min_cols``/``max_cols``, VERDICT r11 item 3): unlike
    sums, extrema have no inverse element, so the maintenance splits
    by CDC shape. A refresh whose CDC is APPEND-ONLY (no -1 rows)
    merges exactly — ``least(stored_min, delta_min)`` /
    ``greatest(stored_max, delta_max)`` per group, still delta-sized.
    A refresh that REMOVES rows recomputes ONLY the groups the
    removals touch (one target-version scan semi-joined to the
    CDC-sized affected-group set — group-predicate pushdown applies);
    untouched groups and groups only appended-to keep the fast merge.
    Removal is the rare path for curated corpora, so the common
    refresh stays ∝ changed files.

    ``sumsq_cols`` maintains Σv² per group (``sumsq_<c>``) by the same
    signed fold as sums — squares have an inverse element too, so the
    second moment is exact through removals at delta cost, and
    variance/stddev derive downstream as (Σv² − (Σv)²/n)/n with no
    extra state. Integer measures keep it on the exact grid; the
    accumulator is DECIMAL(38,0), because Σv² breaches int64 at
    corpus scale long before Σv does.

    Single-writer per state_path (like every maintained state here).
    CRASH-CONSISTENT: each refresh writes the merged groups to a NEW
    versioned data dir (``data_v<target>``), then flips the meta to
    point at it, then deletes the superseded dir — a crash anywhere
    leaves the meta pointing at a complete (state, version) pair, so
    the next refresh re-derives the SAME delta instead of re-applying
    an already-folded one (which would silently double counts).
    The meta also pins the source table; refreshing a state_path
    against a different table fails loudly instead of folding
    wrong-table CDC, and a refresh whose aggregate SPEC no longer
    matches the stored state's columns is refused (rebuild the state).
    Returns the refreshed materialization."""
    group_cols = list(group_cols)
    sum_cols = list(sum_cols)
    min_cols = list(min_cols)
    max_cols = list(max_cols)
    sumsq_cols = list(sumsq_cols)
    versions = list_snapshots(spark, table)
    if not versions:
        raise FileNotFoundError(f"{table} has no snapshots")
    target = versions[-1] if to_version is None else to_version

    def _minmax_aggs() -> list:
        return [
            *[F.min(c).alias(f"min_{c}") for c in min_cols],
            *[F.max(c).alias(f"max_{c}") for c in max_cols],
        ]

    def _aggregate(df: DataFrame, sign_col=None) -> DataFrame:
        """Full aggregate of raw rows (sign_col only for pure-CDC
        folds, where min/max must NOT be computed — a -1 row's value
        is not a group minimum)."""
        sign = F.col(sign_col) if sign_col else F.lit(1)
        aggs = [F.sum(sign).cast("long").alias("n_rows")]
        for c in sum_cols:
            aggs.append(
                F.sum(F.col(c) * sign).cast("long").alias(f"sum_{c}")
            )
        for c in sumsq_cols:
            # DECIMAL(38,0) accumulator: Σv² of integer measures
            # overflows int64 at corpus scale (v~5e7 squares to ~3e15;
            # a few thousand rows per group already breach 9.2e18).
            # The FIRST operand is cast to decimal BEFORE the multiply
            # so the per-row square itself is computed on the decimal
            # grid — a measure with |v| > ~3.04e9 would otherwise wrap
            # silently in int64 (non-ANSI) before any cast saw it.
            aggs.append(
                F.sum(
                    F.col(c).cast("decimal(38,0)") * F.col(c) * sign
                )
                .cast("decimal(38,0)")
                .alias(f"sumsq_{c}")
            )
        if sign_col is None:
            aggs.extend(_minmax_aggs())
        return df.groupBy(*group_cols).agg(*aggs)

    def _merge_aggs() -> list:
        """Fold stored state rows with delta partials: sums add,
        extrema take min-of-mins / max-of-maxes (exact for appends)."""
        return [
            F.sum("n_rows").cast("long").alias("n_rows"),
            *[
                F.sum(f"sum_{c}").cast("long").alias(f"sum_{c}")
                for c in sum_cols
            ],
            *[
                F.sum(f"sumsq_{c}")
                .cast("decimal(38,0)")
                .alias(f"sumsq_{c}")
                for c in sumsq_cols
            ],
            *[F.min(f"min_{c}").alias(f"min_{c}") for c in min_cols],
            *[F.max(f"max_{c}").alias(f"max_{c}") for c in max_cols],
        ]

    root = state_path.rstrip("/")

    def _commit_state(out: DataFrame, old_data: str | None) -> DataFrame:
        data_rel = f"data_v{target:08d}"
        out.write.mode("overwrite").parquet(f"{root}/{data_rel}")
        _write_agg_meta(
            spark,
            state_path,
            {
                "version": target,
                "table": table.rstrip("/"),
                "data": data_rel,
            },
        )
        if old_data is not None and old_data != data_rel:
            fsops.delete(spark, f"{root}/{old_data}", recursive=True)
        # meta temps a crashed replace left beside the meta, age-gated
        for n in fsops.aged(
            spark, root, fsops.REPLACE_TEMP_MIN_AGE_S,
            lambda n: fsops.is_replace_temp(n, "_agg_meta.json"),
        ):
            fsops.delete(spark, f"{root}/{n}")
        return spark.read.parquet(f"{root}/{data_rel}")

    meta = _read_agg_meta(spark, state_path)
    if meta is None:
        return _commit_state(
            _aggregate(read_snapshot(spark, table, target)), None
        )
    if (meta.get("table") or table).rstrip("/") != table.rstrip("/"):
        raise ValueError(
            f"{state_path} was materialized from {meta['table']!r}, "
            f"refusing to refresh it against {table!r} — wrong-table "
            "CDC would silently corrupt the aggregate"
        )
    last = int(meta["version"])
    data_rel = meta.get("data", "data")
    state = spark.read.parquet(f"{root}/{data_rel}")
    expected = set(group_cols) | {"n_rows"}
    expected |= {f"sum_{c}" for c in sum_cols}
    expected |= {f"sumsq_{c}" for c in sumsq_cols}
    expected |= {f"min_{c}" for c in min_cols}
    expected |= {f"max_{c}" for c in max_cols}
    if set(state.columns) != expected:
        raise ValueError(
            f"{state_path} holds columns {sorted(state.columns)} but "
            f"this refresh specifies {sorted(expected)} — the aggregate "
            "spec changed; rebuild the state (delete the state dir)"
        )
    if last == target:
        return state
    cdc = snapshot_cdc(spark, table, last, target)
    if not (min_cols or max_cols):
        # sums/counts: pure signed fold, no raw-row reads beyond CDC
        delta = _aggregate(cdc, sign_col="_cdc_sign")
        merged = (
            state.unionByName(delta)
            .groupBy(*group_cols)
            .agg(*_merge_aggs())
            .filter(F.col("n_rows") != 0)
        )
        # no checkpoint needed: the merge reads the OLD data dir and
        # _commit_state writes a NEW one — disjoint paths, no cycle
        return _commit_state(merged, data_rel)
    adds = cdc.filter(F.col("_cdc_sign") == 1).drop("_cdc_sign")
    affected = (
        cdc.filter(F.col("_cdc_sign") == -1)
        .select(*group_cols)
        .distinct()
        .transform(pin_frame)  # reused thrice; pin it
    )
    if not affected.head(1):
        # append-only CDC: extrema merge exactly (min-of-mins)
        merged = (
            state.unionByName(_aggregate(adds))
            .groupBy(*group_cols)
            .agg(*_merge_aggs())
            .filter(F.col("n_rows") != 0)
        )
        return _commit_state(merged, data_rel)
    # removals present: groups they touch lose min/max invertibility —
    # recompute exactly those from the target version (the scan's
    # group predicate is the CDC-sized affected set, broadcast);
    # every other group keeps the fast merge
    clean = (
        state.join(F.broadcast(affected), group_cols, "left_anti")
        .unionByName(
            _aggregate(
                adds.join(F.broadcast(affected), group_cols, "left_anti")
            )
        )
        .groupBy(*group_cols)
        .agg(*_merge_aggs())
        .filter(F.col("n_rows") != 0)
    )
    recomputed = _aggregate(
        read_snapshot(spark, table, target).join(
            F.broadcast(affected), group_cols, "left_semi"
        )
    )
    return _commit_state(clean.unionByName(recomputed), data_rel)


def snapshot_version_diff(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
    key_cols: Sequence[str] = ("doc_id",),
    value_cols: Sequence[str] = ("text",),
) -> DataFrame:
    """CONTENT-grain diff between two snapshot versions: one row per
    key added, removed, or changed (null-safe value compare) — the
    corpus-iteration audit ("what did this cleaning-config change?")
    that :func:`snapshot_changes`'s file-grain adds-only view cannot
    answer after an overwrite. Composes the version reads with
    ``incremental.snapshot_diff`` (one full-outer join on the key;
    unchanged keys drop out, so the result is diff-sized)."""
    from cmsspark_spark.operators.incremental import snapshot_diff

    old = read_snapshot(spark, table, from_version)
    new = read_snapshot(spark, table, to_version)
    return snapshot_diff(old, new, list(key_cols), list(value_cols))


# ---------------------------------------------------------------------------
# Partition-grain commits (the reference's daily dynamic-partition
# overwrite — dbs_hdfs_eos.py:55-62 overwrites one day's HDFS output in
# place; here each day is a PARTITION of one snapshot table, replaced
# atomically with full history).
# ---------------------------------------------------------------------------


def _pk_key(values: Sequence[str]) -> str:
    """Canonical JSON partition key — the unescaped partition values in
    ``part_cols`` order, stringified. Used as the manifest_parts value
    and for conflict/pruning comparisons."""
    return json.dumps([None if v is None else str(v) for v in values])


def commit_partition_snapshot(
    spark: SparkSession,
    table: str,
    part_cols: Sequence[str],
    files_by_part: dict,
    mode: str = "overwrite",
    expected_parent: int | None = None,
    extra: dict | None = None,
    claim: Callable[[str, str], bool] | None = None,
) -> int:
    """Commit partition-attributed files: ``overwrite`` atomically
    REPLACES exactly the partitions present in ``files_by_part`` (the
    dynamic-partition-overwrite contract), ``append`` adds to them.

    Partition-attributed tables always store MANIFEST POINTERS, one
    manifest per (commit × partition), with ``manifest_parts`` mapping
    each pointer to its partition key — so replacing a partition is
    pointer surgery in O(#manifests) metadata, never a file-list
    rewrite, and a read pruned to one partition opens one manifest of
    a million-file table.

    CONCURRENCY: the version claim serializes metadata, but writers to
    DISJOINT partitions compose — a loser re-reads the real parent
    inside the retry loop and re-applies its pointer surgery on top of
    the winner's commit. ``expected_parent`` (the version the caller
    planned against) arms the CONFLICT AUDIT: an overwrite that finds
    an intervening commit touching one of ITS partitions — or any
    intervening commit that cannot prove which partitions it touched
    (rollback, non-partition writes) — fails loudly instead of
    publishing a lost update. Appends never conflict (they commute).

    Lineage rules (:func:`snapmeta.inherit`), enforced loudly on every
    attempt against the parent the claim lands on: ``part_cols`` pins
    at the first partition commit; a table with unattributed live
    files refuses partition commits; a table carrying equality-delete
    state refuses them too (fold the deletes with
    :func:`optimize_snapshot` first — partition overwrite IS the delete
    mechanism at this grain). The schema in ``extra`` sets
    ``mixed_schemas`` as for a flat append while any parent file
    stays live."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    part_cols = list(part_cols)
    mine = set(files_by_part)
    new_manifests: list = []  # loop-invariant, written once

    def build(v: int, versions: list) -> dict:
        pmeta = (
            read_snapshot_meta(spark, table, versions[-1])
            if versions
            else {}
        )
        lineage = snapmeta.inherit(
            table, pmeta, (extra or {}).get("schema"), part_cols=part_cols
        )
        if expected_parent is not None:
            for iv in versions:
                if iv <= expected_parent:
                    continue
                im = read_snapshot_meta(spark, table, iv)
                touched = im.get("touched_parts")
                if touched is None:
                    raise RuntimeError(
                        f"commit v{iv} landed on {table} after this "
                        f"write was planned (v{expected_parent}) and "
                        "does not declare touched partitions — cannot "
                        "prove disjointness; re-plan against the new "
                        "state"
                    )
                if mode == "overwrite" and mine & set(touched):
                    raise RuntimeError(
                        f"partition conflict on {table}: commit v{iv} "
                        f"touched {sorted(mine & set(touched))} after "
                        f"this overwrite was planned (v{expected_parent})"
                        " — publishing would lose its update; re-plan"
                    )
        mparts = dict(pmeta.get("manifest_parts") or {})
        msizes = dict(pmeta.get("manifest_sizes") or {})
        keep = []
        for m in pmeta.get("manifests", []):
            if mode == "overwrite" and mparts.get(m) in mine:
                mparts.pop(m, None)
                msizes.pop(m, None)
            else:
                keep.append(m)
        if not new_manifests:
            new_manifests.extend(_write_manifests(
                spark, table, sorted(files_by_part.items())
            ))
        for m, pk, n in new_manifests:
            mparts[m] = pk
            msizes[m] = n
        if not keep:
            # every parent file is replaced: one homogeneous schema
            lineage.pop("mixed_schemas", None)
        meta = {
            "version": v,
            "op": f"part-{mode}",
            "parent": versions[-1] if versions else None,
            "manifests": keep + [m for m, _, _ in new_manifests],
            "manifest_parts": mparts,
            "manifest_sizes": msizes,
            "n_files": sum(msizes.values()),
            "touched_parts": sorted(mine),
            "committed_ms": int(_time.time() * 1000),
            **lineage,
        }
        meta.update(extra or {})
        return meta

    return _commit(spark, table, build, claim)


def snapshot_write_partitions(
    df: DataFrame,
    table: str,
    part_cols: Sequence[str],
    mode: str = "overwrite",
    expected_parent: int | None = None,
) -> int:
    """Write ``df`` as a PARTITION-GRAIN snapshot commit: ``overwrite``
    replaces exactly the partitions ``df`` contains (the reference's
    daily job pattern — re-running a day replaces that day and nothing
    else, atomically, with every prior version still readable),
    ``append`` adds files to them. Writers to disjoint partition sets
    run concurrently; see :func:`commit_partition_snapshot` for the
    compose/conflict rules. Returns the committed version."""
    spark = df.sparkSession
    versions = _refuse_early(spark, table, part_cols=part_cols)
    if expected_parent is None:
        expected_parent = versions[-1] if versions else 0
    files_by_part = _write_attributed(df, table, part_cols=part_cols)
    return commit_partition_snapshot(
        spark,
        table,
        part_cols,
        files_by_part,
        mode=mode,
        expected_parent=expected_parent,
        extra={"schema": df.schema.jsonValue()},
    )


def snapshot_upsert_partitions(
    df: DataFrame,
    table: str,
    part_cols: Sequence[str],
    key_cols: Sequence[str],
    expected_parent: int | None = None,
    allow_duplicate_keys: bool = False,
) -> int:
    """Keyed MERGE on a PARTITION-ATTRIBUTED snapshot table — the
    copy-on-write complement of :func:`snapshot_upsert` (equality
    deletes and partition grain stay mutually exclusive by design;
    this is the merge mechanism AT that grain): the touched
    partitions' current content is anti-joined on ``key_cols``,
    unioned with ``df``, and committed as ONE partition-overwrite —
    existing keys replaced, new keys inserted, untouched partitions'
    manifests reused by pointer (commit cost ∝ touched partitions).

    Copy-on-write is the right economics here: day-grain corrections
    rewrite one day, not the table, and reads stay join-free (no
    delete files to anti-join — the trade the two grains make).

    CONTRACT: a row's key must determine its partition (the standard
    partitioned-upsert contract). A key that MOVED partition between
    the old row and ``df``'s row is only replaced when BOTH partitions
    are touched by this batch; an old row in an untouched partition
    survives — enforced as far as cheaply possible (the anti-join
    covers all touched partitions, not just the row's own).
    ``expected_parent`` pins the version the merge was planned
    against: the read and the commit use it, so a concurrent commit
    to an overlapping partition fails the conflict audit loudly
    instead of losing the update (disjoint writers compose).
    Duplicate keys in ``df`` refuse as in :func:`snapshot_upsert`."""
    part_cols = list(part_cols)
    key_cols = list(key_cols)
    spark = df.sparkSession
    missing = [c for c in part_cols + key_cols if c not in df.columns]
    if missing:
        raise ValueError(f"upsert df lacks columns {missing}")
    versions = list_snapshots(spark, table)
    if not versions:
        # first write: a pure insert at partition grain
        return snapshot_write_partitions(
            df, table, part_cols, mode="overwrite",
        )
    if expected_parent is None:
        expected_parent = versions[-1]
    # the planning read: the merge reads the touched partitions as of
    # this version, and the lineage rules refuse before anything lands
    pmeta = read_snapshot_meta(spark, table, expected_parent)
    snapmeta.inherit(table, pmeta, part_cols=part_cols)
    # touched partition values: k-row collect (#partitions, never
    # rows) — overlapped with the dup-check as concurrent jobs (both
    # are batch-sized; nothing is written until both return)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_dup = (
            pool.submit(_refuse_duplicate_keys, df, key_cols)
            if not allow_duplicate_keys
            else None
        )
        touched = df.select(*part_cols).distinct().collect()
        if fut_dup is not None:
            fut_dup.result()
    existing = set((pmeta.get("manifest_parts") or {}).values())
    touched_known = [
        r for r in touched
        if _pk_key([r[c] for c in part_cols]) in existing
    ]
    merged = df
    if touched_known:
        if len(part_cols) == 1:
            sel = {part_cols[0]: [r[part_cols[0]] for r in touched_known]}
            current = read_snapshot(
                spark, table, expected_parent, partitions=sel
            )
        else:
            # multi-column grain: metadata pruning takes per-column
            # value lists (a cartesian superset); cut it to the exact
            # touched combos with a broadcast semi-join so identical
            # content is never rewritten
            sel = {
                c: sorted({r[c] for r in touched_known})
                for c in part_cols
            }
            current = read_snapshot(
                spark, table, expected_parent, partitions=sel
            )
            combos = local_frame(
                spark,
                [tuple(r[c] for c in part_cols) for r in touched_known],
                current.select(*part_cols).schema,
            )
            current = current.join(
                F.broadcast(combos), part_cols, "left_semi"
            )
        # plain anti-join: AQE broadcasts a small batch's key set by
        # itself, and a huge batch must not be forced through one
        survivors = current.join(
            df.select(*key_cols).distinct(), key_cols, "left_anti"
        )
        merged = survivors.unionByName(df)
    return snapshot_write_partitions(
        merged, table, part_cols, mode="overwrite",
        expected_parent=expected_parent,
    )


def snapshot_partitions(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """Audit view of one version's partitions: one row per partition
    with its file count — resolved from commit metadata only (no data
    file is opened)."""
    if version is None:
        versions = list_snapshots(spark, table)
        if not versions:
            raise FileNotFoundError(f"{table} has no snapshots")
        version = versions[-1]
    meta = read_snapshot_meta(spark, table, version)
    pcols = meta.get("part_cols")
    if pcols is None:
        raise ValueError(f"{table} v{version} is not partition-attributed")
    agg: dict = {}
    for m, pk in (meta.get("manifest_parts") or {}).items():
        agg[pk] = agg.get(pk, 0) + int(
            (meta.get("manifest_sizes") or {}).get(m, 0)
        )
    rows = [tuple(json.loads(pk)) + (n,) for pk, n in sorted(agg.items())]
    schema = ", ".join(f"`{c}` string" for c in pcols) + ", n_files int"
    return local_frame(spark, rows, schema)


class PartitionRange:
    """Inclusive [lo, hi] bound for partition-pruned reads — pass as a
    value in ``read_snapshot(partitions={...})`` to select a RANGE of
    partition values (the reference's ``day between`` pattern) from
    commit metadata alone. Bounds compare numerically when both sides
    parse as integers, else as strings (ISO dates order correctly);
    either bound may be None (open end). A null partition never
    matches a range."""

    def __init__(self, lo=None, hi=None):
        self.lo = None if lo is None else str(lo)
        self.hi = None if hi is None else str(hi)

    def matches(self, v) -> bool:
        if v is None:
            return False

        def _cmp_le(a: str, b: str) -> bool:
            try:
                return int(a) <= int(b)
            except ValueError:
                return a <= b

        if self.lo is not None and not _cmp_le(self.lo, v):
            return False
        if self.hi is not None and not _cmp_le(v, self.hi):
            return False
        return True


def _prune_partition_files(
    spark: SparkSession, table: str, meta: dict, partitions: dict
) -> list:
    """Resolve the live files of ONLY the requested partitions —
    manifest-pointer pruning, so a one-day read of a years-long table
    opens one manifest. ``partitions`` maps partition column → value,
    list of values, or :class:`PartitionRange` (compared as strings;
    None matches a null partition)."""
    pcols = meta.get("part_cols")
    if pcols is None:
        raise ValueError(
            "partition-pruned read on a table without partition "
            "attribution — write it with snapshot_write_partitions"
        )
    unknown = set(partitions) - set(pcols)
    if unknown:
        raise ValueError(
            f"unknown partition column(s) {sorted(unknown)}; "
            f"table partitions on {pcols}"
        )
    wanted = {}
    for c, vs in partitions.items():
        if isinstance(vs, PartitionRange):
            wanted[c] = vs.matches
            continue
        if not isinstance(vs, (list, tuple, set)):
            vs = [vs]
        allowed = {None if x is None else str(x) for x in vs}
        wanted[c] = allowed.__contains__
    names: set = set()
    for m, pk in (meta.get("manifest_parts") or {}).items():
        vals = dict(zip(pcols, json.loads(pk)))
        if all(match(vals[c]) for c, match in wanted.items()):
            names.update(
                _read_manifest_file(spark, table, m)
            )
    return sorted(names)
