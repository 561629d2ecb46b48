"""Incrementally-maintained BM25 serving state (VERDICT r10 item 2).

The in-session BM25 rungs (operators/pipeline.py: exact, champion,
max-score, block-max) rebuild postings + term stats + champion seeds
per session — memoized, but an appended corpus increment re-pays the
FULL corpus build. This module gives retrieval the same write-time
append discipline the stats/Bloom manifests already have
(layout.append_with_manifest): a persisted index whose append cost is
proportional to the increment, serving results hash-identical to a
full rebuild.

The trick is choosing state that is a MONOID under disjoint-doc-set
union, so an append writes only increment-derived partial rows and
never reads (let alone rewrites) existing state:

- ``postings/``  (doc, t, tf, dl): plain parquet append — postings of
  distinct docs are disjoint rows.
- ``termstats/`` (t, df_delta, max_tf, min_dl): per-commit partials;
  the serve-time merge is sum/max/min per term — each exact under
  union. Only the increment's terms get new rows ("recompute only
  affected terms' bounds": the bound inputs for untouched terms are
  untouched rows).
- ``champions/`` (t, doc, tf, dl): the increment's per-term top-c by
  (tf desc, doc asc). Top-c by a FIXED comparator is itself a monoid
  (top-c of a union == top-c of the per-part top-c's), so the
  serve-time re-cut over partials equals a full-corpus champion cut.
  The comparator is deliberately avgdl-FREE — tf-part order within a
  term at fixed dl is tf order, and a dl-aware order would change as
  avgdl drifts across appends, breaking the monoid. Champions are a
  candidate SEED, not a correctness surface: the max-score serve
  stays exact with any seed set (θ from exact seed scores is a lower
  bound on the true k-th score by subset-ness).
- ``globals/``   (n_docs, sum_dl): one row per commit. The commit
  record carries the same two scalars, and a serve sums the records
  on the driver (it reads the table only for parts written before
  records carried ``sum_dl``). n_docs counts EVERY increment row
  (zero-token docs score nothing but belong in N, exactly like the
  in-session rung); sum_dl sums per-doc token lengths from the
  increment's postings.

Serve-time bounds (max-score): per-term ub = floor(idf ·
tf_part(max_tf, min_dl) · 1e6) + 1 micro-units. tf_part is increasing
in tf and decreasing in dl, so evaluating it at (max over docs of tf,
min over docs of dl) dominates every real posting of the term even
though that (tf, dl) pair may co-occur in no document — admissible by
construction, under the CURRENT avgdl (a global scalar read at serve
time; bounds are recomputed from the merged per-term stats in one
vocabulary-sized pass, never from postings).

Scale: an append tokenizes only the increment, through the postings
step both stacks share (bm25.postings_state); serve reads postings
with the doc/term predicates pushed to parquet; scoring, θ, the
essential split, block survival and rank run through the kernel the
in-session rungs use (operators/bm25.py: query terms, df table and
candidate ids broadcast; text never shuffles — text is never even
stored in the index).

DURABILITY (VERDICT r11 item 2): every append is ONE ATOMIC COMMIT —
all tables staged under ``_staging/<uuid>/`` and published by a single
directory rename into ``commits/c-<seq>-<uuid>/``; readers merge the
compacted ``base/v<N>/`` with the commits past it (pre-v2 flat-table
indexes read as an implicit base until first compaction). A crash
mid-append leaves an invisible orphan, never a partial increment;
an interrupted snapshot consume RESUMES off its commit's tag.
``compact_bm25_index`` folds base + commits (applying tombstones)
into a new versioned base published by one atomic meta flip;
``vacuum_bm25_index`` reclaims superseded dirs.

Each commit records the schema of every table it writes in its
``_commit.json`` (the base's ride in the compaction's meta flip), as
Spark reads the table back, next to its (n_docs, sum_dl). A serve
lists the commits once, reads each record once, and reads every table
with its recorded schema — no schema-inference job. Parts without a
record (pre-v2 flat dirs, older commits) are inferred as before.

No reference twin: the reference has no retrieval serving state; this
is the train-once/serve-increment rung for the beyond-reference BM25
family (same discipline as the k-means/census/manifest state).
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession, Window

from cmsspark_spark import fsops
from cmsspark_spark.functions.text import tokens
from cmsspark_spark.operators import bm25, snapmeta
from cmsspark_spark.operators.memo import pin_frame
from cmsspark_spark.session import local_frame


# ---------------------------------------------------------------------------
# transactional commit layout (VERDICT r11 item 2)
#
# Every append lands as ONE atomic unit: all tables of the increment
# are staged under <index>/_staging/<uuid>/ and made visible by a
# single directory rename into <index>/commits/c-<seq>-<uuid>/ —
# a crash anywhere during staging leaves an invisible orphan (never a
# half-applied increment), a crash after the rename leaves a COMPLETE
# commit, so retries RESUME instead of demanding a rebuild. Readers
# merge base/v<N>/ (the last compaction's fold) with every commit dir
# whose sequence is past the base; legacy flat-table indexes (pre-v2)
# read as an implicit base until their first compaction migrates them.
# ---------------------------------------------------------------------------

#: Index tables a commit may carry (tombstones only when deleting;
#: positions only on positional indexes — phrase retrieval).
_INDEX_TABLES = (
    "postings", "termstats", "blockstats", "champions", "globals",
    "tombstones", "positions",
)


def _commits_dir(index_dir: str) -> str:
    return index_dir.rstrip("/") + "/commits"


def _staging_root(index_dir: str) -> str:
    return index_dir.rstrip("/") + "/_staging"


def _list_commit_dirs(
    spark: SparkSession, index_dir: str
) -> list[tuple[int, str]]:
    """(seq, path) of committed increment dirs, ascending seq. One
    driver-side listing, O(commits since last compaction)."""
    root = _commits_dir(index_dir)
    out: list[tuple[int, str]] = []
    for name, _d, _s, _m in fsops.listdir(spark, root):
        if not name.startswith("c-"):
            continue
        try:
            seq = int(name.split("-")[1])
        except (IndexError, ValueError):
            continue
        out.append((seq, f"{root}/{name}"))
    return sorted(out)


def _read_back_schema(frame: DataFrame) -> dict:
    """JSON form of the schema Spark reads ``frame``'s parquet write
    back with: the JVM's ``asNullable``, which file sources apply to
    every schema they read. A commit records it for each table it
    writes, so a serve reads the table without a schema-inference
    job."""
    return json.loads(frame._jdf.schema().asNullable().json())


def _write_tables(frames: dict, root: str, mode: str | None = None) -> dict:
    """Write each named frame as parquet under ``root``; returns the
    tables' read-back schemas for the commit record."""
    for name, frame in frames.items():
        w = frame.write if mode is None else frame.write.mode(mode)
        w.parquet(f"{root}/{name}")
    return {name: _read_back_schema(f) for name, f in frames.items()}


def _live_parts(
    spark: SparkSession, index_dir: str, imeta: dict | None = None
) -> list[tuple[str, dict | None]]:
    """(dir, commit record) of every live part of an index: the
    compacted base (its record is the ``base_*`` keys of
    ``_index_meta.json``: ``schemas``, ``n_docs``, ``sum_dl``) or the
    legacy flat dir (pre-v2 index, until its first compaction; no
    record), then each commit dir past the base (its ``_commit.json``).
    The base SUBSUMES the flat dir and the folded
    commits, so those are excluded the moment the meta points at a
    base — a crash between the meta flip and the best-effort deletes
    can never double-count. One commits/ listing plus one
    ``_commit.json`` read per live commit; a serve lists once and
    reads every table through the result."""
    if imeta is None:
        imeta = (
            fsops.read_json_meta(spark, f"{index_dir}/_index_meta.json")
            or {}
        )
    root = index_dir.rstrip("/")
    base_v = int(imeta.get("base_version", 0))
    base = {
        k: imeta[f"base_{k}"]
        for k in ("schemas", "n_docs", "sum_dl")
        if f"base_{k}" in imeta
    }
    parts: list[tuple[str, dict | None]] = [
        (f"{root}/base/v{base_v:08d}", base) if base_v else (root, None)
    ]
    through = int(imeta.get("base_through_seq", 0))
    for seq, cdir in _list_commit_dirs(spark, index_dir):
        if seq > through:
            parts.append(
                (cdir, fsops.read_json_meta(spark, f"{cdir}/_commit.json"))
            )
    return parts


def _table_paths(
    spark: SparkSession, parts: list, table: str
) -> list[tuple[str, dict | None]]:
    """(path, recorded schema or None) of ``table`` in every part that
    holds it. A part whose record names its tables' schemas holds
    exactly those tables; any other part is probed, and a failed
    existence probe (permissions) propagates — a serve must not mistake
    it for 'this index has no tombstones' and resurrect deleted
    documents."""
    out = []
    for d, record in parts:
        recorded = (record or {}).get("schemas")
        p = f"{d}/{table}"
        if recorded is not None:
            if table in recorded:
                out.append((p, recorded[table]))
        elif fsops.size(spark, p) is not None:
            out.append((p, None))
    return out


def index_table(
    spark: SparkSession,
    index_dir: str,
    table: str,
    parts: list | None = None,
    required: bool = True,
) -> DataFrame | None:
    """The merged read of one index table across base + live commits
    (the public seam tests and tools use instead of layout paths);
    ``parts`` is a :func:`_live_parts` result to reuse. When every part
    holding the table recorded its schema and they agree, the read
    takes that schema; otherwise (pre-v2 flat dirs, older commits)
    Spark infers it (see :func:`_table_paths`).
    ``required=False`` returns None when no part holds the table
    (tombstones/blockstats on an index that never wrote them);
    required tables raise a descriptive error instead of a bare
    path-not-found."""
    if parts is None:
        parts = _live_parts(spark, index_dir)
    found = _table_paths(spark, parts, table)
    if not found:
        if required:
            raise FileNotFoundError(
                f"{index_dir} has no {table} data — empty or unbuilt "
                "index (append an increment first)"
            )
        return None
    paths, schemas = zip(*found)
    reader = spark.read
    if schemas[0] is not None and all(x == schemas[0] for x in schemas):
        reader = reader.schema(T.StructType.fromJson(schemas[0]))
    return reader.parquet(*paths)


def _finalize_commit(
    spark: SparkSession, index_dir: str, stage_path: str
) -> str:
    """Make a staged increment visible as commits/c-<seq>-<uuid>, with
    the SEQUENCE claimed exclusively first: an empty marker file
    ``commits/s-<seq>`` is created with :func:`fsops.put_no_overwrite`
    (``O_EXCL`` on POSIX, ``create(p, false)`` on HDFS-class stores —
    the filesystem rejects a second creator), and only the claim
    winner renames its payload to the c-<seq>-… name. Object stores
    without an atomic exclusive create cannot host a multi-writer
    index (same requirement as ``snapshots.default_claim``). The
    payload rename alone could NOT claim the seq — its destination
    embeds this writer's staging uuid, so two racers renaming "the
    same seq" land under different names and both succeed (ADVICE
    r12); the marker is the uuid-free name whose collision the race
    needs. A crash between claim and rename leaves a harmless seq GAP
    (readers key on c-* dirs; sequences need monotonicity, not
    density). Until the rename nothing of the staging dir is
    readable, after it the whole commit is."""
    suffix = stage_path.rstrip("/").rsplit("/", 1)[-1]
    # sequences must stay monotone PAST vacuumed commits: after a
    # compaction folds seq ≤ base_through_seq and vacuum deletes those
    # dirs, a fresh claim restarting at 1 would be invisible to every
    # reader (excluded as already-folded) — so the floor is the meta's
    # base_through_seq, not just the surviving dirs' max
    floor_seq = int(
        (
            fsops.read_json_meta(spark, f"{index_dir}/_index_meta.json")
            or {}
        ).get("base_through_seq", 0)
    )
    for _attempt in range(20):
        commits = _list_commit_dirs(spark, index_dir)
        seq = max(commits[-1][0] if commits else 0, floor_seq) + 1
        try:
            fsops.put_no_overwrite(
                spark, f"{_commits_dir(index_dir)}/s-{seq:08d}"
            )
        except FileExistsError:
            # taken by a concurrent writer, or left as a gap by a crash
            # before its rename: either way the next claim goes past it
            floor_seq = seq
            continue
        dst = f"{_commits_dir(index_dir)}/c-{seq:08d}-{suffix}"
        # our OWN staging dir to a claimed, collision-free name: a
        # failure is filesystem trouble, not a race — it raises (the
        # marker stays; the seq becomes a gap)
        fsops.rename(spark, stage_path, dst)
        return dst
    raise RuntimeError(
        f"could not claim a commit sequence under {index_dir} after "
        f"20 attempts (concurrent-writer contention on a single-writer "
        f"index?)"
    )

#: Doc-id block width for the maintained block-max bounds
#: (``blockstats/``). Pinned per index in ``_index_meta.json`` at
#: first append and verified on every later append/serve — mixing
#: block grains across commits would group unrelated postings under
#: one bound and silently weaken (never break) pruning, so it is
#: refused outright. Doc ids must be non-negative (integer ``div``
#: blocks, same as the in-session rung).
BLOCK_SIZE = 64


def _champion_cut(rows: DataFrame, champions: int) -> DataFrame:
    """Per-term top-``champions`` rows by (tf desc, doc asc)."""
    w = Window.partitionBy("t").orderBy(F.col("tf").desc(), F.col("doc"))
    return (
        rows.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= int(champions))
        .drop("_rk")
    )


def _stat_partials(post: DataFrame, champions: int) -> dict:
    """The monoid partials of a postings frame, by table name: per-term
    and per-(term, block) (count, max_tf, min_dl), and the per-term
    top-``champions`` cut by (tf desc, doc asc) — an avgdl-free
    comparator, so the cut of a union equals the cut of the parts'
    cuts. Appends write them for the increment, compaction for the
    live corpus."""
    def bounds(*keys):
        return post.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("df_delta"),
            F.max("tf").alias("max_tf"),
            F.min("dl").alias("min_dl"),
        )

    return {
        "termstats": bounds("t"),
        "blockstats": bounds(
            "t", bm25.block_id(BLOCK_SIZE).alias("blk")
        ),
        "champions": _champion_cut(post, champions).select(
            "t", "doc", "tf", "dl"
        ),
    }


def append_bm25_index(
    increment: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    champions: int = 16,
    tombstones: DataFrame | None = None,
    commit_tag: dict | None = None,
    positions: bool = False,
) -> str:
    """Append one increment to (or create) a BM25 index directory —
    as ONE ATOMIC COMMIT (VERDICT r11 item 2).

    Writes ONLY increment-derived rows: postings, per-term and
    per-(term, block) stat partials, the increment's per-term
    champion cut, and one globals row. All of it lands in a staging
    dir first and becomes visible through a single directory rename —
    a crash at ANY instruction leaves either no trace (invisible
    staging orphan, reclaimed by compaction's vacuum) or the complete
    commit, never a partial increment. Reads nothing from
    ``index_dir`` but the O(1) ``_index_meta.json`` stamp (block-size
    pin) and one commits/ listing — append cost ∝ increment by
    construction (tested by appending beside an unreadable postings
    file). The caller must not re-append the same doc ids (same
    contract as every appendable state here: disjoint doc sets per
    commit).

    The postings and the globals row's (n_docs, sum_dl) come from the
    SHARED POSTINGS STATE, :func:`bm25.postings_state` — the session
    memo the in-session rungs read too. So an append of a corpus this
    session already tokenized (an in-session serve over the same
    frame, or the other way round) runs no second kernel pass, and a
    memoized increment stays in that memo, bounded by its LRU. An
    unmemoizable increment is tokenized once, persisted for this
    append and released when it ends.

    ``tombstones`` rides IN THE SAME COMMIT when the increment also
    deletes (the snapshot-consume removals path) — delete + append
    become one atomic unit. ``commit_tag`` is recorded in the commit's
    ``_commit.json`` so an interrupted higher-level operation (a
    snapshot consume that crashed between the rename and its pin
    advance) can recognize its own completed commit and RESUME.

    ``positions=True`` builds a POSITIONAL index: the commit also
    carries ``positions/`` ((t, doc, posns) — each term's sorted
    occurrence offsets per doc), the input of the boolean/phrase serve
    (:func:`bm25_index_boolean_serve`). Positional-ness is PINNED in
    ``_index_meta.json`` at the first append and enforced on every
    later one — an index where only some commits carry positions would
    silently miss phrase matches in the uncovered docs. Returns the
    committed directory path."""
    import uuid as _uuid

    spark = increment.sparkSession
    meta_path = f"{index_dir}/_index_meta.json"
    imeta = fsops.read_json_meta(spark, meta_path)
    if imeta is None or "block_size" not in imeta:
        # first data append (the meta may already exist carrying a
        # snapshot pin): pin the grain + positional-ness, keep other
        # fields
        fsops.write_json_meta(
            spark,
            meta_path,
            {
                **(imeta or {}),
                "block_size": BLOCK_SIZE,
                "positions": bool(positions),
            },
        )
    elif imeta.get("block_size") != BLOCK_SIZE:
        raise ValueError(
            f"{index_dir} was built with block_size="
            f"{imeta.get('block_size')}, this build uses {BLOCK_SIZE} — "
            "mixed block grains corrupt the block bounds; rebuild"
        )
    elif bool(imeta.get("positions", False)) != bool(positions):
        raise ValueError(
            f"{index_dir} is pinned to positions="
            f"{bool(imeta.get('positions', False))}, this append passes "
            f"positions={bool(positions)} — a partially-positional "
            "index would silently miss phrase matches; rebuild"
        )
    stage = f"{_staging_root(index_dir)}/{_uuid.uuid4().hex}"
    post, sum_dl, n_docs = bm25.postings_state(increment, id_col, text_col)
    # block-grain bound partials are the same (count, max_tf, min_dl)
    # monoid one level down — only blocks the increment touches get new
    # rows, and the serve-time merge per (t, blk) equals a full-corpus
    # block cut
    tables = {"postings": post, **_stat_partials(post, champions)}
    if positions:
        # one extra tokenize pass over the increment only — the
        # positional lists are per-(term, doc) sorted offsets, the
        # exact shape the phrase check's shift-and-intersect needs
        tables["positions"] = (
            increment.select(
                F.col(id_col).alias("doc"), tokens(text_col).alias("_tk")
            )
            .select("doc", F.posexplode("_tk").alias("pos", "t"))
            .groupBy("t", "doc")
            .agg(F.sort_array(F.collect_list("pos")).alias("posns"))
        )
    if tombstones is not None:
        tables["tombstones"] = tombstones.select(
            F.col(id_col).alias("doc")
        ).distinct()
    tables["globals"] = local_frame(
        spark, [(int(n_docs), int(sum_dl))], "n_docs long, sum_dl long"
    )
    try:
        schemas = _write_tables(tables, stage)
    finally:
        if post.is_cached:
            # an unmemoizable increment: its postings were persisted
            # for this append only
            post.unpersist()
    # the tag lands INSIDE the staging dir before the rename, so a
    # visible commit always carries its provenance
    fsops.write_json_meta(
        spark,
        f"{stage}/_commit.json",
        {
            "n_docs": int(n_docs),
            "sum_dl": int(sum_dl),
            "schemas": schemas,
            **({"tag": commit_tag} if commit_tag else {}),
        },
    )
    return _finalize_commit(spark, index_dir, stage)


def append_bm25_index_from_snapshot(
    spark: SparkSession,
    table: str,
    index_dir: str,
    to_version: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    champions: int = 16,
    allow_removals: bool = False,
) -> dict:
    """Consume a snapshot table's changes into the index — the pin
    discipline for retrieval (same shape as assign_splits' pinned
    state): the FIRST call indexes the target version's full content;
    every later call indexes only the rows of files ADDED since the
    index's recorded version (``snapshot_changes`` — an append-only
    corpus's natural increment, read cost ∝ changed files), then
    advances the recorded pin. A replay of an already-consumed
    version is a NO-OP (version-addressed idempotence); consuming a
    version that REMOVED files (overwrite/rollback) is refused loudly
    by default — an append-only index cannot un-index. With
    ``allow_removals=True`` the removed docs are TOMBSTONED instead
    (the CDC's -1 rows name them; serving excludes them exactly, see
    :func:`tombstone_bm25_index`) and they ride IN THE SAME COMMIT as
    the +1 rows' append — delete + append apply atomically; a version
    that removes AND re-adds the same doc id (a rewrite) is still
    refused — that is a rebuild. Returns ``{"from", "to", "noop"}``
    (plus ``"resumed": True`` when recovering a crashed attempt).

    CRASH-ATOMIC with RESUME (VERDICT r11 item 2): the whole
    increment — all five tables plus any tombstones — is staged and
    made visible by one directory rename, tagged with (table, target
    version) in its ``_commit.json``. A crash during staging leaves an
    invisible orphan and the retry simply re-runs; a crash BETWEEN the
    rename and the pin advance is recognized on retry by the tag — the
    retry just advances the pin instead of re-appending (which would
    have double-indexed) or demanding a rebuild (the old fence's only
    answer). Stale fences written by pre-v2 code are still refused
    loudly."""
    from cmsspark_spark.operators.snapshots import (
        list_snapshots,
        read_snapshot,
        snapshot_cdc_plan,
        snapshot_changes,
    )

    versions = list_snapshots(spark, table)
    if to_version is None and not versions:
        raise FileNotFoundError(f"{table} has no snapshots to consume")
    target = to_version if to_version is not None else versions[-1]
    meta_path = f"{index_dir}/_index_meta.json"
    imeta = fsops.read_json_meta(spark, meta_path) or {}
    if imeta.get("consume_in_progress"):
        raise ValueError(
            f"{index_dir} has an unfinished PRE-V2 snapshot consume "
            f"({imeta['consume_in_progress']}) — that layout's appends "
            "were not atomic, so the index may hold a partial "
            "increment; rebuild it"
        )
    pinned_table = imeta.get("snapshot_table")
    if pinned_table not in (None, table.rstrip("/")):
        raise ValueError(
            f"{index_dir} consumes snapshots of {pinned_table!r}, "
            f"refusing {table!r} — wrong-table increments would "
            "corrupt the index"
        )
    last = imeta.get("snapshot_version")
    removed_ids = None
    if last is not None and target <= last:
        return {"from": last, "to": target, "noop": True}
    # RESUME: a previous attempt may have committed this exact
    # increment (the rename succeeded) and died before advancing the
    # pin — its commit carries the (table, to) tag, so just finish
    # the bookkeeping instead of double-indexing. Checked BEFORE the
    # --docs refusal below: a FIRST consume's crashed-after-rename
    # commit is data without a pin, which must resume, not refuse.
    done = _find_consume_commit(spark, index_dir, table, target)
    if done is not None:
        imeta.update(
            snapshot_table=table.rstrip("/"),
            snapshot_version=int(target),
        )
        fsops.write_json_meta(spark, meta_path, imeta)
        return {"from": last, "to": int(target), "noop": False,
                "resumed": True}
    if last is None and (
        _list_commit_dirs(spark, index_dir)
        or int(imeta.get("base_version", 0))
        or fsops.size(spark, f"{index_dir.rstrip('/')}/postings")
        is not None
    ):
        # real indexed data with no pin = an index built via --docs
        # appends; a first consume over it would double-index the
        # overlap. (A block_size-only meta from a consume that crashed
        # BEFORE its rename does NOT trip this — nothing is visible.)
        raise ValueError(
            f"{index_dir} already holds commits appended via --docs "
            "(no recorded snapshot pin) — a first snapshot consume "
            "would double-index the overlap; rebuild the index from "
            "the snapshot instead"
        )
    if last is not None:
        # equality deletes remove CONTENT without touching the file
        # sets — a delete-only version must take the CDC path too, or
        # the pin would advance while the index keeps serving the
        # dead docs
        dropped, dels_changed = snapmeta.removals(
            snapshot_cdc_plan(spark, table, last, target)
        )
        if (dropped or dels_changed) and not allow_removals:
            raise ValueError(
                f"snapshot v{last}→v{target} of {table} REMOVES content "
                f"({dropped} files dropped"
                f"{', delete set changed' if dels_changed else ''}) — an "
                "append-only index cannot un-index; rebuild it from "
                f"v{target}, or pass allow_removals=True to TOMBSTONE "
                "the removed docs"
            )
        if dropped or dels_changed:
            from cmsspark_spark.operators.snapshots import snapshot_cdc

            cdc = snapshot_cdc(spark, table, last, target)
            removed_ids = (
                cdc.filter(F.col("_cdc_sign") == -1)
                .select(id_col)
                .distinct()
                .transform(pin_frame)
            )
            increment = cdc.filter(F.col("_cdc_sign") == 1).drop(
                "_cdc_sign"
            )
            # a REWRITTEN doc (same id removed and re-added) cannot be
            # expressed as tombstone + append: the tombstone anti-join
            # would kill the new rows too. Refuse — that is a rebuild.
            rewritten = (
                increment.select(id_col)
                .join(removed_ids, id_col, "left_semi")
                .limit(1)
                .count()
            )
            if rewritten:
                raise ValueError(
                    f"snapshot v{last}→v{target} of {table} REWRITES "
                    "doc ids it also removes — tombstone + re-append of "
                    "the same id is unsupported; rebuild the index from "
                    f"v{target}"
                )
            # same rule ACROSS consumes: a +1 row whose id the index
            # already tombstoned (a rollback reviving a consumed
            # delete) cannot re-append — the standing tombstone would
            # kill the new postings and the doc would silently vanish
            tomb = index_table(
                spark, index_dir, "tombstones", required=False
            )
            if tomb is not None:
                revived = (
                    increment.select(F.col(id_col).alias("doc"))
                    .join(
                        tomb.select("doc").distinct(), "doc", "left_semi"
                    )
                    .limit(1)
                    .count()
                )
                if revived:
                    raise ValueError(
                        f"snapshot v{last}→v{target} of {table} REVIVES "
                        "doc ids the index already tombstoned — "
                        "re-appending a tombstoned id is unsupported; "
                        f"rebuild the index from v{target} (or compact "
                        "first if the tombstones were already folded)"
                    )
        else:
            increment = snapshot_changes(spark, table, last, target)
    else:
        increment = read_snapshot(spark, table, target)
    append_bm25_index(
        increment.select(id_col, text_col), index_dir,
        id_col=id_col, text_col=text_col, champions=champions,
        tombstones=removed_ids,
        commit_tag={
            "consume": {
                "table": table.rstrip("/"),
                "from": last,
                "to": int(target),
            }
        },
    )
    imeta = fsops.read_json_meta(spark, meta_path) or {}
    imeta.update(
        snapshot_table=table.rstrip("/"), snapshot_version=int(target)
    )
    fsops.write_json_meta(spark, meta_path, imeta)
    return {"from": last, "to": int(target), "noop": False}


def _find_consume_commit(
    spark: SparkSession, index_dir: str, table: str, target: int
) -> str | None:
    """The live commit (if any) tagged as the consume of ``table`` up
    to ``target`` — how an interrupted consume recognizes that its
    increment already landed. One _commit.json read per live commit
    (bounded by compaction)."""
    for _seq, cdir in _list_commit_dirs(spark, index_dir):
        tag = (
            fsops.read_json_meta(spark, f"{cdir}/_commit.json") or {}
        ).get("tag") or {}
        c = tag.get("consume") or {}
        if c.get("table") == table.rstrip("/") and c.get("to") == int(
            target
        ):
            return cdir
    return None


def tombstone_bm25_index(
    ids: DataFrame, index_dir: str, id_col: str = "doc_id"
) -> None:
    """Mark documents DELETED without un-indexing them: the ids land
    in ``<index>/tombstones`` and every serve mode excludes them
    EXACTLY — candidates anti-join the tombstones, and N / sum_dl /
    per-term df are corrected from the dead docs' own postings (cost
    ∝ tombstones, never corpus). Pruning bounds keep using the RAW
    per-term/block extremes — a dead doc's max_tf can only loosen a
    bound, never break admissibility — so max-score/block-max serves
    stay exact over the live corpus. Contract: tombstone only ids
    that were actually appended (the snapshot-consume path guarantees
    this — removed rows come from real files); re-appending a
    tombstoned id is NOT supported (the anti-join would kill the new
    rows too) — that is a rebuild. Lands as an atomic tombstone-only
    commit; compaction DROPS the dead postings and clears the
    tombstones, folding the deletion into the base."""
    import uuid as _uuid

    spark = ids.sparkSession
    stage = f"{_staging_root(index_dir)}/{_uuid.uuid4().hex}"
    schemas = _write_tables(
        {"tombstones": ids.select(F.col(id_col).alias("doc")).distinct()},
        stage,
    )
    fsops.write_json_meta(
        spark,
        f"{stage}/_commit.json",
        {"n_docs": 0, "sum_dl": 0, "schemas": schemas},
    )
    _finalize_commit(spark, index_dir, stage)


def _merged_state(spark: SparkSession, index_dir: str) -> dict:
    """Scalars + lazily-merged stat frames of an index directory
    (base + live commits; see the transactional-layout section), plus
    the meta and the live parts, so the rest of a serve reads its other
    tables without listing or reading commit records again."""
    imeta = (
        fsops.read_json_meta(spark, f"{index_dir}/_index_meta.json") or {}
    )
    parts = _live_parts(spark, index_dir, imeta)
    # the parts' recorded (n_docs, sum_dl) sum on the driver; a part
    # holding a globals table without them (pre-v2 flat dirs, older
    # commits and bases) makes the serve read the table instead
    unrecorded = [(d, r) for d, r in parts if "sum_dl" not in (r or {})]
    if _table_paths(spark, unrecorded, "globals"):
        g = (
            index_table(spark, index_dir, "globals", parts)
            .agg(F.sum("n_docs"), F.sum("sum_dl"))
            .first()
        )
        n_docs, sum_dl = int(g[0]), int(g[1] or 0)
    else:
        recs = [r for _, r in parts if "sum_dl" in (r or {})]
        n_docs = sum(int(r["n_docs"]) for r in recs)
        sum_dl = sum(int(r["sum_dl"]) for r in recs)
    post = index_table(spark, index_dir, "postings", parts)
    stats = index_table(spark, index_dir, "termstats", parts)
    champ = index_table(spark, index_dir, "champions", parts)
    # optional table: absence is fine (append-only index), but a READ
    # failure propagates — swallowing it would silently resurrect
    # every deleted document
    tomb = index_table(
        spark, index_dir, "tombstones", parts, required=False
    )
    if tomb is not None:
        tomb = pin_frame(tomb.select("doc").distinct())
    dead_df = None
    if tomb is not None:
        dead_post = post.join(F.broadcast(tomb), "doc", "left_semi")
        n_dead = tomb.count()
        sumdl_dead = (
            dead_post.groupBy("doc")
            .agg(F.first("dl").alias("dl"))
            .select(F.sum("dl"))
            .first()[0]
        ) or 0
        # per-term df of the dead docs — the exact correction the
        # live idf needs, derived from the dead postings themselves
        dead_df = pin_frame(
            dead_post.groupBy("t").agg(F.count(F.lit(1)).alias("_dead_df"))
        )
        post = post.join(F.broadcast(tomb), "doc", "left_anti")
        champ = champ.join(F.broadcast(tomb), "doc", "left_anti")
        n_docs -= n_dead
        sum_dl -= int(sumdl_dead)
    return {
        "imeta": imeta,
        "parts": parts,
        "post": post,
        "stats": stats,
        "champ": champ,
        "dead_df": dead_df,
        "n_docs": n_docs,
        "sum_dl": sum_dl,
        "avgdl": sum_dl / n_docs if n_docs else 0.0,
    }


def _query_term_stats(st: dict, terms: DataFrame, *aggs) -> DataFrame:
    """Merged per-term stats of ``terms`` (a ``t`` frame, broadcast;
    duplicates are harmless, a semi-join ignores them): raw df
    ``_df_raw``, live df ``_df`` and any extra aggregates over the
    termstats partials. The semi-join prunes the vocabulary-sized
    partial table before the merge aggregate. Live df is raw df minus
    the tombstoned docs' postings per term; the raw extremes stay for
    bounds (admissible — a dead doc's max can only loosen them) and for
    the blockstats completeness guard (block partials count raw
    postings)."""
    tstats = (
        st["stats"]
        .join(F.broadcast(terms), "t", "left_semi")
        .groupBy("t")
        .agg(F.sum("df_delta").alias("_df_raw"), *aggs)
    )
    if st["dead_df"] is None:
        return tstats.withColumn("_df", F.col("_df_raw"))
    return (
        tstats.join(F.broadcast(st["dead_df"]), "t", "left")
        .withColumn(
            "_df",
            F.col("_df_raw") - F.coalesce(F.col("_dead_df"), F.lit(0)),
        )
        .drop("_dead_df")
    )


def _blockmax_candidates(
    spark: SparkSession,
    index_dir: str,
    st: dict,
    flagged: DataFrame,
    tstats: DataFrame,
) -> DataFrame:
    """Candidates from surviving (essential-term, doc-block) pairs —
    the block-grain half of the blockmax serve (see bm25_index_serve).
    Block bounds merge from the maintained per-commit partials; the
    completeness guard refuses an index missing block rows for any
    query term (bounds must exist or fail loudly), and the block-size
    pin is verified — serving a 64-grain index with a 128-grain build
    would join bounds onto the wrong doc ranges and silently drop
    candidates."""
    pinned = st["imeta"].get("block_size")
    if pinned != BLOCK_SIZE:
        raise ValueError(
            f"{index_dir} is pinned to block_size={pinned}, this build "
            f"serves {BLOCK_SIZE} — mismatched grains would misalign "
            "the block bounds; rebuild the index"
        )
    braw = index_table(
        spark, index_dir, "blockstats", st["parts"], required=False
    )
    if braw is None:
        raise ValueError(
            f"{index_dir} has no blockstats — the index predates block "
            "bounds; rebuild it (or serve mode='maxscore')"
        )
    merged = (
        braw.join(F.broadcast(flagged.select("t")), "t", "left_semi")
        .groupBy("t", "blk")
        .agg(
            F.sum("df_delta").alias("_bdf"),
            F.max("max_tf").alias("_bmaxtf"),
            F.min("min_dl").alias("_bmindl"),
        )
    )
    incomplete = (
        merged.groupBy("t")
        .agg(F.sum("_bdf").alias("_blk_df"))
        .join(tstats.select("t", "_df_raw"), "t", "full_outer")
        .filter(
            ~F.coalesce(F.col("_blk_df"), F.lit(-1)).eqNullSafe(
                F.coalesce(F.col("_df_raw"), F.lit(-1))
            )
        )
    )
    if incomplete.limit(1).count() > 0:
        raise ValueError(
            f"{index_dir}/blockstats does not cover every query term's "
            "postings — the index predates block bounds; rebuild it"
        )
    bounds_blk = (
        merged.join(F.broadcast(tstats.select("t", "_df")), "t")
        .withColumn(
            "_bub",
            bm25.micro_ub(
                bm25.idf(st["n_docs"])
                * bm25.tf_part("_bmaxtf", "_bmindl", st["avgdl"])
            ),
        )
        .select("t", "blk", "_bub")
    )
    return bm25.block_candidates(
        st["post"], bm25.block_survival(flagged, bounds_blk), BLOCK_SIZE
    )


def bm25_index_serve(
    spark: SparkSession,
    index_dir: str,
    query_max_id: int = 5,
    k: int = 10,
    champions: int = 16,
    mode: str = "exact",
    broadcast_candidates: bool | None = True,
) -> DataFrame:
    """Top-``k`` BM25 more-like-this served FROM the index — output
    contract identical to ``pipeline.bm25_more_like_this`` (query_id,
    doc_id, bm25, rank), hash-exact against the exact rung's oracle
    regardless of how many appends built the index. Scoring, θ, the
    essential split, block survival and rank are the shared kernel's
    (:mod:`cmsspark_spark.operators.bm25`, which also holds the
    exactness argument); this serve only derives the state they read.

    ``mode='exact'`` scores every posting of every query term in one
    pass — the exact rung replayed off persisted postings (no
    tokenize at all). ``mode='maxscore'`` prunes with the STORED
    state: champions seed θ, and the merged per-term (df, max_tf,
    min_dl) yield the admissible bounds of the module docstring —
    bound inputs maintained incrementally instead of recomputed from
    the corpus.

    ``mode='blockmax'`` additionally skips DOC-ID BLOCKS of the
    essential terms using the maintained ``blockstats/`` partials —
    the same (max_tf, min_dl) monoid one level down, so block bounds
    too are extended per append (only blocks the increment touches
    get new partial rows) and merged at serve. Every bound here
    DOMINATES the in-session one, so pruning is weaker-or-equal,
    never wrong. A guard compares block-grain df against term-grain
    df for the query terms and refuses an index whose blockstats are
    incomplete (a dir built by hand without them) — missing bounds
    must fail loudly, not skip blocks.

    ``broadcast_candidates`` selects how the pruned modes join their
    candidate ids back onto the postings (``bm25.score_candidates``):
    a weak θ makes the candidate set approach corpus scale, where a
    pinned broadcast would OOM the driver. True (default) pins the
    broadcast; False hash-joins; None counts the checkpointed
    candidate frame and broadcasts only under the 2M-row guard. Exact
    mode has no candidate join."""
    if mode not in ("exact", "maxscore", "blockmax"):
        raise ValueError(
            f"mode must be exact|maxscore|blockmax, got {mode!r}"
        )
    st = _merged_state(spark, index_dir)
    post, n_docs, avgdl = st["post"], st["n_docs"], st["avgdl"]
    qterms = (
        post.filter(F.col("doc") < query_max_id)
        .select(F.col("doc").alias("_qid"), "t")
    )
    query_t = qterms.select("t")
    tstats = _query_term_stats(
        st, query_t, F.max("max_tf").alias("_maxtf"),
        F.min("min_dl").alias("_mindl"),
    )
    df_tab = tstats.select("t", "_df")
    if mode == "exact":
        scored = bm25.score_query_terms(post, qterms, df_tab, n_docs, avgdl)
        return bm25.ranked(scored, k)
    # champion monoid re-cut: per-term top-c of the per-commit
    # top-c partials — identical to a full-corpus cut
    champ = _champion_cut(
        st["champ"].join(F.broadcast(query_t), "t", "left_semi"), champions
    ).select("t", "doc")
    seed = bm25.query_docs(qterms, champ, "t").distinct()
    bounds = tstats.withColumn(
        "_ub",
        bm25.micro_ub(
            bm25.idf(n_docs) * bm25.tf_part("_maxtf", "_mindl", avgdl)
        ),
    )
    theta = bm25.theta(
        bm25.score_candidates(post, seed, qterms, df_tab, n_docs, avgdl), k
    )
    flagged = bm25.essential_split(qterms, bounds.select("t", "_ub"), theta)
    if mode == "maxscore":
        ess_cand = bm25.essential_candidates(post, flagged)
    else:
        ess_cand = _blockmax_candidates(
            spark, index_dir, st, flagged, tstats
        )
    cand = ess_cand.unionByName(seed).distinct()
    scored = bm25.score_candidates(
        post, cand, qterms, df_tab, n_docs, avgdl, broadcast_candidates
    )
    return bm25.ranked(scored, k)


def _boolean_parts(
    spark: SparkSession, index_dir: str, queries
) -> dict:
    """Shared frames of the boolean serve and its pruning report:
    block-grain AND intersection, the surviving-block posting scan,
    and the fully-conjunctive doc set with its BM25 scores."""
    st = _merged_state(spark, index_dir)
    post, n_docs, avgdl = st["post"], st["n_docs"], st["avgdl"]
    qrows = [
        (int(qid), off, str(t).lower())
        for qid, terms in queries
        for off, t in enumerate(terms)
    ]
    if not qrows:
        raise ValueError("queries must carry at least one term")
    qdf = local_frame(spark, qrows, "_qid long, _off int, t string")
    query_t = qdf.select("t")
    qterms = qdf.select("_qid", "t").distinct()
    qlens = qdf.groupBy("_qid").agg(
        F.countDistinct("t").alias("_nt"),
        F.count(F.lit(1)).alias("_noff"),
    )
    df_tab = _query_term_stats(st, query_t).select("t", "_df")
    braw = index_table(
        spark, index_dir, "blockstats", st["parts"], required=False
    )
    if braw is None:
        raise ValueError(
            f"{index_dir} has no blockstats — rebuild the index"
        )
    # block-grain AND: a doc block can hold a conjunctive match only
    # if EVERY query term has ≥1 posting in it — the Spark-shaped
    # doc-ordered merge (the intersection runs on block metadata,
    # postings of pruned blocks are never read)
    tblocks = (
        braw.join(F.broadcast(query_t), "t", "left_semi")
        .select("t", "blk")
        .distinct()
    )
    surviving = (
        qterms.join(tblocks, "t")
        .groupBy("_qid", "blk")
        .agg(F.countDistinct("t").alias("_cnt"))
        .join(F.broadcast(qlens.select("_qid", "_nt")), "_qid")
        .filter(F.col("_cnt") == F.col("_nt"))
        .select("_qid", "blk")
    )
    scanned = (
        post.join(F.broadcast(query_t), "t", "left_semi")
        .withColumn("blk", bm25.block_id(BLOCK_SIZE))
        .join(F.broadcast(surviving), "blk")
        .join(F.broadcast(qterms), ["_qid", "t"], "left_semi")
    )
    and_docs = (
        scanned.join(F.broadcast(df_tab), "t")
        .groupBy("_qid", "doc")
        .agg(
            F.countDistinct("t").alias("_cnt"),
            F.sum(bm25.contribution(n_docs, avgdl)).alias("_score"),
        )
        .join(F.broadcast(qlens), "_qid")
        .filter(F.col("_cnt") == F.col("_nt"))
    )
    return {
        "qdf": qdf,
        "qlens": qlens,
        "tblocks": tblocks,
        "surviving": surviving,
        "scanned": scanned,
        "and_docs": and_docs,
        "df_tab": df_tab,
        "post": post,
        "parts": st["parts"],
    }


def bm25_index_boolean_serve(
    spark: SparkSession,
    index_dir: str,
    queries,
    k: int = 10,
    phrase: bool = False,
    exclude: dict | None = None,
) -> DataFrame:
    """Conjunctive (AND) and PHRASE retrieval served from the
    persisted index — the lookup shape hard-negative mining and
    decontamination audits actually issue (every query term must
    match; a phrase must match adjacently in order), which the
    bag-of-terms BM25 rungs cannot express.

    ``queries``: ``[(query_id, [term, ...]), ...]`` literals. Matching
    docs rank by the same BM25 sum as :func:`bm25_index_serve` (same
    idf/tf shapes, micro-grid rounding), top-``k`` per query; output
    contract (query_id, doc_id, bm25, rank).

    SCALE PATH: the candidate intersection runs at BLOCK grain first —
    a doc block survives only if every query term has ≥1 posting in
    it (maintained ``blockstats`` existence, merged across commits),
    so the postings of pruned blocks are never read; the conjunctive
    count check then runs on the surviving blocks' postings only.
    This is the bounds-reusing equivalent of a doc-ordered postings
    merge: rarest-term-driven skipping emerges from the intersection
    (a term in few blocks kills most of the block space).

    ``phrase=True`` additionally requires the terms ADJACENT IN ORDER
    (offset-shifted occurrence lists intersect non-empty) using the
    ``positions/`` table of a positional index
    (``append_bm25_index(..., positions=True)``); a non-positional
    index fails loudly. Repeated terms in the phrase are handled (the
    check is per query OFFSET, not per distinct term).

    ``exclude`` maps query_id → NOT-terms: a doc containing ANY of
    them drops (the decontamination lookup's must/must-not shape).
    One anti-join of the excluded terms' postings against the AND
    survivors — exclusion cost ∝ the excluded terms' df, never
    corpus-sized."""
    parts = _boolean_parts(spark, index_dir, queries)
    hits = parts["and_docs"]
    if exclude:
        ex_rows = [
            (int(qid), str(t).lower())
            for qid, terms in exclude.items()
            for t in terms
        ]
        if ex_rows:
            ex_df = local_frame(spark, ex_rows, "_qid long, t string")
            dead = parts["post"].join(F.broadcast(ex_df), "t").select(
                "_qid", "doc"
            )
            hits = hits.join(dead, ["_qid", "doc"], "left_anti")
    if phrase:
        posi = index_table(
            spark, index_dir, "positions", parts["parts"], required=False
        )
        if posi is None:
            raise ValueError(
                f"{index_dir} has no positions/ table — phrase serve "
                "needs a positional index "
                "(append_bm25_index(..., positions=True))"
            )
        # shift each term's occurrence list left by its query offset;
        # the phrase matches iff all shifted lists share a value (the
        # phrase's start position). Fold by array_intersect — k-1
        # intersections per (query, doc), all JVM-side.
        occ = (
            parts["qdf"]
            .join(posi, "t")
            .join(
                F.broadcast(hits.select("_qid", "doc")), ["_qid", "doc"]
            )
            .withColumn(
                "_sh",
                F.transform("posns", lambda p: p - F.col("_off")),
            )
        )
        arrs = F.transform(
            F.array_sort(F.collect_list(F.struct("_off", "_sh"))),
            lambda s: s["_sh"],
        )
        folded = (
            occ.groupBy("_qid", "doc")
            .agg(
                F.count(F.lit(1)).alias("_noff_hit"),
                arrs.alias("_arrs"),
            )
            .withColumn(
                "_inter",
                F.aggregate(
                    F.slice(
                        F.col("_arrs"),
                        F.lit(2),
                        F.greatest(
                            F.size("_arrs") - F.lit(1), F.lit(0)
                        ),
                    ),
                    F.element_at(F.col("_arrs"), 1),
                    lambda acc, x: F.array_intersect(acc, x),
                ),
            )
        )
        matched = (
            folded.join(
                F.broadcast(parts["qlens"].select("_qid", "_noff")),
                "_qid",
            )
            .filter(
                (F.col("_noff_hit") == F.col("_noff"))
                & (F.size("_inter") > 0)
            )
            .select("_qid", "doc")
        )
        hits = hits.join(matched, ["_qid", "doc"], "left_semi")
    return bm25.ranked(hits, k)


def bm25_boolean_prune_report(
    spark: SparkSession, index_dir: str, queries
) -> DataFrame:
    """Per-query evidence that the block-grain AND intersection prunes
    (query_id, blocks_considered, blocks_surviving, postings_scanned,
    postings_total, and_docs): ``blocks_considered`` counts the
    query terms' (term, block) lists, ``blocks_surviving`` the blocks
    every term shares, ``postings_scanned`` the posting rows actually
    read vs ``postings_total`` (the query terms' full df sum — what a
    non-intersecting scan would read)."""
    parts = _boolean_parts(spark, index_dir, queries)
    qterms = parts["qdf"].select("_qid", "t").distinct()
    considered = (
        qterms.join(parts["tblocks"], "t")
        .groupBy("_qid")
        .agg(F.count(F.lit(1)).alias("blocks_considered"))
    )
    surviving = parts["surviving"].groupBy("_qid").agg(
        F.count(F.lit(1)).alias("blocks_surviving")
    )
    scanned = parts["scanned"].groupBy("_qid").agg(
        F.count(F.lit(1)).alias("postings_scanned")
    )
    totals = (
        qterms.join(parts["df_tab"], "t")
        .groupBy("_qid")
        .agg(F.sum("_df").cast("long").alias("postings_total"))
    )
    hits = parts["and_docs"].groupBy("_qid").agg(
        F.count(F.lit(1)).alias("and_docs")
    )
    # base on the query list itself: a query whose terms miss the
    # index entirely must still report a row (all zeros)
    out = parts["qlens"].select("_qid")
    for frame in (considered, surviving, scanned, totals, hits):
        out = out.join(frame, "_qid", "left")
    return out.select(
        F.col("_qid").alias("query_id"),
        F.coalesce("blocks_considered", F.lit(0)).cast("long").alias(
            "blocks_considered"
        ),
        F.coalesce("blocks_surviving", F.lit(0)).cast("long").alias(
            "blocks_surviving"
        ),
        F.coalesce("postings_scanned", F.lit(0)).cast("long").alias(
            "postings_scanned"
        ),
        F.coalesce("postings_total", F.lit(0)).cast("long").alias(
            "postings_total"
        ),
        F.coalesce("and_docs", F.lit(0)).cast("long").alias("and_docs"),
    )


def compact_bm25_index(
    spark: SparkSession, index_dir: str, champions: int = 16
) -> dict:
    """Fold the base and every live commit into a NEW versioned base —
    the OPTIMIZE of the retrieval state, crash-fenced the same way as
    maintain_snapshot_agg (ADVICE r11): the fold lands in
    ``base/v<N+1>/`` while every reader still serves off the old
    base + commits; ONE atomic meta flip (base_version,
    base_through_seq) publishes it; superseded dirs are deleted
    best-effort AFTER the flip (a crash mid-delete leaves garbage the
    next compaction's vacuum reclaims, never a half-compacted read).
    Serving before and after is row-identical (tested).

    The fold also APPLIES tombstones: dead postings/champions are
    dropped, term/block stats and champions are recomputed EXACTLY
    from the live postings (equal to folded partials without deletes,
    TIGHTER bounds with them), globals become the live (n_docs,
    sum_dl), and the tombstones clear — real LSM compaction semantics,
    so a long-tombstoned index pays the dead-doc anti-join only until
    its next compaction. Cost: one postings-sized read+write (plus
    the stat shuffles) — the standard amortized compaction bill.

    A live commit carrying a consume tag AHEAD of the recorded pin is
    refused: that is an interrupted consume whose resume bookkeeping
    must run first (folding it would destroy the tag the resume needs).
    Single-writer, like every maintenance pass here. Returns
    before/after row counts per table."""
    meta_path = f"{index_dir}/_index_meta.json"
    imeta = fsops.read_json_meta(spark, meta_path) or {}
    commits = _list_commit_dirs(spark, index_dir)
    through = int(imeta.get("base_through_seq", 0))
    pin = imeta.get("snapshot_version")
    for seq, cdir in commits:
        if seq <= through:
            continue
        tag = (
            fsops.read_json_meta(spark, f"{cdir}/_commit.json") or {}
        ).get("tag") or {}
        c = tag.get("consume") or {}
        if c and (pin is None or int(c.get("to", -1)) > int(pin)):
            raise ValueError(
                f"{cdir} is a snapshot-consume commit (to v{c.get('to')}) "
                "whose pin advance never ran — re-run "
                "append_bm25_index_from_snapshot to resume it before "
                "compacting (folding it would orphan the resume tag)"
            )
    st = _merged_state(spark, index_dir)

    def table(name: str, required: bool = True) -> DataFrame | None:
        return index_table(spark, index_dir, name, st["parts"], required)

    before = {
        "termstats_rows": table("termstats").count(),
        "champions_rows": table("champions").count(),
        "blockstats_rows": (
            b.count() if (b := table("blockstats", False)) is not None else 0
        ),
        "globals_rows": table("globals").count(),
    }
    new_v = int(imeta.get("base_version", 0)) + 1
    base = f"{index_dir.rstrip('/')}/base/v{new_v:08d}"
    # live postings (tombstones applied) are the single source of
    # truth for the new base; stats/champions recomputed from them
    schemas = _write_tables({"postings": st["post"]}, base, "overwrite")

    def new_base(name: str) -> DataFrame:
        return index_table(
            spark, index_dir, name, [(base, {"schemas": schemas})]
        )

    schemas |= _write_tables({
        **_stat_partials(new_base("postings"), champions),
        "globals": local_frame(
            spark,
            [(int(st["n_docs"]), int(st["sum_dl"]))],
            "n_docs long, sum_dl long",
        ),
    }, base, "overwrite")
    pos_raw = table("positions", False)
    if pos_raw is not None:
        # positional index: fold the occurrence lists too, with the
        # tombstoned docs' rows dropped for good (same LSM semantics
        # as the postings fold)
        tomb = table("tombstones", False)
        if tomb is not None:
            pos_raw = pos_raw.join(
                F.broadcast(tomb.select("doc").distinct()),
                "doc",
                "left_anti",
            )
        schemas |= _write_tables({"positions": pos_raw}, base, "overwrite")
    after = {
        f"{name}_rows": new_base(name).count()
        for name in ("termstats", "champions", "blockstats")
    }
    after["globals_rows"] = 1
    # THE publish point: everything above was invisible, everything
    # below is reclamation of now-unreferenced dirs; the base's table
    # schemas ride in the same flip
    last_seq = commits[-1][0] if commits else through
    imeta.update(
        layout=2,
        base_version=new_v,
        base_through_seq=last_seq,
        base_schemas=schemas,
        base_n_docs=int(st["n_docs"]),
        base_sum_dl=int(st["sum_dl"]),
    )
    fsops.write_json_meta(spark, meta_path, imeta)
    vacuum_bm25_index(spark, index_dir)
    return {k: (before[k], after[k]) for k in before}


def vacuum_bm25_index(
    spark: SparkSession, index_dir: str, staging_min_age_s: int = 3600
) -> dict:
    """Delete index dirs no reader can reach: bases older than the
    published base_version, commits folded into the base
    (seq ≤ base_through_seq), the pre-v2 flat tables once a base
    exists, and aged staging orphans (crashed appends; the age gate
    keeps a concurrent in-flight append's staging safe). Runs after
    every compaction and is itself idempotent — a crash mid-delete
    just leaves work for the next run."""
    imeta = (
        fsops.read_json_meta(spark, f"{index_dir}/_index_meta.json") or {}
    )
    base_v = int(imeta.get("base_version", 0))
    through = int(imeta.get("base_through_seq", 0))
    removed: list[str] = []

    def _rm(path: str) -> None:
        if fsops.delete(spark, path, recursive=True):
            removed.append(path)

    root = index_dir.rstrip("/")
    if base_v:
        for name, _d, _s, _m in fsops.listdir(spark, f"{root}/base"):
            if name.startswith("v") and name != f"v{base_v:08d}":
                _rm(f"{root}/base/{name}")
        for t in _INDEX_TABLES:
            _rm(f"{root}/{t}")
        # folded c-<seq>-<uuid> dirs and their s-<seq> claim markers,
        # including the gap marker a crash before the rename leaves
        commits = _commits_dir(index_dir)
        for name, _d, _s, _m in fsops.listdir(spark, commits):
            seq = name.split("-")[1] if name[:2] in ("c-", "s-") else ""
            if seq.isdigit() and int(seq) <= through:
                _rm(f"{commits}/{name}")
    sroot = _staging_root(index_dir)
    for name in fsops.aged(spark, sroot, staging_min_age_s):
        _rm(f"{sroot}/{name}")
    # crashed write_json_meta temporaries beside the meta (the atomic
    # replace leaves one per crash-before-rename) — same age gate
    for name in fsops.aged(
        spark, root, staging_min_age_s,
        lambda n: fsops.is_replace_temp(n, "_index_meta.json"),
    ):
        _rm(f"{root}/{name}")
    return {"removed": removed}


def bm25_index_commit_report(
    spark: SparkSession, index_dir: str
) -> DataFrame:
    """One-row audit of an index directory: commits, docs, distinct
    terms, postings rows — the no-silent-state companion a pipeline
    records after each append. ``n_commits`` counts globals rows:
    one per live commit, plus one for the compacted base."""
    g = _merged_state(spark, index_dir)
    n_commits = index_table(spark, index_dir, "globals", g["parts"]).count()
    return local_frame(
        spark,
        [
            (
                int(n_commits),
                g["n_docs"],
                int(g["post"].select("t").distinct().count()),
                int(g["post"].count()),
            )
        ],
        "n_commits long, n_docs long, n_terms long, n_postings long",
    )


def bm25_index_sink(
    table: str,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    champions: int = 16,
    allow_removals: bool = False,
):
    """foreachBatch sink that keeps a persisted BM25 index CURRENT off
    a document stream: each micro-batch lands as an exactly-once
    snapshot version (``snapshots.snapshot_sink`` — replayed batch ids
    skip), then the index consumes every version past its pin as ONE
    atomic commit (:func:`append_bm25_index_from_snapshot`). The
    composition inherits both layers' crash discipline with no new
    state: a batch replayed after a crash neither re-lands (version
    ledger) nor re-indexes (pin no-op); a crash BETWEEN the landing
    and the consume is healed by the next batch, whose consume folds
    all versions since the pin in one increment; a crash inside the
    consume resumes off its commit tag. Serving between batches is
    always a consistent corpus: either the previous pin's, or — after
    the atomic rename — the new one's.

    Use::

        df.writeStream.foreachBatch(
            retrieval.bm25_index_sink(table, index_dir)
        ).option("checkpointLocation", ckpt).start()
    """
    from cmsspark_spark.operators.snapshots import snapshot_sink

    land = snapshot_sink(table)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        land(batch_df, batch_id)
        append_bm25_index_from_snapshot(
            batch_df.sparkSession, table, index_dir,
            id_col=id_col, text_col=text_col, champions=champions,
            allow_removals=allow_removals,
        )

    return _sink
