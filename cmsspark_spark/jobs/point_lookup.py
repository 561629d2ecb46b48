"""Point-lookup job: the READ PATH of the Bloom sidecar family (r10,
builder item #4) — plan which files a key lookup must touch from the
stats + Bloom manifests alone (driver-scale metadata), then scan ONLY
those files.

This is the operational form of the ``bloom_skipping_report`` /
``rowgroup_bloom_skipping_report`` registry queries: the same pruning
functions (``pruned_files`` / ``pruned_files_bloom``), wired as a
runnable lookup. The planning tiers:

1. no manifest            → scan every file (the baseline a reader
                            without sidecars pays);
2. ``<table>_manifest``   → min/max pruning (useless on a
                            high-cardinality key unless the table is
                            clustered on it);
3. ``<table>_manifest_bloom`` → Bloom pruning (point lookups touch
                            ~only the true files, any layout);
4. ``<table>_manifest_rowgroups_bloom`` → reported as PLANNING
                            numbers (expected row-group visits) — the
                            in-file skip itself belongs to the parquet
                            reader's predicate pushdown, which the
                            pruned scan still benefits from.

Scale: planning reads manifest parquet (one row per file / row group)
and collects only the kept FILE LIST to the driver — bounded by file
count, never rows. The data scan is an explicit-path parquet read, so
Spark lists and opens exactly the planned files.

Run:
    python -m cmsspark_spark.jobs.point_lookup \\
        --table /data/docs --dim key --value abc123 [--out /tmp/hits]
"""

from __future__ import annotations

import argparse
import threading
import weakref
from collections import OrderedDict

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cmsspark_spark import fsops
from cmsspark_spark.operators.layout import manifest_location, pruned_files
from cmsspark_spark.session import get_spark


def _try_read(spark: SparkSession, path: str) -> DataFrame | None:
    try:
        return spark.read.parquet(path)
    except Exception:
        return None


#: Per-(session, table) planning-metadata cache (VERDICT r10 item 7):
#: a hot path issuing thousands of point lookups must not re-read the
#: manifest/sidecar parquet per lookup. Each entry pins the manifest
#: frames as eager localCheckpoints (planning then runs from block-
#: manager memory) plus the driver-side sets planning needs, keyed by
#: a METADATA STAMP — the data-file listing and every sidecar dir's
#: (name, size, mtime) — so an append/rebuild/vacuum invalidates the
#: entry on the next lookup (stale cache degrades to a re-read, never
#: a wrong plan). WEAK-keyed on the session (the SessionMemo
#: discipline): a stopped session's entries collect with it — an
#: id()-keyed dict would both pin dead sessions' frames and risk
#: serving a dead session's checkpoints to a new session whose id()
#: collides. Per-session bounded LRU; an evicted entry just re-reads.
_META_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_META_CACHE_CAP = 16
#: Lookups are read-only and safe to issue from concurrent driver
#: threads (the standard overlapped-jobs pattern); the cache itself is
#: the one shared mutable structure, so population/LRU moves serialize
#: through this lock. First-build Spark jobs run under it — two
#: threads racing the same cold table would otherwise checkpoint the
#: same manifests twice.
_META_LOCK = threading.RLock()

#: Ceiling on the TOTAL set-bit positions a table's Bloom sidecar may
#: hold for the cache to ALSO pin the planning rows driver-side (the
#: pure-Python fast path below): 4M longs ≈ 32 MB — comfortably a
#: driver-scale footprint (the cache already pins the same sidecar as
#: a checkpointed frame), far above any bench/test table, and a
#: million-file production sidecar simply plans through the Spark path
#: as before.
_PY_PLAN_MAX_POSITIONS = 4_000_000


def _py_positions(value, m: int, k: int) -> list[int]:
    """Driver-side twin of ``layout.bloom_positions`` for int/str
    values: first 15 md5 hex chars % 2^31 % m, salted per probe —
    byte-identical to the engine formula (Spark's int→string cast is
    ``str(int)``)."""
    import hashlib

    s = str(value)
    return [
        int(hashlib.md5(f"{s}#{i}".encode()).hexdigest()[:15], 16)
        % 2147483648
        % m
        for i in range(k)
    ]


def _meta_stamp(spark: SparkSession, table: str, all_files) -> tuple:
    parts = [tuple(all_files)]
    for suffix in ("", "_bloom", "_rowgroups_bloom"):
        parts.append(
            tuple(
                sorted(
                    (name, size, mtime_ms)
                    for name, _d, size, mtime_ms in fsops.listdir(
                        spark, manifest_location(table) + suffix
                    )
                )
            )
        )
    return tuple(parts)


def _table_meta(spark: SparkSession, table: str) -> dict:
    """The planning metadata for one table, cached until its stamp
    changes: data listing, manifest/Bloom/row-group-Bloom frames
    (eagerly checkpointed), the manifest's known-file set and the
    row-group sidecar's covered-file set."""
    with _META_LOCK:
        return _table_meta_locked(spark, table)


def _table_meta_locked(spark: SparkSession, table: str) -> dict:
    all_files = fsops.list_parquet_files(spark, table)
    stamp = _meta_stamp(spark, table, all_files)
    per = _META_CACHE.get(spark)
    if per is None:
        per = OrderedDict()
        _META_CACHE[spark] = per
    key = table.rstrip("/")
    ent = per.get(key)
    if ent is not None and ent["stamp"] == stamp:
        per.move_to_end(key)
        return ent
    man = _try_read(spark, manifest_location(table))
    known: set[str] = set()
    py_man: list[dict] | None = None
    if man is not None:
        man = man.localCheckpoint(eager=True)
        # ONE collect feeds both the known-file set and the driver-
        # side planning rows (manifest rows are file-count-sized, the
        # same bound the known set already accepts)
        py_man = [r.asDict() for r in man.collect()]
        known = {r["file"] for r in py_man}
    blooms = _try_read(spark, manifest_location(table) + "_bloom")
    bloom_mk: tuple[int, int] | None = None
    py_blooms: dict | None = None
    if blooms is not None:
        blooms = blooms.localCheckpoint(eager=True)
        # sidecar parameters are a property of the sidecar, not the
        # lookup — resolve them once per cache entry instead of one
        # distinct+collect job per lookup
        bloom_mk = _sidecar_mk(blooms)
        py_blooms = _py_bloom_rows(blooms)
    rg_blooms = _try_read(
        spark, manifest_location(table) + "_rowgroups_bloom"
    )
    rg_covered: set[str] | None = None
    rg_mk: tuple[int, int] | None = None
    py_rg: list[dict] | None = None
    if rg_blooms is not None:
        rg_blooms = rg_blooms.localCheckpoint(eager=True)
        rg_covered = {
            r.file for r in rg_blooms.select("file").distinct().collect()
        }
        rg_mk = _sidecar_mk(rg_blooms)
        rg_rows = _py_bloom_rows(rg_blooms, as_rows=True)
        py_rg = rg_rows
    ent = {
        "stamp": stamp,
        "all_files": all_files,
        "man": man,
        "known": known,
        "py_man": py_man,
        "blooms": blooms,
        "bloom_mk": bloom_mk,
        "py_blooms": py_blooms,
        "rg_blooms": rg_blooms,
        "rg_covered": rg_covered,
        "rg_mk": rg_mk,
        "py_rg": py_rg,
    }
    per[key] = ent
    per.move_to_end(key)
    while len(per) > _META_CACHE_CAP:
        per.popitem(last=False)
    return ent


def _py_bloom_rows(blooms: DataFrame, as_rows: bool = False):
    """Driver-side copy of a Bloom sidecar for the pure-Python
    planning fast path, or None when the sidecar exceeds
    ``_PY_PLAN_MAX_POSITIONS`` total set bits (big tables keep the
    Spark planning path). ``as_rows=False`` returns
    {file: {col: frozenset(positions)}}; ``as_rows=True`` keeps one
    dict per sidecar row (row-group sidecars have several rows per
    file). One bounded size-check aggregate per cache build."""
    pos_cols = [c for c in blooms.columns if c.startswith("bloom_")
                and c not in ("bloom_m", "bloom_k")]
    if not pos_cols:
        return None
    total = blooms.select(
        sum(F.coalesce(F.size(c), F.lit(0)) for c in pos_cols).alias("n")
    ).agg(F.sum("n")).first()[0]
    if total is None or total > _PY_PLAN_MAX_POSITIONS:
        return None
    rows = [r.asDict() for r in blooms.collect()]
    for r in rows:
        for c in pos_cols:
            r[c] = frozenset(r[c]) if r[c] is not None else None
    if as_rows:
        return rows
    return {r["file"]: r for r in rows}


def _sidecar_mk(blooms: DataFrame) -> tuple[int, int]:
    """(m, k) a Bloom sidecar was built with. Probing with different
    parameters computes different positions — a FALSE NEGATIVE (missed
    hit), not a weaker prune — so the sidecar records them
    (write_bloom_manifest r10) and the reader must use them. Legacy
    sidecars without the columns get the module defaults; a sidecar
    whose rows disagree (mixed-parameter appends) is a corrupt index
    and fails loudly."""
    from cmsspark_spark.operators.layout import BLOOM_K, BLOOM_M

    if "bloom_m" not in blooms.columns:
        return BLOOM_M, BLOOM_K
    combos = blooms.select("bloom_m", "bloom_k").distinct().collect()
    vals = {(r.bloom_m, r.bloom_k) for r in combos}
    if not vals:
        return BLOOM_M, BLOOM_K
    # key=str is None-safe: a merged-schema sidecar whose legacy rows
    # carry null bloom_m must surface as THIS ValueError, not a
    # TypeError from comparing None with int
    if len(vals) != 1 or any(None in c for c in vals):
        raise ValueError(
            f"bloom sidecar mixes parameters {sorted(vals, key=str)} "
            "— rebuild it with one (m, k)"
        )
    (mk,) = vals
    return int(mk[0]), int(mk[1])


def plan_lookup(
    spark: SparkSession, table: str, dim: str, value,
    snapshot_version: int | None = None,
) -> dict:
    """Metadata-only lookup plan: which files must be opened for
    ``dim == value``, per pruning tier. Returns the kept file names
    plus per-tier counts (the skipping evidence). Falls back tier by
    tier when a sidecar is missing — a missing Bloom degrades to
    min/max, a missing manifest to the full listing — and files the
    manifest does not know about (plain appends that bypassed
    append_with_manifest) are ALWAYS kept: a stale manifest degrades
    to less pruning, never a missed hit.

    ``snapshot_version`` (VERDICT r11 item 4) pins the plan to one
    version of a SNAPSHOT table: the candidate set starts as exactly
    that version's file list (``snapshot_files`` — O(1) metadata),
    then the stats/Bloom tiers prune WITHIN it. A lookup against a
    multi-version table therefore touches only files the pinned
    version references — files superseded by an overwrite, or
    appended after the pin, are never candidates, so the answer is
    the version-consistent one, not the union across history. The
    per-table metadata cache is version-agnostic (the version filter
    applies after it), so lookups across versions share one cached
    manifest read.

    The manifest frames come from the per-session metadata cache
    (:func:`_table_meta`): repeated lookups against an unchanged table
    plan from memory with zero manifest re-reads."""
    meta = _table_meta(spark, table)
    all_files = meta["all_files"]
    if snapshot_version is not None:
        from cmsspark_spark.operators.snapshots import snapshot_files

        pinned = set(
            snapshot_files(spark, table, snapshot_version)
        )
        all_files = [
            f for f in all_files if f.rsplit("/", 1)[-1] in pinned
        ]
    names = {f.rsplit("/", 1)[-1]: f for f in all_files}
    out = {
        "files_total": len(all_files),
        "files_minmax": len(all_files),
        "files_kept": sorted(names),
        "files_unmanifested": 0,
        "tier": "none",
        "_paths": names,
        "_meta": meta,
    }
    if snapshot_version is not None:
        out["snapshot_version"] = int(snapshot_version)
    man = meta["man"]
    if man is None:
        return out
    unmanifested = sorted(set(names) - meta["known"])
    blooms = meta["blooms"]
    # Pure-Python planning fast path: the cache already pins the
    # manifest rows (file-count-sized) and — under the position bound
    # — the Bloom sidecar rows driver-side, and the probe formula is
    # engine-exact for int/str values, so the per-lookup plan costs
    # ZERO Spark jobs (the per-lookup cost used to be one or two tiny
    # jobs each paying full Catalyst analysis + codegen). Any shape
    # the fast path cannot prove identical (float values, mixed stat
    # types, missing columns, oversized sidecar) falls back to the
    # Spark path below.
    py = _py_plan(meta, dim, value, names)
    if py is not None:
        mm, kept, tier = py
    elif blooms is None:
        mm = [
            r.file
            for r in pruned_files(man, dim, value, value).collect()
            if r.file in names
        ]
        kept, tier = mm, "minmax"
    else:
        # ONE collect resolves both tiers: per min/max-kept file, a
        # flag for whether the Bloom admits it too — identical keep
        # sets to sequential pruned_files + pruned_files_bloom.
        from cmsspark_spark.operators.layout import bloom_positions

        m, k = meta["bloom_mk"]
        probe = bloom_positions(F.lit(value).cast("string"), m, k)
        bl_hit = F.forall(
            probe, lambda p: F.array_contains(F.col(f"bloom_{dim}"), p)
        )
        flags = (
            man.join(blooms.select("file", f"bloom_{dim}"), "file", "left")
            .filter(
                (F.col(f"max_{dim}") >= F.lit(value))
                & (F.col(f"min_{dim}") <= F.lit(value))
            )
            .select(
                "file",
                (F.col(f"bloom_{dim}").isNull() | bl_hit).alias("_bl"),
            )
            .collect()
        )
        mm = [r.file for r in flags if r.file in names]
        kept = [r.file for r in flags if r._bl and r.file in names]
        tier = "bloom"
    out.update(
        files_minmax=len(mm) + len(unmanifested),
        files_kept=sorted(set(kept) | set(unmanifested)),
        files_unmanifested=len(unmanifested),
        tier=tier,
    )
    rg_blooms = meta["rg_blooms"]
    if rg_blooms is not None and tier == "bloom":
        rm, rk = meta["rg_mk"]
        col = f"bloom_{dim}"
        py_rg = meta.get("py_rg")
        if py is not None and py_rg is not None and all(
            col in r for r in py_rg
        ):
            pos = _py_positions(value, rm, rk)
            kept_set = set(kept)
            stats = [r for r in py_rg if r["file"] in kept_set]
            out["rowgroups_planned"] = sum(
                1
                for r in stats
                if r[col] is not None and all(p in r[col] for p in pos)
            )
            out["rowgroups_in_kept_files"] = len(stats)
        else:
            from cmsspark_spark.operators.layout import bloom_positions

            probe = bloom_positions(F.lit(value).cast("string"), m=rm, k=rk)
            hit = F.forall(
                probe,
                lambda p: F.array_contains(F.col(col), p),
            )
            stats = rg_blooms.filter(F.col("file").isin(kept))
            # both counts in one aggregate job
            planned, total = stats.select(
                F.count(F.when(hit, 1)), F.count(F.lit(1))
            ).first()
            out["rowgroups_planned"] = planned
            out["rowgroups_in_kept_files"] = total
        out["_rg_mk"] = (rm, rk)
    return out


def _py_plan(
    meta: dict, dim: str, value, names: dict
) -> tuple[list, list, str] | None:
    """Driver-side (min/max, Bloom) pruning over the cached manifest
    rows — (mm, kept, tier), or None when equivalence with the Spark
    path cannot be guaranteed (see plan_lookup)."""
    py_man = meta.get("py_man")
    if py_man is None:
        return None
    if isinstance(value, bool) or not isinstance(value, (int, str)):
        return None  # Spark's cast/compare semantics differ for these
    lo_c, hi_c = f"min_{dim}", f"max_{dim}"
    if py_man and (lo_c not in py_man[0] or hi_c not in py_man[0]):
        return None
    mm = []
    try:
        for r in py_man:
            lo, hi = r[lo_c], r[hi_c]
            if lo is None or hi is None:
                continue  # null stats: the Spark filter drops them too
            if hi >= value and lo <= value and r["file"] in names:
                mm.append(r["file"])
    except TypeError:
        return None  # mixed types: let Spark's cast rules decide
    if meta["blooms"] is None:
        return mm, mm, "minmax"
    py_blooms = meta.get("py_blooms")
    if py_blooms is None:
        return None  # sidecar over the position bound: Spark path
    col = f"bloom_{dim}"
    m, k = meta["bloom_mk"]
    pos = _py_positions(value, m, k)
    kept = []
    for f in mm:
        row = py_blooms.get(f)
        if row is None:
            kept.append(f)  # no sidecar row: conservatively kept
            continue
        if col not in row:
            return None  # sidecar lacks the dim: Spark path (raises)
        bl = row[col]
        if bl is None or all(p in bl for p in pos):
            kept.append(f)
    return mm, kept, "bloom"


def run(
    spark: SparkSession,
    table: str,
    dim: str,
    value,
    out: str | None = None,
    rowgroup_read: bool = False,
    snapshot_version: int | None = None,
) -> dict:
    """Plan, then scan ONLY the planned files for ``dim == value``.
    Returns the plan summary plus the hit count (and writes hits to
    ``out`` when given). The scan passes the kept files as explicit
    paths — Spark opens nothing else — and the equality predicate
    still pushes down into each file's row-group stats/dictionary,
    so the in-file skip comes free on top of the file-level prune.

    ``rowgroup_read=True`` goes one tier deeper when the row-group
    Bloom sidecar exists: the Bloom-admitted (file, row_group) plan is
    read EXPLICITLY (``layout.read_rowgroups`` — one ranged
    read_row_group per planned entry, nothing else opened); kept
    files WITHOUT sidecar rows fall back to the whole-file scan and
    are unioned in, so a partially-maintained sidecar degrades to
    less pruning, never to a missed hit.

    ``snapshot_version`` pins the lookup to one snapshot version's
    file set (see :func:`plan_lookup`): the explicit-path scan below
    then provably opens only pinned-version files."""
    plan = plan_lookup(
        spark, table, dim, value, snapshot_version=snapshot_version
    )
    all_files = plan.pop("_paths")
    meta = plan.pop("_meta")
    rg_mk = plan.pop("_rg_mk", None)
    paths = [all_files[n] for n in plan["files_kept"] if n in all_files]
    if not paths:
        plan["n_hits"] = 0
        return plan
    pred = F.col(dim) == F.lit(value)
    hits = None
    if rowgroup_read and rg_mk is not None:
        from cmsspark_spark.operators.layout import (
            bloom_positions,
            read_rowgroups,
        )

        rg_blooms = meta["rg_blooms"].filter(
            F.col("file").isin(plan["files_kept"])
        )
        probe = bloom_positions(
            F.lit(value).cast("string"), m=rg_mk[0], k=rg_mk[1]
        )
        hit = F.forall(
            probe,
            lambda p: F.array_contains(F.col(f"bloom_{dim}"), p),
        )
        rg_plan = rg_blooms.filter(hit).select("file", "row_group")
        covered = meta["rg_covered"] & set(plan["files_kept"])
        plan["rowgroups_read"] = rg_plan.count()
        hits = read_rowgroups(spark, table, rg_plan).filter(pred)
        leftover = [
            all_files[n]
            for n in plan["files_kept"]
            if n in all_files and n not in covered
        ]
        plan["files_fallback_scanned"] = len(leftover)
        if leftover:
            hits = hits.unionByName(
                spark.read.parquet(*leftover).filter(pred)
            )
    if hits is None:
        hits = spark.read.parquet(*paths).filter(pred)
    if out:
        # count from the WRITTEN output — hits.count() after the write
        # would re-execute the whole pruned scan a second time
        hits.write.mode("overwrite").parquet(out)
        plan["out"] = out
        plan["n_hits"] = spark.read.parquet(out).count()
    else:
        plan["n_hits"] = hits.count()
    return plan


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--table", required=True)
    ap.add_argument("--dim", required=True)
    ap.add_argument("--value", required=True)
    ap.add_argument("--out", default=None)
    ap.add_argument("--rowgroup-read", action="store_true",
                    help="read Bloom-admitted row groups explicitly "
                         "instead of whole kept files")
    ap.add_argument("--snapshot-version", type=int, default=None,
                    help="pin the lookup to one snapshot version's "
                         "file set (snapshot tables)")
    args = ap.parse_args(argv)
    spark = get_spark("point-lookup")
    summary = run(
        spark, args.table, args.dim, args.value, out=args.out,
        rowgroup_read=args.rowgroup_read,
        snapshot_version=args.snapshot_version,
    )
    print(summary)


if __name__ == "__main__":
    main()
