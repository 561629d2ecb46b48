"""The version-entry format of snapshot tables, the lineage rules a
commit inherits from its parent, and the change planner built on them.

A version entry (``_snapshots/v%08d.json``) names the table's live data
files either inline (``files``) or through manifest pointers
(``manifests``: ``m-*.json`` chunks, each a JSON list of basenames).
Each live file has an ADD-SEQUENCE, the version that committed it
(inline ``file_seqs``; ``manifest_seqs``, one per chunk); a file with no
recorded sequence has sequence 0. Equality-delete files in force are
listed in ``delete_files``, stamped in ``delete_seqs`` and keyed by
the version's ``delete_key_cols``.

This module is the one reader of those keys. It is standard library
only and reads manifests through a caller-supplied bulk reader,
``read_manifests(names) -> {name: [basenames]}``, so the engine
(``snapshots``, over the filesystem seam) and the ``snapshot_cdc``
source (plain file I/O in Python workers, which receive this module
pickled by value) share it unchanged.
"""

from __future__ import annotations


def version_name(v: int) -> str:
    return f"v{v:08d}.json"


def parse_version_name(name: str) -> int | None:
    """The version number of a ``v<N>.json`` name, else None."""
    if name.startswith("v") and name.endswith(".json"):
        try:
            return int(name[1:-5])
        except ValueError:
            return None
    return None


def live_files(meta: dict, read_manifests) -> list:
    """The live file basenames of one version. Manifest resolution
    dedups across chunks, so a duplicate name can never be planned
    twice."""
    if "files" in meta:
        return list(meta["files"])
    names: set = set()
    for listed in read_manifests(meta.get("manifests", [])).values():
        names.update(listed)
    return sorted(names)


def add_seqs(meta: dict, read_manifests) -> dict:
    """Live file basename → add-sequence. A name listed by several
    chunks keeps its SMALLEST sequence: more deletes then apply to it,
    so a duplicate can only be over-deleted, never resurrected."""
    if "files" in meta:
        fseqs = meta.get("file_seqs") or {}
        return {n: int(fseqs.get(n, 0)) for n in meta["files"]}
    mseqs = meta.get("manifest_seqs") or {}
    out: dict = {}
    manifests = meta.get("manifests", [])
    listed_by_m = read_manifests(manifests)
    for m in manifests:
        s = int(mseqs.get(m, 0))
        for n in listed_by_m[m]:
            if n not in out or s < out[n]:
                out[n] = s
    return out


def delete_files(meta: dict | None) -> list:
    return list((meta or {}).get("delete_files", []))


def delete_keys(*metas: dict | None) -> dict:
    """Delete basename → the key columns it was written under. One
    version's delete files share its pinned ``delete_key_cols``, but
    the pin may differ between versions (a delete after an optimize
    pins afresh), so a plan over two versions keys each delete set by
    its own side."""
    return {
        d: list(meta.get("delete_key_cols") or [])
        for meta in metas
        for d in delete_files(meta)
    }


def _field_names(schema: dict | None) -> set:
    return {f["name"] for f in (schema or {}).get("fields", [])}


def inherit(
    table: str,
    pmeta: dict | None,
    schema: dict | None = None,
    key_cols=None,
    part_cols=None,
) -> dict:
    """The lineage fields a commit takes from ``pmeta``, the parent
    whose live files it keeps (None or ``{}``: an empty table, or a
    commit that keeps none), after checking the lineage rules; a
    broken rule raises ValueError. ``schema`` is the batch's recorded
    schema (None: carry the parent's), ``key_cols`` the delete keys a
    keyed commit writes under, ``part_cols`` the columns a partition
    commit attributes by.

    - Grain: a keyed commit refuses a partition-attributed parent, a
      flat commit (neither keys nor partition columns) refuses one
      too — it would drop the attribution — and a partition commit
      refuses a parent with equality-delete state or with
      unattributed live files.
    - Pins: ``delete_key_cols`` and ``part_cols`` pin at their first
      commit and must match on every later one.
    - Delete state carries: dropping it would resurrect deleted rows.
    - Schema: ``mixed_schemas`` is set when the batch's column names
      differ from the parent's recorded ones, and carried once set."""
    pmeta = pmeta or {}
    pinned_parts = pmeta.get("part_cols")
    if part_cols is not None:
        if delete_files(pmeta):
            raise ValueError(
                f"{table} carries equality-delete state — fold it "
                "(optimize_snapshot) before partition-grain commits"
            )
        if pinned_parts is None and pmeta.get("n_files", 0) > 0:
            raise ValueError(
                f"{table} is not partition-attributed: it has live "
                "files with no partition attribution — partition-grain "
                "commits need an attributed lineage from the first "
                "write (keyed tables take snapshot_upsert)"
            )
        if pinned_parts is not None and list(pinned_parts) != list(part_cols):
            raise ValueError(
                f"{table} pins partition columns {pinned_parts}, "
                f"refusing {list(part_cols)}"
            )
    if key_cols is None and part_cols is None and pinned_parts is not None:
        raise ValueError(
            f"{table} is partition-attributed by {list(pinned_parts)} — "
            "a flat commit keeping its files would drop the attribution; "
            "write it through snapshot_write_partitions"
        )
    if key_cols is not None:
        if pinned_parts is not None:
            raise ValueError(
                f"{table} is partition-attributed — at that grain the "
                "delete and replace mechanism is overwriting the "
                "partition (snapshot_write_partitions), not keyed "
                "equality deletes"
            )
        pinned_keys = pmeta.get("delete_key_cols")
        if pinned_keys is not None and list(pinned_keys) != list(key_cols):
            raise ValueError(
                f"{table} pins delete keys {pinned_keys}, refusing "
                f"{list(key_cols)} — mixed key shapes would corrupt the "
                "delete anti-join"
            )
    out = {
        k: pmeta[k]
        for k in ("delete_files", "delete_key_cols", "delete_seqs")
        if k in pmeta
    }
    if key_cols is not None:
        out["delete_key_cols"] = list(key_cols)
    if part_cols is not None:
        out["part_cols"] = list(part_cols)
    if schema is None:
        schema = pmeta.get("schema")
    if schema is not None:
        out["schema"] = schema
    pfields = _field_names(pmeta.get("schema"))
    if pmeta.get("mixed_schemas") or (
        pfields and pfields != _field_names(schema)
    ):
        out["mixed_schemas"] = True
    return out


def delete_scope(meta: dict, names, read_manifests) -> dict:
    """``{name: (delete basenames that reach it)}`` under the Iceberg v2
    rule: a delete file reaches a data file whose add-sequence is
    strictly lower than its own. A delete with no recorded sequence
    (written before sequencing) reaches every file. A version without
    delete files resolves no add-sequence."""
    names = list(names)
    dels = sorted(delete_files(meta))
    if not dels or not names:
        return {n: () for n in names}
    seqs = add_seqs(meta, read_manifests)
    dseqs = meta.get("delete_seqs") or {}

    def reaches(d: str, file_seq: int) -> bool:
        s = dseqs.get(d)
        return s is None or int(s) > file_seq

    return {
        n: tuple(d for d in dels if reaches(d, seqs.get(n, 0)))
        for n in names
    }


def plan(from_meta: dict | None, to_meta: dict, read_manifests) -> list:
    """Signed file-grain change plan from ``from_meta`` (None: an empty
    table) to ``to_meta`` as ``[(sign, file, anti_deletes,
    semi_deletes)]``: the file's rows, minus the keys of
    ``anti_deletes``, restricted to the keys of ``semi_deletes`` when
    that is non-empty, carry ``sign``. Each delete set comes from one
    version, so :func:`delete_keys` gives one key list per set. Data
    files are immutable, so file identity is the change log:

    - a file only in ``to`` is +1, filtered by ``to``'s deletes;
    - a file only in ``from`` is −1, filtered by ``from``'s deletes;
    - over files in both, keys newly deleted at ``to`` emit their
      ``from``-live rows as −1, and keys whose delete rolled off emit
      their ``to``-live rows as +1.

    An upsert therefore plans as exact update images, and the planned
    rows folded by sign equal ``to``'s live view minus ``from``'s."""
    new = set(live_files(to_meta, read_manifests))
    old = set(live_files(from_meta, read_manifests)) if from_meta else set()
    added, removed, common = sorted(new - old), sorted(old - new), sorted(
        new & old
    )
    from_dels, to_dels = set(delete_files(from_meta)), set(
        delete_files(to_meta)
    )
    newly_dead = tuple(sorted(to_dels - from_dels)) if common else ()
    revived = tuple(sorted(from_dels - to_dels)) if common else ()
    to_scope = delete_scope(
        to_meta, added + (common if revived else []), read_manifests
    )
    from_scope = (
        delete_scope(
            from_meta, removed + (common if newly_dead else []),
            read_manifests,
        )
        if from_meta
        else {}
    )
    out = [(1, n, to_scope[n], ()) for n in added]
    out += [(-1, n, from_scope[n], ()) for n in removed]
    if newly_dead:
        out += [(-1, n, from_scope[n], newly_dead) for n in common]
    if revived:
        out += [(1, n, to_scope[n], revived) for n in common]
    return out


def removals(entries: list) -> tuple:
    """``(files dropped, delete set changed over kept files)`` of a
    plan. Both falsy means the plan only adds files: their rows are
    the whole change."""
    dropped = sum(1 for sign, _n, _a, semi in entries if sign < 0 and not semi)
    return dropped, any(semi for _s, _n, _a, semi in entries)
