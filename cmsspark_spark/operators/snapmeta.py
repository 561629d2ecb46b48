"""The version-entry format of snapshot tables, and the change planner
built on it.

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
