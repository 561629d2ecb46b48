"""The driver-side filesystem seam every commit protocol goes through.

Snapshot versions and manifests, the BM25 index commit dirs and
sidecars, table retention and vacuum, and the jobs' pin files reach
the filesystem through these primitives and nothing else. This is the
one module that decides local versus Hadoop: each primitive has one
``os`` branch, taken whenever the path resolves to the local
filesystem (a py4j ``Path`` + ``getFileSystem`` + ``exists`` costs
~2 ms against ~0.0025 ms for ``os.path.exists`` on a 4-core Xeon
host), and one Hadoop ``FileSystem``/``FileContext`` branch, the only
path on HDFS. Each docstring states the contract both branches keep.

Callers use the seam as ``fsops.<name>(...)`` and never import its
names, so a test can wrap every mutating primitive in place
(``tests/test_fsops.py`` enumerates crash points that way). The
parquet-footer reader (``layout``) and the plan-data fingerprint
(``memo``) read data and memo keys, not commit metadata, and stay
outside.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import stat
import time
import uuid

from py4j.protocol import Py4JJavaError


def local_path(spark, path: str) -> str | None:
    """OS path when ``path`` resolves to the LOCAL filesystem under the
    session's Hadoop conf, else None. A bare path only counts as local
    when ``fs.defaultFS`` says so (cached per SparkContext — one py4j
    call per session)."""
    if "://" in path:
        if path.startswith("file://"):
            return path[len("file://"):] or "/"
        return None
    if path.startswith("file:"):
        return path[len("file:"):] or "/"
    sc = spark.sparkContext
    scheme = getattr(sc, "_cmsspark_default_fs_scheme", None)
    if scheme is None:
        default = (
            sc._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
        )
        scheme = default.split(":", 1)[0] if ":" in default else "file"
        sc._cmsspark_default_fs_scheme = scheme
    return path if scheme == "file" else None


def _hadoop(spark, path: str):
    """(FileSystem, Path) for ``path`` — the Hadoop branch's handle."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(sc._jsc.hadoopConfiguration()), jpath


def _java_raised(exc: Py4JJavaError, name: str) -> bool:
    return name in exc.java_exception.getClass().getName()


def _context_rename(spark, src: str, dest: str, overwrite: bool) -> None:
    """``FileContext.rename`` — the Hadoop rename that honours
    OVERWRITE (set) or dest-must-not-exist (unset) atomically."""
    sc = spark.sparkContext
    jvm = sc._jvm
    fs, p = _hadoop(spark, dest)
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri(), sc._jsc.hadoopConfiguration()
    )
    # varargs(Options.Rename...): py4j needs the array passed explicitly
    opt = jvm.org.apache.hadoop.fs.Options.Rename
    opts = sc._gateway.new_array(opt, 1 if overwrite else 0)
    if overwrite:
        opts[0] = opt.OVERWRITE
    fc.rename(_hadoop(spark, src)[1], p, opts)


def read_bytes(spark, path: str) -> bytes | None:
    """The whole file, or None when it does not exist."""
    local = local_path(spark, path)
    if local is not None:
        try:
            with open(local, "rb") as fh:
                return fh.read()
        except FileNotFoundError:
            return None
    fs, p = _hadoop(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return bytes(
            spark.sparkContext._jvm.org.apache.commons.io.IOUtils
            .toByteArray(stream)
        )
    finally:
        stream.close()


def put_no_overwrite(spark, path: str, payload: bytes = b"") -> None:
    """Exclusive create (``O_EXCL`` / HDFS ``create(p, false)``): of
    two racers exactly one writes ``path``, the other gets
    ``FileExistsError``. Parent dirs are created implicitly."""
    local = local_path(spark, path)
    if local is not None:
        os.makedirs(os.path.dirname(local), exist_ok=True)
        with open(local, "xb") as fh:
            fh.write(payload)
        return
    fs, p = _hadoop(spark, path)
    try:
        out = fs.create(p, False)
    except Py4JJavaError as exc:
        if _java_raised(exc, "FileAlreadyExists"):
            raise FileExistsError(path) from exc
        raise
    try:
        out.write(bytearray(payload))
    finally:
        out.close()


def replace(spark, path: str, payload: bytes) -> None:
    """Temp sibling + atomic overwrite-rename: a reader sees the old or
    the new bytes, never a torn file; a crash leaves a
    ``<path>.tmp.<uuid>`` orphan (:func:`is_replace_temp`)."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    put_no_overwrite(spark, tmp, payload)
    local = local_path(spark, path)
    if local is not None:
        os.replace(local_path(spark, tmp), local)
        return
    _context_rename(spark, tmp, path, overwrite=True)


_REPLACE_TEMP = re.compile(r"(.+)\.tmp\.[0-9a-f]+")


def is_replace_temp(name: str, base: str | None = None) -> bool:
    """True when ``name`` is a temp sibling :func:`replace` writes
    (``<base>.tmp.<hex>``; of ``base`` only, when given). A name that
    merely contains ``.tmp.``, such as a tag's ``x.tmp.1.json``, is
    not one."""
    m = _REPLACE_TEMP.fullmatch(name)
    return m is not None and (base is None or m.group(1) == base)


#: A :func:`replace` temp lives from its write to its rename; one this
#: old was left by a writer that died in between.
REPLACE_TEMP_MIN_AGE_S = 3600


def claim(spark, tmp: str, dest: str) -> bool:
    """Move ``tmp`` to ``dest`` iff ``dest`` does not exist; True when
    this caller won. Atomic on POSIX (a hard link fails on an existing
    name) and on HDFS-class stores (server-side rename without
    OVERWRITE); object stores need a CAS-backed claim instead."""
    local = local_path(spark, dest)
    if local is not None:
        src = local_path(spark, tmp)
        try:
            os.link(src, local)
        except OSError:
            return False
        os.unlink(src)
        return True
    try:
        _context_rename(spark, tmp, dest, overwrite=False)
    except Py4JJavaError:
        return False
    return True


def rename(spark, src: str, dest: str) -> None:
    """Move ``src`` to ``dest``; ``IOError`` when the move fails."""
    local = local_path(spark, src)
    try:
        if local is not None:
            os.rename(local, local_path(spark, dest))
            return
        fs, p = _hadoop(spark, src)
        moved = fs.rename(p, _hadoop(spark, dest)[1])
    except (OSError, Py4JJavaError) as exc:
        raise IOError(f"could not rename {src} to {dest}: {exc}") from exc
    if not moved:
        raise IOError(f"could not rename {src} to {dest}")


def delete(spark, path: str, recursive: bool = False) -> bool:
    """Remove a file (or a directory tree with ``recursive``); False
    when nothing was there."""
    local = local_path(spark, path)
    if local is not None:
        try:
            if os.path.isdir(local) and not os.path.islink(local):
                if recursive:
                    shutil.rmtree(local)
                else:
                    os.rmdir(local)
                return True
            os.unlink(local)
        except FileNotFoundError:
            return False
        # Hadoop's local FileSystem writes a checksum sibling beside
        # the files it creates and removes it with them; match it
        head, name = os.path.split(local)
        try:
            os.unlink(os.path.join(head, f".{name}.crc"))
        except FileNotFoundError:
            pass
        return True
    fs, p = _hadoop(spark, path)
    return bool(fs.delete(p, recursive))


def listdir(spark, path: str) -> list[tuple[str, bool, int, int]]:
    """``[(name, is_dir, size, mtime_ms)]`` of a directory's entries;
    ``[]`` when it does not exist."""
    local = local_path(spark, path)
    if local is not None:
        out = []
        try:
            with os.scandir(local) as it:
                for e in it:
                    try:
                        st = e.stat()
                    except FileNotFoundError:
                        continue  # removed while listing
                    out.append((
                        e.name, stat.S_ISDIR(st.st_mode), st.st_size,
                        st.st_mtime_ns // 1_000_000,
                    ))
        except (FileNotFoundError, NotADirectoryError):
            return []
        return out
    fs, p = _hadoop(spark, path)
    if not fs.exists(p):
        return []
    return [
        (
            st.getPath().getName(), bool(st.isDirectory()),
            int(st.getLen()), int(st.getModificationTime()),
        )
        for st in fs.listStatus(p)
    ]


def size(spark, path: str) -> int | None:
    """Length in bytes, or None when ``path`` does not exist — also the
    existence probe (a directory reports its own entry size). Any
    other failure, such as a permission error, raises."""
    local = local_path(spark, path)
    if local is not None:
        try:
            return os.path.getsize(local)
        except FileNotFoundError:
            return None
    fs, p = _hadoop(spark, path)
    try:
        return int(fs.getFileStatus(p).getLen())
    except Py4JJavaError as exc:
        if _java_raised(exc, "FileNotFound"):
            return None
        raise


def aged(spark, path: str, min_age_s: float, match=None) -> list[str]:
    """Sorted names of the entries of directory ``path`` (matching
    ``match(name)`` when given) last modified at least ``min_age_s``
    ago — the selection every orphan sweep makes. The age gate keeps a
    concurrent writer's just-written entry safe."""
    now_ms = time.time() * 1000.0
    return sorted(
        name
        for name, _d, _s, mtime_ms in listdir(spark, path)
        if (match is None or match(name))
        and now_ms - mtime_ms >= min_age_s * 1000.0
    )


def tree_size(spark, path: str) -> int:
    """Total bytes of the files under ``path``, as Hadoop's content
    summary counts them (checksum sidecars ``.<name>.crc`` excluded)."""
    local = local_path(spark, path)
    if local is not None:
        return sum(
            os.path.getsize(os.path.join(dirpath, name))
            for dirpath, _dirs, names in os.walk(local)
            for name in names
            if not (name.startswith(".") and name.endswith(".crc"))
        )
    fs, p = _hadoop(spark, path)
    return int(fs.getContentSummary(p).getLength())


def qualify(spark, path: str) -> str:
    """``path`` with its filesystem scheme, as listings return it."""
    local = local_path(spark, path)
    if local is not None:
        return f"file:{local.rstrip('/')}"
    fs, p = _hadoop(spark, path)
    return fs.makeQualified(p).toString().rstrip("/")


def list_parquet_files(spark, path: str) -> list[str]:
    """Recursive parquet-file listing as qualified paths. Files under
    underscore/dot-prefixed SUBDIRECTORIES (``_staging``,
    ``_temporary``) are invisible to parquet readers and here too; the
    check is on the path below the listed root, so listing a staging
    dir directly still works. The Hadoop iteration is retried: a
    CONCURRENT writer's staging files can vanish mid-listing
    (FileNotFoundException), which a fresh pass resolves."""
    local = local_path(spark, path)
    if local is not None:
        if not os.path.isdir(local):
            raise FileNotFoundError(path)
        out = []
        for dirpath, dirnames, filenames in os.walk(local.rstrip("/")):
            dirnames[:] = [
                d for d in dirnames if not d.startswith(("_", "."))
            ]
            for name in filenames:
                if name.endswith(".parquet") and not name.startswith(
                    ("_", ".")
                ):
                    out.append(f"file:{dirpath}/{name}")
        return sorted(out)
    fs, jpath = _hadoop(spark, path)
    qualified = fs.makeQualified(jpath).toString().rstrip("/")
    last_err = None
    for _ in range(5):
        out = []
        try:
            it = fs.listFiles(jpath, True)
            while it.hasNext():
                p = it.next().getPath().toString()
                rel = p[len(qualified) + 1 :] if p.startswith(qualified) else p
                segs = rel.split("/")
                if any(s.startswith(("_", ".")) for s in segs[:-1]):
                    continue
                name = segs[-1]
                if name.endswith(".parquet") and not name.startswith(
                    ("_", ".")
                ):
                    out.append(p)
            return sorted(out)
        except Exception as exc:
            last_err = exc
    raise last_err


def read_json_meta(spark, path: str):
    """A small JSON sidecar, or None when absent."""
    data = read_bytes(spark, path)
    return None if data is None else json.loads(data.decode("utf-8"))


def write_json_meta(spark, path: str, meta) -> None:
    """Atomically replace a JSON sidecar (see :func:`replace`): a crash
    mid-write leaves the PREVIOUS complete version, so the pins and
    crash fences these sidecars hold survive the writer dying."""
    replace(spark, path, json.dumps(meta).encode("utf-8"))
