"""Change-data-feed SOURCE for snapshot tables (``format("snapshot_cdc")``).

:func:`operators.snapshots.snapshot_cdc` computes signed row-level
changes between two versions as a batch DataFrame; this module makes
the feed a first-class *source* — the public Delta CDF / Iceberg
incremental-read shape: ``spark.readStream.format("snapshot_cdc")``
tails a snapshot table's COMMITS, emitting each version's row-level
delta exactly once, with the version log itself as the offset log.

Why this shape scales:

- OFFSETS ARE VERSIONS. ``latestOffset`` lists the version log
  (O(#versions) driver-side metadata reads, no data bytes); a
  micro-batch covers a contiguous version range and replays
  idempotently from the checkpoint because version files are
  immutable.
- PLANNING IS METADATA-ONLY. ``partitions(start, end)`` diffs the
  per-version file lists (plain JSON): cost ∝ changed files, never
  table size, the same economics as the batch CDC.
- READS RUN ON EXECUTORS. Each input partition is one data file plus
  the key-sized delete files that scope to it; the reader emits Arrow
  record batches (parquet → anti/semi join on keys → batch), no
  driver-side row handling.

Each version step is planned by :func:`snapmeta.plan`, the planner
:func:`snapshot_cdc` uses too, so the two emit the same signed rows.
An UPSERT commit (``snapshot_upsert``) therefore streams as exact
update images: old row −1, new row +1, in one batch. Output schema =
the table's committed schema + ``_cdc_sign`` (int) + ``_cdc_version``
(long).

Driver-side methods here run in Spark's Python data-source runner
process (no SparkSession, no JVM) — all metadata access is standard
library file I/O, which also documents the connector boundary: an
object-store deployment swaps ``_list_versions``/``_read_json`` for
its listing/get client and nothing else moves.

Limits, loud by design: versions expired from the log
(``expire_snapshots``) cannot be replayed — a range whose metadata is
gone raises instead of skipping (start past it explicitly with
``start_version``). Tables must record their schema in the commit
(every write path here does) unless the user supplies one.

Not in the reference: the reference re-reads whole HDFS day directories
to refresh downstream aggregates; this is beyond-reference
operability for incremental consumers (maintained aggregates, index
maintenance, downstream training-data gates).
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from cmsspark_spark.operators import snapmeta


def _local_root(path: str) -> str:
    """Normalize a table root to a plain filesystem path. The planner
    here only speaks local paths (tests, single-node); a cluster
    deployment replaces ``_list_versions`` and ``_read_json`` with a
    store client."""
    if path.startswith("file://"):
        return path[len("file://"):]
    if path.startswith("file:"):
        return path[len("file:"):]
    return path.rstrip("/")


def _list_versions(root: str) -> list:
    versions = (
        snapmeta.parse_version_name(os.path.basename(p))
        for p in glob.glob(os.path.join(root, "_snapshots", "v*.json"))
    )
    return sorted(v for v in versions if v is not None)


def _read_json(root: str, name: str):
    with open(os.path.join(root, "_snapshots", name), "r",
              encoding="utf-8") as fh:
        return json.load(fh)


def _load_meta(root: str, version: int) -> dict:
    try:
        return _read_json(root, snapmeta.version_name(version))
    except FileNotFoundError:
        raise FileNotFoundError(
            f"snapshot_cdc: version {version} of {root} is not in the "
            "version log (expired?) — the range cannot be replayed; "
            "restart the stream with start_version past it"
        )


# Spark primitive type name → pyarrow type factory. Used to pad
# columns absent from a mixed-schema file and to canonicalize every
# partition's emitted Arrow schema; an unmapped type fails loudly.
_ARROW_TYPES = {
    "long": lambda pa: pa.int64(),
    "integer": lambda pa: pa.int32(),
    "short": lambda pa: pa.int16(),
    "byte": lambda pa: pa.int8(),
    "double": lambda pa: pa.float64(),
    "float": lambda pa: pa.float32(),
    "string": lambda pa: pa.string(),
    "boolean": lambda pa: pa.bool_(),
    "binary": lambda pa: pa.binary(),
    "date": lambda pa: pa.date32(),
    "timestamp": lambda pa: pa.timestamp("us", tz="UTC"),
    "timestamp_ntz": lambda pa: pa.timestamp("us"),
}


def _arrow_schema(pa, fields: list):
    """fields: [(name, spark_type_name)] → pa.schema, loud on gaps."""
    cols = []
    for name, tname in fields:
        mk = _ARROW_TYPES.get(tname)
        if mk is None:
            raise TypeError(
                f"snapshot_cdc: no arrow mapping for spark type "
                f"{tname!r} (column {name!r}) — extend _ARROW_TYPES or "
                "project the column away before snapshotting"
            )
        cols.append((name, mk(pa)))
    return pa.schema(cols)


class _EmptyPartition(InputPartition):
    """Sentinel for a version range with no changes (Spark requires at
    least one input partition)."""

    def __init__(self):
        pass


class _CDCPartition(InputPartition):
    """One data file's contribution to one version step. Everything is
    plain values (paths, names, sign) — pickles by value."""

    def __init__(
        self,
        version: int,
        sign: int,
        path: str,
        anti: tuple,
        semi: tuple,
        fields: list,
    ):
        self.version = version
        self.sign = sign
        self.path = path
        self.anti = anti  # (delete file paths, their key columns)
        self.semi = semi
        self.fields = fields  # [(name, spark_type_name)] data columns


def _plan_step(
    root: str, from_v: int | None, to_v: int, fields: list
) -> list:
    """Input partitions for the change from version ``from_v`` (None:
    an empty table) to ``to_v``, one per :func:`snapmeta.plan` entry,
    attributed to ``to_v``."""
    to_meta = _load_meta(root, to_v)
    from_meta = None if from_v is None else _load_meta(root, from_v)
    del_keys = snapmeta.delete_keys(from_meta, to_meta)

    def read_manifests(names):
        return {m: _read_json(root, m) for m in names}

    def keyed(dels):
        return (
            [os.path.join(root, d) for d in dels],
            del_keys[dels[0]] if dels else [],
        )

    return [
        _CDCPartition(
            to_v, sign, os.path.join(root, n), keyed(anti), keyed(semi),
            fields,
        )
        for sign, n, anti, semi in snapmeta.plan(
            from_meta, to_meta, read_manifests
        )
    ]


def _read_cdc_partition(part: _CDCPartition):
    """Executor-side: parquet file → anti-join accumulated delete keys
    → optional semi-join (delete-delta branch) → Arrow batches with
    the sign/version columns appended. Delete files are key-sized by
    construction; OPTIMIZE folds them physically when they pile up,
    and post-fold versions plan with no joins at all."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    want = _arrow_schema(pa, part.fields)
    # COLUMN-PROJECTION PUSHDOWN: read only the declared columns (a
    # user .schema(...) narrows the feed), intersected with the
    # file's own footer schema so mixed-schema lineages don't error —
    # missing columns pad as typed nulls below. The key columns ride
    # in the declared schema (delete keys are table columns), so the
    # joins never need anything the projection dropped.
    pf = pq.ParquetFile(part.path)
    have = set(pf.schema_arrow.names)
    cols = [f.name for f in want if f.name in have]
    if cols:
        tbl = pf.read(columns=cols)
    else:
        # nothing the projection wants exists in this file: an
        # all-padded frame with the file's row count
        tbl = pa.table(
            [pa.nulls(pf.metadata.num_rows, type=f.type) for f in want],
            schema=want,
        )
    # pad mixed-schema gaps with typed nulls, drop extras, fix order
    arrays = []
    for f in want:
        if f.name in tbl.column_names:
            arrays.append(tbl.column(f.name).cast(f.type))
        else:
            arrays.append(pa.nulls(tbl.num_rows, type=f.type))
    tbl = pa.table(arrays, schema=want)

    for (paths, kc), how in (
        (part.anti, "left anti"), (part.semi, "left semi")
    ):
        if paths and tbl.num_rows:
            keys = pa.concat_tables(
                [pq.read_table(p, columns=kc) for p in paths]
            )
            # distinct keys: join semantics must not depend on dup rows
            tbl = tbl.join(
                keys.group_by(kc).aggregate([]), keys=kc, join_type=how
            )
    # joins may reorder columns; restore the declared order
    tbl = tbl.select([f.name for f in want])
    tbl = tbl.append_column(
        "_cdc_sign", pa.array([part.sign] * tbl.num_rows, pa.int32())
    ).append_column(
        "_cdc_version",
        pa.array([part.version] * tbl.num_rows, pa.int64()),
    )
    for batch in tbl.to_batches(max_chunksize=8192):
        yield batch


def _data_fields(schema: StructType) -> list:
    """Declared data columns as [(name, spark_type_name)], excluding
    the two CDC columns this source appends."""
    out = []
    for f in schema.fields:
        if f.name in ("_cdc_sign", "_cdc_version"):
            continue
        out.append((f.name, f.dataType.typeName()))
    return out


class SnapshotCDCReader(DataSourceReader):
    """Batch mode: the whole feed from ``start_version`` (exclusive,
    default 0) to ``end_version`` (inclusive, default latest) — the
    audit/backfill read of the same partitions the stream plans."""

    def __init__(self, schema: StructType, options: dict):
        self._root = _local_root(options["path"])
        self._fields = _data_fields(schema)
        self._start = int(options.get("start_version", 0))
        end = options.get("end_version")
        self._end = None if end is None else int(end)

    def partitions(self):
        versions = _list_versions(self._root)
        end = self._end if self._end is not None else (
            versions[-1] if versions else 0
        )
        parts = []
        for v in range(self._start + 1, end + 1):
            parts.extend(_plan_step(
                self._root, v - 1 if v > 1 else None, v, self._fields
            ))
        return parts or [_EmptyPartition()]

    def read(self, partition):
        if isinstance(partition, _EmptyPartition):
            return iter(())
        return _read_cdc_partition(partition)


class SnapshotCDCStreamReader(DataSourceStreamReader):
    """Streaming mode: offsets are ``{"version": n}`` — versions
    (start, end] make up a micro-batch. Version files are immutable
    and the log is append-only (rollback COMMITS a new version), so a
    committed range replans identically on replay; exactly-once falls
    out of the checkpoint, like every file-manifest source.

    ``initial_snapshot=true`` (the Delta CDF "start from now" shape):
    the first batch is the CURRENT version's live content as +1 rows
    and the stream follows from there — the right start for a consumer
    that needs state parity without replaying (possibly expired)
    history. The offset marks the snapshot batch with ``init``, so a
    checkpointed replay replans the same content deterministically.

    ``max_versions_per_batch=N`` bounds how many source commits one
    micro-batch may span — BEST-EFFORT admission control (a huge
    backfill drains in bounded bites instead of one giant batch): the
    cap anchors on the last end this reader instance planned or
    committed, so the first batch after a restart is uncapped (the
    simple python source API exposes no start to latestOffset)."""

    def __init__(self, schema: StructType, options: dict):
        self._root = _local_root(options["path"])
        self._fields = _data_fields(schema)
        self._start = int(options.get("start_version", 0))
        self._initial = str(
            options.get("initial_snapshot", "")
        ).lower() in ("true", "1", "yes")
        mv = options.get("max_versions_per_batch")
        self._max_versions = None if mv is None else max(1, int(mv))
        self._anchor: int | None = None

    def initialOffset(self) -> dict:
        self._advance(self._start)
        if self._initial:
            return {"version": self._start, "init": True}
        return {"version": self._start}

    def _advance(self, v: int) -> int:
        """Offsets must be MONOTONE (Spark interleaves latestOffset
        with planning and may call it before initialOffset): the
        anchor only ever moves forward, and every offset this reader
        emits is >= everything it emitted or committed before."""
        if self._anchor is None or v > self._anchor:
            self._anchor = v
        return self._anchor

    def latestOffset(self) -> dict:
        versions = _list_versions(self._root)
        latest = versions[-1] if versions else self._start
        if self._max_versions is not None:
            base = self._anchor if self._anchor is not None else self._start
            latest = min(latest, base + self._max_versions)
        return {"version": self._advance(latest)}

    def partitions(self, start: dict, end: dict):
        # checkpoint-restart path: anchor the cap at real progress
        self._advance(end["version"])
        parts = []
        lo = start["version"]
        if start.get("init") and end["version"] > lo:
            # first batch: the end version's live content, then follow
            parts.extend(_plan_step(
                self._root, None, end["version"], self._fields
            ))
            lo = end["version"]
        for v in range(lo + 1, end["version"] + 1):
            parts.extend(_plan_step(
                self._root, v - 1 if v > 1 else None, v, self._fields
            ))
        return parts or [_EmptyPartition()]

    def read(self, partition):
        if isinstance(partition, _EmptyPartition):
            return iter(())
        return _read_cdc_partition(partition)

    def commit(self, end: dict) -> None:
        self._advance(end["version"])  # cap anchor; the checkpoint
        # itself is the ledger — version files are immutable


class SnapshotCDCDataSource(DataSource):
    """``spark.read.format("snapshot_cdc")`` /
    ``spark.readStream.format("snapshot_cdc")`` over a snapshot table.

    Options: ``path`` (table root, required), ``start_version``
    (changes strictly after it; default 0 = since creation),
    ``end_version`` (batch mode only; default latest). Schema defaults
    to the latest commit's recorded schema + the CDC columns; pass an
    explicit schema to pin one (e.g. reading a mixed-schema lineage
    at the widened shape)."""

    @classmethod
    def name(cls) -> str:
        return "snapshot_cdc"

    def schema(self):
        path = self.options.get("path")
        if not path:
            raise ValueError("snapshot_cdc source requires option 'path'")
        root = _local_root(path)
        versions = _list_versions(root)
        if not versions:
            raise FileNotFoundError(
                f"snapshot_cdc: {root} has no snapshots — create the "
                "table first or supply an explicit schema"
            )
        meta = _load_meta(root, versions[-1])
        sj = meta.get("schema")
        if not sj:
            raise ValueError(
                f"snapshot_cdc: {root}'s latest commit records no "
                "schema — supply one explicitly with .schema(...)"
            )
        base = StructType.fromJson(sj)
        return StructType(
            list(base.fields)
            + [
                StructField("_cdc_sign", IntegerType(), False),
                StructField("_cdc_version", LongType(), False),
            ]
        )

    def reader(self, schema: StructType) -> SnapshotCDCReader:
        return SnapshotCDCReader(schema, dict(self.options))

    def streamReader(self, schema: StructType) -> SnapshotCDCStreamReader:
        return SnapshotCDCStreamReader(schema, dict(self.options))


def register(spark) -> None:
    """Register the source with a session, pickling this module and
    :mod:`snapmeta` BY VALUE (pyspark's vendored cloudpickle): Spark's
    data-source runner and the executors unpickle the class and its
    planner without ``cmsspark_spark`` on their python path — the
    connector ships itself, the same property a ``--py-files``-less
    cluster deployment needs. Without this, they pickle by reference
    and every worker raises ``ModuleNotFoundError: cmsspark_spark``
    (pinned by a test whose workers start outside the repo)."""
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    cloudpickle.register_pickle_by_value(snapmeta)
    spark.dataSource.register(SnapshotCDCDataSource)
