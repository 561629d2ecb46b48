"""Sink adapters (SURVEY §2.2).

File sinks are thin wrappers over ``DataFrameWriter`` with the
reference's semantics baked in (dynamic partition overwrite for the
append-only curated tables — dbs_hdfs_eos.py:55-62). Document sinks
reproduce the chunked JSON push shape (AMQ/OpenSearch —
rucio_datasets_stats.py:688-743, osearch/osearch.py:170-217) behind one
callable transport so tests can capture what production would send.

Scale notes: document pushes run per *partition* on the executors
(``foreachPartition``) — the driver never materializes the result; the
reference's ``toLocalIterator`` pattern is kept only as an opt-in for
transports that must run driver-side.

A job that writes one result to several sinks goes through
:func:`fan_out`, which computes the result once.
"""

from __future__ import annotations

import json
from typing import Callable, Iterable, Iterator, Mapping, Sequence

from pyspark.sql import DataFrame

from cmsspark_spark.operators.memo import pin_frame


def fan_out(
    df: DataFrame, writers: Mapping[str, Callable[[DataFrame], None]]
) -> DataFrame:
    """The multi-sink seam (data_collection.py:161-174: one aggregate,
    several outputs). Pins ``df`` once through :func:`pin_frame` (so
    the reliable-checkpoint conf applies), then calls each writer, in
    order, on the pinned frame. A failing writer does not stop the
    ones after it; once all have run, one ``RuntimeError`` names every
    failed sink, carries each later error's repr, and chains the first
    error as its cause. Returns the pinned frame, so later reads
    replay the pin instead of recomputing ``df``.

    Serial on purpose: at aggregate size each sink is a small job. A
    3-thread pool over the pinned frame measured no wall gain on a
    4-core host (perfbench star_batch, 4 interleaved pairs: median
    wall_s 2.67 s pooled against 2.51 s serial) and cost about 1 s
    more CPU per pass."""
    pinned = pin_frame(df)
    errors: list[tuple[str, Exception]] = []
    for name, write in writers.items():
        try:
            write(pinned)
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append((name, exc))
    if errors:
        names = ", ".join(name for name, _ in errors)
        also = "".join(f"; also failed: {n}: {e!r}" for n, e in errors[1:])
        raise RuntimeError(f"sink(s) failed: {names}{also}") from errors[0][1]
    return pinned


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K1: header'd CSV (data_collection.py:91)."""
    df.write.option("header", "true").mode(mode).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite", gzip: bool = True) -> None:
    """K3: JSON lines, optionally gzipped (hdfs_an.py:69)."""
    w = df.write.mode(mode)
    if gzip:
        w = w.option("compression", "gzip")
    w.json(path)


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = ("day",),
    mode: str = "overwrite",
    dynamic: bool = True,
) -> None:
    """K2/T3: day-partitioned parquet where overwrite touches only the
    partitions present in ``df`` (dbs_hdfs_eos.py:55-62's
    ``partitionOverwriteMode=dynamic``) — the incremental-recompute
    primitive."""
    w = df.write.mode(mode).partitionBy(*partition_by)
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    w.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: Sequence[str],
    num_buckets: int = 8,
    sort_by: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (+optionally sorted) catalog table.

    Co-location primitive for repeated big-big joins: two tables
    bucketed by the same key into the same bucket count join with NO
    exchange (and no sort, if sort_by matches) — the shuffle is paid
    once at write time instead of on every join. The at-scale answer
    to 'this fact⋈fact join shuffles 100 TB every day'.
    """
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.saveAsTable(table)


def _chunks(it: Iterable, size: int) -> Iterator[list]:
    buf: list = []
    for x in it:
        buf.append(x)
        if len(buf) >= size:
            yield buf
            buf = []
    if buf:
        yield buf


def doc_batches(df: DataFrame, chunk_size: int = 1000, drop_nulls: bool = True):
    """Driver-side iterator of JSON-document chunks (K5 shape:
    ``toLocalIterator`` + fixed-size chunks, nulls dropped —
    rucio_datasets_stats.py:688-699, 808-830). One partition in memory
    at a time."""
    for part in _chunks(df.toJSON().toLocalIterator(), chunk_size):
        docs = [json.loads(s) for s in part]
        if drop_nulls:
            docs = [{k: v for k, v in d.items() if v is not None} for d in docs]
        yield docs


def push_documents(
    df: DataFrame,
    transport: Callable[[list[dict]], None],
    chunk_size: int = 1000,
    drop_nulls: bool = True,
    executor_side: bool = True,
) -> None:
    """K5/K6: push rows as JSON docs in chunks through ``transport``.

    ``executor_side=True`` ships the transport to executors via
    ``foreachPartition`` (scales with the cluster); ``False`` keeps the
    reference's driver-side ``toLocalIterator`` behavior.
    """
    if executor_side:

        def handle(rows):
            for chunk in _chunks(rows, chunk_size):
                docs = [r.asDict(recursive=True) for r in chunk]
                if drop_nulls:
                    docs = [{k: v for k, v in d.items() if v is not None} for d in docs]
                transport(docs)

        df.foreachPartition(handle)
    else:
        for docs in doc_batches(df, chunk_size, drop_nulls):
            transport(docs)


def write_training_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    num_shards: int = 32,
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> DataFrame:
    """Deterministic training-shard writer: the write-side contract of a
    pre-training data loader (fixed shard count, reproducible global
    order, bounded file sizes).

    - Shard membership and in-shard order are *content*-derived —
      ``_shard_id = md5int(key) mod num_shards``, ordered by the full
      md5 — so an epoch's shuffle is baked in at write time and
      identical across re-runs, input re-shards, and engines
      (``df.orderBy(rand())`` is none of those; ``repartitionByRange``
      draws its boundaries from a sample, so membership drifts between
      runs).
    - One hash-repartition on ``_shard_id`` + ``sortWithinPartitions``
      then ``partitionBy(_shard_id)``: every shard is a directory whose
      part files are internally ordered — a reader streaming shard k
      sees a deterministic sequence.
    - ``maxRecordsPerFile`` caps file size without changing shard
      membership.

    Returns a manifest DataFrame (shard_id, n_rows, min_key, max_key)
    computed FROM THE WRITTEN FILES — the loader's integrity check.
    """
    from pyspark.sql import functions as _F

    key = _F.md5(_F.col(key_col).cast("string"))
    hashed = df.withColumn("_shard_key", key).withColumn(
        "_shard_id",
        (
            _F.conv(_F.substring("_shard_key", 1, 15), 16, 10).cast("long")
            % num_shards
        ).cast("int"),
    )
    parted = hashed.repartition(num_shards, "_shard_id").sortWithinPartitions(
        "_shard_id", "_shard_key"
    )
    w = parted.write.mode(mode)
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", int(max_records_per_file))
    w.partitionBy("_shard_id").parquet(path)
    written = df.sparkSession.read.parquet(path)
    return (
        written.groupBy(_F.col("_shard_id").cast("int").alias("shard_id"))
        .agg(
            _F.count(_F.lit(1)).alias("n_rows"),
            _F.min("_shard_key").alias("min_key"),
            _F.max("_shard_key").alias("max_key"),
        )
        .orderBy("shard_id")
    )


def read_training_shards(
    spark,
    path: str,
    manifest: DataFrame | None = None,
    shard_ids: list | None = None,
) -> DataFrame:
    """Loader side of ``write_training_shards``: read shards (all, or
    the ``shard_ids`` subset — a data-parallel trainer reads only its
    own shards, and partition pruning keeps the scan that narrow), rows
    in the written deterministic order per file.

    With ``manifest`` (the writer's return value, persisted by the
    caller), the read VERIFIES integrity first: per-shard row counts
    and key ranges recomputed from the files must equal the manifest —
    a torn/partial copy fails loudly before training starts. Raises
    ``ValueError`` on mismatch."""
    import pyspark.sql.functions as _F

    df = spark.read.option("basePath", path).parquet(path)
    if shard_ids is not None:
        df = df.filter(_F.col("_shard_id").isin([int(s) for s in shard_ids]))
    if manifest is not None:
        fresh = (
            df.groupBy(_F.col("_shard_id").cast("int").alias("shard_id"))
            .agg(
                _F.count(_F.lit(1)).alias("n_rows"),
                _F.min("_shard_key").alias("min_key"),
                _F.max("_shard_key").alias("max_key"),
            )
        )
        want = manifest
        if shard_ids is not None:
            want = want.filter(
                _F.col("shard_id").isin([int(s) for s in shard_ids])
            )
        cols = ["shard_id", "n_rows", "min_key", "max_key"]
        got_rows = sorted(tuple(r) for r in fresh.select(cols).collect())
        want_rows = sorted(tuple(r) for r in want.select(cols).collect())
        if got_rows != want_rows:
            raise ValueError(
                "training-shard manifest mismatch: "
                f"expected {want_rows!r}, found {got_rows!r}"
            )
    return df
