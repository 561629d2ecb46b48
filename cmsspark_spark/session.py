"""SparkSession factory and runtime tuning.

The reference builds sessions ad-hoc per job (spark_utils.py:173-186,
791-795) and pins the session timezone to UTC in newer jobs
(rucio_ds_summary.py:401-402). Here a single factory owns all of that,
plus scale-oriented defaults (AQE, Arrow, sane shuffle parallelism).

``tune(spark)`` applies only *runtime-settable* confs and is safe to call
on a session we did not create (the verify driver owns the session that
runs ``__spark_entry__``): every query entrypoint calls it first.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Confs that can be set on a live session. Keep this list minimal and
#: runtime-settable only (static confs would be silently ignored).
_RUNTIME_CONF = {
    # Deterministic timestamp rendering; the reference pins UTC too.
    "spark.sql.session.timeZone": "UTC",
    # The synthetic test parquet uses INT64 TIMESTAMP(NANOS) which Spark
    # has no native type for; read as LongType and convert in the catalog.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for any toPandas()/pandas_udf boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones. Critical at the 100 TB design point, free at test scale.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Persisted frames otherwise compile WITHOUT adaptive execution —
    # no runtime broadcast conversion, no partition coalescing — so a
    # cached operator pipeline (LSH signatures, shingle frames) would
    # silently lose the optimizations its uncached twin gets.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # InferFiltersFromGenerate synthesizes `size(e) > 0` from every
    # non-outer explode(e) and pushes it through joins/exchanges down
    # to the scan — for a COMPUTED array e (shingles, token n-grams)
    # that duplicates the whole expression as a per-row filter on the
    # far side of the join, so a candidate-pruned pipeline re-pays the
    # full-corpus map (measured: the LSH verify rung evaluated
    # shingles() for all 50k sf1 docs below its 600-member semi-join —
    # 33 s of a 60 s query; same mechanism as the r4 span-census and
    # r6 paragraph-dedup incidents). The rule is never semantic for
    # explode — empty arrays generate nothing anyway — and our
    # generator inputs are non-empty by construction, so excluding it
    # costs nothing and retires the pathology class engine-wide.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A conf may be static in some deployments; never fail a query
            # over tuning.
            pass
    return spark


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """The rows of ``spark.createDataFrame(rows, schema)`` as a JVM
    ``LocalRelation``: no Python task ever evaluates them.

    A list given to ``createDataFrame`` becomes a Python RDD, so every
    action over it starts one Python worker task per
    ``defaultParallelism`` slot — even for one row — and each such
    task pays pyspark's per-task start-up before any user code runs.
    An Arrow table crosses the boundary once, on the driver. Each row
    goes through ``StructType.toInternal`` first, the conversion the
    classic path applies, so naive timestamps keep its local-time
    reading (Arrow built from the raw datetimes would read them in
    the session zone instead); the Arrow arrays are then built from
    the internal values. ``schema`` is a ``StructType`` or a DDL
    string."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    internal = [schema.toInternal(r) for r in rows]
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*internal)) or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def get_spark(
    app_name: str = "cmsspark_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    for local runs; on a real cluster pass ``None`` with a configured
    spark-submit and the builder inherits it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Partition sizing for large scans: 128 MiB input splits keep
        # per-task memory bounded at high SF.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return tune(builder.getOrCreate())
