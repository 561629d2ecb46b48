"""Test-table catalog for the synthetic TPC-H-ish star schema.

The reference registers every source as a named temp table before
querying (spark_utils.py:229, 253, 291-361 — ``registerTempTable`` on
each load). This module does the same for the driver-generated parquet
tables under ``/root/testdata/sf*``, with one engine-level fix-up: the
generator wrote ``INT64 TIMESTAMP(NANOS)`` parquet timestamps, which
Spark reads only as LongType (``spark.sql.legacy.parquet.nanosAsLong``);
we convert those columns to proper ``TimestampType`` (microsecond
truncation, matching DuckDB's ns→us truncation) right at the scan so all
downstream operators see real timestamps.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cmsspark_spark import fsops
from cmsspark_spark.operators.memo import SessionMemo
from cmsspark_spark.session import tune

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: Columns stored as parquet TIMESTAMP(NANOS) → read as Long ns → convert.
NS_TIMESTAMP_COLS: dict[str, list[str]] = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}

#: Tables with heavy per-row compute consumed by *narrow* pipelines
#: (tokenization/shingling, vector math): a scan with too few splits
#: serializes all that work on one core. Relational tables are NOT
#: widened — their first join/groupBy shuffle already redistributes, so
#: an up-front repartition would just be a wasted extra shuffle.
_WIDEN_TABLES = {"documents", "embeddings"}

#: Per session: (table path, file set) → the table's scan entry (schema,
#: and input split count once a widen check asks for it).
_SCAN_MEMO = SessionMemo("table_scan")


def _file_set(spark: SparkSession, path: str) -> tuple:
    """Sorted (name, is_dir, size, mtime_ms) of a table path's entries
    from one driver-side listing — of the directory, or of its parent
    filtered to the path for a single-file table. A rewrite changes
    some size or mtime, so the scan entry keyed on it is resolved
    again."""
    entries = fsops.listdir(spark, path)
    if not entries:
        parent, _, base = path.rpartition("/")
        entries = [e for e in fsops.listdir(spark, parent) if e[0] == base]
    return tuple(sorted(entries))


def _effective_splits(path: str) -> int:
    """Row groups are parquet's split unit: a single-row-group file can
    never scan in parallel no matter how many byte-range tasks Spark
    makes. Counted from the footers."""
    import glob
    import pyarrow.parquet as pq

    files = glob.glob(f"{path}/*.parquet") or [path]
    return sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)


def _infer_scan(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """A read that infers the table's schema (one Spark job), and a
    fresh scan entry holding that schema and no split count yet."""
    df = spark.read.parquet(path)
    return df, {"schema": df.schema, "splits": None}


def _scan(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """A fresh read of the table and its memoized scan entry: the
    schema, inferred once per session and file set (ROADMAP 2(a):
    schema inference is a Spark job per read), and the split count,
    filled in by the first widen check. On a miss the inferring read is
    the read; a hit reads with the stored schema and runs no job.
    ``invalidate_session_memos`` drops the entry."""
    inferred: list[DataFrame] = []

    def build() -> dict:
        df, entry = _infer_scan(spark, path)
        inferred.append(df)
        return entry

    entry = _SCAN_MEMO.get_or(spark, (path, _file_set(spark, path)), build)
    if inferred:
        return inferred[0], entry
    return spark.read.schema(entry["schema"]).parquet(path), entry


def load_table(
    spark: SparkSession, sf_dir: str, name: str, widen: bool | None = None
) -> DataFrame:
    """Read one synthetic table, normalizing ns-timestamp columns.

    ``widen=True`` is a per-pipeline scan hint: request full-cluster
    input parallelism even for a fact table. Worth it when the pipeline
    is map-heavy before its first shuffle (broadcast-join + aggregate
    chains); wasteful when the first operation is a shuffle join/groupBy
    that redistributes anyway — hence opt-in, measured per query.
    """
    tune(spark)
    path = f"{sf_dir}/{name}.parquet"
    df, entry = _scan(spark, path)
    for c in NS_TIMESTAMP_COLS.get(name, []):
        dtype = dict(df.dtypes).get(c)
        if dtype == "bigint":
            # ns → µs floor-div matches DuckDB's truncation of TIMESTAMP_NS.
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dtype == "timestamp_ntz":
            # Newer generator layouts write TIMESTAMP(MICROS, isAdjustedToUTC
            # =false) which Spark reads as TIMESTAMP_NTZ — a type that forbids
            # numeric casts (epoch math) and differs from the reference's
            # long/timestamp columns (SURVEY §1.2: epoch columns + LTZ casts).
            # With the session timezone pinned UTC the NTZ→LTZ cast is a pure
            # relabel (bit-identical instant), and DuckDB's epoch() over the
            # same naive timestamp agrees.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    if widen if widen is not None else name in _WIDEN_TABLES:
        target = spark.sparkContext.defaultParallelism
        if entry["splits"] is None:
            entry["splits"] = _effective_splits(path)
        if entry["splits"] < max(2, target // 2):
            # Production layouts (many part-files) split naturally and
            # skip this; one round-robin shuffle of the raw rows buys
            # full-cluster parallelism for every later narrow stage.
            df = df.repartition(target)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """createOrReplaceTempView for each table (reference: registerTempTable)."""
    for t in names or TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
