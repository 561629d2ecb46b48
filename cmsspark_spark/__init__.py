"""cmsspark_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query and data-processing capabilities of
dmwm/CMSSpark (reference snapshot at /root/reference), expressed as one
coherent Spark-first engine instead of ~40 standalone scripts:

- ``sources``   — source registry: schema'd CSV/JSON/Avro/Parquet readers with
                  daily-snapshot layout resolution and empty-day fallbacks
                  (reference: src/python/CMSSpark/spark_utils.py:66-788).
- ``catalog``   — the synthetic test-table catalog (TPC-H-ish star schema).
- ``functions`` — column-expression library replacing every reference Python
                  UDF so whole-stage codegen survives (reference:
                  degraded/data_aggregation.py:374-426), plus text-analysis
                  and vector math for training-data pipelines.
- ``operators`` — the reference's workflow operators (joins, aggregations,
                  window/time-bucket patterns, set ops) plus beyond-reference
                  operators: dedup (exact / MinHash-LSH / SimHash / n-gram
                  Jaccard), similarity search, multimodal column plumbing.
- ``sinks``     — partitioned parquet / CSV / JSON writers and chunked
                  document sinks (reference: osearch/osearch.py:170-217,
                  rucio_datasets_stats.py:688-743).
- ``fsops``     — the driver-side filesystem seam every commit protocol
                  goes through (one local and one Hadoop branch per
                  metadata primitive).
- ``streaming`` — Structured Streaming upgrades of the reference's batch
                  micro-architecture (late-data slack, dedup, tumbling
                  windows; reference SURVEY §2.9).

Everything is DataFrame/Catalyst-first: operators are ``DataFrame ->
DataFrame`` functions; there are no RDD paths in hot loops and no
row-at-a-time Python UDFs.
"""

__version__ = "0.1.0"

from cmsspark_spark.session import get_spark, tune  # noqa: F401
