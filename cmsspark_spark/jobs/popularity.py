"""Dataset-popularity job: the reference's core daily workflow
(data_collection.py:161-174 + degraded/data_aggregation.py:69-89)
end-to-end — access stream ⋈ broadcast catalog dims → per-(site, tier)
popularity → partitioned parquet + CSV report.

Run:
    python -m cmsspark_spark.jobs.popularity --sf-dir /root/testdata/sf0.001 \\
        --out /tmp/popularity --date 2024-01-01
"""

from __future__ import annotations

import argparse

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cmsspark_spark import sinks
from cmsspark_spark.sinks import report
from cmsspark_spark.queries import cms_popularity_spine
from cmsspark_spark.session import get_spark


def compute(spark: SparkSession, sf_dir: str, date: str) -> DataFrame:
    """The popularity aggregate, stamped with the run date (F14 lit
    tagging — rucio_datasets_stats.py:669-672)."""
    return cms_popularity_spine(spark, sf_dir).withColumn("day", F.lit(date))


def writers(out: str, date: str) -> dict:
    """The job's sinks, in write order, for :func:`sinks.fan_out`."""
    return {
        # Curated day-partitioned parquet: re-runs for the same day
        # replace only that day's partition (T3 dynamic overwrite).
        "parquet": lambda f: sinks.write_partitioned_parquet(
            f, f"{out}/parquet", partition_by=("day",)
        ),
        # Human-facing CSV report (K1).
        "csv": lambda f: sinks.write_csv(f, f"{out}/csv/{date}"),
        # Driver-side report mile (K7): CSV + HTML table page of the
        # aggregated result (condor_cpu_efficiency.py:398-445's shape).
        "report": lambda f: report.write_report(
            f,
            f"{out}/report",
            name=f"popularity_{date}",
            title="Dataset popularity",
            subtitle=f"run date {date}",
        ),
    }


def run(spark: SparkSession, sf_dir: str, out: str, date: str) -> DataFrame:
    """Compute the aggregate once and write it to every sink; returns
    the pinned aggregate."""
    return sinks.fan_out(compute(spark, sf_dir, date), writers(out, date))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", required=True)
    ap.add_argument("--date", default="1970-01-01")
    args = ap.parse_args()
    spark = get_spark("popularity-job")
    run(spark, args.sf_dir, args.out, args.date).show(10, truncate=False)


if __name__ == "__main__":
    main()
