"""Rucio dataset-summary job: the reference's operational entry point
(rucio_ds_summary.py main flow — spark job → summary documents →
index push + report) end-to-end on this engine:

  sources (parquet dumps) → ``rucio_ds_summary`` replica →
  day-partitioned curated parquet + CSV + HTML report →
  optional OpenSearch bulk push / AMQ(STOMP) document push through
  the injected transports (production wires real endpoints; tests
  wire the in-process HTTP/TCP fixtures).

Run:
    python -m cmsspark_spark.jobs.rucio_summary \\
        --source-dir /path/to/dumps --out /tmp/rucio_summary \\
        --date 2024-01-01

``--source-dir`` must contain ``rucio_replicas.parquet``,
``rucio_dids.parquet``, ``rucio_contents.parquet``,
``rucio_rses.parquet``, ``dbs_files.parquet``, ``dbs_datasets.parquet``,
``dbs_data_tiers.parquet`` (and optionally
``dbs_acquisition_eras.parquet``) — the same table names the fixture
registry uses, so a production dump lands with no renames.
"""

from __future__ import annotations

import argparse
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cmsspark_spark import sinks
from cmsspark_spark.jobs.cms_replicas import rucio_ds_summary
from cmsspark_spark.operators.memo import pin_frame
from cmsspark_spark.session import get_spark
from cmsspark_spark.sinks import report
from cmsspark_spark.sinks.osearch import OpenSearchSink

SOURCE_TABLES = [
    "rucio_replicas",
    "rucio_dids",
    "rucio_contents",
    "rucio_rses",
    "dbs_files",
    "dbs_datasets",
    "dbs_data_tiers",
]


def load_sources(spark: SparkSession, src_dir: str) -> dict[str, DataFrame]:
    """Read the job's input tables from ``{src_dir}/{name}.parquet``.
    ``dbs_acquisition_eras`` is optional (the summary then reports
    AcquisitionEraName='UNKNOWN', matching the replica contract)."""
    out = {
        name: spark.read.parquet(f"{src_dir}/{name}.parquet")
        for name in SOURCE_TABLES
    }
    try:
        out["dbs_acquisition_eras"] = spark.read.parquet(
            f"{src_dir}/dbs_acquisition_eras.parquet"
        )
    except Exception:  # noqa: BLE001 — optional source
        pass
    return out


def compute(
    sources: dict[str, DataFrame], date: str
) -> DataFrame:
    """The summary documents, stamped with the run day (F14) and an
    epoch ``timestamp`` (the OpenSearch per-date index routing key,
    reference osearch index_mod convention)."""
    eras = sources.get("dbs_acquisition_eras")
    if eras is not None:
        eras = eras.select(
            F.col("acquisition_era_id").alias("era_id"),
            F.col("acquisition_era_name").alias("era_name"),
        )
    summary = rucio_ds_summary(
        sources["rucio_replicas"],
        sources["rucio_dids"],
        sources["rucio_contents"],
        sources["rucio_rses"],
        sources["dbs_files"],
        sources["dbs_datasets"],
        sources["dbs_data_tiers"],
        eras=eras,
    )
    return summary.withColumn("day", F.lit(date)).withColumn(
        "timestamp", F.unix_timestamp(F.lit(date), "yyyy-MM-dd").cast("double")
    )


def run(
    spark: SparkSession,
    sources: dict[str, DataFrame],
    out: str,
    date: str,
    osearch_sink: OpenSearchSink | None = None,
    amq_transport: Callable[[list[dict]], None] | None = None,
) -> DataFrame:
    # Materialize the summary ONCE: the job has four terminal
    # consumers (curated parquet, CSV, report, optional index/AMQ
    # pushes) that would each re-execute the multi-join replica
    # lineage. The summary is day-grain documents — far smaller than
    # its sources — so an eager checkpoint (pin_frame) pins it at aggregate
    # size and every sink replays the checkpoint (guide §5 reuse).
    df = compute(sources, date).transform(pin_frame)

    from concurrent.futures import ThreadPoolExecutor

    def _parquet() -> None:
        # T3 curated table: re-running a day replaces only that
        # partition.
        sinks.write_partitioned_parquet(
            df, f"{out}/parquet", partition_by=("day",)
        )

    def _csv() -> None:
        sinks.write_csv(df, f"{out}/csv/{date}")

    def _report() -> None:
        # K7 report mile: CSV + HTML table.
        report.write_report(
            df.drop("timestamp"),
            f"{out}/report",
            name=f"rucio_summary_{date}",
            title="Rucio dataset summary",
            subtitle=f"run date {date}",
        )

    # The three sinks are independent reads of the checkpointed
    # summary: submit them as concurrent driver jobs so each backfills
    # the others' stragglers (guide §2.6 overlap independent jobs).
    # CONTRACT CHANGE vs the serial form (documented per ADVICE r13):
    # sink completion is UNORDERED — a failed day can leave report/CSV
    # output alongside a missing curated parquet partition, so
    # downstream consumers must key on job success, not on any sink's
    # presence. Every future is drained and EVERY failure is surfaced
    # (not just the first): the first failure is the cause, and every
    # later one is named in the message with its repr.
    with ThreadPoolExecutor(max_workers=3) as pool:
        futures = {
            name: pool.submit(fn)
            for name, fn in (
                ("parquet", _parquet), ("csv", _csv), ("report", _report)
            )
        }
        errors = [
            (name, f.exception())
            for name, f in futures.items()
            if f.exception() is not None
        ]
    if errors:
        names = ", ".join(name for name, _ in errors)
        also = "".join(f"; also failed: {n}: {e!r}" for n, e in errors[1:])
        raise RuntimeError(
            f"rucio summary sink(s) failed: {names}{also}"
        ) from errors[0][1]
    # K6: OpenSearch bulk push (driver-side batched like the
    # reference's send loop; the transport is injected).
    if osearch_sink is not None:
        failed = 0
        for docs in sinks.doc_batches(
            df, chunk_size=osearch_sink.batch_size, drop_nulls=False
        ):
            failed += osearch_sink.send(docs, timestamp_field="timestamp")
        if failed:
            raise RuntimeError(f"OpenSearch push: {failed} docs failed")
    # K5: AMQ document push through a STOMP-or-other transport.
    if amq_transport is not None:
        sinks.push_documents(
            df, amq_transport, chunk_size=1000, executor_side=False
        )
    return df


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--source-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--date", default="1970-01-01")
    args = ap.parse_args()
    spark = get_spark("rucio-summary-job")
    sources = load_sources(spark, args.source_dir)
    run(spark, sources, args.out, args.date).show(10, truncate=False)


if __name__ == "__main__":
    main()
