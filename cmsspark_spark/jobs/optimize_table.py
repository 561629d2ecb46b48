"""Table-layout optimization job: the OPTIMIZE-style CLI for a parquet
table — rewrite it clustered on a space-filling curve of two predicate
columns (Hilbert default, Morton via ``--curve zorder``;
operators/layout.py) and emit the skipping evidence an operator acts
on: before/after per-file stats manifests and the expected number of
files a point predicate touches on each dimension.

The operational form of the ``layout_skipping_report`` registry query:
same operators, wired as one runnable rewrite + report. The rewrite
goes to ``--dest`` (default ``<table>_optimized``) — never in place,
so the original stays readable until the caller swaps paths; for the
in-place day-partitioned variant fused into small-file compaction see
``incremental.compact_partitions(cluster_by=...)``.

Run:
    python -m cmsspark_spark.jobs.optimize_table \\
        --table /data/events --x user_id --y value_bucket \\
        --out /tmp/layout_report
"""

from __future__ import annotations

import argparse
import math
import os

from pyspark.sql import SparkSession

from cmsspark_spark import fsops
from cmsspark_spark.operators.layout import (
    compaction_candidates,
    curve_key,
    file_stats_manifest,
    manifest_location,
    write_file_manifest,
)
from cmsspark_spark.session import get_spark
from cmsspark_spark.sinks import report


def _span_summary(manifest_pdf, x: str, y: str) -> dict:
    """Expected files touched by a point predicate per dimension:
    sum over files of the per-file key-span fraction (driver-side —
    the manifest is one row per file)."""
    span_x = manifest_pdf[f"max_{x}"] - manifest_pdf[f"min_{x}"] + 1
    span_y = manifest_pdf[f"max_{y}"] - manifest_pdf[f"min_{y}"] + 1
    range_x = manifest_pdf[f"max_{x}"].max() - manifest_pdf[f"min_{x}"].min() + 1
    range_y = manifest_pdf[f"max_{y}"].max() - manifest_pdf[f"min_{y}"].min() + 1
    return {
        "n_files": len(manifest_pdf),
        "n_rows": int(manifest_pdf["n_rows"].sum()),
        f"exp_files_{x}": round(float((span_x / range_x).sum()), 4),
        f"exp_files_{y}": round(float((span_y / range_y).sum()), 4),
        "exp_files_both": round(
            float(((span_x / range_x) * (span_y / range_y)).sum()), 4
        ),
    }


def table_bytes(spark: SparkSession, table: str) -> int:
    """Total on-disk bytes of a table (:func:`fsops.tree_size`) —
    resolves whatever scheme the path carries (HDFS, s3a, file:). A
    flat driver-local glob would miss files in partition
    subdirectories and see nothing on a cluster filesystem,
    undersizing the rewrite to one file."""
    return fsops.tree_size(spark, table)


def run(
    spark: SparkSession,
    table: str,
    out: str,
    x: str,
    y: str,
    dest: str | None = None,
    curve: str = "hilbert",
    n_files: int | None = None,
    target_bytes: int = 128 * 1024 * 1024,
    dry_run: bool = False,
    if_needed: bool = False,
    max_span_frac: float = 0.5,
    max_files: int = 64,
) -> dict:
    dest = dest or table.rstrip("/") + "_optimized"
    # enforce the docstring's "never in place" contract BEFORE any
    # concurrent work starts (ADVICE r13): with the before-stats scan
    # overlapping the rewrite, an in-place overwrite would delete
    # source files mid-read and surface as confusing executor task
    # failures instead of a clean error. realpath (absolute, symlinks
    # resolved), so a relative or symlinked dest naming the table's
    # directory is caught too
    if os.path.realpath(dest) == os.path.realpath(table):
        raise ValueError(
            f"dest must differ from table (got {table!r}): the rewrite "
            "never runs in place"
        )
    if if_needed:
        # consult the write-time manifest sidecar BEFORE touching any
        # data: a table whose clustering is still healthy (file count
        # and per-dim span fractions inside the gates) skips the
        # rewrite entirely — the steady-state OPTIMIZE loop is
        # manifest-read cheap, not scan cheap
        mpath = manifest_location(table)
        try:
            man = spark.read.parquet(mpath)
        except Exception:
            man = None  # no sidecar yet: proceed (first optimize)
        if man is not None and not compaction_candidates(
            man, [x, y], max_files=max_files,
            max_span_frac=max_span_frac,
        ).take(1):
            return {"table": table, "dest": dest, "curve": curve,
                    "skipped": "healthy layout per manifest"}
    df = spark.read.parquet(table)

    # The before-stats manifest (a scan+agg of the source layout) and
    # the clustered rewrite are independent Spark jobs — the rewrite
    # never reads the stats. Submit the stats scan from a driver
    # thread so it backfills the rewrite's map/shuffle stragglers
    # instead of serializing ahead of them (guide §2.6).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        f_before = pool.submit(
            lambda: file_stats_manifest(df, [x, y]).toPandas()
        )

        if n_files is None:
            n_files = max(
                1, math.ceil(table_bytes(spark, table) / target_bytes)
            )

        summary = {"table": table, "dest": dest, "curve": curve}
        after_man = None
        if not dry_run:
            keyed, key = curve_key(df, x, y, curve=curve)
            (
                keyed.repartitionByRange(n_files, key)
                .sortWithinPartitions(key)
                .drop(key)
                .write.mode("overwrite")
                .parquet(dest)
            )
            # write-time manifest maintenance: the sidecar is built from
            # the rewritten files' FOOTERS (ranged reads, no data re-scan)
            # and doubles as the report's after-stats
            man_path = write_file_manifest(spark, dest, (x, y))
            after_man = spark.read.parquet(man_path).toPandas()
        before_man = f_before.result()

    before = _span_summary(before_man, x, y)
    summary["before"] = before
    if after_man is not None:
        after = _span_summary(after_man, x, y)
        summary["after"] = after
        report.write_report(
            spark.createDataFrame(after_man),
            out,
            "manifest_after",
            f"Per-file stats after {curve} clustering",
            subtitle=f"{dest} — {after['n_files']} files",
        )
    report.write_report(
        spark.createDataFrame(before_man),
        out,
        "manifest_before",
        "Per-file stats before clustering",
        subtitle=f"{table} — {before['n_files']} files",
    )
    return summary


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--table", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--x", required=True, help="first cluster column")
    ap.add_argument("--y", required=True, help="second cluster column")
    ap.add_argument("--dest", default=None)
    ap.add_argument("--curve", choices=("hilbert", "zorder"),
                    default="hilbert")
    ap.add_argument("--n-files", type=int, default=None)
    ap.add_argument("--target-bytes", type=int,
                    default=128 * 1024 * 1024)
    ap.add_argument("--dry-run", action="store_true",
                    help="report the current layout only, no rewrite")
    ap.add_argument("--if-needed", action="store_true",
                    help="skip the rewrite when the manifest sidecar "
                         "says the layout is still healthy")
    ap.add_argument("--max-span-frac", type=float, default=0.5)
    ap.add_argument("--max-files", type=int, default=64)
    args = ap.parse_args()
    spark = get_spark("optimize-table")
    summary = run(
        spark, args.table, args.out, args.x, args.y,
        dest=args.dest, curve=args.curve, n_files=args.n_files,
        target_bytes=args.target_bytes, dry_run=args.dry_run,
        if_needed=args.if_needed, max_span_frac=args.max_span_frac,
        max_files=args.max_files,
    )
    print(summary)
    spark.stop()


if __name__ == "__main__":
    main()
