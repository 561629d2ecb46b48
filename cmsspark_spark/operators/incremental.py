"""Incremental recompute driver (SURVEY §2.9 T2/T3, §7.2 M7).

The reference's iterative mode recomputes the last ~2 months, drops
those months from a pickled pandas history and concatenates
(hpc_running_cores_and_corehr.py:8-13, 572-590, 637-667). Here the
curated table IS the history: a day-partitioned parquet table where
each run recomputes only recent partitions and dynamic-overwrite
replaces exactly those partitions, leaving the rest untouched —
no driver-side state, safe to re-run, scales to any history length.
"""

from __future__ import annotations

from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from cmsspark_spark import fsops
from cmsspark_spark.operators.memo import pin_frame
from cmsspark_spark.sinks import write_partitioned_parquet


def recompute_recent_partitions(
    spark: SparkSession,
    compute: Callable[[SparkSession, str, str], DataFrame],
    table_path: str,
    start_day: str,
    end_day: str,
    day_col: str = "day",
) -> DataFrame:
    """Recompute ``[start_day, end_day]`` and overwrite ONLY those
    partitions of the curated table.

    ``compute(spark, start_day, end_day)`` returns the recomputed slice
    (must contain ``day_col``). History outside the window is never
    read or written — the incremental contract (T2). Returns the slice.
    """
    fresh = compute(spark, start_day, end_day).filter(
        F.col(day_col).between(start_day, end_day)
    )
    write_partitioned_parquet(
        fresh, table_path, partition_by=(day_col,), mode="overwrite", dynamic=True
    )
    return fresh


def read_curated(spark: SparkSession, table_path: str) -> DataFrame:
    """Read the full curated history (partition-pruned on filters)."""
    return spark.read.option("basePath", table_path).parquet(table_path)


def ingest_increment_dedup(
    spark: SparkSession,
    increment: DataFrame,
    corpus_path: str,
    fingerprint_col: str = "fp",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental corpus ingestion with cross-run dedup: append only
    the increment rows whose fingerprint is unseen — in the existing
    corpus AND within the increment itself (deterministic min-id
    survivor).

    The cross-run check is a LEFT ANTI join against the corpus'
    fingerprint column only (column-pruned scan — the store is parquet,
    so the anti-join reads one column of history, never the documents).
    At 100 TB the corpus side of the anti-join is the big relation;
    keeping the increment on the probe side means the shuffle is sized
    by the DAILY increment, and a sorted/bucketed store upgrades it to
    a co-located join. Appends are atomic per run (parquet append mode);
    re-running the same increment is a no-op (its fingerprints now
    exist). Returns the appended survivors.
    """
    from pyspark.errors import AnalysisException

    # in-increment dedup first: deterministic min-id survivor per
    # fingerprint in ONE shuffle (window rank, no join-back)
    w = Window.partitionBy(fingerprint_col).orderBy(F.col(id_col).asc())
    survivors = (
        increment.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    try:
        seen = spark.read.parquet(corpus_path).select(fingerprint_col).distinct()
        fresh = survivors.join(seen, on=fingerprint_col, how="left_anti")
    except AnalysisException:  # first run: empty store
        fresh = survivors
    fresh = pin_frame(fresh)  # cut lineage before append
    fresh.write.mode("append").parquet(corpus_path)
    return fresh


def scd2_intervals(
    snapshots: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    day_col: str = "day",
) -> DataFrame:
    """Collapse daily snapshots into SCD2-style validity intervals: one
    row per (key, run of consecutive equal values) with
    ``valid_from`` / ``valid_to`` (inclusive day bounds; open runs get
    NULL ``valid_to``).

    The daily-snapshot layout (one full table copy per day — the
    reference's PhEDEx/Rucio dump shape) multiplies storage by days;
    run-length compressing unchanged values recovers the history table
    a warehouse actually queries. One shuffle on the key: change
    detection is a lag window (value != previous value opens a run), a
    running SUM of change flags numbers the runs, and one groupBy
    folds each run to its bounds — no self-joins, no per-day loops.
    """
    w = Window.partitionBy(*key_cols).orderBy(day_col)
    changed = F.lit(False)
    for v in value_cols:
        changed = changed | ~F.lag(F.col(v)).over(w).eqNullSafe(F.col(v))
    flag = F.when(
        F.lag(F.col(day_col)).over(w).isNull() | changed, 1
    ).otherwise(0)
    run = F.sum(flag).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = snapshots.withColumn("_run", run)
    last_day = snapshots.agg(F.max(day_col).alias("m")).collect()[0]["m"]
    return (
        runs.groupBy(*key_cols, "_run")
        .agg(
            *[F.first(v).alias(v) for v in value_cols],
            F.min(day_col).alias("valid_from"),
            F.max(day_col).alias("valid_to"),
        )
        .withColumn(
            "valid_to",
            F.when(F.col("valid_to") == F.lit(last_day), F.lit(None)).otherwise(
                F.col("valid_to")
            ),
        )
        .drop("_run")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
) -> DataFrame:
    """Day-over-day snapshot diff: one row per key that was added,
    removed, or changed between two snapshots (unchanged keys are
    dropped — at scale the diff is tiny next to the snapshots).

    One full-outer join on the key; change classification is null-safe
    column comparison (``eqNullSafe`` so NULL→value and value→NULL
    count as changes). Output: key cols, change ('added' | 'removed' |
    'changed'), old_/new_ value columns. The generalization of the
    leftovers anti-join family (phedex_leftovers): an anti-join is the
    'removed' slice of this operator.
    """
    o = old.select(
        *key_cols, *[F.col(v).alias(f"old_{v}") for v in value_cols]
    ).withColumn("_in_old", F.lit(1))
    n = new.select(
        *key_cols, *[F.col(v).alias(f"new_{v}") for v in value_cols]
    ).withColumn("_in_new", F.lit(1))
    j = o.join(n, on=key_cols, how="full_outer")
    same = F.lit(True)
    for v in value_cols:
        same = same & F.col(f"old_{v}").eqNullSafe(F.col(f"new_{v}"))
    change = (
        F.when(F.col("_in_old").isNull(), "added")
        .when(F.col("_in_new").isNull(), "removed")
        .when(~same, "changed")
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .drop("_in_old", "_in_new")
    )


def ingest_increment_embed_dedup(
    existing: DataFrame,
    incoming: DataFrame,
    dim: int,
    threshold: float = 0.4,
    num_planes: int = 4,
    tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space sibling of ``ingest_increment_dedup``: admit only
    incoming vectors with NO near-duplicate (cosine ≥ ``threshold``)
    in the existing corpus or earlier (lower-id) in the increment
    itself.

    Candidates come from the sign-LSH bucket join (the
    ``cosine_near_pairs_lsh`` machinery), so the check is bucket-keyed:
    the existing corpus contributes (id, bucket) pairs only — its
    vectors stream into the verify join by id, never all-pairs against
    the increment. Shuffle is proportional to bucket collisions with
    the increment, not |existing| × |incoming| — the cross-run dedup
    shape that stays viable while the corpus grows toward 100 TB.
    Approximate like all LSH dedup: pairs no table co-buckets are
    missed (recall-gated in tests).
    """
    import numpy as np

    from cmsspark_spark.functions.vectors import dot, l2_norm, sign_buckets_arrow
    from cmsspark_spark.operators.similarity import _dblvec

    rng = np.random.default_rng(seed)
    planes = [rng.standard_normal((num_planes, dim)) for _ in range(tables)]

    def bucketize(df, side):
        return df.select(
            F.col(id_col).alias(f"{side}_id"),
            F.posexplode(sign_buckets_arrow(planes)(vec_col)).alias(
                "_table", "_bucket"
            ),
        )

    # existing ∪ earlier-increment both block an incoming vector; the
    # union is ids+buckets only
    blockers = bucketize(existing, "b").unionByName(bucketize(incoming, "b"))
    cand = (
        bucketize(incoming, "n")
        .join(blockers, on=["_table", "_bucket"])
        .filter(
            # an increment row only blocks LATER (higher-id) increment
            # rows; existing rows block everything (ids are globally
            # unique across the two frames)
            F.col("b_id") < F.col("n_id"),
        )
        .select("n_id", "b_id")
        .dropDuplicates(["n_id", "b_id"])
    )
    unit = lambda df, side: df.select(
        F.col(id_col).alias(f"{side}_id"),
        F.zip_with(
            _dblvec(vec_col),
            F.array_repeat(l2_norm(vec_col), dim),
            lambda x, n: x / n,
        ).alias(f"_{side}v"),
    )
    allvecs = unit(existing, "x").unionByName(
        unit(incoming, "x").withColumnRenamed("_xv", "_xv")
    )
    verified = (
        cand.join(allvecs.withColumnRenamed("x_id", "n_id")
                  .withColumnRenamed("_xv", "_nv"), on="n_id")
        .join(allvecs.withColumnRenamed("x_id", "b_id")
              .withColumnRenamed("_xv", "_bv"), on="b_id")
        .withColumn("_cos", dot("_nv", "_bv"))
        .filter(F.col("_cos") >= F.lit(float(threshold)))
        .select("n_id")
        .distinct()
    )
    return incoming.join(
        verified.withColumnRenamed("n_id", id_col), on=id_col, how="left_anti"
    )


def upsert_partitions(
    spark: SparkSession,
    table_path: str,
    updates: DataFrame,
    key_cols: list,
    day_col: str = "day",
) -> DataFrame:
    """MERGE-shape upsert onto a day-partitioned parquet table (no
    table format in this container, so this is the parquet-native
    contract Delta/Iceberg MERGE INTO compiles to): rows matching on
    ``key_cols`` are replaced by their update, unmatched updates
    insert, and — the part naive rewrites get wrong — ONLY partitions
    that appear in ``updates`` are read or rewritten; untouched history
    is never opened.

    One anti-join (old rows that survive) + union per affected
    partition set, then dynamic overwrite. Returns the merged slice
    written."""
    days = [r[0] for r in updates.select(day_col).distinct().collect()]
    if not days:
        return updates
    existing = read_curated(spark, table_path).filter(
        F.col(day_col).isin(days)
    )
    survivors = existing.join(
        updates.select(*key_cols).distinct(), on=key_cols, how="left_anti"
    )
    merged = survivors.unionByName(updates)
    write_partitioned_parquet(
        merged, table_path, partition_by=(day_col,), mode="overwrite",
        dynamic=True,
    )
    return merged


def enforce_retention(
    spark: SparkSession,
    table_path: str,
    keep_days: int,
    as_of: str,
    day_col: str = "day",
) -> list:
    """Partition-level TTL: drop partitions older than ``as_of −
    keep_days`` by DELETING their directories — an O(partitions)
    metadata operation that never reads data (the reference's
    overwrite-by-delete K8 applied to retention). Returns the dropped
    day values."""
    import datetime as _dt

    cutoff = (
        _dt.date.fromisoformat(as_of) - _dt.timedelta(days=int(keep_days))
    ).isoformat()
    dropped = []
    root = table_path.rstrip("/")
    for entry, is_dir, _s, _m in sorted(fsops.listdir(spark, root)):
        if not (is_dir and entry.startswith(f"{day_col}=")):
            continue
        day = entry.split("=", 1)[1]
        if day < cutoff:
            fsops.delete(spark, f"{root}/{entry}", recursive=True)
            dropped.append(day)
    return dropped


def read_curated_evolved(spark: SparkSession, table_path: str) -> DataFrame:
    """Read a curated table whose schema GREW over time:
    ``mergeSchema`` unions per-file schemas so old partitions surface
    the new columns as nulls — additive schema evolution without
    rewriting history (the parquet answer to the reference's per-era
    schema drift, spark_utils.py:550-566)."""
    return (
        spark.read.option("basePath", table_path)
        .option("mergeSchema", "true")
        .parquet(table_path)
    )


def compact_partitions(
    spark: SparkSession,
    table_path: str,
    target_bytes: int = 128 * 1024 * 1024,
    day_col: str = "day",
    min_files: int = 2,
    cluster_by: tuple[str, str] | None = None,
    curve: str = "hilbert",
    manifest_dims: tuple[str, ...] | None = None,
) -> dict:
    """Small-file compaction for a day-partitioned curated table: any
    partition holding ≥ ``min_files`` parquet files is rewritten into
    ``ceil(partition_bytes / target_bytes)`` files via dynamic
    overwrite. Incremental ingestion fragments partitions (every
    micro-append is a file; small files poison scan planning at scale
    — footer-per-file, task-per-file); compaction restores the
    one-task-per-target-split shape without touching healthy
    partitions. Idempotent: a compacted partition has 1 file and is
    skipped next run.

    ``cluster_by=(x, y)`` additionally CLUSTERS each rewrite on a
    space-filling curve of the two columns (``curve``: "hilbert"
    default, or "zorder" — operators/layout.py): the Delta
    ``OPTIMIZE ZORDER BY`` move, fused into the same rewrite
    compaction already pays for, so the curated table's footer stats
    bound BOTH predicate columns per file from then on. Appends
    re-fragment and de-cluster a partition; the next compaction pass
    restores both properties in one pass.

    ``manifest_dims`` (defaults to ``cluster_by`` when clustering)
    additionally maintains the file-grain stats-manifest sidecar at
    ``layout.manifest_location(table_path)``, partitioned by
    ``day_col`` and updated by DYNAMIC overwrite — only the rewritten
    partitions' manifest rows change, untouched days' rows stand, and
    the stats come from footers of just the rewritten files (never a
    table scan). This is the incremental form the r7 row-group
    docstring promised: appends de-cluster a partition, compaction
    re-clusters it, and the manifest says so partition by partition.

    Returns {day: (files_before, files_after)} for rewritten
    partitions."""
    import math

    if manifest_dims is None and cluster_by is not None:
        manifest_dims = tuple(cluster_by)

    def _parquet_sizes(pdir: str) -> list:
        return [
            size
            for name, _d, size, _m in fsops.listdir(spark, pdir)
            if name.endswith(".parquet")
        ]

    report = {}
    root = table_path.rstrip("/")
    for entry, is_dir, _s, _m in sorted(fsops.listdir(spark, root)):
        if not (is_dir and entry.startswith(f"{day_col}=")):
            continue
        pdir = f"{root}/{entry}"
        sizes = _parquet_sizes(pdir)
        if len(sizes) < min_files:
            continue
        day = entry.split("=", 1)[1]
        nbytes = sum(sizes)
        n_out = max(1, math.ceil(nbytes / target_bytes))
        part = (
            spark.read.option("basePath", table_path)
            .parquet(pdir)
            .withColumn(day_col, F.col(day_col).cast("string"))
        )
        if cluster_by is not None:
            from cmsspark_spark.operators.layout import curve_key

            keyed, key = curve_key(
                part, cluster_by[0], cluster_by[1], curve=curve
            )
            out = (
                keyed.repartitionByRange(n_out, key)
                .sortWithinPartitions(key)
                .drop(key)
            )
        else:
            out = part.repartition(n_out)
        write_partitioned_parquet(
            out, table_path, partition_by=(day_col,),
            mode="overwrite", dynamic=True,
        )
        report[day] = (len(sizes), len(_parquet_sizes(pdir)))
        if manifest_dims:
            from cmsspark_spark.operators.layout import write_file_manifest

            # footer-parse ONLY this partition's rewritten files and
            # dynamic-overwrite its manifest rows; other days stand
            write_file_manifest(
                spark,
                table_path,
                manifest_dims,
                files=fsops.list_parquet_files(spark, pdir),
                literals={day_col: day},
                partition_by=(day_col,),
            )
    return report


def _increment_spans(
    increment: DataFrame, window: int, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """(base, spans) for the span gate: base = (id, n_windows),
    spans = (id, span_hash) — one explode, hash AFTER the explode."""
    from cmsspark_spark.functions.text import tokens

    w = int(window)
    tk = F.col("_tk")
    n_win = F.greatest(F.size(tk) - (w - 1), F.lit(0))
    win_idx = F.explode(
        F.when(n_win > 0, F.sequence(F.lit(1), n_win)).otherwise(
            F.array().cast("array<int>")
        )
    )
    base = increment.withColumn("_tk", tokens(F.col(text_col))).select(
        F.col(id_col), n_win.cast("long").alias("n_windows"), F.col("_tk")
    )
    spans = base.select(id_col, "_tk", win_idx.alias("_i")).select(
        id_col, F.xxhash64(F.slice("_tk", F.col("_i"), w)).alias("_h")
    )
    return base.drop("_tk"), spans


def score_increment_span_dedup(
    spark: SparkSession,
    increment: DataFrame,
    census_path: str,
    window: int = 12,
    max_dup_ratio: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SCORE step of the cross-run span-level ingestion gate: admit
    only increment docs whose duplicated-span ratio AGAINST THE
    ACCUMULATED CORPUS stays under ``max_dup_ratio``. Reads the census,
    never writes it — the caller persists the admitted docs first and
    then calls ``commit_census_spans`` (the two-step seam exists so a
    failed downstream write can be retried: an uncommitted census
    can't refuse its own partial run). Returns the admitted docs with
    (n_windows, n_dup_windows, dup_ratio), pinned via ``memo.pin_frame``
    so the verdict can't shift between the caller's write and the
    census commit.

    The census store is (span_hash) parquet — 8 bytes per distinct
    span ever admitted, column-pruned on read. The increment's spans
    join against it sized by the DAILY increment (the census side is
    the big relation; a bucketed store upgrades the probe to
    co-located). Within-increment duplication does NOT count toward
    the ratio here — run the batch ``repeated_span_stats`` first if
    the increment itself needs internal dedup.
    """
    from pyspark.errors import AnalysisException

    base, spans = _increment_spans(increment, window, id_col, text_col)
    try:
        seen = spark.read.parquet(census_path).select("_h").distinct()
        dup_counts = (
            spans.join(seen, on="_h", how="left_semi")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_dup_windows"))
        )
    except AnalysisException:  # first run: empty census
        dup_counts = spans.limit(0).groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_dup_windows")
        )
    scored = (
        base.join(dup_counts, on=id_col, how="left")
        .withColumn(
            "n_dup_windows",
            F.coalesce("n_dup_windows", F.lit(0)).cast("long"),
        )
        .withColumn(
            "dup_ratio",
            F.when(
                F.col("n_windows") > 0,
                F.col("n_dup_windows") / F.col("n_windows"),
            ).otherwise(F.lit(0.0)),
        )
    )
    admitted = scored.filter(F.col("dup_ratio") <= max_dup_ratio)
    return pin_frame(admitted)  # pin the verdict


def commit_census_spans(
    spark: SparkSession,
    increment: DataFrame,
    admitted: DataFrame,
    census_path: str,
    window: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """COMMIT step of the span gate: fold the admitted docs' spans
    into the persisted census. Call this AFTER the caller's own write
    of the admitted docs has succeeded — committing first would turn a
    transient downstream failure into permanent data loss (a retry
    would score those docs dup_ratio 1.0 against their own spans and
    silently refuse them forever). Appending is idempotent at read
    time (the census is read ``.distinct()``), so a crash between the
    caller's write and this commit is safe to retry end-to-end.
    """
    _, spans = _increment_spans(increment, window, id_col, text_col)
    new_spans = (
        spans.join(admitted.select(id_col), on=id_col, how="left_semi")
        .select("_h")
        .distinct()
    )
    new_spans.write.mode("append").parquet(census_path)


def ingest_increment_span_dedup(
    spark: SparkSession,
    increment: DataFrame,
    census_path: str,
    window: int = 12,
    max_dup_ratio: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One-shot convenience: ``score_increment_span_dedup`` then
    ``commit_census_spans``. Completes the incremental family
    (fingerprint → embedding → span): ``ingest_increment_dedup``
    rejects exact re-sends, this rejects documents that are mostly
    stitched from text the corpus already has (the cross-run analogue
    of operators/dedup.repeated_span_stats). Re-running the same
    increment is idempotent-by-rejection: its spans now exist, so its
    docs score dup_ratio 1.0 and are refused.

    CAUTION (ADVICE r5): this commits the census BEFORE the caller
    persists the admitted docs. If your pipeline writes the admitted
    docs downstream, use the two-step form — score, write your output,
    then commit — so a failed write can be retried. Returns the
    admitted docs with (n_windows, n_dup_windows, dup_ratio).
    """
    admitted = score_increment_span_dedup(
        spark,
        increment,
        census_path,
        window=window,
        max_dup_ratio=max_dup_ratio,
        id_col=id_col,
        text_col=text_col,
    )
    commit_census_spans(
        spark,
        increment,
        admitted,
        census_path,
        window=window,
        id_col=id_col,
        text_col=text_col,
    )
    return admitted


def _increment_minhash_bands(
    increment: DataFrame,
    n: int,
    num_hashes: int,
    rows_per_band: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Band rows (+ full signature) for the MinHash census gate: the
    narrow signature pipeline from operators/dedup, renamed to the
    census column contract (doc id first)."""
    from cmsspark_spark.operators.dedup import (
        minhash_band_rows,
        minhash_signatures_wide,
    )

    wide = minhash_signatures_wide(increment, id_col, text_col, n, num_hashes)
    return minhash_band_rows(
        wide, num_hashes, rows_per_band, with_sig=True
    ).withColumnRenamed("_id", id_col)


def score_increment_minhash_dedup(
    spark: SparkSession,
    increment: DataFrame,
    census_path: str,
    n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    max_est_jaccard: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SCORE step of the cross-run NEAR-dup ingestion gate — the
    MinHash rung of the incremental family (fingerprint rejects exact
    re-sends, span rejects stitched text, this rejects whole-document
    near-duplicates of anything ever admitted). The census stores
    (id, band, band_sig, sig) — ~num_hashes longs per admitted doc,
    never text — so an increment is checked by (band, band_sig)
    bucket join + the MinHash similarity ESTIMATOR (fraction of
    agreeing signature components), the textbook sketch estimate of
    Jaccard. No corpus re-read, no shingle recompute for old docs:
    the probe cost is proportional to the DAILY increment and its
    bucket collisions, the shape that stays viable as the admitted
    corpus grows toward 100 TB.

    Within-increment blocking: a lower-id increment doc blocks
    higher-id near-dups in the same batch (same rule as
    ``ingest_increment_embed_dedup``).

    Approximate in BOTH stages (banding recall, estimator variance) —
    planted-case behavior and estimator parity are pytest-gated; the
    exact verifier remains the batch LSH→Jaccard path.

    Returns admitted docs with (n_candidates, max_est_jaccard),
    pinned via ``memo.pin_frame`` (the score/commit seam of the span
    gate: commit only after the caller's own write succeeds).
    """
    from pyspark.errors import AnalysisException

    inc = _increment_minhash_bands(
        increment, n, num_hashes, rows_per_band, id_col, text_col
    ).transform(pin_frame)  # consumed by probe + self-join + commit
    try:
        census = spark.read.parquet(census_path).select(
            F.col(id_col).alias("_bid"),
            "band",
            "band_sig",
            F.col("sig").alias("_bsig"),
            F.lit(True).alias("_prior"),
        )
    except AnalysisException:  # first run: empty census
        census = inc.limit(0).select(
            F.col(id_col).alias("_bid"),
            "band",
            "band_sig",
            F.col("sig").alias("_bsig"),
            F.lit(True).alias("_prior"),
        )
    blockers = census.unionByName(
        inc.select(
            F.col(id_col).alias("_bid"),
            "band",
            "band_sig",
            F.col("sig").alias("_bsig"),
            F.lit(False).alias("_prior"),
        )
    )
    # A census row blocks UNCONDITIONALLY (the admitted corpus is prior
    # by definition — including a re-send carrying the SAME id, which
    # must match its own stored signature and be refused); within the
    # increment only a lower id blocks, as in the embed gate.
    cand = (
        inc.select(
            F.col(id_col).alias("_nid"), "band", "band_sig",
            F.col("sig").alias("_nsig"),
        )
        .join(blockers, on=["band", "band_sig"])
        .filter(F.col("_prior") | (F.col("_bid") < F.col("_nid")))
        .dropDuplicates(["_nid", "_bid"])
    )
    est = (
        F.aggregate(
            F.zip_with(
                F.col("_nsig"),
                F.col("_bsig"),
                lambda a, b: F.when(a == b, 1).otherwise(0),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / F.lit(float(num_hashes))
    )
    stats = (
        cand.withColumn("_est", est)
        .groupBy(F.col("_nid").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.max("_est").alias("max_est_jaccard"),
        )
    )
    scored = (
        increment.join(stats, on=id_col, how="left")
        .withColumn(
            "n_candidates", F.coalesce("n_candidates", F.lit(0)).cast("long")
        )
        .withColumn(
            "max_est_jaccard", F.coalesce("max_est_jaccard", F.lit(0.0))
        )
    )
    admitted = scored.filter(F.col("max_est_jaccard") < max_est_jaccard)
    return pin_frame(admitted)  # pin the verdict


def split_assign_increment(
    increment: DataFrame,
    census: DataFrame,
    splits: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    min_est_jaccard: float = 0.5,
    boundaries: dict[str, int] | None = None,
    broadcast_increment: bool = True,
    bands: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL cluster-consistent split assignment — the
    ingest-gate treatment for :func:`pipeline.cluster_split_assign`:
    an increment's docs inherit the split of the near-dup cluster
    they join WITHOUT recomputing the corpus closure. The batch
    operator fixes train/eval leakage constructively; this keeps it
    fixed as data arrives — an appended near-duplicate of a train doc
    must land in train, not wherever its own content hash falls.

    Inputs are the state a batch run already maintains: ``census`` is
    the committed MinHash band store (id, band, band_sig, sig — ~8
    longs per admitted doc, the ``commit_census_minhash`` contract;
    pass ``spark.read.parquet(census_path)``), ``splits`` is the
    persisted (id, split) assignment of the admitted corpus (the
    batch operator's output — cluster-consistent, so ANY matched
    member's split equals its cluster representative's).

    Mechanics, all integer and deterministic:

    1. The increment's band rows probe the census by (band, band_sig)
       bucket join; a match is near-dup when ≥
       ``ceil(min_est_jaccard·num_hashes)`` signature components
       agree (the sketch Jaccard estimator on an integer grid).
    2. Increment-INTERNAL near-dup pairs (same banding + estimator,
       ids ordered) feed ``connected_components`` — increment-sized,
       so the closure cost is ∝ the increment, never the corpus.
    3. Per increment component (singletons = own id), the match with
       (max agreement, min census id) is elected AMONG matches that
       have a committed splits row — a stale census entry (deleted/
       re-texted doc, orphaned band rows) can never win the election
       and silently void a valid near-dup inherit; the whole
       component inherits the elected doc's stored split. Unmatched
       components fall back to the content-hash coin of their
       representative's text (= the min-id member — exactly what the
       batch operator would elect), so batch and incremental agree
       on brand-new clusters.

    Replays are idempotent: a re-sent doc matches its own census
    signature (agreement = num_hashes) and re-inherits its committed
    split. Plan shape: the census join is keyed by the increment's
    band rows; ``splits`` is probed with a broadcast of the elected
    (tiny) match set; nothing corpus-sized shuffles. Returns one row
    per increment doc: (id, split, inherited, clustered).
    """
    import math

    from cmsspark_spark.functions.text import hash_split
    from cmsspark_spark.operators.dedup import connected_components

    bounds = boundaries or {"train": 80, "val": 90, "test": 100}
    min_agree = int(math.ceil(min_est_jaccard * num_hashes))
    if bands is not None:
        # caller-supplied band rows (same _increment_minhash_bands
        # contract and params, already materialized) — the ingest job
        # computes them ONCE per increment and shares them between
        # this assignment and the census commit instead of paying the
        # signature tokenize + its plan analysis twice
        inc = bands
    else:
        inc = _increment_minhash_bands(
            increment, n, num_hashes, rows_per_band, id_col, text_col
        ).transform(pin_frame)  # consumed by probe + self-join
    agree = F.aggregate(
        F.zip_with(
            F.col("_nsig"),
            F.col("_bsig"),
            lambda a, b: F.when(a == b, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    # the increment's band rows BROADCAST onto the (corpus-sized)
    # census, which therefore never shuffles — probe cost ∝ increment.
    # For increments too large to broadcast (bulk backfills), pass
    # broadcast_increment=False: the probe becomes a (band, band_sig)
    # hash join — the census shuffles once, still ids+signatures only.
    inc_probe = inc.select(
        F.col(id_col).alias("_nid"), "band", "band_sig",
        F.col("sig").alias("_nsig"),
    )
    if broadcast_increment:
        inc_probe = F.broadcast(inc_probe)
    matches = (
        inc_probe
        .join(
            census.select(
                F.col(id_col).alias("_bid"), "band", "band_sig",
                F.col("sig").alias("_bsig"),
            ),
            on=["band", "band_sig"],
        )
        .dropDuplicates(["_nid", "_bid"])
        .withColumn("_agree", agree)
        .filter(F.col("_agree") >= min_agree)
        .select("_nid", "_bid", "_agree")
    )
    pairs = (
        inc.select(
            F.col(id_col).alias("_nid"), "band", "band_sig",
            F.col("sig").alias("_nsig"),
        )
        .join(
            inc.select(
                F.col(id_col).alias("_bid"), "band", "band_sig",
                F.col("sig").alias("_bsig"),
            ),
            on=["band", "band_sig"],
        )
        .filter(F.col("_nid") < F.col("_bid"))
        .dropDuplicates(["_nid", "_bid"])
        .withColumn("_agree", agree)
        .filter(F.col("_agree") >= min_agree)
        .select(F.col("_nid").alias("id_a"), F.col("_bid").alias("id_b"))
    )
    comp = connected_components(pairs, "id_a", "id_b")
    labeled = increment.select(
        F.col(id_col), hash_split(text_col, bounds).alias("_own")
    ).join(
        F.broadcast(comp.withColumnRenamed("node", id_col)), id_col, "left"
    ).withColumn("_label", F.coalesce("component", F.col(id_col)))
    # component-grain election: best census match = (max agreement,
    # min admitted id) — integer struct-min, engine-stable. The
    # election runs over matches INNER-JOINED to a splits row first:
    # a stale census entry (doc deleted/re-texted since its commit,
    # or an orphaned band row from a crashed run) has no splits row
    # and must never WIN the election and then silently fall through
    # to the content-hash coin while a valid near-dup match existed —
    # that would re-introduce exactly the train/eval leakage this
    # operator prevents. splits is corpus-sized and stays shuffle-
    # free: the increment-sized match set broadcasts onto it, and
    # there is deliberately NO dropDuplicates on the probe side (a
    # read-side dedup would full-shuffle the corpus-sized splits
    # table on every increment — measured 3x on the job mile):
    # duplicate (id, split) rows — possible only in legacy state
    # written before the replay-safe appends — are absorbed by the
    # min-struct election below (min over duplicated identical tuples
    # is unchanged, and the groupBy emits one row per component
    # either way).
    matched_splits = splits.select(
        F.col(id_col).alias("_bid"), F.col("split").alias("_inh")
    ).join(F.broadcast(matches), "_bid")
    inherited = (
        matched_splits.join(
            F.broadcast(
                labeled.select(F.col(id_col).alias("_nid"), "_label")
            ),
            "_nid",
        )
        .groupBy("_label")
        .agg(
            F.min(
                F.struct(
                    (-F.col("_agree")).alias("_na"),
                    F.col("_bid").alias("_id"),
                    F.col("_inh").alias("_s"),
                )
            )["_s"].alias("_inh")
        )
    )
    # fallback representative = the component label itself (min member
    # id — the batch election), whose own coin is already in _own
    rep_own = labeled.filter(F.col(id_col) == F.col("_label")).select(
        F.col("_label"), F.col("_own").alias("_rep_own")
    )
    return (
        labeled.join(F.broadcast(inherited), "_label", "left")
        .join(F.broadcast(rep_own), "_label", "left")
        .select(
            id_col,
            F.coalesce("_inh", "_rep_own", "_own").alias("split"),
            F.col("_inh").isNotNull().alias("inherited"),
            (
                F.col("_inh").isNotNull() | F.col("component").isNotNull()
            ).alias("clustered"),
        )
    )


def commit_census_minhash(
    spark: SparkSession,
    admitted: DataFrame,
    census_path: str,
    n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "append",
    bands: DataFrame | None = None,
) -> None:
    """COMMIT step of the MinHash gate: fold the ADMITTED docs' band
    rows (+signatures) into the census. Same ordering contract as
    ``commit_census_spans``: call after the caller's own write
    succeeds. Re-sending an already-admitted doc is then
    idempotent-by-rejection (its own signature blocks it at estimated
    Jaccard 1.0).

    ``mode='overwrite'`` REBUILDS the census instead of extending it
    — the right call for a full-corpus batch (re)run over an existing
    state dir, where appending would accumulate stale band rows for
    docs deleted or re-texted since the prior build (jobs/
    assign_splits.run_batch passes this).

    ``bands``: precomputed band rows (the ``_increment_minhash_bands``
    contract, same params, restricted to the admitted docs) — the
    ingest job reuses the frame the assignment already materialized
    instead of re-tokenizing the increment here."""
    rows = (
        bands
        if bands is not None
        else _increment_minhash_bands(
            admitted, n, num_hashes, rows_per_band, id_col, text_col
        )
    )
    rows.write.mode(mode).parquet(census_path)
