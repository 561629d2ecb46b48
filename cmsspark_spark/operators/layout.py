"""Data-layout operators: Morton (z-order) and Hilbert clustering
keys, clustered parquet writes, file- and row-group-grain statistics
manifests, split pruning, and a skipping-quality report.

At 100 TB the scan IS the query: what the engine reads is governed by
file-level min/max statistics (parquet footers, lakehouse manifests)
and therefore by the layout rows were written in. A table sorted on
one key skips perfectly on that key and not at all on any other; a
Morton (z-order) interleave of two keys bounds BOTH dimensions' span
per file, so range predicates on either column prune files. These
operators make that trade measurable and writable:

- :func:`interleave_expr` — engine-portable SQL for the Morton key
  (the same string parses in Spark SQL and DuckDB);
- :func:`zorder_write` — the write path: bucket, interleave,
  ``repartitionByRange`` on the z-key, sort within partitions, write
  parquet (one global min/max agg — metadata-cheap from footers at
  scale — then a narrow map; the only shuffle is the range exchange
  the clustered write requires);
- :func:`file_stats_manifest` — per-file min/max/rowcount stats over
  an existing layout via ``input_file_name()``, the manifest a
  stats-based planner consults before listing splits.

Beyond-reference capability (the reference pipelines rewrite parquet
snapshots daily but never cluster them); design follows the public
Delta Lake ``OPTIMIZE ZORDER BY`` / Hudi space-filling-curve layout
write, re-expressed as native Catalyst column expressions.
"""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from cmsspark_spark import fsops
from cmsspark_spark.session import local_frame

#: bits per dimension in the z-order key (two dims -> 2*BITS-bit key)
ZORDER_BITS = 8


def bucket_expr(
    col: str, cmin: str, cmax: str, n: int, engine: str = "spark"
) -> str:
    """SQL for an equi-width integer bucket of ``col`` into ``[0, n)``
    given its global min/max: ``((col - min) * n) intdiv (span + 1)``.

    Pure integer arithmetic — no float division whose rounding could
    diverge between engines — and strictly below ``n`` because
    ``(d * n) intdiv (d + 1) <= n - 1`` for every span ``d >= 0``.
    ``engine`` picks the integer-division spelling (Spark ``div``,
    DuckDB ``//``); everything else is shared syntax.

    The multiply-first form overflows int64 when ``span * n > 2^63``
    (a bigint column of nanosecond epochs spans ~2^60) — Spark wraps
    silently, corrupting every curve key and file assignment. Since
    min/max are runtime columns, the guard is a SQL CASE: spans past
    ``2^62 / n`` switch to an IEEE-DOUBLE form
    ``least(floor((col-min)*n / (span+1)), n-1)`` computed on casts.
    Doubles, not wider integers, because (a) the span computation
    ``max - min`` itself overflows int64 when the domain straddles the
    full range, and (b) integer division DISAGREES between engines on
    negatives (Spark ``div`` truncates toward zero, DuckDB ``//``
    floors) — IEEE +,-,*,/ and floor are correctly-rounded and
    bit-identical in both engines, and every step is monotone, so the
    bucketing stays a deterministic monotone partition of the domain
    (merely fuzzier than exact at spans past 2^53 — irrelevant for
    layout). The guard predicate uses the same double subtraction, so
    it can never overflow either. Both branches parse identically in
    Spark SQL and DuckDB, so engine and oracle can never disagree on
    the key.
    """
    intdiv = "div" if engine == "spark" else "//"
    span1 = f"({cmax} - {cmin} + 1)"
    small = f"((({col} - {cmin}) * {n}) {intdiv} {span1})"
    cd = f"CAST({col} AS DOUBLE)"
    lod = f"CAST({cmin} AS DOUBLE)"
    hid = f"CAST({cmax} AS DOUBLE)"
    large = (
        f"least(CAST(floor((({cd} - {lod}) * {n}.0)"
        f" / (({hid} - {lod}) + 1.0)) AS BIGINT), {n - 1})"
    )
    cutoff = (1 << 62) // n
    return (
        f"(CASE WHEN ({hid} - {lod}) < {cutoff}.0 "
        f"THEN {small} ELSE {large} END)"
    )


def interleave_expr(*cols: str, bits: int = ZORDER_BITS) -> str:
    """SQL for the Morton interleave of N ``bits``-bit non-negative
    ints: bit ``i`` of column ``j`` lands at position ``i*N + j`` —
    for two columns the classic z-order (x→2i, y→2i+1). Built from
    ``>>``, ``&``, ``*`` and ``+`` only — the identical string parses
    in Spark SQL and DuckDB, so the oracle can never drift from the
    engine on the key itself. Key width is ``bits*N`` bits; the
    assert keeps it inside a signed 64-bit integer in both engines."""
    n = len(cols)
    assert n >= 1 and bits * n <= 62, "z-key must fit a signed BIGINT"
    terms = []
    for i in range(bits):
        for j, c in enumerate(cols):
            terms.append(f"((({c} >> {i}) & 1) * {1 << (i * n + j)})")
    return "(" + " + ".join(terms) + ")"


def zorder_key(
    df: DataFrame, *cols: str, bits: int = ZORDER_BITS
) -> DataFrame:
    """Attach ``_zkey``: the z-order key of N integer columns, each
    equi-width-bucketed to ``bits`` bits from its global min/max. The
    min/max pass is one scalar aggregate (at scale the reader answers
    it from parquet footers without touching row groups); the key
    itself is a narrow, codegen'd map — no window, no rank, no extra
    shuffle."""
    aggs = []
    for j, c in enumerate(cols):
        aggs.append(F.min(c).alias(f"_min{j}"))
        aggs.append(F.max(c).alias(f"_max{j}"))
    mm = df.agg(*aggs)
    buckets = [
        bucket_expr(c, f"_min{j}", f"_max{j}", 1 << bits)
        for j, c in enumerate(cols)
    ]
    drop = [f"_min{j}" for j in range(len(cols))] + [
        f"_max{j}" for j in range(len(cols))
    ]
    return (
        df.crossJoin(F.broadcast(mm))
        .withColumn("_zkey", F.expr(interleave_expr(*buckets, bits=bits)))
        .drop(*drop)
    )


def zorder_write(
    df: DataFrame,
    path: str,
    *cols: str,
    n_files: int,
    bits: int = ZORDER_BITS,
    manifest: bool = True,
) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered on the
    z-order of ``cols``: ``repartitionByRange`` over the z-key (the
    one shuffle any clustered write needs) + ``sortWithinPartitions``
    so row groups inside each file are also z-contiguous, then drop
    the key — layout is physical, not schema. The file-grain stats
    manifest is maintained AT WRITE TIME (``manifest=True``): footers
    of exactly the files just written are parsed into the
    :func:`manifest_location` sidecar — cost ∝ files written, so a
    planner reads :func:`pruned_files` off the sidecar without ever
    backfill-scanning the table."""
    keyed = zorder_key(df, *cols, bits=bits)
    (
        keyed.repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    if manifest:
        write_file_manifest(df.sparkSession, path, cols)


def file_stats_manifest(
    df: DataFrame, dims: Sequence[str]
) -> DataFrame:
    """Per-file min/max/rowcount manifest over an already-written
    layout: the table a stats-based planner consults to prune splits
    before listing them. One shuffle on (file) cells — the map side
    partial-aggregates each file's stats down to a single row, so the
    exchange carries O(n_files) rows regardless of table size."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for d in dims:
        aggs.append(F.min(d).alias(f"min_{d}"))
        aggs.append(F.max(d).alias(f"max_{d}"))
    return (
        df.withColumn(
            "file", F.substring_index(F.input_file_name(), "/", -1)
        )
        .groupBy("file")
        .agg(*aggs)
    )


def pruned_files(
    manifest: DataFrame, dim: str, lo, hi
) -> DataFrame:
    """Split-pruning decision over a stats manifest: keep only files
    whose ``[min_dim, max_dim]`` range intersects ``[lo, hi]`` — the
    complement is skipped without opening a footer. Driver-sized
    input (one row per file), pure filter."""
    return manifest.filter(
        (F.col(f"max_{dim}") >= F.lit(lo))
        & (F.col(f"min_{dim}") <= F.lit(hi))
    )


#: Bloom sidecar defaults: m bits per file, k salted position hashes.
#: m = 4096 with k = 2 gives a ~(n/m)²-ish false-positive rate — at
#: the ~100k rows/file a clustered write produces the filter saturates
#: (every probe collides) and degrades GRACEFULLY to "keep the file",
#: never to a wrong prune; size m to ~10× rows/file for real tables.
BLOOM_M = 4096
BLOOM_K = 2


def bloom_positions(col, m: int = BLOOM_M, k: int = BLOOM_K):
    """Array of a value's k Bloom bit positions — salted md5 31-bit
    hashes (``int_base_hash``, the oracle-parity formula) mod m, so
    the identical positions are computable in DuckDB:
    ``('0x'||substring(md5(v || '#i'),1,15))::BIGINT % 2147483648 %
    m``. Engine-exact by construction; NULL values contribute no
    positions (callers must not prune NULL-matching predicates with a
    Bloom)."""
    from cmsspark_spark.functions.text import int_base_hash

    v = F.col(col).cast("string") if isinstance(col, str) else col
    return F.array(
        *[
            int_base_hash(F.concat(v, F.lit(f"#{i}"))) % m
            for i in range(k)
        ]
    )


def file_bloom_manifest(
    df: DataFrame, dim: str, m: int = BLOOM_M, k: int = BLOOM_K
) -> DataFrame:
    """Per-file BLOOM sidecar over an existing layout — the point-
    lookup complement of min/max stats (r10): on a high-cardinality
    key (doc_id, LFN) a file's [min, max] spans nearly the whole
    domain unless the table is sorted on that key, so range stats
    prune nothing; a per-file Bloom answers 'might this file contain
    value v?' for exact-match predicates regardless of layout. The
    filter is stored as the SORTED ARRAY OF SET BIT POSITIONS
    (bounded by min(k·rows, m) ints — at the default m=4096 that is
    ≤16 KB per file) so the representation is engine-portable and the
    sidecar row is directly queryable. One shuffle of (file,
    position) cells with map-side distinct; never value strings.
    Output: (file, bloom_<dim> array<bigint>)."""
    pos = bloom_positions(dim, m, k)
    return (
        df.withColumn(
            "file", F.substring_index(F.input_file_name(), "/", -1)
        )
        .select("file", F.explode(pos).alias("_p"))
        .groupBy("file")
        .agg(F.sort_array(F.collect_set("_p")).alias(f"bloom_{dim}"))
    )


def pruned_files_bloom(
    manifest: DataFrame,
    dim: str,
    value,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """Point-lookup split pruning with the Bloom sidecar: keep files
    whose [min, max] covers ``value`` AND whose Bloom contains all k
    of the value's positions (a file without a ``bloom_<dim>`` row is
    conservatively kept). Strictly prunes at least as much as
    :func:`pruned_files` on equality predicates; false positives keep
    a file needlessly, false negatives are impossible."""
    probe = bloom_positions(F.lit(value).cast("string"), m, k)
    hit = F.forall(
        probe, lambda p: F.array_contains(F.col(f"bloom_{dim}"), p)
    )
    return manifest.filter(
        (F.col(f"max_{dim}") >= F.lit(value))
        & (F.col(f"min_{dim}") <= F.lit(value))
        & (F.col(f"bloom_{dim}").isNull() | hit)
    )


def rowgroup_offsets(rg_stats: DataFrame) -> DataFrame:
    """(file, row_group, start, n_rows) from a row-group stats
    manifest: each row group's first within-file row ordinal, the
    cumulative sum of its predecessors' row counts. Manifest-sized
    window (partitioned per file over a handful of row-group rows) —
    never data-sized."""
    w = (
        Window.partitionBy("file")
        .orderBy("row_group")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return rg_stats.select(
        "file",
        "row_group",
        F.coalesce(F.sum("n_rows").over(w), F.lit(0)).alias("start"),
        "n_rows",
    )


def rowgroup_bloom_manifest(
    spark,
    path: str,
    dim: str,
    files: Sequence[str] | None = None,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """ROW-GROUP-grain Bloom sidecar (r10, builder item #1 — the grain
    symmetry piece: min/max stats exist at both file and row-group
    grain, Blooms previously only at file grain). A point lookup that
    the file Bloom admits still reads the WHOLE file; with row groups
    the reader can skip to the one row group that might hold the key —
    on a clustered table that is most of the I/O.

    Row→row-group attribution is pure Spark: the hidden parquet
    ``_metadata.row_index`` column (the row's within-file ordinal) is
    joined against row-group start offsets derived from the FOOTER
    manifest (:func:`rowgroup_offsets` — a ranged-read parse, never a
    data scan). The offsets frame is manifest-sized and broadcast; the
    join is an equi-join on file plus a range predicate, so the data
    side never shuffles — the only exchange is the (file, row_group,
    position) distinct-set aggregation, same shape as the file-grain
    builder. ``files`` narrows the scan to an increment (write-time
    maintenance cost ∝ increment). Output: (file, row_group,
    bloom_<dim> sorted array<bigint>)."""
    offs = rowgroup_offsets(
        rowgroup_stats_manifest(spark, path, dims=(), files=files)
    )
    src = spark.read.parquet(*(list(files) if files else [path]))
    pos = bloom_positions(dim, m, k)
    data = src.select(
        F.substring_index(F.col("_metadata.file_path"), "/", -1).alias(
            "file"
        ),
        F.col("_metadata.row_index").alias("_ri"),
        F.explode(pos).alias("_p"),
    )
    return (
        data.join(F.broadcast(offs), on="file")
        .filter(
            (F.col("_ri") >= F.col("start"))
            & (F.col("_ri") < F.col("start") + F.col("n_rows"))
        )
        .groupBy("file", "row_group")
        .agg(F.sort_array(F.collect_set("_p")).alias(f"bloom_{dim}"))
    )


def write_rowgroup_bloom_manifest(
    spark,
    data_path: str,
    dim: str,
    files: Sequence[str] | None = None,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
    mode: str = "overwrite",
) -> str:
    """Materialize (or extend, ``mode='append'``) the row-group Bloom
    sidecar of ``data_path`` at ``<manifest>_rowgroups_bloom`` and
    return that path — the row-group sibling of
    :func:`write_bloom_manifest`, same increment discipline."""
    dest = manifest_location(data_path) + "_rowgroups_bloom"
    (
        rowgroup_bloom_manifest(spark, data_path, dim, files, m, k)
        .withColumn("bloom_m", F.lit(int(m)))
        .withColumn("bloom_k", F.lit(int(k)))
        .write.mode(mode)
        .parquet(dest)
    )
    return dest


def pruned_rowgroups_bloom(
    rg_stats: DataFrame,
    rg_blooms: DataFrame,
    dim: str,
    value,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """Point-lookup pruning at ROW-GROUP grain: keep (file, row_group)
    rows whose min/max covers ``value`` AND whose Bloom contains all k
    probe positions. A row group without a Bloom row is conservatively
    kept — false negatives impossible, exactly like the file-grain
    rung. Both inputs are manifest-sized; the join is driver-scale."""
    probe = bloom_positions(F.lit(value).cast("string"), m, k)
    hit = F.forall(
        probe, lambda p: F.array_contains(F.col(f"bloom_{dim}"), p)
    )
    return (
        rg_stats.join(rg_blooms, ["file", "row_group"], "left")
        .filter(
            (F.col(f"max_{dim}") >= F.lit(value))
            & (F.col(f"min_{dim}") <= F.lit(value))
            & (F.col(f"bloom_{dim}").isNull() | hit)
        )
    )


def read_rowgroups(
    spark,
    path: str,
    plan,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Explicit (file, row_group) parquet read — the execution half of
    row-group pruning (r10): Spark's own reader takes file paths, so a
    planner that has narrowed a point lookup to specific ROW GROUPS
    (``pruned_rowgroups_bloom``) still re-reads whole files; this
    operator opens exactly the planned row groups and nothing else.

    ``plan`` is a DataFrame with (file, row_group) columns or a list
    of such pairs — manifest-grain, collected to the driver (bounded
    by planned row groups, never rows; a planner that keeps millions
    of row groups should fall back to the file-grain read). Each plan
    entry becomes one task-side ``ParquetFile.read_row_group`` — a
    RANGED read of that row group's pages over the same scheme-mapped
    pyarrow filesystems as the footer reader (file/s3a/gs/hdfs;
    unmapped schemes raise before tasks launch). ``columns`` prunes
    the read to the named columns (parquet is columnar — unread
    columns cost nothing). Schema comes from the table footer, so the
    returned frame matches ``spark.read.parquet(path).select(cols)``.
    """
    from urllib.parse import urlparse

    if isinstance(plan, DataFrame):
        pairs = [(r.file, int(r.row_group)) for r in plan.collect()]
    else:
        pairs = [(f, int(rg)) for f, rg in plan]
    full = {
        p.rsplit("/", 1)[-1]: p
        for p in fsops.list_parquet_files(spark, path)
    }
    missing = sorted({f for f, _ in pairs if f not in full})
    if missing:
        # a stale plan (sidecar not rebuilt after compaction/vacuum)
        # must fail loudly — silently dropping entries would return a
        # frame missing those row groups' rows
        raise ValueError(
            f"read_rowgroups: plan references files absent from {path}: "
            f"{missing[:5]}{'...' if len(missing) > 5 else ''} — rebuild "
            "the row-group sidecar after rewriting the table"
        )
    src = spark.read.parquet(path)
    out_schema = src.select(*columns).schema if columns else src.schema
    cols = list(columns) if columns else [f.name for f in src.schema.fields]
    if not pairs:
        return local_frame(spark, [], out_schema)
    unmapped = {
        urlparse(full[f]).scheme
        for f, _ in pairs
        if f in full
        and urlparse(full[f]).scheme
        not in ("", "file", "s3", "s3a", "s3n", "gs", "gcs", "hdfs", "viewfs")
    }
    if unmapped:
        raise ValueError(
            f"read_rowgroups: unsupported filesystem scheme(s) {unmapped} — "
            "mapped: file, s3/s3a/s3n, gs/gcs, hdfs/viewfs"
        )
    rows = [(full[f], rg) for f, rg in pairs if f in full]
    plan_df = local_frame(
        spark,
        rows, "path string, row_group int"
    ).repartition(max(1, min(len(rows), spark.sparkContext.defaultParallelism)))

    def _read(batches):
        import pyarrow.parquet as pq
        from urllib.parse import urlparse as _up

        def _open(pth):
            u = _up(pth)
            if u.scheme in ("", "file"):
                return pq.ParquetFile(u.path if u.scheme else pth)
            import pyarrow.fs as pafs

            if u.scheme in ("s3", "s3a", "s3n"):
                fs, inner = pafs.S3FileSystem(), u.netloc + u.path
            elif u.scheme in ("gs", "gcs"):
                fs, inner = pafs.GcsFileSystem(), u.netloc + u.path
            else:
                fs, inner = (
                    pafs.HadoopFileSystem(u.hostname or "default", u.port or 0),
                    u.path,
                )
            return pq.ParquetFile(fs.open_input_file(inner))

        for pdf in batches:
            for pth, rg in zip(pdf["path"], pdf["row_group"]):
                tbl = _open(pth).read_row_group(int(rg), columns=cols)
                yield tbl.to_pandas()[cols]

    return plan_df.mapInPandas(_read, schema=out_schema)


#: Hilbert grid side for the 2-D index (8 bits/dim, like ZORDER_BITS)
HILBERT_N = 1 << ZORDER_BITS


def hilbert_level_exprs(
    s: int,
    n: int = HILBERT_N,
    x: str = "_hx",
    y: str = "_hy",
    d: str = "_hd",
) -> dict[str, str]:
    """One level of the iterative Hilbert xy→d transform (the
    Wikipedia n-rotation variant, chosen because every intermediate
    stays in ``[0, n)`` — no negative values, so the SQL needs no
    signed-bit care) as THREE portable SQL expressions over the
    previous level's (x, y, d) columns. XOR-free: with rx ∈ {0,1},
    ``(3*rx) ^ ry`` is ``3-ry`` when rx=1 else ``ry`` (DuckDB's ``^``
    is exponentiation — never use it in shared SQL). The expressions
    reference their inputs more than once, so each level MUST be
    materialized as its own projection (withColumns / CTE), never
    substituted into the next level's string — nesting grows the
    expression tree exponentially."""
    rx = f"(CASE WHEN ({x} & {s}) > 0 THEN 1 ELSE 0 END)"
    ry = f"(CASE WHEN ({y} & {s}) > 0 THEN 1 ELSE 0 END)"
    return {
        d: f"({d} + {s * s} * (CASE WHEN {rx} = 1"
           f" THEN 3 - {ry} ELSE {ry} END))",
        x: f"(CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1"
           f" THEN {n - 1} - {y} ELSE {y} END) ELSE {x} END)",
        y: f"(CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1"
           f" THEN {n - 1} - {x} ELSE {x} END) ELSE {y} END)",
    }


def hilbert_index(
    df: DataFrame, x: str, y: str, bits: int = ZORDER_BITS
) -> DataFrame:
    """Attach ``_hd``: the Hilbert-curve distance of bucketed integer
    columns ``x``, ``y`` (each already in ``[0, 2^bits)``). Hilbert
    beats Morton for range locality — consecutive index values are
    always grid NEIGHBORS (no Morton 'seam jumps'), so equal index
    ranges cover more compact rectangles and clustered files skip
    better on conjunctive range predicates. One projection per bit
    level (levels must materialize — see hilbert_level_exprs), all
    narrow and codegen'd; no shuffle, no UDF."""
    n = 1 << bits
    out = df.withColumns(
        {
            "_hx": F.col(x).cast("long"),
            "_hy": F.col(y).cast("long"),
            "_hd": F.lit(0).cast("long"),
        }
    )
    s = n // 2
    while s > 0:
        exprs = hilbert_level_exprs(s, n=n)
        out = out.withColumns({c: F.expr(e) for c, e in exprs.items()})
        s //= 2
    return out.drop("_hx", "_hy")


def hilbert_cte_chain(
    base: str,
    carry: Sequence[str],
    x: str,
    y: str,
    bits: int = ZORDER_BITS,
) -> tuple[str, str]:
    """DuckDB oracle twin of :func:`hilbert_index`: a chain of CTEs
    (one per bit level, materializing each projection — same
    anti-blowup rule) transforming (``x``, ``y``) from CTE ``base``
    into the Hilbert distance. Returns (cte_fragment, final_cte_name);
    the fragment starts with a comma, ready to splice after an
    existing WITH list. ``carry`` columns pass through untouched."""
    n = 1 << bits
    cols = ", ".join(carry)
    parts = [
        f"h0 AS (SELECT {cols}, CAST({x} AS BIGINT) AS _hx,"
        f" CAST({y} AS BIGINT) AS _hy, CAST(0 AS BIGINT) AS _hd"
        f" FROM {base})"
    ]
    k = 0
    s = n // 2
    while s > 0:
        e = hilbert_level_exprs(s, n=n)
        parts.append(
            f"h{k + 1} AS (SELECT {cols}, {e['_hx']} AS _hx,"
            f" {e['_hy']} AS _hy, {e['_hd']} AS _hd FROM h{k})"
        )
        k += 1
        s //= 2
    return ",\n    " + ",\n    ".join(parts), f"h{k}"


def hilbert_write(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    n_files: int,
    bits: int = ZORDER_BITS,
    manifest: bool = True,
) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered on the
    Hilbert distance of ``(x, y)`` — same shape as :func:`zorder_write`
    (one min/max scalar agg, narrow key map, one range exchange) with
    the better-locality curve: Hilbert file footprints are compact
    rectangles with no Morton seam jumps, so conjunctive range
    predicates prune more files at equal file counts. Maintains the
    write-time stats-manifest sidecar like :func:`zorder_write`."""
    keyed, key = curve_key(df, x, y, curve="hilbert", bits=bits)
    (
        keyed.repartitionByRange(n_files, key)
        .sortWithinPartitions(key)
        .drop(key)
        .write.mode("overwrite")
        .parquet(path)
    )
    if manifest:
        write_file_manifest(df.sparkSession, path, (x, y))


def curve_key(
    df: DataFrame,
    x: str,
    y: str,
    curve: str = "hilbert",
    bits: int = ZORDER_BITS,
) -> tuple[DataFrame, str]:
    """Attach a space-filling-curve key over ``(x, y)`` — ``"zorder"``
    (Morton) or ``"hilbert"`` — bucketing each column to ``bits`` bits
    from its global min/max first. Returns ``(df_with_key, key_col)``
    with every intermediate column dropped, so callers can feed the
    result straight into ``repartitionByRange(key)`` (clustered
    writes, compaction). Same cost shape as :func:`zorder_key`: one
    scalar min/max agg broadcast + a narrow key map."""
    if curve == "zorder":
        return zorder_key(df, x, y, bits=bits), "_zkey"
    if curve != "hilbert":
        raise ValueError(f"unknown curve {curve!r}")
    mm = df.agg(
        F.min(x).alias("_min0"),
        F.max(x).alias("_max0"),
        F.min(y).alias("_min1"),
        F.max(y).alias("_max1"),
    )
    bx = bucket_expr(x, "_min0", "_max0", 1 << bits)
    by = bucket_expr(y, "_min1", "_max1", 1 << bits)
    keyed = hilbert_index(
        df.crossJoin(F.broadcast(mm))
        .withColumn("_bx", F.expr(bx))
        .withColumn("_by", F.expr(by)),
        "_bx",
        "_by",
        bits=bits,
    )
    return (
        keyed.drop("_bx", "_by", "_min0", "_max0", "_min1", "_max1"),
        "_hd",
    )


def clustering_health(
    manifest: DataFrame,
    dims: Sequence[str],
    partition_col: str | None = None,
) -> DataFrame:
    """Layout health off the STATS MANIFEST alone (no data, no footer
    reads — driver-sized input): per partition (or whole table) the
    file count and, per dimension, the mean fraction of the partition's
    key range a single file spans. A freshly curve-clustered partition
    scores small fractions on every dimension; appends push them
    toward 1.0 (each appended file spans ~everything) — exactly the
    degradation signal the write-time manifest exists to expose.
    Returns one row per partition: (partition?, n_files, n_rows,
    span_frac_<dim>...)."""
    keys = [partition_col] if partition_col else []
    w = Window.partitionBy(*keys) if keys else Window.partitionBy()
    cols = list(keys) + [
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_rows").cast("long").alias("n_rows"),
    ]
    fracs = []
    base = manifest
    for d in dims:
        lo = F.min(f"min_{d}").over(w)
        hi = F.max(f"max_{d}").over(w)
        frac = (F.col(f"max_{d}") - F.col(f"min_{d}") + 1) / (
            hi - lo + 1
        )
        base = base.withColumn(f"_frac_{d}", frac)
        fracs.append(
            F.round(F.avg(f"_frac_{d}"), 4).alias(f"span_frac_{d}")
        )
    grouped = base.groupBy(*keys) if keys else base.groupBy()
    return grouped.agg(*(cols[len(keys):] + fracs))


def compaction_candidates(
    manifest: DataFrame,
    dims: Sequence[str],
    partition_col: str | None = None,
    max_files: int = 8,
    max_span_frac: float = 0.5,
) -> DataFrame:
    """The OPTIMIZE trigger: partitions whose manifest says they need
    re-clustering — too many files (small-file fragmentation) or mean
    per-file span fraction past ``max_span_frac`` on ANY cluster
    dimension (de-clustered by appends). Feed the result to
    ``incremental.compact_partitions(cluster_by=dims)`` or the
    OPTIMIZE CLI; at 100 TB this decision reads k rows per partition
    from the sidecar instead of scanning anything."""
    health = clustering_health(manifest, dims, partition_col)
    cond = F.col("n_files") > int(max_files)
    for d in dims:
        cond = cond | (F.col(f"span_frac_{d}") > float(max_span_frac))
    return health.filter(cond)


def manifest_location(path: str) -> str:
    """Canonical sidecar location for a table's file-stats manifest:
    ``<table>_manifest`` — beside the data, never inside it (a reader
    globbing ``<table>/*.parquet`` must not pick up manifest rows)."""
    return path.rstrip("/") + "_manifest"


def write_file_manifest(
    spark,
    data_path: str,
    dims: Sequence[str],
    files: Sequence[str] | None = None,
    literals: dict | None = None,
    partition_by: Sequence[str] = (),
    rowgroups: bool = False,
) -> str:
    """Materialize the FILE-grain stats manifest of ``data_path`` as a
    parquet sidecar at :func:`manifest_location` and return that path
    — the write-time half of the manifest family. Stats come from
    parquet FOOTERS (ranged reads, cost ∝ number of files touched —
    see :func:`rowgroup_stats_manifest`), so a write path can refresh
    the manifest for exactly the files it just wrote without a data
    scan. ``literals`` attaches constant columns (e.g. the partition
    value a compaction just rewrote); with ``partition_by`` the
    sidecar is itself partitioned and updated by DYNAMIC overwrite, so
    an incremental writer replaces only the touched partitions' rows
    and the rest of the manifest stands. ``rowgroups=True``
    additionally writes the ROW-GROUP-grain table (what readers
    actually prune with inside clustered files) to
    ``<manifest>_rowgroups`` from the SAME footer parse — the parse
    runs once, localCheckpointed, feeding both grains."""
    rg = rowgroup_stats_manifest(spark, data_path, dims, files=files)
    if rowgroups:
        rg = rg.localCheckpoint(eager=True)  # one parse, two consumers
    aggs = [F.sum("n_rows").cast("long").alias("n_rows")]
    for d in dims:
        aggs.append(F.min(f"min_{d}").alias(f"min_{d}"))
        aggs.append(F.max(f"max_{d}").alias(f"max_{d}"))
    man = rg.groupBy("file").agg(*aggs)
    for c, v in (literals or {}).items():
        man = man.withColumn(c, F.lit(v))
        if rowgroups:
            rg = rg.withColumn(c, F.lit(v))
    dest = manifest_location(data_path)

    def _write(df, path):
        if partition_by:
            from cmsspark_spark.sinks import write_partitioned_parquet

            write_partitioned_parquet(
                df, path, partition_by=tuple(partition_by),
                mode="overwrite", dynamic=True,
            )
        else:
            df.write.mode("overwrite").parquet(path)

    _write(man, dest)
    if rowgroups:
        _write(rg, dest + "_rowgroups")
    return dest


def write_bloom_manifest(
    spark,
    data_path: str,
    dim: str,
    files: Sequence[str] | None = None,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
    mode: str = "overwrite",
) -> str:
    """Materialize (or extend) the per-file BLOOM sidecar of
    ``data_path`` at ``<manifest>_bloom`` and return that path.
    Unlike the min/max manifest this needs the VALUES, so it scans —
    but only the ``files`` subset when given (the write paths pass
    exactly the files they just wrote: maintenance cost ∝ increment,
    the same discipline as the footer manifest)."""
    reader = spark.read
    src = (
        reader.parquet(*files) if files else reader.parquet(data_path)
    )
    dest = manifest_location(data_path) + "_bloom"
    # m/k recorded in the sidecar: a reader probing with different
    # parameters would compute wrong positions — false NEGATIVES, a
    # missed hit, not just a weaker prune. Readers must use these.
    (
        file_bloom_manifest(src, dim, m, k)
        .withColumn("bloom_m", F.lit(int(m)))
        .withColumn("bloom_k", F.lit(int(k)))
        .write.mode(mode)
        .parquet(dest)
    )
    return dest


def append_with_manifest(
    df: DataFrame,
    path: str,
    dims: Sequence[str],
    rowgroups: bool = False,
    bloom_dim: str | None = None,
    bloom_rowgroups: bool = False,
) -> list[str]:
    """APPEND an increment to an (unpartitioned) table and extend its
    stats-manifest sidecar by footer-parsing ONLY the files the append
    created (a metadata call, never a scan). The increment and its
    manifest rows land through the snapshot staged write
    (``snapshots._write_attributed``), so the appended set is exactly
    this write's files — a concurrent appender's files are never
    manifested twice. The incremental complement of the clustered
    write paths: appends de-cluster a table — new files span wide key
    ranges — and after this call the manifest SAYS so, so a planner's
    :func:`pruned_files` stays correct (it keeps the sloppy new files
    for most predicates) and an OPTIMIZE/compaction pass can be
    triggered off the manifest's span degradation without ever
    re-scanning the data. Returns the appended file paths."""
    from cmsspark_spark.operators.snapshots import _write_attributed

    spark = df.sparkSession
    root = fsops.qualify(spark, path)
    new_files = [
        f"{root}/{n}" for n in _write_attributed(df, path, prefix="append")
    ]
    rg = rowgroup_stats_manifest(spark, path, dims, files=new_files)
    if rowgroups:
        rg = rg.localCheckpoint(eager=True)
    aggs = [F.sum("n_rows").cast("long").alias("n_rows")]
    for d in dims:
        aggs.append(F.min(f"min_{d}").alias(f"min_{d}"))
        aggs.append(F.max(f"max_{d}").alias(f"max_{d}"))
    man = rg.groupBy("file").agg(*aggs)
    dest = manifest_location(path)
    _write_attributed(man, dest, prefix="append")
    if rowgroups:
        _write_attributed(rg, dest + "_rowgroups", prefix="append")
    if bloom_dim is not None and new_files:
        # Bloom sidecar rows for exactly the appended files (scan ∝
        # increment); append-extends <manifest>_bloom like the stats.
        # The EXISTING sidecar's recorded (m, k) take precedence over
        # the module defaults — appending rows built with different
        # parameters would corrupt the index (mixed-parameter probes
        # are false negatives; point_lookup rejects such sidecars).
        def _existing_mk(dest: str) -> tuple[int, int]:
            try:
                side = spark.read.parquet(dest)
            except Exception:
                return BLOOM_M, BLOOM_K  # no sidecar yet
            if "bloom_m" not in side.columns or "bloom_k" not in side.columns:
                if side.limit(1).count() > 0:
                    # A legacy sidecar with rows but NO recorded (m, k):
                    # extending it with default-parameter rows would mix
                    # parameters undetectably (the legacy rows carry
                    # none) — silent false negatives at probe time.
                    # Refuse; the fix is a rebuild, which records them.
                    raise ValueError(
                        f"{dest} has rows but no recorded bloom (m, k) — "
                        "rebuild the sidecar with write_bloom_manifest "
                        "before appending to it"
                    )
                return BLOOM_M, BLOOM_K
            combos = side.select("bloom_m", "bloom_k").distinct().collect()
            vals = {(r.bloom_m, r.bloom_k) for r in combos}
            if not vals:
                return BLOOM_M, BLOOM_K
            if len(vals) > 1 or any(None in c for c in vals):
                raise ValueError(
                    f"{dest} mixes bloom parameters "
                    f"{sorted(vals, key=str)} — rebuild it with one (m, k)"
                )
            (mk,) = vals
            return int(mk[0]), int(mk[1])

        bm, bk = _existing_mk(manifest_location(path) + "_bloom")
        write_bloom_manifest(
            spark, path, bloom_dim, files=new_files, m=bm, k=bk,
            mode="append",
        )
        if bloom_rowgroups:
            rm, rk = _existing_mk(
                manifest_location(path) + "_rowgroups_bloom"
            )
            write_rowgroup_bloom_manifest(
                spark, path, bloom_dim, files=new_files, m=rm, k=rk,
                mode="append",
            )
    return new_files


#: URI schemes the EXECUTOR-side pyarrow reader handles natively (see
#: ``_make_footer_reader``); anything else (abfs/abfss/wasb/o3fs/…)
#: falls back to the DRIVER-side Hadoop ranged read below.
_PYARROW_FOOTER_SCHEMES = frozenset(
    ("", "file", "s3", "s3a", "s3n", "gs", "gcs", "hdfs", "viewfs")
)


class _TailOnlyFile:
    """Seekable read-only file view that SERVES only a pre-fetched
    tail range [start, size) of a logically ``size``-byte file — what
    ``pq.read_metadata`` needs (the 8-byte trailer + thrift footer)
    and nothing more. Any read outside the fetched range raises, so a
    test (or a regression) that touches row-group bytes fails loudly
    instead of silently downloading data."""

    def __init__(self, size: int, start: int, tail: bytes):
        self._size, self._start, self._tail = size, start, tail
        self._pos = 0

    def seek(self, off: int, whence: int = 0) -> int:
        base = (0, self._pos, self._size)[whence]
        self._pos = base + off
        return self._pos

    def tell(self) -> int:
        return self._pos

    def read(self, n: int = -1) -> bytes:
        if n < 0:
            n = self._size - self._pos
        # pq.read_metadata verifies the 4-byte HEADER magic too; the
        # trailer check already proved the file is parquet, so the
        # prefix is served synthetically instead of fetched.
        if self._pos + n <= 4:
            out = b"PAR1"[self._pos : self._pos + n]
            self._pos += len(out)
            return out
        if self._pos < self._start:
            raise IOError(
                f"read at {self._pos} outside fetched footer tail "
                f"[{self._start}, {self._size})"
            )
        lo = self._pos - self._start
        out = self._tail[lo : lo + n]
        self._pos += len(out)
        return out

    def seekable(self) -> bool:
        return True

    def readable(self) -> bool:
        return True

    def writable(self) -> bool:
        return False

    def close(self) -> None:
        pass

    @property
    def closed(self) -> bool:
        return False


def _hadoop_footer_tail(spark, pth: str) -> tuple[int, int, bytes]:
    """(file_size, tail_start, tail_bytes) of a parquet file via the
    Hadoop FileSystem API — TWO positioned seek + bounded reads (the
    8-byte trailer, then the thrift footer it sizes), so the transfer
    is footer-sized regardless of file size. Driver-side (the Hadoop
    FS lives in the JVM gateway); bytes cross py4j as ONE returned
    ``byte[]`` per read (``commons-io IOUtils.toByteArray`` — py4j
    auto-converts RETURNED arrays, while out-parameter arrays filled
    by ``readFully(pos, buf)`` are not mutation-visible across the
    gateway)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(pth)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    size = fs.getFileStatus(jpath).getLen()
    jin = fs.open(jpath)
    try:

        def ranged(pos: int, ln: int) -> bytes:
            jin.seek(pos)
            return bytes(
                jvm.org.apache.commons.io.IOUtils.toByteArray(jin, ln)
            )

        trailer = ranged(size - 8, 8)
        if trailer[4:] != b"PAR1":
            raise ValueError(f"{pth!r} is not a parquet file (bad magic)")
        flen = int.from_bytes(trailer[:4], "little")
        # pyarrow's metadata reader prefetches up to 64 KiB from the
        # end (and the whole file when smaller) — serve that window so
        # read_metadata never reaches outside the fetched tail, while
        # the transfer stays bounded by max(footer+8, 64 KiB).
        start = max(0, size - max(flen + 8, 65536))
        return size, start, ranged(start, size - start)
    finally:
        jin.close()


def hadoop_footer_metadata(spark, pth: str):
    """Parquet FileMetaData for any scheme the JVM's Hadoop FileSystem
    can open (abfs/abfss/wasb/…, given the cluster's Hadoop Azure/…
    jars) — the r10 fallback for schemes pyarrow's native filesystems
    lack. Ranged by construction: only the footer tail crosses the
    wire (``_hadoop_footer_tail``), and ``_TailOnlyFile`` makes any
    out-of-tail read an error rather than a silent download."""
    import pyarrow.parquet as pq

    size, start, tail = _hadoop_footer_tail(spark, pth)
    return pq.read_metadata(_TailOnlyFile(size, start, tail))


def _make_footer_reader():
    """Parquet-footer metadata reader keyed on the path's URI scheme,
    returned as a NESTED function so executor closures pickle it BY
    VALUE (the package is never imported on executors).

    Scheme map (the r8 advice fix — bare ``pq.ParquetFile(path)``
    relied on pyarrow's path inference, which does not recognize
    Hadoop's ``s3a://`` and needs libhdfs for ``hdfs://``):

    - ``file:`` / bare paths → local OS path.
    - ``s3a/s3n/s3`` → ``pyarrow.fs.S3FileSystem`` (credentials from
      the standard AWS env/instance chain on each executor).
    - ``gs/gcs`` → ``pyarrow.fs.GcsFileSystem``.
    - ``hdfs/viewfs`` → ``pyarrow.fs.HadoopFileSystem`` — requires
      libhdfs + Hadoop client config on every executor.
    - anything else (abfs, wasb, …) → handled BEFORE tasks launch:
      ``rowgroup_stats_manifest`` routes those paths through the
      driver-side Hadoop ranged read (``hadoop_footer_metadata``), so
      this executor-side reader only ever sees mapped schemes; it
      still raises a clear ValueError if reached directly.

    Reads stay RANGED either way: ParquetFile over a filesystem handle
    fetches the footer tail, never row-group bytes."""

    def footer_metadata(pth: str):
        from urllib.parse import urlparse

        import pyarrow.parquet as pq

        u = urlparse(pth)
        scheme = u.scheme
        if scheme in ("", "file"):
            return pq.ParquetFile(u.path if scheme else pth).metadata
        import pyarrow.fs as pafs

        if scheme in ("s3", "s3a", "s3n"):
            fs = pafs.S3FileSystem()
            inner = u.netloc + u.path
        elif scheme in ("gs", "gcs"):
            fs = pafs.GcsFileSystem()
            inner = u.netloc + u.path
        elif scheme in ("hdfs", "viewfs"):
            fs = pafs.HadoopFileSystem(u.hostname or "default", u.port or 0)
            inner = u.path
        else:
            raise ValueError(
                f"rowgroup_stats_manifest: unsupported filesystem scheme "
                f"{scheme!r} in {pth!r}; mapped schemes: file, s3/s3a/s3n, "
                f"gs/gcs, hdfs/viewfs — extend _make_footer_reader or "
                f"re-list with a supported URI"
            )
        with fs.open_input_file(inner) as f:
            return pq.ParquetFile(f).metadata

    return footer_metadata


def rowgroup_stats_manifest(
    spark, path: str, dims: Sequence[str], files: Sequence[str] | None = None
) -> DataFrame:
    """Row-group-grain min/max/rowcount manifest — one level below
    :func:`file_stats_manifest`, matching what parquet readers
    actually prune with (a file whose span looks useless can still
    skip most of its ROW GROUPS when rows are sorted/clustered within
    it — exactly what ``sortWithinPartitions`` in the clustered write
    paths buys). The driver lists file PATHS (Hadoop FS metadata
    call); tasks receive paths, not contents, and pyarrow's
    ParquetFile does a RANGED read of each FOOTER — a few KB per file
    regardless of file size, never a row group (the r7 form shipped
    whole files through ``binaryFile`` just to parse their tails).
    ``dims`` must be integer columns (the manifest schema types them
    long). ``files`` narrows the parse to an explicit subset — the
    write paths pass exactly the files they just wrote, which is what
    makes write-time manifest maintenance cost ∝ increment, not
    table size. Remote filesystems go through an explicit scheme map
    (``_make_footer_reader``: file/s3a/gs/hdfs on executors) rather
    than pyarrow path inference — hdfs additionally needs libhdfs on
    executors; schemes pyarrow lacks (abfs/abfss/wasb/…) fall back to
    DRIVER-side Hadoop ranged reads (``hadoop_footer_metadata`` — two
    positioned reads per file, footer-sized transfer) so the manifest
    family is cluster-complete on any Hadoop-readable store."""
    from urllib.parse import urlparse
    dims = tuple(dims)
    schema = ", ".join(
        ["file string, row_group int, n_rows long"]
        + [f"min_{d} long, max_{d} long" for d in dims]
    )
    cols = ["file", "row_group", "n_rows"] + [
        f"{m}_{d}" for d in dims for m in ("min", "max")
    ]
    paths = list(files) if files is not None else fsops.list_parquet_files(
        spark, path
    )
    exec_paths = [
        p for p in paths if urlparse(p).scheme in _PYARROW_FOOTER_SCHEMES
    ]
    driver_set = set(paths) - set(exec_paths)
    driver_paths = [p for p in paths if p in driver_set]
    footer_metadata = _make_footer_reader()

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for pth in pdf["path"]:
                md = footer_metadata(pth)
                names = {
                    md.schema.column(j).name: j
                    for j in range(md.num_columns)
                }
                for i in range(md.num_row_groups):
                    rg = md.row_group(i)
                    rec = {
                        "file": pth.rsplit("/", 1)[-1],
                        "row_group": i,
                        "n_rows": rg.num_rows,
                    }
                    for d in dims:
                        st = rg.column(names[d]).statistics
                        rec[f"min_{d}"] = st.min
                        rec[f"max_{d}"] = st.max
                    rows.append(rec)
            yield pd.DataFrame(rows, columns=cols)

    parts = []
    if exec_paths:
        files_df = local_frame(
            spark,
            [(p,) for p in exec_paths], "path string"
        ).repartition(max(1, min(len(exec_paths), 32)))
        parts.append(files_df.mapInPandas(parse, schema=schema))
    if driver_paths:
        # pyarrow-less schemes: footer tails fetched through the JVM's
        # Hadoop FileSystem on the driver (bounded — footer KBs × the
        # narrowed file list), parsed with the same record logic
        rows = []
        for pth in driver_paths:
            md = hadoop_footer_metadata(spark, pth)
            names = {
                md.schema.column(j).name: j for j in range(md.num_columns)
            }
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                rec = {
                    "file": pth.rsplit("/", 1)[-1],
                    "row_group": i,
                    "n_rows": rg.num_rows,
                }
                for d in dims:
                    st = rg.column(names[d]).statistics
                    rec[f"min_{d}"] = st.min
                    rec[f"max_{d}"] = st.max
                rows.append(tuple(rec[c] for c in cols))
        parts.append(local_frame(spark, rows, schema))
    if not parts:
        return local_frame(spark, [], schema)
    out = parts[0]
    for extra in parts[1:]:
        out = out.unionByName(extra)
    return out


def orphan_files(
    spark,
    data_path: str,
    min_age_s: int = 86400,
) -> list[tuple[str, int, int]]:
    """Parquet files on disk that the table's stats manifest does NOT
    know about — the residue of interrupted compactions/rewrites (a
    crash between 'write new files' and 'refresh manifest/delete old'
    leaves data files no planner will route to). Returns
    [(path, size, age_s)] for every on-disk parquet whose basename is
    absent from the manifest's ``file`` column AND whose modification
    time is at least ``min_age_s`` old — the age guard keeps a
    CONCURRENT writer's just-written, not-yet-manifested files safe
    (the same grace Delta's VACUUM retention period provides).
    Metadata-only: one recursive listing + one manifest scan; no data
    is read."""
    import time

    manifest = spark.read.parquet(manifest_location(data_path))
    known = {r.file for r in manifest.select("file").distinct().collect()}
    now_ms = int(time.time() * 1000)
    out = []
    dirs = [data_path.rstrip("/")]
    while dirs:
        d = dirs.pop()
        for name, is_dir, size, mtime_ms in fsops.listdir(spark, d):
            if is_dir:
                dirs.append(f"{d}/{name}")
                continue
            if not name.endswith(".parquet") or name.startswith(("_", ".")):
                continue
            if name in known:
                continue
            age_s = max(0, (now_ms - mtime_ms) // 1000)
            if age_s >= min_age_s:
                out.append((f"{d}/{name}", size, int(age_s)))
    return sorted(out)


def vacuum_table(
    spark,
    data_path: str,
    min_age_s: int = 86400,
    dry_run: bool = True,
) -> dict:
    """Delete manifest-orphaned parquet files from a table directory
    (the lakehouse VACUUM shape, driven by this repo's stats manifest
    instead of a transaction log). ``dry_run=True`` (the default —
    deletion must be opted into) only reports. Returns
    ``{"orphans": [(path, size, age_s)...], "deleted": [path...],
    "bytes_reclaimed": int}``. Only files the manifest does not list
    AND older than ``min_age_s`` are touched; the manifest sidecar
    itself and non-parquet files are never candidates."""
    orphans = orphan_files(spark, data_path, min_age_s=min_age_s)
    deleted: list[str] = []
    if not dry_run and orphans:
        for p, _size, _age in orphans:
            if fsops.delete(spark, p):
                deleted.append(p)
    return {
        "orphans": orphans,
        "deleted": deleted,
        "bytes_reclaimed": sum(
            s for p, s, _ in orphans if not dry_run and p in set(deleted)
        ),
    }


def retain_day_partitions(
    spark,
    table_path: str,
    keep_days: int,
    day_col: str = "day",
    dry_run: bool = True,
    refresh_manifest_dims: Sequence[str] | None = None,
) -> dict:
    """Retention for day-partitioned curated tables: keep the newest
    ``keep_days`` ``day=`` partition directories, delete the rest —
    the operational complement of the incremental recompute path
    (history grows one partition per day forever without this).
    Partition discovery and deletion are pure metadata calls (one
    directory listing, one recursive delete per expired partition);
    nothing is scanned. With ``refresh_manifest_dims`` the stats
    manifest sidecar is REBUILT from the surviving files' footers
    after deletion (the file-grain manifest stores basenames, so
    expired rows can't be dropped in place); cost ∝ surviving files.
    Returns ``{"kept": [...], "expired": [...], "deleted": bool}``."""
    days = [
        name
        for name, is_dir, _s, _m in fsops.listdir(spark, table_path)
        if is_dir and name.startswith(f"{day_col}=")
    ]
    if keep_days <= 0:
        raise ValueError("keep_days must be positive")
    days.sort()
    kept, expired = days[-keep_days:], days[:-keep_days]
    did_delete = False
    if not dry_run and expired:
        for name in expired:
            fsops.delete(spark, f"{table_path}/{name}", recursive=True)
        did_delete = True
        if refresh_manifest_dims:
            write_file_manifest(spark, table_path, refresh_manifest_dims)
    return {"kept": kept, "expired": expired, "deleted": did_delete}
