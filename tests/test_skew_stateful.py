"""Skew-salting equivalence tests + stateful streaming sessionization."""

from __future__ import annotations

import json

import pytest
import pyspark.sql.functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from cmsspark_spark import streaming as ST
from cmsspark_spark.operators import skew


def test_salted_agg_equals_plain_agg(spark):
    # one hot key (90% of rows) + long tail
    rows = [("hot", float(i)) for i in range(900)] + [
        (f"k{i % 7}", float(i)) for i in range(100)
    ]
    df = spark.createDataFrame(rows, ["k", "v"])
    plain = {
        (r.k): (r.s, r.c)
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()
    }
    salted = {
        (r.k): (r.s, r.c)
        for r in skew.salted_agg(
            df,
            ["k"],
            partial_aggs=[F.sum("v").alias("_s"), F.count(F.lit(1)).alias("_c")],
            final_aggs=[F.sum("_s").alias("s"), F.sum("_c").alias("c")],
        ).collect()
    }
    assert salted == plain


def test_salted_broadcast_left_equals_plain_join(spark):
    left = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [("cold", 1), ("miss", 2)], ["k", "v"]
    )
    right = spark.createDataFrame([("hot", "H"), ("cold", "C")], ["k", "tag"])
    plain = sorted(
        (r.k, r.v, r.tag) for r in left.join(right, on=["k"]).collect()
    )
    salted = sorted(
        (r.k, r.v, r.tag)
        for r in skew.salted_broadcast_left(left, right, on=["k"]).collect()
    )
    assert salted == plain
    # left-outer preserves unmatched left rows exactly once
    lo = sorted(
        (r.k, r.v, r.tag)
        for r in skew.salted_broadcast_left(
            left, right, on=["k"], how="left"
        ).collect()
    )
    plain_lo = sorted(
        (r.k, r.v, r.tag)
        for r in left.join(right, on=["k"], how="left").collect()
    )
    assert lo == plain_lo
    # anti: a left row survives iff NO right row shares its key (every
    # right key reaches every salt via the replication)
    anti = sorted(
        (r.k, r.v)
        for r in skew.salted_broadcast_left(
            left, right, on=["k"], how="left_anti"
        ).collect()
    )
    assert anti == [("miss", 2)]
    # r5 guard: right/full outer would duplicate unmatched right rows
    # once per salt -> rejected loudly instead
    import pytest as _pytest

    with _pytest.raises(ValueError):
        skew.salted_broadcast_left(left, right, on=["k"], how="full")


def test_stateful_sessionization_across_batches(spark, tmp_path):
    """applyInPandasWithState keeps per-user state across micro-batches:
    two input files arriving as separate batches must produce the same
    session counts as the batch lag-window computation."""
    src = tmp_path / "in"
    src.mkdir()
    schema = StructType(
        [
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
        ]
    )
    # user 1: events 10min apart (1 session) then a 2h gap (2nd session)
    # user 2: single event
    batch1 = [
        {"ts": "2024-01-01 10:00:00", "user_id": 1},
        {"ts": "2024-01-01 10:10:00", "user_id": 1},
        {"ts": "2024-01-01 09:00:00", "user_id": 2},
    ]
    batch2 = [
        {"ts": "2024-01-01 12:30:00", "user_id": 1},
        {"ts": "2024-01-01 12:40:00", "user_id": 1},
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in batch1))

    stream = (
        spark.readStream.schema(
            StructType(
                [
                    StructField("ts", StringType()),
                    StructField("user_id", LongType()),
                ]
            )
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = ST.sessionize_stateful(stream, gap_seconds=1800)
    q = (
        out.writeStream.format("memory")
        .queryName("t_sessions")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # second batch arrives; run another availableNow pass on same checkpoint?
    # memory sink + availableNow restarts state unless checkpointed: use
    # a checkpoint dir and a second start.
    (src / "b2.json").write_text("\n".join(json.dumps(r) for r in batch2))
    q2 = (
        out.writeStream.format("memory")
        .queryName("t_sessions2")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)
    got = {
        r.user_id: r.n_sessions
        for r in spark.sql(
            "SELECT user_id, max(n_sessions) n_sessions FROM t_sessions2 GROUP BY user_id"
        ).collect()
    }
    assert got[1] == 2  # 10:00-10:10 session + 12:30-12:40 session
    assert got[2] == 1


# ---------------------------------------------------------------------------
# Curated-table lifecycle: upsert / retention / schema evolution
# ---------------------------------------------------------------------------


def test_upsert_partitions_merge_semantics(spark, tmp_path):
    from cmsspark_spark.operators.incremental import (
        read_curated,
        upsert_partitions,
    )
    from cmsspark_spark.sinks import write_partitioned_parquet

    base = spark.createDataFrame(
        [("2024-01-01", 1, "a", 10.0), ("2024-01-01", 2, "b", 20.0),
         ("2024-01-02", 3, "c", 30.0), ("2024-01-03", 4, "d", 40.0)],
        "day: string, k: long, name: string, v: double",
    )
    path = str(tmp_path / "tbl")
    write_partitioned_parquet(base, path, partition_by=("day",))
    # capture day-03's files: an untouched partition must not rewrite
    import glob
    before = set(glob.glob(f"{path}/day=2024-01-03/*.parquet"))

    updates = spark.createDataFrame(
        [("2024-01-01", 2, "B", 200.0),   # match → replace
         ("2024-01-02", 9, "z", 90.0)],   # no match → insert
        "day: string, k: long, name: string, v: double",
    )
    upsert_partitions(spark, path, updates, key_cols=["day", "k"])
    got = {
        (str(r["day"]), r["k"], r["name"], r["v"])
        for r in read_curated(spark, path).collect()
    }
    assert got == {
        ("2024-01-01", 1, "a", 10.0), ("2024-01-01", 2, "B", 200.0),
        ("2024-01-02", 3, "c", 30.0), ("2024-01-02", 9, "z", 90.0),
        ("2024-01-03", 4, "d", 40.0),
    }
    after = set(glob.glob(f"{path}/day=2024-01-03/*.parquet"))
    assert before == after  # untouched partition: same physical files


def test_enforce_retention_drops_old_partitions(spark, tmp_path):
    from cmsspark_spark.operators.incremental import (
        enforce_retention,
        read_curated,
    )
    from cmsspark_spark.sinks import write_partitioned_parquet

    df = spark.createDataFrame(
        [(f"2024-01-{d:02d}", d) for d in range(1, 11)],
        "day: string, v: long",
    )
    # a bare path and a file: URI drop the same partitions
    for prefix in ("", "file:"):
        path = prefix + str(tmp_path / f"tbl{len(prefix)}")
        write_partitioned_parquet(df, path, partition_by=("day",))
        dropped = enforce_retention(
            spark, path, keep_days=3, as_of="2024-01-10"
        )
        assert dropped == [f"2024-01-{d:02d}" for d in range(1, 7)]
        left = {str(r["day"]) for r in read_curated(spark, path).collect()}
        assert left == {f"2024-01-{d:02d}" for d in range(7, 11)}


def test_schema_evolution_merge_schema(spark, tmp_path):
    from cmsspark_spark.operators.incremental import read_curated_evolved
    from cmsspark_spark.sinks import write_partitioned_parquet

    v1 = spark.createDataFrame(
        [("2024-01-01", 1, 10.0)], "day: string, k: long, v: double"
    )
    v2 = spark.createDataFrame(
        [("2024-01-02", 2, 20.0, "new")],
        "day: string, k: long, v: double, tag: string",
    )
    path = str(tmp_path / "tbl")
    write_partitioned_parquet(v1, path, partition_by=("day",))
    write_partitioned_parquet(v2, path, partition_by=("day",), mode="append")
    got = read_curated_evolved(spark, path)
    assert "tag" in got.columns
    rows = {(str(r["day"]), r["k"], r["tag"]) for r in got.collect()}
    # old partition surfaces the new column as null — history unrewritten
    assert rows == {("2024-01-01", 1, None), ("2024-01-02", 2, "new")}


def test_compact_partitions_rewrites_fragmented_only(spark, tmp_path):
    from cmsspark_spark.operators.incremental import (
        compact_partitions,
        read_curated,
    )
    from cmsspark_spark.sinks import write_partitioned_parquet
    import glob

    frag = spark.createDataFrame(
        [("2024-01-01", i, float(i)) for i in range(100)],
        "day: string, k: long, v: double",
    ).repartition(8)
    healthy = spark.createDataFrame(
        [("2024-01-02", i, float(i)) for i in range(10)],
        "day: string, k: long, v: double",
    ).coalesce(1)
    path = str(tmp_path / "tbl")
    write_partitioned_parquet(frag, path, partition_by=("day",))
    write_partitioned_parquet(
        healthy, path, partition_by=("day",), mode="append"
    )
    assert len(glob.glob(f"{path}/day=2024-01-01/*.parquet")) == 8
    healthy_files = set(glob.glob(f"{path}/day=2024-01-02/*.parquet"))

    report = compact_partitions(spark, path, target_bytes=1 << 30)
    assert report == {"2024-01-01": (8, 1)}
    assert len(glob.glob(f"{path}/day=2024-01-01/*.parquet")) == 1
    # healthy partition untouched, rows identical after compaction
    assert set(glob.glob(f"{path}/day=2024-01-02/*.parquet")) == healthy_files
    rows = {(str(r["day"]), r["k"], r["v"])
            for r in read_curated(spark, path).collect()}
    assert len(rows) == 110
    # idempotent: second run is a no-op
    assert compact_partitions(spark, path, target_bytes=1 << 30) == {}


def test_transform_with_state_first_seen_across_batches(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 typed-state API) suppresses
    re-sends across micro-batches: keys from batch 1 must NOT re-emit
    when batch 2 repeats them; fresh keys pass through once. The
    streaming path needs protobuf (the TWS driver worker protocol) —
    absent here it must fail with the operator's clear gate error, and
    the batch fallback twin must still run."""
    try:
        import google.protobuf  # noqa: F401
        has_pb = True
    except ImportError:
        has_pb = False

    # batch fallback twin always runs: every distinct key exactly once
    batch = spark.createDataFrame([(1,), (1,), (2,)], ["event_id"])
    got = {r.event_id: r.n_seen
           for r in ST.streaming_first_seen_tws(batch).collect()}
    assert got == {1: 1, 2: 1}

    src = tmp_path / "in"
    src.mkdir()
    (src / "b1.json").write_text(
        "\n".join(json.dumps({"event_id": k}) for k in [1, 1, 2])
    )
    stream = spark.readStream.schema(
        StructType([StructField("event_id", LongType())])
    ).option("maxFilesPerTrigger", 1).json(str(src))

    if not has_pb:
        with pytest.raises(RuntimeError, match="protobuf"):
            ST.streaming_first_seen_tws(stream, key_col="event_id")
        return

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        out = ST.streaming_first_seen_tws(stream, key_col="event_id")
        ckpt = str(tmp_path / "ckpt")
        q = (
            out.writeStream.format("memory")
            .queryName("t_tws1")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        first = {r.event_id: r.n_seen for r in spark.sql(
            "SELECT * FROM t_tws1").collect()}
        assert first == {1: 1, 2: 1}  # dup of key 1 inside the batch folds

        (src / "b2.json").write_text(
            "\n".join(json.dumps({"event_id": k}) for k in [2, 3])
        )
        q2 = (
            out.writeStream.format("memory")
            .queryName("t_tws2")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(180)
        second = {r.event_id: r.n_seen for r in spark.sql(
            "SELECT * FROM t_tws2").collect()}
        assert second == {3: 1}  # key 2 already seen in batch 1 -> suppressed
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev)


def test_stateful_sessionization_evicts_idle_state(spark, tmp_path):
    """r5 audit fix: with EventTimeTimeout the store drops a user once
    the watermark passes last_event + gap. Observable contract: the
    evicted user's next event restarts n_sessions at 1 (per state
    lifetime) instead of continuing a forever-cumulative count — the
    bounded-state trade the docstring pins. Files are fed ONE PER RUN
    against a shared checkpoint so batch order is deterministic."""
    src = tmp_path / "in"
    src.mkdir()
    stream = (
        spark.readStream.schema(
            StructType(
                [
                    StructField("ts", StringType()),
                    StructField("user_id", LongType()),
                ]
            )
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = ST.sessionize_stateful(stream, gap_seconds=1800, watermark="1 hour")
    ckpt = str(tmp_path / "ckpt")
    emitted = []

    def run_batch(i, rows):
        (src / f"b{i}.json").write_text(
            "\n".join(json.dumps(r) for r in rows)
        )
        emitted.clear()
        q = (
            out.writeStream.foreachBatch(
                lambda bdf, bid: emitted.extend(bdf.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return list(emitted)

    b1 = run_batch(1, [{"ts": "2024-01-01 10:00:00", "user_id": 1},
                       {"ts": "2024-01-01 10:00:00", "user_id": 2}])
    assert {(r.user_id, r.n_sessions) for r in b1} == {(1, 1), (2, 1)}

    # only user 2: watermark advances to 19:00 after this run (the
    # null-ts row must be filtered, not NaT-crash the handler)
    b2 = run_batch(2, [{"ts": "2024-01-01 20:00:00", "user_id": 2},
                       {"ts": None, "user_id": 9}])
    assert {(r.user_id, r.n_sessions) for r in b2} == {(2, 2)}

    # at this run's start the watermark (19:00) is past user 1's
    # timeout (10:00 + 30min): the timeout fires, state is removed,
    # nothing is emitted for user 1
    b3 = run_batch(3, [{"ts": "2024-01-02 06:00:00", "user_id": 2}])
    assert {(r.user_id, r.n_sessions) for r in b3} == {(2, 3)}

    # user 1 returns after eviction: count restarts at 1 (an
    # unevicted cumulative count would say 2)
    b4 = run_batch(4, [{"ts": "2024-01-02 16:00:00", "user_id": 1}])
    assert {(r.user_id, r.n_sessions) for r in b4} == {(1, 1)}


def test_stateful_funnel_matches_batch_walk(spark, tmp_path):
    """r5: funnel_stateful is the streaming twin of the batch funnel
    walk — greedy earliest-match stage advance per user across
    micro-batches, with the funnel horizon doubling as state eviction
    (an idle user past last_progress + horizon restarts at stage 0)."""
    src = tmp_path / "in"
    src.mkdir()
    stream = (
        spark.readStream.schema(
            StructType(
                [
                    StructField("ts", StringType()),
                    StructField("user_id", LongType()),
                    StructField("event_type", StringType()),
                ]
            )
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = ST.funnel_stateful(
        stream, watermark="1 hour", horizon_seconds=1800
    )
    ckpt = str(tmp_path / "ckpt")
    emitted = []

    def run_batch(i, rows):
        (src / f"b{i}.json").write_text(
            "\n".join(json.dumps(r) for r in rows)
        )
        emitted.clear()
        q = (
            out.writeStream.foreachBatch(
                lambda bdf, bid: emitted.extend(bdf.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return {r.user_id: r.stage for r in emitted}

    b1 = run_batch(1, [
        {"ts": "2024-01-01 10:00:00", "user_id": 1, "event_type": "view"},
        # u2: click BEFORE view never counts; view then opens stage 1
        {"ts": "2024-01-01 10:00:00", "user_id": 2, "event_type": "click"},
        {"ts": "2024-01-01 10:05:00", "user_id": 2, "event_type": "view"},
        {"ts": "2024-01-01 10:00:00", "user_id": 4, "event_type": "view"},
    ])
    assert b1 == {1: 1, 2: 1, 4: 1}

    b2 = run_batch(2, [
        {"ts": "2024-01-01 10:30:00", "user_id": 1, "event_type": "click"},
        # u2: purchase at stage 1 is ignored; click advances to 2
        {"ts": "2024-01-01 10:10:00", "user_id": 2, "event_type": "purchase"},
        {"ts": "2024-01-01 10:15:00", "user_id": 2, "event_type": "click"},
        # r5 ADVICE: a null event-time row (watermark does NOT drop it)
        # must not NaT-crash the handler and kill the query — it is
        # filtered before the stateful groupBy, so u9 emits nothing
        {"ts": None, "user_id": 9, "event_type": "view"},
    ])
    assert b2 == {1: 2, 2: 2}

    # advances the watermark past u4's horizon (10:00 + 30min)
    b3 = run_batch(3, [
        {"ts": "2024-01-01 14:00:00", "user_id": 1, "event_type": "purchase"},
    ])
    assert b3 == {1: 3}

    # u4 was evicted (timeout fired once wm passed 10:30): its click
    # arrives on a FRESH walk and cannot advance past the missing view
    b4 = run_batch(4, [
        {"ts": "2024-01-01 14:30:00", "user_id": 4, "event_type": "click"},
        {"ts": "2024-01-01 14:20:00", "user_id": 3, "event_type": "purchase"},
    ])
    assert b4 == {4: 0, 3: 0}


def test_compact_partitions_clusters_on_curve(spark, tmp_path):
    """cluster_by compaction = OPTIMIZE ZORDER fused into the rewrite:
    a fragmented partition written as random small files comes back
    as N files whose footer stats bound BOTH cluster columns (every
    file's (a, b) span a compact tile), while plain compaction leaves
    each output file spanning ~the whole key space. Rows survive
    byte-identically and the healthy partition stays untouched."""
    import glob

    from cmsspark_spark.operators.incremental import (
        compact_partitions,
        read_curated,
    )
    from cmsspark_spark.operators.layout import file_stats_manifest
    from cmsspark_spark.sinks import write_partitioned_parquet

    rows = [("2024-01-01", x, y, x * 64 + y) for x in range(64) for y in range(64)]
    frag = spark.createDataFrame(
        rows, "day: string, a: long, b: long, payload: long"
    ).repartition(8)  # random fragmentation: every file spans ~everything
    path = str(tmp_path / "tbl")
    write_partitioned_parquet(frag, path, partition_by=("day",))
    assert len(glob.glob(f"{path}/day=2024-01-01/*.parquet")) == 8

    # force 4 output files so per-file spans are measurable
    pbytes = sum(
        __import__("os").path.getsize(f)
        for f in glob.glob(f"{path}/day=2024-01-01/*.parquet")
    )
    report = compact_partitions(
        spark, path, target_bytes=pbytes // 4 + 1,
        cluster_by=("a", "b"), curve="hilbert",
    )
    (before, after), = report.values()
    assert before == 8 and 2 <= after <= 5

    man = file_stats_manifest(
        spark.read.parquet(f"{path}/day=2024-01-01"), ["a", "b"]
    ).collect()
    # every clustered file bounds BOTH dims (compact Hilbert tiles;
    # 4 files ideal span 0.5/0.5 — slack for range-sampling wobble)
    for r in man:
        assert (r.max_a - r.min_a + 1) / 64.0 <= 0.75, r
        assert (r.max_b - r.min_b + 1) / 64.0 <= 0.75, r
    # rows byte-identical
    got = {(r.a, r.b, r.payload) for r in read_curated(spark, path).collect()}
    assert got == {(x, y, x * 64 + y) for x in range(64) for y in range(64)}


def test_compact_partitions_updates_manifest_per_partition(spark, tmp_path):
    """r8 (verdict #3): clustered compaction maintains the stats
    manifest sidecar incrementally — each rewritten day's manifest
    rows are replaced by dynamic overwrite from the rewritten files'
    footers; days compacted earlier keep their rows untouched."""
    import glob
    import os

    from cmsspark_spark.operators.incremental import compact_partitions
    from cmsspark_spark.operators.layout import manifest_location
    from cmsspark_spark.sinks import write_partitioned_parquet

    path = str(tmp_path / "tbl")
    for day in ("2024-01-01", "2024-01-02"):
        rows = [(day, x, y, x + y) for x in range(32) for y in range(32)]
        write_partitioned_parquet(
            spark.createDataFrame(
                rows, "day: string, a: long, b: long, payload: long"
            ).repartition(6),
            path,
            partition_by=("day",),
            mode="append",
            dynamic=False,
        )

    compact_partitions(
        spark, path, target_bytes=1 << 30, cluster_by=("a", "b")
    )
    mpath = manifest_location(path)
    man1 = spark.read.parquet(mpath)
    assert set(man1.columns) >= {
        "file", "n_rows", "min_a", "max_a", "min_b", "max_b", "day"
    }
    by_day1 = {
        d: sorted(r.file for r in man1.filter(F.col("day") == d).collect())
        for d in ("2024-01-01", "2024-01-02")
    }
    # manifest lists exactly the live files of each day
    for d, files in by_day1.items():
        on_disk = sorted(
            os.path.basename(f)
            for f in glob.glob(f"{path}/day={d}/*.parquet")
        )
        assert files == on_disk, d

    # re-fragment ONE day; recompact; only that day's rows change
    rows = [("2024-01-02", x, y, x + y) for x in range(32) for y in range(32)]
    write_partitioned_parquet(
        spark.createDataFrame(
            rows, "day: string, a: long, b: long, payload: long"
        ).repartition(5),
        path,
        partition_by=("day",),
        mode="append",
        dynamic=False,
    )
    compact_partitions(
        spark, path, target_bytes=1 << 30, cluster_by=("a", "b")
    )
    man2 = spark.read.parquet(mpath)
    by_day2 = {
        d: sorted(r.file for r in man2.filter(F.col("day") == d).collect())
        for d in ("2024-01-01", "2024-01-02")
    }
    assert by_day2["2024-01-01"] == by_day1["2024-01-01"]  # untouched
    assert by_day2["2024-01-02"] == sorted(
        os.path.basename(f)
        for f in glob.glob(f"{path}/day=2024-01-02/*.parquet")
    )
    # row counts in the manifest match the data (initial load + the
    # re-fragmenting append doubled the day's rows)
    n_man = sum(
        r.n_rows for r in man2.filter(F.col("day") == "2024-01-02").collect()
    )
    assert n_man == 2 * 32 * 32
    assert spark.read.parquet(path).filter(
        F.col("day") == "2024-01-02"
    ).count() == n_man
