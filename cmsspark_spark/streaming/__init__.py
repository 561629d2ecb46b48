"""Structured Streaming upgrades of the reference's batch micro-architecture.

The reference has no streaming runtime (SURVEY §2.9): late data is
handled by re-scanning ``date ± day_delta`` (spark_utils.py:768-788),
exactly-once-ish by key dedup after multi-day scans, and tumbling
windows by epoch-mod arithmetic. These helpers express the same
semantics as Structured Streaming operators so a stream-fed deployment
needs no operator rewrites:

- ``with_late_data_watermark``  — T1 → ``withWatermark``
- ``streaming_dedup``           — T4 → ``dropDuplicates`` within watermark
- ``tumbling_window_agg``       — T5 → ``F.window`` groupBy (identical
  expression to ``operators.aggregations.time_bucket_agg``, which is the
  batch twin — same plan shape batch or stream).
"""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from cmsspark_spark.session import local_frame


def with_late_data_watermark(df: DataFrame, ts_col: str, delay: str = "1 day") -> DataFrame:
    """Event-time watermark bounding state for late data (T1: the
    streaming equivalent of the reference's ±day_delta re-scan)."""
    return df.withWatermark(ts_col, delay)


def streaming_dedup(
    df: DataFrame, keys: Sequence[str], ts_col: str | None = None, delay: str = "1 day"
) -> DataFrame:
    """Exactly-once-ish key dedup (T4). With a watermark the state store
    evicts old keys; batch DataFrames pass through to plain
    dropDuplicates."""
    if ts_col is not None and df.isStreaming:
        df = df.withWatermark(ts_col, delay)
    return df.dropDuplicates(list(keys))


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    bucket: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    delay: str = "1 day",
) -> DataFrame:
    """Tumbling-window aggregation usable batch or streaming (T5)."""
    if df.isStreaming:
        df = df.withWatermark(ts_col, delay)
    win = F.window(F.col(ts_col), bucket)
    return (
        df.groupBy(win.alias("w"), *keys)
        .agg(*aggs)
        .withColumn("bucket_start", F.col("w.start"))
        .drop("w")
    )


def sessionize_stateful(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful operator: per-user session counting with a
    gap-based session definition, via ``applyInPandasWithState``.

    The batch twin is the lag-window sessionization in
    queries.sessionize_users; this is the streaming form: state =
    (last event time, open session count) per user, emitted on every
    trigger. State is EVICTED via ``EventTimeTimeout`` once the
    watermark passes ``last_event + gap`` — beyond that point no
    surviving row can extend the session, so the entry is dead weight
    (a watermark alone never evicts applyInPandasWithState state: with
    ``NoTimeout`` the store grows with distinct users forever). The
    bounded-state trade, stated plainly: ``n_sessions`` counts sessions
    per STATE LIFETIME — a user idle past ``watermark + gap`` is
    forgotten, and their next event restarts the count at 1 (consumers
    wanting all-time totals sum the per-lifetime maxima downstream,
    exactly like ``dropDuplicatesWithinWatermark`` consumers tolerate
    re-sends older than the watermark). The state handler is
    self-contained (pickled by value — executors never import the
    engine package).

    Output schema: (user_id, n_sessions, last_ts).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField(user_col, LongType()),
            StructField("n_sessions", LongType()),
            StructField("last_ts", TimestampType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_epoch", LongType()),
            StructField("n_sessions", LongType()),
        ]
    )
    gap = gap_seconds
    ts_name, user_name = ts_col, user_col

    def handle(key, pdf_iter, state):
        import pandas as pd

        (uid,) = key
        if state.hasTimedOut:
            # watermark passed last_event + gap: the session can never
            # be extended again — drop the entry (totals were already
            # emitted in update mode on the trigger that set them).
            state.remove()
            return
        last_epoch, n_sessions = state.get if state.exists else (None, 0)
        # Arrow feeds the group in multiple chunks: gap detection needs
        # ONE globally sorted pass over the trigger's rows — sorting per
        # chunk counts phantom sessions whenever a group spans batches.
        epochs: list[int] = []
        for pdf in pdf_iter:
            epochs.extend(int(pd.Timestamp(ts).timestamp()) for ts in pdf[ts_name])
        for epoch in sorted(epochs):
            if last_epoch is None or epoch - last_epoch > gap:
                n_sessions += 1
            last_epoch = epoch
        state.update((last_epoch, n_sessions))
        # must be strictly beyond the current watermark (API contract);
        # the max() guard covers a group whose last event is already
        # older than watermark - gap when it arrives.
        state.setTimeoutTimestamp(
            max((last_epoch + gap) * 1000, state.getCurrentWatermarkMs() + 1)
        )
        yield pd.DataFrame(
            {
                user_name: [uid],
                "n_sessions": [n_sessions],
                "last_ts": [pd.Timestamp(last_epoch, unit="s")],
            }
        )

    return (
        # Null event-time rows are NOT dropped by the watermark before
        # applyInPandasWithState reaches the handler, and NaT raises in
        # the epoch conversion — one malformed event must not kill the
        # whole streaming query (r5 ADVICE).
        df.filter(F.col(ts_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            handle,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower_seconds: int = 0,
    upper_seconds: int = 600,
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream event-time interval join: pair each left row with
    right rows of the same key whose timestamp falls in
    ``[left_ts + lower, left_ts + upper]``.

    Both sides are watermarked so the join state is bounded: a buffered
    left row can be evicted once the right watermark passes
    ``left_ts + upper`` (Spark derives the state cleanup from the
    time-range predicate — without the range condition the state grows
    forever, the classic stream-join mistake). Works identically on
    batch DataFrames (watermarks are no-ops there), so the batch twin
    IS the same function.

    Columns are disambiguated as ``l_*`` / ``r_*``; the key keeps its
    name.
    """
    lpref = left.select(
        F.col(key),
        *[F.col(c).alias(f"l_{c}") for c in left.columns if c != key],
    )
    rpref = right.select(
        F.col(key).alias("_rkey"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns if c != key],
    )
    if left.isStreaming:
        lpref = lpref.withWatermark(f"l_{left_ts}", watermark)
    if right.isStreaming:
        rpref = rpref.withWatermark(f"r_{right_ts}", watermark)
    lc, rc = F.col(f"l_{left_ts}"), F.col(f"r_{right_ts}")
    cond = (
        (F.col(key) == F.col("_rkey"))
        & (rc >= lc + F.expr(f"INTERVAL {int(lower_seconds)} SECONDS"))
        & (rc <= lc + F.expr(f"INTERVAL {int(upper_seconds)} SECONDS"))
    )
    # With how='right'/'full' the surviving key column is left-side and
    # NULL for unmatched right rows — coalesce in the right key first.
    return (
        lpref.join(rpref, on=cond, how=how)
        .withColumn(key, F.coalesce(F.col(key), F.col("_rkey")))
        .drop("_rkey")
    )


def streaming_dedup_within_watermark(
    df: DataFrame, keys: Sequence[str], ts_col: str, delay: str = "1 hour"
) -> DataFrame:
    """Best-effort streaming dedup with *bounded* state:
    ``dropDuplicatesWithinWatermark`` guarantees rows whose event times
    fall within the watermark delay of each other dedup exactly, while
    letting the state store evict keys older than the watermark — the
    trade for infinite streams (plain ``dropDuplicates`` state grows
    with distinct keys forever; T4's exactly-once-ish contract at
    unbounded runtime). Batch DataFrames fall back to plain
    ``dropDuplicates`` (the watermark variant is streaming-only)."""
    if not df.isStreaming:
        return df.dropDuplicates(list(keys))
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(list(keys))


def streaming_count_min(
    stream_df: DataFrame,
    key_col: str,
    store_path: str,
    depth: int = 4,
    width: int = 256,
    checkpoint: str | None = None,
):
    """Incrementally maintained Count-Min sketch over a stream.

    Each micro-batch builds its own sketch (operators/sketches.py —
    shuffle bounded by depth × width cells) and merges it cell-wise
    into a parquet cell store via ``foreachBatch``. Mergeability keeps
    the store ≤ depth × width rows no matter how much volume streams
    through — the streaming twin of rolling daily sketches into
    monthly ones. Returns the prepared ``writeStream`` builder (caller
    picks trigger/checkpoint and starts it).

    The merge runs on the driver inside ``foreachBatch``; the store is
    re-read each batch, so the previous lineage must be cut (eager
    ``localCheckpoint``) before overwriting the same path.
    """
    from pyspark.errors import AnalysisException

    from cmsspark_spark.operators.sketches import count_min_build

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sk = count_min_build(batch_df, key_col, depth, width)
        try:
            cur = spark.read.parquet(store_path)
            merged = (
                cur.unionByName(sk)
                .groupBy("d", "bucket")
                .agg(F.sum("cnt").alias("cnt"))
            )
        except AnalysisException:  # first batch: no store yet
            merged = sk
        merged.localCheckpoint(eager=True).coalesce(1).write.mode(
            "overwrite"
        ).parquet(store_path)

    writer = stream_df.writeStream.foreachBatch(_merge)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer



def streaming_first_seen_tws(
    df: DataFrame,
    key_col: str = "event_id",
    ttl_ms: int | None = None,
) -> DataFrame:
    """Cross-batch first-occurrence filter on the Spark 4
    ``transformWithStateInPandas`` API (the successor of
    applyInPandasWithState: typed state handles, per-state TTL,
    timers): a key's FIRST row passes through with ``n_seen = 1``;
    repeats within the state lifetime are suppressed (emitting
    nothing) while their count accumulates in a ``ValueState``.

    Why this over ``dropDuplicates``/``WithinWatermark``: the state
    here is TTL-BOUNDED PER KEY (``ttl_ms``) independent of event-time
    watermarks — the production dedup contract for keyed streams with
    no usable event-time column ("suppress re-sends for 24h"). With
    ``ttl_ms=None`` state lives for the query's lifetime (exact
    first-seen, state grows with distinct keys — same trade as plain
    dropDuplicates).

    Requires the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass`` =
    ``...state.RocksDBStateStoreProvider``) — transformWithState is
    rejected by the default HDFS-backed store — AND the ``protobuf``
    package (the transformWithState driver worker speaks a protobuf
    state protocol; absent it, the worker crashes opaquely, so this
    operator gates with a clear error instead). The processor is
    self-contained (by-value pickling; executors never import the
    engine package). Output: (key, n_seen) in update mode — a batch
    DataFrame falls back to the groupBy twin (first-seen ≡ distinct,
    n_seen ≡ count).
    """
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [StructField(key_col, LongType()), StructField("n_seen", LongType())]
    )
    if not df.isStreaming:
        return (
            df.groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("n_seen"))
            .filter(F.col("n_seen") >= 1)
            .withColumn("n_seen", F.lit(1).cast("long"))
        )

    try:
        import google.protobuf  # noqa: F401
    except ImportError as e:
        raise RuntimeError(
            "transformWithStateInPandas needs the 'protobuf' package "
            "(its driver worker speaks a protobuf state protocol); "
            "install protobuf or use sessionize_stateful / "
            "streaming_dedup_within_watermark, which run without it"
        ) from e

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    kname = str(key_col)
    ttl = ttl_ms

    class _FirstSeen(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._seen = handle.getValueState(
                "seen", "cnt BIGINT", ttlDurationMs=ttl
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            n = sum(len(pdf) for pdf in rows)
            if self._seen.exists():
                (prev,) = self._seen.get()
                self._seen.update((prev + n,))
                return iter(())
            self._seen.update((n,))
            return iter(
                [pd.DataFrame({kname: [key[0]], "n_seen": [1]})]
            )

        def close(self) -> None:
            pass

    return df.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=_FirstSeen(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def funnel_stateful(
    df: DataFrame,
    stages: Sequence[str] = ("view", "click", "purchase"),
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    horizon_seconds: int = 7 * 86400,
) -> DataFrame:
    """Streaming form of the ordered-event funnel walk
    (queries.funnel_view_click_purchase is the batch twin): per-user
    state = (stage reached, threshold event time); each trigger
    processes the user's new rows in event-time order and advances
    greedily — an event counts only if it matches the NEXT stage and
    is strictly later than the previous stage's event. Emits
    (user, stage, stage_ts) in update mode on every trigger that
    touches the user.

    Semantics vs the batch walk: identical whenever events arrive in
    watermark order — an event that crosses micro-batches later than
    the watermark allows is dropped by Spark before the operator runs,
    and an in-watermark straggler OLDER than the current threshold is
    ignored (the batch walk, seeing all events at once, might have
    used it). The funnel HORIZON doubles as state eviction
    (EventTimeTimeout): a user idle past last_progress + horizon can
    no longer convert inside the window, so the entry is dropped — the
    same bounded-state contract as ``sessionize_stateful``.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField(user_col, LongType()),
            StructField("stage", IntegerType()),
            StructField("stage_ts", TimestampType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("stage", IntegerType()),
            StructField("t_epoch", LongType()),
        ]
    )
    stage_list = list(stages)
    ts_name, type_name, user_name = ts_col, type_col, user_col
    horizon = int(horizon_seconds)

    def handle(key, pdf_iter, state):
        import pandas as pd

        (uid,) = key
        if state.hasTimedOut:
            state.remove()
            return
        stage, t_epoch = state.get if state.exists else (0, None)
        events: list[tuple[int, str]] = []
        for pdf in pdf_iter:
            events.extend(
                (int(pd.Timestamp(ts).timestamp()), et)
                for ts, et in zip(pdf[ts_name], pdf[type_name])
            )
        for epoch, et in sorted(events):
            if (
                stage < len(stage_list)
                and et == stage_list[stage]
                and (t_epoch is None or epoch > t_epoch)
            ):
                stage += 1
                t_epoch = epoch
        state.update((stage, t_epoch))
        anchor = t_epoch if t_epoch is not None else (
            min(e for e, _ in events) if events else 0
        )
        state.setTimeoutTimestamp(
            max((anchor + horizon) * 1000, state.getCurrentWatermarkMs() + 1)
        )
        yield pd.DataFrame(
            {
                user_name: [uid],
                "stage": [stage],
                "stage_ts": [
                    pd.Timestamp(t_epoch, unit="s")
                    if t_epoch is not None
                    else pd.NaT
                ],
            }
        )

    return (
        # Null event-time rows are NOT dropped by the watermark before
        # applyInPandasWithState reaches the handler, and NaT raises in
        # the epoch conversion — one malformed event must not kill the
        # whole streaming query (r5 ADVICE).
        df.filter(F.col(ts_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            handle,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def minhash_gate_batch_fn(
    census_path: str,
    out_path: str,
    n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    max_est_jaccard: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """foreachBatch adapter for the cross-run MinHash near-dup gate
    (operators/incremental.score_increment_minhash_dedup) with
    EXACTLY-ONCE output under foreachBatch's at-least-once replay.

    Both the admitted-docs output and the census are parquet
    partitioned by ``ingest_batch`` and written with DYNAMIC overwrite,
    so every step is per-batch idempotent. Per micro-batch:

    1. if the census already holds partition ingest_batch=N, the batch
       fully completed before a crash — skip (replaying the score
       would refuse the batch's own committed signatures and overwrite
       its output with nothing: the data-loss window this marker
       closes);
    2. score the batch against the full census;
    3. overwrite out_path/ingest_batch=N with the admitted docs;
    4. overwrite census_path/ingest_batch=N with their band rows — the
       score/commit seam ordering (output before census) means a crash
       between 3 and 4 replays to the identical admitted set.
    """

    def _batch(bdf: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        from cmsspark_spark.operators.incremental import (
            _increment_minhash_bands,
            score_increment_minhash_dedup,
        )
        from cmsspark_spark.sinks import write_partitioned_parquet

        spark = bdf.sparkSession
        try:
            done = (
                spark.read.parquet(census_path)
                .filter(F.col("ingest_batch") == batch_id)
                .limit(1)
                .count()
            )
        except AnalysisException:
            done = 0
        if done:
            return  # fully committed before a crash; replay is a no-op
        admitted = score_increment_minhash_dedup(
            spark,
            bdf,
            census_path,
            n=n,
            num_hashes=num_hashes,
            rows_per_band=rows_per_band,
            max_est_jaccard=max_est_jaccard,
            id_col=id_col,
            text_col=text_col,
        )
        write_partitioned_parquet(
            admitted.withColumn("ingest_batch", F.lit(batch_id)),
            out_path,
            partition_by=("ingest_batch",),
        )
        write_partitioned_parquet(
            _increment_minhash_bands(
                admitted, n, num_hashes, rows_per_band, id_col, text_col
            ).withColumn("ingest_batch", F.lit(batch_id)),
            census_path,
            partition_by=("ingest_batch",),
        )

    return _batch


def psi_drift_batch_fn(
    ref_path: str,
    out_path: str,
    group_col: str,
    value_col: str,
    threshold: float = 0.25,
):
    """foreachBatch adapter for the PSI drift monitor: each micro-batch
    is scored against the parquet'd ``psi_reference`` table
    (operators/pipeline.psi_against_reference — reference bins that
    the batch misses still count toward drift) and one row per group
    is APPENDED to ``out_path`` with the batch id and a ``drifted``
    flag (psi > threshold; a group absent from the reference has no
    psi but IS drift — ``new_group`` rows flag drifted=true). Append
    is the right mode for a monitor
    ledger: replays add duplicate rows for the replayed batch id,
    which readers dedupe on (batch_id, group) — the monitor is
    advisory, not the exactly-once data path (that's the ingest
    gate)."""

    def _batch(bdf: DataFrame, batch_id: int) -> None:
        from cmsspark_spark.operators.pipeline import psi_against_reference

        spark = bdf.sparkSession
        ref = spark.read.parquet(ref_path)
        out = psi_against_reference(bdf, ref, group_col, value_col)
        (
            out.withColumn("batch_id", F.lit(batch_id))
            .withColumn(
                "drifted",
                F.when(F.col("new_group"), F.lit(True)).otherwise(
                    F.col("psi") > threshold
                ),
            )
            .write.mode("append")
            .parquet(out_path)
        )

    return _batch

def quality_score_batch_fn(
    weights_path: str,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    threshold: float = 0.5,
):
    """foreachBatch adapter for the TRAINED hashed-feature quality
    classifier (train once offline with
    operators/pipeline.logreg_hashed_train, persist the (b, weight)
    table, serve forever): each micro-batch is featurized and scored
    with the stored weights — a ≤(n_buckets+1)-row parquet read +
    broadcast join per batch, the same narrow inference pass as the
    batch query — and every doc is APPENDED to ``out_path`` as
    (id, p_quality, keep, batch_id). Append + downstream dedupe on
    (batch_id, id) is the monitor-ledger contract shared with
    psi_drift_batch_fn; route through the ingest gate instead when
    exactly-once admission is required."""

    def _batch(bdf: DataFrame, batch_id: int) -> None:
        from cmsspark_spark.operators.pipeline import (
            logreg_hashed_features,
            logreg_hashed_score,
        )

        spark = bdf.sparkSession
        weights = [0.0] * (n_buckets + 1)
        for r in spark.read.parquet(weights_path).collect():
            weights[int(r["b"])] = float(r["weight"])
        feat = logreg_hashed_features(
            bdf, F.lit(False), text_col=text_col, id_col=id_col,
            n_buckets=n_buckets,
        )
        try:
            (
                logreg_hashed_score(feat, weights)
                .select(
                    F.col("_id").alias(id_col),
                    F.round("p", 6).alias("p_quality"),
                    (F.round("p", 6) >= threshold).alias("keep"),
                    F.lit(batch_id).alias("batch_id"),
                )
                .write.mode("append")
                .parquet(out_path)
            )
        finally:
            feat.unpersist()

    return _batch


def kmeans_serve_batch_fn(
    model_path: str,
    out_path: str,
    drift_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    psi_threshold: float = 0.25,
):
    """foreachBatch adapter for INCREMENTAL k-means serving — the
    census-gate pattern applied to clustering (train once offline
    with similarity.save_kmeans_model, assign forever here, retrain
    only when the gate says so):

    - each micro-batch is ASSIGNED with the stored centroids
      (similarity.kmeans_assign — a k-row parquet read + a narrow
      plan-literal map, zero shuffle, deterministic so assignments
      never flap across replays) and APPENDED to ``out_path`` as
      (id, cluster, d2, batch_id);
    - the batch's cluster-share distribution is PSI-scored against the
      model's training-time shares (a k-row collect — bounded driver
      traffic) and one ledger row
      (batch_id, n_vecs, psi, retrain) is APPENDED to ``drift_path``.
      ``retrain=true`` (psi > threshold) is the signal to re-run
      save_kmeans_model on the accumulated corpus; serving itself
      never retrains, so the hot path stays narrow.

    Append + downstream dedupe on (batch_id, id) is the same
    monitor-ledger contract as psi_drift_batch_fn; Laplace smoothing
    (+0.5 per cluster on both sides) keeps the PSI finite when a batch
    or the training run left a cluster empty."""

    def _batch(bdf: DataFrame, batch_id: int) -> None:
        import math

        from cmsspark_spark.operators.similarity import (
            kmeans_assign,
            load_kmeans_model,
        )

        spark = bdf.sparkSession
        cents, scale, shares = load_kmeans_model(spark, model_path)
        assigned = kmeans_assign(
            bdf, cents, id_col=id_col, vec_col=vec_col, scale=scale
        )
        counts = {
            r["cluster"]: r["n"]
            for r in assigned.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        (
            assigned.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_path)
        )
        k = len(cents)
        n = sum(counts.values())
        psi = 0.0
        for ci in range(k):
            p_cur = (counts.get(ci, 0) + 0.5) / (n + 0.5 * k)
            p_ref = (shares.get(ci, 0.0) * n + 0.5) / (n + 0.5 * k)
            psi += (p_cur - p_ref) * math.log(p_cur / p_ref)
        (
            local_frame(
                spark,
                [(batch_id, n, round(psi, 6), psi > psi_threshold)],
                "batch_id long, n_vecs long, psi double, retrain boolean",
            )
            .write.mode("append")
            .parquet(drift_path)
        )

    return _batch


def kmeans_retrain_if_drifted(
    spark,
    model_path: str,
    drift_path: str,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    iters: int = 2,
    scale: int = 1000,
) -> bool:
    """The retrain half of the incremental-k-means loop: read the
    drift ledger's LATEST row (max batch_id — replays append duplicate
    rows for the same id, which max() absorbs) and, if it flags
    retrain, re-run ``similarity.save_kmeans_model`` over ``corpus``
    (the accumulated base + admitted increments — the caller owns what
    'current corpus' means) and overwrite the stored model. Serving
    keeps using the old model until this completes — the model table
    is a single k-row parquet overwrite, so the swap is atomic at the
    read level Spark provides (new readers see the new snapshot).
    Returns True iff a retrain ran. Run it from the batch/cron side,
    never inside the serving hot path."""
    from pyspark.sql import functions as SF

    from cmsspark_spark.operators.similarity import save_kmeans_model

    ledger = spark.read.parquet(drift_path)
    last = (
        ledger.orderBy(SF.col("batch_id").desc()).limit(1).collect()
    )
    if not last or not last[0]["retrain"]:
        return False
    # the train-once memo keys fold in the leaf files' fingerprint, so
    # a grown corpus path would miss on its own — but evict this
    # session's memos AND the SQL cache anyway (Spark's CacheManager
    # matches by plan only and would serve the stale quantized frame;
    # the blanket memo clear also covers non-fingerprintable sources).
    # Retrains are rare batch-side events; the blunt clear is fine.
    from cmsspark_spark.operators.memo import invalidate_session_memos

    invalidate_session_memos(spark)
    spark.catalog.clearCache()
    save_kmeans_model(
        corpus, model_path, id_col=id_col, vec_col=vec_col,
        k=k, iters=iters, scale=scale,
    )
    return True
