"""Split-maintenance job: leak-free train/val/test assignment as ONE
runnable CLI, in two modes sharing one state directory.

``--mode batch`` (first run / periodic rebuild): LSH → exact-Jaccard
verify → connected components → cluster-consistent split assignment
(every doc inherits its near-dup cluster representative's content-hash
coin, so a verified near-duplicate pair can NEVER straddle train/eval),
then commits the state an incremental run needs: the per-doc splits
table and the MinHash census (band rows + signatures, ~8 longs/doc,
never text).

``--mode increment`` (daily): the arriving docs probe the census and
inherit their matched cluster's committed split WITHOUT recomputing the
corpus closure (operators/incremental.split_assign_increment) —
brand-new increment-internal clusters share their representative's
coin; singletons keep their own. The run then extends both state
tables, so replays are idempotent and the next increment sees this one
as prior corpus.

This is the operational form of the ``cluster_consistent_split`` /
``split_assign_increment`` registry queries: same operators, wired as
the job a data engineer schedules per snapshot + per ingest batch.

Run:
    python -m cmsspark_spark.jobs.assign_splits \\
        --mode batch --sf-dir /root/testdata/sf0.001 --state /tmp/splits
    python -m cmsspark_spark.jobs.assign_splits \\
        --mode increment --increment /tmp/new_docs.parquet \\
        --state /tmp/splits
"""

from __future__ import annotations

import argparse

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cmsspark_spark import fsops
from cmsspark_spark.operators.memo import pin_frame
from cmsspark_spark.session import get_spark


def run_batch(
    spark: SparkSession,
    sf_dir: str,
    state: str,
    boundaries: dict[str, int] | None = None,
    hot_bucket_cap: int | None = 1024,
    snapshot_table: str | None = None,
    snapshot_version: int | None = None,
) -> DataFrame:
    """Full-corpus cluster-consistent assignment + state commit.
    Returns the per-doc assignment (doc_id, split, clustered, moved).

    ``hot_bucket_cap`` (CLI ``--hot-bucket-cap``) bounds the LSH
    candidate output on boilerplate clusters — a template cluster of
    m identical docs emits O(m) star edges instead of O(m²) dense
    pairs, the components closure (and so split inheritance) is
    unchanged, and the capped star edges verify trivially. The
    DEFAULT is 1024 (matching clean_corpus/corpus_qa): this job is
    the daily operational consumer of the LSH census and must not
    take the O(m²) path by omission on a production corpus (VERDICT
    r10 item 1). Pass ``None`` to keep the exact plan BYTE-IDENTICAL
    to the registry's cluster_consistent_split, so a session that ran
    both shares one LSH→verify→components run via the session memos.

    Capping is AUDITABLE: every batch run writes the per-band bucket
    census (``minhash_lsh_bucket_report`` — bucket counts, max bucket
    size, how many buckets/members the star reduction touched) to
    ``<state>/bucket_report`` beside the splits/census state.

    SNAPSHOT-PINNED mode (``snapshot_table``): the corpus is read as
    an exact snapshot version (``read_snapshot``) instead of the live
    sf_dir, and the state records the pin (``<state>/_pin.json`` —
    table + resolved version). Increments then audit against a
    corpus state that is ADDRESSABLE: "these splits were derived from
    v7 of the curated table" survives later appends/overwrites of the
    table, replays are version-addressed, and a rebuild from a newer
    version updates the pin in lock-step with the census overwrite."""
    from cmsspark_spark import catalog
    from cmsspark_spark.operators import dedup as D
    from cmsspark_spark.operators.incremental import commit_census_minhash
    from cmsspark_spark.operators.pipeline import cluster_split_assign
    from cmsspark_spark.operators.snapshots import (
        list_snapshots,
        read_snapshot,
    )

    pin: dict | None = None
    if snapshot_table is not None:
        versions = list_snapshots(spark, snapshot_table)
        if snapshot_version is None and not versions:
            raise FileNotFoundError(
                f"{snapshot_table} has no snapshots to pin"
            )
        v = snapshot_version if snapshot_version is not None else versions[-1]
        docs = read_snapshot(spark, snapshot_table, v)
        pin = {"table": snapshot_table.rstrip("/"), "version": int(v)}
        # mark the state in-progress BEFORE the overwrites: neither
        # pin-first nor pin-last alone is crash-safe for a REBUILD
        # (old pin + new census, or new pin + old census — both let a
        # guarded increment apply against the wrong state), so the
        # guard refuses any state whose rebuild died mid-write
        fsops.write_json_meta(
            spark, f"{state}/_pin.json", {**pin, "in_progress": True}
        )
    else:
        docs = catalog.load_table(spark, sf_dir, "documents")
        # an UNPINNED rebuild over a previously-pinned state dir must
        # retire the old pin BEFORE the overwrites: leaving _pin.json
        # behind would let a later run_increment(expect_snapshot_
        # version=<old v>) pass the guard against splits/census that
        # were actually rebuilt from sf_dir — exactly the operational
        # mistake the pin guard exists to catch. Deleting (rather than
        # rewriting) keeps the contract 'no pin file = unpinned', and
        # a crash after the delete still fails the guard loudly
        # (recorded version None != expected).
        fsops.delete(spark, f"{state}/_pin.json")
    cand = D.minhash_lsh_pairs(
        docs, "doc_id", "text", hot_bucket_cap=hot_bucket_cap
    )

    # the bucket-report write only needs the (memoized) signatures —
    # it is independent of the verify→components→assign chain, so it
    # runs as a concurrent driver job and back-fills the chain's
    # stragglers (guide §2.6)
    from concurrent.futures import ThreadPoolExecutor

    def _bucket_report() -> None:
        D.minhash_lsh_bucket_report(
            docs, "doc_id", "text", hot_bucket_cap=hot_bucket_cap
        ).write.mode("overwrite").parquet(f"{state}/bucket_report")

    with ThreadPoolExecutor(max_workers=1) as pool:
        f_report = pool.submit(_bucket_report)
        pairs = D.jaccard_pairs(
            docs, "doc_id", "text", threshold=0.5, candidates=cand
        )
        comp = D.connected_components(pairs, "id_a", "id_b")
        assign = cluster_split_assign(
            docs, comp, boundaries=boundaries
        ).transform(pin_frame)  # pin before the state writes below
        f_report.result()
    # state commit ORDER matters for crash-safety: splits first (the
    # increment path's election only considers census matches that
    # also hold a splits row, so a census row without a splits row is
    # inert, never leak-inducing); census last, after splits are
    # durable. BOTH writes are overwrites: a periodic rebuild over an
    # existing state dir must not accumulate stale/duplicate census
    # band rows for docs deleted or re-texted since the prior build.
    assign.select("doc_id", "split").write.mode("overwrite").parquet(
        f"{state}/splits"
    )
    commit_census_minhash(spark, docs, f"{state}/census", mode="overwrite")
    if pin is not None:
        # final pin (clears in_progress) only after the census commit
        fsops.write_json_meta(spark, f"{state}/_pin.json", pin)
    # pin temps a crashed replace left beside the pin, age-gated
    for n in fsops.aged(
        spark, state, fsops.REPLACE_TEMP_MIN_AGE_S,
        lambda n: fsops.is_replace_temp(n, "_pin.json"),
    ):
        fsops.delete(spark, f"{state}/{n}")
    return assign


def state_pin(spark: SparkSession, state: str) -> dict | None:
    """The snapshot pin a batch run recorded (``{"table", "version"}``)
    or None for an unpinned (sf_dir-built) state."""
    return fsops.read_json_meta(spark, f"{state}/_pin.json")


def run_increment(
    spark: SparkSession,
    increment: DataFrame,
    state: str,
    boundaries: dict[str, int] | None = None,
    broadcast_increment: bool = True,
    expect_snapshot_version: int | None = None,
) -> DataFrame:
    """Assign an increment against committed state, then extend the
    state (splits += increment's assignment, census += increment's
    band rows). Returns (doc_id, split, inherited, clustered).

    REPLAY-SAFE: a re-run of the same increment returns the same
    assignment (each doc matches its own committed census signature
    at full agreement and re-inherits its committed split) and the
    state writes are no-ops — both appends anti-join the already-
    committed doc_ids first, so neither splits/ nor census/ grows
    duplicate rows across replays. A re-sent doc_id with CHANGED text
    keeps its original commitment (first write wins — moving an
    already-served doc between splits would itself be a leak).

    ``expect_snapshot_version`` guards a PINNED state (see run_batch):
    the increment refuses to apply unless the state's recorded pin
    matches — catching the operational mistake of pointing a daily
    increment at a state dir that was rebuilt from a different corpus
    version than the scheduler believes."""
    from cmsspark_spark.operators.incremental import (
        _increment_minhash_bands,
        commit_census_minhash,
        split_assign_increment,
    )

    if expect_snapshot_version is not None:
        pin = state_pin(spark, state)
        if pin is not None and pin.get("in_progress"):
            raise ValueError(
                f"state {state} has an unfinished pinned rebuild "
                f"({pin}) — the batch job died mid-write; re-run it "
                "before applying increments"
            )
        got = None if pin is None else pin.get("version")
        if got != expect_snapshot_version:
            raise ValueError(
                f"state {state} is pinned to snapshot version {got}, "
                f"increment expected {expect_snapshot_version} — "
                "rebuild the state or fix the scheduler's pin"
            )

    census = spark.read.parquet(f"{state}/census")
    splits = spark.read.parquet(f"{state}/splits")
    # ONE signature pass per increment: the band rows feed both the
    # assignment probe and the census commit (the commit used to
    # re-tokenize the increment — ~2s of duplicated HOF analysis +
    # compute per ingest tick at sf0.1). Band rows are per-doc
    # independent, so filtering the shared frame by the committed ids
    # is row-identical to banding the anti-joined increment.
    bands = _increment_minhash_bands(
        increment, 3, 8, 2, "doc_id", "text"
    ).transform(pin_frame)
    out = split_assign_increment(
        increment, census, splits,
        boundaries=boundaries,
        broadcast_increment=broadcast_increment,
        bands=bands,
    ).transform(pin_frame)  # pin the verdict before state writes
    out.select("doc_id", "split").join(
        splits.select("doc_id"), "doc_id", "left_anti"
    ).write.mode("append").parquet(f"{state}/splits")
    commit_census_minhash(
        spark,
        increment,
        f"{state}/census",
        bands=bands.join(
            census.select("doc_id").distinct(), "doc_id", "left_anti"
        ),
    )
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--mode", required=True, choices=["batch", "increment"])
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--increment",
                    help="parquet path of arriving docs (increment mode)")
    ap.add_argument("--state", required=True,
                    help="state dir holding splits/ and census/")
    ap.add_argument("--no-broadcast-increment", action="store_true",
                    help="bulk backfill: hash-join the census probe "
                         "instead of broadcasting the increment")
    ap.add_argument("--hot-bucket-cap", type=int, default=1024,
                    help="star-reduce LSH buckets beyond this size "
                         "(batch mode; O(m) edges per template "
                         "cluster instead of O(m^2) pairs)")
    ap.add_argument("--snapshot-table", default=None,
                    help="batch mode: read the corpus as a pinned "
                         "snapshot of this table instead of --sf-dir; "
                         "the state records the pin")
    ap.add_argument("--snapshot-version", type=int, default=None,
                    help="with --snapshot-table: pin this version "
                         "(default: latest)")
    ap.add_argument("--expect-snapshot-version", type=int, default=None,
                    help="increment mode: refuse unless the state's "
                         "recorded pin matches this version")
    args = ap.parse_args()
    spark = get_spark("assign-splits")
    if args.mode == "batch":
        run_batch(spark, args.sf_dir, args.state,
                  hot_bucket_cap=args.hot_bucket_cap,
                  snapshot_table=args.snapshot_table,
                  snapshot_version=args.snapshot_version)
    else:
        if not args.increment:
            ap.error("--increment is required in increment mode")
        run_increment(
            spark, spark.read.parquet(args.increment), args.state,
            broadcast_increment=not args.no_broadcast_increment,
            expect_snapshot_version=args.expect_snapshot_version,
        )
    spark.stop()


if __name__ == "__main__":
    main()
