"""Layer spans for the traced run.

:func:`install` wraps the public functions of each layer module, in
place, so every call into them — from the benchmark or from another
layer — adds its wall time to the span named after the layer. A span
that is already open on the stack is not re-entered, so recursion and
layer-internal calls are counted once; spans on concurrent threads
(a job's parallel sinks) each count, so a span is time busy. Spans live in memory and are
read per pass by the runner; the untraced run never imports this
module.
"""

from __future__ import annotations

import functools
import importlib
import threading
import time
from collections import defaultdict

#: span name → [(module, public function), ...]
LAYERS = {
    "session.start": [("cmsspark_spark.session", "get_spark")],
    "catalog.load_table": [("cmsspark_spark.catalog", "load_table")],
    "sources.read": [("cmsspark_spark.sources.readers", "read_source")],
    "sinks.write": [
        ("cmsspark_spark.sinks", "write_csv"),
        ("cmsspark_spark.sinks", "write_json"),
        ("cmsspark_spark.sinks", "write_partitioned_parquet"),
        ("cmsspark_spark.sinks.report", "write_report"),
    ],
    "snapshots.commit": [("cmsspark_spark.operators.snapshots", "snapshot_write")],
    "jobs.run": [
        ("cmsspark_spark.jobs.popularity", "run"),
        ("cmsspark_spark.jobs.rucio_summary", "run"),
    ],
}


class Tracer:
    def __init__(self):
        self.seconds: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self._local = threading.local()  # spans open on this thread

    def reset(self) -> tuple[dict, dict]:
        """Return and clear the spans accumulated since the last reset."""
        out = (dict(self.seconds), dict(self.calls))
        self.seconds.clear()
        self.calls.clear()
        return out

    def add(self, name: str, seconds: float) -> None:
        self.seconds[name] += seconds
        self.calls[name] += 1

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            open_ = self._local.__dict__.setdefault("open", set())
            if name in open_:
                return fn(*args, **kwargs)
            open_.add(name)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                open_.discard(name)
                self.add(name, time.perf_counter() - t0)

        return spanned


def install() -> Tracer:
    tracer = Tracer()
    for name, targets in LAYERS.items():
        for mod_name, attr in targets:
            mod = importlib.import_module(mod_name)
            setattr(mod, attr, tracer.wrap(name, getattr(mod, attr)))
    return tracer
