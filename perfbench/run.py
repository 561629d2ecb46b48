#!/usr/bin/env python3
"""Steady-state benchmark of the cmsspark_spark engine.

    python3 perfbench/run.py --workload star_batch --seed 1 --seconds 10 --trace 0

One fresh Python driver per run. It generates the workload's inputs
from ``--seed`` (outside every metric), starts Spark at ``local[k]``
(k = min(4, usable CPUs); every other setting is ``session.get_spark``'s),
then times:

- ``setup_s``: process start to ready (imports, JVM launch through
  ``get_spark``, input registration), minus input generation;
- pass 1, the cold pass (``cold_pass_s``);
- an untimed warm-up pass, because passes 1-2 sit on the JIT/codegen
  slope (more would not fit the run budget; every pass wall is in the
  run record, so the slope stays visible);
- steady passes until ``--seconds`` have passed (at least one),
  reported as medians.

Every op's result is digested (order-insensitive); every pass must
repeat the first pass's digests, and ops with a DuckDB oracle twin must
match it once per run. Mismatches and exceptions count as failed ops;
the run does not abort.

``--trace 1`` wraps the layers' public functions (perfbench/trace.py)
and reads the QueryExecution tracker and the status store per op; it
prints per-layer metrics instead of end-to-end ones. The last stdout
line is the result object; the line before it is the full run record.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import probes  # noqa: E402
from perfbench import workloads as W  # noqa: E402

#: (name, unit) — every workload reports all of them.
END_TO_END = [
    ("setup_s", "s"),
    ("cold_pass_s", "s"),
    ("wall_s", "s"),
    ("cpu_s", "s"),
]

PER_LAYER = [
    ("session.start_s", "s"),
    ("catalog.load_table_s", "s"),
    ("catalog.load_table_calls", "count"),
    ("queries.build_s", "s"),
    ("queries.build_spark_jobs", "count"),
    ("spark.plan_s", "s"),
    ("spark.exec_run_s", "s"),
    ("spark.exec_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.tasks", "count"),
    ("spark.input_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("jvm.cpu_s", "s"),
    ("driver.py_cpu_s", "s"),
    ("functions.pyworker_cpu_s", "s"),
    ("sources.read_s", "s"),
    ("sinks.write_s", "s"),
    ("sinks.written_mb", "MB"),
    ("snapshots.commit_s", "s"),
    ("jobs.run_s", "s"),
    ("memo.entries_built", "count"),
    ("memo.serve_entries_built", "count"),
    # one per text_state build and serve op, named for the op
    ("pipeline.postings_s", "s"),
    ("retrieval.index_build_s", "s"),
    ("pipeline.bm25_serve_s", "s"),
    ("retrieval.serve_s", "s"),
    ("trace.wall_s", "s"),
    ("trace.span_gap_frac", "ratio"),
    ("host.steal_frac", "ratio"),
    ("host.load_1m", "load"),
]

WARMUP = 1


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pct(xs, q):
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def _du_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


def _input_digest(path: str) -> str:
    import hashlib

    h = hashlib.sha1()
    for dirpath, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            with open(os.path.join(dirpath, f), "rb") as fh:
                h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()[:16]


def _reset_memos(spark) -> None:
    """Memo-cold, as bench.py runs each registry entry."""
    from cmsspark_spark.operators.memo import invalidate_session_memos

    invalidate_session_memos(spark)
    spark.catalog.clearCache()


def _memo_entries(spark) -> int:
    from cmsspark_spark.operators.memo import _REGISTRY

    return sum(len(m._store.get(spark) or ()) for m in _REGISTRY)


class Runner:
    def __init__(self, workload, ctx, tree, tracer=None, status=None):
        self.workload = workload
        self.ctx = ctx
        self.ops = W.WORKLOADS[workload]()
        self.tree = tree
        self.tracer = tracer
        self.status = status
        self.results: dict[str, list] = {op.name: [] for op in self.ops}
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.peak_pss = 0.0

    def _op(self, op, rec):
        """Run one op; returns (span seconds, result to digest)."""
        from pyspark.sql import DataFrame

        spark = self.ctx.spark
        if self.workload in W.MEMO_COLD_PER_OP:
            _reset_memos(spark)
        memo0 = _memo_entries(spark) if self.tracer else 0
        job0 = self.status.next_job if self.status else 0
        t0 = time.perf_counter()
        res = op.fn(self.ctx)
        t1 = time.perf_counter()
        if self.status:
            build_jobs = self.status.mark()
        if isinstance(res, DataFrame):
            res = (res.columns, res.collect(), res)
        t2 = time.perf_counter()
        if self.tracer:
            self.tracer.add("ops.span", t2 - t0)
            if op.kind == "query":
                self.tracer.add("queries.build", t1 - t0)
                rec["build_spark_jobs"] += build_jobs
            elif op.kind in ("build", "serve"):
                self.tracer.add(op.name, t2 - t0)
            if isinstance(res, tuple):
                rec["plan_ms"] += probes.plan_ms(res[2])
            self.status.mark()
            for k, v in self.status.since(job0).items():
                rec[k] += v
            grown = _memo_entries(spark) - memo0
            rec["memo_built"] += grown
            if op.kind == "serve":
                rec["memo_serve_built"] += grown
        return t2 - t0, res

    def run_pass(self, idx: int) -> dict:
        ctx = self.ctx
        ctx.out = os.path.join(ctx.work, "out", f"pass-{idx}")
        rec = dict.fromkeys(
            ("build_spark_jobs", "plan_ms", "memo_built", "memo_serve_built")
            + probes.SparkStatus.FIELDS,
            0.0,
        )
        results = []
        if self.tracer:
            self.tracer.reset()
        cpu0 = self.tree.cpu()
        t0 = time.perf_counter()
        if self.workload not in W.MEMO_COLD_PER_OP:
            _reset_memos(ctx.spark)
        lat = {}
        for op in self.ops:
            self.attempted += 1
            try:
                secs, res = self._op(op, rec)
                lat[op.name] = secs
                results.append((op, res))
            except Exception as e:  # noqa: BLE001 — counted, run goes on
                self.failed += 1
                self.errors.append(f"pass {idx} {op.name}: {type(e).__name__}: {str(e)[:300]}")
                results.append((op, e))
        wall = time.perf_counter() - t0
        cpu1 = self.tree.cpu()
        self.peak_pss = max(self.peak_pss, self.tree.pss_mb())
        # canonical results and output cleanup: outside the timed region
        for op, res in results:
            if isinstance(res, Exception):
                continue
            try:
                if isinstance(res, tuple):
                    c = [W.canon(res[0], res[1])]
                else:
                    c = op.files(ctx) if op.files else None
            except Exception as e:  # noqa: BLE001 — a failed check fails the op
                self.failed += 1
                self.errors.append(f"pass {idx} {op.name} output: {type(e).__name__}: {e}")
                continue
            self.results[op.name].append(c)
            first = self.results[op.name][0]
            if c is not None and not (
                first is not None and len(c) == len(first) and all(map(W.same, c, first))
            ):
                self.failed += 1
                self.errors.append(
                    f"pass {idx} {op.name}: {[W.digest(x) for x in c]} != pass-1 "
                    f"{[W.digest(x) for x in first]}"
                )
        out = {
            "wall": wall,
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu1},
            "lat": lat,
            "written_mb": _du_mb(ctx.out) if os.path.isdir(ctx.out) else 0.0,
        }
        shutil.rmtree(ctx.out, ignore_errors=True)
        if self.tracer:
            spans, calls = self.tracer.reset()
            out.update(spans=spans, calls=calls, rec=rec)
        return out

    def check_oracle(self) -> dict:
        """Last steady results vs DuckDB over the same files, once per run."""
        checked = {}
        try:
            want = W.oracle_results(self.workload, self.ctx)
        except Exception as e:  # noqa: BLE001
            self.attempted += 1
            self.failed += 1
            self.errors.append(f"oracle: {type(e).__name__}: {str(e)[:300]}")
            return checked
        for name, d in want.items():
            self.attempted += 1
            got = self.results[name][-1] if self.results.get(name) else None
            checked[name] = bool(got) and W.same(got[0], d)
            if not checked[name]:
                self.failed += 1
                self.errors.append(
                    f"oracle {name}: spark {got and W.digest(got[0])} "
                    f"!= duckdb {W.digest(d)}")
        return checked


def _layer_metrics(steady: list[dict], setup: dict, host: dict) -> dict:
    """Per-layer medians over the steady traced passes."""
    def med(f):
        return _median([f(p) for p in steady])

    def span(name):
        return med(lambda p: p["spans"].get(name, 0.0))

    def rec(name, scale=1.0):
        return med(lambda p: p["rec"][name] * scale)

    m = {
        "session.start_s": setup["spark_s"],
        "catalog.load_table_s": span("catalog.load_table"),
        "catalog.load_table_calls": med(lambda p: p["calls"].get("catalog.load_table", 0)),
        "queries.build_s": span("queries.build"),
        "queries.build_spark_jobs": rec("build_spark_jobs"),
        "spark.plan_s": rec("plan_ms", 1e-3),
        "spark.exec_run_s": rec("run_ms", 1e-3),
        "spark.exec_cpu_s": rec("cpu_ns", 1e-9),
        "spark.gc_s": rec("gc_ms", 1e-3),
        "spark.tasks": rec("tasks"),
        "spark.input_mb": rec("input_b", 1e-6),
        "spark.shuffle_write_mb": rec("shuffle_w_b", 1e-6),
        "spark.spill_mb": rec("spill_b", 1e-6),
        "jvm.cpu_s": med(lambda p: p["cpu"]["jvm"]),
        "driver.py_cpu_s": med(lambda p: p["cpu"]["driver"]),
        "functions.pyworker_cpu_s": med(lambda p: p["cpu"]["pyworker"]),
        "sources.read_s": span("sources.read"),
        "sinks.write_s": span("sinks.write"),
        "sinks.written_mb": med(lambda p: p["written_mb"]),
        "snapshots.commit_s": span("snapshots.commit"),
        "jobs.run_s": span("jobs.run"),
        "memo.entries_built": rec("memo_built"),
        "memo.serve_entries_built": rec("memo_serve_built"),
        "trace.wall_s": med(lambda p: p["wall"]),
        "trace.span_gap_frac": med(lambda p: (p["wall"] - p["spans"].get("ops.span", 0.0)) / p["wall"]),
        "host.steal_frac": host["steal_frac"],
        "host.load_1m": host["load_1m"],
    }
    # the rest are text_state op spans: metric name = op name + "_s"
    m.update({n: span(n[:-2]) for n, _ in PER_LAYER if n not in m})
    return m


def main(argv=None) -> int:
    proc_start = probes.process_start_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (tests use a tiny one)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "cmsspark_spark")):
        print(f"perfbench: no cmsspark_spark package beside {HERE}; "
              "run from a full checkout", file=sys.stderr)
        return 2

    host0 = probes.host_sample()
    # All scratch (inputs, outputs, Spark local dirs, JVM and Python
    # temp files) lives in one per-run directory inside the checkout.
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    import tempfile

    k = min(4, len(os.sched_getaffinity(0)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(k),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    tempfile.tempdir = tmp
    os.chdir(work)
    try:
        return _run(args, work, k, proc_start, host0)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work, k, proc_start, host0) -> int:
    tracer = None
    if args.trace:
        from perfbench import trace

        tracer = trace.install()
    from cmsspark_spark import session

    ctx = W.Ctx(spark=None, work=work, scale=args.scale)
    g0 = time.perf_counter()
    sizes = W.make_inputs(args.workload, ctx, args.seed)
    gen_s = time.perf_counter() - g0

    t0 = time.perf_counter()
    ctx.spark = spark = session.get_spark(f"perfbench-{args.workload}")
    spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    t = time.perf_counter()
    W.register(ctx)
    register_s = time.perf_counter() - t
    setup_s = (probes.uptime_s() - proc_start) - gen_s
    setup = {"setup_s": setup_s, "spark_s": spark_s, "register_s": register_s, "gen_s": gen_s}

    tree = probes.Tree(spark.sparkContext._gateway.proc.pid)
    status = probes.SparkStatus(spark) if tracer else None
    if tracer:
        tracer.reset()
    runner = Runner(args.workload, ctx, tree, tracer, status)

    passes = [runner.run_pass(i + 1) for i in range(1 + WARMUP)]
    steady = []
    t_steady = time.perf_counter()
    while not steady or time.perf_counter() - t_steady < args.seconds:
        steady.append(runner.run_pass(len(passes) + len(steady) + 1))
    oracle = runner.check_oracle()
    host = probes.host_bracket(host0, probes.host_sample())
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        jvm.wait(timeout=60)
    except Exception:  # noqa: BLE001
        jvm.kill()
        jvm.wait()

    lat = [s for p in steady for s in p["lat"].values()]
    serve_ops = [op.name for op in runner.ops if op.kind == "serve"]
    serve_lat = [p["lat"][n] for p in steady for n in serve_ops if n in p["lat"]]
    build_ops = [op.name for op in runner.ops if op.kind == "build"]
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": passes[0]["wall"],
        "wall_s": _median([p["wall"] for p in steady]),
        "cpu_s": _median([p["cpu"]["total"] for p in steady]),
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "master": f"local[{k}]",
        "scale": args.scale,
        "inputs": sizes,
        "input_digest": _input_digest(ctx.sf_dir),
        "setup": setup,
        "pass_walls": [p["wall"] for p in passes + steady],
        "warmup_passes": WARMUP,
        "steady_passes": len(steady),
        "metrics": e2e,
        # ungated: spread too wide across seeds to gate (see README)
        "peak_pss_mb": runner.peak_pss,
        "op_p50_s": _pct(lat, 0.50),
        "op_p90_s": _pct(lat, 0.90),
        "op_samples": len(lat),
        "cold_op_s": passes[0]["lat"],
        "failed_frac": runner.failed / max(1, runner.attempted),
        "host": host,
        "digests": {n: [W.digest(x) for x in r[0]] if r and r[0] else None
                    for n, r in runner.results.items()},
        "op_s": {n: _median([p["lat"][n] for p in steady if n in p["lat"]])
                 for n in runner.results},
        "oracle": oracle,
        "errors": runner.errors[:20],
        "run_wall_s": probes.uptime_s() - proc_start,
    }
    if build_ops:
        record["state_build_s"] = _median(
            [sum(p["lat"].get(n, 0.0) for n in build_ops) for p in steady])
        record["serve_p50_s"] = _pct(serve_lat, 0.50)
        record["serve_p90_s"] = _pct(serve_lat, 0.90)
    if tracer:
        metrics = _layer_metrics(steady, setup, host)
        record["layers"] = metrics
        units = dict(PER_LAYER)
    else:
        metrics, units = e2e, dict(END_TO_END)
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {n: {"value": float(metrics[n]), "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
