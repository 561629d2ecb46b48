"""The workloads: their inputs, their ops, and how each op's output
is checked.

An op is one request a user of the engine would make. Its function
either returns a DataFrame (the runner times construction and
``collect()`` as two spans) or returns ``None``. A file-writing op
names a ``files`` reader that loads what it wrote, outside the timed
region. State builds return ``None`` and are checked through the
serves that use their state.
"""

from __future__ import annotations

import glob
import hashlib
import os
from dataclasses import dataclass, field
from datetime import date, datetime
from decimal import Decimal
from typing import Any, Callable

from perfbench import gen

#: Registry queries of the CMS daily batch beside its jobs: the
#: shuffle-heavy HAVING semi-join (TPC-H q18). The popularity spine
#: runs inside ``jobs.popularity`` (checked against the spine's oracle).
STAR_QUERIES = ["q18_large_volume_customers"]

RUN_DATE = "2024-01-15"


@dataclass
class Op:
    name: str  # build and serve ops are named for the layer span they charge
    kind: str  # query | job | build | serve
    fn: Callable[["Ctx"], Any]
    files: Callable[["Ctx"], list] | None = None  # canonical written output


@dataclass
class Ctx:
    spark: Any
    work: str
    scale: float
    sf_dir: str = ""
    out: str = ""  # per-pass output root
    state: dict = field(default_factory=dict)


# --- canonical results -----------------------------------------------------
#
# Results are compared as sorted rows, floats within a relative 1e-6:
# a rounded double sum can land on either side of a rounding boundary
# depending on summation order (partition order, or DuckDB vs Spark),
# which is not a wrong answer.

REL_TOL = 1e-6


def _norm(v):
    if isinstance(v, (float, Decimal)):
        return float(v)
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return str(v)


def _key(v) -> str:
    if isinstance(v, float):
        return "%.6g" % v
    if isinstance(v, tuple):
        return "[" + ",".join(_key(x) for x in v) + "]"
    return repr(v)


def canon(columns: list[str], rows) -> tuple:
    """(column names sorted, rows re-ordered to match and sorted)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(row[i]) for i in order) for row in rows]
    out.sort(key=lambda r: [_key(v) for v in r])
    return tuple(columns[i] for i in order), out


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, (float, int)) and not isinstance(b, bool):
        return a == b or abs(a - b) <= REL_TOL * max(abs(a), abs(b)) + 1e-9
    if isinstance(b, float) and isinstance(a, int) and not isinstance(a, bool):
        return _close(b, a)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def same(a: tuple, b: tuple) -> bool:
    """Tolerant equality of two :func:`canon` results."""
    return (
        a[0] == b[0]
        and len(a[1]) == len(b[1])
        and all(_close(x, y) for x, y in zip(a[1], b[1]))
    )


def digest(c: tuple) -> str:
    """Short label of a canonical result for the run record."""
    h = hashlib.sha1("|".join(c[0]).encode())
    for r in c[1]:
        h.update(("\n" + "|".join(_key(v) for v in r)).encode())
    return f"{len(c[1])}:{h.hexdigest()[:12]}"


def _parquet_rows(path: str) -> tuple[list[str], list]:
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    return t.column_names, list(zip(*(c.to_pylist() for c in t.columns)))


def _csv_rows(path: str) -> tuple[list[str], list]:
    import csv

    cols, rows = [], []
    for f in sorted(glob.glob(f"{path}/*.csv")):
        with open(f, newline="") as fh:
            r = csv.reader(fh)
            cols = next(r, cols)
            rows += [tuple(x) for x in r]
    return cols, rows


# --- inputs -----------------------------------------------------------------


def make_inputs(workload: str, ctx: Ctx, seed: int) -> dict:
    """Generate the workload's input files; returns per-table sizes."""
    s = ctx.scale
    ctx.sf_dir = os.path.join(ctx.work, "input", "sf")
    if workload == "star_batch":
        sizes = gen.star_tables(ctx.sf_dir, seed, sf=0.02 * s)
    elif workload == "text_state":
        sizes = gen.text_tables(ctx.sf_dir, seed, n_docs=int(400 * s))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return sizes


def register(ctx: Ctx) -> None:
    """Input registration, part of set-up: every input table becomes a
    temp view."""
    from cmsspark_spark import catalog

    names = sorted(os.path.basename(p)[: -len(".parquet")]
                   for p in glob.glob(f"{ctx.sf_dir}/*.parquet"))
    catalog.register_views(ctx.spark, ctx.sf_dir, names)


# --- ops --------------------------------------------------------------------


def _query(name: str) -> Op:
    def fn(ctx: Ctx):
        from cmsspark_spark.queries import QUERIES

        return QUERIES[name](ctx.spark, ctx.sf_dir)

    return Op(name, "query", fn)


def _popularity(ctx: Ctx):
    from cmsspark_spark.jobs import popularity

    popularity.run(ctx.spark, ctx.sf_dir, f"{ctx.out}/popularity", RUN_DATE)


def _snapshot(ctx: Ctx):
    """The day's ``orders`` dump, read through the source layer and
    committed as one snapshot."""
    from cmsspark_spark.operators import snapshots
    from cmsspark_spark.sources.readers import SourceSpec, read_source

    orders = read_source(
        ctx.spark, SourceSpec("orders", "parquet", f"{ctx.sf_dir}/orders.parquet"),
        register=False,
    )
    snapshots.snapshot_write(orders, f"{ctx.out}/orders_snap")


def _popularity_files(ctx: Ctx) -> list:
    base = f"{ctx.out}/popularity"
    return [
        canon(*_parquet_rows(f"{base}/parquet")),
        canon(*_csv_rows(f"{base}/csv/{RUN_DATE}")),
    ]


def _snapshot_files(ctx: Ctx) -> list:
    import pyarrow.parquet as pq
    from cmsspark_spark.operators import snapshots

    table = f"{ctx.out}/orders_snap"
    rows = sum(
        pq.read_metadata(f"{table}/{name}").num_rows
        for name in snapshots.snapshot_files(ctx.spark, table)
    )
    versions = len(snapshots.list_snapshots(ctx.spark, table))
    return [canon(["versions", "rows"], [(versions, rows)])]


def star_batch_ops() -> list[Op]:
    return [_query(q) for q in STAR_QUERIES] + [
        Op("jobs.popularity", "job", _popularity, _popularity_files),
        Op("snapshots.commit", "job", _snapshot, _snapshot_files),
    ]


# text_state: state builds, then one serve per BM25 stack, each with its
# own query docs.
#: BM25 more-like-this query-doc count per serve: docs 0..n-1 query
BM25_QUERY_DOCS = {"pipeline.bm25_serve": 3, "retrieval.serve": 5}


def _docs(ctx: Ctx):
    from cmsspark_spark import catalog

    return catalog.load_table(ctx.spark, ctx.sf_dir, "documents")


def _build_postings(ctx: Ctx):
    from cmsspark_spark.operators import pipeline

    # construction fires the eager postings state job (session memo)
    pipeline.bm25_more_like_this(_docs(ctx), query_max_id=1)


def _build_index(ctx: Ctx):
    from cmsspark_spark.operators import retrieval

    ctx.state["index"] = f"{ctx.out}/bm25_index"
    retrieval.append_bm25_index(_docs(ctx), ctx.state["index"])


def _serve_bm25_session(ctx: Ctx):
    from cmsspark_spark.operators import pipeline

    return pipeline.bm25_more_like_this(
        _docs(ctx), query_max_id=BM25_QUERY_DOCS["pipeline.bm25_serve"]
    )


def _serve_bm25_index(ctx: Ctx):
    from cmsspark_spark.operators import retrieval

    return retrieval.bm25_index_serve(
        ctx.spark, ctx.state["index"],
        query_max_id=BM25_QUERY_DOCS["retrieval.serve"], mode="exact",
    )


def text_state_ops() -> list[Op]:
    return [
        Op("pipeline.postings", "build", _build_postings),
        Op("retrieval.index_build", "build", _build_index),
        Op("pipeline.bm25_serve", "serve", _serve_bm25_session),
        Op("retrieval.serve", "serve", _serve_bm25_index),
    ]


WORKLOADS = {
    "star_batch": star_batch_ops,
    "text_state": text_state_ops,
}

#: Ops whose memos must not carry between ops (memo-cold per query, as
#: bench.py runs the registry); text_state keeps its state for the pass.
MEMO_COLD_PER_OP = {"star_batch"}


# --- oracle -----------------------------------------------------------------


def oracle_results(workload: str, ctx: Ctx) -> dict[str, tuple]:
    """Canonical DuckDB results over the same generated files for every
    op with an oracle: registry queries, the popularity job (the spine's
    oracle), the snapshot commit (one version of every row), and both
    BM25 serves (the exact rung's oracle cut to the serve's query docs)."""
    import duckdb

    from cmsspark_spark.queries import ORACLES

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(f"{ctx.sf_dir}/*.parquet"):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    sqls: dict[str, str] = {}
    for op in WORKLOADS[workload]():
        if op.kind == "query" and ORACLES.get(op.name):
            sqls[op.name] = ORACLES[op.name]
    if workload == "star_batch":
        # the job writes the spine stamped with its run day
        sqls["jobs.popularity"] = (
            f"SELECT *, '{RUN_DATE}' AS day FROM ({ORACLES['cms_popularity_spine']})"
        )
        # one version holding every row of the day's dump
        sqls["snapshots.commit"] = "SELECT 1 AS versions, count(*) AS rows FROM orders"
    if workload == "text_state":
        base = ORACLES["bm25_more_like_this"]
        assert "WHERE doc < 5" in base
        for name, q in BM25_QUERY_DOCS.items():
            sqls[name] = base.replace("WHERE doc < 5", f"WHERE doc < {q}")
    out = {}
    for name, sql in sqls.items():
        cur = con.execute(sql)
        out[name] = canon([d[0] for d in cur.description], cur.fetchall())
    con.close()
    return out
