"""Source registry: declarative named sources → DataFrames.

Replaces the reference's per-job reader functions and shell-based path
discovery (spark_utils.py:66-162 ``os.popen("hadoop fs -ls …")``,
:259-364 ``dbs_tables``, :367-397 ``cmssw_tables``, …) with one
declarative ``SourceSpec``:

- format: csv | json | avro | parquet
- schema regimes (SURVEY §1.3): fixed StructType, *partial* StructType
  (JSON projection pushdown — load-bearing at 300 GB/day), or inferred
  (with ``samplingRatio`` bound).
- daily-snapshot layout: a strftime path template; date ranges expand to
  explicit path lists handed to one multi-path ``spark.read.load`` —
  replacing the reference's per-file read + ``union_all`` loop
  (spark_utils.py:98-109, U1) with a single scan.
- empty-day fallback: a 0-row DataFrame with the canonical schema when
  no path exists (S10; spark_utils.py:537-538, schemas.py:669-709).
- late-data slack: ``day_delta`` widens the scanned range; callers
  re-filter on the event-time column (T1; spark_utils.py:768-788).
"""

from __future__ import annotations

import glob as _glob
from dataclasses import dataclass, field
from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from cmsspark_spark.session import local_frame

_FORMAT_DEFAULTS: dict[str, dict[str, str]] = {
    # DBS/PhEDEx CSV dumps normalize literal 'null' (spark_utils.py:287-290).
    "csv": {"header": "true", "nullValue": "null"},
    "json": {},
    "avro": {},
    "parquet": {},
}


@dataclass
class SourceSpec:
    """A named source with schema, format, layout and date resolution."""

    name: str
    fmt: str
    path_template: str  # strftime template, e.g. "/data/cmssw/%Y/%m/%d/*.json.gz"
    schema: StructType | None = None  # fixed or partial; None → infer
    options: dict[str, str] = field(default_factory=dict)
    flatten: str | None = None  # e.g. "data.*" envelope flattening (S5)
    sampling_ratio: float | None = None  # bound inference cost (S6, O9)
    failfast: bool = False  # schema drift aborts (S2)

    def paths_for(self, start: date, end: date | None = None, day_delta: int = 0) -> list[str]:
        """Expand a date range (± day_delta slack) to existing paths."""
        end = end or start
        lo = start - timedelta(days=day_delta)
        hi = end + timedelta(days=day_delta)
        out: list[str] = []
        d = lo
        while d <= hi:
            pattern = d.strftime(self.path_template)
            # glob the FULL pattern: a day directory that exists but has
            # no matching files (e.g. only _SUCCESS) must fall through
            # to the empty-day fallback, not crash spark.read.load.
            if _glob.glob(pattern):
                out.append(pattern)
            d += timedelta(days=1)
        return out


def spark_avro_available(spark: SparkSession) -> bool:
    """True when ``spark.read.format("avro")`` works natively — asks
    the DataSource registry itself (some avro *classes* are on the
    classpath even without the spark-avro module registered, so a
    Class.forName probe false-positives)."""
    try:
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "avro", spark._jsparkSession.sessionState().conf()
        )
        return True
    except Exception:
        return False


def read_source(
    spark: SparkSession,
    spec: SourceSpec,
    start: date | None = None,
    end: date | None = None,
    day_delta: int = 0,
    register: bool = True,
) -> DataFrame:
    """Read a source for a date range as ONE multi-path scan.

    Returns a 0-row DataFrame with the declared schema when no paths
    exist for the range (empty-day fallback, S10) — inference-based
    sources with no data raise, since there is no schema to fall back to.
    """
    if start is not None:
        paths = spec.paths_for(start, end, day_delta)
    else:
        paths = [spec.path_template]

    if not paths:
        if spec.schema is None:
            raise FileNotFoundError(
                f"source {spec.name}: no files for range and no fallback schema"
            )
        df = local_frame(spark, [], spec.schema)
    elif spec.fmt == "avro" and not spark_avro_available(spark):
        # No spark-avro module jar in this deployment: decode with the
        # vendored pure-Python Avro codec, distributed via binaryFile +
        # mapInPandas (sources/avro_io.py). Same schema/flatten/register
        # semantics as the native path.
        from cmsspark_spark.sources.avro_io import read_avro

        df = read_avro(spark, paths, schema=spec.schema)
    else:
        reader = spark.read.format(spec.fmt)
        opts = {**_FORMAT_DEFAULTS.get(spec.fmt, {}), **spec.options}
        if spec.failfast:
            opts["mode"] = "FAILFAST"
        if spec.sampling_ratio is not None and spec.schema is None:
            opts["samplingRatio"] = str(spec.sampling_ratio)
        for k, v in opts.items():
            reader = reader.option(k, v)
        if spec.schema is not None:
            reader = reader.schema(spec.schema)
        df = reader.load(paths)

    if spec.flatten:
        df = df.select(f"{spec.flatten}")
    if register:
        df.createOrReplaceTempView(spec.name)
    return df


@dataclass
class Era:
    """One schema era of a drifting source: the spec that reads it and
    the first date (inclusive) it applies from."""

    since: date
    spec: SourceSpec
    # Optional per-era projection onto the source's CANONICAL columns
    # (applied before the cross-era union).
    normalize: "object | None" = None  # Callable[[DataFrame], DataFrame]


@dataclass
class VersionedSource:
    """A source whose record format changed over time (SURVEY §7.4
    "schema drift across eras").

    The reference's EOS reader hard-codes only the newest format and
    path (spark_utils.py:550-566 documents THREE record formats and a
    2020 path move in a docstring, then reads just one). Here each era
    declares its own path template + schema + a normalizer onto the
    canonical column set; a date range is split at the era boundaries,
    each slice is read with its own spec (one multi-path scan per era),
    and the slices are unioned BY NAME with missing-column tolerance —
    so a query spanning a format change just works.

    Scale note: each era remains a single declarative scan, so
    predicate pushdown / partition pruning apply per era; the union is
    a zero-shuffle concatenation.
    """

    name: str
    eras: list[Era] = field(default_factory=list)

    def _sorted(self) -> list[Era]:
        return sorted(self.eras, key=lambda e: e.since)

    def era_for(self, d: date) -> Era:
        """The era in effect on ``d`` (the latest era with since ≤ d)."""
        eras = self._sorted()
        live = [e for e in eras if e.since <= d]
        if not live:
            raise ValueError(
                f"source {self.name}: date {d} predates the first era "
                f"({eras[0].since})"
            )
        return live[-1]

    def slices(
        self, start: date, end: date | None = None
    ) -> list[tuple[Era, date, date]]:
        """Split [start, end] into (era, slice_start, slice_end) runs."""
        end = end or start
        out: list[tuple[Era, date, date]] = []
        eras = self._sorted()
        for i, era in enumerate(eras):
            lo = max(start, era.since)
            hi = end if i + 1 == len(eras) else min(
                end, eras[i + 1].since - timedelta(days=1)
            )
            if lo <= hi:
                out.append((era, lo, hi))
        if not out:
            # whole range predates every era boundary → era_for raises
            self.era_for(start)
        return out

    def read(
        self,
        spark: SparkSession,
        start: date,
        end: date | None = None,
        day_delta: int = 0,
        register: bool = True,
    ) -> DataFrame:
        """One DataFrame across eras, in canonical columns."""
        parts: list[DataFrame] = []
        for era, lo, hi in self.slices(start, end):
            df = read_source(spark, era.spec, lo, hi, day_delta, register=False)
            if era.normalize is not None:
                df = era.normalize(df)
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        if register:
            out.createOrReplaceTempView(self.name)
        return out
