"""Named data sources — the Spark analog of the reference's DB pool.

The reference keeps a map of named source databases and routes each
task to one of them, picking randomly when several are tagged
(reference: internal/dbpool/dbpool.go:13-14, 72-103;
internal/core/core.go:482-494). Here a "source" is a named collection
of Spark-readable tables (a directory of parquet files, or any
path→DataFrame mapping); routing picks the source whose tables get
registered as temp views before the task's SQL runs.

Scale note: sources hand back *lazy* DataFrames — nothing is read until
an action. Filters/projections in task SQL reach the parquet scan via
Catalyst pushdown, so a source backed by 100 TB of parquet only reads
the row groups and columns a query needs.
"""

from __future__ import annotations

import random
from collections.abc import Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dungbeetle_spark.planmode import is_plan_only

# The driver's synthetic star schema (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _fix_nanos(df: DataFrame) -> DataFrame:
    """Convert nanos-as-long timestamp columns to TIMESTAMP_NTZ (µs).

    Spark 4 cannot read parquet TIMESTAMP(NANOS) natively; with
    ``spark.sql.legacy.parquet.nanosAsLong`` the column arrives as an
    int64 of epoch-nanos. Truncate (integer div — never float-round)
    to microseconds, matching how DuckDB 1.x reads the same file, so
    oracle comparisons are exact.
    """
    ts_cols = [
        f_.name
        for f_ in df.schema.fields
        if isinstance(f_.dataType, T.LongType) and f_.name in ("ts",)
    ]
    for c in ts_cols:
        df = df.withColumn(
            c,
            F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz"),
        )
    return df


_TABLE_CACHE = None  # WeakKeyDictionary: session -> {(sf_dir, name): DataFrame}
_TABLE_CACHE_CAP = 256


def load_tables(
    spark: SparkSession, sf_dir: str, names: Iterable[str] = TABLES
) -> dict[str, DataFrame]:
    """Lazily open ``{sf_dir}/{name}.parquet`` for each table.

    r15: the opened (and nanos-fixed) DataFrame is memoized per
    (session, realpath(sf_dir), name) — ``spark.read.parquet`` runs a
    small schema-inference job on EVERY call, so an un-memoized open
    charged one fixed driver job per table per query build (~50 ms ×
    3 bench passes × 122 queries). A job server keeps table handles
    open; so does this. Same staleness contract as the warehouse's
    ``_result_table``: fixture dirs are immutable for the life of the
    process (the session map is held weakly and size-capped, like
    ``_SCAN_PARTS_CACHE``)."""
    # Runtime-set (not only session-default) because the driver's
    # verify harness builds its own SparkSession.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Engine tuning default: a session still on the stock 200
        # shuffle partitions gets the cluster's parallelism instead —
        # on a vanilla local session every windowed/stateful query
        # otherwise pays 200 near-empty tasks per exchange. A
        # deliberately configured value (anything != 200) is honored.
        if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(max(spark.sparkContext.defaultParallelism, 1)),
            )
    except Exception:  # noqa: BLE001 — conf locked: rely on session defaults
        pass
    global _TABLE_CACHE
    import os as _os
    import weakref

    if _TABLE_CACHE is None:
        _TABLE_CACHE = weakref.WeakKeyDictionary()
    try:
        per_session = _TABLE_CACHE.setdefault(spark, {})
    except TypeError:  # session not weak-referenceable (mocks)
        per_session = {}
    sfd = _os.path.realpath(sf_dir)
    out: dict[str, DataFrame] = {}
    for n in names:
        key = (sfd, n)
        df = per_session.get(key)
        if df is None:
            df = _fix_nanos(spark.read.parquet(f"{sf_dir}/{n}.parquet"))
            if len(per_session) < _TABLE_CACHE_CAP:
                per_session[key] = df
        out[n] = df
    return out


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a small-file scan across the cluster before per-row work.

    The synthetic tables are single-row-group parquet files, which
    Spark cannot split — a compute-bound projection (regex, shingling,
    vector math) would run on one task. On a real 100 TB corpus the
    scan has thousands of natural splits and this is a no-op cost-wise;
    locally the repartition is one tiny shuffle that buys full-core
    parallelism for the expensive projection above it.

    The shuffle key is a seeded ``rand()`` column on purpose: a
    projection containing a nondeterministic expression is a predicate-
    pushdown barrier, so filters inferred above (e.g. join-key
    ``isnotnull`` checks, which Catalyst rewrites into the *full*
    downstream expression) stay in the parallel post-shuffle stage
    instead of being pushed into the single-task scan — where they
    would re-run the whole expensive pipeline per row, serially,
    defeating the point of the fan-out. Result values don't depend on
    the row→partition mapping, and the fixed seed keeps runs
    reproducible.

    **Conditional on purpose**: when the scan already plans at least
    ``defaultParallelism`` input splits — every real multi-file /
    multi-row-group dataset, i.e. anything at cluster scale — this is
    the identity. Repartitioning a 100 TB fact table on ``rand()``
    before a scan-shaped consumer would insert a full-table shuffle
    Catalyst never asked for; the spread shuffle exists solely to
    rescue unsplittable single-row-group files in local runs.
    """
    if is_plan_only():
        # Plan inspection (ADVICE r14): the split probe below calls
        # df.rdd.getNumPartitions(), and when df already contains a
        # fan-out repartition (nested fan_out, e.g. _shingled over a
        # seeded view of a fanned base) AQE materializes the scan
        # stage to plan the exchange — a Spark job just to print a
        # plan. Plan-only mode skips both probe and spread; the
        # spread is a local-fixture rescue with no semantic effect.
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    if _scan_partitions(df) >= n:
        return df
    return (
        df.withColumn("_fan_salt", F.rand(seed=42))
        .repartition(n, F.col("_fan_salt"))
        .drop("_fan_salt")
    )


def parquet_row_count(spark, sf_dir: str, table: str) -> int:
    """Row count of ``<sf_dir>/<table>.parquet`` from parquet FOOTERS
    (pyarrow), no Spark job: size-routing guards run at DataFrame-
    build time — plan inspection (``/tasks/.../explain``) builds those
    operators too, and a full-scan ``df.count()`` there would run
    cluster work just to print a plan. Falls back to a Spark count for
    filesystems pyarrow can't reach. Shared by every operator that
    routes on corpus size (dedup exact-sweep guard, sequence_pack
    shard sizing)."""
    try:
        import pyarrow.dataset as ds

        return ds.dataset(f"{sf_dir}/{table}.parquet", format="parquet").count_rows()
    except Exception:  # noqa: BLE001 - remote/united FS: pay the scan
        return load_tables(spark, sf_dir, [table])[table].count()


_SCAN_PARTS_CACHE: "weakref.WeakKeyDictionary" = None  # type: ignore[assignment]
_SCAN_PARTS_MAX = 512  # plans cached per session


def _scan_partitions(df: DataFrame) -> int:
    """Planned input splits for ``df``, memoized per (session, plan).

    ``df.rdd.getNumPartitions()`` costs a physical-planning pass
    (~50-100 ms); repeated builds of the same query — a job server's
    steady state — hit the cache keyed on Catalyst's semantic plan
    hash instead. The outer map holds the session WEAKLY (a stale
    ``id()`` must never alias a recycled session) and each session's
    plan map is size-capped. Deliberately NOT invalidated when the
    files under a path change — the value only picks fan-out vs
    no-op, and any multi-split source stays multi-split as it grows.
    """
    global _SCAN_PARTS_CACHE
    import weakref

    if _SCAN_PARTS_CACHE is None:
        _SCAN_PARTS_CACHE = weakref.WeakKeyDictionary()
    per_session = _SCAN_PARTS_CACHE.get(df.sparkSession)
    if per_session is None:
        per_session = _SCAN_PARTS_CACHE[df.sparkSession] = {}
    key = df.semanticHash()
    hit = per_session.get(key)
    if hit is None:
        if len(per_session) >= _SCAN_PARTS_MAX:
            per_session.clear()
        hit = per_session[key] = df.rdd.getNumPartitions()
    return hit


def register_views(
    spark: SparkSession, sf_dir: str, names: Iterable[str] = TABLES
) -> dict[str, DataFrame]:
    """Register each table as a temp view (for ``spark.sql`` tasks)."""
    dfs = load_tables(spark, sf_dir, names)
    for n, df in dfs.items():
        df.createOrReplaceTempView(n)
    return dfs


class ParquetSource:
    """One named source: a directory of ``<table>.parquet`` files."""

    def __init__(self, name: str, path: str, tables: Iterable[str] = TABLES):
        self.name = name
        self.path = path
        self.tables = tuple(tables)

    def register(self, spark: SparkSession) -> None:
        register_views(spark, self.path, self.tables)

    def __repr__(self) -> str:  # pragma: no cover
        return f"ParquetSource({self.name!r}, {self.path!r})"


class SourcePool:
    """Named source registry with tag filtering and random routing.

    Mirrors ``dbpool.Pool`` semantics: ``get`` by name, ``get_random``
    across all (load-balancing across replicas, dbpool.go:72-103), and
    ``filter_by_tags`` which errors on unknown names exactly like
    ``Pool.FilterByTags`` (dbpool.go:115-130).
    """

    def __init__(self, sources: Mapping[str, ParquetSource] | None = None):
        self._sources: dict[str, ParquetSource] = dict(sources or {})

    def add(self, source: ParquetSource) -> None:
        self._sources[source.name] = source

    def names(self) -> list[str]:
        return list(self._sources)

    def get(self, name: str) -> ParquetSource:
        try:
            return self._sources[name]
        except KeyError:
            raise KeyError(f"unknown source database: {name}") from None

    def get_random(self, names: Iterable[str] | None = None) -> ParquetSource:
        pool = list(names) if names else list(self._sources)
        if not pool:
            raise ValueError("no source databases configured")
        return self.get(random.choice(pool))

    def filter_by_tags(self, tags: Iterable[str]) -> list[str]:
        """Validate ``-- db:`` tag names; [] means 'all attached'."""
        tags = [t for t in tags if t]
        for t in tags:
            if t not in self._sources:
                raise KeyError(f"unknown db {t} in task tag")
        return tags or list(self._sources)

    def __contains__(self, name: str) -> bool:
        return name in self._sources

    def __len__(self) -> int:
        return len(self._sources)
