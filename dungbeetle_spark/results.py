"""Result materialization: per-job result tables with canonical types.

The reference streams each job's rows into a freshly created table
``results_<job_id>`` in a results database, collapsing source column
types into a small canonical set — BIGINT / DECIMAL / TIMESTAMP / DATE /
BOOLEAN / JSON / TEXT (reference: internal/resultbackends/sqldb/
sqldb.go:230-305; README "Results"). Schema generation is cached per
task name (sqldb.go:38-41, 147-153) and every job DROPs + re-CREATEs
its own table (sqldb.go:179-186) — i.e. overwrite semantics.

Spark-first mapping: the row-at-a-time INSERT pipeline (core.go:556-565,
sqldb.go:195-207 — one INSERT per row in one tx) becomes one of two
columnar writers, chosen per job from the optimized plan before
anything runs:

- **Driver-side Arrow write** for small results. When the plan's
  size estimate is within ``spark.sql.autoBroadcastJoinThreshold``
  (Spark's own bound for "small enough to collect to the driver"; -1
  turns the path off), the plan holds no row-multiplying node whose
  estimate cannot be trusted (``Generate``, Python map/flat-map,
  Python UDTF) nor a call the estimate sizes at its type's default
  width (``sequence``, ``repeat``, ``array_repeat``), the task has no
  ``partition_by`` and the warehouse is a local path, the result is
  collected with ``toArrow()`` and written by ``pyarrow`` as one
  ``part-00000-…`` file carrying Spark's row-schema metadata, so
  Spark, ``compact`` and the TTL reaper read and delete it like any
  other table. A Spark write costs a fixed
  ~0.1 s of job set-up and commit protocol that dwarfs a 30-row
  result.
- **Spark's parquet writer** for everything else::

      df.select(*canonical_casts).write.mode("overwrite").parquet(path)

  which is parallel, compressed, and scales to any cluster size.

Either way the "one transaction per result set" property maps to a
directory swap (same guarantee level as the reference's DROP+CREATE
window). ``head`` is the matching reader: a single-file table is read
on the driver with ``pyarrow`` and its rows are built exactly as
Spark's ``collect`` builds them.
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil
import threading
import uuid
from collections.abc import Iterable, Mapping
from urllib.parse import urlparse

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Canonical collapse of Spark types, mirroring sqldb.go:254-281.
# DECIMAL(38,18) covers postgres NUMERIC semantics for aggregates.
_DECIMAL = T.DecimalType(38, 18)


def canonical_type(dt: T.DataType) -> T.DataType:
    """Map an arbitrary Spark type onto the reference's canonical set."""
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return T.LongType()  # INT* → BIGINT (sqldb.go:257-258)
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        # FLOAT/DOUBLE/NUMERIC → DECIMAL (sqldb.go:259-260). Keep an
        # explicit decimal so the golden schema check (`total` →
        # numeric, server_test.go.bak:282-285) holds.
        return dt if isinstance(dt, T.DecimalType) else _DECIMAL
    if isinstance(dt, T.TimestampNTZType):
        return T.TimestampNTZType()
    if isinstance(dt, T.TimestampType):
        return T.TimestampType()  # TIMESTAMP/DATETIME (sqldb.go:261-262)
    if isinstance(dt, T.DateType):
        return T.DateType()  # DATE (sqldb.go:263-264)
    if isinstance(dt, T.BooleanType):
        return T.BooleanType()  # BOOLEAN (sqldb.go:265-266)
    if isinstance(dt, T.ArrayType):
        # pg array passthrough (_INT4/_INT8/_TEXT, sqldb.go:273-276):
        # collapse the element type, keep the array.
        return T.ArrayType(canonical_type(dt.elementType), dt.containsNull)
    # JSON/VARCHAR/everything else → TEXT (sqldb.go:267-280). Structs
    # and maps don't exist in the reference's model; serialize to JSON
    # text to honor the collapse contract.
    return T.StringType()


def canonical_cast(df: DataFrame) -> DataFrame:
    """Project ``df`` onto canonical result types (§1.3 of SURVEY.md)."""
    cols = []
    for f_ in df.schema.fields:
        target = canonical_type(f_.dataType)
        if isinstance(f_.dataType, (T.StructType, T.MapType)):
            cols.append(F.to_json(F.col(f_.name)).alias(f_.name))
        elif target == f_.dataType:
            cols.append(F.col(f_.name))
        else:
            cols.append(F.col(f_.name).cast(target).alias(f_.name))
    return df.select(*cols)


_TABLE_RE = re.compile(r"%s")

# Footer keys of Spark's parquet writer (ParquetWriteSupport): the
# Catalyst schema as JSON; the writer's version, without which Spark
# applies its configured calendar-rebase mode to the file's dates; and
# the markers of a file written with the legacy hybrid calendar.
_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
_VERSION_METADATA = b"org.apache.spark.version"
_LEGACY_CALENDAR = (b"org.apache.spark.legacyDateTime", b"org.apache.spark.legacyINT96")

# What the optimizer's size estimate does not bound, in an analyzed
# plan's tree string: nodes that can emit more rows than their input
# while their output is estimated from the input alone (a Python UDTF
# is a ``Generate``; a node name opens its line after the tree's
# ``:- `` / ``+- `` prefix), and calls whose values the estimate sizes
# at the type default of their result (``sequence(1, 10000000)`` is
# estimated at 2 bytes).
_UNBOUNDED = re.compile(
    r"^[\s:+-]*(?:Generate|MapInPandas|MapInArrow|FlatMap\w*)\b"
    r"|\b(?:sequence|repeat|array_repeat)\(",
    re.MULTILINE,
)


def _is_local(path: str) -> bool:
    """Whether ``path`` is a plain local path, not a URI (``s3a://``,
    ``hdfs://``, ``file:``...) that the driver cannot open as a file."""
    return not urlparse(path).scheme


def _internal(t):
    """The Arrow type holding ``t``'s values as Spark holds them inside —
    timestamps as int64 microseconds, dates as int32 days — for
    ``StructType.fromInternal``; None for a type the driver-side read
    leaves to Spark (struct, map, timestamps not in microseconds)."""
    import pyarrow as pa

    if pa.types.is_timestamp(t):
        return pa.int64() if t.unit == "us" else None
    if pa.types.is_date32(t):
        return pa.int32()
    if pa.types.is_list(t):
        inner = _internal(t.value_type)
        return None if inner is None else pa.list_(t.value_field.with_type(inner))
    return None if pa.types.is_nested(t) else t


def _fits_driver(out: DataFrame) -> bool:
    """Whether ``out``'s optimized plan is estimated small enough to
    collect to the driver: within ``spark.sql.autoBroadcastJoinThreshold``
    (-1 = never) and free of nodes and calls whose estimate cannot be
    trusted. Decided before anything runs; ``toArrow`` then reuses the
    plan."""
    jdf = out._jdf
    bound = jdf.sparkSession().sessionState().conf().autoBroadcastJoinThreshold()
    if bound < 0:
        return False
    qe = jdf.queryExecution()
    if int(qe.optimizedPlan().stats().sizeInBytes()) > bound:
        return False
    # The analyzed plan, not the optimized one: the optimizer folds
    # ``sequence(...)`` into a literal, which the optimized tree string
    # prints in full (larger than the driver's heap for a long array)
    # and which names no call.
    return _UNBOUNDED.search(qe.analyzed().treeString()) is None


class ParquetResultBackend:
    """One named results warehouse (a directory of per-job tables).

    Mirrors ``sqldb.SQLDBResultBackend``: configurable table-name
    template defaulting to ``results_%s`` (sqldb.go:77-81, 99), a
    per-task schema cache standing in for the reference's cached
    CREATE/INSERT DDL (sqldb.go:38-41), and overwrite-per-job
    semantics.
    """

    def __init__(self, name: str, path: str, table_template: str = "results_%s"):
        if "%s" not in table_template:
            table_template += "_%s"
        self.name = name
        self.path = path.rstrip("/")
        self.table_template = table_template
        # task name → StructType, the IsColTypesRegistered analog
        # (sqldb.go:147-153). Purely observational in Spark (inference
        # is free) but kept for the schema-stability contract: a task's
        # result schema must not drift between jobs.
        self._schemas: dict[str, T.StructType] = {}
        self._lock = threading.Lock()
        self._compacting: set[str] = set()  # tables mid-compaction

    # -- naming -------------------------------------------------------
    def table_name(self, job_id: str) -> str:
        return self.table_template % job_id

    def table_path(self, job_id: str) -> str:
        return f"{self.path}/{self.table_name(job_id)}"

    # -- schema cache (RegisterColTypes / IsColTypesRegistered) -------
    def is_registered(self, task_name: str) -> bool:
        with self._lock:
            return task_name in self._schemas

    def registered_schema(self, task_name: str) -> T.StructType | None:
        with self._lock:
            return self._schemas.get(task_name)

    # -- materialization ----------------------------------------------
    def write(
        self,
        job_id: str,
        task_name: str,
        df: DataFrame,
        partition_by: Iterable[str] = (),
    ) -> int:
        """Canonical-cast + overwrite ``results_<job_id>``; return rowcount.

        The row count is the job's only "result" payload, surfaced by
        status polls (core.go:436, 183-190). It comes from the data
        that was written, never from a second scan of the result (nor
        a recompute of the query): the Arrow table's length on the
        driver-side path, an ``Observation`` on the write pass itself
        on Spark's writer — the 100 TB-correct way to get write
        metrics.
        """
        out = canonical_cast(df)
        with self._lock:
            self._schemas.setdefault(task_name, out.schema)
        path = self.table_path(job_id)
        cols = list(partition_by)
        if not cols and _is_local(path) and _fits_driver(out):
            return self._write_arrow(out, path)

        from pyspark.sql import Observation

        obs = Observation()
        writer = out.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite")
        if cols:
            writer = writer.partitionBy(*cols)
        writer.parquet(path)
        return int(obs.get["n"])

    def _write_arrow(self, out: DataFrame, path: str) -> int:
        """Collect ``out`` to the driver and write it as one parquet
        file in Spark's layout, swapped into ``path`` like ``compact``
        swaps (a retry overwrites; serialized against delete/reaper)."""
        import pyarrow.parquet as pq

        table = out.toArrow().replace_schema_metadata({
            _ROW_METADATA: out._jdf.schema().json(),
            _VERSION_METADATA: out.sparkSession.version,
        })
        token = uuid.uuid4()
        tmp = f"{path}__writing_{token.hex[:8]}"
        old = f"{path}__old_{token.hex[:8]}"
        os.makedirs(tmp)
        try:
            pq.write_table(
                table, f"{tmp}/part-00000-{token}-c000.snappy.parquet",
                compression="snappy",
            )
            with self._lock:
                if os.path.exists(path):
                    os.rename(path, old)
                os.rename(tmp, path)
                shutil.rmtree(old, ignore_errors=True)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return table.num_rows

    def read(self, spark: SparkSession, job_id: str) -> DataFrame:
        return spark.read.parquet(self.table_path(job_id))

    def head(self, job_id: str, limit: int) -> tuple[list[str], list[Row]] | None:
        """``(columns, rows)`` of the first ``limit`` rows, equal to
        ``read(spark, job_id).limit(limit)`` collected, read on the
        driver with ``pyarrow``; None when the table is not a local
        directory holding exactly one data file with Spark's schema.

        One file only: Spark orders the splits of a multi-file table
        by size, so its first rows need not be the files' first rows.
        The rows are built by Spark's own ``StructType.fromInternal``
        from the stored values (timestamps as UTC microseconds, which
        covers Arrow-written and INT96 columns alike), so timestamps
        come out naive in local time as ``collect`` returns them.
        """
        import pyarrow.parquet as pq

        path = self.table_path(job_id)
        if not _is_local(path) or not os.path.isdir(path):
            return None
        names = [n for n in os.listdir(path) if not n.startswith(("_", "."))]
        if len(names) != 1 or not os.path.isfile(f"{path}/{names[0]}"):
            return None
        pf = pq.ParquetFile(f"{path}/{names[0]}", coerce_int96_timestamp_unit="us")
        meta = pf.schema_arrow.metadata or {}
        internal = [_internal(f.type) for f in pf.schema_arrow]
        if (
            _ROW_METADATA not in meta
            or any(k in meta for k in _LEGACY_CALENDAR)
            or None in internal
        ):
            return None
        schema = T.StructType.fromJson(json.loads(meta[_ROW_METADATA]))
        rows: list[Row] = []
        for batch in pf.iter_batches(batch_size=limit) if limit > 0 else ():
            cols = [c.cast(t).to_pylist() for c, t in zip(batch.columns, internal)]
            rows.extend(schema.fromInternal(v) for v in zip(*cols))
            if len(rows) >= limit:
                break
        return schema.names, rows[:limit]

    def delete(self, job_id: str) -> None:
        with self._lock:  # serialize vs a concurrent compact's swap
            shutil.rmtree(self.table_path(job_id), ignore_errors=True)

    def compact(
        self, spark: SparkSession, job_id: str, target_files: int = 1
    ) -> int:
        """Rewrite ``results_<job_id>`` into ``target_files`` files.

        Warehouse maintenance: a result written by a wide cluster
        lands one file per task — at 100 TB the per-job table sprawl
        becomes a metadata/open-cost problem for every reader. The
        rewrite lands in a sibling temp dir with the row count taken
        from an Observation on the write pass (no re-read), is
        verified against the source count, and swaps via rename under
        the backend lock (serialized against delete/reaper and other
        compacts — the crash window between the two renames is the
        same guarantee level as the reference's DROP+CREATE,
        sqldb.go:179-186). Hive-partitioned result tables
        (``partition_by`` tasks) are refused: a flat rewrite would
        drop the layout and partition-type inference can corrupt
        key values (e.g. leading zeros). Returns the row count.
        """
        import os

        from pyspark.sql import Observation

        path = self.table_path(job_id)
        if any(
            "=" in entry and os.path.isdir(os.path.join(path, entry))
            for entry in os.listdir(path)
        ):
            raise NotImplementedError(
                f"{path} is hive-partitioned (partition_by task); "
                "compaction would flatten the layout"
            )
        import glob
        import uuid

        # One compaction per table at a time: a second concurrent call
        # fails fast instead of racing the first one's scratch dirs.
        with self._lock:
            if path in self._compacting:
                raise RuntimeError(f"compaction of {path} already in progress")
            self._compacting.add(path)
            # stale scratch from crashed runs (safe: no live compact)
            for stale in glob.glob(f"{path}__compacting_*") + glob.glob(
                f"{path}__old_*"
            ):
                shutil.rmtree(stale, ignore_errors=True)
        token = uuid.uuid4().hex[:8]
        tmp = f"{path}__compacting_{token}"
        old = f"{path}__old_{token}"
        try:
            df = spark.read.parquet(path)
            n_before = df.count()
            obs = Observation()
            (
                df.observe(obs, F.count(F.lit(1)).alias("n"))
                .coalesce(max(target_files, 1))
                .write.mode("overwrite")
                .parquet(tmp)
            )
            n_after = int(obs.get["n"])
            if n_after != n_before:  # pragma: no cover - write corruption
                raise RuntimeError(
                    f"compaction of {path} changed row count "
                    f"({n_before} -> {n_after}); original left untouched"
                )
            with self._lock:
                if not os.path.isdir(path):  # deleted/reaped mid-compact
                    raise FileNotFoundError(
                        f"{path} was deleted during compaction"
                    )
                os.rename(path, old)
                os.rename(tmp, path)
                shutil.rmtree(old, ignore_errors=True)
            return n_after
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            with self._lock:
                self._compacting.discard(path)


class ResultBackends:
    """Named backend registry with random routing (results.go:30-63)."""

    def __init__(self, backends: Mapping[str, ParquetResultBackend] | None = None):
        self._backends: dict[str, ParquetResultBackend] = dict(backends or {})

    def add(self, backend: ParquetResultBackend) -> None:
        self._backends[backend.name] = backend

    def names(self) -> list[str]:
        return list(self._backends)

    def get(self, name: str) -> ParquetResultBackend:
        try:
            return self._backends[name]
        except KeyError:
            raise KeyError(f"unknown result backend: {name}") from None

    def get_random(self, names: Iterable[str] | None = None) -> ParquetResultBackend:
        pool = list(names) if names else list(self._backends)
        if not pool:
            raise ValueError("no result backends configured")
        return self.get(random.choice(pool))

    def filter_by_tags(self, tags: Iterable[str]) -> list[str]:
        tags = [t for t in tags if t]
        for t in tags:
            if t not in self._backends:
                raise KeyError(f"unknown result backend {t} in task tag")
        return tags or list(self._backends)

    def __len__(self) -> int:
        return len(self._backends)


class JdbcResultBackend:
    """Results written to an external SQL database over JDBC — the
    direct analog of the reference's SQL result backends
    (internal/resultbackends/sqldb/sqldb.go): per-job table
    ``results_<job_id>``, overwrite semantics, canonical type collapse
    before the write (Spark's JDBC writer maps LongType→BIGINT,
    DecimalType→NUMERIC, etc., landing the same schema the reference
    produces).

    Scale notes: ``numPartitions`` bounds concurrent INSERT
    connections (the reference's max_active analog) and ``batchsize``
    replaces its row-at-a-time INSERT loop with batched writes.
    Requires the vendor driver jar; construction is cheap/validated,
    connection happens at write time.
    """

    def __init__(
        self,
        name: str,
        url: str,
        properties: Mapping[str, str] | None = None,
        table_template: str = "results_%s",
        num_partitions: int = 8,
        batchsize: int = 10_000,
        dbapi_connect=None,
    ):
        if not url.startswith("jdbc:"):
            raise ValueError(f"JDBC url must start with 'jdbc:': {url!r}")
        if "%s" not in table_template:
            table_template += "_%s"
        self.name = name
        self.url = url
        self.properties = dict(properties or {})
        self.table_template = table_template
        self.num_partitions = num_partitions
        self.batchsize = batchsize
        # DDL seam: Spark's JDBC writer has no DROP TABLE path, so TTL
        # deletion needs a direct DBAPI connection (psycopg2 / mysql
        # driver / sqlite3). Callers inject a zero-arg factory; sqlite
        # URLs get one automatically (stdlib).
        self.dbapi_connect = dbapi_connect
        self._schemas: dict[str, T.StructType] = {}
        self._lock = threading.Lock()

    def table_name(self, job_id: str) -> str:
        return self.table_template % job_id

    def table_path(self, job_id: str) -> str:
        return f"{self.url}#{self.table_name(job_id)}"

    def is_registered(self, task_name: str) -> bool:
        with self._lock:
            return task_name in self._schemas

    def write(
        self,
        job_id: str,
        task_name: str,
        df: DataFrame,
        partition_by: Iterable[str] = (),  # noqa: ARG002 — JDBC tables are flat
    ) -> int:
        from pyspark.sql import Observation

        # Count on the write pass itself (Observation): re-reading the
        # written table would be a SECOND full transfer over JDBC.
        obs = Observation()
        out = (
            canonical_cast(df)
            .coalesce(self.num_partitions)
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        with self._lock:
            self._schemas.setdefault(task_name, out.schema)
        (
            out.write.format("jdbc")
            .option("url", self.url)
            .option("dbtable", self.table_name(job_id))
            .option("batchsize", str(self.batchsize))
            .options(**self.properties)
            .mode("overwrite")
            .save()
        )
        return int(obs.get["n"])

    def read(self, spark: SparkSession, job_id: str) -> DataFrame:
        return (
            spark.read.format("jdbc")
            .option("url", self.url)
            .option("dbtable", self.table_name(job_id))
            .options(**self.properties)
            .load()
        )

    def _connect(self):
        if self.dbapi_connect is not None:
            return self.dbapi_connect()
        if self.url.startswith("jdbc:sqlite:"):
            import sqlite3

            return sqlite3.connect(self.url[len("jdbc:sqlite:") :])
        raise NotImplementedError(
            "JDBC result deletion needs a DBAPI connection factory "
            f"(dbapi_connect=...) for {self.url.split(':', 2)[1]} urls; "
            "without one, configure retention on the results database"
        )

    def delete(self, job_id: str) -> None:
        """DROP the job's result table via a direct DBAPI connection.

        The reference documents TTL as unsupported on SQL backends
        (README 'ttl' row); here the reaper covers JDBC too, issuing
        the same DROP TABLE its parquet twin does with rmtree
        (sqldb.go:179-186 is the overwrite-path DROP this mirrors).
        """
        name = self.table_name(job_id)
        # MySQL-family servers reject ANSI double-quoted identifiers
        # under the default sql_mode — a wrongly-quoted DROP would be
        # retried by the reaper forever as a 'transient' failure.
        if self.url.startswith(("jdbc:mysql:", "jdbc:mariadb:")):
            table = "`" + name.replace("`", "``") + "`"
        else:
            table = '"' + name.replace('"', '""') + '"'
        con = self._connect()
        try:
            cur = con.cursor()
            cur.execute(f"DROP TABLE IF EXISTS {table}")
            con.commit()
        finally:
            con.close()
