"""Config: TOML file + ``DUNGBEETLE_`` env overrides + CLI flags.

Mirrors the reference's config layering (reference: cmd/main.go:42-50
— TOML base, env vars prefixed ``DUNGBEETLE_`` with ``__`` standing
for ``.``, CLI flags on top; cmd/init.go:29-51 flag set). Spark-first
differences in the schema itself:

- ``[db.*]`` sources are parquet/table directories (a "database" is a
  namespace of Spark-registered tables), with optional ``type =
  "jdbc"`` passthrough for real external DBs.
- ``[results.*]`` backends are parquet warehouse directories (
  ``results_table`` template kept, sqldb.go:77-81).
- ``[job_queue]`` (Redis broker/state in the reference) disappears:
  the job store (``job_store``, in-memory SQLite by default) is the
  broker every queue claims its jobs from, in one process as across
  ``--worker-only`` sidecars sharing it; query parallelism is Spark's
  own cluster.

Durations like ``"60s"`` are accepted wherever the reference uses
them (app.default_job_ttl, config.toml.sample:3).
"""

from __future__ import annotations

import os
import re
import tomllib
from dataclasses import dataclass, field

_DUR_RE = re.compile(r"^(\d+(?:\.\d+)?)\s*(ms|s|m|h)?$")
_DUR_UNIT = {"ms": 0.001, "s": 1.0, "m": 60.0, "h": 3600.0, None: 1.0}


def parse_duration(v: object, default: float = 0.0) -> float:
    """'60s' / '1m' / 90 → seconds."""
    if v is None:
        return default
    if isinstance(v, (int, float)):
        return float(v)
    m = _DUR_RE.match(str(v).strip())
    if not m:
        raise ValueError(f"bad duration: {v!r}")
    return float(m.group(1)) * _DUR_UNIT[m.group(2)]


@dataclass
class SourceConf:
    name: str
    path: str  # directory for file formats; jdbc: url for type "jdbc"
    type: str = "parquet"  # parquet | csv | json | orc | jdbc
    tables: list[str] = field(default_factory=list)
    options: dict[str, str] = field(default_factory=dict)


@dataclass
class ResultsConf:
    name: str
    path: str  # directory, or jdbc: url for type "jdbc"
    type: str = "parquet"  # parquet | jdbc
    results_table: str = "results_%s"
    options: dict[str, str] = field(default_factory=dict)
    # TTL deletion for JDBC results needs a direct DBAPI connection
    # (Spark's JDBC writer has no DROP TABLE path): "module:callable"
    # import path of a connection factory, called with dbapi_options
    # as kwargs — e.g. dbapi = "psycopg2:connect". sqlite urls get a
    # stdlib factory automatically; without one, TTL reaping of this
    # backend is a no-op and retention belongs to the results DB.
    dbapi: str = ""
    dbapi_options: dict[str, str] = field(default_factory=dict)


@dataclass
class Config:
    server: str = "127.0.0.1:6060"
    sql_directories: list[str] = field(default_factory=list)
    default_queue: str = "default"
    worker_concurrency: int = 10  # cmd/init.go:44
    worker_only: bool = False
    # Cross-process job distribution: every process (server or
    # --worker-only) sharing the job_store claims jobs from it, with
    # heartbeat leases and requeue-on-restart. Implied by worker_only;
    # a server that feeds worker-only sidecars must set it too.
    distributed: bool = False
    default_job_ttl: float = 60.0  # app.default_job_ttl
    result_reaper_interval: float = 0.0  # app.result_reaper_interval; 0 = off
    job_store: str = ""  # SQLite path; "" = in-memory SQLite
    # Served-database broker (multi-MACHINE fleets): a DBAPI
    # connection factory import path to reach the job store through
    # instead of a local SQLite path (both are broker.DBAPIBroker, one
    # schema) — e.g.
    # job_store_dbapi = "psycopg2:connect" with job_store_dialect =
    # "postgresql" points every server/worker process at one Postgres.
    # Takes precedence over job_store when both are set.
    job_store_dbapi: str = ""
    job_store_dialect: str = "sqlite"  # sqlite | postgresql
    job_store_dbapi_options: dict[str, str] = field(default_factory=dict)
    # app.operators_data_dir: when set, every query in the operator
    # registry (OPERATORS.md) registers as a callable task named after
    # the query, runnable through POST /jobs like any SQL task; the
    # dir is the default parquet dataset (a job's first arg overrides
    # it). "" = SQL tasks only (reference parity).
    operators_data_dir: str = ""
    sources: list[SourceConf] = field(default_factory=list)
    results: list[ResultsConf] = field(default_factory=list)


def _as_str_list(v: object) -> list[str]:
    """A scalar TOML value is one entry, not an iterable of chars."""
    if v is None:
        return []
    if isinstance(v, str):
        return [v]
    return [str(x) for x in v]


def _apply_env(raw: dict, environ: dict[str, str]) -> None:
    """DUNGBEETLE_app__default_job_ttl=90s → raw['app']['default_job_ttl'].

    ``__`` maps to ``.`` nesting (cmd/main.go:42-50).
    """
    for key, val in environ.items():
        if not key.startswith("DUNGBEETLE_"):
            continue
        path = key[len("DUNGBEETLE_"):].split("__")
        node = raw
        for part in path[:-1]:
            node = node.setdefault(part, {})
            if not isinstance(node, dict):
                break
        else:
            node[path[-1]] = val


def load_config(
    path: str | None = None,
    environ: dict[str, str] | None = None,
    overrides: dict | None = None,
) -> Config:
    raw: dict = {}
    if path and os.path.exists(path):
        with open(path, "rb") as f:
            raw = tomllib.load(f)
    _apply_env(raw, environ if environ is not None else dict(os.environ))
    for k, v in (overrides or {}).items():
        raw[k] = v

    app = raw.get("app", {})
    cfg = Config(
        server=str(raw.get("server", app.get("server", "127.0.0.1:6060"))),
        sql_directories=_as_str_list(
            raw.get("sql_directory", raw.get("sql_directories"))
        ),
        default_queue=str(raw.get("queue", app.get("queue", "default"))),
        worker_concurrency=int(
            raw.get("worker_concurrency", app.get("worker_concurrency", 10))
        ),
        worker_only=str(raw.get("worker_only", "")).lower() in ("1", "true"),
        distributed=str(
            raw.get("distributed", app.get("distributed", ""))
        ).lower() in ("1", "true"),
        default_job_ttl=parse_duration(app.get("default_job_ttl"), 60.0),
        result_reaper_interval=parse_duration(
            app.get("result_reaper_interval"), 0.0
        ),
        job_store=str(raw.get("job_store", app.get("job_store", "")) or ""),
        job_store_dbapi=str(app.get("job_store_dbapi", "") or ""),
        job_store_dialect=str(app.get("job_store_dialect", "sqlite") or "sqlite"),
        job_store_dbapi_options={
            str(k): str(v)
            for k, v in (app.get("job_store_dbapi_options") or {}).items()
        },
        operators_data_dir=str(
            raw.get("operators_data_dir", app.get("operators_data_dir", ""))
            or ""
        ),
    )
    for name, sub in (raw.get("db") or {}).items():
        cfg.sources.append(
            SourceConf(
                name=name,
                path=str(sub.get("path", sub.get("dsn", ""))),
                type=str(sub.get("type", "parquet")),
                tables=[str(t) for t in sub.get("tables", [])],
                options={str(k): str(v) for k, v in (sub.get("options") or {}).items()},
            )
        )
    for name, sub in (raw.get("results") or {}).items():
        cfg.results.append(
            ResultsConf(
                name=name,
                path=str(sub.get("path", sub.get("dsn", ""))),
                type=str(sub.get("type", "parquet")),
                results_table=str(sub.get("results_table", "results_%s")),
                options={str(k): str(v) for k, v in (sub.get("options") or {}).items()},
                dbapi=str(sub.get("dbapi", "")),
                dbapi_options={
                    str(k): str(v)
                    for k, v in (sub.get("dbapi_options") or {}).items()
                },
            )
        )
    return cfg


def _dbapi_factory(spec: str, options: dict[str, str]):
    """``"module:callable"`` → zero-arg connection factory (the
    dbapi_connect seam of JdbcResultBackend). Import is deferred to
    first use so a worker whose config names a driver it never reaps
    with doesn't need the driver installed."""
    import functools
    import importlib

    mod_name, _, attr = spec.partition(":")
    if not mod_name or not attr:
        raise ValueError(
            f"dbapi must be 'module:callable', got {spec!r}"
        )

    @functools.lru_cache(maxsize=1)
    def _resolve():
        return getattr(importlib.import_module(mod_name), attr)

    def factory():
        return _resolve()(**options)

    return factory


def build_core(cfg: Config, spark=None):
    """Config → wired Core (the initCore analog, cmd/init.go:144-243)."""
    from dungbeetle_spark.core import Core
    from dungbeetle_spark.session import get_spark

    spark = spark or get_spark("dungbeetle-server")
    jobstore_backend = None
    if cfg.job_store_dbapi:
        from dungbeetle_spark.broker import DBAPIBroker

        jobstore_backend = DBAPIBroker(
            _dbapi_factory(cfg.job_store_dbapi, cfg.job_store_dbapi_options),
            dialect=cfg.job_store_dialect,
        )
    core = Core(
        spark,
        default_queue=cfg.default_queue,
        worker_concurrency=cfg.worker_concurrency,
        default_job_ttl=int(cfg.default_job_ttl),
        result_reaper_interval=cfg.result_reaper_interval,
        jobstore_path=(None if jobstore_backend else cfg.job_store or None),
        jobstore_backend=jobstore_backend,
        # A worker-only sidecar attaches to the PRIMARY's live store:
        # it must not fail or requeue the primary's in-flight jobs at
        # startup (jobstore.JobStore recovery contract).
        jobstore_recover_inflight=not cfg.worker_only,
        # worker_only implies distribution — a sidecar can only ever
        # receive work through the shared store.
        distributed=cfg.distributed or cfg.worker_only,
    )
    from dungbeetle_spark.sources.catalog import TABLES
    from dungbeetle_spark.sources.formats import FileSource, JdbcSource

    for src in cfg.sources:
        if src.type == "parquet":
            core.add_source(src.name, src.path)
        elif src.type in ("csv", "json", "orc", "text"):
            core.add_source_obj(
                FileSource(
                    src.name,
                    src.path,
                    tables=src.tables or TABLES,
                    fmt=src.type,
                    options=src.options,
                )
            )
        elif src.type == "jdbc":
            core.add_source_obj(
                JdbcSource(
                    src.name, src.path, tables=src.tables, properties=src.options
                )
            )
        else:
            raise ValueError(f"source {src.name}: unknown type {src.type!r}")
    from dungbeetle_spark.results import JdbcResultBackend, ParquetResultBackend

    for res in cfg.results:
        if res.type == "parquet":
            core.add_result_backend_obj(
                ParquetResultBackend(res.name, res.path, res.results_table)
            )
        elif res.type == "jdbc":
            core.add_result_backend_obj(
                JdbcResultBackend(
                    res.name,
                    res.path,
                    properties=res.options,
                    table_template=res.results_table,
                    dbapi_connect=(
                        _dbapi_factory(res.dbapi, res.dbapi_options)
                        if res.dbapi
                        else None
                    ),
                )
            )
        else:
            raise ValueError(f"results {res.name}: unknown type {res.type!r}")
    if cfg.sql_directories:
        core.load_task_dirs(cfg.sql_directories)
    if cfg.operators_data_dir:
        _register_operator_tasks(core, cfg.operators_data_dir)
    return core


def _register_operator_tasks(core, data_dir: str) -> None:
    """Expose the whole operator registry (OPERATORS.md) as callable
    tasks: POST /jobs {"task": "dedup_exact"} runs the operator
    through the full job pipeline (queue → worker → result backend →
    TTL), same as any SQL task. A job's first arg overrides the
    configured dataset dir. Registered AFTER SQL task dirs so a name
    collision with a user task fails loudly at startup, not at
    enqueue."""
    from dungbeetle_spark.queries import registry

    for name, spec in registry().items():

        def _build(sess, args, _spec=spec):
            return _spec.build(sess, str(args[0]) if args else data_dir)

        core.register_callable_task(name, _build, queue="operators")
