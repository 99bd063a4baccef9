"""Small-result fast path of the job layer.

A result whose optimized plan is estimated within
``spark.sql.autoBroadcastJoinThreshold`` is collected with ``toArrow()``
and written by the driver (``ParquetResultBackend.write``); any other
result keeps Spark's parquet writer. ``GET /jobs/{id}/result`` reads a
single-file table with pyarrow (``ParquetResultBackend.head`` through
``Core.read_result_rows``) and must answer byte for byte what the Spark
read answers; every other table takes the Spark read.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

import pytest

from dungbeetle_spark import jobstore
from dungbeetle_spark.core import Core, JobReq
from dungbeetle_spark.http_api import _jsonable
from dungbeetle_spark.results import JdbcResultBackend, ParquetResultBackend
from dungbeetle_spark.tasks import Task

# Every canonical result type, NULLs, a decimal zero (0E-18), a decimal
# printed in scientific notation, timestamps with and without
# microseconds (one inside the repeated hour of a DST change in
# America/New_York), arrays of decimals and timestamps, and a struct
# and a map that the canonical cast turns into JSON text.
RICH_SQL = """
SELECT * FROM VALUES
  (1, 0.0D, CAST(12.5 AS DECIMAL(10, 2)), TIMESTAMP'2024-03-10 06:30:05.123456',
   TIMESTAMP_NTZ'2024-03-10 06:30:05.5', DATE'2024-02-29', true, 'plain',
   array(0.0D, 2.5D), array(1, 2), array(TIMESTAMP'2024-11-03 05:30:00'),
   named_struct('f', 1, 'g', 'x'), map('k', 2)),
  (2, 1e-7D, CAST(-0.01 AS DECIMAL(10, 2)), TIMESTAMP'2024-11-03 05:30:00',
   TIMESTAMP_NTZ'1999-12-31 23:59:59.999999', DATE'1970-01-01', false, 'quote " é',
   array(CAST(NULL AS DOUBLE)), array(), array(CAST(NULL AS TIMESTAMP)),
   named_struct('f', NULL, 'g', 'y'), map()),
  (NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)
AS t(i, dbl, dec, ts, ntz, d, b, s, arr_dec, arr_int, arr_ts, st, m)
"""
N_RICH = 3


def _task(name: str, stmt: str, **kw) -> Task:
    return Task(name=name, stmt=stmt, raw_stmt=stmt, **kw)


def _data_files(path: str) -> list[str]:
    return [n for n in os.listdir(path) if not n.startswith(("_", "."))]


def _json(columns: list[str], rows) -> str:
    """The result route's payload for ``(columns, rows)``."""
    return json.dumps({
        "columns": columns,
        "rows": [
            {k: _jsonable(v) for k, v in r.asDict(recursive=True).items()}
            for r in rows
        ],
    })


def _spark_json(core: Core, job_id: str, limit: int) -> str:
    df = core.read_result(job_id).limit(limit)
    return _json(df.columns, df.collect())


@pytest.fixture(scope="module")
def core(spark, tmp_path_factory):
    c = Core(spark, worker_concurrency=2, default_job_ttl=0)
    c.add_result_backend("default", str(tmp_path_factory.mktemp("fast_results")))
    c.add_result_backend_obj(
        JdbcResultBackend("derby", "jdbc:derby:memory:fast_path;create=true")
    )
    rich = f"SELECT * FROM ({RICH_SQL})"
    for task in (
        _task("rich", rich, result_backends=["default"]),
        _task("rich_one_file", f"SELECT /*+ COALESCE(1) */ * FROM ({RICH_SQL})",
              result_backends=["default"]),
        _task("rich_two_files", f"SELECT /*+ REPARTITION(2) */ * FROM ({RICH_SQL})",
              result_backends=["default"]),
        _task("rich_empty", f"{rich} LIMIT 0", result_backends=["default"]),
        _task("rich_by_b", rich, result_backends=["default"], partition_by=["b"]),
        _task("exploded", "SELECT explode(sequence(1, 1000)) AS v",
              result_backends=["default"]),
        _task("sequence", "SELECT sequence(1, 1000) AS a", result_backends=["default"]),
        _task("repeat", "SELECT repeat('x', 1000) AS s", result_backends=["default"]),
        _task("array_repeat", "SELECT array_repeat('x', 1000) AS a",
              result_backends=["default"]),
        _task("to_jdbc", "SELECT CAST(id AS BIGINT) AS n, 'x' AS s FROM range(3)",
              result_backends=["derby"]),
        _task("echo", "SELECT CAST(:p1 AS BIGINT) AS v", nargs=1,
              result_backends=["default"]),
    ):
        c.register_task(task)
    c.start()
    yield c
    c.stop()


@contextlib.contextmanager
def _driver_writes():
    """Records the table paths the driver-side writer writes."""
    calls: list[str] = []
    orig = ParquetResultBackend._write_arrow

    def spy(self, out, path):
        calls.append(path)
        return orig(self, out, path)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ParquetResultBackend, "_write_arrow", spy)
        yield calls


@pytest.fixture()
def arrow_writes():
    with _driver_writes() as calls:
        yield calls


@pytest.fixture()
def new_york(monkeypatch):
    """Python's local time zone away from UTC (Spark's session zone)."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def _run(core: Core, task: str, job_id: str, **kw) -> dict:
    core.new_job(task, JobReq(job_id=job_id, **kw))
    deadline = time.time() + 90
    while time.time() < deadline:
        st = core.job_status(job_id)
        if st["state"] in (jobstore.SUCCESS, jobstore.FAILURE):
            assert st["state"] == jobstore.SUCCESS, st["error"]
            return st
        time.sleep(0.05)
    raise AssertionError(f"job {job_id} never finished")


def _with_threshold(spark, bound: str, core: Core, task: str, job_id: str) -> dict:
    """Run one job with ``spark.sql.autoBroadcastJoinThreshold`` at
    ``bound`` (-1 turns the driver-side write off)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bound)
    try:
        return _run(core, task, job_id)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.fixture(scope="module")
def tables(core, spark) -> dict[str, str]:
    """One result table per writer, rich and empty: job ids by kind."""
    with _driver_writes() as calls:
        _run(core, "rich", "fp_arrow")
        _run(core, "rich_empty", "fp_arrow_empty")
        _with_threshold(spark, "-1", core, "rich_one_file", "fp_spark")
        _with_threshold(spark, "-1", core, "rich_empty", "fp_spark_empty")
    assert [os.path.basename(p) for p in calls] == [
        "results_fp_arrow", "results_fp_arrow_empty"
    ]
    return {
        "arrow": "fp_arrow", "arrow_empty": "fp_arrow_empty",
        "spark": "fp_spark", "spark_empty": "fp_spark_empty",
    }


@pytest.mark.parametrize("kind", ["arrow", "spark", "arrow_empty", "spark_empty"])
def test_fast_read_equals_spark_read(core, tables, kind, new_york):
    job_id = tables[kind]
    backend = core.result_backends.get("default")
    assert len(_data_files(backend.table_path(job_id))) == 1
    for limit in (0, 1, N_RICH + 5):
        head = backend.head(job_id, limit)
        assert head is not None, (kind, limit)  # the fast read applies
        assert _json(*head) == _spark_json(core, job_id, limit), (kind, limit)
        assert _json(*core.read_result_rows(job_id, limit)) == _json(*head)
    if not kind.endswith("empty"):
        rows = json.loads(_json(*backend.head(job_id, N_RICH)))["rows"]
        assert len(rows) == N_RICH
        # Spark's collect: TIMESTAMP in Python's local zone, naive;
        # TIMESTAMP_NTZ as stored; decimals as Java prints them
        assert rows[0]["ts"] == "2024-03-10 01:30:05.123456"
        assert rows[1]["ts"] == "2024-11-03 01:30:00"
        assert rows[0]["ntz"] == "2024-03-10 06:30:05.500000"
        assert rows[0]["dbl"] == "0E-18"
        assert rows[1]["dbl"] == "1.00000000000E-7"
        assert rows[0]["arr_dec"] == ["0E-18", "2.500000000000000000"]
        assert json.loads(rows[0]["st"]) == {"f": 1, "g": "x"}
        assert rows[2] == {k: None for k in rows[2]}


def test_lowered_threshold_takes_spark_writer(core, spark, arrow_writes):
    st = _with_threshold(spark, "1", core, "rich", "fp_over_threshold")
    assert arrow_writes == []
    assert st["count"] == N_RICH
    assert core.read_result("fp_over_threshold").count() == N_RICH


def test_generate_plan_takes_spark_writer(core, arrow_writes):
    """``explode`` is estimated from its input (one row here), so its
    plan's estimate says nothing about its output."""
    st = _run(core, "exploded", "fp_exploded")
    assert arrow_writes == []
    assert st["count"] == 1000


@pytest.mark.parametrize("task", ["sequence", "repeat", "array_repeat"])
def test_widening_call_takes_spark_writer(core, arrow_writes, task):
    """The estimate sizes these calls' values at their type's default
    width, whatever length they build (``sequence(1, 10000000)`` reads
    as 2 bytes), so a plan holding one may be far larger than it says."""
    st = _run(core, task, f"fp_{task}")
    assert arrow_writes == []
    assert st["count"] == 1


def test_fallback_reads_still_answer(core, spark, arrow_writes):
    """A two-file table, a ``partition_by`` table and a JDBC result take
    the Spark read and answer what it answers."""
    _with_threshold(spark, "-1", core, "rich_two_files", "fp_two_files")
    _run(core, "rich_by_b", "fp_by_b")
    _run(core, "to_jdbc", "fp_jdbc")
    assert arrow_writes == []  # partition_by and JDBC results never
    backend = core.result_backends.get("default")
    assert len(_data_files(backend.table_path("fp_two_files"))) == 2
    assert any("=" in n for n in os.listdir(backend.table_path("fp_by_b")))
    for job_id in ("fp_two_files", "fp_by_b"):
        assert backend.head(job_id, 10) is None
    for job_id in ("fp_two_files", "fp_by_b", "fp_jdbc"):
        got = core.read_result_rows(job_id, 10)
        assert _json(*got) == _spark_json(core, job_id, 10)
        assert len(got[1]) == (3 if job_id == "fp_jdbc" else N_RICH)


def test_driver_write_is_a_spark_table(core, spark, arrow_writes):
    """A driver-written table is one file in Spark's layout: the job's
    group ran the collect, the status count is the table's, and
    ``read_result``, ``compact_result`` and the TTL reaper work on it."""
    st = _run(core, "rich", "fp_table", ttl=1)
    assert len(arrow_writes) == 1
    tracker = spark.sparkContext.statusTracker()
    assert tracker.getJobIdsForGroup("fp_table")  # cancellable by DELETE
    path = core.store.get("fp_table").result_path
    assert [n.startswith("part-00000-") for n in _data_files(path)] == [True]
    df = core.read_result("fp_table")
    assert st["count"] == df.count() == N_RICH
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert dict(df.dtypes)["ntz"] == "timestamp_ntz"
    assert core.compact_result("fp_table") == N_RICH
    assert (
        core.read_result_rows("fp_table", 1)[1]
        == core.read_result("fp_table").limit(1).collect()
    )
    assert core.reap_expired_results(now=time.time() + 5) == ["fp_table"]
    assert not os.path.exists(path)


def test_rerun_job_overwrites_its_table(core):
    _run(core, "echo", "fp_again", args=["1"])
    _run(core, "echo", "fp_again", args=["2"])
    path = core.store.get("fp_again").result_path
    assert len(_data_files(path)) == 1
    assert [r.v for r in core.read_result_rows("fp_again", 10)[1]] == [2]
    parent = os.path.dirname(path)
    assert [n for n in os.listdir(parent) if n.startswith("results_fp_again")] == [
        "results_fp_again"
    ]
