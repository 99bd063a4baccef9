"""Self-tests of the benchmark's own logic (no Spark, no server).

Run from the repository root: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pytest

from checks import (
    CheckError,
    check_job,
    check_top_spenders,
    check_types,
    compare_rows,
    connect,
    read_table,
)
from run import percentile
from tracing import layer_metrics
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))


@pytest.fixture()
def warehouse(tmp_path):
    """A tiny events table and a correct result table for
    get_profit_summary(7), written the way the server writes it:
    totals as DECIMAL(38,18)."""
    data = tmp_path / "data"
    data.mkdir()
    con = duckdb.connect()
    con.execute(f"""
        COPY (SELECT * FROM (VALUES
            (1, TIMESTAMP '2024-01-01 10:00:00', 7, 'purchase', 1.25, '{{}}'),
            (2, TIMESTAMP '2024-01-01 11:30:00', 7, 'view', 2.5, '{{}}'),
            (3, TIMESTAMP '2024-01-02 09:00:00', 7, 'purchase', 0.1, '{{}}'),
            (4, TIMESTAMP '2024-01-03 09:00:00', 7, 'purchase', 4.0, '{{}}'),
            (5, TIMESTAMP '2024-01-02 12:00:00', 8, 'purchase', 3.0, '{{}}'),
            (6, TIMESTAMP '2024-01-02 13:00:00', 9, 'purchase', 2.0, '{{}}'))
            t(event_id, ts, user_id, event_type, value, props))
        TO '{data}/events.parquet' (FORMAT parquet)""")
    con.close()
    results = tmp_path / "results"
    results.mkdir()
    return data, results


def _write_result(results, job_id: str, sql: str) -> str:
    table = results / f"results_{job_id}"
    table.mkdir()
    con = duckdb.connect()
    con.execute(f"COPY ({sql}) TO '{table}/part-0.parquet' (FORMAT parquet)")
    con.close()
    return str(table)


_SUMMARY = """
    SELECT CAST(total AS DECIMAL(38,18)) AS total, entry_date FROM (VALUES
        (3.75, DATE '2024-01-01'), (0.1, DATE '2024-01-02'),
        (4.0, DATE '2024-01-03')) t(total, entry_date)
"""


def _job(job_id: str, count: int) -> dict:
    return {"job_id": job_id, "task": "get_profit_summary", "args": ["7"],
            "state": "SUCCESS", "count": count, "fetched": None}


def test_checker_accepts_the_correct_table(warehouse):
    data, results = warehouse
    table = _write_result(results, "ok", _SUMMARY)
    con = connect(str(data), ["events"])
    check_job(con, _job("ok", 3), table, None)


def test_checker_rejects_a_dropped_row(warehouse):
    data, results = warehouse
    table = _write_result(
        results, "drop", _SUMMARY + " WHERE entry_date <> DATE '2024-01-02'")
    con = connect(str(data), ["events"])
    with pytest.raises(CheckError, match="row count"):
        check_job(con, _job("drop", 2), table, None)
    # the status count cannot hide it either
    with pytest.raises(CheckError, match="status count"):
        check_job(con, _job("drop", 3), table, None)


def test_checker_rejects_a_changed_value(warehouse):
    data, results = warehouse
    table = _write_result(results, "edit", _SUMMARY.replace("0.1,", "0.1000001,"))
    con = connect(str(data), ["events"])
    with pytest.raises(CheckError, match="row differs"):
        check_job(con, _job("edit", 3), table, None)


def test_fetched_rows_must_be_rows_of_the_table(warehouse):
    data, results = warehouse
    table = _write_result(results, "fetch", _SUMMARY)
    con = connect(str(data), ["events"])
    cols, _, _ = read_table(con, table)
    job = _job("fetch", 3)
    job["fetched"] = {"columns": cols, "limit": 100, "rows": [
        {"total": "3.750000000000000000", "entry_date": "2024-01-01"},
        {"total": "0.100000000000000000", "entry_date": "2024-01-02"},
        {"total": "4.000000000000000000", "entry_date": "2024-01-03"},
    ]}
    check_job(con, job, table, None)
    job["fetched"]["rows"][2]["entry_date"] = "2024-01-04"
    with pytest.raises(CheckError, match="not in the table"):
        check_job(con, job, table, None)


def test_top_spenders_properties(warehouse):
    data, _ = warehouse
    con = connect(str(data), ["events"])
    # purchases: user 7 spent 5.35, user 8 3.0, user 9 2.0
    check_top_spenders(con, ["2"], ["user_id", "spend"], [(7, 5.35), (8, 3.0)])
    with pytest.raises(CheckError, match="spent"):
        check_top_spenders(con, ["2"], ["user_id", "spend"], [(7, 5.35), (9, 2.0)])
    with pytest.raises(CheckError, match="rows for limit"):
        check_top_spenders(con, ["2"], ["user_id", "spend"], [(7, 5.35)])


def test_operator_compare_tolerates_the_decimal_cast_only():
    import decimal

    oracle = (["a", "x"], [(1, 0.1 + 0.2), (2, 1.0 / 3.0)])
    cast = [(decimal.Decimal("0.300000000000000044"), 1),
            (decimal.Decimal("0.333333333333333315"), 2)]
    compare_rows(["x", "a"], cast, *oracle)
    off = [(decimal.Decimal("0.3000001"), 1), cast[1]]
    with pytest.raises(CheckError):
        compare_rows(["x", "a"], off, *oracle)


def test_canonical_types():
    check_types(["a", "b", "c"], ["BIGINT", "DECIMAL(38,18)", "VARCHAR[]"])
    for bad in ("DOUBLE", "INTEGER", "FLOAT[]"):
        with pytest.raises(CheckError):
            check_types(["a"], [bad])


def test_p90_needs_ten_samples_beyond_it():
    assert percentile([float(i) for i in range(99)], 90) is None
    assert percentile([float(i) for i in range(100)], 90) == 89.0
    assert percentile([], 50) is None
    assert percentile([float(i) for i in range(20)], 50) == 9.0


def test_layer_metrics_blocking_path_accounts_for_the_job():
    # one job: enqueued at 1.0, run 1.1-2.0 with build 1.2-1.3,
    # write 1.3-1.9 and a SUCCESS store write 1.9-1.95
    spans = [
        ["core.new_job", 0.9, 1.0, "j", -1, {}],
        ["core.run_job", 1.1, 2.0, "j", -1, {"spark_jobs": 2, "spark_tasks": 5}],
        ["jobstore.get", 1.1, 1.2, "j", 1, {}],
        ["core.build_dataframe", 1.2, 1.3, "j", 1, {"spark_jobs": 0, "task": "t"}],
        ["results.write", 1.3, 1.9, "j", 1, {"rows": 4, "files": 1, "task": "t"}],
        ["jobstore.set_state", 1.9, 2.0, "j", 1, {}],
        ["http_api.get_status", 1.5, 1.501, "j", -1, {}],
    ]
    layers = layer_metrics(spans, ["j"], [])
    assert layers["core.queue_wait_s"] == pytest.approx(0.1)
    assert layers["core.blocking_path_share"] == pytest.approx(1.0)
    assert layers["results.write_s"] == pytest.approx(0.6)
    assert layers["results.spark_jobs_per_job"] == 2
    assert layers["http_api.status_polls_per_job"] == 1
    assert layers["jobstore.lock_wait_s"] == pytest.approx(0.2)


def test_benchmark_json_lists_what_the_result_line_prints():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


def test_run_refuses_a_directory_without_the_server(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "sql_point",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


if __name__ == "__main__":
    raise SystemExit(pytest.main([os.path.abspath(__file__), "-q"]))
