"""HTTP API + client SDK E2E — the reference's active test suite
shape (reference: client/client_test.go:1-170 — job post/poll/delete,
groups, pending listing, slow-query polling) against an in-process
server, plus envelope/validation behaviors (cmd/http.go).
"""

from __future__ import annotations

import json
import time
import urllib.request

import pytest

from dungbeetle_spark.client import Client, ClientError
from dungbeetle_spark.core import Core
from dungbeetle_spark.http_api import Server, _jsonable

TASKS_SQL = """\
-- name: get_profit_summary
SELECT SUM(value) AS total, CAST(ts AS DATE) AS entry_date
FROM events WHERE user_id = $1 GROUP BY CAST(ts AS DATE);

-- name: get_profit_entries
SELECT * FROM events WHERE user_id = $1;

-- name: slow_query
-- raw: 1
SELECT reflect('java.lang.Thread', 'sleep', 3000L) AS slept;
"""


@pytest.fixture(scope="module")
def server(spark, sf_smoke, tmp_path_factory):
    sql_dir = tmp_path_factory.mktemp("tasks")
    (sql_dir / "test.sql").write_text(TASKS_SQL)
    core = Core(spark, worker_concurrency=4)
    core.add_source("testdata", sf_smoke)
    core.add_result_backend("default", str(tmp_path_factory.mktemp("results")))
    core.load_task_dirs([str(sql_dir)])
    core.start()
    srv = Server(core, "127.0.0.1", 0)  # ephemeral port
    srv.start()
    yield srv
    srv.stop()
    core.stop()


@pytest.fixture(scope="module")
def client(server) -> Client:
    return Client(server.address)


def _poll(client: Client, job_id: str, timeout: float = 90.0) -> dict:
    deadline = time.time() + timeout
    while time.time() < deadline:
        st = client.get_job_status(job_id)
        if st["state"] in ("SUCCESS", "FAILURE"):
            return st
        time.sleep(0.1)
    raise AssertionError(f"job {job_id} never finished")


def test_root_banner(server):
    with urllib.request.urlopen(server.address + "/") as resp:
        payload = json.load(resp)
    assert payload["status"] == "success"
    assert payload["data"].startswith("dungbeetle-spark")


def test_tasks_list(client):
    names = client.get_tasks()
    assert names == ["get_profit_entries", "get_profit_summary", "slow_query"]
    full = client.get_tasks(sql=True)  # quirk Q2, documented behavior
    assert "SELECT" in full["get_profit_summary"]["stmt"]


def test_job_roundtrip(client):
    resp = client.post_job("get_profit_summary", job_id="http_job1", args=["7"])
    assert resp["job_id"] == "http_job1"
    assert resp["task"] == "get_profit_summary"
    assert resp["queue"] == "default"
    st = _poll(client, "http_job1")
    assert st["state"] == "SUCCESS", st["error"]
    assert st["count"] > 0
    assert st["error"] == ""


def test_invalid_job_id_rejected(client):
    with pytest.raises(ClientError, match="invalid characters"):
        client.post_job("get_profit_entries", job_id="bad id!", args=["1"])


def test_unknown_task_rejected(client):
    with pytest.raises(ClientError, match="unrecognized task"):
        client.post_job("nope", args=["1"])


def test_unknown_job_404s(client):
    with pytest.raises(ClientError, match="unknown job"):
        client.get_job_status("never_posted")


def test_unknown_route_404s(client):
    with pytest.raises(ClientError) as ei:
        client._do("GET", "/not/a/route")
    assert ei.value.code == 404


def test_metrics_endpoint(client):
    resp = client.post_job("get_profit_summary", job_id="http_metrics1", args=["2"])
    _poll(client, resp["job_id"])
    m = client.get_metrics()
    assert m["jobs_by_state"].get("SUCCESS", 0) >= 1
    assert m["tasks"] == 3 and m["sources"] == 1 and m["result_backends"] == 1
    assert "default" in m["queue_backlog"]


def test_result_rows_over_http(client):
    """The parquet warehouse's stand-in for 'SELECT * FROM
    results_<job_id>': rows round-trip through JSON with the canonical
    types readable (DECIMAL as exact strings, timestamps as ISO)."""
    resp = client.post_job("get_profit_summary", job_id="http_rows1", args=["7"])
    st = _poll(client, resp["job_id"])
    assert st["state"] == "SUCCESS"
    out = client.get_job_result("http_rows1", limit=5)
    assert out["job_id"] == "http_rows1"
    assert set(out["columns"]) == {"total", "entry_date"}
    assert 0 < len(out["rows"]) <= 5
    row = out["rows"][0]
    float(row["total"])  # DECIMAL serialized as an exact numeric string
    assert "-" in row["entry_date"]  # ISO date text
    with pytest.raises(ClientError, match="unknown job"):
        client.get_job_result("never_posted")


def test_result_fetch_reads_small_result_on_driver(server, client):
    """A small result is one driver-written file, which the route reads
    with pyarrow: the reply is the Spark read's, value for value."""
    core = server.httpd.RequestHandlerClass.core
    resp = client.post_job("get_profit_entries", job_id="http_fast1", args=["7"])
    assert _poll(client, resp["job_id"])["state"] == "SUCCESS"
    assert core.result_backends.get("default").head("http_fast1", 3) is not None
    df = core.read_result("http_fast1").limit(3)
    rows = [
        {k: _jsonable(v) for k, v in r.asDict(recursive=True).items()}
        for r in df.collect()
    ]
    out = client.get_job_result("http_fast1", limit=3)
    assert json.dumps(out) == json.dumps(
        {"job_id": "http_fast1", "columns": df.columns, "rows": rows}
    )


def test_compact_over_http(client):
    resp = client.post_job("get_profit_entries", job_id="http_compact1", args=["3"])
    st = _poll(client, resp["job_id"])
    assert st["state"] == "SUCCESS"
    out = client.compact_job_result("http_compact1", files=1)
    assert out == {"job_id": "http_compact1", "count": st["count"]}
    with pytest.raises(ClientError, match="unknown job"):
        client.compact_job_result("never_posted")


def test_result_route_edge_cases(client):
    # negative limit is a client error (400), not a server blowup
    with pytest.raises(ClientError) as ei:
        client._do("GET", "/jobs/http_compact1/result", limit="not_a_number")
    assert ei.value.code == 400
    out = client._do("GET", "/jobs/http_compact1/result", limit="-5")
    assert out["rows"] == []  # clamped to 0 rows, still a success envelope
    # job_id 'queue' would shadow /jobs/queue/{name}: reserved
    with pytest.raises(ClientError, match="reserved"):
        client.post_job("get_profit_entries", job_id="queue", args=["1"])


def test_eta_and_retries_through_http(client):
    """Request-level eta + retries must survive the HTTP layer end to
    end (reference job-param table, README): the ETA job stays PENDING
    until its wall-clock time, then runs; the retries value echoes in
    the enqueue response and drives re-execution on failure."""
    eta = time.strftime("%Y-%m-%d %H:%M:%S", time.localtime(time.time() + 2))
    resp = client.post_job(
        "get_profit_summary", job_id="http_eta1", args=["4"], eta=eta, retries=2
    )
    assert resp["eta"] == eta
    assert resp["retries"] == 2
    st = client.get_job_status("http_eta1")
    assert st["state"] == "PENDING"  # not submitted before the ETA
    time.sleep(1.0)
    assert client.get_job_status("http_eta1")["state"] == "PENDING"
    st = _poll(client, "http_eta1")
    assert st["state"] == "SUCCESS", st["error"]
    assert st["count"] > 0

    # retries through HTTP: a failing task re-executes attempts+1 times
    failing = client.post_job("get_profit_entries", args=[], retries=1)
    st = _poll(client, failing["job_id"])
    assert st["state"] == "FAILURE"  # needs 1 arg; failed after retry
    assert "needs" in st["error"]


def test_slow_query_poll_then_delete(client):
    """client_test.go:84-124: slow job stays non-terminal while
    polling; a second slow job is cancellable mid-flight."""
    client.post_job("slow_query", job_id="http_slow")
    time.sleep(1.0)
    st = client.get_job_status("http_slow")
    assert st["state"] in ("PENDING", "STARTED")
    st = _poll(client, "http_slow")
    assert st["state"] == "SUCCESS", st["error"]

    client.post_job("slow_query", job_id="http_doomed")
    time.sleep(0.5)
    client.delete_job("http_doomed")
    with pytest.raises(ClientError, match="unknown job"):
        client.get_job_status("http_doomed")


def test_group_roundtrip(client):
    resp = client.post_job_group(
        [
            {"task": "get_profit_summary", "args": ["2"]},
            {"task": "get_profit_entries", "args": ["2"]},
        ],
        group_id="http_grp",
    )
    assert resp["group_id"] == "http_grp"
    assert len(resp["jobs"]) == 2
    deadline = time.time() + 90
    while time.time() < deadline:
        st = client.get_group_status("http_grp")
        if st["state"] == "SUCCESS":
            break
        assert st["state"] != "FAILURE", st
        time.sleep(0.2)
    assert client.get_group_status("http_grp")["state"] == "SUCCESS"


def test_empty_group_rejected(client):
    with pytest.raises(ClientError, match="non-empty"):
        client.post_job_group([])


def test_client_wait_helper(client):
    resp = client.post_job("get_profit_summary", job_id="http_wait1", args=["3"])
    st = client.wait(resp["job_id"], timeout=60.0)
    assert st["state"] == "SUCCESS"
    with pytest.raises(TimeoutError):
        r2 = client.post_job("slow_query", job_id="http_wait2")
        client.wait(r2["job_id"], timeout=0.5, poll=0.1)
    client.wait("http_wait2", timeout=60.0)  # let it finish before teardown


def test_explain_endpoint(client):
    out = client.explain("get_profit_summary", args=["7"])
    assert out["task"] == "get_profit_summary"
    assert "Physical Plan" in out["plan"]
    assert "PushedFilters" in out["plan"]  # param filter reaches the scan
    # pin the plan PROPERTY, not just the section header: the bound
    # user_id predicate itself must be inside the pushed-filter list,
    # and the aggregate must partial-combine map-side — the same
    # contract tests/test_plans.py pins on the DataFrame directly, now
    # guaranteed through the HTTP surface so the endpoint can't rot.
    pushed = [
        line for line in out["plan"].splitlines() if "PushedFilters" in line
    ]
    assert any("user_id" in line for line in pushed), pushed
    assert "partial" in out["plan"].lower()  # HashAggregate(partial)
    with pytest.raises(ClientError):
        client._do("GET", "/tasks/no_such_task/explain")


def test_registry_callable_task_served_over_http(server, client, sf_smoke):
    """A registry operator registered as a callable task is servable
    through the full HTTP surface exactly like a SQL task: it lists,
    enqueues, reaches SUCCESS with a row count, and its materialized
    result reads back through the core — the 'switch to this engine
    and serve your pipeline ops over the same API' story, end to end."""
    from dungbeetle_spark.queries import registry

    core = server.httpd.RequestHandlerClass.core
    spec = registry()["token_count"]
    core.register_callable_task(
        "op_token_count",
        lambda sess, args: spec.build(sess, sf_smoke),
        queue="registry_ops",
    )
    assert "op_token_count" in client.get_tasks()
    resp = client.post_job("op_token_count", job_id="http_reg1")
    assert resp["queue"] == "registry_ops"
    st = _poll(client, "http_reg1")
    assert st["state"] == "SUCCESS"
    out = core.read_result("http_reg1")
    assert st["count"] == out.count() > 0
    assert "doc_id" in out.columns


def test_explain_registry_task_submits_no_spark_job(server, client, sf_smoke):
    """``GET /tasks/{t}/explain`` builds under plan_only(): once the
    source tables are open, explaining a registry operator whose build
    checkpoints (rfm_segments) prints its plan without a Spark job."""
    from dungbeetle_spark.queries import registry

    core = server.httpd.RequestHandlerClass.core
    spec = registry()["rfm_segments"]
    core.register_callable_task(
        "op_rfm_segments", lambda sess, args: spec.build(sess, sf_smoke)
    )
    client.explain("op_rfm_segments")  # opens the source tables
    tracker = core.spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = client.explain("op_rfm_segments")
    assert set(tracker.getJobIdsForGroup(None)) == before
    assert "Physical Plan" in out["plan"]
