"""Core job-layer E2E — the in-process analog of the reference's
disabled server suite (reference: cmd/server_test.go.bak) plus the
behaviors its active client suite drives over HTTP
(client/client_test.go): lifecycle transitions, groups, cancellation,
single-flight IDs, retries, ETA, and the one result-correctness golden
the reference has — the canonical-cast schema of a results table
(server_test.go.bak:261-286: `total` numeric, `entry_date` date).
"""

from __future__ import annotations

import dataclasses
import threading
import time

import pytest
from pyspark.sql import types as T

from dungbeetle_spark import jobstore
from dungbeetle_spark.core import Core, JobReq
from dungbeetle_spark.jobstore import SingleFlightError
from dungbeetle_spark.tasks import Task

TASKS_SQL = """\
-- name: get_profit_summary
SELECT SUM(value) AS total, CAST(ts AS DATE) AS entry_date
FROM events WHERE user_id = $1 GROUP BY CAST(ts AS DATE);

-- name: get_profit_entries
SELECT * FROM events WHERE user_id = $1;

-- name: get_profit_entries_by_date
SELECT * FROM events WHERE user_id = $1 AND ts > $2 AND ts < $3;

-- name: slow_query
-- raw: 1
SELECT reflect('java.lang.Thread', 'sleep', 3000L) AS slept;

-- name: broken_query
-- raw: 1
SELECT * FROM this_table_does_not_exist;
"""


def _wait(core: Core, job_id: str, want: tuple[str, ...], timeout: float = 90.0) -> dict:
    deadline = time.time() + timeout
    st: dict = {}
    while time.time() < deadline:
        st = core.job_status(job_id)
        if st["state"] in want:
            return st
        time.sleep(0.1)
    raise AssertionError(f"job {job_id} stuck in {st.get('state')}, wanted {want}")


@pytest.fixture(scope="module")
def core(spark, sf_smoke, tmp_path_factory):
    sql_dir = tmp_path_factory.mktemp("tasks")
    (sql_dir / "test.sql").write_text(TASKS_SQL)
    c = Core(spark, worker_concurrency=4)
    c.add_source("testdata", sf_smoke)
    c.add_result_backend("default", str(tmp_path_factory.mktemp("results")))
    c.load_task_dirs([str(sql_dir)])
    c.start()
    yield c
    c.stop()


def test_job_lifecycle_and_values(core, spark):
    resp = core.new_job("get_profit_summary", JobReq(job_id="my_job", args=["7"]))
    assert resp.job_id == "my_job"
    st = _wait(core, "my_job", (jobstore.SUCCESS, jobstore.FAILURE))
    assert st["state"] == jobstore.SUCCESS, st["error"]
    assert st["count"] > 0
    out = core.read_result("my_job")
    # Value check: same aggregate straight on the source session.
    expected = (
        core._sessions["testdata"]
        .sql("SELECT COUNT(DISTINCT CAST(ts AS DATE)) n FROM events WHERE user_id = 7")
        .collect()[0][0]
    )
    assert out.count() == expected == st["count"]


def test_result_schema_golden(core):
    """The reference's only correctness golden (server_test.go.bak:
    261-286): total collapses to numeric/DECIMAL, entry_date to DATE."""
    resp = core.new_job("get_profit_summary", JobReq(args=["3"]))
    _wait(core, resp.job_id, (jobstore.SUCCESS,))
    schema = {f.name: f.dataType for f in core.read_result(resp.job_id).schema.fields}
    assert schema["total"] == T.DecimalType(38, 18)
    assert schema["entry_date"] == T.DateType()


def test_timestamp_range_args(core):
    resp = core.new_job(
        "get_profit_entries_by_date",
        JobReq(args=["7", "2024-01-10 00:00:00", "2024-01-20 00:00:00"]),
    )
    st = _wait(core, resp.job_id, (jobstore.SUCCESS, jobstore.FAILURE))
    assert st["state"] == jobstore.SUCCESS, st["error"]


def test_auto_job_id(core):
    resp = core.new_job("get_profit_entries", JobReq(args=["1"]))
    assert resp.job_id.startswith("job_")  # core.go:341-352
    _wait(core, resp.job_id, (jobstore.SUCCESS,))


def test_unknown_task_rejected(core):
    with pytest.raises(KeyError, match="unrecognized task"):
        core.new_job("nope", JobReq())


def test_missing_args_fail(core):
    resp = core.new_job("get_profit_entries", JobReq())
    st = _wait(core, resp.job_id, (jobstore.FAILURE,))
    assert "needs 1 args" in st["error"]


def test_single_flight(core):
    """An ID that is Processing/Retrying can't be re-enqueued
    (core.go:331-339); a completed ID can (non-unique IDs allowed)."""
    core.new_job("slow_query", JobReq(job_id="sf_test"))
    time.sleep(0.3)
    with pytest.raises(SingleFlightError):
        core.new_job("slow_query", JobReq(job_id="sf_test"))
    _wait(core, "sf_test", (jobstore.SUCCESS,))
    core.new_job("get_profit_entries", JobReq(job_id="sf_test", args=["1"]))
    _wait(core, "sf_test", (jobstore.SUCCESS,))


def test_slow_query_stays_running_then_succeeds(core):
    """client_test.go:84-101: a slow job polls non-terminal, then
    completes."""
    resp = core.new_job("slow_query", JobReq(job_id="slow1"))
    time.sleep(1.0)
    st = core.job_status("slow1")
    assert st["state"] in (jobstore.PENDING, jobstore.STARTED)
    st = _wait(core, "slow1", (jobstore.SUCCESS, jobstore.FAILURE))
    assert st["state"] == jobstore.SUCCESS, st["error"]
    assert resp.queue == "default"


def test_cancel_running_job(core):
    core.new_job("slow_query", JobReq(job_id="doomed"))
    time.sleep(0.5)
    core.cancel_job("doomed")  # interrupts the Spark job group
    with pytest.raises(KeyError):
        core.job_status("doomed")  # deleted from the store (core.go:243-271)


def test_cancel_during_build_stops_the_build_job(spark, tmp_path_factory):
    """A builder's own Spark jobs (barriers, driver pulls) run in the
    job's group, so ``cancel_job`` interrupts them too: the build ends
    within ~2 s of the cancel, and no result table is written."""
    c = Core(spark, worker_concurrency=1)
    res_dir = tmp_path_factory.mktemp("build_cancel_res")
    c.add_result_backend("default", str(res_dir))
    started, ended = threading.Event(), threading.Event()

    def slow_build(sess, args):
        started.set()
        try:
            sess.sql(
                "SELECT reflect('java.lang.Thread', 'sleep', 5000L) AS slept"
            ).collect()
        finally:
            ended.set()
        return sess.range(3)

    c.register_callable_task("slow_build", slow_build)
    c.start()
    try:
        c.new_job("slow_build", JobReq(job_id="build_doomed"))
        assert started.wait(30)
        tracker = spark.sparkContext.statusTracker()
        deadline = time.monotonic() + 10
        while not tracker.getActiveJobsIds() and time.monotonic() < deadline:
            time.sleep(0.05)
        time.sleep(0.3)  # the sleep task is running
        c.cancel_job("build_doomed")
        assert ended.wait(2.5), "the build's Spark job outlived the cancel"
        with pytest.raises(KeyError):
            c.job_status("build_doomed")
    finally:
        c.stop()  # waits for the worker to unwind the cancelled job
    assert not any(res_dir.iterdir()), list(res_dir.iterdir())


def test_cancel_completed_requires_purge(core):
    resp = core.new_job("get_profit_entries", JobReq(args=["2"]))
    _wait(core, resp.job_id, (jobstore.SUCCESS,))
    with pytest.raises(ValueError, match="already complete"):
        core.cancel_job(resp.job_id, purge=False)
    core.cancel_job(resp.job_id, purge=True)
    with pytest.raises(KeyError):
        core.job_status(resp.job_id)


def test_failure_and_retries(core):
    resp = core.new_job("broken_query", JobReq(retries=2))
    st = _wait(core, resp.job_id, (jobstore.FAILURE,))
    assert core.store.get(resp.job_id).attempts == 3  # 1 try + 2 retries
    assert "this_table_does_not_exist" in st["error"] or "TABLE_OR_VIEW" in st["error"]


def test_row_written_to_the_store_runs(core):
    """The store is the backlog: a row inserted without ``new_job``
    (no wake-up) is claimed by the queue's pool at its next poll."""
    core.store.create(jobstore.JobRecord(
        job_id="direct_row", task="get_profit_entries", queue="default",
        args=["1"],
    ))
    st = _wait(core, "direct_row", (jobstore.SUCCESS, jobstore.FAILURE), timeout=30)
    assert st["state"] == jobstore.SUCCESS, st["error"]
    assert st["count"] > 0


def test_single_process_job_outliving_claim_lease_runs_once(
    spark, tmp_path_factory
):
    """A single-process engine runs no heartbeat, so its claims take no
    lease: a job running past ``claim_lease`` is not re-claimed by an
    idle thread of its own pool and run a second time."""
    c = Core(spark, worker_concurrency=2, claim_lease=0.5)
    c.add_result_backend("default", str(tmp_path_factory.mktemp("lease_res")))
    c.register_task(Task(
        name="sleepy", raw_stmt="", queue="default",
        stmt="SELECT reflect('java.lang.Thread', 'sleep', 2500L) AS slept",
    ))
    backend = c.result_backends.get("default")
    writes: list[str] = []
    orig_write = backend.write

    def counting_write(job_id, *a, **kw):
        writes.append(job_id)
        return orig_write(job_id, *a, **kw)

    backend.write = counting_write
    c.start()
    try:
        c.new_job("sleepy", JobReq(job_id="outlives_lease"))
        st = _wait(c, "outlives_lease", (jobstore.SUCCESS, jobstore.FAILURE))
        assert st["state"] == jobstore.SUCCESS, st["error"]
        # a re-claim can only happen while the row is STARTED; give a
        # run claimed just before SUCCESS the time to reach its write
        time.sleep(0.5)
        assert c.store.get("outlives_lease").attempts == 0
        assert writes == ["outlives_lease"]
    finally:
        c.stop()


def test_eta_delays_execution(core):
    eta = time.strftime("%Y-%m-%d %H:%M:%S", time.localtime(time.time() + 2))
    resp = core.new_job("get_profit_entries", JobReq(args=["4"], eta=eta))
    assert core.job_status(resp.job_id)["state"] == jobstore.PENDING
    time.sleep(1.0)
    assert core.job_status(resp.job_id)["state"] == jobstore.PENDING  # still waiting
    _wait(core, resp.job_id, (jobstore.SUCCESS,), timeout=30)


def test_job_group_lifecycle(core):
    group_id, resps = core.new_job_group(
        "",
        [
            ("get_profit_summary", JobReq(args=["5"])),
            ("get_profit_entries", JobReq(args=["5"])),
        ],
    )
    assert group_id.startswith("group_")
    assert len(resps) == 2
    deadline = time.time() + 90
    while time.time() < deadline:
        st = core.group_status(group_id)
        if st["state"] == jobstore.SUCCESS:
            break
        assert st["state"] != jobstore.FAILURE, st
        time.sleep(0.2)
    st = core.group_status(group_id)
    assert st["state"] == jobstore.SUCCESS
    assert {j["state"] for j in st["jobs"]} == {jobstore.SUCCESS}


def test_pending_listing_on_busy_queue(core, spark, sf_smoke, tmp_path_factory):
    """A conc=1 queue holds jobs PENDING while one runs
    (GetPendingJobs, core.go:149-162 — oldest first)."""
    c = Core(spark, worker_concurrency=1)
    c.add_source("testdata", sf_smoke)
    c.add_result_backend("default", str(tmp_path_factory.mktemp("results2")))
    sql_dir = tmp_path_factory.mktemp("tasks2")
    (sql_dir / "t.sql").write_text(
        "-- name: slow2\n-- raw: 1\n"
        "SELECT reflect('java.lang.Thread', 'sleep', 2500L) AS slept;\n"
    )
    c.load_task_dirs([str(sql_dir)])
    c.start()
    try:
        c.new_job("slow2", JobReq(job_id="p1"))
        time.sleep(0.4)  # p1 starts; the rest queue up behind it
        c.new_job("slow2", JobReq(job_id="p2"))
        c.new_job("slow2", JobReq(job_id="p3"))
        pending = [j["job_id"] for j in c.pending_jobs("default")]
        assert pending == ["p2", "p3"]  # oldest first, p1 already STARTED
    finally:
        c.stop()


def test_ttl_reaper_deletes_expired_results(core):
    """A21 upgraded: the reference accepts ttl and ignores it
    (core.go:354-357); here the reaper actually deletes the result
    table once finished_at + ttl passes."""
    import os

    resp = core.new_job("get_profit_entries", JobReq(args=["5"], ttl=30))
    _wait(core, resp.job_id, (jobstore.SUCCESS,))
    rec = core.store.get(resp.job_id)
    assert os.path.isdir(rec.result_path)
    assert core.reap_expired_results(now=time.time()) == []  # not yet expired
    reaped = core.reap_expired_results(now=time.time() + 3600)
    assert resp.job_id in reaped
    assert not os.path.isdir(core.result_backends.get(rec.result_backend).table_path(resp.job_id))
    with pytest.raises(ValueError):
        core.read_result(resp.job_id)
    # status still answers (row count survives the reap, like the
    # reference's count-only status payload)
    assert core.job_status(resp.job_id)["count"] > 0


def test_ttl_zero_keeps_results_forever(core):
    """Explicit ttl=0 is 'keep forever' (jobstore.expired contract) —
    it must NOT silently fall back to the server default; absent ttl
    must."""
    r0 = core.new_job("get_profit_entries", JobReq(args=["5"], ttl=0))
    _wait(core, r0.job_id, (jobstore.SUCCESS,))
    rdef = core.new_job("get_profit_entries", JobReq(args=["5"]))
    _wait(core, rdef.job_id, (jobstore.SUCCESS,))
    assert core.store.get(r0.job_id).ttl == 0
    assert core.store.get(rdef.job_id).ttl == core.default_job_ttl
    # far future: the default-ttl job reaps, the ttl=0 job never does
    reaped = core.reap_expired_results(now=time.time() + 10**6)
    assert rdef.job_id in reaped
    assert r0.job_id not in reaped


def test_jdbc_result_delete_drops_table(tmp_path):
    """The TTL reaper's JDBC path issues a real DROP TABLE through a
    direct DBAPI connection (Spark's JDBC writer has no DDL path)."""
    import sqlite3

    from dungbeetle_spark.results import JdbcResultBackend

    db = tmp_path / "results.db"
    with sqlite3.connect(db) as con:
        con.execute('CREATE TABLE "results_j1" (n INTEGER)')
        con.execute('CREATE TABLE "results_j2" (n INTEGER)')
        con.commit()
    backend = JdbcResultBackend("cache", f"jdbc:sqlite:{db}")
    backend.delete("j1")
    backend.delete("missing")  # DROP IF EXISTS: no error on absent table
    with sqlite3.connect(db) as con:
        names = {
            r[0]
            for r in con.execute(
                "SELECT name FROM sqlite_master WHERE type='table'"
            )
        }
    assert names == {"results_j2"}


def test_ttl_reaper_drops_jdbc_result_table(core, tmp_path):
    """End-to-end TTL coverage for JDBC backends (VERDICT r02/r03
    carry-over): an expired job whose results live in an external SQL
    database gets its results_<job_id> table DROPped by the reaper
    through the DBAPI seam — not just by a direct delete() call."""
    import sqlite3

    from dungbeetle_spark.results import JdbcResultBackend

    db = tmp_path / "results.db"
    with sqlite3.connect(db) as con:
        con.execute('CREATE TABLE "results_jdbc_reap" (n INTEGER)')
        con.commit()
    backend = JdbcResultBackend("jdbc_cache", f"jdbc:sqlite:{db}")
    core.result_backends.add(backend)
    try:
        rec = jobstore.JobRecord(
            job_id="jdbc_reap", task="t", queue="q", ttl=1
        )
        rec.state = jobstore.SUCCESS
        rec.finished_at = time.time() - 100
        rec.result_backend = "jdbc_cache"
        rec.result_path = backend.table_path("jdbc_reap")
        core.store.create(rec)
        assert "jdbc_reap" in core.reap_expired_results()
        with sqlite3.connect(db) as con:
            names = {
                r[0]
                for r in con.execute(
                    "SELECT name FROM sqlite_master WHERE type='table'"
                )
            }
        assert "results_jdbc_reap" not in names
        assert not core.store.get("jdbc_reap").result_path
    finally:
        core.result_backends._backends.pop("jdbc_cache", None)
        core.store.delete("jdbc_reap")


def test_reaper_survives_failing_and_unsupported_deletes(core):
    """One bad backend must not stall TTL reaping for everyone else:
    NotImplementedError (external retention) clears the record; a
    transient failure keeps it for retry; records after either still
    reap on the same pass."""

    class _NoDelete:
        name = "nodelete"

        def delete(self, job_id):
            raise NotImplementedError

    class _Flaky:
        name = "flaky"
        calls = 0

        def delete(self, job_id):
            self.calls += 1
            raise RuntimeError("warehouse hiccup")

    flaky = _Flaky()
    core.result_backends.add(_NoDelete())
    core.result_backends.add(flaky)
    try:
        for name, backend in (("a", "nodelete"), ("b", "flaky"), ("c", "nodelete")):
            rec = jobstore.JobRecord(job_id=f"reap_{name}", task="t", queue="q", ttl=1)
            rec.state = jobstore.SUCCESS
            rec.finished_at = time.time() - 100
            rec.result_backend = backend
            rec.result_path = f"/nonexistent/{name}"
            core.store.create(rec)
        reaped = core.reap_expired_results()
        assert "reap_a" in reaped and "reap_c" in reaped  # loop never stalls
        assert "reap_b" not in reaped
        assert core.store.get("reap_b").result_path  # kept for retry
        assert not core.store.get("reap_a").result_path  # not re-selected
        assert core.reap_expired_results() == []  # only flaky retries...
        assert flaky.calls == 2  # ...and it was retried
    finally:
        # the shared core fixture routes result writes randomly across
        # attached backends — the fakes must not leak to later tests
        core.result_backends._backends.pop("nodelete", None)
        core.result_backends._backends.pop("flaky", None)
        for jid in ("reap_a", "reap_b", "reap_c"):
            core.store.delete(jid)


def test_compact_result_rewrites_to_fewer_files(core):
    """Warehouse maintenance: compaction collapses a multi-file result
    table to N files with identical rows, swapping atomically."""
    import glob

    resp = core.new_job("get_profit_entries", JobReq(args=["7"]))
    _wait(core, resp.job_id, (jobstore.SUCCESS,))
    rec = core.store.get(resp.job_id)
    before = core.read_result(resp.job_id).orderBy("event_id").collect()
    n = core.compact_result(resp.job_id, target_files=1)
    assert n == len(before)
    files = glob.glob(f"{rec.result_path}/part-*.parquet")
    assert len(files) == 1
    assert core.read_result(resp.job_id).orderBy("event_id").collect() == before


def test_jobstore_survives_restart(spark, sf_smoke, tmp_path):
    """Control-plane durability (the reference's Redis-broker analog,
    core.go:164-204): a persisted Core recovers terminal job status,
    row count, and result location after the driver process dies; jobs
    the crash caught mid-flight recover as FAILURE, not ghosts."""
    db = str(tmp_path / "jobs.db")
    results = str(tmp_path / "results")

    c1 = Core(spark, jobstore_path=db)
    c1.add_source("testdata", sf_smoke)
    c1.add_result_backend("default", results)
    c1.register_task(
        Task(name="n_orders", stmt="SELECT COUNT(*) AS n FROM orders",
             raw_stmt="", queue="default")
    )
    c1.start()
    resp = c1.new_job("n_orders", JobReq(job_id="durable1"))
    st = _wait(c1, resp.job_id, (jobstore.SUCCESS,))
    gid, _resps = c1.new_job_group("durable_grp", [("n_orders", JobReq())])
    for j in c1.store.group_jobs(gid):
        _wait(c1, j, (jobstore.SUCCESS,))
    c1.stop()  # driver "dies" (close flushes nothing extra; write-through)
    # simulate rows a crash left active, written once c1's claim threads
    # are gone (they would run a PENDING row): one never claimed, one
    # STARTED by a worker that died mid-job
    s = jobstore.JobStore(persist_path=db, recover="attach")
    s.create(jobstore.JobRecord(job_id="ghost", task="n_orders", queue="default"))
    s.create(jobstore.JobRecord(
        job_id="ghost_started", task="n_orders", queue="default",
        state=jobstore.STARTED, owner="deadhost:1:000000",
        heartbeat_at=time.time() - 3600,
    ))
    s.close()

    c2 = Core(spark, jobstore_path=db)
    c2.add_source("testdata", sf_smoke)
    c2.add_result_backend("default", results)
    st2 = c2.job_status("durable1")
    assert st2["state"] == jobstore.SUCCESS
    assert st2["count"] == st["count"] > 0
    assert c2.read_result("durable1").count() == st["count"]  # path survives
    for job_id in ("ghost", "ghost_started"):
        ghost = c2.job_status(job_id)
        assert ghost["state"] == jobstore.FAILURE
        assert "restart" in ghost["error"]
    # groups recover too: membership and aggregate state
    g = c2.group_status("durable_grp")
    assert g["state"] == jobstore.SUCCESS
    assert len(g["jobs"]) == 1
    c2.stop()


def test_single_flight_across_processes(tmp_path):
    """Two engine processes sharing one job-store file must honor each
    other's active jobs: the check-and-insert is atomic in SQLite
    (BEGIN IMMEDIATE), the reference's Redis single-flight guarantee
    (core.go:331-339) without Redis."""
    db = str(tmp_path / "jobs.db")
    s1 = jobstore.JobStore(persist_path=db)
    s2 = jobstore.JobStore(persist_path=db)  # second "process"

    s1.create(jobstore.JobRecord(job_id="sf1", task="t", queue="q"))  # PENDING
    with pytest.raises(SingleFlightError, match="another process"):
        s2.create(jobstore.JobRecord(job_id="sf1", task="t", queue="q"))

    # a sidecar attaching to the LIVE store must not fail the
    # primary's in-flight jobs (recover="attach") — and must still see
    # and honor them
    s3 = jobstore.JobStore(persist_path=db, recover="attach")
    assert s3.get("sf1").state == jobstore.PENDING
    with pytest.raises(SingleFlightError):  # loaded live job honored
        s3.create(jobstore.JobRecord(job_id="sf1", task="t", queue="q"))
    s3.close()

    s1.set_state("sf1", jobstore.SUCCESS)  # terminal → re-post allowed anywhere
    s2.create(jobstore.JobRecord(job_id="sf1", task="t", queue="q"))
    with pytest.raises(SingleFlightError):  # and now s2 owns the active one
        s1.create(jobstore.JobRecord(job_id="sf1", task="t", queue="q"))
    s1.close()
    s2.close()


def test_partitioned_result_table(core, spark, tmp_path_factory):
    """`-- partition_by:` writes the result table partitioned, so a
    downstream reader of a big result gets partition pruning."""
    import os

    from dungbeetle_spark.tasks import Task

    t = Task(
        name="per_type_counts",
        stmt="SELECT event_type, user_id, COUNT(*) AS n FROM events "
        "GROUP BY event_type, user_id",
        raw_stmt="",
        partition_by=["event_type"],
    )
    core.register_task(t)
    resp = core.new_job("per_type_counts", JobReq())
    st = _wait(core, resp.job_id, (jobstore.SUCCESS, jobstore.FAILURE))
    assert st["state"] == jobstore.SUCCESS, st["error"]
    rec = core.store.get(resp.job_id)
    subdirs = [d for d in os.listdir(rec.result_path) if d.startswith("event_type=")]
    assert len(subdirs) >= 2, subdirs
    out = core.read_result(resp.job_id)
    assert out.count() == st["count"] > 0
    assert set(out.columns) == {"event_type", "user_id", "n"}
    # compaction refuses partitioned tables: a flat rewrite would drop
    # the layout and partition-type inference can corrupt key values
    with pytest.raises(NotImplementedError, match="hive-partitioned"):
        core.compact_result(resp.job_id)


def test_concurrent_job_burst(core):
    """20 jobs across two queues complete correctly under concurrent
    submission — the 'queue as traffic control' story actually holds
    (README Usecase; worker pools bound Spark pressure per queue)."""
    import concurrent.futures as cf

    def submit(i: int):
        resp = core.new_job("get_profit_summary", JobReq(args=[str(i % 9)]))
        st = _wait(core, resp.job_id, (jobstore.SUCCESS, jobstore.FAILURE))
        return st["state"], st["count"]

    with cf.ThreadPoolExecutor(max_workers=10) as ex:
        results = list(ex.map(submit, range(20)))
    assert all(s == jobstore.SUCCESS for s, _ in results), results
    # same-arg jobs must agree on row counts (deterministic engine)
    by_arg: dict[int, set[int]] = {}
    for i, (_, count) in enumerate(results):
        by_arg.setdefault(i % 9, set()).add(count)
    assert all(len(v) == 1 for v in by_arg.values()), by_arg


def test_streaming_task_through_job_layer(core, sf_smoke):
    """A Structured Streaming query registered as a callable task runs
    like any SQL job: enqueue → worker drains the stream → result
    table + row count. Streams are first-class jobs, not a side
    system."""
    from dungbeetle_spark.streaming.windows import windowed_event_counts

    core.register_callable_task(
        "stream_daily_counts",
        lambda sess, args: windowed_event_counts(sess, sf_smoke),
        queue="streams",
    )
    resp = core.new_job("stream_daily_counts", JobReq())
    st = _wait(core, resp.job_id, (jobstore.SUCCESS, jobstore.FAILURE))
    assert st["state"] == jobstore.SUCCESS, st["error"]
    out = core.read_result(resp.job_id)
    assert st["count"] == out.count() > 0
    assert "window_start" in out.columns


# ---------------------------------------------------------------------------
# FAIR scheduler pool wiring (VERDICT r05 item 6): `-- queue:` must
# become the Spark FAIR pool of the THREAD executing the job, and two
# queues' jobs must actually interleave (separate worker pools), not
# serialize behind each other.
# ---------------------------------------------------------------------------

POOL_TASKS_SQL = """\
-- name: pool_probe_a
-- queue: qa
-- raw: 1
SELECT reflect('java.lang.Thread', 'sleep', 1200L) AS slept;

-- name: pool_probe_b
-- queue: qb
-- raw: 1
SELECT reflect('java.lang.Thread', 'sleep', 1200L) AS slept;
"""


def test_fair_pool_set_per_queue_and_queues_interleave(
    spark, tmp_path_factory
):
    sql_dir = tmp_path_factory.mktemp("pool_tasks")
    (sql_dir / "pool.sql").write_text(POOL_TASKS_SQL)
    c = Core(spark, worker_concurrency=2)
    c.add_result_backend("default", str(tmp_path_factory.mktemp("pool_res")))
    c.load_task_dirs([str(sql_dir)])

    # Observe from INSIDE the job: wrap the backend's write (which
    # _execute calls between setting and clearing the pool property,
    # on the worker thread) to capture the live thread-local pool and
    # the execution span.
    backend = c.result_backends.get_random()
    seen: dict[str, dict] = {}
    orig_write = backend.write

    def spying_write(job_id, task, df, **kw):
        t0 = time.time()
        pool = spark.sparkContext.getLocalProperty("spark.scheduler.pool")
        n = orig_write(job_id, task, df, **kw)
        seen[job_id] = {"pool": pool, "span": (t0, time.time())}
        return n

    backend.write = spying_write
    try:
        c.start()
        # FAIR mode must be on for pools to mean anything (session.py
        # pins it; the assert keeps the wiring honest end-to-end)
        assert spark.conf.get("spark.scheduler.mode") == "FAIR"
        jobs = []
        for i in range(2):
            jobs.append(("qa", c.new_job("pool_probe_a", JobReq()).job_id))
            jobs.append(("qb", c.new_job("pool_probe_b", JobReq()).job_id))
        for _q, jid in jobs:
            st = _wait(c, jid, (jobstore.SUCCESS, jobstore.FAILURE))
            assert st["state"] == jobstore.SUCCESS, st["error"]
        # 1) the executing thread carried the queue name as its pool
        for q, jid in jobs:
            assert seen[jid]["pool"] == q, (jid, seen[jid])
        # 2) the two queues ran concurrently: some qa span overlaps
        # some qb span (each job sleeps 1.2 s executor-side, so
        # serialized queues could never overlap)
        qa_spans = [seen[j]["span"] for q, j in jobs if q == "qa"]
        qb_spans = [seen[j]["span"] for q, j in jobs if q == "qb"]
        overlaps = any(
            a0 < b1 and b0 < a1
            for (a0, a1) in qa_spans
            for (b0, b1) in qb_spans
        )
        assert overlaps, (qa_spans, qb_spans)
    finally:
        backend.write = orig_write
        c.stop()


def test_group_status_state_agrees_with_its_members():
    """``group_status`` reads each member once: a member advancing
    between two reads of the store cannot make the group answer SUCCESS
    beside a member it lists as STARTED."""
    core = Core(None)
    core.store.create(jobstore.JobRecord(
        job_id="gm", task="t", queue="q", state=jobstore.STARTED
    ))
    core.store.create_group("gs", ["gm"])
    get = core.store.get

    def advancing_get(job_id):
        rec = dataclasses.replace(get(job_id))  # a read, not the live row
        if rec.state == jobstore.STARTED:
            core.store.set_state(job_id, jobstore.SUCCESS)
        return rec

    core.store.get = advancing_get
    st = core.group_status("gs")
    assert [j["state"] for j in st["jobs"]] == [jobstore.STARTED]
    assert st["state"] == jobstore.PENDING
    assert core.group_status("gs")["state"] == jobstore.SUCCESS
