"""Cross-process job distribution through the shared SQLite broker.

The reference's defining feature is a Redis-brokered queue any worker
process on any machine can pull from (reference: internal/core/
core.go:403-447, cmd/init.go:200-229; README "Multiple queues, workers,
and job distribution"). The rebuild's broker is the shared SQLite
jobstore: enqueue = INSERT of a PENDING row, delivery = atomic
owner-stamping claim. These tests pin:

- exactly-once delivery under concurrent claimers,
- a producer/worker split across two Cores (the sidecar topology),
- retry re-delivery through the broker,
- ETA holding jobs back from claimers,
- restart semantics: a distributed primary re-queues (the store is a
  durable broker), it does not fail the backlog,
- the reference's documented two-process topology END TO END: a real
  HTTP server process and a real ``--worker-only`` subprocess sharing
  only the store file and the results directory.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

import pytest

from dungbeetle_spark import jobstore
from dungbeetle_spark.core import Core, JobReq
from dungbeetle_spark.jobstore import JobRecord, JobStore, SingleFlightError
from dungbeetle_spark.tasks import Task


def _wait(core: Core, job_id: str, states=("SUCCESS", "FAILURE"), timeout=60.0):
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        st = core.job_status(job_id)
        if st["state"] in states:
            return st
        time.sleep(0.05)
    raise TimeoutError(f"job {job_id} stuck in {core.job_status(job_id)}")


def test_claim_exactly_once_under_contention(tmp_path):
    """Two stores (≈ two processes), four claiming threads: every job
    delivered exactly once — the BEGIN IMMEDIATE claim can't double-
    deliver or drop."""
    db = str(tmp_path / "jobs.db")
    s1 = JobStore(persist_path=db)
    s2 = JobStore(persist_path=db, recover="attach")
    n = 60
    for i in range(n):
        s1.create(JobRecord(job_id=f"c{i:03d}", task="t", queue="q"))

    claimed: list[tuple[str, str]] = []
    lock = threading.Lock()
    barrier = threading.Barrier(4)

    def drain(store: JobStore, owner: str):
        barrier.wait()  # all claimers hit the store simultaneously
        while True:
            rec = store.claim(["q"], owner)
            if rec is None:
                return
            with lock:
                claimed.append((rec.job_id, owner))
            time.sleep(0.001)  # yield so peers interleave

    threads = [
        threading.Thread(target=drain, args=(s, o))
        for s, o in [(s1, "w1"), (s1, "w2"), (s2, "w3"), (s2, "w4")]
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    ids = [jid for jid, _ in claimed]
    assert sorted(ids) == [f"c{i:03d}" for i in range(n)]  # all, exactly once
    for jid, o in claimed:
        rec = s1.get(jid)
        assert rec.state == jobstore.STARTED and rec.owner == o
    s1.close()
    s2.close()


def test_producer_worker_core_split(spark, sf_smoke, tmp_path):
    """Sidecar topology inside one process: a producer Core that
    claims nothing (claim_queues=[]) and a worker Core attached to the
    same store execute the producer's jobs; the producer sees SUCCESS
    and reads the results — without ever running the query itself."""
    db = str(tmp_path / "jobs.db")
    results = str(tmp_path / "results")
    task = Task(
        name="n_orders",
        stmt="SELECT COUNT(*) AS n FROM orders",
        raw_stmt="",
        queue="default",
    )

    producer = Core(spark, jobstore_path=db, distributed=True, claim_queues=[])
    producer.add_source("testdata", sf_smoke)
    producer.add_result_backend("default", results)
    producer.register_task(task)
    producer.start()

    worker = Core(
        spark,
        jobstore_path=db,
        distributed=True,
        jobstore_recover_inflight=False,
    )
    worker.add_source("testdata", sf_smoke)
    worker.add_result_backend("default", results)
    worker.register_task(task)
    worker.start()

    try:
        resp = producer.new_job("n_orders", JobReq(job_id="dist1"))
        st = _wait(producer, resp.job_id)
        assert st["state"] == jobstore.SUCCESS
        assert st["count"] == 1
        rec = producer.store.get("dist1")
        assert rec.owner == worker.worker_id  # the worker claimed it
        assert rec.owner != producer.worker_id
        assert producer.read_result("dist1").collect()[0].n > 0
    finally:
        worker.stop()
        producer.stop()


def test_retry_redelivered_through_broker(spark, sf_smoke, tmp_path):
    """A failing attempt returns the job to the backlog (owner cleared,
    RETRY) and a claimer re-delivers it; attempts are tracked across
    deliveries."""
    db = str(tmp_path / "jobs.db")
    results = str(tmp_path / "results")
    calls = {"n": 0}

    def flaky(sess, args):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient failure")
        return sess.sql("SELECT 1 AS ok")

    core = Core(spark, jobstore_path=db, distributed=True)
    core.add_source("testdata", sf_smoke)
    core.add_result_backend("default", results)
    core.register_callable_task("flaky", flaky)
    core.start()
    try:
        resp = core.new_job("flaky", JobReq(job_id="retry1", retries=2))
        st = _wait(core, resp.job_id)
        assert st["state"] == jobstore.SUCCESS
        assert calls["n"] == 2
        assert core.store.get("retry1").attempts == 1  # one failed attempt
    finally:
        core.stop()


def test_eta_holds_job_from_claimers(spark, sf_smoke, tmp_path):
    """Distributed mode has no local timers: the ETA lives in the
    broker row and claimers skip it until due."""
    db = str(tmp_path / "jobs.db")
    results = str(tmp_path / "results")
    core = Core(
        spark, jobstore_path=db, distributed=True, claim_poll_interval=0.05
    )
    core.add_source("testdata", sf_smoke)
    core.add_result_backend("default", results)
    core.register_task(
        Task(name="one", stmt="SELECT 1 AS x", raw_stmt="", queue="default")
    )
    core.start()
    try:
        eta = time.strftime("%Y-%m-%d %H:%M:%S", time.localtime(time.time() + 2))
        resp = core.new_job("one", JobReq(job_id="eta1", eta=eta))
        time.sleep(0.8)
        assert core.job_status(resp.job_id)["state"] == jobstore.PENDING
        st = _wait(core, resp.job_id, timeout=30)
        assert st["state"] == jobstore.SUCCESS
    finally:
        core.stop()


def test_posted_job_wakes_local_claim_thread(spark, tmp_path):
    """A job posted to a process that also works its queue is claimed
    at once, not at the claim threads' next poll."""
    core = Core(
        spark,
        jobstore_path=str(tmp_path / "jobs.db"),
        distributed=True,
        claim_poll_interval=5.0,
    )
    core.add_result_backend("default", str(tmp_path / "results"))
    core.register_task(
        Task(name="one", stmt="SELECT 1 AS x", raw_stmt="", queue="default")
    )
    core.start()
    try:
        time.sleep(0.5)  # every claim thread has found nothing and sleeps
        t0 = time.monotonic()
        core.new_job("one", JobReq(job_id="woken1"))
        st = _wait(core, "woken1", timeout=30)
        assert st["state"] == jobstore.SUCCESS
        assert time.monotonic() - t0 < 3.0
    finally:
        core.stop()


def test_distributed_restart_requeues_backlog(tmp_path):
    """A distributed primary restart treats the store as a durable
    broker: PENDING survives, in-flight rows return to the backlog
    (owner cleared) for re-delivery — at-least-once, like the
    reference's Redis broker after a worker crash. A single-process
    restart (recover='fail') still fails them honestly."""
    db = str(tmp_path / "jobs.db")
    s = JobStore(persist_path=db)
    s.create(JobRecord(job_id="p1", task="t", queue="q"))
    s.create(JobRecord(job_id="r1", task="t", queue="q"))
    assert s.claim(["q"], "w-dead") is not None  # r1 or p1 now STARTED
    s.close()

    s2 = JobStore(persist_path=db, recover="requeue")
    states = {j: s2.get(j).state for j in ("p1", "r1")}
    assert set(states.values()) == {jobstore.PENDING}
    assert all(s2.get(j).owner == "" for j in ("p1", "r1"))
    # both claimable again
    assert s2.claim(["q"], "w-new") is not None
    assert s2.claim(["q"], "w-new") is not None
    assert s2.claim(["q"], "w-new") is None
    s2.close()

    s3 = JobStore(persist_path=db, recover="fail")
    assert {s3.get(j).state for j in ("p1", "r1")} == {jobstore.FAILURE}
    s3.close()


def test_requeue_respects_live_worker_leases(tmp_path):
    """A restarting primary must not steal in-flight jobs from LIVE
    sidecars (code-review r04 finding): with requeue_lease set, only
    stale-heartbeat rows return to the backlog; fresh ones stay owned
    (lease reclaim covers them if their owner later dies)."""
    db = str(tmp_path / "jobs.db")
    s = JobStore(persist_path=db)
    s.create(JobRecord(job_id="fresh", task="t", queue="q"))
    s.create(JobRecord(job_id="stale", task="t", queue="q"))
    now = time.time()
    assert s.claim(["q"], "w-live", now=now) is not None  # fresh heartbeat
    assert s.claim(["q"], "w-dead", now=now - 10_000) is not None  # ancient
    # identify which claim got which job (oldest-first = fresh first)
    fresh_owner = s.get("fresh").owner
    assert fresh_owner == "w-live"
    s.close()

    s2 = JobStore(persist_path=db, recover="requeue", requeue_lease=120)
    assert s2.get("fresh").state == jobstore.STARTED  # live worker keeps it
    assert s2.get("fresh").owner == "w-live"
    assert s2.get("stale").state == jobstore.PENDING  # dead worker's returns
    assert s2.get("stale").owner == ""
    s2.close()


def test_lease_reclaims_jobs_from_dead_workers(tmp_path):
    """A worker that dies mid-job stops heartbeating; after the lease
    expires any live claimer re-delivers its jobs. Fresh claims are
    never stolen, and heartbeats extend the lease."""
    db = str(tmp_path / "jobs.db")
    s = JobStore(persist_path=db)
    s.create(JobRecord(job_id="L1", task="t", queue="q"))
    t0 = 1000.0
    rec = s.claim(["q"], "w-dead", now=t0, lease=30)
    assert rec is not None and rec.heartbeat_at == t0

    # within the lease: nobody can steal it
    assert s.claim(["q"], "w-live", now=t0 + 10, lease=30) is None
    # a heartbeat extends the lease
    s.heartbeat("w-dead", now=t0 + 20)
    assert s.claim(["q"], "w-live", now=t0 + 35, lease=30) is None
    # owner goes silent → past the lease the job is re-delivered
    got = s.claim(["q"], "w-live", now=t0 + 51, lease=30)
    assert got is not None and got.job_id == "L1"
    assert got.owner == "w-live" and got.state == jobstore.STARTED
    # lease=0 (disabled) never reclaims
    assert s.claim(["q"], "w-other", now=t0 + 10_000, lease=0) is None
    s.close()


def test_lease_reclaim_through_claim_pool(spark, sf_smoke, tmp_path):
    """End-to-end: a STARTED row from a dead worker (stale heartbeat)
    is picked up by a live Core's claim pool and completed."""
    db = str(tmp_path / "jobs.db")
    results = str(tmp_path / "results")
    # simulate the dead worker's leftovers before the live core starts
    seed = JobStore(persist_path=db)
    rec = JobRecord(job_id="orphan", task="one", queue="default")
    rec.state = jobstore.STARTED
    rec.owner = "ghost:999"
    rec.heartbeat_at = time.time() - 3600
    seed.create(rec)
    seed.close()

    core = Core(
        spark,
        jobstore_path=db,
        distributed=True,
        jobstore_recover_inflight=False,  # attach: don't requeue, let the LEASE do it
        claim_poll_interval=0.05,
        claim_lease=5.0,
    )
    core.add_source("testdata", sf_smoke)
    core.add_result_backend("default", results)
    core.register_task(
        Task(name="one", stmt="SELECT 1 AS x", raw_stmt="", queue="default")
    )
    core.start()
    try:
        st = _wait(core, "orphan", timeout=60)
        assert st["state"] == jobstore.SUCCESS
        assert core.store.get("orphan").owner == core.worker_id
    finally:
        core.stop()


def test_single_flight_across_distributed_cores(spark, sf_smoke, tmp_path):
    """While a job is queued/claimed anywhere in the fleet, re-posting
    its ID anywhere else is rejected."""
    db = str(tmp_path / "jobs.db")
    results = str(tmp_path / "results")
    producer = Core(spark, jobstore_path=db, distributed=True, claim_queues=[])
    producer.add_source("testdata", sf_smoke)
    producer.add_result_backend("default", results)
    producer.register_task(
        Task(name="one", stmt="SELECT 1 AS x", raw_stmt="", queue="default")
    )
    producer.start()
    other = Core(
        spark,
        jobstore_path=db,
        distributed=True,
        claim_queues=[],
        jobstore_recover_inflight=False,
    )
    other.add_source("testdata", sf_smoke)
    other.add_result_backend("default", results)
    other.register_task(
        Task(name="one", stmt="SELECT 1 AS x", raw_stmt="", queue="default")
    )
    other.start()
    try:
        producer.new_job("one", JobReq(job_id="sfd1"))
        with pytest.raises(SingleFlightError, match="another process"):
            other.new_job("one", JobReq(job_id="sfd1"))
    finally:
        other.stop()
        producer.stop()


def test_cross_process_cancel_never_resurrects(tmp_path):
    """DELETE /jobs/{id} from any process purges the row; the owning
    worker's eventual terminal write is dropped instead of
    resurrecting a cancelled job."""
    db = str(tmp_path / "jobs.db")
    a = JobStore(persist_path=db)
    b = JobStore(persist_path=db, recover="attach")
    a.create(JobRecord(job_id="x", task="t", queue="q"))
    rec = a.claim(["q"], "wa")
    assert rec is not None and rec.state == jobstore.STARTED
    b.mark_cancelled("x")
    b.delete("x")
    assert a.set_state("x", jobstore.SUCCESS, count=5) is False
    assert not a.exists("x") and not b.exists("x")
    a.close()
    b.close()


def test_cross_process_group_visibility(tmp_path):
    """Groups created in one process resolve (membership + aggregate
    state) from any process sharing the store."""
    db = str(tmp_path / "jobs.db")
    a = JobStore(persist_path=db)
    b = JobStore(persist_path=db, recover="attach")
    a.create(JobRecord(job_id="g1", task="t", queue="q"))
    a.create(JobRecord(job_id="g2", task="t", queue="q"))
    a.create_group("G", ["g1", "g2"])
    assert b.group_jobs("G") == ["g1", "g2"]
    assert b.group_state("G") == jobstore.PENDING
    a.set_state("g1", jobstore.SUCCESS)
    a.set_state("g2", jobstore.SUCCESS)
    assert b.group_state("G") == jobstore.SUCCESS
    a.close()
    b.close()


@pytest.mark.parametrize("broker_kind", ["sqlite_file", "dbapi"])
def test_worker_only_process_end_to_end(spark, tmp_path, broker_kind):
    """THE reference topology (README "Multiple queues, workers, and
    job distribution"; client/client_test.go drives it E2E): process A
    serves HTTP and enqueues; a real ``--worker-only`` process B —
    separate Python interpreter, separate JVM — claims the job from
    the shared store, executes it on ITS SparkSession, and writes the
    results; A polls SUCCESS over HTTP and reads results_<job_id>.

    Parametrized over both broker wirings: the default file-SQLite
    store, and the pluggable ``DBAPIBroker`` seam configured the way
    a served-database fleet would wire it (``job_store_dbapi`` +
    dialect through the TOML config) — proving the multi-machine
    broker path end-to-end across real OS processes, as far as a
    sandbox without a database server can."""
    from dungbeetle_spark.client import Client
    from dungbeetle_spark.http_api import Server

    db = str(tmp_path / "jobs.db")
    results = str(tmp_path / "results")
    sqldir = tmp_path / "sql"
    sqldir.mkdir()
    (sqldir / "tasks.sql").write_text(
        "-- name: remote_user_counts\n"
        "SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id;\n"
    )
    store_cfg = (
        f'job_store = "{db}"'
        if broker_kind == "sqlite_file"
        else (
            'job_store_dbapi = '
            '"dungbeetle_spark.broker:sqlite3_dbapi_connect"\n'
            'job_store_dialect = "sqlite"\n'
            '[app.job_store_dbapi_options]\n'
            f'database = "{db}"'
        )
    )
    cfg = tmp_path / "worker.toml"
    cfg.write_text(
        f"""
sql_directory = "{sqldir}"

[app]
{store_cfg}

[db.testdata]
path = "/root/testdata/sf0.001"

[results.default]
path = "{results}"
"""
    )

    # Process A: HTTP server, pure producer (claims nothing) — on the
    # same broker wiring as the worker.
    if broker_kind == "sqlite_file":
        core = Core(spark, jobstore_path=db, distributed=True, claim_queues=[])
    else:
        from dungbeetle_spark.broker import DBAPIBroker, sqlite3_dbapi_connect

        core = Core(
            spark,
            jobstore_backend=DBAPIBroker(
                lambda: sqlite3_dbapi_connect(db), dialect="sqlite"
            ),
            distributed=True,
            claim_queues=[],
        )
    core.add_source("testdata", "/root/testdata/sf0.001")
    core.add_result_backend("default", results)
    core.load_task_dirs([str(sqldir)])
    core.start()
    server = Server(core, "127.0.0.1", 0)
    server.start()

    # Process B: the documented worker-only sidecar. It runs from its
    # own cwd (separate spark-warehouse), so the repo root must be on
    # PYTHONPATH explicitly.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYTHONPATH=repo_root
        + (os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""),
    )
    workdir = tmp_path / "workerproc"
    workdir.mkdir()
    proc = subprocess.Popen(
        [
            sys.executable,
            "-m",
            "dungbeetle_spark",
            "--config",
            str(cfg),
            "--worker-only",
        ],
        cwd=str(workdir),
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
    )
    try:
        client = Client(server.address, timeout=10)
        resp = client.post_job("remote_user_counts", job_id="remote_job_1")
        assert resp["job_id"] == "remote_job_1"
        # B needs a JVM + SparkSession before it can claim; be patient.
        try:
            st = client.wait("remote_job_1", timeout=150, poll=0.5)
        except TimeoutError:
            proc.kill()
            out = (proc.communicate(timeout=10)[0] or b"").decode(errors="replace")
            raise AssertionError(f"worker process never ran the job; its output:\n{out[-3000:]}")
        assert st["state"] == "SUCCESS", st
        assert st["count"] > 0
        rec = core.store.get("remote_job_1")
        assert rec.owner and rec.owner != core.worker_id  # B ran it
        assert f":{proc.pid}:" in rec.owner  # specifically process B
        got = core.read_result("remote_job_1")
        assert got.count() == st["count"]
        assert set(got.columns) == {"user_id", "n_events"}
    finally:
        proc.terminate()
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.kill()
        server.stop()
        core.stop()


def test_cross_process_cancel_interrupts_worker_stages(spark, tmp_path):
    """VERDICT r05 item 5: the HTTP process cancels a job MID-STAGE
    while a real ``--worker-only`` subprocess is executing it. The
    worker's cancel-watcher must interrupt its local Spark stages (not
    just drop the eventual terminal write), the terminal state must
    not resurrect the purged row, and the worker's claim thread must
    survive to run the next job — provably faster than the cancelled
    query could have finished."""
    from dungbeetle_spark.client import Client
    from dungbeetle_spark.http_api import Server

    db = str(tmp_path / "jobs.db")
    results = str(tmp_path / "results")
    sqldir = tmp_path / "sql"
    sqldir.mkdir()
    # One single-threaded queue: the follow-up job can only run after
    # the slow job's worker thread is free, so its completion time
    # proves whether the 45 s sleep was interrupted.
    (sqldir / "tasks.sql").write_text(
        "-- name: slow_sleep\n"
        "-- raw: 1\n"
        "-- queue: solo\n"
        "-- conc: 1\n"
        "SELECT reflect('java.lang.Thread', 'sleep', 45000L) AS slept;\n"
        "\n"
        "-- name: quick_count\n"
        "-- queue: solo\n"
        "-- conc: 1\n"
        "-- raw: 1\n"
        "SELECT COUNT(*) AS n FROM events;\n"
    )
    cfg = tmp_path / "worker.toml"
    cfg.write_text(
        f"""
sql_directory = "{sqldir}"

[app]
job_store = "{db}"

[db.testdata]
path = "/root/testdata/sf0.001"

[results.default]
path = "{results}"
"""
    )

    core = Core(spark, jobstore_path=db, distributed=True, claim_queues=[])
    core.add_source("testdata", "/root/testdata/sf0.001")
    core.add_result_backend("default", results)
    core.load_task_dirs([str(sqldir)])
    core.start()
    server = Server(core, "127.0.0.1", 0)
    server.start()

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYTHONPATH=repo_root
        + (os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""),
    )
    workdir = tmp_path / "workerproc"
    workdir.mkdir()
    proc = subprocess.Popen(
        [sys.executable, "-m", "dungbeetle_spark", "--config", str(cfg), "--worker-only"],
        cwd=str(workdir),
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
    )
    try:
        client = Client(server.address, timeout=10)
        # Warm-up: proves B is fully up (JVM + session) before timing.
        client.post_job("quick_count", job_id="cancel_warmup")
        try:
            st = client.wait("cancel_warmup", timeout=150, poll=0.5)
        except TimeoutError:
            proc.kill()
            out = (proc.communicate(timeout=10)[0] or b"").decode(errors="replace")
            raise AssertionError(f"worker never came up; output:\n{out[-3000:]}")
        assert st["state"] == "SUCCESS"

        client.post_job("slow_sleep", job_id="doomed")
        # Wait until B has claimed it and is inside the Spark stage.
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            rec = core.store.get("doomed")
            if rec.state == "STARTED" and rec.owner and rec.owner != core.worker_id:
                break
            time.sleep(0.1)
        else:
            raise AssertionError(f"worker never claimed: {core.store.get('doomed')}")
        worker_owner = rec.owner
        assert f":{proc.pid}:" in worker_owner
        time.sleep(1.0)  # let the sleep stage actually start

        t_cancel = time.monotonic()
        client.delete_job("doomed", purge=True)
        # Row purged immediately; B's watcher interrupts the stage.
        assert not core.store.exists("doomed")

        # The follow-up job shares the conc-1 queue, so its SUCCESS
        # bounds the slow job's actual runtime from above.
        client.post_job("quick_count", job_id="after_cancel")
        st2 = client.wait("after_cancel", timeout=40, poll=0.5)
        elapsed = time.monotonic() - t_cancel
        assert st2["state"] == "SUCCESS", st2
        assert elapsed < 35, (
            f"follow-up took {elapsed:.1f}s — the 45s sleep was NOT interrupted"
        )
        rec2 = core.store.get("after_cancel")
        assert rec2.owner == worker_owner  # same claim thread survived

        # No resurrect: B's error/terminal write for the purged job
        # must not re-create the row.
        time.sleep(2.0)
        assert not core.store.exists("doomed")
    finally:
        proc.terminate()
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.kill()
        server.stop()
        core.stop()

def test_worker_only_socket_broker_cancel_and_reclaim(spark, tmp_path):
    """VERDICT r07 item 4: the full two-process topology with the
    netdbapi TCP socket server as the ONLY store. Process A (HTTP +
    producer) and a real ``--worker-only`` process B each reach the
    broker exclusively through ``dungbeetle_spark.netdbapi:connect``
    (B config-wired through the TOML seam, exactly as a served
    Postgres would be). Exercised over the wire:

    - delivery: B claims and executes A's job, A reads the results;
    - cancel: A purges a job mid-stage, B's watcher interrupts its
      Spark stage (proved by a conc-1 follow-up finishing fast) and
      the terminal write cannot resurrect the purged row;
    - crash-reclaim: B is SIGKILLed mid-job; its STARTED row (stale
      heartbeat) is re-claimed by a live store over the same socket.
    """
    from dungbeetle_spark import netdbapi
    from dungbeetle_spark.broker import DBAPIBroker
    from dungbeetle_spark.client import Client
    from dungbeetle_spark.http_api import Server

    db = str(tmp_path / "net_jobs.db")
    net = netdbapi.serve(db)
    host, port = net.address
    results = str(tmp_path / "results")
    sqldir = tmp_path / "sql"
    sqldir.mkdir()
    (sqldir / "tasks.sql").write_text(
        "-- name: slow_sleep\n"
        "-- raw: 1\n"
        "-- queue: solo\n"
        "-- conc: 1\n"
        "SELECT reflect('java.lang.Thread', 'sleep', 45000L) AS slept;\n"
        "\n"
        "-- name: quick_count\n"
        "-- queue: solo\n"
        "-- conc: 1\n"
        "-- raw: 1\n"
        "SELECT COUNT(*) AS n FROM events;\n"
    )
    cfg = tmp_path / "worker.toml"
    cfg.write_text(
        f"""
sql_directory = "{sqldir}"

[app]
job_store_dbapi = "dungbeetle_spark.netdbapi:connect"
job_store_dialect = "sqlite"

[app.job_store_dbapi_options]
host = "{host}"
port = "{port}"

[db.testdata]
path = "/root/testdata/sf0.001"

[results.default]
path = "{results}"
"""
    )

    core = Core(
        spark,
        jobstore_backend=DBAPIBroker(
            lambda: netdbapi.connect(host, port), dialect="sqlite"
        ),
        distributed=True,
        claim_queues=[],
    )
    core.add_source("testdata", "/root/testdata/sf0.001")
    core.add_result_backend("default", results)
    core.load_task_dirs([str(sqldir)])
    core.start()
    server = Server(core, "127.0.0.1", 0)
    server.start()

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYTHONPATH=repo_root
        + (os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""),
    )
    workdir = tmp_path / "workerproc"
    workdir.mkdir()
    proc = subprocess.Popen(
        [sys.executable, "-m", "dungbeetle_spark", "--config", str(cfg), "--worker-only"],
        cwd=str(workdir),
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
    )
    try:
        client = Client(server.address, timeout=10)

        # -- delivery over the socket ----------------------------------
        client.post_job("quick_count", job_id="net_warmup")
        try:
            st = client.wait("net_warmup", timeout=150, poll=0.5)
        except TimeoutError:
            proc.kill()
            out = (proc.communicate(timeout=10)[0] or b"").decode(errors="replace")
            raise AssertionError(
                f"worker never came up on the socket broker; output:\n{out[-3000:]}"
            )
        assert st["state"] == "SUCCESS" and st["count"] > 0
        worker_owner = core.store.get("net_warmup").owner
        assert worker_owner and f":{proc.pid}:" in worker_owner  # B ran it
        assert core.read_result("net_warmup").count() == st["count"]

        # -- cancel over the socket --------------------------------------
        client.post_job("slow_sleep", job_id="net_doomed")
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            rec = core.store.get("net_doomed")
            if rec.state == "STARTED" and rec.owner == worker_owner:
                break
            time.sleep(0.1)
        else:
            raise AssertionError(f"worker never claimed: {core.store.get('net_doomed')}")
        time.sleep(1.0)  # let the sleep stage actually start
        t_cancel = time.monotonic()
        client.delete_job("net_doomed", purge=True)
        assert not core.store.exists("net_doomed")
        # conc-1 queue: the follow-up's SUCCESS bounds the cancelled
        # job's actual runtime from above.
        client.post_job("quick_count", job_id="net_after_cancel")
        st2 = client.wait("net_after_cancel", timeout=40, poll=0.5)
        elapsed = time.monotonic() - t_cancel
        assert st2["state"] == "SUCCESS", st2
        assert elapsed < 35, (
            f"follow-up took {elapsed:.1f}s — the 45s sleep was NOT interrupted"
        )
        assert not core.store.exists("net_doomed")  # no resurrect

        # -- crash-reclaim over the socket -------------------------------
        client.post_job("slow_sleep", job_id="net_orphaned")
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            rec = core.store.get("net_orphaned")
            if rec.state == "STARTED" and rec.owner == worker_owner:
                break
            time.sleep(0.1)
        else:
            raise AssertionError(f"worker never claimed: {core.store.get('net_orphaned')}")
        proc.kill()  # SIGKILL: no goodbye, no more heartbeats
        proc.wait(timeout=15)
        rec = core.store.get("net_orphaned")
        assert rec.state == "STARTED" and rec.owner == worker_owner
        # A fresh store over the SAME socket reclaims once the lease
        # (vs the dead worker's last heartbeat) has lapsed.
        rescuer = JobStore(
            backend=DBAPIBroker(
                lambda: netdbapi.connect(host, port), dialect="sqlite"
            ),
            recover="attach",
        )
        got = rescuer.claim(
            ["solo"], "rescuer", now=rec.heartbeat_at + 3600, lease=30
        )
        assert got is not None and got.job_id == "net_orphaned"
        assert got.owner == "rescuer" and got.state == jobstore.STARTED
        # the reclaimed job completes through the socket and A sees it
        assert rescuer.set_state("net_orphaned", jobstore.SUCCESS, count=1)
        assert core.job_status("net_orphaned")["state"] == jobstore.SUCCESS
        rescuer.close()
    finally:
        if proc.poll() is None:
            proc.terminate()
            try:
                proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                proc.kill()
        server.stop()
        core.stop()
        net.stop()


def test_serve_store_cli_flag_exposes_broker_over_tcp(tmp_path):
    """`--serve-store HOST:PORT` on the main process serves its file
    job_store via netdbapi, so remote workers can config-wire
    job_store_dbapi = dungbeetle_spark.netdbapi:connect at it — the
    documented single-host broker deployment. The test boots the CLI
    (worker-only mode so no HTTP port is needed), waits for the
    serve line, then drives the store over TCP from this process:
    a job created here must be claimable, and its state visible,
    through the served socket."""
    from dungbeetle_spark import netdbapi
    from dungbeetle_spark.broker import DBAPIBroker

    db = str(tmp_path / "served.db")
    sqldir = tmp_path / "sql"
    sqldir.mkdir()
    (sqldir / "tasks.sql").write_text(
        "-- name: noop\n-- raw: 1\nSELECT 1 AS x;\n"
    )
    cfg = tmp_path / "cfg.toml"
    cfg.write_text(
        f"""
sql_directory = "{sqldir}"

[app]
job_store = "{db}"

[db.testdata]
path = "/root/testdata/sf0.001"

[results.default]
path = "{tmp_path / "results"}"
"""
    )
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYTHONPATH=repo_root
        + (os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""),
    )
    workdir = tmp_path / "proc"
    workdir.mkdir()
    proc = subprocess.Popen(
        [
            sys.executable, "-m", "dungbeetle_spark",
            "--config", str(cfg),
            "--worker-only",
            "--serve-store", "127.0.0.1:0",
        ],
        cwd=str(workdir),
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
    )
    try:
        # the serve line prints BEFORE Spark boots, so this is quick
        import re as _re

        addr = None
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            line = proc.stdout.readline()
            if not line:
                time.sleep(0.05)
                continue
            m = _re.search(r"job_store served on \('([^']+)', (\d+)\)", line)
            if m:
                addr = (m.group(1), int(m.group(2)))
                break
        assert addr, "serve line never appeared"
        remote = JobStore(
            backend=DBAPIBroker(
                lambda: netdbapi.connect(*addr), dialect="sqlite"
            ),
            recover="attach",
        )
        remote.create(JobRecord(job_id="via_tcp", task="noop", queue="manual"))
        got = remote.claim(["manual"], "tcp-worker")
        assert got is not None and got.job_id == "via_tcp"
        assert remote.set_state("via_tcp", jobstore.SUCCESS, count=1)
        assert remote.get("via_tcp").state == jobstore.SUCCESS
        remote.close()
    finally:
        proc.terminate()
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.kill()


def test_full_registry_load_50_job_group_across_4_queues(spark, tmp_path):
    """VERDICT r08 item 8: the job layer under the full registry. All
    191+ registry queries register as callable tasks spread over 4
    queues (per-task queue callbacks, reference core.go:418-444), a
    50-job group fans out across those queues against the shared
    SQLite broker, and while that backlog drains under contention the
    test exercises pending-listing order, single-flight rejection,
    pending-cancel, running-cancel with stage interruption, and the
    final group aggregate: every member SUCCESS with its row count."""
    from dungbeetle_spark.queries import registry

    sf = "/root/testdata/sf0.001"
    specs = registry()
    db = str(tmp_path / "jobs.db")
    results = str(tmp_path / "results")
    queues = ["q_a", "q_b", "q_c", "q_d"]

    core = Core(spark, jobstore_path=db, distributed=True)
    core.add_source("testdata", sf)
    core.add_result_backend("default", results)
    for i, (name, spec) in enumerate(specs.items()):
        core.register_callable_task(
            f"task_{name}",
            (lambda s: lambda sess, args: s.build(sess, sf))(spec),
            queue=queues[i % len(queues)],
            conc=2,
        )
    core.register_task(
        Task(
            name="slow_sleeper",
            stmt="SELECT reflect('java.lang.Thread', 'sleep', 30000L) AS slept",
            raw_stmt="",
            queue="q_slow",
            conc=1,
        )
    )
    assert len(core.tasks) >= 192
    core.start()
    try:
        # cheap, fast registry tasks only — the group exercises queue
        # contention, not heavy queries
        cheap = [
            "profit_summary",
            "profit_entries",
            "token_count",
            "lang_id",
            "quality_score",
            "doc_fingerprint",
            "text_stats",
            "order_priority_count",
            "q6_forecast_revenue",
            "q14_promo_revenue",
            "user_activity_stats",
            "dedup_exact",
        ]
        assert all(n in specs for n in cheap)
        members = [
            (f"task_{cheap[i % len(cheap)]}", JobReq(job_id=f"load_{i:02d}"))
            for i in range(50)
        ]
        # occupy q_slow first so cancel targets exist under contention
        running = core.new_job("slow_sleeper", JobReq(job_id="slow_running"))
        parked = core.new_job("slow_sleeper", JobReq(job_id="slow_parked"))
        group_id, resps = core.new_job_group("load_group", members)
        assert len(resps) == 50

        # the conc-1 queue serializes: the second sleeper is parked in
        # the broker, and the pending listing is oldest-first
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            if core.job_status("slow_running")["state"] == jobstore.STARTED:
                break
            time.sleep(0.05)
        assert core.job_status("slow_running")["state"] == jobstore.STARTED
        pend = core.pending_jobs("q_slow")
        assert [p["job_id"] for p in pend] == ["slow_parked"]

        # single-flight: duplicate of a job PROVABLY active (STARTED
        # was just observed; the sleeper runs 30 s) — asserting on a
        # fast group member instead races its completion (r09 review)
        with pytest.raises(SingleFlightError):
            core.new_job("slow_sleeper", JobReq(job_id="slow_running"))

        # cancel the parked job (never ran), then the running one
        # (stage interrupt); both rows purge
        core.cancel_job("slow_parked")
        core.cancel_job("slow_running")
        assert not core.store.exists("slow_parked")
        assert not core.store.exists("slow_running")
        # the freed conc-1 queue finishes a follow-up well under the
        # 30 s sleep horizon — the running stage really was interrupted
        t0 = time.monotonic()
        follow = core.new_job("task_token_count", JobReq(queue="q_slow"))
        st = _wait(core, follow.job_id, timeout=120)
        assert st["state"] == jobstore.SUCCESS
        assert time.monotonic() - t0 < 30

        # drain the whole group: every member SUCCESS with a count
        deadline = time.monotonic() + 420
        while time.monotonic() < deadline:
            if core.store.group_state(group_id) == jobstore.SUCCESS:
                break
            time.sleep(0.5)
        gs = core.group_status(group_id)
        assert gs["state"] == jobstore.SUCCESS
        assert len(gs["jobs"]) == 50
        assert all(j["state"] == jobstore.SUCCESS for j in gs["jobs"])
        assert all(j["error"] is None or j["error"] == "" for j in gs["jobs"])
        assert all(j["count"] >= 0 for j in gs["jobs"])
        assert sum(j["count"] for j in gs["jobs"]) > 0
        # results are readable through the job layer, and the stored
        # count matches the materialized rows
        out = core.read_result("load_00")
        assert out.count() == core.job_status("load_00")["count"]
        assert out.columns
    finally:
        core.stop()
