"""Backend-agnostic broker contract (VERDICT r04 item 4).

``BrokerContract`` pins the atomicity obligations any
:class:`dungbeetle_spark.broker.BrokerBackend` must honor for the
distributed job layer to be correct. A new backend (Postgres, Redis)
gets validated by subclassing and implementing :meth:`make_stores` —
nothing else; every test drives the public ``JobStore`` API exactly
the way ``core.py`` does.

Every SQL store is one ``DBAPIBroker`` schema, bound here three ways
on a SQLite file: ``TestSqliteBrokerContract`` through ``persist_path``
(the ``job_store = path`` config), ``TestDBAPIBrokerContract`` through
an explicit ``DBAPIBroker`` over ``sqlite3_dbapi_connect`` (the
``job_store_dbapi`` config), and ``TestSqliteBrokerExplicitBackend``
alternating both spellings over one file, so every obligation holds
between a ``job_store = path`` process and its DBAPI workers.
``TestNetDBAPIBrokerContract`` runs the contract across a TCP boundary.
"""

from __future__ import annotations

import threading
import time

import pytest

from dungbeetle_spark.jobstore import (
    FAILURE,
    PENDING,
    RETRY,
    STARTED,
    SUCCESS,
    JobRecord,
    JobStore,
    SingleFlightError,
)


class BrokerContract:
    """Subclass per backend; implement make_stores."""

    def make_stores(self, tmp_path, n: int, **store_kwargs) -> list[JobStore]:
        """Return ``n`` JobStore instances sharing ONE underlying
        backend store (i.e. simulating n processes)."""
        raise NotImplementedError

    # -- delivery -----------------------------------------------------
    def test_concurrent_claim_exactly_once(self, tmp_path):
        a, b = self.make_stores(tmp_path, 2)
        for i in range(30):
            a.create(JobRecord(job_id=f"j{i}", task="t", queue="q"))
        claimed: list[str] = []
        lock = threading.Lock()

        def drain(store: JobStore) -> None:
            while True:
                rec = store.claim(["q"], f"o{id(store)}", lease=60.0)
                if rec is None:
                    return
                with lock:
                    claimed.append(rec.job_id)

        threads = [
            threading.Thread(target=drain, args=(s,))
            for s in (a, b)
            for _ in range(4)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert sorted(claimed) == sorted(f"j{i}" for i in range(30))

    def test_claim_empty_returns_none(self, tmp_path):
        (a,) = self.make_stores(tmp_path, 1)
        assert a.claim(["q"], "o", lease=60.0) is None

    def test_claim_oldest_first_and_respects_queue_eta_cancel(self, tmp_path):
        a, b = self.make_stores(tmp_path, 2)
        a.create(JobRecord(job_id="newer", task="t", queue="q", created_at=200.0))
        a.create(JobRecord(job_id="older", task="t", queue="q", created_at=100.0))
        a.create(JobRecord(job_id="otherq", task="t", queue="z", created_at=1.0))
        a.create(
            JobRecord(job_id="later", task="t", queue="q", created_at=1.0,
                      eta=time.time() + 3600)
        )
        a.create(JobRecord(job_id="gone", task="t", queue="q", created_at=1.0))
        a.mark_cancelled("gone")
        assert b.claim(["q"], "o").job_id == "older"
        assert b.claim(["q"], "o").job_id == "newer"
        assert b.claim(["q"], "o") is None

    # -- leases -------------------------------------------------------
    def test_fresh_lease_unstealable(self, tmp_path):
        a, b = self.make_stores(tmp_path, 2)
        a.create(JobRecord(job_id="f1", task="t", queue="q"))
        assert a.claim(["q"], "owner-a", lease=60.0).job_id == "f1"
        assert b.claim(["q"], "owner-b", lease=60.0) is None

    def test_stale_lease_reclaimed_once(self, tmp_path):
        a, b = self.make_stores(tmp_path, 2)
        a.create(JobRecord(job_id="s1", task="t", queue="q"))
        assert a.claim(["q"], "owner-a", lease=0.1).job_id == "s1"
        time.sleep(0.25)
        rec = b.claim(["q"], "owner-b", lease=0.1)
        assert rec is not None and rec.job_id == "s1" and rec.owner == "owner-b"

    def test_heartbeat_keeps_lease_alive(self, tmp_path):
        a, b = self.make_stores(tmp_path, 2)
        a.create(JobRecord(job_id="h1", task="t", queue="q"))
        a.claim(["q"], "owner-a", lease=0.3)
        time.sleep(0.2)
        a.heartbeat("owner-a")
        time.sleep(0.2)  # > lease from claim, < lease from heartbeat
        assert b.claim(["q"], "owner-b", lease=0.3) is None

    # -- single-flight ------------------------------------------------
    def test_single_flight_across_stores(self, tmp_path):
        a, b = self.make_stores(tmp_path, 2)
        a.create(JobRecord(job_id="sf", task="t", queue="q"))
        with pytest.raises(SingleFlightError):
            b.create(JobRecord(job_id="sf", task="t", queue="q"))
        # terminal state releases the id
        a.set_state("sf", SUCCESS)
        b.create(JobRecord(job_id="sf", task="t", queue="q"))

    def test_racing_creates_one_winner(self, tmp_path):
        stores = self.make_stores(tmp_path, 4)
        wins, errs = [], []
        barrier = threading.Barrier(len(stores))

        def racer(s: JobStore) -> None:
            barrier.wait()
            try:
                s.create(JobRecord(job_id="race", task="t", queue="q"))
                wins.append(s)
            except SingleFlightError:
                errs.append(s)

        threads = [threading.Thread(target=racer, args=(s,)) for s in stores]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert len(wins) == 1 and len(errs) == len(stores) - 1

    # -- mutation vs deletion ----------------------------------------
    def test_no_resurrect_after_cross_store_delete(self, tmp_path):
        a, b = self.make_stores(tmp_path, 2)
        a.create(JobRecord(job_id="c1", task="t", queue="q"))
        b.delete("c1")
        assert a.set_state("c1", SUCCESS) is False
        assert not a.exists("c1")

    def test_state_visible_across_stores(self, tmp_path):
        a, b = self.make_stores(tmp_path, 2)
        a.create(JobRecord(job_id="v1", task="t", queue="q"))
        a.set_state("v1", STARTED, owner="owner-a")
        rec = b.get("v1")
        assert rec.state == STARTED and rec.owner == "owner-a"
        b.set_state("v1", SUCCESS, count=7)
        rec2 = a.get("v1")
        assert rec2.state == SUCCESS and rec2.count == 7
        assert rec2.finished_at is not None

    # -- recovery -----------------------------------------------------
    def test_recover_fail_marks_all_inflight(self, tmp_path):
        (a,) = self.make_stores(tmp_path, 1)
        for i in range(40):
            a.create(JobRecord(job_id=f"j{i}", task="t", queue="q"))
            if i % 2 == 0:
                a.claim(["q"], "owner-a", lease=60.0)
        (c,) = self.make_stores(tmp_path, 1, recover="fail")
        for i in range(40):
            rec = c.get(f"j{i}")
            assert rec.state == FAILURE, (i, rec.state)
            assert "restart" in rec.error

    def test_recover_requeue_resets_stale_keeps_live(self, tmp_path):
        (a,) = self.make_stores(tmp_path, 1, requeue_lease=60.0)
        a.create(JobRecord(job_id="live", task="t", queue="q"))
        a.claim(["q"], "owner-a", lease=60.0)
        (d,) = self.make_stores(tmp_path, 1, recover="requeue",
                                requeue_lease=60.0)
        assert d.get("live").state == STARTED  # fresh heartbeat: untouched

        (e,) = self.make_stores(tmp_path, 1, requeue_lease=0.1)
        e.create(JobRecord(job_id="old", task="t", queue="q"))
        e.claim(["q"], "owner-a", lease=0.1)
        time.sleep(0.25)
        (f,) = self.make_stores(tmp_path, 1, recover="requeue",
                                requeue_lease=0.1)
        rec = f.get("old")
        assert rec.state == PENDING and rec.owner == ""

    def test_recover_attach_touches_nothing(self, tmp_path):
        (a,) = self.make_stores(tmp_path, 1)
        a.create(JobRecord(job_id="j1", task="t", queue="q"))
        a.claim(["q"], "owner-a", lease=60.0)
        (b,) = self.make_stores(tmp_path, 1, recover="attach")
        assert b.get("j1").state == STARTED

    # -- listings -----------------------------------------------------
    def test_pending_oldest_first_and_counts(self, tmp_path):
        a, b = self.make_stores(tmp_path, 2)
        a.create(JobRecord(job_id="p2", task="t", queue="q", created_at=2.0))
        a.create(JobRecord(job_id="p1", task="t", queue="q", created_at=1.0))
        a.create(JobRecord(job_id="d1", task="t", queue="q", created_at=0.5))
        a.set_state("d1", SUCCESS)
        assert [r.job_id for r in b.pending("q")] == ["p1", "p2"]
        assert b.counts_by_state() == {PENDING: 2, SUCCESS: 1}

    def test_expired_selection(self, tmp_path):
        a, b = self.make_stores(tmp_path, 2)
        a.create(JobRecord(job_id="e1", task="t", queue="q", ttl=10))
        a.set_state("e1", SUCCESS, result_path="warehouse/e1")
        a.create(JobRecord(job_id="keep", task="t", queue="q", ttl=0))
        a.set_state("keep", SUCCESS, result_path="warehouse/keep")
        future = time.time() + 3600
        assert [r.job_id for r in b.expired(future)] == ["e1"]
        assert b.expired(time.time() - 3600) == []

    # -- groups -------------------------------------------------------
    def test_groups_shared_across_stores(self, tmp_path):
        a, b = self.make_stores(tmp_path, 2)
        for i in range(3):
            a.create(JobRecord(job_id=f"g{i}", task="t", queue="q"))
        a.create_group("grp", ["g0", "g1", "g2"])
        assert b.group_jobs("grp") == ["g0", "g1", "g2"]
        assert b.get("g0").group_id == "grp"
        for i in range(3):
            a.set_state(f"g{i}", SUCCESS)
        assert b.group_state("grp") == SUCCESS
        b.delete_group("grp")
        with pytest.raises(KeyError):
            a.group_jobs("grp")


class TestSqliteBrokerContract(BrokerContract):
    """The default backend, via the persist_path convenience arg."""

    def make_stores(self, tmp_path, n: int, **store_kwargs) -> list[JobStore]:
        path = str(tmp_path / "broker.db")
        kwargs = {"recover": "attach", **store_kwargs}
        return [JobStore(persist_path=path, **kwargs) for _ in range(n)]


class TestSqliteBrokerExplicitBackend(BrokerContract):
    """Both spellings of the SQLite store injected via ``backend=`` and
    alternated over one file: ``SqliteBroker(path)`` and a
    ``DBAPIBroker`` over ``sqlite3_dbapi_connect`` must be one store."""

    def make_stores(self, tmp_path, n: int, **store_kwargs) -> list[JobStore]:
        from dungbeetle_spark.broker import (
            DBAPIBroker,
            SqliteBroker,
            sqlite3_dbapi_connect,
        )

        path = str(tmp_path / "broker.db")
        kwargs = {"recover": "attach", **store_kwargs}
        return [
            JobStore(
                backend=(
                    SqliteBroker(path)
                    if i % 2 == 0
                    else DBAPIBroker(lambda: sqlite3_dbapi_connect(path))
                ),
                **kwargs,
            )
            for i in range(n)
        ]


class TestDBAPIBrokerContract(BrokerContract):
    """The generic DBAPI backend, driven through the stdlib sqlite3
    DBAPI driver — the same code path a psycopg2-backed multi-machine
    deployment runs (the postgresql dialect swaps paramstyle and uses
    FOR UPDATE SKIP LOCKED row locks in place of BEGIN IMMEDIATE)."""

    def make_stores(self, tmp_path, n: int, **store_kwargs) -> list[JobStore]:
        from dungbeetle_spark.broker import DBAPIBroker, sqlite3_dbapi_connect

        path = str(tmp_path / "dbapi.db")
        kwargs = {"recover": "attach", **store_kwargs}
        return [
            JobStore(
                backend=DBAPIBroker(
                    lambda: sqlite3_dbapi_connect(path), dialect="sqlite"
                ),
                **kwargs,
            )
            for _ in range(n)
        ]


class TestNetDBAPIBrokerContract(BrokerContract):
    """The full contract over a REAL wire boundary (VERDICT r06 item
    6): every SQL statement, parameter list and result row crosses a
    TCP socket to a netdbapi server holding per-client sqlite
    connections — the shape of a psycopg2-backed fleet, minus only
    the Postgres dialect strings (pinned separately by the recording
    fake). Exercises serialization, multi-round-trip transactions
    (BEGIN IMMEDIATE ... commit across frames), cross-connection
    writer contention, and error propagation through the shim."""

    def setup_method(self) -> None:
        self._servers = []

    def teardown_method(self) -> None:
        for s in self._servers:
            s.stop()

    def make_stores(self, tmp_path, n: int, **store_kwargs) -> list[JobStore]:
        from dungbeetle_spark import netdbapi
        from dungbeetle_spark.broker import DBAPIBroker

        server = netdbapi.serve(str(tmp_path / "net.db"))
        self._servers.append(server)
        host, port = server.address
        kwargs = {"recover": "attach", **store_kwargs}
        return [
            JobStore(
                backend=DBAPIBroker(
                    lambda: netdbapi.connect(host, port), dialect="sqlite"
                ),
                **kwargs,
            )
            for _ in range(n)
        ]


# ---------------------------------------------------------------------------
# Multi-PROCESS stress (VERDICT r05 item 2): the contract above runs
# each store in one thread; broker.py's stated obligation is
# cross-INSTANCE atomicity, so these tests hammer one DBAPIBroker
# database from real OS processes — claim/complete races, pending
# cancels landing mid-drain, and hard-crash (os._exit) workers whose
# leases must be reclaimed exactly once by survivors.
# ---------------------------------------------------------------------------

def _mp_store(path: str) -> JobStore:
    from functools import partial

    from dungbeetle_spark.broker import DBAPIBroker, sqlite3_dbapi_connect

    return JobStore(
        backend=DBAPIBroker(
            partial(sqlite3_dbapi_connect, path), dialect="sqlite"
        ),
        recover="attach",
    )


def _mp_drainer(path: str, out_path: str, owner: str, lease: float,
                gate_path: str | None = None) -> None:
    """Claim until the queue stays empty, completing each job; write
    the claimed ids to out_path (one file per process). With
    ``gate_path`` set, claim ONE job first, then announce readiness
    (out_path + '.ready') and hold until the gate file appears — the
    start barrier that makes the parallelism assertion deterministic
    by construction: every drainer has registered a claim before the
    race begins (the r13 barrier only proved the process was ALIVE
    pre-gate; the r14 driver run still saw one process drain all 60
    jobs)."""
    import json
    import os

    store = _mp_store(path)
    claims: list[str] = []
    if gate_path is not None:
        # Deflake (VERDICT r14 item 6): claim-and-complete ONE job
        # BEFORE announcing readiness, so "more than one process got
        # work" holds by construction instead of by scheduler timing —
        # the r14 driver run saw one process drain all 60 jobs despite
        # the start barrier. The racing-cancel window is unchanged:
        # cancels land after the gate opens, and a pre-gate claim of a
        # later-cancelled job is exactly the claim-then-cancel race the
        # assertions already tolerate.
        first_deadline = time.time() + 30.0
        while not claims and time.time() < first_deadline:
            rec = store.claim(["q"], owner, lease=lease)
            if rec is None:
                time.sleep(0.002)
                continue
            claims.append(rec.job_id)
            store.set_state(rec.job_id, SUCCESS, owner="")
        with open(out_path + ".ready", "w") as f:
            f.write(owner)
        gate_deadline = time.time() + 30.0
        while not os.path.exists(gate_path) and time.time() < gate_deadline:
            time.sleep(0.002)
    idle = 0
    deadline = time.time() + 30.0
    while time.time() < deadline and idle < 25:
        rec = store.claim(["q"], owner, lease=lease)
        if rec is None:
            idle += 1
            time.sleep(0.01)
            continue
        idle = 0
        claims.append(rec.job_id)
        store.set_state(rec.job_id, SUCCESS, owner="")
        # Yield between jobs (same as the threaded contention test):
        # without it, the claim+complete loop re-acquires the SQLite
        # writer lock before any waiter wins it — a lock convoy that
        # lets one process drain the whole queue. Real workers hold
        # each claim for a query's runtime, so the convoy is a test
        # artifact, not a broker property.
        time.sleep(0.002)
    with open(out_path, "w") as f:
        json.dump(claims, f)


def _mp_crasher(path: str, out_path: str, owner: str, n_then_die: int) -> None:
    """Claim n jobs WITHOUT completing them, then hard-exit (no
    cleanup, no heartbeat) — the worker-death scenario whose leases
    must become reclaimable."""
    import json
    import os

    store = _mp_store(path)
    claims: list[str] = []
    deadline = time.time() + 30.0
    while len(claims) < n_then_die and time.time() < deadline:
        rec = store.claim(["q"], owner, lease=60.0)
        if rec is None:
            time.sleep(0.01)
            continue
        claims.append(rec.job_id)
    with open(out_path, "w") as f:
        json.dump(claims, f)
    os._exit(0)


def _spawn(target, args) -> "object":
    import multiprocessing as mp

    ctx = mp.get_context("fork")
    p = ctx.Process(target=target, args=args)
    p.start()
    return p


def _read_claims(paths: list) -> dict[str, list[str]]:
    import json

    out = {}
    for p in paths:
        with open(p) as f:
            out[str(p)] = json.load(f)
    return out


class TestDBAPIBrokerMultiProcessStress:
    N_JOBS = 60
    N_PROCS = 4
    N_CANCELS = 8

    def test_exactly_once_across_processes_with_racing_cancels(self, tmp_path):
        """4 OS processes drain one shared DBAPI store while the parent
        cancels pending jobs mid-drain. Every claim is exclusive (no
        job delivered twice, across ALL processes) and every job is
        accounted for: completed exactly once, or cancelled before any
        claim, or — the tolerated race — claimed just before its
        cancel landed (still exactly once)."""
        db = str(tmp_path / "stress.db")
        parent = _mp_store(db)
        for i in range(self.N_JOBS):
            parent.create(
                JobRecord(job_id=f"j{i:03d}", task="t", queue="q",
                          created_at=float(i))
            )
        outs = [tmp_path / f"claims_{k}.json" for k in range(self.N_PROCS)]
        gate = str(tmp_path / "gate")
        procs = [
            _spawn(_mp_drainer, (db, str(outs[k]), f"worker-{k}", 60.0, gate))
            for k in range(self.N_PROCS)
        ]
        # start barrier: open the gate only once every drainer is live,
        # so all four race the queue from the same instant
        deadline = time.time() + 30.0
        while time.time() < deadline and not all(
            (tmp_path / f"claims_{k}.json.ready").exists()
            for k in range(self.N_PROCS)
        ):
            time.sleep(0.005)
        with open(gate, "w") as f:
            f.write("go")
        # cancel a spread of jobs while the drain races on
        cancelled = [f"j{i:03d}" for i in range(0, self.N_JOBS,
                                                self.N_JOBS // self.N_CANCELS)]
        for job_id in cancelled:
            parent.mark_cancelled(job_id)
        for p in procs:
            p.join(timeout=60)
            assert p.exitcode == 0
        per_proc = _read_claims([str(o) for o in outs])
        all_claims = [j for claims in per_proc.values() for j in claims]
        # exclusivity: no job id appears twice anywhere
        assert len(all_claims) == len(set(all_claims)), (
            sorted(j for j in all_claims if all_claims.count(j) > 1)
        )
        # completeness: everything not cancelled was delivered
        expected = {f"j{i:03d}" for i in range(self.N_JOBS)}
        missing = expected - set(all_claims) - set(cancelled)
        assert not missing, sorted(missing)
        # cancel efficacy: a cancelled job may have raced one claim at
        # most (claim-then-cancel); never appears post-cancel twice
        for job_id in cancelled:
            assert all_claims.count(job_id) <= 1
        # real parallelism happened: more than one process got work
        assert sum(1 for c in per_proc.values() if c) > 1

    def test_crashed_worker_leases_reclaimed_exactly_once(self, tmp_path):
        """Two processes hard-exit (os._exit — no cleanup) holding
        claims; after the lease window, survivor processes reclaim
        those jobs. Each crashed job is re-delivered to exactly ONE
        survivor; jobs the survivors complete are never re-delivered."""
        db = str(tmp_path / "crash.db")
        parent = _mp_store(db)
        n = 12
        for i in range(n):
            parent.create(
                JobRecord(job_id=f"c{i:02d}", task="t", queue="q",
                          created_at=float(i))
            )
        crash_outs = [tmp_path / "crash_a.json", tmp_path / "crash_b.json"]
        crashers = [
            _spawn(_mp_crasher, (db, str(crash_outs[k]), f"crasher-{k}", 3))
            for k in range(2)
        ]
        for p in crashers:
            p.join(timeout=60)
        crashed_claims = [
            j for claims in _read_claims(
                [str(o) for o in crash_outs]
            ).values() for j in claims
        ]
        assert len(crashed_claims) == 6
        assert len(set(crashed_claims)) == 6  # exclusive even pre-crash
        # age the dead owners' heartbeats past the lease window the
        # survivors will use (monotonic-clock-free: rewrite heartbeats
        # instead of sleeping out a real lease)
        from dungbeetle_spark.broker import sqlite3_dbapi_connect

        con = sqlite3_dbapi_connect(db)
        con.execute(
            "UPDATE db_jobs SET heartbeat_at = heartbeat_at - 3600"
            " WHERE owner LIKE 'crasher-%'"
        )
        con.close()
        surv_outs = [tmp_path / "surv_a.json", tmp_path / "surv_b.json"]
        survivors = [
            _spawn(_mp_drainer, (db, str(surv_outs[k]), f"survivor-{k}", 30.0))
            for k in range(2)
        ]
        for p in survivors:
            p.join(timeout=60)
            assert p.exitcode == 0
        surv_claims = [
            j for claims in _read_claims(
                [str(o) for o in surv_outs]
            ).values() for j in claims
        ]
        # survivors saw every job exactly once: the 6 never-claimed
        # fresh ones plus the 6 stale-leased crash victims
        assert sorted(surv_claims) == sorted(f"c{i:02d}" for i in range(n))
        for j in crashed_claims:
            assert surv_claims.count(j) == 1


# ---------------------------------------------------------------------------
# PostgreSQL-dialect SQL pins: no served Postgres exists in this
# sandbox (the contract suite binds through sqlite3), so pin the
# dialect-specific SQL shape against a recording fake DBAPI driver —
# the strings can't rot between now and the day someone points
# DBAPIBroker at a real server.
# ---------------------------------------------------------------------------

class _RecordingCursor:
    def __init__(self, log, rows):
        self._log = log
        self._rows = rows

    def execute(self, sql, args=()):
        self._log.append((" ".join(sql.split()), tuple(args)))
        return self

    def fetchone(self):
        return self._rows.pop(0) if self._rows else None

    def fetchall(self):
        out, self._rows[:] = list(self._rows), []
        return out


class _RecordingConn:
    def __init__(self, log, rows):
        self._log = log
        self._rows = rows

    def cursor(self):
        return _RecordingCursor(self._log, self._rows)

    def commit(self):
        pass

    def rollback(self):
        pass


def _pg_row(job_id="jx", state=PENDING, owner=""):
    import json as _json
    from dataclasses import asdict

    rec = JobRecord(job_id=job_id, task="t", queue="q", state=state,
                    owner=owner, created_at=1.0)
    return (rec.job_id, rec.queue, rec.state, rec.owner, 0, None,
            rec.created_at, None, None, _json.dumps(asdict(rec)))


class TestDBAPIBrokerPostgresDialectSQL:
    def _broker(self, rows):
        from dungbeetle_spark.broker import DBAPIBroker

        log: list = []
        broker = DBAPIBroker(
            lambda: _RecordingConn(log, rows), dialect="postgresql"
        )
        ddl_count = len(log)
        return broker, log, ddl_count

    def test_claim_uses_skip_locked_and_format_params(self):
        broker, log, ddl = self._broker([_pg_row(), _pg_row()])
        rec = broker.claim(["q"], "owner-1", now=2.0, lease=30.0)
        assert rec is not None and rec.owner == "owner-1"
        stmts = [s for s, _a in log[ddl:]]
        # the locked re-select carries the row-lock clause
        locked = [s for s in stmts if "FOR UPDATE SKIP LOCKED" in s]
        assert locked, stmts
        # psycopg2 paramstyle: every parameterized statement uses %s,
        # never qmark
        for s in stmts:
            assert "?" not in s, s
        # no sqlite writer lock on the pg path
        assert not any("BEGIN IMMEDIATE" in s for s in stmts)
        # the stale-lease clause rides the claim select
        assert any("heartbeat_at" in s and "STARTED" in s for s in locked)

    def test_mutate_locks_row_for_update(self):
        broker, log, ddl = self._broker([_pg_row()])
        broker.mutate("jx", lambda r: None)
        stmts = [s for s, _a in log[ddl:]]
        assert any(
            s.endswith("FOR UPDATE") and "SKIP" not in s for s in stmts
        ), stmts

    def test_upsert_on_conflict_and_pg_ddl_types(self):
        broker, log, _d = self._broker([None, None])
        ddl = " ".join(s for s, _a in log)
        assert "DOUBLE PRECISION" in ddl  # pg has no bare REAL affinity
        rec = JobRecord(job_id="up", task="t", queue="q", created_at=1.0)
        broker.check_and_put(rec, active_states=(PENDING, STARTED))
        upserts = [s for s, _a in log if "INSERT INTO db_jobs" in s]
        assert upserts and "ON CONFLICT (job_id) DO UPDATE" in upserts[-1]
        assert "%s" in upserts[-1] and "?" not in upserts[-1]


def test_netdbapi_broker_reachable_from_config(tmp_path):
    """The deployment loop: a TOML config naming
    dungbeetle_spark.netdbapi:connect (with string-typed options, as
    TOML delivers them) must yield a working cross-process JobStore
    over the socket — create on one store, claim + complete on
    another, exactly once."""
    from dungbeetle_spark import netdbapi
    from dungbeetle_spark.config import _dbapi_factory

    server = netdbapi.serve(str(tmp_path / "cfg.db"))
    try:
        host, port = server.address
        factory = _dbapi_factory(
            "dungbeetle_spark.netdbapi:connect",
            {"host": host, "port": str(port)},  # TOML string-typed
        )
        from dungbeetle_spark.broker import DBAPIBroker

        a = JobStore(backend=DBAPIBroker(factory), recover="attach")
        b = JobStore(backend=DBAPIBroker(factory), recover="attach")
        a.create(JobRecord(job_id="cfg1", task="t", queue="q"))
        rec = b.claim(["q"], "owner-b", lease=60.0)
        assert rec is not None and rec.job_id == "cfg1"
        assert a.claim(["q"], "owner-a", lease=60.0) is None  # exactly once
        assert b.set_state("cfg1", SUCCESS)
        assert a.get("cfg1").state == SUCCESS
    finally:
        server.stop()


# ---------------------------------------------------------------------------
# One schema: a ``job_store = path`` process and DBAPI workers on the
# same file share one backlog; claims seek the index; files written by
# the earlier JSON-blob store are upgraded in place.
# ---------------------------------------------------------------------------

def test_path_store_and_netdbapi_worker_share_one_backlog(tmp_path):
    """A job posted through ``JobStore(persist_path=db)`` is claimed by
    a worker configured with ``job_store_dbapi =
    "dungbeetle_spark.netdbapi:connect"`` on the same file, and the
    reverse."""
    from dungbeetle_spark import netdbapi
    from dungbeetle_spark.broker import DBAPIBroker
    from dungbeetle_spark.config import _dbapi_factory

    db = str(tmp_path / "jobs.db")
    server_store = JobStore(persist_path=db, recover="requeue")
    server = netdbapi.serve(db)
    try:
        host, port = server.address
        worker = JobStore(
            backend=DBAPIBroker(_dbapi_factory(
                "dungbeetle_spark.netdbapi:connect",
                {"host": host, "port": str(port)},
            )),
            recover="attach",
        )
        server_store.create(JobRecord(job_id="from-path", task="t", queue="q"))
        rec = worker.claim(["q"], "worker", lease=60.0)
        assert rec is not None and rec.job_id == "from-path"
        assert worker.set_state("from-path", SUCCESS, count=3)
        assert server_store.get("from-path").count == 3

        worker.create(JobRecord(job_id="from-net", task="t", queue="q"))
        rec = server_store.claim(["q"], "server", lease=60.0)
        assert rec is not None and rec.job_id == "from-net"
        assert worker.get("from-net").owner == "server"
        assert worker.claim(["q"], "worker", lease=60.0) is None
        worker.close()
    finally:
        server.stop()
        server_store.close()


@pytest.mark.parametrize("lease", [0.0, 60.0])
def test_claim_selects_seek_queue_and_state(tmp_path, lease):
    """Every claim SELECT seeks (queue, state) on ``db_jobs_claim``, so
    an idle claim does not read the queue's terminal history."""
    import sqlite3

    db = str(tmp_path / "jobs.db")
    store = JobStore(persist_path=db, recover="attach")
    statements: list[str] = []
    store._backend._db.set_trace_callback(statements.append)
    store.create(JobRecord(job_id="j", task="t", queue="q"))
    assert store.claim(["q", "r"], "o", lease=lease) is not None  # hit
    assert store.claim(["q"], "o", lease=lease) is None  # idle
    store._backend._db.set_trace_callback(None)
    claims = [s for s in statements if "ORDER BY created_at" in s]
    assert len(claims) == 3  # hit: read + locked re-read; idle: read
    con = sqlite3.connect(db)
    try:
        for sql in claims:
            plan = " | ".join(
                row[3] for row in con.execute("EXPLAIN QUERY PLAN " + sql)
            )
            assert "db_jobs_claim (queue=? AND state=?)" in plan, plan
    finally:
        con.close()
        store.close()


def test_blob_schema_file_is_upgraded_in_place(tmp_path):
    """A file holding the JSON-blob tables (``jobs``/``groups``) opens
    with its PENDING row claimable — through either spelling — and its
    terminal, group and expired rows intact; the old tables are
    gone."""
    import json
    import sqlite3
    from dataclasses import asdict

    from dungbeetle_spark.broker import DBAPIBroker, sqlite3_dbapi_connect

    now = time.time()
    rows = [
        JobRecord(job_id="pend", task="t", queue="q", created_at=now - 50),
        JobRecord(job_id="done", task="t", queue="q", state=SUCCESS,
                  count=7, ttl=30, result_path="/r/done", args=["1"],
                  group_id="g", created_at=now - 100,
                  finished_at=now - 90.123456789, owner="host:1",
                  heartbeat_at=now - 95),
        JobRecord(job_id="kept", task="t", queue="q", state=FAILURE,
                  error="boom", ttl=0, result_path="/r/kept",
                  group_id="g", created_at=now - 80, finished_at=now - 70),
        JobRecord(job_id="late", task="t", queue="q", state=SUCCESS,
                  ttl=3600, result_path="/r/late", created_at=now - 60,
                  finished_at=now - 10),
    ]
    db = str(tmp_path / "old.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE jobs (job_id TEXT PRIMARY KEY, data TEXT)")
    con.execute("CREATE TABLE groups (group_id TEXT PRIMARY KEY, job_ids TEXT)")
    con.executemany(
        "INSERT INTO jobs VALUES (?, ?)",
        [(r.job_id, json.dumps(asdict(r))) for r in rows],
    )
    con.execute("INSERT INTO groups VALUES ('g', ?)",
                (json.dumps(["done", "kept"]),))
    con.commit()
    con.close()

    store = JobStore(persist_path=db, recover="requeue")
    worker = JobStore(
        backend=DBAPIBroker(lambda: sqlite3_dbapi_connect(db)),
        recover="attach",
    )
    try:
        for r in rows:
            assert store.get(r.job_id) == r
        assert store.group_jobs("g") == ["done", "kept"]
        assert store.group_state("g") == FAILURE
        assert [r.job_id for r in store.expired(now)] == ["done"]
        assert [r.job_id for r in worker.pending("q")] == ["pend"]
        got = worker.claim(["q"], "worker", lease=60.0)
        assert got is not None and got.job_id == "pend"
        assert store.get("pend").state == STARTED
        con = sqlite3.connect(db)
        try:
            tables = {n for (n,) in con.execute(
                "SELECT name FROM sqlite_master WHERE type = 'table'"
            )}
            reaps = dict(con.execute("SELECT job_id, reaps_at FROM db_jobs"))
        finally:
            con.close()
        assert not tables & {"jobs", "groups"}
        assert reaps == {r.job_id: DBAPIBroker._reaps_at(r) for r in rows}
    finally:
        worker.close()
        store.close()


# ---------------------------------------------------------------------------
# No record mirror: opening a store reads only the live backlog, the
# store holds no copy of any row, heartbeat seeks the running rows, and
# a closed store refuses writes instead of dropping them.
# ---------------------------------------------------------------------------

_HISTORY = 20_000


def _history_file(db: str) -> dict[str, str]:
    """A file holding ``_HISTORY`` terminal rows plus a few active ones
    left by a dead process; returns the active ids with their state."""
    from dungbeetle_spark.broker import SqliteBroker

    active = {
        "act-p0": PENDING, "act-p1": PENDING,
        "act-s0": STARTED, "act-s1": STARTED, "act-r0": RETRY,
    }
    broker = SqliteBroker(db)
    cur = broker._db.cursor()
    cur.execute("BEGIN")
    for i in range(_HISTORY):
        broker._upsert(cur, JobRecord(
            job_id=f"hist-{i}", task="t", queue="q",
            state=FAILURE if i % 50 == 0 else SUCCESS,
            created_at=1_700_000_000.0 + i, finished_at=1_700_000_001.0 + i,
            owner=f"dead:{i % 8}",
        ))
    for job_id, state in active.items():
        owned = state != PENDING
        broker._upsert(cur, JobRecord(
            job_id=job_id, task="t", queue="q", state=state,
            owner="dead:1" if owned else "",
            heartbeat_at=1_700_000_000.0 if owned else None,
        ))
    broker._db.commit()
    broker.close()
    return active


@pytest.mark.parametrize("mode", ["fail", "requeue"])
def test_open_reads_and_mutates_only_active_rows(tmp_path, mode):
    """Opening a file with 20k terminal rows selects the active rows by
    state in SQL, writes only the rows the restart policy changes, and
    leaves no per-record copy behind in the store."""
    import gc

    from dungbeetle_spark.broker import SqliteBroker

    db = str(tmp_path / "history.db")
    active = _history_file(db)
    backend = SqliteBroker(db)
    statements: list[str] = []
    backend._db.set_trace_callback(statements.append)
    gc.collect()
    records_before = sum(isinstance(o, JobRecord) for o in gc.get_objects())
    store = JobStore(backend=backend, recover=mode)
    gc.collect()
    records_after = sum(isinstance(o, JobRecord) for o in gc.get_objects())
    backend._db.set_trace_callback(None)
    try:
        def ids_in(sqls: list[str]) -> set[str]:
            return {j for j in active if any(f"'{j}'" in s for s in sqls)}

        selects = [s for s in statements
                   if s.lstrip().startswith("SELECT") and "db_jobs" in s]
        scans = [s for s in selects if "job_id =" not in s]
        assert scans
        for sql in scans:
            assert "state IN ('PENDING', 'STARTED', 'RETRY')" in sql, sql
        changed = {
            job_id for job_id, state in active.items()
            if mode == "fail" or state != PENDING
        }
        keyed = [s for s in selects if "job_id =" in s]
        assert len(keyed) == len(changed) and ids_in(keyed) == changed
        written = [s for s in statements if "INSERT INTO db_jobs" in s]
        assert len(written) == len(changed) and ids_in(written) == changed
        assert records_after - records_before < 10
        for job_id, state in active.items():
            want = FAILURE if mode == "fail" else PENDING
            assert store.get(job_id).state == want
        counts = store.counts_by_state()
        assert counts[SUCCESS] + counts[FAILURE] \
            == _HISTORY + (len(active) if mode == "fail" else 0)
    finally:
        store.close()


def test_heartbeat_seeks_running_index(tmp_path):
    """Heartbeat's UPDATE seeks ``db_jobs_running`` (owner, STARTED
    rows only) instead of reading every row of the history."""
    import sqlite3

    db = str(tmp_path / "jobs.db")
    store = JobStore(persist_path=db, recover="attach")
    store.create(JobRecord(job_id="j", task="t", queue="q"))
    assert store.claim(["q"], "o", lease=60.0) is not None
    statements: list[str] = []
    store._backend._db.set_trace_callback(statements.append)
    store.heartbeat("o", now=123.0)
    store._backend._db.set_trace_callback(None)
    (sql,) = [s for s in statements if s.lstrip().startswith("UPDATE")]
    assert store.get("j").heartbeat_at == 123.0
    con = sqlite3.connect(db)
    try:
        plan = " | ".join(
            row[3] for row in con.execute("EXPLAIN QUERY PLAN " + sql)
        )
        assert "db_jobs_running" in plan, plan
    finally:
        con.close()
        store.close()


def test_reaper_seeks_reaps_index(tmp_path):
    """The TTL reaper's SELECT seeks ``db_jobs_reaps`` (rows with a
    ``reaps_at`` only) instead of reading every row of the history."""
    import sqlite3

    db = str(tmp_path / "jobs.db")
    store = JobStore(persist_path=db, recover="attach")
    store.create(JobRecord(job_id="j", task="t", queue="q", ttl=5.0))
    store.set_state("j", SUCCESS, count=1, result_path="/r")
    statements: list[str] = []
    store._backend._db.set_trace_callback(statements.append)
    reaped = store.expired(now=store.get("j").finished_at + 6.0)
    assert [r.job_id for r in reaped] == ["j"]
    store._backend._db.set_trace_callback(None)
    (sql,) = [s for s in statements if "reaps_at <=" in s]
    con = sqlite3.connect(db)
    try:
        plan = " | ".join(
            row[3] for row in con.execute("EXPLAIN QUERY PLAN " + sql)
        )
        assert "db_jobs_reaps" in plan, plan
    finally:
        con.close()
        store.close()


@pytest.mark.parametrize("on_file", [False, True])
def test_closed_store_refuses_writes(tmp_path, on_file):
    """After ``close()`` a write raises: it must not report success for
    a row that no longer reaches any store."""
    import sqlite3

    store = JobStore(
        persist_path=str(tmp_path / "jobs.db") if on_file else None
    )
    store.create(JobRecord(job_id="j", task="t", queue="q"))
    store.close()
    with pytest.raises(sqlite3.ProgrammingError):
        store.set_state("j", SUCCESS, count=1)


def test_memory_store_shared_by_threads_claims_each_job_once():
    """The in-memory store is one SQLite ``:memory:`` connection that
    every worker thread goes through: under fast thread switching each
    job is still claimed once and every terminal write lands."""
    import sys

    store = JobStore()
    n_jobs = 200
    for i in range(n_jobs):
        store.create(JobRecord(job_id=f"m{i}", task="t", queue="q"))
    claimed: list[str] = []
    lock = threading.Lock()

    def drain(owner: str) -> None:
        while (rec := store.claim(["q"], owner)) is not None:
            with lock:
                claimed.append(rec.job_id)
            store.set_state(rec.job_id, SUCCESS, count=1)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=drain, args=(f"o{i}",))
                   for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    assert sorted(claimed) == sorted(f"m{i}" for i in range(n_jobs))
    assert store.counts_by_state() == {SUCCESS: n_jobs}
    store.close()
