"""Job state store + cross-process backlog over a pluggable broker.

The reference tracks job state in Redis via tasqueue (states PENDING /
STARTED / FAILURE / SUCCESS / RETRY, reference: internal/core/
core.go:574-599), stores a single integer result — the written row
count — per job (core.go:436), and uses the Redis broker to hand jobs
to whichever worker process polls them first (core.go:403-447; README
"Multiple queues, workers and job distribution"). This store plays
both roles for the rebuild:

- **State store.** Same state machine, same payloads. Every mutation
  is a read-modify-write through a store method, so the stored row is
  authoritative and any process sharing a persistent backend sees the
  same truth (fixing the reference's read-then-enqueue race on
  single-flight IDs, core.go:331-339, with a real atomic
  check-and-set).
- **Broker.** ``create`` = insert of a PENDING row; ``claim`` = an
  atomic owner-stamping update. A server process and any number of
  ``--worker-only`` processes pointed at the same backend share one
  backlog: whoever claims a job first owns it — the Spark-native
  answer to the reference's Redis-brokered worker distribution.

**Storage is pluggable** (broker.py): this class owns broker *policy*
(state machine, single-flight, recovery, leases) and delegates the
atomic primitives to a ``BrokerBackend``. There is one code path:
every store, the in-memory one included, is the one ``DBAPIBroker``
schema. With no path and no backend the store is a private SQLite
``:memory:`` database (single process); ``persist_path`` opens a
SQLite file for multi-process-single-host, and a DBAPI factory (that
file served over TCP, or a Postgres) extends the identical semantics
across machines — the deployment class the reference reserves for its
Redis broker (cmd/init.go:200-229). ``JobStore`` holds no copy of any
record. Any other implementation of the interface is validated by
tests/test_broker_contract.py.

Restart semantics (``recover`` modes, applied to rows the previous
process left non-terminal):

- ``"fail"`` — single-process engine: the claim threads that owned
  these rows died with the process (or ``stop`` left its backlog
  PENDING), and without the distributed heartbeat lease the store is
  not a durable backlog; mark FAILURE (an honest answer beats a ghost
  that runs at some later restart, or never).
- ``"requeue"`` — distributed engine: the shared backend IS the broker
  and PENDING rows are durable backlog; keep them, and return
  STARTED/RETRY rows to the backlog (owner cleared) for re-delivery —
  the same at-least-once semantics a Redis broker gives the reference
  after a worker crash.
- ``"attach"`` — worker-only sidecar joining a live store: touch
  nothing; the rows belong to the running primary.

Cross-process cancellation is purge-level: DELETE /jobs/{id} removes
the row, so an unclaimed job is never picked up, and the eventual
terminal write from a remote owner is dropped (no resurrect). Stage
interruption via ``cancelJobGroup`` only reaches jobs running in the
process that receives the cancel — mirroring the reference, whose
MySQL path cannot interrupt server-side either (README DELETE caveat).
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from dungbeetle_spark.broker import BrokerBackend, SqliteBroker

# Job states (core.go:574-580).
PENDING = "PENDING"
STARTED = "STARTED"
FAILURE = "FAILURE"
SUCCESS = "SUCCESS"
RETRY = "RETRY"

_ACTIVE = (PENDING, STARTED, RETRY)
_TERMINAL = (SUCCESS, FAILURE)


@dataclass
class JobRecord:
    job_id: str
    task: str
    queue: str
    state: str = PENDING
    count: int = 0
    error: str = ""
    args: list = field(default_factory=list)
    db: str = ""
    ttl: int = 0
    eta: float | None = None  # unix seconds; run no earlier
    max_retries: int = 0
    attempts: int = 0
    group_id: str = ""
    result_backend: str = ""
    result_path: str = ""
    created_at: float = field(default_factory=time.time)
    finished_at: float | None = None  # set on SUCCESS/FAILURE
    cancelled: bool = False
    owner: str = ""  # claiming process id ("host:pid"); "" = unclaimed
    heartbeat_at: float | None = None  # owner liveness stamp (lease reclaim)


def group_state_of(states: list[str]) -> str:
    """Aggregate member states (core.go:206-241): all SUCCESS →
    SUCCESS; any FAILURE → FAILURE; else PENDING."""
    if states and all(s == SUCCESS for s in states):
        return SUCCESS
    if any(s == FAILURE for s in states):
        return FAILURE
    return PENDING


class SingleFlightError(Exception):
    """Same job_id already Processing/Retrying (core.go:331-339)."""


class JobStore:
    """Thread-safe (and, over a shared backend, process-shared) job
    registry.

    Job IDs are caller-suppliable and *non-unique* across completed
    runs (a re-post of a finished ID overwrites it, like the reference
    re-enqueueing the same ID); only one instance of an ID may be
    active at a time — enforced atomically here, across processes when
    a shared backend is configured.

    Every call goes to the backend; the store keeps no copy of any
    record, so what it returns is always the stored row.
    """

    def __init__(
        self,
        persist_path: str | None = None,
        recover: str = "fail",
        requeue_lease: float = 0.0,
        backend: BrokerBackend | None = None,
    ) -> None:
        """``recover`` picks the restart policy (module docstring).

        ``requeue_lease`` scopes the "requeue" policy: rows whose
        owner heartbeat is fresher than the lease belong to a LIVE
        sibling process and are left alone (stealing them would
        double-execute); only stale/unowned rows return to the
        backlog. 0 = reset every in-flight row (correct when lease
        reclaim is disabled — nothing else would ever recover them;
        NOTE: 0 plus live sibling processes therefore guarantees
        double execution of their in-flight jobs — configure a lease
        whenever sidecars share the backend).

        ``backend`` plugs in an alternative :class:`BrokerBackend`
        (e.g. a Postgres store for multi-machine deployments); when
        omitted, ``persist_path`` opens that SQLite file
        (:class:`SqliteBroker`), and None opens a private SQLite
        ``:memory:`` database — the same code path, so job args must
        be JSON values on every store.
        """
        if recover not in ("fail", "requeue", "attach"):
            raise ValueError(f"unknown recover mode: {recover!r}")
        self._requeue_lease = requeue_lease
        self._lock = threading.RLock()
        self._backend = backend or SqliteBroker(persist_path or ":memory:")
        self._recover(recover)

    # -- recovery -----------------------------------------------------
    def _recover(self, mode: str) -> None:
        """Apply the restart policy to rows a dead process left active.

        Only the active rows are read (``BrokerBackend.active``), never
        the terminal history. Every reset is a transactional per-row
        RMW through the backend (``mutate`` re-reads under the writer
        lock), so an owner's terminal write landing between our read
        and the reset wins — blindly re-PENDING a SUCCESS row would
        re-execute a completed job.
        """
        if mode == "attach":
            return
        now = time.time()

        def _fail(r: JobRecord) -> None:
            if r.state in _ACTIVE:
                r.state = FAILURE
                r.error = "interrupted by engine restart"
                r.finished_at = r.finished_at or time.time()

        def _requeue(r: JobRecord) -> None:
            if r.state in (STARTED, RETRY):
                r.state = PENDING
                r.owner = ""

        for rec in self._backend.active():  # materialized, not a cursor
            if mode == "fail":
                self._backend.mutate(rec.job_id, _fail)
            elif rec.state != PENDING and (
                # Only reclaim rows no live process owns: a fresh
                # heartbeat means a live sibling worker is mid-job —
                # stealing it here would double-execute. (Stale rows
                # also remain covered by lease reclaim in claim();
                # resetting them at startup is just the fast path.)
                self._requeue_lease <= 0
                or not rec.owner
                or (rec.heartbeat_at or 0.0) <= now - self._requeue_lease
            ):
                self._backend.mutate(rec.job_id, _requeue)

    def close(self) -> None:
        """Close the backend; every later call raises."""
        with self._lock:
            self._backend.close()

    # -- jobs ---------------------------------------------------------
    def create(self, rec: JobRecord) -> JobRecord:
        # Single-flight: this or another engine process sharing the
        # backend may own an active instance of the ID. check_and_put
        # is atomic against concurrent creators (the reference gets
        # the same guarantee from Redis, core.go:331-339 — minus its
        # read-then-enqueue race).
        with self._lock:
            existing = self._backend.check_and_put(rec, _ACTIVE)
        if existing is not None:
            raise SingleFlightError(
                f"job {rec.job_id} is already running in this or "
                f"another process: {existing.state}"
            )
        return rec

    def get(self, job_id: str) -> JobRecord:
        """The stored row (a sibling process may have advanced it)."""
        with self._lock:
            rec = self._backend.get(job_id)
        if rec is None:
            raise KeyError(f"unknown job: {job_id}")
        return rec

    def exists(self, job_id: str) -> bool:
        with self._lock:
            return self._backend.get(job_id) is not None

    def set_state(
        self,
        job_id: str,
        state: str,
        *,
        count: int | None = None,
        error: str | None = None,
        result_path: str | None = None,
        result_backend: str | None = None,
        attempts: int | None = None,
        owner: str | None = None,
    ) -> bool:
        """Atomic read-modify-write of the job's status fields.

        Returns False when the row has been purged by a cancel in this
        or another process — the caller's terminal write is dropped
        rather than resurrecting a cancelled job.
        """
        return self._mutate(
            job_id,
            lambda r: self._apply(
                r, state, count, error, result_path,
                result_backend, attempts, owner,
            ),
        ) is not None

    def _mutate(
        self, job_id: str, fn: Callable[[JobRecord], None]
    ) -> JobRecord | None:
        with self._lock:
            return self._backend.mutate(job_id, fn)

    @staticmethod
    def _apply(
        rec: JobRecord,
        state: str,
        count: int | None,
        error: str | None,
        result_path: str | None,
        result_backend: str | None,
        attempts: int | None,
        owner: str | None,
    ) -> None:
        rec.state = state
        if state in _TERMINAL:
            rec.finished_at = time.time()
        if count is not None:
            rec.count = count
        if error is not None:
            rec.error = error
        if result_path is not None:
            rec.result_path = result_path
        if result_backend is not None:
            rec.result_backend = result_backend
        if attempts is not None:
            rec.attempts = attempts
        if owner is not None:
            rec.owner = owner

    def claim(
        self,
        queues: list[str],
        owner: str,
        now: float | None = None,
        lease: float = 0.0,
    ) -> JobRecord | None:
        """Atomically claim the oldest runnable job on ``queues``.

        Runnable = PENDING (or RETRY returned to the backlog), not
        cancelled, unclaimed, and past its ETA. The claim stamps
        ``owner`` + a heartbeat and moves the row to STARTED inside one
        backend transaction, so two processes polling the same backend
        can never claim the same job — the broker handoff the reference
        gets from Redis (core.go:403-447).

        With ``lease > 0``, a STARTED row whose owner's heartbeat is
        older than the lease is also runnable: a worker that died
        mid-job gets its jobs re-delivered to a live process without
        waiting for a primary restart — at-least-once, the same
        visibility-timeout semantics a Redis broker gives the
        reference. (A stalled-but-alive worker can therefore cause a
        double execution; results are overwrite tables, so the
        duplicate write is idempotent.)
        """
        now = time.time() if now is None else now
        with self._lock:
            return self._backend.claim(queues, owner, now, lease)

    def heartbeat(self, owner: str, now: float | None = None) -> None:
        """Refresh the liveness stamp on every job ``owner`` is
        currently running — called periodically by each worker process
        so its leases never expire while it's alive."""
        now = time.time() if now is None else now
        with self._lock:
            self._backend.heartbeat(owner, now)

    def mark_cancelled(self, job_id: str) -> JobRecord:
        def _cancel(r: JobRecord) -> None:
            r.cancelled = True

        rec = self._mutate(job_id, _cancel)
        if rec is None:
            raise KeyError(f"unknown job: {job_id}")
        return rec

    def clear_result(self, job_id: str) -> None:
        """Forget a reaped job's result location (TTL reaper)."""

        def _clear(r: JobRecord) -> None:
            r.result_path = ""

        self._mutate(job_id, _clear)

    def delete(self, job_id: str) -> None:
        with self._lock:
            self._backend.delete(job_id)

    def pending(self, queue: str) -> list[JobRecord]:
        """Pending jobs on a queue, oldest first (core.go:149-162 —
        the reference fetches newest-first then reverses). Filter and
        order run backend-side — metrics/pending polls must not
        deserialize the full (mostly terminal) job history."""
        with self._lock:
            return self._backend.pending(queue)

    def counts_by_state(self) -> dict[str, int]:
        """Job counts keyed by state (for the /metrics gauges)."""
        with self._lock:
            return self._backend.counts_by_state()

    def expired(self, now: float) -> list[JobRecord]:
        """Terminal jobs whose results outlived their TTL.

        The reference accepts a per-job ``ttl`` but its SQL backend
        ignores it (core.go:354-357; README: "NOT supported by the
        default SQL DB result backend"). Here TTL is honored: the
        reaper collects these and deletes their result tables.
        ``ttl <= 0`` means keep forever.
        """
        with self._lock:
            return self._backend.expired(now)

    # -- groups -------------------------------------------------------
    def create_group(self, group_id: str, job_ids: list[str]) -> None:
        with self._lock:
            self._backend.put_group(group_id, list(job_ids))
            for jid in job_ids:
                self.set_group(jid, group_id)

    def set_group(self, job_id: str, group_id: str) -> None:
        def _set(r: JobRecord) -> None:
            r.group_id = group_id

        self._mutate(job_id, _set)

    def group_jobs(self, group_id: str) -> list[str]:
        with self._lock:
            ids = self._backend.get_group(group_id)
        if ids is None:
            raise KeyError(f"unknown group: {group_id}")
        return ids

    def group_state(self, group_id: str) -> str:
        return group_state_of(
            [self.get(j).state for j in self.group_jobs(group_id)]
        )

    def delete_group(self, group_id: str) -> None:
        with self._lock:
            self._backend.delete_group(group_id)
