"""Core engine: task registry + named queues + async Spark execution.

The Spark-idiomatic rebuild of the reference's job pipeline
(reference: internal/core/core.go). One ``Core`` owns:

- a task catalog (``tasks.load_tasks`` or programmatic registration),
- named sources (each its own child ``SparkSession`` — isolated temp-
  view namespace over one shared SparkContext, the analog of the
  reference's named DB pools, dbpool.go:13-14),
- named parquet result backends,
- named queues, each a bounded pool of claim threads — the reference's
  per-queue worker concurrency is the whole point of the system
  (traffic control; README "Usecase", cmd/init.go:44). Each queue maps
  onto a Spark FAIR scheduler pool so concurrent jobs share the cluster.

There is one dispatcher, as in the reference, where every job goes
through the tasqueue broker even on one host (cmd/init.go:200-229): a
post INSERTs a PENDING row into the job store and wakes a local claim
thread; claim threads take the oldest runnable row (past its ETA,
unowned) in one store transaction. The job store is the backlog in
every mode — the private in-memory SQLite store of a single process as
much as a file or served database shared by a worker fleet — so an ETA
fires within one ``claim_poll_interval`` of its time, a RETRY returns
the row to the backlog, and ``stop`` finishes running jobs but leaves
queued ones PENDING.

Execution of one job (the analog of execJob + writeResults,
core.go:449-572): the worker thread pins the Spark job group to the
job ID with ``interruptOnCancel=True`` — making DELETE /jobs/{id}
actually interrupt running stages (strictly stronger than the
reference, whose MySQL path cannot cancel server-side) — runs the
task's parameterized SQL on the routed source session, canonical-casts
and writes ``results_<job_id>``, then records the row count as the
job's result (core.go:436).
"""

from __future__ import annotations

import logging
import os
import socket
import threading
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Row, SparkSession

from dungbeetle_spark import jobstore
from dungbeetle_spark.jobstore import JobRecord, JobStore
from dungbeetle_spark.results import ParquetResultBackend, ResultBackends
from dungbeetle_spark.sources.catalog import ParquetSource, SourcePool
from dungbeetle_spark.tasks import Task, bind_args, load_tasks

_log = logging.getLogger("dungbeetle_spark.core")

DEFAULT_ETA_FMT = "%Y-%m-%d %H:%M:%S"  # core.go:359-367


@dataclass
class JobReq:
    """POST /tasks/{task}/jobs request body (models/models.go:8-20)."""

    job_id: str = ""
    args: list = field(default_factory=list)
    db: str = ""
    # None → server default TTL; <= 0 → keep results forever. The
    # explicit-zero case must survive to the record (an `or` would
    # silently turn "keep forever" into the 60 s default).
    ttl: int | None = None
    eta: str = ""
    retries: int = 0
    queue: str = ""


@dataclass
class JobResp:
    """Immediate enqueue response (models/models.go:22-28)."""

    job_id: str
    task: str
    queue: str
    eta: str = ""
    retries: int = 0


class Core:
    def __init__(
        self,
        spark: SparkSession,
        *,
        default_queue: str = "default",
        worker_concurrency: int = 10,  # reference default, cmd/init.go:44
        default_job_ttl: int = 60,
        result_reaper_interval: float = 0.0,  # seconds; 0 = off (reference parity)
        jobstore_path: str | None = None,  # SQLite file; None = in-memory SQLite
        jobstore_recover_inflight: bool = True,  # False for worker sidecars
        distributed: bool = False,  # shared store: leases, heartbeat, requeue
        claim_queues: list[str] | None = None,  # None = claim every queue
        claim_poll_interval: float = 0.2,  # broker poll period (tasqueue analog)
        claim_lease: float = 120.0,  # reclaim jobs from dead workers; 0 = off
        jobstore_backend=None,  # BrokerBackend instance; overrides jobstore_path
    ) -> None:
        if distributed and not (jobstore_path or jobstore_backend):
            raise ValueError(
                "distributed mode needs a shared jobstore_path or a "
                "jobstore_backend — the store is the broker the "
                "processes rendezvous on"
            )
        self.spark = spark
        # Restart policy: a sidecar attaches without touching the
        # primary's rows; a distributed primary treats the store as a
        # durable broker (keep the backlog, re-deliver in-flight rows);
        # a single-process engine fails whatever its dead workers left.
        recover = (
            "attach"
            if not jobstore_recover_inflight
            else ("requeue" if distributed else "fail")
        )
        self.store = JobStore(
            persist_path=jobstore_path,
            recover=recover,
            requeue_lease=claim_lease if distributed else 0.0,
            backend=jobstore_backend,
        )
        self.distributed = distributed
        self.claim_queues = claim_queues
        self.claim_poll_interval = claim_poll_interval
        self.claim_lease = claim_lease
        # Claim stamp for this worker (the reference's worker identity
        # is its Redis consumer; ours is host:pid plus a nonce so two
        # Cores in one process — tests, embedded setups — stay distinct).
        self.worker_id = (
            f"{socket.gethostname()}:{os.getpid()}:{uuid.uuid4().hex[:6]}"
        )
        self.sources = SourcePool()
        self.result_backends = ResultBackends()
        self.tasks: dict[str, Task] = {}
        self.callables: dict[str, Callable[[SparkSession, list], DataFrame]] = {}
        self.default_queue = default_queue
        self.worker_concurrency = worker_concurrency
        self.default_job_ttl = default_job_ttl
        self.result_reaper_interval = result_reaper_interval
        self._queues: dict[str, _ClaimPool] = {}
        self._sessions: dict[str, SparkSession] = {}
        self._lock = threading.RLock()
        self._started = False
        self._reaper: threading.Thread | None = None
        self._reaper_stop = threading.Event()
        self._heartbeat: threading.Thread | None = None
        self._heartbeat_stop = threading.Event()
        # Jobs executing Spark stages in THIS process right now — the
        # cancel-watcher's scope (distributed mode).
        self._running: set[str] = set()
        self._cancel_watch: threading.Thread | None = None
        self._cancel_watch_stop = threading.Event()

    # -- wiring -------------------------------------------------------
    def add_source(self, name: str, path: str) -> None:
        self.add_source_obj(ParquetSource(name, path))

    def add_source_obj(self, src) -> None:
        """Attach any source with a ``name`` and ``register(session)``
        (ParquetSource, FileSource for csv/json/orc, JdbcSource)."""
        self.sources.add(src)
        # Child session per source: shared SparkContext (one cluster),
        # isolated temp-view catalog per "database".
        sess = self.spark.newSession()
        src.register(sess)
        self._sessions[src.name] = sess

    def add_result_backend(self, name: str, path: str) -> None:
        self.result_backends.add(ParquetResultBackend(name, path))

    def add_result_backend_obj(self, backend) -> None:
        """Attach any backend with name/write/read/delete/table_path
        (ParquetResultBackend, JdbcResultBackend)."""
        self.result_backends.add(backend)

    def load_task_dirs(self, dirs: list[str]) -> None:
        self.tasks.update(
            load_tasks(
                dirs,
                default_queue=self.default_queue,
                source_names=self.sources.names() or None,
                result_backend_names=self.result_backends.names() or None,
                spark=self.spark,
            )
        )

    def register_task(self, task: Task) -> None:
        if task.name in self.tasks:
            raise ValueError(f"duplicate task name: {task.name}")
        self.tasks[task.name] = task

    def register_callable_task(
        self,
        name: str,
        fn: Callable[[SparkSession, list], DataFrame],
        *,
        queue: str = "",
        conc: int = 0,
    ) -> None:
        """A DataFrame-building task (for non-SQL operators — dedup,
        similarity, streaming — registered like any SQL task)."""
        task = Task(name=name, stmt="", raw_stmt="", queue=queue or self.default_queue, conc=conc)
        self.register_task(task)
        self.callables[name] = fn

    # -- lifecycle ----------------------------------------------------
    def start(self) -> None:
        """Spin up one worker pool per queue referenced by any task
        (initQueue analog, core.go:403-447)."""
        with self._lock:
            if self._started:
                return
            for task in self.tasks.values():
                self._ensure_queue(task.queue, task.conc or self.worker_concurrency)
            self._ensure_queue(self.default_queue, self.worker_concurrency)
            if self.result_reaper_interval > 0 and self._reaper is None:
                self._reaper_stop.clear()
                self._reaper = threading.Thread(
                    target=self._reap_loop, name="result-reaper", daemon=True
                )
                self._reaper.start()
            if (
                self.distributed
                and self.claim_lease > 0
                and self._heartbeat is None
            ):
                self._heartbeat_stop.clear()
                self._heartbeat = threading.Thread(
                    target=self._heartbeat_loop, name="lease-heartbeat", daemon=True
                )
                self._heartbeat.start()
            if self.distributed and self._cancel_watch is None:
                self._cancel_watch_stop.clear()
                self._cancel_watch = threading.Thread(
                    target=self._cancel_watch_loop,
                    name="cancel-watcher",
                    daemon=True,
                )
                self._cancel_watch.start()
            self._started = True

    def stop(self) -> None:
        """Stop claiming: running jobs finish, queued ones stay PENDING
        in the store (as in distributed mode and the reference's
        Redis)."""
        with self._lock:
            queues = list(self._queues.values())
            for q in queues:
                q.stop()
            self._queues.clear()
            self._started = False
        self._reaper_stop.set()
        if self._reaper is not None:
            self._reaper.join(timeout=5)
            self._reaper = None
        self._heartbeat_stop.set()
        if self._heartbeat is not None:
            self._heartbeat.join(timeout=5)
            self._heartbeat = None
        self._cancel_watch_stop.set()
        if self._cancel_watch is not None:
            self._cancel_watch.join(timeout=5)
            self._cancel_watch = None
        # Close the store only once every worker thread has exited: a
        # worker finishing a job after close() would find the DB
        # closed and its terminal-state write would fail — the next
        # startup would then falsely fail a SUCCEEDED job as
        # 'interrupted by engine restart'. If draining exceeds the
        # timeout (a long Spark query mid-flight), leave the
        # connection open for those daemon threads instead of dropping
        # their writes.
        # list-comprehension, not a generator: all() on a generator
        # short-circuits at the first unfinished pool and would skip
        # joining every pool after it
        drained = all([q.join(timeout=30) for q in queues])
        if drained:
            self.store.close()

    def reap_expired_results(self, now: float | None = None) -> list[str]:
        """Delete result tables whose job TTL has elapsed; return the
        reaped job ids. Upgrades the reference's accepted-but-ignored
        ``ttl`` (core.go:354-357, sqldb.go:89 — parameter unused) into
        real warehouse hygiene: at 100 TB, per-job ephemeral tables
        that nobody deletes *are* the storage bill."""
        reaped = []
        for rec in self.store.expired(now if now is not None else time.time()):
            if rec.result_backend:
                try:
                    self.result_backends.get(rec.result_backend).delete(rec.job_id)
                except (KeyError, NotImplementedError):
                    # backend detached, or retention is external (a
                    # delete-less JDBC target): clear the record so the
                    # reaper stops re-selecting it every pass
                    pass
                except Exception:  # noqa: BLE001
                    # transient delete failure (warehouse hiccup): keep
                    # result_path so the NEXT pass retries this record,
                    # and keep reaping the rest of the list
                    continue
            self.store.clear_result(rec.job_id)
            reaped.append(rec.job_id)
        return reaped

    def _reap_loop(self) -> None:
        while not self._reaper_stop.wait(self.result_reaper_interval):
            try:
                self.reap_expired_results()
            except Exception:  # noqa: BLE001 — reaper must not die
                pass

    def _cancel_watch_loop(self) -> None:
        """Propagate cross-process cancels into running Spark stages.

        A cancel is purge-level in the store (the row disappears), but
        ``cancelJobGroup`` only reaches stages in the process that
        receives the DELETE. This watcher closes the gap for the
        distributed topology: each worker process polls the rows of
        ITS currently-executing jobs, and when one is gone (or flagged
        cancelled before the purge), interrupts the local job group —
        so a cancel posted to the HTTP server actually stops the
        worker sidecar's stages instead of letting the query run to a
        dropped terminal write. Polling rides the same cadence as
        claim polling; cancelJobGroup is idempotent, so repeat fires
        while the stage unwinds are harmless.
        """
        while not self._cancel_watch_stop.wait(self.claim_poll_interval):
            with self._lock:
                running = list(self._running)
            for job_id in running:
                try:
                    rec = self.store.get(job_id)
                    gone = rec.cancelled
                except KeyError:
                    gone = True
                except Exception:  # noqa: BLE001 — transient store error
                    continue
                if gone:
                    try:
                        self.spark.sparkContext.cancelJobGroup(job_id)
                    except Exception:  # noqa: BLE001
                        pass

    def _heartbeat_loop(self) -> None:
        """Keep this process's job leases alive (distributed mode): a
        quarter-lease cadence gives three missed beats of slack before
        a peer reclaims our in-flight jobs."""
        interval = max(1.0, min(self.claim_lease / 4, 15.0))
        while not self._heartbeat_stop.wait(interval):
            try:
                self.store.heartbeat(self.worker_id)
            except Exception:  # noqa: BLE001 — liveness must not die
                pass

    def _ensure_queue(self, name: str, concurrency: int) -> _ClaimPool:
        """One claim pool per queue over ``self.store``, which holds the
        backlog in every mode. A process only spins claim threads for
        queues it subscribes to (``claim_queues``), like reference
        workers subscribing to specific queues — but tracks every queue
        name for metrics.

        The lease is the distributed one or none: only a distributed
        process runs the heartbeat that keeps its own leases fresh, so
        a lease without it would re-claim (and run twice) every job
        that outlives it."""
        with self._lock:
            q = self._queues.get(name)
            if q is None:
                subscribed = self.claim_queues is None or name in self.claim_queues
                q = _ClaimPool(
                    name,
                    max(concurrency, 1) if subscribed else 0,
                    self.store,
                    self._run_job,
                    self.claim_poll_interval,
                    self.worker_id,
                    self.claim_lease if self.distributed else 0.0,
                )
                self._queues[name] = q
            return q

    # -- enqueue (NewJob analog, core.go:85-105 + makeJob 324-395) ----
    def new_job(self, task_name: str, req: JobReq) -> JobResp:
        task = self.tasks.get(task_name)
        if task is None:
            raise KeyError(f"unrecognized task: {task_name}")
        if req.db and req.db not in self.sources and task_name not in self.callables:
            raise KeyError(f"unknown db: {req.db}")
        job_id = req.job_id or f"job_{uuid.uuid4()}"  # core.go:341-352
        queue_name = req.queue or task.queue or self.default_queue
        eta_ts: float | None = None
        if req.eta:
            eta_ts = time.mktime(time.strptime(req.eta, DEFAULT_ETA_FMT))
        rec = JobRecord(
            job_id=job_id,
            task=task_name,
            queue=queue_name,
            args=list(req.args),
            db=req.db,
            ttl=self.default_job_ttl if req.ttl is None else req.ttl,
            eta=eta_ts,
            max_retries=req.retries,
        )
        self.store.create(rec)  # atomic single-flight check (jobstore)
        # The INSERT above IS the enqueue; submitting only wakes a local
        # claim thread, so the job does not wait for the next poll. A
        # future ETA needs no timer: the claim itself filters on ETA.
        self._ensure_queue(
            queue_name, task.conc or self.worker_concurrency
        ).submit(job_id)
        return JobResp(
            job_id=job_id,
            task=task_name,
            queue=queue_name,
            eta=req.eta,
            retries=req.retries,
        )

    def new_job_group(
        self, group_id: str, task_jobs: list[tuple[str, JobReq]]
    ) -> tuple[str, list[JobResp]]:
        """Enqueue N jobs as a group (NewJobGroup, core.go:107-147)."""
        group_id = group_id or f"group_{uuid.uuid4()}"
        resps: list[JobResp] = []
        for task_name, req in task_jobs:
            resps.append(self.new_job(task_name, req))
        # create_group stamps group_id onto each member record.
        self.store.create_group(group_id, [r.job_id for r in resps])
        return group_id, resps

    # -- status -------------------------------------------------------
    def job_status(self, job_id: str) -> dict:
        rec = self.store.get(job_id)
        return {
            "job_id": rec.job_id,
            "state": rec.state,
            "count": rec.count,
            "error": rec.error,
        }

    def group_status(self, group_id: str) -> dict:
        # One read per member: the group state is derived from the same
        # statuses it reports, so it never disagrees with them.
        jobs = [self.job_status(j) for j in self.store.group_jobs(group_id)]
        return {
            "group_id": group_id,
            "state": jobstore.group_state_of([j["state"] for j in jobs]),
            "jobs": jobs,
        }

    def pending_jobs(self, queue_name: str) -> list[dict]:
        return [
            {"job_id": r.job_id, "task": r.task, "queue": r.queue, "state": r.state}
            for r in self.store.pending(queue_name)
        ]

    # -- cancellation (CancelJob, core.go:243-271) --------------------
    def cancel_job(self, job_id: str, purge: bool = False) -> None:
        rec = self.store.get(job_id)
        if rec.state in (jobstore.SUCCESS, jobstore.FAILURE) and not purge:
            raise ValueError(f"job {job_id} is already complete ({rec.state})")
        self.store.mark_cancelled(job_id)
        # Interrupt any running stages of this job's group.
        self.spark.sparkContext.cancelJobGroup(job_id)
        self.store.delete(job_id)

    def cancel_group(self, group_id: str, purge: bool = False) -> None:
        for job_id in self.store.group_jobs(group_id):
            rec = self.store.get(job_id)
            if rec.state in (jobstore.SUCCESS, jobstore.FAILURE) and not purge:
                raise ValueError(f"job {job_id} is already complete ({rec.state})")
        for job_id in self.store.group_jobs(group_id):
            try:
                self.cancel_job(job_id, purge=True)
            except KeyError:
                pass
        self.store.delete_group(group_id)

    # -- execution (execJob + writeResults, core.go:449-572) ----------
    def _run_job(self, queue_name: str, job_id: str) -> None:
        """Execute one job a claim thread has claimed: the claim already
        stamped it STARTED and owned by this worker."""
        try:
            rec = self.store.get(job_id)
        except KeyError:
            return  # cancelled since the claim (core.go:451-454)
        if rec.cancelled:
            return
        task = self.tasks.get(rec.task)
        if task is None:
            # A claimed job for a task this process doesn't know is a
            # deployment error (sidecar missing the sql dirs) — fail
            # loudly rather than swallowing the job.
            self.store.set_state(
                job_id,
                jobstore.FAILURE,
                error=f"task {rec.task} not registered in worker {self.worker_id}",
            )
            return
        with self._lock:
            self._running.add(job_id)
        try:
            count, path, backend = self._execute(rec, task, queue_name)
            self.store.set_state(
                job_id,
                jobstore.SUCCESS,
                count=count,
                error="",
                result_path=path,
                result_backend=backend,
            )
        except Exception as exc:  # noqa: BLE001
            attempts = rec.attempts + 1
            # single get under try, not exists()+get(): a cross-process
            # cancel purge between the two calls would raise KeyError
            # out of the error path and kill the worker thread
            try:
                fresh = self.store.get(job_id)
            except KeyError:
                return  # cancelled mid-flight; job purged
            if attempts <= rec.max_retries and not fresh.cancelled:
                # RETRY returns the job to the backlog: with the owner
                # stamp cleared the row is claimable again, by any
                # subscribed claim thread of any process (broker
                # semantics).
                self.store.set_state(
                    job_id,
                    jobstore.RETRY,
                    error=str(exc)[:1000],
                    attempts=attempts,
                    owner="",
                )
            else:
                self.store.set_state(
                    job_id,
                    jobstore.FAILURE,
                    error=str(exc)[:1000],
                    attempts=attempts,
                )
        finally:
            with self._lock:
                self._running.discard(job_id)

    def _execute(
        self, rec: JobRecord, task: Task, queue_name: str
    ) -> tuple[int, str, str]:
        sc = self.spark.sparkContext
        # Queue → FAIR scheduler pool; job → cancellable job group. Set
        # before the build, so the Spark jobs a builder runs (its
        # barriers, driver pulls) are cancelled with the job too.
        sc.setLocalProperty("spark.scheduler.pool", queue_name)
        sc.setJobGroup(rec.job_id, f"task={rec.task}", interruptOnCancel=True)
        try:
            _sess, df = self.build_dataframe(rec.task, rec.args, db=rec.db)
            backend = self.result_backends.get_random(
                task.result_backends or None
            )  # random tagged backend (core.go:514-515)
            count = backend.write(
                rec.job_id, rec.task, df, partition_by=task.partition_by
            )
            return count, backend.table_path(rec.job_id), backend.name
        finally:
            sc.setJobGroup("", "")
            sc.setLocalProperty("spark.scheduler.pool", None)

    def build_dataframe(
        self, task_name: str, args: list, db: str = ""
    ) -> tuple[SparkSession, DataFrame]:
        """Resolve task → (routed session, lazy result DataFrame).

        Source routing mirrors core.go:482-494: an explicit request db
        wins; else a random pick among the task's tagged dbs; else a
        random pick among all attached sources.
        """
        task = self.tasks[task_name]
        if task_name in self.callables:
            sess = self._route_session(db, task)
            return sess, self.callables[task_name](sess, args)
        sess = self._route_session(db, task)
        if task.nargs and len(args) < task.nargs:
            raise ValueError(
                f"task {task_name} needs {task.nargs} args, got {len(args)}"
            )
        df = sess.sql(task.stmt, args=bind_args(args)) if task.nargs else sess.sql(task.stmt)
        return sess, df

    def _route_session(self, db: str, task: Task) -> SparkSession:
        if not self._sessions:
            return self.spark
        if db:
            if db not in self._sessions:
                raise KeyError(f"unknown db: {db}")
            return self._sessions[db]
        names = self.sources.filter_by_tags(task.dbs)
        return self._sessions[self.sources.get_random(names).name]

    # -- introspection ------------------------------------------------
    def metrics(self) -> dict:
        """Operational counters: jobs by state, queue backlogs, catalog
        sizes. The reference leans on external monitoring of its Redis
        broker; an in-process engine has to surface its own gauges."""
        by_state = self.store.counts_by_state()
        with self._lock:
            backlogs = {name: q.backlog() for name, q in self._queues.items()}
        return {
            "jobs_by_state": by_state,
            "queue_backlog": backlogs,
            "tasks": len(self.tasks),
            "sources": len(self.sources),
            "result_backends": len(self.result_backends),
            "worker_id": self.worker_id,
            "distributed": self.distributed,
        }

    # -- results access ----------------------------------------------
    def compact_result(self, job_id: str, target_files: int = 1) -> int:
        """Warehouse maintenance: rewrite a job's result table into
        ``target_files`` files (ParquetResultBackend.compact). Raises
        for jobs without results or backends without a compact path."""
        rec = self.store.get(job_id)
        if not rec.result_path:
            raise ValueError(f"job {job_id} has no results (state={rec.state})")
        backend = self.result_backends.get(rec.result_backend)
        compact = getattr(backend, "compact", None)
        if compact is None:
            raise NotImplementedError(
                f"result backend {backend.name} does not support compaction"
            )
        return compact(self.spark, job_id, target_files)

    def read_result_rows(self, job_id: str, limit: int) -> tuple[list[str], list[Row]]:
        """``(columns, rows)`` of the first ``limit`` rows of a job's
        result, as ``read_result(job_id).limit(limit).collect()`` gives
        them. A single-file parquet table is read on the driver
        (``ParquetResultBackend.head``), which skips a Spark read of
        two jobs; any other table goes through Spark."""
        rec = self.store.get(job_id)
        if not rec.result_path:
            raise ValueError(f"job {job_id} has no results (state={rec.state})")
        try:
            backend = self.result_backends.get(rec.result_backend)
        except KeyError:
            backend = None
        if isinstance(backend, ParquetResultBackend):
            head = backend.head(job_id, limit)
            if head is not None:
                return head
        df = self.read_result(job_id).limit(limit)
        return df.columns, df.collect()

    def read_result(self, job_id: str) -> DataFrame:
        rec = self.store.get(job_id)
        if not rec.result_path:
            raise ValueError(f"job {job_id} has no results (state={rec.state})")
        # Dispatch through the job's backend — a JDBC-backed result is
        # not a parquet path.
        if rec.result_backend:
            try:
                return self.result_backends.get(rec.result_backend).read(
                    self.spark, job_id
                )
            except KeyError:
                pass  # backend detached since the job ran; try the path
        return self.spark.read.parquet(rec.result_path)


class _ClaimPool:
    """A queue's worker pool: N threads claiming its jobs from the job
    store (the broker), at most N running at once (core.go:437-440
    TaskOpts{Concurrency, Queue}).

    The analog of reference workers subscribed to a tasqueue queue
    (core.go:403-447). Every ``Core`` queue is one of these, over the
    private in-memory store as over a shared one; any process pointed
    at the same store — the SQLite file itself, that file served by
    netdbapi, or a Postgres — runs its own pool, and the atomic
    ``JobStore.claim`` guarantees each job is delivered to exactly one
    of them. ``concurrency=0`` means this process tracks the queue
    (metrics, enqueue) but does not execute its jobs — a pure producer.
    """

    def __init__(
        self,
        name: str,
        concurrency: int,
        store: JobStore,
        run: Callable[[str, str], None],
        poll_interval: float,
        owner: str,
        lease: float = 0.0,
    ) -> None:
        self.name = name
        self.concurrency = concurrency
        self._store = store
        self._run = run
        self._poll = poll_interval
        self._owner = owner
        self._lease = lease
        self._stop = threading.Event()
        self._wake = threading.Condition()
        self._submits = 0  # submit() calls so far; guards lost wake-ups
        self._threads: list[threading.Thread] = []
        for i in range(concurrency):
            t = threading.Thread(
                target=self._worker, name=f"dbclaim-{name}-{i}", daemon=True
            )
            t.start()
            self._threads.append(t)

    def submit(self, job_id: str) -> None:
        """Wake one idle claim thread: the store INSERT already enqueued
        the job, so a claim now finds it without waiting for a poll."""
        with self._wake:
            self._submits += 1
            self._wake.notify()

    def backlog(self) -> int:
        return len(self._store.pending(self.name))

    def _worker(self) -> None:
        while not self._stop.is_set():
            with self._wake:
                seen = self._submits
            try:
                rec = self._store.claim(
                    [self.name], self._owner, lease=self._lease
                )
            except Exception:  # noqa: BLE001 — transient store contention
                rec = None
            if rec is None:
                # sleep one poll unless a submit came in since the claim
                # began (its job may have been inserted after the claim
                # read the queue)
                with self._wake:
                    if self._submits == seen and not self._stop.is_set():
                        self._wake.wait(self._poll)
                continue
            try:
                self._run(self.name, rec.job_id)
            except Exception:  # noqa: BLE001
                # _run_job traps job errors into FAILURE/RETRY state,
                # so reaching here means the *store* raised (sqlite
                # busy_timeout under multi-process contention, cancel
                # purge race). Log and keep polling — a dead claim
                # thread would strand backlog jobs PENDING forever.
                _log.exception("claim worker: job %s crashed the run wrapper",
                               rec.job_id)

    def stop(self) -> None:
        self._stop.set()
        with self._wake:
            self._wake.notify_all()

    def join(self, timeout: float) -> bool:
        deadline = time.monotonic() + timeout
        for t in self._threads:
            t.join(timeout=max(0.0, deadline - time.monotonic()))
        return not any(t.is_alive() for t in self._threads)

