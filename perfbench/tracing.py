"""Span recording for the traced benchmark run.

``install`` wraps the public functions of each server layer (http_api,
core, results, jobstore, broker, and the set-up path through session,
config and tasks) from outside the package: nothing inside
``dungbeetle_spark`` changes. Spans are kept in memory and written as
JSON when the server exits. ``layer_metrics`` turns them into the
per-layer figures the benchmark prints.

A span is ``[name, start, end, job_id, parent, attrs]``: times are
``time.perf_counter()`` seconds of the server process, ``parent`` is
the index of the enclosing span on the same thread (or -1), and
``job_id`` is the job the work belongs to, inherited from the
enclosing span when the call itself does not name one.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from statistics import median


class Recorder:
    """Thread-safe in-memory span list."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def current_job(self) -> str:
        """The job of the innermost open span on this thread, or ""."""
        for idx in reversed(self._stack()):
            job = self.spans[idx][3]
            if job:
                return job
        return ""

    def open(self, name: str, job_id: str = "") -> int:
        stack = self._stack()
        parent = stack[-1] if stack else -1
        job_id = job_id or self.current_job()
        span = [name, time.perf_counter(), None, job_id, parent, {}]
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._stack().pop()

    def dump(self, path: str) -> None:
        with self._lock:
            spans = [s for s in self.spans if s[2] is not None]
        tmp = f"{path}.tmp"
        with open(tmp, "w") as f:
            json.dump(spans, f)
        os.replace(tmp, path)


def _wrap(rec: Recorder, owner, attr: str, name, job_of=None, after=None) -> None:
    """Replace ``owner.attr`` by a wrapper that records one span per call.

    ``name`` is a string or a function of the call's arguments;
    ``job_of`` picks the job id from the arguments; ``after(span, result,
    *args)`` adds attributes once the call has returned.
    """
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        span_name = name(*args, **kwargs) if callable(name) else name
        job = job_of(*args, **kwargs) if job_of else ""
        idx = rec.open(span_name, job or "")
        try:
            out = orig(*args, **kwargs)
            if after is not None:
                after(rec.spans[idx], out, *args, **kwargs)
            return out
        finally:
            rec.close(idx)

    setattr(owner, attr, wrapper)


def _route(handler, method, parts, q) -> str:
    if method == "POST" and len(parts) == 3 and parts[0] == "tasks":
        return "http_api.post_job"
    if method == "GET" and len(parts) == 2 and parts[0] == "jobs":
        return "http_api.get_status"
    if method == "GET" and len(parts) == 3 and parts[0] == "jobs" and parts[2] == "result":
        return "http_api.get_result"
    if parts and parts[0] == "groups":
        return f"http_api.{method.lower()}_group"
    return "http_api.other"


def _route_job(handler, method, parts, q) -> str:
    return parts[1] if len(parts) >= 2 and parts[0] == "jobs" else ""


def _spark_counts(sc, group: str) -> tuple[int, int]:
    """(Spark jobs, tasks of their stages) run under a job group so far."""
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info is not None else ():
            stage = tracker.getStageInfo(sid)
            tasks += stage.numTasks if stage is not None else 0
    return len(job_ids), tasks


def install(rec: Recorder) -> None:
    """Wrap every traced layer function in place (see module doc)."""
    import dungbeetle_spark.config as config_mod
    import dungbeetle_spark.core as core_mod
    import dungbeetle_spark.session as session_mod
    from dungbeetle_spark import http_api
    from dungbeetle_spark.broker import SqliteBroker
    from dungbeetle_spark.core import Core
    from dungbeetle_spark.jobstore import JobStore
    from dungbeetle_spark.results import ParquetResultBackend

    # set-up path; build_core and get_spark are imported by their
    # callers at call time, load_tasks at core's import
    _wrap(rec, session_mod, "get_spark", "session.get_spark")
    _wrap(rec, config_mod, "build_core", "config.build_core")
    _wrap(rec, config_mod, "_register_operator_tasks", "tasks.register_operators")
    _wrap(rec, core_mod, "load_tasks", "tasks.load_tasks")

    def _posted(span, out, *args, **kwargs):
        if span[0] == "http_api.post_job":
            span[3] = out["job_id"]

    _wrap(rec, http_api._Handler, "_dispatch", _route, job_of=_route_job,
          after=_posted)

    _wrap(rec, Core, "new_job", "core.new_job",
          job_of=lambda self, task, req: req.job_id)

    def _job_counts(span, out, self, queue_name, job_id):
        span[5]["spark_jobs"], span[5]["spark_tasks"] = _spark_counts(
            self.spark.sparkContext, job_id
        )

    _wrap(
        rec, Core, "_run_job", "core.run_job",
        job_of=lambda self, queue_name, job_id: job_id, after=_job_counts,
    )

    # Core._execute builds the frame before it sets the job's group, so
    # Spark jobs run at build time belong to no group. Give them one of
    # their own for the length of the build, so they can be counted.
    orig_build = Core.build_dataframe

    @functools.wraps(orig_build)
    def build_dataframe(self, task_name, args, db=""):
        job = rec.current_job()
        idx = rec.open("core.build_dataframe", job)
        rec.spans[idx][5]["task"] = task_name
        sc = self.spark.sparkContext
        group = f"{job}:build" if job else ""
        if group:
            sc.setJobGroup(group, f"build task={task_name}")
        try:
            return orig_build(self, task_name, args, db=db)
        finally:
            if group:
                sc.setJobGroup("", "")
                rec.spans[idx][5]["spark_jobs"] = _spark_counts(sc, group)[0]
            rec.close(idx)

    Core.build_dataframe = build_dataframe
    _wrap(rec, Core, "read_result", "core.read_result",
          job_of=lambda self, job_id: job_id)

    def _write_counts(span, rows, self, job_id, task_name, df, partition_by=()):
        path = self.table_path(job_id)
        span[5]["rows"] = rows
        span[5]["task"] = task_name
        span[5]["files"] = sum(
            1 for n in os.listdir(path) if n.endswith(".parquet")
        )

    _wrap(rec, ParquetResultBackend, "write", "results.write",
          job_of=lambda self, job_id, *a, **k: job_id, after=_write_counts)

    def _claimed(span, got, *args, **kwargs):
        span[5]["hit"] = got is not None
        if got is not None:
            span[3] = got.job_id

    for meth in ("create", "get", "set_state", "claim", "_recover"):
        job_of = None
        if meth == "create":
            job_of = lambda self, r: r.job_id  # noqa: E731
        elif meth in ("get", "set_state"):
            job_of = lambda self, job_id, *a, **k: job_id  # noqa: E731
        _wrap(
            rec, JobStore, meth, f"jobstore.{meth.lstrip('_')}",
            job_of=job_of, after=_claimed if meth == "claim" else None,
        )
    for meth in ("claim", "get", "mutate", "check_and_put"):
        _wrap(rec, SqliteBroker, meth, f"broker.{meth}",
              after=_claimed if meth == "claim" else None)


# -- aggregation -------------------------------------------------------

def _self_time(spans: list[list], idx: int, children: dict[int, list[int]],
               prefix: str) -> float:
    """Span duration minus its direct children whose names start with
    ``prefix`` (children of one thread never overlap)."""
    s = spans[idx]
    inner = sum(
        spans[c][2] - spans[c][1]
        for c in children.get(idx, ())
        if spans[c][0].startswith(prefix)
    )
    return (s[2] - s[1]) - inner


_STORE_CALLS = ("jobstore.create", "jobstore.get", "jobstore.set_state",
                "jobstore.claim")


def _p50(values: list[float]) -> float:
    return median(values) if values else 0.0


def layer_metrics(spans: list[list], latency_jobs: list[str],
                  tasks: list[str]) -> dict[str, float]:
    """Per-layer figures from one traced run.

    Job-level figures are taken over ``latency_jobs``, the jobs of the
    closed-loop phase, where one job is in flight at a time and no job
    waits behind another; ``tasks`` get build and write figures of their
    own. Figures of calls a workload never makes (broker claims without
    a broker) are left out.
    """
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s[4] >= 0:
            children.setdefault(s[4], []).append(i)
    by_name: dict[str, list[int]] = {}
    by_job: dict[str, list[int]] = {}
    for i, s in enumerate(spans):
        by_name.setdefault(s[0], []).append(i)
        if s[3]:
            by_job.setdefault(s[3], []).append(i)

    def dur(i: int) -> float:
        return spans[i][2] - spans[i][1]

    def durs(name: str, jobs=None) -> list[float]:
        return [dur(i) for i in by_name.get(name, ())
                if jobs is None or spans[i][3] in jobs]

    wanted = set(latency_jobs)
    queue_wait, run, build, build_jobs = [], [], [], []
    write, w_jobs, w_tasks, w_files, w_rows = [], [], [], [], []
    polls, share = [], []
    for job in latency_jobs:
        idxs = by_job.get(job, [])
        mine = {}
        for i in idxs:
            mine.setdefault(spans[i][0], []).append(i)
        if "core.new_job" not in mine or "core.run_job" not in mine:
            continue
        enq = spans[mine["core.new_job"][0]][2]
        r = mine["core.run_job"][-1]
        hits = [i for i in mine.get("jobstore.claim", ()) if spans[i][5].get("hit")]
        handed = spans[hits[0]][2] if hits else spans[r][1]
        queue_wait.append(handed - enq)
        run.append(dur(r))
        b = mine.get("core.build_dataframe", [])
        build.append(sum(dur(i) for i in b))
        build_jobs.append(sum(spans[i][5].get("spark_jobs", 0) for i in b))
        w = mine.get("results.write", [])
        write.append(sum(dur(i) for i in w))
        w_jobs.append(spans[r][5].get("spark_jobs", 0))
        w_tasks.append(spans[r][5].get("spark_tasks", 0))
        w_files.append(sum(spans[i][5].get("files", 0) for i in w))
        w_rows.append(sum(spans[i][5].get("rows", 0) for i in w))
        polls.append(len(mine.get("http_api.get_status", ())))
        # blocking path: queue wait, then run_job's own pieces
        store = sum(dur(c) for c in children.get(r, ())
                    if spans[c][0].startswith("jobstore."))
        server_job = spans[r][2] - enq
        path = queue_wait[-1] + build[-1] + write[-1] + store
        share.append(path / server_job if server_job > 0 else 0.0)
    claim_calls = len(by_name.get("jobstore.claim", ()))
    claim_hits = sum(1 for i in by_name.get("jobstore.claim", ())
                     if spans[i][5].get("hit"))
    finished = len(by_name.get("core.run_job", ())) or 1

    # jobstore self time: what the store spends outside its backend,
    # i.e. waiting for its one lock plus its own Python work; summed
    # over each job's store calls (create, status reads, claim, state
    # writes), since most calls wait for nothing and a few wait long
    lock_wait = [
        sum(_self_time(spans, i, children, "broker.")
            for i in by_job.get(job, ()) if spans[i][0] in _STORE_CALLS)
        for job in latency_jobs
    ]
    runs = sorted(by_name.get("core.run_job", ()), key=lambda i: spans[i][1])

    def first(name: str) -> float:
        idx = by_name.get(name)
        return dur(idx[0]) if idx else 0.0

    figures = {
        "http_api.post_job_s": _p50(durs("http_api.post_job", wanted)),
        "http_api.get_status_s": _p50(durs("http_api.get_status", wanted)),
        "http_api.get_result_s": _p50(durs("http_api.get_result", wanted)),
        "http_api.status_polls_per_job": _p50(polls),
        "core.queue_wait_s": _p50(queue_wait),
        "core.run_job_s": _p50(run),
        "core.build_dataframe_s": _p50(build),
        "core.build_spark_jobs_per_job": _p50(build_jobs),
        "core.read_result_s": _p50(durs("core.read_result", wanted)),
        "core.blocking_path_share": _p50(share),
        "results.write_s": _p50(write),
        "results.spark_jobs_per_job": _p50(w_jobs),
        "results.spark_tasks_per_job": _p50(w_tasks),
        "results.files_per_job": _p50(w_files),
        "results.rows_per_job": _p50(w_rows),
        "jobstore.create_s": _p50(durs("jobstore.create", wanted)),
        "jobstore.get_s": _p50(durs("jobstore.get", wanted)),
        "jobstore.set_state_s": _p50(durs("jobstore.set_state", wanted)),
        "jobstore.lock_wait_s": _p50(lock_wait),
        "jobstore.claim_calls_per_job": claim_calls / finished,
        "session.get_spark_s": first("session.get_spark"),
        "config.build_core_s": first("config.build_core"),
        "tasks.load_tasks_s": first("tasks.load_tasks"),
        "core.first_job_s": dur(runs[0]) if runs else 0.0,
        "core.blocking_path_share_min": min(share) if share else 0.0,
        "traced_latency_jobs": float(len(run)),
    }
    if claim_calls:
        figures["jobstore.claim_s"] = _p50(durs("jobstore.claim"))
        figures["jobstore.claim_hit_ratio"] = claim_hits / claim_calls
    for name in ("broker.claim", "broker.get", "broker.mutate",
                 "broker.check_and_put"):
        if by_name.get(name):
            figures[f"{name}_s"] = _p50(durs(name))
    if by_name.get("jobstore.recover"):
        figures["jobstore.recover_s"] = first("jobstore.recover")
    if by_name.get("tasks.register_operators"):
        figures["tasks.register_operators_s"] = first("tasks.register_operators")
    for task in tasks:
        b = [dur(i) for i in by_name.get("core.build_dataframe", ())
             if spans[i][5].get("task") == task and spans[i][3] in wanted]
        w = [dur(i) for i in by_name.get("results.write", ())
             if spans[i][5].get("task") == task and spans[i][3] in wanted]
        if b:
            figures[f"core.build_dataframe_s.{task}"] = _p50(b)
            figures[f"core.build_spark_jobs_per_job.{task}"] = _p50([
                spans[i][5].get("spark_jobs", 0)
                for i in by_name["core.build_dataframe"]
                if spans[i][5].get("task") == task and spans[i][3] in wanted])
        if w:
            figures[f"results.write_s.{task}"] = _p50(w)
    return figures
