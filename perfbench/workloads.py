"""Workload definitions: task mixes, seeded job arguments, server
configuration and the seeded broker history.

Every workload runs the same server settings (cores, worker
concurrency, Spark settings); they differ only in the task mix, the
job store and the registered operators.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass

SQL_TASKS = ("get_profit_summary", "get_profit_entries_by_date", "top_spenders")
OPERATOR_TASKS = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "sessionize_events",
    "dedup_ngram_jaccard",
    "kmeans_clusters",
    "ann_cosine_topk",
)
EVENT_USERS = 1500  # user_id 0..1499 in events at sf0.1
EVENT_DAYS = 30  # ts spans 2024-01-01 .. 2024-01-30
HISTORY_JOBS = 20_000


@dataclass(frozen=True)
class Workload:
    name: str
    tasks: tuple[str, ...]
    broker: bool  # distributed mode over a file-SQLite store with history
    operators: bool  # registry operators served as tasks
    burst_rounds: int  # whole mix rounds per burst group


WORKLOADS = {
    w.name: w
    for w in (
        # tiny Spark work per job: the job layer's fixed costs (result
        # write, store, HTTP) make up the turnaround
        Workload("sql_point", SQL_TASKS, broker=False, operators=False,
                 burst_rounds=6),
        # sql_point's jobs, settings and arguments; only the broker
        # differs, so broker and job-store changes show here alone
        Workload("broker_history", SQL_TASKS, broker=True, operators=False,
                 burst_rounds=6),
        # Spark execution, build-time jobs and large writes dominate
        Workload("operator_mix", OPERATOR_TASKS, broker=False, operators=True,
                 burst_rounds=2),
    )
}


def job_args(task: str, rng: random.Random) -> list[str]:
    """Seeded arguments for one job of ``task`` (operators take none:
    they read the configured dataset)."""
    if task == "get_profit_summary":
        return [str(rng.randrange(EVENT_USERS))]
    if task == "get_profit_entries_by_date":
        start = dt.datetime(2024, 1, 1) + dt.timedelta(
            days=rng.randrange(EVENT_DAYS - 3), hours=rng.randrange(24)
        )
        end = start + dt.timedelta(days=rng.randint(1, 3))
        fmt = "%Y-%m-%d %H:%M:%S"
        return [str(rng.randrange(EVENT_USERS)), start.strftime(fmt),
                end.strftime(fmt)]
    if task == "top_spenders":
        return [str(rng.randint(5, 50))]
    return []


def mix_round(w: Workload, rng: random.Random) -> list[tuple[str, list[str]]]:
    """One round of the mix: every task once, in seeded order."""
    order = list(w.tasks)
    rng.shuffle(order)
    return [(t, job_args(t, rng)) for t in order]


def config_toml(w: Workload, *, data_dir: str, results_dir: str,
                task_dir: str, job_store: str, concurrency: int) -> str:
    lines = [
        'server = "127.0.0.1:0"',  # any free port; the server logs which
        f'sql_directory = "{task_dir}"',
        'queue = "bench"',
        f"worker_concurrency = {concurrency}",
        f"distributed = {'true' if w.broker else 'false'}",
        "",
        "[app]",
    ]
    if w.broker:
        lines.append(f'job_store = "{job_store}"')
    if w.operators:
        lines.append(f'operators_data_dir = "{data_dir}"')
    lines += [
        "",
        "[db.warehouse]",
        f'path = "{data_dir}"',
        "",
        "[results.default]",
        f'path = "{results_dir}"',
        'results_table = "results_%s"',
        "",
    ]
    return "\n".join(lines)


def build_history(path: str, w: Workload, seed: int) -> None:
    """Fill a file-SQLite job store with ``HISTORY_JOBS`` terminal jobs
    of the workload's tasks, through ``JobStore``'s public API, the way
    a long-running server accumulates them. Written to a temporary name
    and renamed, so a half-built file is never used."""
    from dungbeetle_spark.jobstore import FAILURE, SUCCESS, JobRecord, JobStore

    rng = random.Random(f"history-{seed}")
    tmp = f"{path}.building"
    for suffix in ("", "-wal", "-shm"):
        if os.path.exists(tmp + suffix):
            os.remove(tmp + suffix)
    store = JobStore(persist_path=tmp, recover="requeue")
    # each create is its own commit; without this every one of them
    # waits for the disk, and building took 4-9 s per seed
    store._backend._db.execute("PRAGMA synchronous=OFF")
    t0 = 1_700_000_000.0
    try:
        for i in range(HISTORY_JOBS):
            task = w.tasks[rng.randrange(len(w.tasks))]
            created = t0 + i * 4.0 + rng.random()
            failed = rng.random() < 0.02
            store.create(JobRecord(
                job_id=f"hist-{seed}-{i}",
                task=task,
                queue="bench",
                state=FAILURE if failed else SUCCESS,
                count=0 if failed else rng.randrange(1, 40),
                error="interrupted by engine restart" if failed else "",
                args=job_args(task, rng),
                ttl=0,
                attempts=1,
                created_at=created,
                finished_at=created + 0.2 + rng.random(),
                owner=f"history:{rng.randrange(1, 9)}",
            ))
    finally:
        store.close()
    # fold the write-ahead log into the main file so one file is copied
    import sqlite3

    con = sqlite3.connect(tmp)
    try:
        con.execute("PRAGMA wal_checkpoint(TRUNCATE)")
        con.execute("PRAGMA journal_mode=DELETE")
    finally:
        con.close()
    os.replace(tmp, path)
