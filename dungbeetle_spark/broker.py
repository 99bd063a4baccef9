"""Pluggable persistence backends for the job store/broker.

``JobStore`` (jobstore.py) owns broker *policy* — the state machine,
single-flight semantics, restart recovery, lease rules. This module
owns broker *storage*: the small set of atomic primitives a backend
must provide for that policy to be correct across processes (and, with
a server-backed implementation, across machines).

The reference accepts only a Redis broker for multi-worker deployments
(cmd/init.go:200-229). Here one SQL implementation, ``DBAPIBroker``,
covers every SQL store: a SQLite file for multi-process-single-host
(``SqliteBroker`` is only its constructor for a path; SQLite-over-NFS
is NOT a safe substitute for multi-machine), the same file served over
TCP by ``netdbapi``, or a served Postgres. Because all of them use the
one ``db_jobs``/``db_groups`` schema, a ``job_store = path`` server and
workers reaching that file through a DBAPI factory share one backlog.
This seam is what makes a Redis backend a drop-in: implement
``BrokerBackend``, pass it as ``JobStore(backend=...)``, and inherit
the contract test class (tests/test_broker_contract.py
``BrokerContract``) to prove the atomicity obligations hold.

Obligations (enforced by the contract tests):

- ``check_and_put`` is atomic against concurrent callers: of N racing
  creates for one active job id, exactly one inserts.
- ``claim`` delivers each runnable job to exactly one caller, ever,
  across any number of backend instances on the same underlying store
  (modulo lease reclaim of stale owners, which is the documented
  at-least-once trade).
- ``mutate`` is a transactional read-modify-write: concurrent mutates
  of one row serialize, and a mutate of a deleted row returns None
  without resurrecting it.
- ``active`` returns only the PENDING/STARTED/RETRY rows, filtered
  store-side: restart recovery reads the live backlog, never the
  terminal history. Groups are read by id only (``get_group``).
- Threading: one backend instance is only ever called under its
  ``JobStore``'s lock — implementations need no internal locking for
  same-instance calls, but MUST be safe against *other instances* of
  themselves on the same store (other processes).

For a SQL server backend, ``claim``'s SQLite writer-lock transaction
maps to ``SELECT ... FOR UPDATE SKIP LOCKED``; for Redis, to a Lua
script or WATCH/MULTI. ``mutate`` takes a Python callable, which any
DB-API backend can run inside a row-locked transaction; a Redis
implementation would retry on WATCH conflict.
"""

from __future__ import annotations

import json
import sqlite3
from abc import ABC, abstractmethod
from collections.abc import Callable
from dataclasses import asdict
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # import cycle: jobstore imports this module
    from dungbeetle_spark.jobstore import JobRecord


def _record(data: str) -> "JobRecord":
    from dungbeetle_spark.jobstore import JobRecord

    return JobRecord(**json.loads(data))


class BrokerBackend(ABC):
    """Atomic storage primitives behind ``JobStore``. See module doc."""

    @abstractmethod
    def check_and_put(
        self, rec: "JobRecord", active_states: tuple[str, ...]
    ) -> "JobRecord | None":
        """Insert ``rec``, unless a row with the same job_id exists in
        one of ``active_states`` — then insert nothing and return that
        existing row (single-flight). Atomic across processes."""

    @abstractmethod
    def get(self, job_id: str) -> "JobRecord | None":
        """Current row, or None."""

    @abstractmethod
    def mutate(
        self, job_id: str, fn: Callable[["JobRecord"], None]
    ) -> "JobRecord | None":
        """Transactional read-modify-write: load the row, apply ``fn``
        (in-place mutation), persist, return the updated record. None
        (and no write) when the row does not exist."""

    @abstractmethod
    def claim(
        self, queues: list[str], owner: str, now: float, lease: float
    ) -> "JobRecord | None":
        """Atomically claim the oldest runnable job on ``queues``:
        stamp owner/STARTED/heartbeat inside one transaction so no two
        callers (in any process) ever claim the same job. Runnable =
        (PENDING or RETRY) unowned and past ETA and not cancelled; or,
        when ``lease > 0``, STARTED with a heartbeat staler than the
        lease (dead-owner reclaim)."""

    @abstractmethod
    def heartbeat(self, owner: str, now: float) -> None:
        """Refresh heartbeat_at on every STARTED row owned by
        ``owner``."""

    @abstractmethod
    def delete(self, job_id: str) -> None: ...

    @abstractmethod
    def active(self) -> list["JobRecord"]:
        """Rows in PENDING, STARTED or RETRY, materialized (restart
        recovery walks this while mutating — implementations must not
        return a live cursor). Filtered store-side: opening a store
        must not deserialize its terminal history."""

    @abstractmethod
    def pending(self, queue: str) -> list["JobRecord"]:
        """PENDING rows on ``queue``, oldest first — filtered
        store-side (metrics polls must not deserialize the full
        history)."""

    @abstractmethod
    def counts_by_state(self) -> dict[str, int]: ...

    @abstractmethod
    def expired(self, now: float) -> list["JobRecord"]:
        """Terminal rows with ttl > 0, a result_path, and
        finished_at + ttl <= now (TTL reaper input)."""

    # -- groups -------------------------------------------------------
    @abstractmethod
    def put_group(self, group_id: str, job_ids: list[str]) -> None: ...

    @abstractmethod
    def get_group(self, group_id: str) -> list[str] | None: ...

    @abstractmethod
    def delete_group(self, group_id: str) -> None: ...

    @abstractmethod
    def close(self) -> None: ...


class DBAPIBroker(BrokerBackend):
    """Generic DBAPI-2.0 backend: every SQL job store.

    Works over any DBAPI connection factory — ``sqlite3_dbapi_connect``
    for a single-host file (``SqliteBroker``), ``netdbapi.connect``
    for that file served over TCP, ``psycopg2.connect`` for a real
    served Postgres, where every machine in a worker fleet points at
    the same database. Hot fields live in real indexed columns (state,
    owner, queue, heartbeat) so claim/pending/expired run as plain SQL
    over any engine; the full record rides along as a JSON document
    that is rewritten on every row mutation (columns overlay the JSON
    on read, so the column-only fast paths — heartbeat — never go
    stale).

    Dialect differences are confined to two knobs:

    - ``paramstyle``: qmark (sqlite) vs format/%s (psycopg2) —
      auto-derived from the dialect.
    - claim/mutate locking: ``BEGIN IMMEDIATE`` writer lock on
      sqlite; ``SELECT ... FOR UPDATE [SKIP LOCKED]`` row locks on
      postgresql. SKIP LOCKED lets N claiming machines scan past each
      other instead of queueing on the head row — the server-grade
      delivery path the reference gets from Redis.

    sqlite factories must pass ``isolation_level=None`` (autocommit)
    so the explicit BEGIN IMMEDIATE owns its transaction. On sqlite,
    opening a file the earlier JSON-blob store wrote upgrades it once
    (``_upgrade_blob_tables``). Validated
    end-to-end by the ``BrokerContract`` suite
    (tests/test_broker_contract.py) over the sqlite3 driver; the
    postgresql dialect changes only the SQL strings noted above.
    """

    _DIALECTS = ("sqlite", "postgresql")

    def __init__(self, connect, dialect: str = "sqlite") -> None:
        if dialect not in self._DIALECTS:
            raise ValueError(f"unknown dialect: {dialect!r}")
        self._dialect = dialect
        self._pg = dialect == "postgresql"
        self._db = connect()
        cur = self._db.cursor()
        real = "DOUBLE PRECISION" if self._pg else "REAL"
        cur.execute(
            f"""
            CREATE TABLE IF NOT EXISTS db_jobs (
                job_id TEXT PRIMARY KEY,
                queue TEXT NOT NULL,
                state TEXT NOT NULL,
                owner TEXT NOT NULL DEFAULT '',
                cancelled INTEGER NOT NULL DEFAULT 0,
                eta {real},
                created_at {real} NOT NULL,
                heartbeat_at {real},
                reaps_at {real},
                data TEXT NOT NULL
            )
            """
        )
        cur.execute(
            "CREATE INDEX IF NOT EXISTS db_jobs_claim "
            "ON db_jobs (queue, state, created_at)"
        )
        # heartbeat's seek: only running rows, so it stays small
        cur.execute(
            "CREATE INDEX IF NOT EXISTS db_jobs_running "
            "ON db_jobs (owner) WHERE state = 'STARTED'"
        )
        # the TTL reaper's seek: only rows with a result to reap
        cur.execute(
            "CREATE INDEX IF NOT EXISTS db_jobs_reaps "
            "ON db_jobs (reaps_at) WHERE reaps_at IS NOT NULL"
        )
        cur.execute(
            """
            CREATE TABLE IF NOT EXISTS db_groups (
                group_id TEXT PRIMARY KEY, job_ids TEXT NOT NULL
            )
            """
        )
        self._db.commit()
        if not self._pg:
            self._upgrade_blob_tables()

    def _upgrade_blob_tables(self) -> None:
        """Move a file written by the earlier JSON-blob store (tables
        ``jobs(job_id, data)`` and ``groups(group_id, job_ids)``) into
        ``db_jobs``/``db_groups``, once. The old tables are re-checked
        under the writer lock, so processes opening one old file at
        the same time upgrade it exactly once."""
        cur = self._db.cursor()

        def old_tables() -> set[str]:
            cur.execute(
                "SELECT name FROM sqlite_master "
                "WHERE type = 'table' AND name IN ('jobs', 'groups')"
            )
            return {name for (name,) in cur.fetchall()}

        if not old_tables():
            self._db.commit()
            return
        try:
            cur.execute("BEGIN IMMEDIATE")
            old = old_tables()
            if "jobs" in old:
                # reaps_at: the same rule as _reaps_at
                cur.execute(
                    f"""
                    INSERT OR IGNORE INTO db_jobs ({self._COLS})
                    SELECT job_id, queue, state, owner, cancelled, eta,
                           created_at, heartbeat_at,
                           CASE WHEN state IN ('SUCCESS', 'FAILURE')
                                 AND ttl > 0 AND result_path <> ''
                                 AND finished_at IS NOT NULL
                                THEN finished_at + ttl END,
                           data
                    FROM (SELECT job_id, data,
                            json_extract(data, '$.queue') AS queue,
                            json_extract(data, '$.state') AS state,
                            json_extract(data, '$.owner') AS owner,
                            json_extract(data, '$.cancelled') AS cancelled,
                            json_extract(data, '$.eta') AS eta,
                            json_extract(data, '$.created_at') AS created_at,
                            json_extract(data, '$.heartbeat_at') AS heartbeat_at,
                            json_extract(data, '$.ttl') AS ttl,
                            json_extract(data, '$.result_path') AS result_path,
                            json_extract(data, '$.finished_at') AS finished_at
                          FROM jobs)
                    """
                )
                cur.execute("DROP TABLE jobs")
            if "groups" in old:
                cur.execute(
                    "INSERT OR IGNORE INTO db_groups (group_id, job_ids) "
                    "SELECT group_id, job_ids FROM groups"
                )
                cur.execute("DROP TABLE groups")
            self._db.commit()
        except BaseException:
            self._db.rollback()
            raise

    # -- helpers ------------------------------------------------------
    def _q(self, sql: str) -> str:
        return sql.replace("?", "%s") if self._pg else sql

    def _begin(self, cur) -> None:
        if not self._pg:
            cur.execute("BEGIN IMMEDIATE")
        # postgresql: the DBAPI connection opens a transaction
        # implicitly at first statement; row locks come from FOR UPDATE

    @staticmethod
    def _reaps_at(rec: "JobRecord") -> float | None:
        if (
            rec.state in ("SUCCESS", "FAILURE")
            and rec.ttl > 0
            and rec.result_path
            and rec.finished_at is not None
        ):
            return rec.finished_at + rec.ttl
        return None

    def _upsert(self, cur, rec: "JobRecord") -> None:
        # INSERT .. ON CONFLICT DO UPDATE: identical syntax on
        # sqlite >= 3.24 and postgresql >= 9.5
        cur.execute(
            self._q(
                """
                INSERT INTO db_jobs (job_id, queue, state, owner, cancelled,
                                     eta, created_at, heartbeat_at, reaps_at, data)
                VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?)
                ON CONFLICT (job_id) DO UPDATE SET
                    queue = excluded.queue, state = excluded.state,
                    owner = excluded.owner, cancelled = excluded.cancelled,
                    eta = excluded.eta, created_at = excluded.created_at,
                    heartbeat_at = excluded.heartbeat_at,
                    reaps_at = excluded.reaps_at, data = excluded.data
                """
            ),
            (
                rec.job_id, rec.queue, rec.state, rec.owner,
                1 if rec.cancelled else 0, rec.eta, rec.created_at,
                rec.heartbeat_at, self._reaps_at(rec),
                json.dumps(asdict(rec)),
            ),
        )

    @staticmethod
    def _overlay(row) -> "JobRecord":
        """JSON document + authoritative hot columns → record."""
        (job_id, queue, state, owner, cancelled, eta, created_at,
         heartbeat_at, _reaps, data) = row
        rec = _record(data)
        rec.state = state
        rec.owner = owner
        rec.cancelled = bool(cancelled)
        rec.heartbeat_at = heartbeat_at
        return rec

    _COLS = ("job_id, queue, state, owner, cancelled, eta, created_at, "
             "heartbeat_at, reaps_at, data")

    def _select_row(self, cur, job_id: str):
        """The row inside a write transaction (row-locked on pg)."""
        sql = f"SELECT {self._COLS} FROM db_jobs WHERE job_id = ?"
        if self._pg:
            sql += " FOR UPDATE"
        cur.execute(self._q(sql), (job_id,))
        return cur.fetchone()

    def _read(self, sql: str, args: tuple = ()) -> list:
        """Rows of one plain read (on sqlite, closes the implicit read
        transaction)."""
        cur = self._db.cursor()
        cur.execute(self._q(sql), args)
        rows = cur.fetchall()
        if not self._pg:
            self._db.commit()
        return rows

    def _write(self, sql: str, args: tuple) -> None:
        """One statement in a transaction of its own."""
        cur = self._db.cursor()
        try:
            cur.execute(self._q(sql), args)
            self._db.commit()
        except BaseException:
            self._db.rollback()
            raise

    # -- BrokerBackend ------------------------------------------------
    def check_and_put(
        self, rec: "JobRecord", active_states: tuple[str, ...]
    ) -> "JobRecord | None":
        cur = self._db.cursor()
        try:
            self._begin(cur)
            row = self._select_row(cur, rec.job_id)
            if row is not None and row[2] in active_states:
                self._db.commit()
                return self._overlay(row)
            self._upsert(cur, rec)
            self._db.commit()
        except BaseException:
            self._db.rollback()
            raise
        return None

    def get(self, job_id: str) -> "JobRecord | None":
        rows = self._read(
            f"SELECT {self._COLS} FROM db_jobs WHERE job_id = ?", (job_id,)
        )
        return self._overlay(rows[0]) if rows else None

    def mutate(
        self, job_id: str, fn: Callable[["JobRecord"], None]
    ) -> "JobRecord | None":
        cur = self._db.cursor()
        try:
            self._begin(cur)
            row = self._select_row(cur, job_id)
            rec = None
            if row is not None:
                rec = self._overlay(row)
                fn(rec)
                self._upsert(cur, rec)
            self._db.commit()
        except BaseException:
            self._db.rollback()
            raise
        return rec

    def claim(
        self, queues: list[str], owner: str, now: float, lease: float
    ) -> "JobRecord | None":
        marks = ",".join("?" for _ in queues)
        # The plain state list lets the index seek (queue, state): the
        # OR below alone would leave SQLite reading every terminal row
        # of the queue.
        states = "'PENDING', 'RETRY'"
        lease_clause = ""
        lease_args: tuple[float, ...] = ()
        if lease > 0:
            states += ", 'STARTED'"
            lease_clause = (
                "OR (state = 'STARTED' AND owner <> '' "
                "    AND COALESCE(heartbeat_at, 0) <= ? - ?)"
            )
            lease_args = (now, lease)
        select_sql = f"""
            SELECT {self._COLS} FROM db_jobs
            WHERE queue IN ({marks})
              AND state IN ({states})
              AND cancelled = 0
              AND (eta IS NULL OR eta <= ?)
              AND ((state IN ('PENDING', 'RETRY') AND owner = '')
                   {lease_clause})
            ORDER BY created_at
            LIMIT 1
            """
        args = (*queues, now, *lease_args)
        cur = self._db.cursor()
        # Idle fast path: a plain read (WAL: no writer lock) first.
        # Claim pools poll continuously across every process; an empty
        # backlog must not serialize them on the writer/row lock. The
        # candidate is re-checked inside the transaction, so the
        # handoff stays exact.
        cur.execute(self._q(select_sql), args)
        if cur.fetchone() is None:
            self._db.commit()
            return None
        locked_sql = select_sql + (" FOR UPDATE SKIP LOCKED" if self._pg else "")
        try:
            self._begin(cur)
            cur.execute(self._q(locked_sql), args)
            row = cur.fetchone()
            if row is None:  # lost the race to another claimer
                self._db.commit()
                return None
            rec = self._overlay(row)
            rec.owner = owner
            rec.state = "STARTED"
            rec.heartbeat_at = now
            self._upsert(cur, rec)
            self._db.commit()
        except BaseException:
            self._db.rollback()
            raise
        return rec

    def heartbeat(self, owner: str, now: float) -> None:
        self._write(
            "UPDATE db_jobs SET heartbeat_at = ? "
            "WHERE owner = ? AND state = 'STARTED'",
            (now, owner),
        )

    def delete(self, job_id: str) -> None:
        self._write("DELETE FROM db_jobs WHERE job_id = ?", (job_id,))

    def active(self) -> list["JobRecord"]:
        return [
            self._overlay(r)
            for r in self._read(
                f"SELECT {self._COLS} FROM db_jobs "
                "WHERE state IN ('PENDING', 'STARTED', 'RETRY')"
            )
        ]

    def pending(self, queue: str) -> list["JobRecord"]:
        return [
            self._overlay(r)
            for r in self._read(
                f"SELECT {self._COLS} FROM db_jobs "
                "WHERE queue = ? AND state = 'PENDING' ORDER BY created_at",
                (queue,),
            )
        ]

    def counts_by_state(self) -> dict[str, int]:
        return {
            state: int(n)
            for state, n in self._read(
                "SELECT state, COUNT(*) FROM db_jobs GROUP BY state"
            )
        }

    def expired(self, now: float) -> list["JobRecord"]:
        return [
            self._overlay(r)
            for r in self._read(
                f"SELECT {self._COLS} FROM db_jobs "
                "WHERE reaps_at IS NOT NULL AND reaps_at <= ?",
                (now,),
            )
        ]

    # -- groups -------------------------------------------------------
    def put_group(self, group_id: str, job_ids: list[str]) -> None:
        self._write(
            """
            INSERT INTO db_groups (group_id, job_ids) VALUES (?, ?)
            ON CONFLICT (group_id) DO UPDATE SET job_ids = excluded.job_ids
            """,
            (group_id, json.dumps(list(job_ids))),
        )

    def get_group(self, group_id: str) -> list[str] | None:
        rows = self._read(
            "SELECT job_ids FROM db_groups WHERE group_id = ?", (group_id,)
        )
        return list(json.loads(rows[0][0])) if rows else None

    def delete_group(self, group_id: str) -> None:
        self._write("DELETE FROM db_groups WHERE group_id = ?", (group_id,))

    def close(self) -> None:
        self._db.close()


def sqlite3_dbapi_connect(database: str):
    """Config-addressable sqlite3 connection factory for
    :class:`DBAPIBroker` (``job_store_dbapi =
    "dungbeetle_spark.broker:sqlite3_dbapi_connect"``, the same store
    as ``job_store = path``): autocommit so BEGIN IMMEDIATE owns its
    transaction, cross-thread handles for the claim pool, WAL + busy
    timeout for multi-process writers. A real server deployment points
    the same seam at its driver instead (``psycopg2:connect`` with
    ``dialect = "postgresql"``)."""
    con = sqlite3.connect(
        database, check_same_thread=False, isolation_level=None
    )
    con.execute("PRAGMA journal_mode=WAL")
    con.execute("PRAGMA busy_timeout=10000")
    return con


class SqliteBroker(DBAPIBroker):
    """The file-SQLite store (``job_store = path``): single-host,
    multi-process. Only a constructor — the storage is DBAPIBroker's."""

    def __init__(self, path: str) -> None:
        super().__init__(lambda: sqlite3_dbapi_connect(path))
