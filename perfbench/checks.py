"""Correctness checks made apart from the server.

Every result table ``results_<job_id>`` is read back with DuckDB,
straight from the parquet files the server wrote, and checked against
a DuckDB computation over the same source tables:

- SQL jobs are recomputed with the same arguments;
- operator jobs are compared with the registry's oracle SQL;
- on every job, the status ``count`` equals the table's row count,
  every column has one of the canonical result types, and the rows
  ``GET /jobs/{id}/result`` returned are rows of the table.

Numbers are compared with a relative tolerance: results are cast to
``DECIMAL(38,18)`` and sums of doubles depend on summation order.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import re
from collections import Counter

import duckdb

REL_TOL = 1e-9
ABS_TOL = 1e-9
_CANONICAL = re.compile(
    r"^(BIGINT|DECIMAL\(\d+,\d+\)|TIMESTAMP|TIMESTAMP WITH TIME ZONE|DATE|"
    r"BOOLEAN|VARCHAR)(\[\])*$"
)


class CheckError(Exception):
    pass


def connect(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def read_table(con, table_dir: str) -> tuple[list[str], list[str], list[tuple]]:
    """(column names, DuckDB type names, rows) of one result table."""
    rel = con.sql(f"SELECT * FROM read_parquet('{table_dir}/*.parquet')")
    return [c.lower() for c in rel.columns], [str(t) for t in rel.types], rel.fetchall()


def _cell(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def _sort_key(row: tuple) -> tuple:
    exact = tuple(repr(v) for v in row if not isinstance(v, float))
    approx = tuple(float(f"{v:.6g}") for v in row if isinstance(v, float))
    return exact, approx


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def compare_rows(cols: list[str], rows: list[tuple],
                 exp_cols: list[str], exp_rows: list[tuple]) -> None:
    """Order-insensitive equality of two row sets, with the numeric
    tolerance; raises CheckError on the first difference."""
    if sorted(cols) != sorted(exp_cols):
        raise CheckError(f"columns differ: {cols} vs {exp_cols}")
    if len(rows) != len(exp_rows):
        raise CheckError(f"row count differs: {len(rows)} vs {len(exp_rows)}")
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    exp_pos = {c: i for i, c in enumerate(exp_cols)}
    exp_order = [exp_pos[cols[i]] for i in order]
    got = sorted((tuple(_cell(r[i]) for i in order) for r in rows), key=_sort_key)
    want = sorted((tuple(_cell(r[i]) for i in exp_order) for r in exp_rows),
                  key=_sort_key)
    for a, b in zip(got, want):
        if not _same(a, b):
            raise CheckError(f"row differs: {a} vs expected {b}")


def check_types(cols: list[str], types: list[str]) -> None:
    bad = [f"{c} {t}" for c, t in zip(cols, types) if not _CANONICAL.match(t)]
    if bad:
        raise CheckError(f"non-canonical result columns: {bad}")


def _from_json(v, typ: str):
    """A cell of ``GET /jobs/{id}/result`` back in DuckDB's Python type."""
    if v is None:
        return None
    if typ.startswith("DECIMAL"):
        return decimal.Decimal(v)
    if typ.startswith("TIMESTAMP"):
        return dt.datetime.fromisoformat(v)
    if typ == "DATE":
        return dt.date.fromisoformat(v)
    return v


def _hashable(v):
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, list):
        return tuple(_hashable(x) for x in v)
    return v


def check_fetched(cols: list[str], types: list[str], rows: list[tuple],
                  fetched: dict) -> None:
    """Every row the server returned is a row of the table."""
    if [c.lower() for c in fetched["columns"]] != cols:
        raise CheckError(f"fetched columns {fetched['columns']} vs table {cols}")
    if len(fetched["rows"]) != min(len(rows), fetched["limit"]):
        raise CheckError(
            f"fetched {len(fetched['rows'])} rows of {len(rows)} "
            f"with limit {fetched['limit']}"
        )
    table = Counter(tuple(_hashable(v) for v in r) for r in rows)
    got = Counter(
        tuple(_hashable(_from_json(r[c], t)) for c, t in zip(fetched["columns"], types))
        for r in fetched["rows"]
    )
    extra = got - table
    if extra:
        raise CheckError(f"fetched rows not in the table: {list(extra)[:1]}")


# -- expected results ----------------------------------------------------

def expected_sql(con, task: str, args: list[str]):
    """DuckDB recomputation of a SQL task with the job's arguments:
    (columns, rows), or None for tasks checked by property instead."""
    if task == "get_profit_summary":
        rel = con.execute(
            "SELECT SUM(value) AS total, CAST(ts AS DATE) AS entry_date "
            "FROM events WHERE user_id = ? GROUP BY CAST(ts AS DATE)",
            [int(args[0])],
        )
    elif task == "get_profit_entries_by_date":
        rel = con.execute(
            "SELECT * FROM events WHERE user_id = ? "
            "AND ts > CAST(? AS TIMESTAMP) AND ts < CAST(? AS TIMESTAMP)",
            [int(args[0]), args[1], args[2]],
        )
    else:
        return None
    return [d[0].lower() for d in rel.description], rel.fetchall()


def check_top_spenders(con, args: list[str], cols: list[str], rows: list[tuple]) -> None:
    """``ORDER BY spend DESC LIMIT n``: ties at the cut may pick either
    user, so check the defining properties instead of one row set:
    n rows (or every purchaser), each a user's true spend, and no user
    left out who spent more than the smallest spend kept."""
    limit = int(args[0])
    spend = {uid: float(s) for uid, s in con.execute(
        "SELECT user_id, SUM(value) FROM events "
        "WHERE event_type = 'purchase' GROUP BY user_id"
    ).fetchall()}
    if sorted(cols) != ["spend", "user_id"]:
        raise CheckError(f"columns differ: {cols}")
    ui, si = cols.index("user_id"), cols.index("spend")
    if len(rows) != min(limit, len(spend)):
        raise CheckError(f"{len(rows)} rows for limit {limit}")
    kept = {}
    for r in rows:
        uid, got = r[ui], float(r[si])
        if uid not in spend or not _same(got, spend[uid]):
            raise CheckError(f"user {uid}: spend {got} vs {spend.get(uid)}")
        kept[uid] = got
    floor = min(kept.values(), default=math.inf)
    for uid, s in spend.items():
        if uid not in kept and s > floor and not _same(s, floor):
            raise CheckError(f"user {uid} spent {s} > kept minimum {floor}")


def check_job(con, job: dict, table_dir: str, expected) -> None:
    """All checks for one successful job. ``expected`` is the oracle's
    (columns, rows) for operator jobs and None for SQL jobs."""
    cols, types, rows = read_table(con, table_dir)
    if job["count"] != len(rows):
        raise CheckError(f"status count {job['count']} vs {len(rows)} rows")
    check_types(cols, types)
    if job.get("fetched") is not None:
        check_fetched(cols, types, rows, job["fetched"])
    if expected is None:
        if job["task"] == "top_spenders":
            check_top_spenders(con, job["args"], cols, rows)
            return
        expected = expected_sql(con, job["task"], job["args"])
    compare_rows(cols, rows, *expected)


def check_all(jobs: list[dict], results_dir: str, data_dir: str,
              tables: list[str], oracles: dict[str, str]) -> list[str]:
    """Check every successful job; return one message per failed check."""
    con = connect(data_dir, tables)
    expected = {}
    for name, sql in oracles.items():
        rel = con.sql(sql)
        expected[name] = ([c.lower() for c in rel.columns], rel.fetchall())
    problems = []
    for job in jobs:
        if job["state"] != "SUCCESS":
            continue
        try:
            check_job(con, job, f"{results_dir}/results_{job['job_id']}",
                      expected.get(job["task"]))
        except CheckError as exc:
            problems.append(f"{job['job_id']} ({job['task']} {job['args']}): {exc}")
    con.close()
    return problems
