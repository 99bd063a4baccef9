"""HTTP control plane — the reference's API surface on stdlib only.

Mirrors the 8 routes and JSON envelope of the reference server
(reference: cmd/init.go:130-141 route table, cmd/http.go:18-193
handlers, models/models.go:8-63 DTOs):

    GET    /                        → build string
    GET    /tasks[?sql=1]           → task names (full objects w/ ?sql=1)
    POST   /tasks/{task}/jobs       → enqueue one job
    GET    /jobs/{job_id}           → job status {job_id,state,count,error}
    DELETE /jobs/{job_id}[?purge=]  → cancel (+purge completed)
    GET    /jobs/queue/{queue}      → pending jobs on a queue
    POST   /groups                  → enqueue a job group
    GET    /groups/{group_id}       → aggregate group status
    DELETE /groups/{group_id}       → cancel a group

Envelope: ``{"status": "success", "data": ...}`` /
``{"status": "error", "message": ...}`` (cmd/http.go:172-193).

Two reference quirks are implemented as *documented*, not as coded
(SURVEY.md §2 quirks): Q2 — ``?sql=1`` returns full task objects and
the default returns names only (the reference inverts this vs its own
README); Q3 — an empty ``job_id`` auto-generates ``job_<uuid>`` (the
reference's regex accidentally rejects the empty string its own core
supports, http.go:14 vs core.go:341-352).

Built on ``http.server.ThreadingHTTPServer`` deliberately: the control
plane is tiny and low-traffic (status polls and enqueues — the heavy
lifting is Spark's), so zero framework dependencies beat a web stack.
"""

from __future__ import annotations

import json
import re
import threading
from dataclasses import asdict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from dungbeetle_spark import __version__
from dungbeetle_spark.core import Core, JobReq
from dungbeetle_spark.jobstore import SingleFlightError
from dungbeetle_spark.planmode import plan_only

# Job-ID validation (cmd/http.go:14); applied only to non-empty IDs
# per quirk Q3.
JOB_ID_RE = re.compile(r"(?i)^[a-z0-9\-_:]+$")


class APIError(Exception):
    def __init__(self, message: str, code: int = 400):
        super().__init__(message)
        self.code = code


def _jsonable(v):
    """Result cell → JSON-safe value (canonical types only: DECIMAL →
    string to preserve exactness, timestamps/dates → ISO text, binary
    → base64, arrays/structs recurse)."""
    import base64
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode()
    if isinstance(v, list):
        return [_jsonable(x) for x in v]
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    return v


def _job_req(payload: dict) -> JobReq:
    """JSON body → JobReq, validating the job_id charset."""
    job_id = payload.get("job_id", "") or ""
    if job_id and not JOB_ID_RE.match(job_id):
        raise APIError(
            "invalid characters in the `job_id`", 400
        )  # message text: cmd/http.go:99-101
    if job_id == "queue":
        # /jobs/queue/{name} is the pending-listing route (reference
        # parity); a job literally named 'queue' would shadow its own
        # /jobs/queue/result and /jobs/queue/compact URLs.
        raise APIError('`job_id` "queue" is reserved', 400)
    args = payload.get("args") or []
    if not isinstance(args, list):
        raise APIError("`args` should be a list", 400)
    return JobReq(
        job_id=job_id,
        args=[str(a) for a in args],  # reference args are []string
        db=payload.get("db", "") or "",
        # absent → None (server default); explicit 0 → keep forever
        ttl=None if payload.get("ttl") is None else int(payload["ttl"]),
        eta=payload.get("eta", "") or "",
        retries=int(payload.get("retries", 0) or 0),
        queue=payload.get("queue", "") or "",
    )


class _Handler(BaseHTTPRequestHandler):
    core: Core  # injected by make_server

    # -- plumbing -----------------------------------------------------
    def log_message(self, fmt: str, *args) -> None:  # silence stderr
        pass

    def _send(self, data, code: int = 200) -> None:
        body = json.dumps({"status": "success", "data": data}).encode()
        self._write(body, code)

    def _send_error(self, message: str, code: int) -> None:
        body = json.dumps({"status": "error", "message": message}).encode()
        self._write(body, code)

    def _write(self, body: bytes, code: int) -> None:
        self.send_response(code)
        self.send_header("Content-Type", "application/json; charset=utf-8")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _body(self) -> dict:
        n = int(self.headers.get("Content-Length", 0) or 0)
        raw = self.rfile.read(n) if n else b""
        if not raw:
            raise APIError("empty request body", 400)
        try:
            out = json.loads(raw)
        except json.JSONDecodeError as exc:
            raise APIError(f"invalid JSON body: {exc}", 400) from None
        if not isinstance(out, dict):
            raise APIError("request body must be a JSON object", 400)
        return out

    # -- routing ------------------------------------------------------
    def _route(self, method: str) -> None:
        url = urlparse(self.path)
        parts = [p for p in url.path.split("/") if p]
        q = {k: v[-1] for k, v in parse_qs(url.query).items()}
        try:
            data = self._dispatch(method, parts, q)
        except APIError as exc:
            self._send_error(str(exc), exc.code)
        except (KeyError, ValueError, SingleFlightError) as exc:
            self._send_error(str(exc), 400)
        except Exception as exc:  # noqa: BLE001
            self._send_error(f"internal error: {exc}", 500)
        else:
            self._send(data)

    def _dispatch(self, method: str, parts: list[str], q: dict):
        core = self.core
        if method == "GET" and not parts:
            return f"dungbeetle-spark {__version__}"
        if method == "GET" and parts == ["metrics"]:
            return core.metrics()  # engine extension: ops gauges
        if method == "GET" and parts == ["tasks"]:
            if q.get("sql"):  # full objects incl. SQL (quirk Q2, as documented)
                return {
                    name: {
                        "name": t.name,
                        "queue": t.queue,
                        "conc": t.conc,
                        "stmt": t.raw_stmt,
                        "dbs": t.dbs,
                        "result_backends": t.result_backends,
                    }
                    for name, t in core.tasks.items()
                }
            return sorted(core.tasks)
        if method == "POST" and len(parts) == 3 and parts[0] == "tasks" and parts[2] == "jobs":
            resp = core.new_job(parts[1], _job_req(self._body()))
            return asdict(resp)
        if method == "GET" and len(parts) == 3 and parts[0] == "tasks" and parts[2] == "explain":
            # Engine extension (no reference analog — it cannot see its
            # source DBs' plans): the task's Catalyst physical plan,
            # with placeholder args bound from ?args=a,b,c.
            from dungbeetle_spark.plans.inspect import formatted_plan

            args = [a for a in q.get("args", "").split(",") if a != ""]
            # Plan inspection must not run cluster work: under
            # plan_only() every build-time barrier is lazy, so only
            # the job-running categories planmode names submit jobs.
            with plan_only():
                _sess, df = core.build_dataframe(
                    parts[1], args, db=q.get("db", "")
                )
            return {"task": parts[1], "plan": formatted_plan(df)}
        if method == "GET" and len(parts) == 3 and parts[:2] == ["jobs", "queue"]:
            return core.pending_jobs(parts[2])
        if method == "GET" and len(parts) == 3 and parts[0] == "jobs" and parts[2] == "result":
            # Engine extension: the reference's users SELECT from
            # results_<job_id> in their own DB; with a parquet
            # warehouse the server must serve the rows itself.
            try:
                limit = max(0, min(int(q.get("limit", "100") or "100"), 10_000))
            except ValueError:
                raise APIError("`limit` must be an integer", 400) from None
            columns, rows = core.read_result_rows(parts[1], limit)
            return {
                "job_id": parts[1],
                "columns": columns,
                "rows": [
                    {k: _jsonable(v) for k, v in r.asDict(recursive=True).items()}
                    for r in rows
                ],
            }
        if method == "POST" and len(parts) == 3 and parts[0] == "jobs" and parts[2] == "compact":
            # Engine extension (no reference analog — its SQL results
            # live in external DBs): rewrite the job's result table to
            # ?files=N files. Returns the row count, like job status.
            try:
                files = int(q.get("files", "1") or "1")
            except ValueError:
                raise APIError("`files` must be an integer", 400) from None
            return {"job_id": parts[1], "count": core.compact_result(parts[1], files)}
        if method == "GET" and len(parts) == 2 and parts[0] == "jobs":
            return core.job_status(parts[1])
        if method == "DELETE" and len(parts) == 2 and parts[0] == "jobs":
            core.cancel_job(parts[1], purge=q.get("purge", "").lower() in ("1", "true"))
            return True
        if method == "POST" and parts == ["groups"]:
            payload = self._body()
            jobs = payload.get("jobs") or []
            if not jobs:
                raise APIError("`jobs` must be a non-empty list", 400)
            task_jobs = []
            for j in jobs:
                task = j.get("task", "")
                if not task:
                    raise APIError("every group job needs a `task`", 400)
                task_jobs.append((task, _job_req(j)))
            group_id, resps = core.new_job_group(
                payload.get("group_id", "") or "", task_jobs
            )
            return {"group_id": group_id, "jobs": [asdict(r) for r in resps]}
        if method == "GET" and len(parts) == 2 and parts[0] == "groups":
            return core.group_status(parts[1])
        if method == "DELETE" and len(parts) == 2 and parts[0] == "groups":
            core.cancel_group(parts[1], purge=q.get("purge", "").lower() in ("1", "true"))
            return True
        raise APIError("not found", 404)

    def do_GET(self) -> None:  # noqa: N802
        self._route("GET")

    def do_POST(self) -> None:  # noqa: N802
        self._route("POST")

    def do_DELETE(self) -> None:  # noqa: N802
        self._route("DELETE")


class Server:
    """Threaded HTTP server wrapper around one Core."""

    def __init__(self, core: Core, host: str = "127.0.0.1", port: int = 6060):
        handler = type("BoundHandler", (_Handler,), {"core": core})
        self.httpd = ThreadingHTTPServer((host, port), handler)
        self._thread: threading.Thread | None = None

    @property
    def address(self) -> str:
        host, port = self.httpd.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> None:
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._thread.start()

    def serve_forever(self) -> None:
        self.httpd.serve_forever()

    def stop(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)
