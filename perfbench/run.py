"""Job-path benchmark for the dungbeetle-spark server.

Usage (from the repository root):

    python3 perfbench/run.py --workload sql_point --seed 1 --seconds 28 --trace 0

One run starts the real server as a subprocess (the same path as
``python -m dungbeetle_spark``), drives it over HTTP with
``dungbeetle_spark.client.Client`` from this one process, checks every
job's output with DuckDB, stops the server and prints one JSON object
as its last line. ``--trace 1`` wraps the server's layer functions
(perfbench/tracing.py) and prints per-layer figures instead of the
end-to-end ones. See perfbench/README.md for the workloads, metrics
and measured spreads.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import time
from statistics import median

from workloads import WORKLOADS, Workload, build_history, config_toml, mix_round

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = "/root/testdata/sf0.1"
STATUS_POLL_S = 0.02  # latency block: pause between a status reply and the next poll
GROUP_POLL_S = 0.1  # burst block: pause between group status polls
FETCH_LIMIT = 100
THINK_MAX_S = 0.2  # latency block: seeded pause before each post, uniform
# the server's cores and worker concurrency: half of a 4-CPU host, so
# that the load process, the server's Python threads and the JVM's own
# threads do not compete with Spark's tasks for the CPUs
MAX_CORES = 2
WARMUP_S = 10.0  # the same alternating blocks as measuring, not measured
LATENCY_BLOCK_S = 5.0  # closed-loop block between two burst groups
JOB_TIMEOUT_S = 120.0
SETUP_TIMEOUT_S = 240.0
TERMINAL = ("SUCCESS", "FAILURE")

# The metrics of the result line, as BENCHMARK.json lists them, with
# their units. The report line before it carries every figure, also
# those that exist only on some workloads (broker claims, per-task
# spans), that need a larger sample (p90) or that vary too much from run
# to run to gate on (peak RSS).
END_TO_END = {
    "setup_s": "s",
    "job_latency_p50_s": "s",
    "result_fetch_p50_s": "s",
    "jobs_per_s": "1/s",
}
PER_LAYER = {
    "http_api.post_job_s": "s",
    "http_api.get_status_s": "s",
    "http_api.get_result_s": "s",
    "http_api.status_polls_per_job": "count",
    "core.queue_wait_s": "s",
    "core.run_job_s": "s",
    "core.build_dataframe_s": "s",
    "core.read_result_s": "s",
    "core.blocking_path_share": "ratio",
    "results.write_s": "s",
    "results.spark_jobs_per_job": "count",
    "results.spark_tasks_per_job": "count",
    "results.files_per_job": "count",
    "jobstore.create_s": "s",
    "jobstore.get_s": "s",
    "jobstore.set_state_s": "s",
    "jobstore.lock_wait_s": "s",
    "jobstore.claim_calls_per_job": "count",
    "session.get_spark_s": "s",
    "config.build_core_s": "s",
    "tasks.load_tasks_s": "s",
    "core.first_job_s": "s",
}


class BenchError(Exception):
    pass


def percentile(values: list[float], q: float) -> float | None:
    """The ``q``-th percentile (nearest rank), or None when fewer than
    ten samples lie beyond it: a tail read from fewer points is noise.
    """
    n = len(values)
    rank = math.ceil(q / 100.0 * n)
    if n == 0 or n - rank < 10:
        return None
    return sorted(values)[rank - 1]


# -- server process ------------------------------------------------------

def _group_pids(pgid: int) -> list[int]:
    """Live processes of one process group, read from /proc."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def _cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the machine so far, from /proc/stat:
    time a hypervisor gave to other guests shows as stolen."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return sum(ticks), ticks[7]


_LISTENING = re.compile(rb"dungbeetle-spark listening on (http://\S+)")


class ServerProcess:
    """The server in its own process group, so that its JVM and Spark's
    Python workers are found, measured and stopped with it."""

    def __init__(self, root: str, work: str, config: str, spans: str | None,
                 cores: int) -> None:
        self.log_path = os.path.join(work, "server.log")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = {k: v for k, v in os.environ.items()
               if not k.startswith(("DUNGBEETLE_", "SPARK_GRAFT_", "PYSPARK_"))}
        env.update(
            # Spark's Python workers import operator code from the repo
            PYTHONPATH=root,
            PYSPARK_PYTHON=sys.executable,
            SPARK_GRAFT_CPUS=str(cores),
            SPARK_GRAFT_DRIVER_MEM="2g",
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            TMPDIR=tmp,
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
            TZ="UTC",
        )
        cmd = [sys.executable, os.path.join(HERE, "serve.py")]
        if spans:
            cmd += ["--spans", spans]
        cmd += ["--", "--config", config]
        self._log = open(self.log_path, "wb")
        self.started = time.perf_counter()
        self.proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdout=self._log, stderr=self._log,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )

    def peak_rss_mb(self) -> dict[str, float]:
        """Peak resident set (VmHWM) of each process of the tree, in MB,
        keyed by command name: the Python driver, the JVM and Spark's
        Python workers."""
        peaks: dict[str, float] = {}
        for pid in _group_pids(self.proc.pid):
            try:
                with open(f"/proc/{pid}/status") as f:
                    status = dict(line.split(":", 1) for line in f if ":" in line)
            except OSError:
                continue
            key = f"{status['Name'].strip()}:{pid}"
            peaks[key] = int(status.get("VmHWM", "0 kB").split()[0]) / 1024.0
        return peaks

    def alive(self) -> bool:
        return self.proc.poll() is None

    def wait_listening(self, timeout: float) -> str:
        """The server's URL, once it has bound its HTTP port. The port is
        picked by the kernel when the server binds (port 0) and read from
        the line the server logs: a port chosen here beforehand could be
        taken by one of Spark's own listeners during Spark's start."""
        deadline = time.monotonic() + timeout
        while True:
            with open(self.log_path, "rb") as f:
                m = _LISTENING.search(f.read())
            if m:
                return m.group(1).decode()
            if not self.alive() or time.monotonic() > deadline:
                raise BenchError("server did not start:\n" + self.log_tail())
            time.sleep(0.05)

    def log_tail(self, n: int = 30) -> str:
        try:
            with open(self.log_path, "rb") as f:
                return b"\n".join(f.read().splitlines()[-n:]).decode(errors="replace")
        except OSError:
            return ""

    def stop(self) -> None:
        """Stop through the server's own shutdown path (SIGINT), then make
        sure every process of the group has ended."""
        pgid = self.proc.pid
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGINT)
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                pass
        deadline = time.monotonic() + 20
        while _group_pids(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if _group_pids(pgid):
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.proc.wait()
        while _group_pids(pgid):
            time.sleep(0.05)
        self._log.close()


# -- load generation -----------------------------------------------------

class Load:
    """One client process posting jobs and keeping what the checks need."""

    def __init__(self, client, server: ServerProcess, seed: int) -> None:
        self.client = client
        self.server = server
        self.seed = seed
        self.think = random.Random(f"think-{seed}")
        self.jobs: list[dict] = []

    def new_id(self, phase: str) -> str:
        return f"s{self.seed}-{phase}-{len(self.jobs)}"

    def _record(self, job_id: str, task: str, args: list[str], phase: str) -> dict:
        job = {"job_id": job_id, "task": task, "args": args, "phase": phase,
               "state": "PENDING", "count": 0, "fetched": None}
        self.jobs.append(job)
        return job

    def _ensure_alive(self) -> None:
        if not self.server.alive():
            raise BenchError("server exited:\n" + self.server.log_tail())

    def wait_job(self, job: dict, poll: float, timeout: float = JOB_TIMEOUT_S) -> None:
        deadline = time.monotonic() + timeout
        while True:
            st = self.client.get_job_status(job["job_id"])
            if st["state"] in TERMINAL:
                job["state"], job["count"] = st["state"], st["count"]
                job["error"] = st.get("error", "")
                return
            if time.monotonic() > deadline:
                self._ensure_alive()
                raise BenchError(f"job {job['job_id']} still {st['state']}")
            time.sleep(poll)

    def setup(self, w: Workload, rng: random.Random) -> None:
        """Every task of the mix once, posted together."""
        jobs = []
        for task, args in mix_round(w, rng):
            job = self._record(self.new_id("setup"), task, args, "setup")
            self.client.post_job(task, job_id=job["job_id"], args=args)
            jobs.append(job)
        for job in jobs:
            self.wait_job(job, STATUS_POLL_S, SETUP_TIMEOUT_S)

    def latency_phase(self, w: Workload, rng: random.Random, until: float,
                      phase: str = "latency"):
        """Closed loop, one client: post, poll until terminal, fetch the
        result; whole mix rounds until ``until``."""
        turnaround, fetch = [], []
        while True:
            for task, args in mix_round(w, rng):
                # a seeded pause of up to one broker poll period, so that
                # posts do not fall into step with the server's claim loop
                time.sleep(self.think.uniform(0.0, THINK_MAX_S))
                job = self._record(self.new_id(phase), task, args, phase)
                t0 = time.perf_counter()
                self.client.post_job(task, job_id=job["job_id"], args=args)
                self.wait_job(job, STATUS_POLL_S)
                t1 = time.perf_counter()
                if job["state"] != "SUCCESS":
                    continue
                turnaround.append(t1 - t0)
                t2 = time.perf_counter()
                res = self.client.get_job_result(job["job_id"], limit=FETCH_LIMIT)
                fetch.append(time.perf_counter() - t2)
                job["fetched"] = {**res, "limit": FETCH_LIMIT}
            if time.perf_counter() >= until:
                return turnaround, fetch

    def burst_phase(self, w: Workload, rng: random.Random, until: float,
                    phase: str = "burst") -> list[float]:
        """Groups of ``burst_rounds`` whole mix rounds, one at a time:
        jobs per second from the POST until the group reads SUCCESS."""
        rates = []
        while True:
            gid = self.new_id(f"{phase}-group")
            members = []
            for _ in range(w.burst_rounds):
                for task, args in mix_round(w, rng):
                    members.append(self._record(self.new_id(phase), task, args, phase))
            body = [{"task": j["task"], "job_id": j["job_id"], "args": j["args"]}
                    for j in members]
            t0 = time.perf_counter()
            self.client.post_job_group(body, group_id=gid)
            deadline = time.monotonic() + JOB_TIMEOUT_S
            while True:
                st = self.client.get_group_status(gid)
                if st["state"] == "SUCCESS":
                    break
                if st["state"] == "FAILURE" or time.monotonic() > deadline:
                    for j in members:
                        self.wait_job(j, GROUP_POLL_S)
                    break
                time.sleep(GROUP_POLL_S)
            t1 = time.perf_counter()
            # the group's state and its member list are read one after
            # the other, so a member can still read STARTED in a group
            # that reads SUCCESS: ask such members again
            by_id = {j["job_id"]: j for j in st["jobs"]}
            for j in members:
                got = by_id.get(j["job_id"], {})
                if j["state"] in TERMINAL:
                    continue
                if got.get("state") in TERMINAL:
                    j["state"], j["count"] = got["state"], got["count"]
                    j["error"] = got.get("error", "")
                else:
                    self.wait_job(j, GROUP_POLL_S)
            if all(j["state"] == "SUCCESS" for j in members):
                rates.append(len(members) / (t1 - t0))
            if time.perf_counter() >= until:
                return rates

    def alternate(self, w: Workload, rng: random.Random, seconds: float,
                  prefix: str):
        """Latency blocks and burst groups, one after the other, for
        ``seconds``: a slowdown of the host that passes within the run
        touches a part of each phase's samples, which their medians
        absorb, not all of one. Jobs are recorded under the phases
        ``<prefix>latency`` and ``<prefix>burst``."""
        end = time.perf_counter() + seconds
        turnaround, fetch, rates = [], [], []
        while time.perf_counter() < end:
            t, f = self.latency_phase(
                w, rng, min(time.perf_counter() + LATENCY_BLOCK_S, end),
                prefix + "latency")
            turnaround += t
            fetch += f
            if time.perf_counter() < end or not rates:
                rates += self.burst_phase(w, rng, 0.0, prefix + "burst")
        return turnaround, fetch, rates


# -- one run -------------------------------------------------------------

def history_file(root: str, w: Workload, seed: int) -> str:
    """The seeded broker history, built once per seed and kept in the
    checkout's work area; each run copies it."""
    path = os.path.join(root, ".perfbench", "history", f"{w.name}-seed{seed}.db")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        build_history(path, w, seed)
    return path


def run(root: str, work: str, w: Workload, seed: int, seconds: float,
        trace: bool) -> dict:
    from dungbeetle_spark.client import Client

    wall0 = time.perf_counter()
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    results_dir = os.path.join(work, "results")
    job_store = os.path.join(work, "jobs.db")
    if w.broker:
        shutil.copyfile(history_file(root, w, seed), job_store)
    config = os.path.join(work, "config.toml")
    with open(config, "w") as f:
        f.write(config_toml(
            w, data_dir=DATA_DIR, results_dir=results_dir,
            task_dir=os.path.join(HERE, "tasks"), job_store=job_store,
            concurrency=cores,
        ))
    spans_path = os.path.join(work, "spans.json") if trace else None
    rng = random.Random(f"{w.name}-{seed}")

    server = ServerProcess(root, work, config, spans_path, cores)
    try:
        url = server.wait_listening(SETUP_TIMEOUT_S)
        load = Load(Client(url, timeout=JOB_TIMEOUT_S), server, seed)
        load.setup(w, rng)
        setup_s = time.perf_counter() - server.started
        # the JVM is still compiling the job path: turnarounds, fetches and
        # group times fall over the first tens of jobs, so the same blocks
        # as the measuring run first and are not measured
        load.alternate(w, rng, WARMUP_S, "warmup-")
        t0 = time.perf_counter()
        ticks0 = _cpu_ticks()
        turnaround, fetch, rates = load.alternate(w, rng, seconds, "")
        measured_s = time.perf_counter() - t0
        ticks1 = _cpu_ticks()
        rss = server.peak_rss_mb()
    finally:
        server.stop()
    stopped = time.perf_counter()

    from checks import check_all
    from dungbeetle_spark.sources.catalog import TABLES

    oracles = {}
    if w.operators:
        from dungbeetle_spark.queries import registry

        reg = registry()
        oracles = {t: reg[t].oracle for t in w.tasks}
    problems = check_all(load.jobs, results_dir, DATA_DIR, list(TABLES), oracles)
    failed = sum(1 for j in load.jobs if j["state"] != "SUCCESS")
    wall = {"inputs": server.started - wall0, "setup": setup_s,
            "warmup": t0 - server.started - setup_s, "measure": measured_s,
            "stop": stopped - t0 - measured_s,
            "checks": time.perf_counter() - stopped}
    if not turnaround or not rates:
        raise BenchError("no successful latency job or burst group")

    e2e = {
        "setup_s": setup_s,
        "job_latency_p50_s": median(turnaround),
        "result_fetch_p50_s": median(fetch),
        "jobs_per_s": median(rates),
        "server_peak_rss_mb": sum(rss.values()),
    }
    report = {
        "workload": w.name, "seed": seed, "trace": trace,
        "cores": cores, "worker_concurrency": cores,
        "measured_s": measured_s, "wall_s": wall,
        # a run slowed by the host, not the program, shows a high share
        "cpu_stolen_share": (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1),
        "latency_jobs": len(turnaround), "burst_groups": len(rates),
        "burst_jobs_per_group": w.burst_rounds * len(w.tasks),
        "end_to_end": dict(e2e),
        "problems": problems[:5],
        "failures": [f"{j['job_id']} ({j['task']}): {j.get('error', '')[:300]}"
                     for j in load.jobs if j["state"] != "SUCCESS"][:5],
        "turnaround": turnaround, "rates": rates, "rss_mb": rss,
    }
    p90 = percentile(turnaround, 90)
    if p90 is not None:
        report["end_to_end"]["job_latency_p90_s"] = p90
    out = {"correct": not problems, "attempted": len(load.jobs), "failed": failed}
    if trace:
        from tracing import layer_metrics

        with open(spans_path) as f:
            spans = json.load(f)
        latency_jobs = [j["job_id"] for j in load.jobs
                        if j["phase"] == "latency" and j["state"] == "SUCCESS"]
        layers = layer_metrics(spans, latency_jobs, list(w.tasks))
        report["per_layer"] = layers
        out["metrics"] = {k: {"value": layers[k], "unit": u}
                          for k, u in PER_LAYER.items()}
    else:
        out["metrics"] = {k: {"value": e2e[k], "unit": u}
                          for k, u in END_TO_END.items()}
    return {"report": report, "result": out}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dungbeetle_spark", "__main__.py")):
        print("perfbench: run from the repository root (dungbeetle_spark/ not found)",
              file=sys.stderr)
        return 2
    if not os.path.isdir(DATA_DIR):
        print(f"perfbench: source tables not found at {DATA_DIR}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run(root, work, WORKLOADS[args.workload], args.seed, args.seconds,
                  bool(args.trace))
    except BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": res["report"]}))
    print(json.dumps(res["result"]))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
