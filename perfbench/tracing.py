"""Outside-in tracing for the traced run (``--trace 1``).

Nothing here reaches into the engine. The harness tags each query's
build call and materialize call with its own Spark job group; this
module reads back what Spark itself recorded about those groups:

* jobs, stages and SQL executions from the driver's REST API
  (``/api/v1``, served by the Spark UI on localhost);
* streaming progress from a benchmark-registered
  ``StreamingQueryListener`` (also attached to every session the
  queries derive with ``newSession()``, because a listener only hears
  the queries of the session it is registered on);
* spans the harness records for set-up, each query, its build call and
  its materialize call, kept in memory and written out at the end.
"""

from __future__ import annotations

import calendar
import json
import re
import threading
import time
import urllib.request
from datetime import datetime

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from stats import union_length


def group_id(pass_index: int, key: str, phase: str) -> str:
    return f"{pass_index}:{key}:{phase}"


def parse_group(group: str | None) -> tuple[int, str, str] | None:
    if not group or group.count(":") != 2:
        return None
    p, key, phase = group.split(":")
    return int(p), key, phase


def _epoch(ts: str | None) -> float | None:
    """REST timestamps look like ``2026-01-01T00:00:00.123GMT``."""
    if not ts:
        return None
    dt = datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return calendar.timegm(dt.timetuple()) + dt.microsecond / 1e6


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)")


def parse_size(value: str) -> float:
    """Bytes in a SQL size metric: its total, which the UI prints first
    (``total (min, med, max ...)\\n12.3 KiB (...)`` or just ``12.3 KiB``)."""
    m = _SIZE.search(value.split("\n", 1)[-1])
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


class RestClient:
    """Reads the live application's status store through ``/api/v1``."""

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as resp:
            return json.load(resp)

    def snapshot(self) -> dict:
        return {
            "jobs": self.get("/jobs"),
            "stages": self.get("/stages"),
            "sql": self.get("/sql?details=true&planDescription=false"
                            "&offset=0&length=1000000"),
        }


class StreamListener(StreamingQueryListener):
    """Collects micro-batch progress, keyed by the query that started it."""

    def __init__(self, current):
        super().__init__()
        self.current = current  # () -> (pass, key, phase) of the running query
        self.owner: dict[str, tuple[int, str, str]] = {}
        self.progress: list[tuple[tuple[int, str, str], dict]] = []
        self.lock = threading.Lock()

    # QueryStartedEvent is delivered synchronously on the starting thread,
    # so the harness's current query is the one that started the stream.
    def onQueryStarted(self, event):
        with self.lock:
            self.owner[str(event.runId)] = self.current()

    def onQueryProgress(self, event):
        p = event.progress
        row = {
            "run": str(p.runId),
            "rows": int(p.numInputRows),
            "trigger_ms": int(p.durationMs.get("triggerExecution", 0)),
            "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
        }
        with self.lock:
            self.progress.append((self.owner.get(row["run"], (-1, "", "")), row))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def attach_stream_listener(spark: SparkSession, listener: StreamListener):
    """Register ``listener`` on ``spark`` and on every session derived
    from it later; returns a callable that undoes the session hook."""
    spark.streams.addListener(listener)
    original = SparkSession.newSession

    def new_session(self):
        session = original(self)
        session.streams.addListener(listener)
        return session

    SparkSession.newSession = new_session

    def detach():
        SparkSession.newSession = original

    return detach


def wait_for_listener_bus(spark: SparkSession, rest: RestClient,
                          timeout: float = 30.0) -> None:
    """The status store lags the job that just ended; wait until no job
    is active and the job count stops changing."""
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + timeout
    last = -1
    while time.monotonic() < deadline:
        n = len(rest.get("/jobs"))
        if not tracker.getActiveJobsIds() and n == last:
            return
        last = n
        time.sleep(0.25)


def _owner(job: dict, streams: dict, records: list[dict]):
    """(pass, key, phase) a job belongs to. Jobs carry the harness's job
    group, except micro-batch jobs, which Spark tags with their stream's
    run id; anything else is placed by its submission time."""
    group = job.get("jobGroup")
    tag = parse_group(group) or streams.get(group)
    if tag is not None:
        return tag
    t = _epoch(job.get("submissionTime"))
    for r in records:
        if t is not None and r["start"] <= t <= r["end"]:
            build_end = r.get("build_end", r["end"])
            return r["pass"], r["key"], "build" if t <= build_end else "mat"
    return None


def job_rows(snapshot: dict, streams: dict, records: list[dict]) -> list[dict]:
    """One row per job run by a benchmark query, with its stage totals."""
    stages: dict[int, list[dict]] = {}
    for s in snapshot["stages"]:
        stages.setdefault(s["stageId"], []).append(s)
    rows = []
    for j in snapshot["jobs"]:
        tag = _owner(j, streams, records)
        if tag is None:
            continue
        start = _epoch(j.get("submissionTime"))
        end = _epoch(j.get("completionTime")) or start
        ran = [a for sid in j.get("stageIds", []) for a in stages.get(sid, [])
               if a.get("status") != "SKIPPED"]

        def total(field: str) -> int:
            return sum(a.get(field, 0) for a in ran)

        rows.append({
            "job": j["jobId"], "pass": tag[0], "key": tag[1], "phase": tag[2],
            "start": start, "end": end, "stages": len(ran),
            "tasks": total("numCompleteTasks") + total("numFailedTasks"),
            "tasks_failed": total("numFailedTasks"),
            "run_s": total("executorRunTime") / 1e3,
            "cpu_s": total("executorCpuTime") / 1e9,
            "gc_s": total("jvmGcTime") / 1e3,
            "shuffle_write": total("shuffleWriteBytes"),
            "shuffle_read": total("shuffleReadBytes"),
            "spill": total("diskBytesSpilled"),
            "input": total("inputBytes"),
            "output": total("outputBytes"),
        })
    return rows


def python_bytes(snapshot: dict, job_pass: dict[int, int]) -> dict[int, list[float]]:
    """Per pass: [bytes sent to, bytes received from] Python workers,
    summed over the SQL metrics of every Python evaluation node."""
    out: dict[int, list[float]] = {}
    for ex in snapshot["sql"]:
        jobs = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
        passes = {job_pass[j] for j in jobs if j in job_pass}
        if len(passes) != 1:
            continue
        acc = out.setdefault(passes.pop(), [0.0, 0.0])
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                name = m.get("name", "")
                if name == "data sent to Python workers":
                    acc[0] += parse_size(m.get("value", ""))
                elif name == "data returned from Python workers":
                    acc[1] += parse_size(m.get("value", ""))
    return out


def layer_metrics(records: list[dict], jobs: list[dict], progress: list,
                  py_bytes: dict[int, list[float]], cores: int) -> dict:
    """Per-layer metrics over the warm passes: each is the median over
    warm passes of its per-pass total, except ``spark.job_p50_ms`` (the
    median job duration, pooled)."""
    from statistics import median

    passes = sorted({r["pass"] for r in records if r["pass"] > 0})
    per_pass: dict[str, list[float]] = {}

    def add(name: str, value: float) -> None:
        per_pass.setdefault(name, []).append(value)

    for p in passes:
        recs = [r for r in records if r["pass"] == p]
        pj = [j for j in jobs if j["pass"] == p]
        wall = sum(r["end"] - r["start"] for r in recs)
        gap = 0.0
        for r in recs:
            spans = [(max(j["start"], r["start"]), min(j["end"], r["end"]))
                     for j in pj if j["key"] == r["key"]]
            gap += (r["end"] - r["start"]) - union_length(spans)
        run_s = sum(j["run_s"] for j in pj)
        add("operators.build_s", sum(r.get("build_s", 0.0) for r in recs))
        add("operators.build_jobs", sum(1 for j in pj if j["phase"] == "build"))
        add("materialize.s", sum(r.get("mat_s", 0.0) for r in recs))
        add("materialize.jobs", sum(1 for j in pj if j["phase"] == "mat"))
        add("spark.jobs", len(pj))
        add("spark.stages", sum(j["stages"] for j in pj))
        add("spark.tasks", sum(j["tasks"] for j in pj))
        add("spark.driver_gap_s", gap)
        add("spark.tasks_failed", sum(j["tasks_failed"] for j in pj))
        add("executor.run_s", run_s)
        add("executor.cpu_s", sum(j["cpu_s"] for j in pj))
        add("executor.gc_s", sum(j["gc_s"] for j in pj))
        add("executor.busy_frac", run_s / (wall * cores) if wall > 0 else 0.0)
        sent, received = py_bytes.get(p, [0.0, 0.0])
        add("python.bytes_sent", sent)
        add("python.bytes_received", received)
        add("shuffle.write_bytes", sum(j["shuffle_write"] for j in pj))
        add("shuffle.read_bytes", sum(j["shuffle_read"] for j in pj))
        add("shuffle.spill_bytes", sum(j["spill"] for j in pj))
        add("io.input_bytes", sum(j["input"] for j in pj))
        add("io.output_bytes", sum(j["output"] for j in pj))
        add("storage.persisted_rdds_left", sum(r.get("persisted_left", 0) for r in recs))
        rows = [row for owner, row in progress if owner[0] == p]
        last_state: dict[str, int] = {}
        for row in rows:
            last_state[row["run"]] = row["state_rows"]
        add("stream.batches", len(rows))
        add("stream.input_rows", sum(row["rows"] for row in rows))
        add("stream.trigger_s", sum(row["trigger_ms"] for row in rows) / 1e3)
        add("stream.state_rows", sum(last_state.values()))

    out = {name: median(values) for name, values in per_pass.items()}
    durations = [(j["end"] - j["start"]) * 1e3 for j in jobs if j["pass"] > 0]
    out["spark.job_p50_ms"] = median(durations) if durations else 0.0
    return out


def spans(setup: dict, records: list[dict], jobs: list[dict]) -> list[dict]:
    """Set-up, query, build, materialize and job spans; a job's parent is
    its query's span."""
    out = [{"id": "setup", "name": "setup", "dur_s": setup["setup_s"],
            "parts": {k: v for k, v in setup.items() if k != "setup_s"}}]
    for i, r in enumerate(records):
        qid = f"q{i}"
        out.append({"id": qid, "name": r["key"], "pass": r["pass"],
                    "start": r["start"], "end": r["end"], "error": r["error"]})
        if "build_end" in r:
            out.append({"id": f"{qid}.build", "parent": qid, "name": "build",
                        "start": r["start"], "end": r["build_end"]})
            out.append({"id": f"{qid}.mat", "parent": qid, "name": "materialize",
                        "start": r["build_end"], "end": r["end"]})
    index = {(r["pass"], r["key"]): f"q{i}" for i, r in enumerate(records)}
    for j in jobs:
        out.append({"id": f"job{j['job']}", "parent": index.get((j["pass"], j["key"])),
                    "name": f"job {j['job']} ({j['phase']})",
                    "start": j["start"], "end": j["end"]})
    return out
