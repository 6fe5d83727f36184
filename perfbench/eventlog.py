"""Fold a Spark event log into per-call layer counters.

The traced run sets a job group per query call (``spark.jobGroup.id`` =
the call id), so every job, stage, task and SQL execution in the log
maps back to the call that caused it.  A streaming query runs its
micro-batches under a job group of its own run id; those, and its
progress events, map to calls through the run ids the harness's
``StreamingQueryListener`` saw start inside each call.  Catalyst phase
times come from the harness's ``QueryExecutionListener`` and map to
calls by when they started (``assign_phases``).

Everything here is pure: it reads parsed JSON events and returns plain
dicts, so it is tested on a small recorded log.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict
from collections.abc import Iterable, Iterator

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"

#: SQL-metric accumulables of the JVM<->Python boundary, per task:
#: metric name -> (counter, scale to the counter's unit)
PYTHON_ACCUMULABLES = {
    "data sent to Python workers": ("python.bytes_sent", 1.0),
    "data returned from Python workers": ("python.bytes_returned", 1.0),
    "time to run Python workers": ("python.run_s", 1e-3),
    "time to start Python workers": ("python.start_s", 1e-3),
}

#: Catalyst planning phases -> counter
PHASES = {
    "analysis": "catalyst.analysis_ms",
    "optimization": "catalyst.optimization_ms",
    "planning": "catalyst.planning_ms",
}

#: every counter the fold produces, each 0 when its layer is bypassed
COUNTERS = (
    "catalyst.sql_executions",
    "catalyst.analysis_ms",
    "catalyst.optimization_ms",
    "catalyst.planning_ms",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.failed_tasks",
    "exec.result_bytes",
    "exec.task_cpu_s",
    "exec.task_run_s",
    "exec.fetch_wait_s",
    "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes",
    "exec.spill_bytes",
    "exec.gc_s",
    "sources.input_bytes",
    "sources.input_rows",
    "sources.output_bytes",
    "python.bytes_sent",
    "python.bytes_returned",
    "python.run_s",
    "python.start_s",
    "streaming.batches",
    "streaming.query_planning_ms",
    "streaming.add_batch_ms",
    "streaming.commit_offsets_ms",
    "streaming.wal_commit_ms",
    "streaming.state_rows",
    "streaming.state_memory_bytes",
    "streaming.state_commit_ms",
)

#: the call id of work no traced call owns
UNATTRIBUTED = "-"


def read_events(log_dir: str) -> Iterator[dict]:
    """Parsed events of the one application log under ``log_dir``
    (uncompressed; a v2 rolling directory or a v1 single file)."""
    entries = [os.path.join(log_dir, e) for e in os.listdir(log_dir)]
    if len(entries) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {entries}")
    path = entries[0]
    if os.path.isdir(path):
        def part(p: str) -> int:
            m = re.match(r"events_(\d+)_", os.path.basename(p))
            return int(m.group(1)) if m else 0

        files = sorted(glob.glob(os.path.join(path, "events_*")), key=part)
    else:
        files = [path]
    for name in files:
        with open(name, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _blank() -> dict[str, float]:
    return dict.fromkeys(COUNTERS, 0)


def fold(
    events: Iterable[dict],
    stream_runs: dict[str, str] | None = None,
) -> dict[str, dict[str, float]]:
    """Per-call counters from one event log.

    ``stream_runs`` maps a streaming query run id to the call that
    started it.  Work without a job group lands under ``UNATTRIBUTED``.
    """
    stream_runs = stream_runs or {}

    def owner(group: str | None) -> str:
        if not group:
            return UNATTRIBUTED
        return stream_runs.get(group, group)

    out: dict[str, dict[str, float]] = defaultdict(_blank)
    stage_call: dict[int, str] = {}
    stages_done: set[tuple[int, int]] = set()
    last_state: dict[str, tuple[str, float, float]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            call = owner((ev.get("Properties") or {}).get(
                "spark.jobGroup.id"
            ))
            out[call]["exec.jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_call.setdefault(sid, call)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            if key not in stages_done:
                stages_done.add(key)
                call = stage_call.get(info["Stage ID"], UNATTRIBUTED)
                out[call]["exec.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            call = stage_call.get(ev["Stage ID"], UNATTRIBUTED)
            _task(out[call], ev)
        elif kind == SQL_START:
            out[owner(ev.get("jobGroupId"))]["catalyst.sql_executions"] += 1
        elif kind == PROGRESS:
            p = ev["progress"]
            call = owner(p.get("runId"))
            c = out[call]
            d = p.get("durationMs") or {}
            c["streaming.batches"] += 1
            c["streaming.query_planning_ms"] += d.get("queryPlanning", 0)
            c["streaming.add_batch_ms"] += d.get("addBatch", 0)
            c["streaming.commit_offsets_ms"] += d.get("commitOffsets", 0)
            c["streaming.wal_commit_ms"] += d.get("walCommit", 0)
            ops = p.get("stateOperators") or ()
            c["streaming.state_commit_ms"] += sum(
                o.get("commitTimeMs", 0) for o in ops
            )
            # state size is a level, not a flow: keep each run's last
            last_state[p.get("runId")] = (
                call,
                sum(o.get("numRowsTotal", 0) for o in ops),
                sum(o.get("memoryUsedBytes", 0) for o in ops),
            )
    for call, rows, mem in last_state.values():
        out[call]["streaming.state_rows"] += rows
        out[call]["streaming.state_memory_bytes"] += mem
    return dict(out)


def assign_phases(
    records: Iterable[tuple[float, dict[str, float]]],
    windows: dict[str, tuple[float, float]],
) -> dict[str, dict[str, float]]:
    """Catalyst phase ms per call.

    ``records`` are ``(start, {phase: ms})`` per executed query, with
    ``start`` the epoch second its first phase began; ``windows`` maps
    each call to its epoch ``(start, end)``.  A query belongs to the
    call whose window holds its start; others go to ``UNATTRIBUTED``.
    """
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(PHASES.values(), 0)
    )
    ordered = sorted(windows.items(), key=lambda kv: kv[1][0])
    for start, phases in records:
        call = next((c for c, (a, b) in ordered if a <= start <= b),
                    UNATTRIBUTED)
        for phase, counter in PHASES.items():
            out[call][counter] += phases.get(phase, 0)
    return dict(out)


def _task(c: dict[str, float], ev: dict) -> None:
    c["exec.tasks"] += 1
    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        c["exec.failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    c["exec.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    c["exec.task_run_s"] += m.get("Executor Run Time", 0) / 1e3
    c["exec.result_bytes"] += m.get("Result Size", 0)
    c["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
    c["exec.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    r = m.get("Shuffle Read Metrics") or {}
    c["exec.fetch_wait_s"] += r.get("Fetch Wait Time", 0) / 1e3
    c["exec.shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get(
        "Local Bytes Read", 0
    )
    w = m.get("Shuffle Write Metrics") or {}
    c["exec.shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)
    i = m.get("Input Metrics") or {}
    c["sources.input_bytes"] += i.get("Bytes Read", 0)
    c["sources.input_rows"] += i.get("Records Read", 0)
    o = m.get("Output Metrics") or {}
    c["sources.output_bytes"] += o.get("Bytes Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables") or ():
        hit = PYTHON_ACCUMULABLES.get(acc.get("Name"))
        if hit is not None:
            c[hit[0]] += float(acc.get("Update") or 0) * hit[1]
