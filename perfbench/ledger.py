"""Per-layer ledger read from Spark's own event log.

The benchmark tags every call it makes into the library with two Spark
local properties: ``perfbench.op`` (``<op>|<iteration>``) around the whole
operation and ``perfbench.span`` (``<op>|<iteration>|<layer>``) around each
call into one layer. Spark copies local properties into the ``Properties``
of every job and stage the call launches, so the event log says which call
each job, stage and task belongs to. Nothing inside the library changes.

Pure Python, no Spark: the tests feed it a small recorded event log.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

OP_KEY = "perfbench.op"
SPAN_KEY = "perfbench.span"

#: per-layer metrics, in the order the benchmark reports them
LAYER_METRICS = (
    "construct_s",
    "jobs",
    "jobs_s",
    "driver_s",
    "cpu_s",
    "scan_bytes",
    "py_sent_bytes",
    "py_recv_bytes",
    "py_run_s",
    "py_start_s",
    "shuffle_bytes",
    "spill_bytes",
    "task_skew",
)

#: task-level SQL metrics of the Python exec nodes (Spark 4.1 names)
_PY_ACCUMS = {
    "data sent to Python workers": ("py_sent_bytes", 1.0),
    "data returned from Python workers": ("py_recv_bytes", 1.0),
    "time to run Python workers": ("py_run_s", 1e-3),
    "time to start Python workers": ("py_start_s", 1e-3),
    "time to initialize Python workers": ("py_start_s", 1e-3),
}


def read_events(log_dir: str) -> list[dict]:
    """Every event of every event-log file under ``log_dir`` (plain or
    rolling layout, uncompressed)."""
    files = sorted(
        f
        for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus"))
    )
    events = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def union_length(intervals: list[tuple[float, float]], lo: float | None = None,
                 hi: float | None = None) -> float:
    """Length of the union of ``intervals``, clipped to ``[lo, hi]``."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0.0, None
    for a, b in sorted(clipped):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def task_skew(durations: list[float]) -> float:
    """Max over median task duration; 0 for a stage without tasks."""
    if not durations:
        return 0.0
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 1.0


def index_events(events: list[dict]) -> tuple[dict, dict]:
    """(jobs, stages) keyed by id, each carrying its op/span tags.

    A job is ``{op, span, start, end}`` in seconds since the epoch. A stage
    is ``{op, span, start, end, tasks: [duration_s], metrics}``, where the
    metrics are sums over the stage's finished tasks.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(
            sid,
            {"op": None, "span": None, "start": None, "end": None,
             "tasks": [], "metrics": defaultdict(float)},
        )

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "op": props.get(OP_KEY),
                "span": props.get(SPAN_KEY),
                "start": e["Submission Time"] / 1e3,
                "end": None,
            }
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            s = stage(e["Stage Info"]["Stage ID"])
            s["op"], s["span"] = props.get(OP_KEY), props.get(SPAN_KEY)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            s = stage(info["Stage ID"])
            if info.get("Submission Time") is not None:
                s["start"] = info["Submission Time"] / 1e3
            if info.get("Completion Time") is not None:
                s["end"] = info["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            s = stage(e["Stage ID"])
            info = e["Task Info"]
            s["tasks"].append((info["Finish Time"] - info["Launch Time"]) / 1e3)
            m = e.get("Task Metrics") or {}
            acc = s["metrics"]
            acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            for a in info.get("Accumulables") or []:
                hit = _PY_ACCUMS.get(a.get("Name"))
                if hit is not None:
                    acc[hit[0]] += float(a.get("Update") or 0) * hit[1]
    # a job that never ended (log cut short) ends at its last stage
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["start"]
    return jobs, stages


def layer_ledger(spans: list[dict], jobs: dict, stages: dict) -> dict:
    """Per-layer metrics of ONE operation call.

    ``spans``: this call's layer spans, ``{layer, kind, t0, t1, tag}``
    (``kind`` is ``construct`` or ``action``; ``tag`` the span property
    value). Returns ``{layer: {metric: value}}`` over :data:`LAYER_METRICS`.
    """
    out: dict[str, dict] = {}
    by_tag = defaultdict(list)
    for j in jobs.values():
        if j["span"] is not None:
            by_tag[j["span"]].append(j)
    stages_by_tag = defaultdict(list)
    for s in stages.values():
        if s["span"] is not None:
            stages_by_tag[s["span"]].append(s)
    for layer in dict.fromkeys(sp["layer"] for sp in spans):
        mine = [sp for sp in spans if sp["layer"] == layer]
        tags = set(sp["tag"] for sp in mine)
        row = dict.fromkeys(LAYER_METRICS, 0.0)
        row["construct_s"] = sum(sp["t1"] - sp["t0"] for sp in mine if sp["kind"] == "construct")
        ljobs = [j for t in tags for j in by_tag[t]]
        row["jobs"] = float(len(ljobs))
        ivs = [(j["start"], j["end"]) for j in ljobs]
        row["jobs_s"] = union_length(ivs)
        # self time: a span minus its layer's jobs and its nested child spans
        row["driver_s"] = sum(
            (sp["t1"] - sp["t0"]) - union_length(
                ivs + [(c["t0"], c["t1"]) for c in spans
                       if c.get("depth", 1) > sp.get("depth", 1)
                       and c["t0"] >= sp["t0"] and c["t1"] <= sp["t1"]],
                sp["t0"], sp["t1"])
            for sp in mine
        )
        lstages = [s for t in tags for s in stages_by_tag[t]]
        for s in lstages:
            for k, v in s["metrics"].items():
                row[k] += v
        timed = [s for s in lstages if s["tasks"] and s["start"] is not None and s["end"] is not None]
        if timed:
            longest = max(timed, key=lambda s: s["end"] - s["start"])
            row["task_skew"] = task_skew(longest["tasks"])
        out[layer] = row
    return out


def op_ledger(op_t0: float, op_t1: float, op_tag: str, spans: list[dict],
              jobs: dict, stages: dict) -> dict:
    """One operation call: its wall, job union and driver time, plus the
    per-layer rows. ``jobs_s + driver_s == wall_s`` by construction, so
    the benchmark checks :func:`layers_s` of the rows, not this split,
    against the operation's untraced median."""
    ivs = [(j["start"], j["end"]) for j in jobs.values() if j["op"] == op_tag]
    wall = op_t1 - op_t0
    jobs_s = union_length(ivs, op_t0, op_t1)
    return {
        "wall_s": wall,
        "jobs": len(ivs),
        "jobs_s": jobs_s,
        "driver_s": wall - jobs_s,
        "construct_s": sum(sp["t1"] - sp["t0"] for sp in spans if sp["kind"] == "construct"),
        "layers": layer_ledger(spans, jobs, stages),
    }


def layers_s(layers: dict[str, dict]) -> float:
    """Time the ledger puts on layers in one call: each layer's job union
    plus its own driver time. Time spent outside every layer span (reading
    the input, the benchmark's own glue) is left out."""
    return sum(row["jobs_s"] + row["driver_s"] for row in layers.values())


def median_layers(per_call: list[dict[str, dict]], layers: list[str]) -> dict[str, float]:
    """Median over iterations of each layer metric, flattened to
    ``<layer>.<metric>``. ``per_call`` holds one ``{layer: row}`` per
    iteration, already summed over the iteration's operations; a layer the
    workload never calls reports 0."""
    out = {}
    for layer in layers:
        for m in LAYER_METRICS:
            vals = [it[layer][m] for it in per_call if layer in it]
            out[f"{layer}.{m}"] = statistics.median(vals) if vals else 0.0
    return out


def sum_rows(rows: list[dict[str, dict]]) -> dict[str, dict]:
    """Sum per-layer rows of several operations of one iteration (task
    skew takes the max: it is a ratio, not an amount)."""
    out: dict[str, dict] = {}
    for r in rows:
        for layer, row in r.items():
            acc = out.setdefault(layer, dict.fromkeys(LAYER_METRICS, 0.0))
            for m, v in row.items():
                acc[m] = max(acc[m], v) if m == "task_skew" else acc[m] + v
    return out
