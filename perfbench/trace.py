"""Traced-run instrumentation, all of it outside the program.

* ``Py4jCounter`` counts driver-to-JVM round trips by wrapping the
  gateway client's ``send_command``.
* ``read_event_log`` reads the Spark event log the traced run enables
  into job, stage and micro-batch records. Micro-batch progress comes
  from the log's ``QueryProgressEvent``s rather than a Python
  ``StreamingQueryListener``: the engine runs its streams on cloned
  sessions, whose query managers a listener on the main session never
  hears from, while the shared listener bus logs every session.
* ``attribute`` assigns each job to the operation phase whose job
  group it carries or, for stream batches (which run under the
  stream's own group), whose time window saw it submitted.
* ``self_times`` derives a span's self time from its children.
"""

from __future__ import annotations

import glob
import json
import os
from datetime import datetime


class Py4jCounter:
    """Counts commands sent to the JVM while ``on``. Memory commands
    are left out: py4j sends them when Python's garbage collector
    frees a proxy, at times that vary from run to run."""

    def __init__(self, sc):
        from py4j.protocol import MEMORY_COMMAND_NAME

        self.client = sc._gateway._gateway_client
        self.send = self.client.send_command
        self.calls = 0
        self.on = False

        def counted(command, *a, **kw):
            if self.on and not command.startswith(MEMORY_COMMAND_NAME):
                self.calls += 1
            return self.send(command, *a, **kw)

        self.client.send_command = counted

    def uninstall(self) -> None:
        self.client.send_command = self.send


def read_event_log(log_dir: str) -> tuple[dict, dict, list]:
    """(jobs, stages, batches) from the uncompressed, unrolled event
    log."""
    jobs, stages, batches = {}, {}, []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {
                        "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                        "start_ms": e["Submission Time"],
                        "stage_ids": e["Stage IDs"],
                        "names": [s["Stage Name"] for s in e["Stage Infos"]],
                    }
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end_ms"] = e["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _stage())
                    st["start_ms"] = info.get("Submission Time")
                    st["end_ms"] = info.get("Completion Time")
                    st["name"] = info["Stage Name"]
                elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                    p = e["progress"]
                    ops = p.get("stateOperators") or []
                    batches.append({
                        "t": datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp(),
                        "ms": (p.get("durationMs") or {}).get("triggerExecution", 0),
                        "run": p["runId"],
                        "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
                        "state_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
                    })
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(e["Stage ID"], _stage())
                    m = e.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["tasks"] += 1
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    st["shuffle_r"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st["shuffle_w"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    st["out"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return jobs, stages, batches


def _stage() -> dict:
    return dict(tasks=0, cpu_ns=0, gc_ms=0, spill=0, shuffle_r=0, shuffle_w=0, out=0)


def attribute(jobs: dict, phases: list[dict]) -> None:
    """Set ``job["phase"]`` to the id of the phase span it belongs to.

    ``phases`` are build/exec spans with ``id`` (also their job group),
    ``t0`` and ``t1`` (epoch seconds). A job carrying a phase's job
    group belongs to it; any other job (stream batches) goes to the
    phase whose window holds its submission time."""
    ids = {p["id"] for p in phases}
    ordered = sorted(phases, key=lambda p: p["t0"])
    for job in jobs.values():
        pid = job["group"] if job["group"] in ids else None
        if pid is None:
            t = job["start_ms"] / 1000.0
            pid = next((p["id"] for p in ordered if p["t0"] <= t <= p["t1"]), None)
        job["phase"] = pid


def self_times(spans: list[dict]) -> None:
    """Add ``self_s`` to every span: its duration minus the time its
    children cover. Jobs of one phase can overlap; their sum may then
    exceed the phase, and self time is clamped at 0."""
    covered: dict = {}
    for s in spans:
        if s.get("parent") is not None:
            covered[s["parent"]] = covered.get(s["parent"], 0.0) + (s["t1"] - s["t0"])
    for s in spans:
        s["self_s"] = round(max(0.0, (s["t1"] - s["t0"]) - covered.get(s["id"], 0.0)), 6)
