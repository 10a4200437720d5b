"""Offline roll-up of a Spark event log onto the benchmark's spans.

A traced run writes Spark's event log into its run directory and opens a
job group per span (common.Spans). After the session stops, this module
reads the log and charges every job, with its stages and tasks, to one
span:

1. a job whose ``spark.jobGroup.id`` names a span belongs to that span;
2. any other job was submitted by a thread that did not inherit the group
   — the engine's own helper pools (the build's stage-A writers and part
   encoders, compaction's part workers) — and belongs to the innermost
   span that was open when the job was submitted.
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path

from searchbench.common import median

MB = 1024.0 * 1024.0
COUNTERS = ("jobs", "stages", "task_s", "gc_s", "input_mb", "shuffle_mb",
            "written_mb")
# the counters a search and a build both have; the others can read 0
OP_COUNTERS = ("jobs", "stages", "task_s", "input_mb", "shuffle_mb")


def read_events(log_dir: Path) -> list[dict]:
    events = []
    for f in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    events.append(json.loads(line))
    return events


def attribute(job_group: str | None, submitted_s: float,
              spans: list[dict]) -> int | None:
    """The span id a job belongs to (rules 1 and 2 above), or None."""
    if job_group and job_group.startswith("span-"):
        return int(job_group[len("span-"):])
    inner = None
    for s in spans:
        if s["start"] <= submitted_s <= s["end"] and (
                inner is None or s["start"] >= inner["start"]):
            inner = s
    return None if inner is None else inner["id"]


def rollup(events: list[dict], spans: list[dict]) -> dict[int, dict]:
    """Per span id: jobs, completed stages, task seconds, GC seconds,
    input/shuffle-write/output megabytes."""
    stage_job: dict[int, int] = {}
    job_span: dict[int, int | None] = {}
    out: dict[int, dict] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            sid = attribute(props.get("spark.jobGroup.id"),
                            ev["Submission Time"] / 1000.0, spans)
            job_span[ev["Job ID"]] = sid
            for st in ev.get("Stage IDs", []):
                stage_job[st] = ev["Job ID"]
            if sid is not None:
                out[sid]["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            sid = job_span.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
            if sid is not None:
                out[sid]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = job_span.get(stage_job.get(ev["Stage ID"]))
            m = ev.get("Task Metrics")
            if sid is None or not m:
                continue
            acc = out[sid]
            acc["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            acc["input_mb"] += (m.get("Input Metrics") or {}).get(
                "Bytes Read", 0) / MB
            acc["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0) / MB
            acc["written_mb"] += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0) / MB
    return dict(out)


def subtree(spans: list[dict], root: int) -> set[int]:
    """``root`` and every span nested in it."""
    ids = {root}
    for s in spans:  # records are in open order, so parents come first
        if s["parent"] in ids:
            ids.add(s["id"])
    return ids


def totals(per_span: dict[int, dict], ids) -> dict:
    acc = dict.fromkeys(COUNTERS, 0.0)
    for i in ids:
        for k, v in per_span.get(i, {}).items():
            acc[k] += v
    return acc


def per_op(spans: list[dict], per_span: dict[int, dict], name: str) -> dict:
    """Median Spark cost of one timed operation (each top-level span
    called ``name``, with everything nested in it): the ``spark.*``
    per-layer metrics, the same on every workload."""
    ops = [totals(per_span, subtree(spans, s["id"]))
           for s in spans if s["name"] == name]
    return {f"spark.{k}_per_op": median([o[k] for o in ops])
            for k in OP_COUNTERS}


def fetch_input_mb(per_span: dict[int, dict], pairs) -> float:
    """Median input bytes of a full search over its ``search_ids`` alone,
    per (fetch span, ids span) pair from ``probes.query``."""
    return median([totals(per_span, [full])["input_mb"]
                   - totals(per_span, [ids])["input_mb"]
                   for full, ids in pairs])
