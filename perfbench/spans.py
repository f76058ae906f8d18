"""Spans around the benchmark's calls into the engine, and per-span Spark
counters cut from the Spark event log.

Every call the benchmark makes into a layer runs inside :meth:`Spans.span`,
which records the layer name and the wall interval, and tags the Spark jobs
the call submits from this thread with the job description
``perfbench|<span id>``. A job submitted from another thread (the bounded
preview collects on a worker thread that sets its own description) is
attributed by time instead: to the span whose interval holds its
submission. :func:`slice_eventlog` writes each span's events to a file of
its own and reads it with ``tools/query_profile.parse_eventlog``.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

DESC_PREFIX = "perfbench|"


@dataclass
class Span:
    sid: int
    layer: str
    label: str
    t0: float
    t1: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0


class Spans:
    """Span recorder for one measured phase."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []

    @contextmanager
    def span(self, layer: str, label: str = "", tag: bool = True):
        """Time the body as one span. ``tag`` sets the Spark job
        description first (outside the timed interval); leave it off for
        calls that run no Spark job."""
        sid = len(self.spans)
        sc = self.spark.sparkContext if tag and self.spark is not None else None
        if sc is not None:
            sc.setJobDescription(f"{DESC_PREFIX}{sid}")
        s = Span(sid, layer, label, time.time())
        try:
            yield s
        finally:
            s.t1 = time.time()
            if sc is not None:
                sc.setJobDescription(None)
            self.spans.append(s)

    def of(self, layer: str) -> list[Span]:
        return [s for s in self.spans if s.layer == layer]


def _eventlog_file(log_dir: str) -> str:
    files = [
        os.path.join(root, f)
        for root, _dirs, names in os.walk(log_dir)
        for f in names
        if not f.endswith(".inprogress") and not f.startswith(".")
    ]
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    return max(files, key=os.path.getsize)


def slice_eventlog(log_dir: str, spans: list[Span], parse) -> dict:
    """Attach ``parse``'s counters to every span and return event-log
    totals for the measured window. ``parse`` is
    ``query_profile.parse_eventlog`` (path -> counters dict).

    Totals: ``jobs_in_window`` counts every job submitted between the first
    span's start and the last span's end; ``jobs_attributed`` counts the
    jobs given to some span. The two agree when every Spark job the phase
    ran came from a span."""
    path = _eventlog_file(log_dir)
    with open(path) as fh:
        lines = fh.read().splitlines(keepends=True)
    job_of_line: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    job_span: dict[int, int] = {}
    job_submit: dict[int, float] = {}
    job_desc: dict[int, str] = {}
    events = []
    for i, line in enumerate(lines):
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        events.append((i, ev))
        if ev.get("Event") == "SparkListenerJobStart":
            jid = ev["Job ID"]
            job_submit[jid] = ev["Submission Time"] / 1000.0
            for st in ev.get("Stage IDs", []):
                stage_job[st] = jid
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            job_desc[jid] = desc
            if desc.startswith(DESC_PREFIX):
                job_span[jid] = int(desc[len(DESC_PREFIX):])
    # jobs from other threads: the span whose wall interval holds the
    # submission (spans never overlap — one closed-loop client)
    for jid, t in job_submit.items():
        if jid not in job_span:
            for s in spans:
                if s.t0 <= t <= s.t1:
                    job_span[jid] = s.sid
                    break
    for i, ev in events:
        e = ev.get("Event")
        if e in ("SparkListenerJobStart", "SparkListenerJobEnd"):
            job_of_line[i] = ev["Job ID"]
        elif e in ("SparkListenerStageCompleted",):
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_job:
                job_of_line[i] = stage_job[sid]
        elif e == "SparkListenerTaskEnd":
            if ev.get("Stage ID") in stage_job:
                job_of_line[i] = stage_job[ev["Stage ID"]]
    per_span: dict[int, list[str]] = {s.sid: [] for s in spans}
    for i, jid in job_of_line.items():
        sid = job_span.get(jid)
        if sid in per_span:
            per_span[sid].append(lines[i])
    with tempfile.TemporaryDirectory(dir=os.path.dirname(path)) as tmp:
        for s in spans:
            p = os.path.join(tmp, f"span{s.sid}.json")
            with open(p, "w") as fh:
                fh.writelines(per_span[s.sid])
            c = parse(p)
            c["driver_gap_s"] = max(s.wall_s - c["jobs_covered_s"], 0.0)
            s.counters = c
    if not spans:
        return {"jobs_in_window": 0, "jobs_attributed": 0}
    lo, hi = spans[0].t0, spans[-1].t1
    in_window = [j for j, t in job_submit.items() if lo <= t <= hi]
    return {
        "jobs_in_window": len(in_window),
        "jobs_attributed": sum(1 for j in in_window if job_span.get(j) is not None),
        "unattributed": [
            (job_desc[j][:60], round(job_submit[j] - lo, 3))
            for j in in_window if job_span.get(j) is None
        ][:8],
    }
