"""Spans for the traced run, and the arithmetic that turns them into
per-layer metrics.

A span is a named wall-clock interval recorded around a call into one
layer's public function (or around one benchmark operation). Spans are
kept in memory and resolved once, after the measured window, against the
job and stage records of the Spark UI REST API:

- a job belongs to the span whose job group it carries; a job without a
  known group (e.g. one submitted from a thread that never set a group)
  belongs to the innermost span whose interval contains its submission
  time;
- a span's self time is its duration minus the part of that interval
  its child spans cover (children may overlap; their union counts once).

Everything below ``Tracer`` is plain arithmetic over dicts and is unit
tested without Spark (``test_perfbench.py``).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
import urllib.request
from dataclasses import dataclass
from datetime import datetime, timezone

# slack for matching a job's millisecond submission stamp to a span
# recorded with time.time(): the REST API truncates to whole ms
SLACK_S = 0.002


@dataclass
class Span:
    id: str
    name: str
    t0: float  # epoch seconds
    t1: float
    thread: int


class Tracer:
    """Records spans and sets one Spark job group per span.

    ``sc`` may be None (the tests): spans are then recorded without job
    groups. The time spent in the tracer's own bookkeeping, py4j calls
    included, accumulates in ``overhead_s``.
    """

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _new_id(self) -> str:
        return f"perfbench-{next(self._ids)}"

    @contextlib.contextmanager
    def span(self, name: str):
        c0 = time.perf_counter()
        sid = self._new_id()
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(sid, name)
        t0 = time.time()
        self._add_overhead(time.perf_counter() - c0)
        try:
            yield sid
        finally:
            t1 = time.time()
            c1 = time.perf_counter()
            if self.sc is not None:
                # None removes the property: jobs after the span carry
                # whatever group was set before it
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
            with self._lock:
                self.spans.append(Span(sid, name, t0, t1, threading.get_ident()))
            self._add_overhead(time.perf_counter() - c1)

    def add_span(self, name: str, t0: float, t1: float, sid: str | None = None) -> str:
        """Record a span measured elsewhere (e.g. a crawl wave, whose
        bounds come from the engine's own loop)."""
        sid = sid or self._new_id()
        with self._lock:
            self.spans.append(Span(sid, name, t0, t1, threading.get_ident()))
        return sid

    def set_group(self, sid: str, name: str) -> None:
        """Set the job group of the calling thread without opening a span."""
        if self.sc is not None:
            c0 = time.perf_counter()
            self.sc.setJobGroup(sid, name)
            self._add_overhead(time.perf_counter() - c0)

    def clear_group(self) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _add_overhead(self, dt: float) -> None:
        with self._lock:
            self.overhead_s += dt

    def wrap(self, owners: list[object], attr: str, name: str) -> None:
        """Replace ``attr`` on every object in ``owners`` (modules that
        imported the function by name, or a class for a method) with a
        wrapper that records a span around each call."""
        original = getattr(owners[0], attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        for owner in owners:
            self._patches.append((owner, attr, getattr(owner, attr)))
            setattr(owner, attr, traced)

    def unwrap(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()


# ---------------------------------------------------------------------------
# Spark UI REST records
# ---------------------------------------------------------------------------

def parse_rest_time(ts: str) -> float:
    """'2026-10-16T18:12:46.584GMT' (UTC) -> epoch seconds."""
    return (
        datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def fetch_rest(sc) -> dict:
    """Jobs, stages and SQL executions of this application."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path):
        with urllib.request.urlopen(base + path, timeout=60) as r:
            return json.loads(r.read())

    return {
        "jobs": get("/jobs"),
        "stages": get("/stages?status=complete"),
        "sql": get("/sql?details=true&planDescription=false&length=100000"),
    }


def _num(value: str) -> float:
    """A SQL metric value such as '5,000' -> 5000.0 (0.0 if not numeric)."""
    try:
        return float(value.replace(",", ""))
    except (AttributeError, ValueError):
        return 0.0


# rows out of plan nodes that cross the Arrow/Python boundary, by kind:
# scalar Arrow UDFs (the URL canonicalizer) and pandas cogroups (the
# bloom filter's test+insert); ``arrow_rows`` counts every such node
ARROW_NODES = {
    "udf_rows": ("ArrowEvalPython",),
    "cogroup_rows": ("FlatMapCoGroupsInPandas",),
    "arrow_rows": ("ArrowEvalPython", "InPandas", "InArrow", "ArrowPython"),
}


def job_records(rest: dict) -> list[dict]:
    """One flat record per job: submission/completion times, group, stage
    counts and the summed metrics of the stages it ran, plus the rows
    that crossed the Arrow/Python boundary in its SQL execution (credited
    to the execution's first job)."""
    stages = {(s["stageId"]): s for s in rest["stages"]}
    owner: dict[int, int] = {}
    for j in sorted(rest["jobs"], key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            owner.setdefault(sid, j["jobId"])
    rows_by_job: dict[int, dict[str, float]] = {}
    for e in rest.get("sql", []):
        job_ids = sorted(e.get("successJobIds", []) + e.get("failedJobIds", []))
        if not job_ids:
            continue
        acc = rows_by_job.setdefault(job_ids[0], dict.fromkeys(ARROW_NODES, 0.0))
        for nd in e.get("nodes", []):
            rows = sum(
                _num(m["value"]) for m in nd.get("metrics", [])
                if m.get("name") == "number of output rows"
            )
            for kind, markers in ARROW_NODES.items():
                if any(k in nd.get("nodeName", "") for k in markers):
                    acc[kind] += rows
    out = []
    for j in rest["jobs"]:
        rec = {
            "job_id": j["jobId"],
            "group": j.get("jobGroup"),
            "submit": parse_rest_time(j["submissionTime"]) if j.get("submissionTime") else None,
            "end": parse_rest_time(j["completionTime"]) if j.get("completionTime") else None,
            "stages": j.get("numCompletedStages", 0) + j.get("numSkippedStages", 0),
            "skipped_stages": j.get("numSkippedStages", 0),
            "tasks": j.get("numCompletedTasks", 0),
            "task_s": 0.0, "gc_s": 0.0, "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0, "sched_wait_s": 0.0,
            **rows_by_job.get(j["jobId"], dict.fromkeys(ARROW_NODES, 0.0)),
        }
        for sid in j["stageIds"]:
            s = stages.get(sid)
            if s is None or owner.get(sid) != j["jobId"]:
                continue
            rec["task_s"] += s.get("executorRunTime", 0) / 1000.0
            rec["gc_s"] += s.get("jvmGcTime", 0) / 1000.0
            rec["shuffle_read_mb"] += s.get("shuffleReadBytes", 0) / 1e6
            rec["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 1e6
            rec["spill_mb"] += (s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)) / 1e6
            if s.get("submissionTime") and s.get("firstTaskLaunchedTime"):
                rec["sched_wait_s"] += max(
                    0.0,
                    parse_rest_time(s["firstTaskLaunchedTime"])
                    - parse_rest_time(s["submissionTime"]),
                )
        if rec["submit"] is not None:
            out.append(rec)
    return out


# ---------------------------------------------------------------------------
# pure arithmetic
# ---------------------------------------------------------------------------

def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _contains(outer: Span, inner: Span) -> bool:
    return outer.t0 <= inner.t0 and inner.t1 <= outer.t1


def parents(spans: list[Span]) -> dict[str, str | None]:
    """Parent of each span: the shortest other span containing it
    (nesting is derived from intervals, so spans recorded on a worker
    thread nest under the main-thread span that was open around them).
    Of two spans with the same interval, the one recorded later (a span
    is recorded when it ends) is the outer one."""
    out: dict[str, str | None] = {}
    for i, s in enumerate(spans):
        best = None
        for k, o in enumerate(spans):
            if k == i or not _contains(o, s):
                continue
            if (o.t0, o.t1) == (s.t0, s.t1) and k < i:
                continue
            if best is None or (o.t1 - o.t0) < (best.t1 - best.t0):
                best = o
        out[s.id] = best.id if best else None
    return out


def self_pieces(spans: list[Span]) -> dict[str, list[tuple[float, float]]]:
    """The parts of each span's interval that none of its direct children
    covers (children may overlap; their union is cut out once)."""
    par = parents(spans)
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if par[s.id] is not None:
            kids.setdefault(par[s.id], []).append((s.t0, s.t1))
    out = {}
    for s in spans:
        pieces, at = [], s.t0
        for a, b in sorted(kids.get(s.id, [])):
            if a > at:
                pieces.append((at, a))
            at = max(at, b)
        if s.t1 > at:
            pieces.append((at, s.t1))
        out[s.id] = pieces
    return out


def attribute_jobs(jobs: list[dict], spans: list[Span]) -> dict[int, str | None]:
    """job_id -> owning span id (see module docstring)."""
    by_id = {s.id: s for s in spans}
    out: dict[int, str | None] = {}
    for j in jobs:
        s = by_id.get(j.get("group"))
        if s is None:
            t = j["submit"]
            cands = [x for x in spans if x.t0 - SLACK_S <= t <= x.t1 + SLACK_S]
            s = min(cands, key=lambda x: x.t1 - x.t0) if cands else None
        out[j["job_id"]] = s.id if s else None
    return out


JOB_FIELDS = (
    "stages", "skipped_stages", "tasks", "task_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "sched_wait_s",
    *ARROW_NODES,
)


def rollup(jobs: list[dict], spans: list[Span], roots: list[str]) -> dict[str, dict]:
    """Per root span (one per benchmark operation): job count and summed
    job fields over every job owned by the root or by any span nested in
    it, plus ``driver_s`` — the part of the root's interval during which
    none of those jobs was running."""
    owner = attribute_jobs(jobs, spans)
    par = parents(spans)

    def root_of(sid):
        while sid is not None and sid not in roots_set:
            sid = par.get(sid)
        return sid

    roots_set = set(roots)
    by_id = {s.id: s for s in spans}
    out = {r: {"jobs": 0, **{f: 0.0 for f in JOB_FIELDS}, "_iv": []} for r in roots}
    for j in jobs:
        r = root_of(owner[j["job_id"]])
        if r is None:
            continue
        acc = out[r]
        acc["jobs"] += 1
        for f in JOB_FIELDS:
            acc[f] += j[f]
        acc["_iv"].append((j["submit"], j["end"] if j["end"] is not None else j["submit"]))
    for r, acc in out.items():
        s = by_id[r]
        clipped = [(max(a, s.t0), min(b, s.t1)) for a, b in acc.pop("_iv")]
        busy = union_length([(a, b) for a, b in clipped if b > a])
        acc["driver_s"] = (s.t1 - s.t0) - busy
    return out


def layer_totals(jobs: list[dict], spans: list[Span], names: list[str]) -> dict[str, dict]:
    """Per span name: call count, self time — the wall during which some
    span of that name was open and none of its children was (spans of
    one name that overlap, e.g. on pool threads, count once) — and the
    jobs owned directly by a span of that name, with their summed
    fields."""
    owner = attribute_jobs(jobs, spans)
    pieces = self_pieces(spans)
    name_of = {s.id: s.name for s in spans}
    out = {n: {"calls": 0, "s": 0.0, "jobs": 0, **dict.fromkeys(JOB_FIELDS, 0.0)}
           for n in names}
    own: dict[str, list[tuple[float, float]]] = {n: [] for n in names}
    for s in spans:
        if s.name in out:
            out[s.name]["calls"] += 1
            own[s.name].extend(pieces[s.id])
    for n in names:
        out[n]["s"] = union_length(own[n])
    for j in jobs:
        n = name_of.get(owner[j["job_id"]])
        if n in out:
            out[n]["jobs"] += 1
            for f in JOB_FIELDS:
                out[n][f] += j[f]
    return out
