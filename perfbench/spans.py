"""Spans and per-layer metrics for a traced run.

A traced run starts its Spark session with the UI on and reads jobs and
stages from the UI's REST API after each timed iteration, outside the
timed region. Each job is attributed by its submission time to exactly
one pipeline-stage span, or else to the iteration's outside-stages
bucket. A stage span ends at the stage's commit time
(``CheckpointCatalog.commit_info(name).completed_at``) and lasts the
stage wall that ``DedupPipeline.run`` reports for it (build + write).
Spans are kept in memory and written out once at the end of the run.
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.request
from dataclasses import asdict, dataclass
from datetime import datetime, timezone
from urllib.parse import urlparse

OUTSIDE = "outside_stages"
# the UI reports times in whole milliseconds
UI_CLOCK_RES_S = 0.001


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str


@dataclass
class Job:
    job_id: int
    start: float
    end: float
    stage_ids: list[int]


@dataclass
class SparkStage:
    stage_id: int
    run_ms: int
    shuffle_write_bytes: int
    spill_bytes: int
    attempt: int


def parse_ui_time(s: str) -> float:
    """UI REST timestamps look like ``2026-01-02T03:04:05.678GMT``."""
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=timezone.utc).timestamp()


def attribute(jobs: list[Job], spans: list[Span]) -> dict[int, str]:
    """Map each job id to the one span whose [start, end] holds the
    job's submission time, or to ``OUTSIDE`` when none does. Raises if a
    job falls in two spans: stage spans of one run never overlap."""
    out: dict[int, str] = {}
    for j in jobs:
        hits = [s.name for s in spans if s.start <= j.start <= s.end]
        if len(hits) > 1:
            raise ValueError(f"job {j.job_id} falls in spans {hits}")
        out[j.job_id] = hits[0] if hits else OUTSIDE
    return out


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class UiClient:
    """Reads the live application's jobs and stages from the UI REST API."""

    def __init__(self, sc) -> None:
        port = urlparse(sc.uiWebUrl).port
        self.base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        return self._get("/jobs")

    def stages(self) -> list[dict]:
        return self._get("/stages?status=complete")

    def task_run_ms_quantiles(self, stage_id: int, attempt: int) -> tuple[float, float]:
        """(median, max) task executor run time of one Spark stage."""
        q = self._get(f"/stages/{stage_id}/{attempt}/taskSummary?quantiles=0.5,1.0")
        med, mx = q["executorRunTime"]
        return float(med), float(mx)


class Tracer:
    """Collects spans and Spark jobs per timed iteration of one run."""

    def __init__(self, sc, run_id: str) -> None:
        self.sc = sc
        self.ui = UiClient(sc)
        self.run_id = run_id
        self.spans: list[Span] = [Span("run", time.time(), 0.0, None, run_id)]
        self.job_spans: list[Span] = []
        self.collect_s = 0.0

    def group(self, i: int) -> str:
        return f"perfbench-iteration-{i}"

    def label(self, i: int, what: str) -> None:
        self.sc.setJobGroup(self.group(i), f"{self.run_id} {what} iteration {i}")

    def _wait_for_jobs(self, i: int, timeout_s: float = 60.0) -> tuple[list[dict], list[dict]]:
        """Jobs and completed stages of iteration ``i`` once the UI's
        listener has caught up with every job the driver submitted."""
        want = set(self.sc.statusTracker().getJobIdsForGroup(self.group(i)))
        deadline = time.time() + timeout_s
        while True:
            jobs = {j["jobId"]: j for j in self.ui.jobs()}
            done = all(
                k in jobs and jobs[k]["status"] != "RUNNING" and "completionTime" in jobs[k]
                for k in want
            )
            if done:
                stage_ids = {s for k in want for s in jobs[k]["stageIds"]}
                stages = [s for s in self.ui.stages() if s["stageId"] in stage_ids]
                return [jobs[k] for k in sorted(want)], stages
            if time.time() > deadline:
                raise TimeoutError(f"UI did not report all jobs of iteration {i}")
            time.sleep(0.1)

    def collect(self, i: int, t0: float, t1: float, stage_walls: dict[str, float],
                stage_ends: dict[str, float]) -> dict:
        """Record iteration ``i`` (timed window [t0, t1]) and return its
        per-layer metrics. ``stage_walls``/``stage_ends`` give each
        stage's wall and commit time in seconds."""
        c0 = time.time()
        it_name = f"iteration/{i}"
        self.spans.append(Span(it_name, t0, t1, "run", self.run_id))
        # stages run one after another: a span starts no earlier than the
        # previous one ended (the reported stage wall also covers the
        # release of cached data after the commit)
        stage_spans, prev_end = [], t0
        for name in sorted(stage_ends, key=stage_ends.get):
            start = max(stage_ends[name] - stage_walls[name], prev_end)
            stage_spans.append(Span(f"stage/{name}", start, stage_ends[name], it_name, self.run_id))
            prev_end = stage_ends[name]
        self.spans.extend(stage_spans)
        raw_jobs, raw_stages = self._wait_for_jobs(i)
        # the group also holds the untimed check jobs run after t1
        jobs = [
            Job(j["jobId"], parse_ui_time(j["submissionTime"]),
                parse_ui_time(j["completionTime"]), list(j["stageIds"]))
            for j in raw_jobs
        ]
        jobs = [j for j in jobs if t0 - UI_CLOCK_RES_S <= j.start <= t1 + UI_CLOCK_RES_S]
        owner = attribute(jobs, stage_spans)
        for j in jobs:
            parent = owner[j.job_id] if owner[j.job_id] != OUTSIDE else f"{it_name}/{OUTSIDE}"
            self.job_spans.append(Span(f"job/{j.job_id}", j.start, j.end, parent, self.run_id))

        # a completed Spark stage ran in the first job that lists it;
        # later jobs list it again as skipped
        first_job: dict[int, int] = {}
        for j in sorted(jobs, key=lambda j: j.job_id):
            for s in j.stage_ids:
                first_job.setdefault(s, j.job_id)
        by_job: dict[int, list[SparkStage]] = {}
        for s in raw_stages:
            st = SparkStage(
                s["stageId"], int(s.get("executorRunTime", 0)),
                int(s.get("shuffleWriteBytes", 0)),
                int(s.get("memoryBytesSpilled", 0)) + int(s.get("diskBytesSpilled", 0)),
                int(s.get("attemptId", 0)),
            )
            if st.stage_id in first_job:
                by_job.setdefault(first_job[st.stage_id], []).append(st)

        m: dict[str, float] = {}
        spill = 0
        for span in stage_spans:
            name = span.name.split("/", 1)[1]
            sj = [j for j in jobs if owner[j.job_id] == span.name]
            ss = [st for j in sj for st in by_job.get(j.job_id, [])]
            wall = span.end - span.start
            m[f"stage.{name}.wall_s"] = wall
            m[f"stage.{name}.jobs"] = len(sj)
            m[f"stage.{name}.driver_gap_s"] = wall - covered_s(
                [(j.start, j.end) for j in sj], span.start, span.end)
            m[f"stage.{name}.task_s"] = sum(st.run_ms for st in ss) / 1000.0
            m[f"stage.{name}.shuffle_write_mb"] = sum(st.shuffle_write_bytes for st in ss) / 2**20
            m[f"stage.{name}.task_skew"] = self._skew(ss)
            spill += sum(st.spill_bytes for st in ss)
        outside = [j for j in jobs if owner[j.job_id] == OUTSIDE]
        m["pipeline.jobs"] = len(jobs)
        m["pipeline.outside_jobs"] = len(outside)
        m["pipeline.outside_stages_s"] = (t1 - t0) - sum(s.end - s.start for s in stage_spans)
        m["pipeline.spill_mb"] = spill / 2**20
        self.collect_s += time.time() - c0
        return m

    def _skew(self, stages: list[SparkStage]) -> float:
        """Max / median task run time of the stage's heaviest Spark stage
        (1.0 when it has no measurable tasks)."""
        if not stages:
            return 1.0
        top = max(stages, key=lambda s: s.run_ms)
        med, mx = self.ui.task_run_ms_quantiles(top.stage_id, top.attempt)
        return mx / med if med > 0 else 1.0

    def write(self, path: str) -> None:
        self.spans[0].end = time.time()
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans + self.job_spans], f)


def median_iteration(walls: list[float]) -> int:
    """Index of the iteration whose wall is the (lower) median."""
    med = statistics.median_low(walls)
    return walls.index(med)
