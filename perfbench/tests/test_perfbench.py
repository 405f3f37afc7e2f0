"""Tests of the benchmark itself: span attribution, and that the tick
workload's incremental output agrees with a from-scratch run."""

import json
import os

import pytest

from perfbench.spans import OUTSIDE, Job, Span, Tracer, attribute, covered_s, parse_ui_time
from perfbench.workloads import STAGES, Scratch, Tick, layer_metrics


def test_parse_ui_time():
    assert parse_ui_time("1970-01-01T00:00:01.500GMT") == 1.5


def test_attribute_assigns_each_job_to_one_span_or_outside():
    spans = [Span("stage/a", 10.0, 20.0, "it", "r"), Span("stage/b", 20.5, 30.0, "it", "r")]
    jobs = [Job(0, 5.0, 6.0, []), Job(1, 10.0, 12.0, []), Job(2, 20.2, 21.0, []),
            Job(3, 25.0, 26.0, [])]
    assert attribute(jobs, spans) == {0: OUTSIDE, 1: "stage/a", 2: OUTSIDE, 3: "stage/b"}


def test_attribute_rejects_overlapping_spans():
    spans = [Span("stage/a", 0.0, 2.0, None, "r"), Span("stage/b", 1.0, 3.0, None, "r")]
    with pytest.raises(ValueError):
        attribute([Job(0, 1.5, 1.6, [])], spans)


def test_covered_s_merges_and_clips():
    assert covered_s([(0, 2), (1, 3), (5, 6), (9, 12)], 0.5, 10) == pytest.approx(4.5)
    assert covered_s([], 0, 1) == 0


def _clusters(spark, root):
    from deduplicator_go_spark.sources.catalog import CheckpointCatalog

    rows = CheckpointCatalog(root).read(spark, "clusters").select("url", "cluster_id").collect()
    return sorted((r.url, r.cluster_id) for r in rows)


def test_tick_clusters_equal_scratch_clusters(spark, work):
    """After the tick, the clusters equal those of a from-scratch run on
    the same full input (pair tables may legitimately differ)."""
    tick_dir = os.path.join(work, "tick")
    os.makedirs(tick_dir)
    tick = Tick(spark, tick_dir, seed=3)
    tick.n_docs = 400
    tick.setup()
    tick._prepare()
    tick._run_pipeline(tick.docs_path)
    after_tick = _clusters(spark, tick.catalog_root)

    scratch_dir = os.path.join(work, "scratch-full")
    os.makedirs(scratch_dir)
    scratch = Scratch(spark, scratch_dir, seed=3)
    scratch.with_substr = tick.with_substr
    scratch._prepare()
    scratch._run_pipeline(tick.docs_path)
    assert after_tick == _clusters(spark, scratch.catalog_root)
    assert len({c for _, c in after_tick}) < len(after_tick)


def test_traced_jobs_land_in_exactly_one_stage_or_outside(spark, work):
    wdir = os.path.join(work, "traced")
    os.makedirs(wdir)
    wl = Scratch(spark, wdir, seed=4)
    wl.n_docs = 300
    wl.setup()
    tracer = Tracer(spark.sparkContext, "test")
    out = wl.measure(0, tracer)
    assert out.failed == 0, out.errors
    assert len(out.layers) == len(out.walls) == 1

    stage_spans = {s.name for s in tracer.spans if s.name.startswith("stage/")}
    assert stage_spans == {f"stage/{s}" for s in STAGES}
    iterations = [s for s in tracer.spans if s.name.startswith("iteration/")]
    allowed = stage_spans | {f"{it.name}/{OUTSIDE}" for it in iterations}
    assert all(j.parent in allowed for j in tracer.job_spans)
    ids = [j.name for j in tracer.job_spans]
    assert len(ids) == len(set(ids))

    # every job the UI saw inside a timed window is one of the job spans
    ui_jobs = [j for j in tracer.ui.jobs() if "completionTime" in j]
    in_windows = {
        f"job/{j['jobId']}" for j in ui_jobs
        if any(it.start <= parse_ui_time(j["submissionTime"]) <= it.end for it in iterations)
    }
    assert in_windows <= set(ids)

    for layers in out.layers:
        assert sum(layers[f"stage.{s}.jobs"] for s in STAGES) + layers[
            "pipeline.outside_jobs"] == layers["pipeline.jobs"]
    m = layer_metrics(out, out)
    assert m["trace.overhead_s"] == 0

    path = os.path.join(wdir, "spans.json")
    tracer.write(path)
    with open(path) as f:
        spans = json.load(f)
    assert {"name", "start", "end", "parent", "run_id"} == set(spans[0])


def test_no_completed_iteration_gives_no_values():
    """Without a completed iteration there is nothing to take a median
    of; ``run.py`` then reports every metric as missing and the run as
    failed."""
    from perfbench.workloads import Outcome, summarize

    assert summarize(Outcome(), 1) == {}
    assert layer_metrics(Outcome(), Outcome()) == {}
