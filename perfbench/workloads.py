"""The benchmark's workloads: ``scratch`` and ``tick``.

Both drive the engine only through its public calls
(``session.get_spark``, ``fixtures.webtext.generate``,
``DedupPipeline.run``, ``CheckpointCatalog``) on one driver process
with ``local[4]``, and check every iteration's output against the
generator's ground truth with ``metrics.pair_recall``, outside the
timed region.

- ``scratch``: the first pipeline run of a fresh driver, substring pass
  included, over the whole corpus into an empty catalog.
- ``tick``: set-up commits the first 95% of the corpus as the standing
  catalog; each iteration restores that snapshot to the same path and
  runs one tick that appends the last 5%, without the substring pass.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from .host import RssSampler
from .spans import Tracer, median_iteration

CORES = 4
N_SCRATCH_DOCS = 2000
N_TICK_DOCS = 1000
TICK_FRACTION = 0.05
RECALL_FLOOR = 0.99

# per-layer metrics reported for each stage
STAGE_FIELDS = ["wall_s", "jobs", "driver_gap_s", "task_s", "shuffle_write_mb", "task_skew"]
STAGES = [
    "valid_docs", "exact_sigs", "exact_edges", "minhash_sigs", "band_rows",
    "candidates", "verified_pairs", "anchor_rows", "substr_pairs", "clusters",
    "dup_report",
]
SUBSTR_STAGES = ["anchor_rows", "substr_pairs"]


def start_session(work: str, ui: bool):
    from deduplicator_go_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if ui:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return get_spark("perfbench", cores=CORES, extra_conf=conf)


@dataclass
class Outcome:
    """What one timed phase measured."""
    walls: list[float] = field(default_factory=list)
    docs_per_s: list[float] = field(default_factory=list)
    recalls: list[float] = field(default_factory=list)
    false_merges: list[int] = field(default_factory=list)
    catalog: list[dict] = field(default_factory=list)
    funnel: list[dict] = field(default_factory=list)
    layers: list[dict] = field(default_factory=list)
    peak_rss_mb: float = 0.0
    peak_rss_python_mb: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def _dir_stats(root: str) -> tuple[int, int]:
    size = files = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


class Workload:
    """Set-up, then timed iterations of ``_prepare`` (untimed) and
    ``DedupPipeline.run`` (timed), each followed by untimed checks."""

    name = ""
    n_docs = 0
    with_substr = True
    # timed iterations per phase at most; fewer when ``seconds`` run out
    max_iterations = float("inf")

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.catalog_root = os.path.join(work, "catalog")

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        from deduplicator_go_spark.fixtures.webtext import generate

        self.corpus = generate(n_docs=self.n_docs, seed=self.seed)
        docs = self.corpus.documents.drop(columns=["kind"])
        self.input_text_bytes = int(docs["text"].str.encode("utf-8").str.len().sum())
        self.docs_path = self._write_docs(docs, "documents")
        self._setup_catalog(docs)

    def _write_docs(self, docs, name: str) -> str:
        path = os.path.join(self.work, f"{name}.parquet")
        docs.to_parquet(path, coerce_timestamps="us", allow_truncated_timestamps=True)
        return path

    def _setup_catalog(self, docs) -> None:
        raise NotImplementedError

    def _run_pipeline(self, docs_path: str):
        from deduplicator_go_spark.config import DedupConfig
        from deduplicator_go_spark.plans.pipeline import DedupPipeline
        from deduplicator_go_spark.sources.catalog import CheckpointCatalog

        catalog = CheckpointCatalog(self.catalog_root)
        pipe = DedupPipeline(self.spark, catalog, DedupConfig(), with_substr=self.with_substr)
        docs = self.spark.read.parquet(docs_path)
        t0 = time.time()
        report = pipe.run(docs)
        return catalog, report, t0, time.time()

    # -- one iteration ---------------------------------------------------
    def _prepare(self) -> None:
        raise NotImplementedError

    def _timed_docs(self) -> int:
        raise NotImplementedError

    def measure(self, seconds: float, tracer: Tracer | None = None) -> Outcome:
        """Timed iterations: one, then more while less than ``seconds``
        have passed since the first began, up to ``max_iterations``. An
        iteration that raises is counted as failed and records nothing."""
        out = Outcome()
        sc = self.spark.sparkContext
        sampler = RssSampler(sc._gateway.proc.pid)
        i = 0
        try:
            while i == 0 or (time.time() - start < seconds and i < self.max_iterations):
                self._prepare()
                # a full collection before each timed run: no collection of
                # earlier garbage lands in it, and the JVM heap, part of
                # peak_rss_mb, starts from the same state every time
                gc.collect()
                sc._jvm.System.gc()
                if i == 0:
                    sampler.start()
                    start = time.time()
                if tracer is not None:
                    tracer.label(i, self.name)
                try:
                    catalog, report, t0, t1 = self._run_pipeline(self.docs_path)
                    # peak memory of a fixed amount of work: how many
                    # iterations fit in ``seconds`` varies with the host's
                    # speed, and the JVM's heap grows over them
                    sampler.stop()
                    self._after(i, catalog, report, t0, t1, out, tracer)
                except Exception as e:  # noqa: BLE001 - counted, run goes on
                    out.check(False, f"iteration {i}: {type(e).__name__}: {e}")
                i += 1
        finally:
            sampler.stop()
        out.peak_rss_mb = sampler.peak_mb
        out.peak_rss_python_mb = sampler.peak_python_kb / 1024.0
        return out

    def _after(self, i, catalog, report, t0, t1, out: Outcome, tracer) -> None:
        """Untimed checks and measurements of iteration ``i``. Everything
        is appended to ``out`` at the end, so that the lists stay aligned
        by iteration when a step raises."""
        from deduplicator_go_spark.metrics import pair_recall
        from pyspark.sql import functions as F

        ran = [s for s in report.stages if not s.skipped]
        out.attempted += len(report.stages)
        n_stages = len(STAGES) if self.with_substr else len(STAGES) - len(SUBSTR_STAGES)
        out.check(len(ran) == n_stages, f"iteration {i}: ran {[s.name for s in ran]}")

        labels = catalog.read(self.spark, "clusters").select("url", "cluster_id").toPandas()
        rr = pair_recall(labels, self.corpus.truth_pairs, self.corpus.truth_clusters)
        out.check(rr.recall >= RECALL_FLOOR, f"iteration {i}: recall {rr.recall:.4f}")

        size, files = _dir_stats(self.catalog_root)
        cat = {"bytes": size, "files": files}
        funnel, layers = {}, {}
        if tracer is not None:
            cat["lineage_rows"] = catalog.lineage(self.spark).count()
            verified = catalog.read(self.spark, "verified_pairs")
            n_cand = catalog.commit_info("candidates").rows
            n_dup = verified.filter(F.col("is_dup")).count()
            funnel = {
                "candidates": n_cand,
                "verified_dup_pairs": n_dup,
                "verified_ratio": n_dup / n_cand if n_cand else 0.0,
                "substr_pairs":
                    catalog.commit_info("substr_pairs").rows if self.with_substr else 0,
                "clusters_multi": catalog.commit_info("dup_report").rows,
            }
            walls = {s.name: s.wall_ms / 1000.0 for s in ran}
            ends = {s.name: catalog.commit_info(s.name).completed_at for s in ran}
            try:
                layers = tracer.collect(i, t0, t1, walls, ends)
            except (ValueError, TimeoutError) as e:
                out.check(False, f"iteration {i}: trace: {e}")
            else:
                n_stage_jobs = sum(layers[f"stage.{s}.jobs"] for s in walls)
                out.check(
                    n_stage_jobs + layers["pipeline.outside_jobs"] == layers["pipeline.jobs"],
                    f"iteration {i}: stage jobs do not sum to pipeline.jobs",
                )
        out.walls.append(t1 - t0)
        out.docs_per_s.append(self._timed_docs() / (t1 - t0))
        out.recalls.append(rr.recall)
        out.false_merges.append(rr.false_merges)
        out.catalog.append(cat)
        out.funnel.append(funnel)
        out.layers.append(layers)


class Scratch(Workload):
    name = "scratch"
    n_docs = N_SCRATCH_DOCS
    # the first pipeline run of the driver, as one invocation of a batch
    # job makes it; later runs in the same JVM are warmer and would not
    # be comparable with it
    max_iterations = 1

    def _setup_catalog(self, docs) -> None:
        pass

    def _prepare(self) -> None:
        shutil.rmtree(self.catalog_root, ignore_errors=True)

    def _timed_docs(self) -> int:
        return self.n_docs


class Tick(Workload):
    name = "tick"
    n_docs = N_TICK_DOCS
    # the scratch workload measures the substring pass; leaving it out
    # here keeps a run within the benchmark's time budget
    with_substr = False

    def _setup_catalog(self, docs) -> None:
        # the standing-catalog build is also the driver's first, cold run
        n_base = int(len(docs) * (1 - TICK_FRACTION))
        self.n_frontier = len(docs) - n_base
        base_path = self._write_docs(docs.iloc[:n_base], "documents_base")
        self._run_pipeline(base_path)
        self.snapshot = os.path.join(self.work, "standing")
        shutil.copytree(self.catalog_root, self.snapshot)

    def _prepare(self) -> None:
        shutil.rmtree(self.catalog_root, ignore_errors=True)
        shutil.copytree(self.snapshot, self.catalog_root)

    def _timed_docs(self) -> int:
        return self.n_frontier


WORKLOADS = {w.name: w for w in (Scratch, Tick)}


def summarize(out: Outcome, input_text_bytes: int) -> dict[str, float]:
    """End-to-end values of one untraced phase (medians over iterations).
    Empty when no iteration completed."""
    if not out.walls:
        return {}
    return {
        "wall_s": statistics.median(out.walls),
        "docs_per_s": statistics.median(out.docs_per_s),
        "recall": statistics.median(out.recalls),
        "catalog_bytes_per_input_byte":
            statistics.median(c["bytes"] for c in out.catalog) / input_text_bytes,
        "peak_rss_mb": out.peak_rss_mb,
    }


def layer_metrics(traced: Outcome, untraced: Outcome) -> dict[str, float]:
    """Per-layer values of the traced phase's median-wall iteration, so
    that its per-stage job counts sum with the outside jobs to its
    ``pipeline.jobs``. Empty when no traced iteration completed."""
    if not traced.walls:
        return {}
    k = median_iteration(traced.walls)
    m = {f"stage.{s}.{f}": 0.0 for s in STAGES for f in STAGE_FIELDS}
    m.update(traced.layers[k])
    m.update({f"funnel.{f}": v for f, v in traced.funnel[k].items()})
    cat = traced.catalog[k]
    m["catalog.mb"] = cat["bytes"] / 2**20
    m["catalog.files"] = cat["files"]
    m["catalog.lineage_rows"] = cat["lineage_rows"]
    m["check.false_merges"] = max(traced.false_merges)
    m["trace.wall_s"] = statistics.median(traced.walls)
    if untraced.walls:
        m["trace.overhead_s"] = statistics.median(traced.walls) - statistics.median(untraced.walls)
    return m
