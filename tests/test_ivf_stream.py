"""IVF ANN + empty-input pipeline edge."""

from __future__ import annotations

import numpy as np
import pytest

from deduplicator_go_spark.operators import ivf, similarity


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(11)
    # two well-separated blobs so IVF cells are meaningful
    a = rng.standard_normal((30, 12)) + 4.0
    b = rng.standard_normal((30, 12)) - 4.0
    mat = np.vstack([a, b]).astype(np.float32)
    mat[1] = mat[0] + 0.01 * rng.standard_normal(12).astype(np.float32)
    rows = [(i, [float(x) for x in mat[i]]) for i in range(60)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_centroids_deterministic(emb):
    c1 = ivf.train_centroids(emb, n_cells=4, seed=7)
    c2 = ivf.train_centroids(emb, n_cells=4, seed=7)
    assert np.allclose(c1, c2)


def test_ivf_topk_matches_exact_nn(emb):
    exact_nn = {r["id_a"]: r["id_b"] for r in similarity.brute_force_topk(emb, k=1).collect()}
    approx = {r["id_a"]: r["id_b"] for r in
              ivf.ivf_topk(emb, k=1, n_cells=4, n_probe=2).collect()}
    # near-dup pair must be found; overall hit rate high with 2 probes
    assert approx[0] == exact_nn[0]
    hits = sum(1 for k in exact_nn if approx.get(k) == exact_nn[k])
    assert hits / len(exact_nn) >= 0.9


def test_ivf_hot_cell_salting_preserves_results(spark):
    """A deliberately clustered corpus (every vector in one tight blob →
    one hot cell) must give identical output with a tiny cell_cap
    (heavy salting) and with an effectively-unbounded cap: the salt
    changes task shape, never candidate membership."""
    rng = np.random.default_rng(3)
    base = rng.standard_normal(12)
    mat = (base + 0.05 * rng.standard_normal((80, 12))).astype(np.float32)
    rows = [(i, [float(x) for x in mat[i]]) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    kw = dict(k=3, n_cells=4, n_probe=2, seed=9)
    salted = ivf.ivf_topk(emb, cell_cap=8, **kw).collect()
    plain = ivf.ivf_topk(emb, cell_cap=1 << 30, **kw).collect()
    key = lambda r: (r["id_a"], r["rank"])
    assert sorted(((r["id_a"], r["id_b"], r["cos"], r["rank"]) for r in salted)) == \
           sorted(((r["id_a"], r["id_b"], r["cos"], r["rank"]) for r in plain))


def test_pipeline_empty_input(spark, tmp_path):
    from deduplicator_go_spark.config import DedupConfig
    from deduplicator_go_spark.plans.pipeline import DedupPipeline
    from deduplicator_go_spark.sources.catalog import CheckpointCatalog

    empty = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    pipe = DedupPipeline(spark, CheckpointCatalog(str(tmp_path / "c")), DedupConfig(),
                         with_substr=True)
    report = pipe.run(empty)
    assert report.docs_in == 0
    clusters = pipe.catalog.read(spark, "clusters")
    assert clusters.count() == 0
