"""MinHash/LSH statistical behavior at the frozen reference config
(shingle_size=5, num_perm=128, b=32, r=4, seed=42) — known-Jaccard
pairs must collide; the synthetic corpus must reach recall ≥ 0.99."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from deduplicator_go_spark.config import DEFAULT_CONFIG as C
from deduplicator_go_spark.operators import exact
from deduplicator_go_spark.operators.lsh import band_table, candidate_pairs
from deduplicator_go_spark.operators.minhash import (
    estimated_jaccard,
    minhash_signatures,
    shingle_hashes,
)
from deduplicator_go_spark.operators.verify import verify_pairs


def test_signature_shape_and_determinism(spark):
    df = spark.createDataFrame([("u1", "abcdefghij" * 30)], "url string, text string")
    s1 = minhash_signatures(df, C.shingle_size, C.num_perm, C.minhash_seed).collect()[0]["sig"]
    s2 = minhash_signatures(df, C.shingle_size, C.num_perm, C.minhash_seed).collect()[0]["sig"]
    assert len(s1) == C.num_perm
    assert s1 == s2


def test_estimated_jaccard_tracks_true(spark):
    rng = np.random.default_rng(3)
    vocab = [f"tok{i}" for i in range(800)]
    base_toks = list(rng.choice(vocab, 500))
    edited = base_toks.copy()
    for _ in range(15):
        edited[int(rng.integers(0, len(edited)))] = vocab[int(rng.integers(0, 800))]
    a_txt, b_txt = " ".join(base_toks), " ".join(edited)
    sa = shingle_hashes(a_txt, C.shingle_size)
    sb = shingle_hashes(b_txt, C.shingle_size)
    true_j = np.intersect1d(sa, sb).size / np.union1d(sa, sb).size

    df = spark.createDataFrame([("a", a_txt), ("b", b_txt)], "url string, text string")
    sigs = minhash_signatures(df, C.shingle_size, C.num_perm, C.minhash_seed)
    wide = (
        sigs.filter("url = 'a'")
        .crossJoin(sigs.filter("url = 'b'").withColumnsRenamed({"url": "u2", "sig": "sig2"}))
    )
    est = wide.select(
        estimated_jaccard(F.col("sig"), F.col("sig2"), C.num_perm).alias("e")
    ).collect()[0]["e"]
    assert abs(est - true_j) < 0.12


def test_lsh_finds_known_near_pairs_and_recall(spark, docs, corpus):
    valid = exact.valid_documents(docs)
    sigs = minhash_signatures(valid, C.shingle_size, C.num_perm, C.minhash_seed)
    bands = band_table(sigs, C.lsh_bands, C.lsh_rows)
    cands = candidate_pairs(bands, C.band_pair_cap, C.band_salt).cache()

    verified = verify_pairs(cands, valid, C.shingle_size, C.verify_threshold)
    found = {
        (r["url_a"], r["url_b"])
        for r in verified.filter("is_dup").select("url_a", "url_b").collect()
    }

    truth = corpus.truth_pairs
    want = truth[(truth["kind"].isin(["exact", "near"])) & (truth["jaccard"] >= C.verify_threshold)]
    want_pairs = {
        tuple(sorted((a, b))) for a, b in zip(want["url_a"], want["url_b"])
    }
    hit = sum(1 for p in want_pairs if p in found)
    recall = hit / max(1, len(want_pairs))
    assert recall >= 0.99, f"recall {recall} on {len(want_pairs)} truth pairs"

    # negatives (same-length distinct docs) must NOT be verified as dups
    neg = truth[truth["kind"] == "negative"]
    neg_pairs = {tuple(sorted((a, b))) for a, b in zip(neg["url_a"], neg["url_b"])}
    assert not (neg_pairs & found)


def test_hot_band_chaining_keeps_edges_linear(spark, docs, corpus):
    valid = exact.valid_documents(docs)
    sigs = minhash_signatures(valid, C.shingle_size, C.num_perm, C.minhash_seed)
    bands = band_table(sigs, C.lsh_bands, C.lsh_rows)
    tmpl = corpus.documents[corpus.documents["kind"] == "template"]["url"]
    n_tmpl = len(tmpl)
    cands = candidate_pairs(bands, band_pair_cap=8, band_salt=4)
    tmpl_set = set(tmpl)
    tmpl_edges = [
        r
        for r in cands.collect()
        if r["url_a"] in tmpl_set and r["url_b"] in tmpl_set
    ]
    # all-pairs would be n*(n-1)/2 per band; chaining keeps it near-linear
    assert len(tmpl_edges) < 6 * n_tmpl
    assert any(r["origin"] == "chain" for r in tmpl_edges)


def test_batch_window_hashes_parity():
    """The one-pass batched kernel must produce values identical to the
    per-doc PrefixHash path, including the short-doc clamp semantics."""
    import random

    import numpy as np

    from deduplicator_go_spark.operators.minhash import (
        PrefixHash,
        batch_window_hashes,
        shingle_hashes,
    )

    random.seed(7)
    texts = ["".join(random.choice("abcdef é中") for _ in range(random.randint(0, 150)))
             for _ in range(64)] + ["", "ab", "x" * 63, "y" * 64, None]
    for k in (5, 64):
        clamped = batch_window_hashes(texts, k, clamp_short=True)
        plain = batch_window_hashes(texts, k, clamp_short=False)
        for t, c, p in zip(texts, clamped, plain):
            t = t or ""
            assert np.array_equal(np.unique(c), shingle_hashes(t, k))
            want_plain = (PrefixHash(t).window(k) if len(t) >= k
                          else np.empty(0, np.uint64))
            assert np.array_equal(p, want_plain)


def test_batch_window_hashes_chunked_parity(monkeypatch):
    """Chunking the batch concatenation (power-table memory bound) must
    not change any hash: force tiny chunks and compare to one-shot."""
    import numpy as np

    from deduplicator_go_spark.operators import minhash as MH

    texts = [f"text number {i} with some padding words {i}" * (i % 7 + 1)
             for i in range(40)] + ["", "ab"]
    want = MH.batch_window_hashes(texts, 5, clamp_short=True)
    monkeypatch.setattr(MH, "_CONCAT_SEG", 97)  # force many tiny chunks
    got = MH.batch_window_hashes(texts, 5, clamp_short=True)
    for w, g in zip(want, got):
        assert np.array_equal(w, g)


def test_band_table_precomputed_bands_fast_path(spark, tmp_path):
    """band_table over a table carrying a precomputed `bands` column
    (the pipeline's signature stage writes one so the explode never
    decodes the 128-bigint sig) must be row-identical to computing the
    band hashes from sig, and its scan must prune the sig column."""
    from deduplicator_go_spark.operators.lsh import band_hash_array

    df = spark.createDataFrame(
        [(f"u{i}", f"document body text {i % 7} with shared phrasing " * 4)
         for i in range(24)],
        "url string, text string",
    )
    sigs = minhash_signatures(df, C.shingle_size, C.num_perm, C.minhash_seed)
    want = sorted(
        band_table(sigs, C.lsh_bands, C.lsh_rows).collect(),
        key=lambda r: (r.url, r.band_id),
    )
    pq = str(tmp_path / "sigs.parquet")
    sigs.withColumn("bands", band_hash_array(C.lsh_bands, C.lsh_rows)).write.parquet(pq)
    got_df = band_table(spark.read.parquet(pq), C.lsh_bands, C.lsh_rows)
    got = sorted(got_df.collect(), key=lambda r: (r.url, r.band_id))
    assert got == want
    # column-pruned: the fast path's parquet scan reads url+bands only
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "bands" in read_schema and "sig:" not in read_schema


def test_verify_sig16_fast_path_matches_full_sig(spark):
    """verify_pairs over a signature table carrying sig16 (four 16-bit
    lanes packed per long) must classify identically to the full
    64-bit sig — equal components stay equal; a divergence needs a
    2^-16 lane collision, absent from this fixture."""
    texts = [
        ("a", "the quick brown fox jumps over the lazy dog " * 8),
        ("b", "the quick brown fox jumps over the lazy dog " * 8),
        ("c", "a completely different document about spark shuffles " * 8),
        ("d", "the quick brown fox jumps over the lazy cat " * 8),
    ]
    docs = spark.createDataFrame(texts, "url string, text string")
    sigs = minhash_signatures(docs, C.shingle_size, C.num_perm, C.minhash_seed)
    pairs = spark.createDataFrame(
        [("a", "b", "pair"), ("a", "c", "pair"), ("a", "d", "pair")],
        "url_a string, url_b string, origin string",
    )
    full = verify_pairs(pairs, docs, C.shingle_size, 0.8, sigs=sigs,
                        num_perm=C.num_perm)
    from deduplicator_go_spark.operators.minhash import packed_sig16

    compact = verify_pairs(
        pairs, docs, C.shingle_size, 0.8,
        sigs=sigs.withColumn("sig16", packed_sig16(C.num_perm)),
        num_perm=C.num_perm,
    )
    # the from-scratch path skips the endpoint semi-prune entirely —
    # same classifications either way
    unpruned = verify_pairs(
        pairs, docs, C.shingle_size, 0.8,
        sigs=sigs.withColumn("sig16", packed_sig16(C.num_perm)),
        num_perm=C.num_perm, prune_endpoints=False,
    )
    key = lambda r: (r.url_a, r.url_b)
    want = sorted(full.collect(), key=key)
    assert sorted(compact.collect(), key=key) == want
    assert sorted(unpruned.collect(), key=key) == want


def test_pipeline_sig_table_derived_columns_consistent(spark, tmp_path, docs):
    """The pipeline's minhash_sigs table stores exactly (url, bands,
    sig16), and for every valid doc bands == the band hashes and sig16
    == packed_sig16 of the signature recomputed from its valid_docs
    text — the contract the band_rows/verify column-pruned paths rely
    on."""
    from deduplicator_go_spark.config import DedupConfig
    from deduplicator_go_spark.operators.lsh import band_hash_array
    from deduplicator_go_spark.operators.minhash import minhash_signatures, packed_sig16
    from deduplicator_go_spark.plans.pipeline import DedupPipeline
    from deduplicator_go_spark.sources.catalog import CheckpointCatalog

    c = DedupConfig()
    pipe = DedupPipeline(spark, CheckpointCatalog(str(tmp_path / "ck")), c)
    pipe.run(docs.limit(200))
    t = pipe.catalog.read(spark, "minhash_sigs")
    assert set(t.columns) == {"url", "bands", "sig16"}
    want = minhash_signatures(
        pipe.catalog.read(spark, "valid_docs").select("url", "text"),
        c.shingle_size, c.num_perm, c.minhash_seed,
    ).select(
        "url",
        band_hash_array(c.lsh_bands, c.lsh_rows).alias("want_bands"),
        packed_sig16(c.num_perm).alias("want_sig16"),
    )
    n = want.count()
    assert n > 0 and t.count() == n
    joined = t.join(want, "url")
    assert joined.count() == n
    bad = joined.filter(
        (F.col("bands") != F.col("want_bands")) | (F.col("sig16") != F.col("want_sig16"))
    ).count()
    assert bad == 0


def test_band_table_fast_path_guards_band_count(spark):
    """A precomputed 'bands' column built under a DIFFERENT banding
    config must raise, not silently mis-bucket (ADVICE r5)."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    from deduplicator_go_spark.operators.lsh import band_table

    sigs = spark.createDataFrame(
        [("u1", [1, 2, 3])], "url string, bands array<bigint>"
    )
    # matching config: fast path works
    assert band_table(sigs, bands=3, rows=4).count() == 3
    # mismatched config: per-row guard raises
    with pytest.raises(SparkRuntimeException, match="different banding config"):
        band_table(sigs, bands=8, rows=4).count()


def test_pipeline_schema_version_gates_catalog_reuse(spark, tmp_path, monkeypatch):
    """A catalog written under a different TABLE_SCHEMA_VERSION must be
    wiped on the next run, not appended to with a mixed schema
    (ADVICE r5, medium): params_hash alone cannot see code-generation
    schema changes."""
    from deduplicator_go_spark.config import DedupConfig
    from deduplicator_go_spark.plans import pipeline as P
    from deduplicator_go_spark.sources.catalog import CheckpointCatalog

    c = DedupConfig()
    p1 = P.DedupPipeline(spark, CheckpointCatalog(str(tmp_path / "ck")), c)
    p2 = P.DedupPipeline(spark, CheckpointCatalog(str(tmp_path / "ck")), c)
    assert p1.ph == p2.ph  # same code generation + params → reusable
    monkeypatch.setattr(P, "TABLE_SCHEMA_VERSION", P.TABLE_SCHEMA_VERSION + 1)
    p3 = P.DedupPipeline(spark, CheckpointCatalog(str(tmp_path / "ck")), c)
    assert p3.ph != p1.ph  # schema bump → incremental_begin wipes


def test_hash_arrays_bit_identical_to_column_form(spark):
    """band_hash_array and packed_sig16 are single SQL expressions; their
    values must equal, bit for bit, the same hashes built per element
    with the Column API (INT band-id and mask literals), so committed
    catalogs stay valid."""
    from deduplicator_go_spark.operators.lsh import band_hash_array
    from deduplicator_go_spark.operators.minhash import packed_sig16

    def bands_ref(bands, rows, col):
        return F.array(*[
            F.xxhash64(*[F.element_at(F.col(col), b * rows + i + 1) for i in range(rows)],
                       F.lit(b))
            for b in range(bands)
        ])

    def sig16_ref(num_perm, col):
        def lane(idx):
            return F.xxhash64(F.element_at(F.col(col), idx)).bitwiseAND(F.lit(0xFFFF))

        return F.array(*[
            F.shiftleft(lane(4 * i + 1), 48)
            .bitwiseOR(F.shiftleft(lane(4 * i + 2), 32))
            .bitwiseOR(F.shiftleft(lane(4 * i + 3), 16))
            .bitwiseOR(lane(4 * i + 4))
            for i in range(num_perm // 4)
        ])

    rng = np.random.default_rng(5)
    sigs = rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max,
                        size=(64, C.num_perm), dtype=np.int64, endpoint=True)
    sigs[0, :4] = [np.iinfo(np.int64).min, -1, 0, np.iinfo(np.int64).max]
    df = spark.createDataFrame(
        [(i, [int(v) for v in row]) for i, row in enumerate(sigs)],
        "id int, sig array<bigint>",
    )
    # a column name that needs quoting inside the SQL string
    for bands, rows, col in ((C.lsh_bands, C.lsh_rows, "sig"), (16, 8, "sig"),
                             (C.lsh_bands, C.lsh_rows, "s ig")):
        src = df if col == "sig" else df.withColumnRenamed("sig", col)
        out = src.select(
            (band_hash_array(bands, rows, col) == bands_ref(bands, rows, col)).alias("b"),
            (packed_sig16(C.num_perm, col) == sig16_ref(C.num_perm, col)).alias("p"),
            F.size(band_hash_array(bands, rows, col)).alias("nb"),
        ).collect()
        assert all(r.b and r.p and r.nb == bands for r in out)
