"""Candidate-pair verification: exact character-shingle Jaccard.

The "cheap key first, expensive compute on collisions only" shape of
the reference's size-blocking (/root/reference/files/hash.go:37-48):
LSH surfaces candidates; only those pay the exact-Jaccard cost.

Verification recomputes shingle hash *sets* (not MinHash estimates)
with the same rolling hash as the signature stage, via a vectorized
pandas UDF over the joined pair texts — Arrow batches, numpy set
intersection per pair, no per-row Python serde.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .minhash import shingle_hashes


def pair_endpoints(pairs: DataFrame) -> DataFrame:
    """Distinct urls appearing on either side of the pair edges."""
    return (
        pairs.select(F.col("url_a").alias("url"))
        .unionByName(pairs.select(F.col("url_b").alias("url")))
        .distinct()
    )


def attach_texts(pairs: DataFrame, docs: DataFrame) -> DataFrame:
    """Join both endpoints' texts onto the candidate edges.

    The docs side is semi-pruned to the pair endpoints first, so only
    texts that are actually compared move through the two attach
    joins — on an incremental tick the pair frontier touches a tiny
    fraction of the standing corpus, and without the prune both joins
    shuffle every standing text per tick. AQE turns the pruned side
    into a broadcast when it is small (runtime stats, not estimates).
    """
    texts = docs.select("url", "text").join(
        pair_endpoints(pairs), "url", "left_semi"
    )
    # both attach joins consume this subtree; unpinned, each re-runs the
    # standing-docs scan + semi-join (two full corpus passes per call).
    # The pinned size is ∝ distinct pair endpoints (never the corpus),
    # and localCheckpoint spills MEMORY_AND_DISK, so one materialized
    # endpoint-text table is strictly less IO than the second scan.
    texts = texts.localCheckpoint(eager=True)
    return (
        pairs.join(texts.withColumnsRenamed({"url": "url_a", "text": "text_a"}), "url_a")
        .join(texts.withColumnsRenamed({"url": "url_b", "text": "text_b"}), "url_b")
    )


def exact_jaccard_udf(shingle_size: int):
    @F.pandas_udf(T.DoubleType())
    def jac(ta: pd.Series, tb: pd.Series) -> pd.Series:
        # docs recur across pairs (template chains, dup clusters):
        # memoize shingle sets per distinct text within the batch
        cache: dict[str, np.ndarray] = {}

        def sh(t: str) -> np.ndarray:
            s = cache.get(t)
            if s is None:
                s = shingle_hashes(t, shingle_size)
                cache[t] = s
            return s

        out = np.empty(len(ta), dtype=np.float64)
        for i in range(len(ta)):
            sa = sh(ta.iloc[i] or "")
            sb = sh(tb.iloc[i] or "")
            if len(sa) == 0 and len(sb) == 0:
                out[i] = 1.0
                continue
            inter = np.intersect1d(sa, sb, assume_unique=True).size
            out[i] = inter / (len(sa) + len(sb) - inter)
        return pd.Series(out)

    return jac


def verify_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    shingle_size: int = 5,
    threshold: float = 0.8,
    sigs: DataFrame | None = None,
    est_margin: float = 0.15,
    num_perm: int | None = None,
    prune_endpoints: bool = True,
) -> DataFrame:
    """→ (url_a, url_b, origin, jaccard, is_dup, verify_tier).

    ``prune_endpoints`` controls the signature-table semi-prune before
    the attach joins. On an incremental tick the pair frontier touches
    a sliver of the standing corpus and the prune is essential; on a
    from-scratch run the pair endpoints ARE roughly the corpus, so the
    prune is a pure extra pass + materialization barrier — the
    pipeline passes False there and the attach joins read the
    column-pruned signature table directly.

    Tiered verification when ``sigs`` (url, sig or sig16) is provided:
    signature agreement (native zip_with — JVM-side, scales with the
    shuffle) classifies clear cases, and only the borderline band
    |est - threshold| < est_margin pays the exact shingle-Jaccard
    pandas UDF. With 128 permutations the estimator's sd is
    sqrt(j(1-j)/128) ≈ 0.035, so a 0.15 margin is > 4 sd — the
    probability of tier-1 misclassifying a pair across the threshold
    is < 1e-4 per pair, and every borderline pair is still decided by
    the exact computation. ``verify_tier`` records which path decided
    each pair ('est' or 'exact').

    Without ``sigs``, every pair is exact-verified (tier 'exact').
    """
    from .minhash import cpu_partitions, estimated_jaccard, estimated_jaccard_packed

    jac = exact_jaccard_udf(shingle_size)

    if sigs is None:
        joined = attach_texts(pairs, docs).repartition(cpu_partitions(pairs))
        return joined.select(
            "url_a",
            "url_b",
            "origin",
            jac(F.col("text_a"), F.col("text_b")).alias("jaccard"),
        ).withColumn("is_dup", F.col("jaccard") >= F.lit(threshold)).withColumn(
            "verify_tier", F.lit("exact")
        )

    # prefer the compact packed agreement column when the signature
    # table carries one (the pipeline's table stores sig16 in place of
    # sig: four 16-bit lanes per long). Equal components stay equal, a false
    # agreement is a deterministic 2^-16 lane collision (est bias
    # ≤ 2^-16, ≪ the tier's 4σ borderline margin), and the two attach
    # joins below decode/shuffle a QUARTER of the sig bytes — this
    # stage is bandwidth-bound, not compute-bound.
    packed = "sig16" in sigs.columns
    sig_col = "sig16" if packed else "sig"
    if num_perm is None:
        # caller didn't thread the config through — probe the signature
        # table (one tiny extra job). Callers on the hot path (the
        # pipeline) pass num_perm explicitly to avoid this. Probe the
        # column the tier will actually read: a sigs table carrying
        # only sig16 previously raised on the unconditional 'sig'
        # select, and probing sig here decoded 4x the bytes for
        # nothing (ADVICE r5, low).
        first = sigs.select(F.col(sig_col).alias("s")).first()
        if first is None:
            # empty signature table → no candidates to verify
            return pairs.select(
                "url_a", "url_b", "origin",
                F.lit(None).cast("double").alias("jaccard"),
                F.lit(False).alias("is_dup"),
                F.lit("est").alias("verify_tier"),
            )
        # sig16 packs four 16-bit lanes per long
        num_perm = 4 * len(first["s"]) if packed else len(first["s"])
    # semi-prune the signature table to the pair endpoints before the
    # two attach joins: without it each join shuffles the FULL standing
    # signature table (url + num_perm bigints per row) even when the
    # pair frontier is a tick's sliver of the corpus. The pruned side
    # is one pass over sigs; AQE broadcasts the endpoint list when its
    # runtime size allows.
    s = sigs.select("url", F.col(sig_col).alias("sig"))
    if prune_endpoints:
        s = s.join(pair_endpoints(pairs), "url", "left_semi")
        # the pruned signature slice feeds BOTH attach joins; unpinned,
        # each join's exchange re-runs the semi-join — two extra passes
        # over the full standing signature table per call (per tick, on
        # the pipeline). Un-pruned (from-scratch) the parquet scan is
        # its own pin — no checkpoint barrier needed.
        s = s.localCheckpoint(eager=True)
    # Both the clear and borderline branches consume this estimate
    # table; without pinning it, the union plan re-runs the two sig
    # joins (the whole signature table shuffled twice more) per branch.
    # Post-estimate rows are tiny (urls + origin + double), so
    # materializing once is far cheaper than one re-derivation.
    est_fn = estimated_jaccard_packed if packed else estimated_jaccard
    with_sigs = (
        pairs.join(s.withColumnsRenamed({"url": "url_a", "sig": "sig_a"}), "url_a")
        .join(s.withColumnsRenamed({"url": "url_b", "sig": "sig_b"}), "url_b")
        .withColumn("est", est_fn(F.col("sig_a"), F.col("sig_b"), num_perm))
        .drop("sig_a", "sig_b")
        .localCheckpoint(eager=True)
    )
    clear = with_sigs.filter(
        (F.col("est") >= threshold + est_margin) | (F.col("est") < threshold - est_margin)
    ).select(
        "url_a",
        "url_b",
        "origin",
        F.round("est", 6).alias("jaccard"),
        (F.col("est") >= threshold).alias("is_dup"),
        F.lit("est").alias("verify_tier"),
    )
    borderline = with_sigs.filter(
        (F.col("est") < threshold + est_margin) & (F.col("est") >= threshold - est_margin)
    ).select("url_a", "url_b", "origin")
    exact = (
        attach_texts(borderline, docs)
        .repartition(cpu_partitions(borderline))
        .select(
            "url_a",
            "url_b",
            "origin",
            jac(F.col("text_a"), F.col("text_b")).alias("jaccard"),
        )
        .withColumn("is_dup", F.col("jaccard") >= F.lit(threshold))
        .withColumn("verify_tier", F.lit("exact"))
    )
    return clear.unionByName(exact)
