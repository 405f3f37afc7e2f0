"""Long-repeated-substring pass ("suffix" stage).

North-rule requirement with no reference analog: detect pairs of
documents sharing an identical block of >= ``min_len`` characters
(boilerplate / quotation containment).

A literal distributed suffix array over 100 TB of text is the wrong
shape for Spark; the equivalent result decomposes into the same
"cheap key first, expensive compute on collisions only" pattern as
the reference's size blocking (/root/reference/files/hash.go:37-48):

1. **anchor stage** — every doc emits sampled rolling hashes of its
   k-grams (k = substr_anchor_k, keep hash % mod == 0, i.e. density
   1/mod).  Any shared substring of length >= min_len >= k + mod
   contains at least one sampled anchor with overwhelming
   probability (winnowing-style sampling), so anchor-equality is a
   complete blocking key for long shared blocks.
2. **candidate pairs** — docs sharing an anchor hash, with the same
   cap/salt machinery as LSH hot bands (operators/lsh.py) reused
   verbatim: anchors of viral boilerplate are hot keys too.
3. **verify** — per pair, exact longest-common-substring length via
   binary search over block length with rolling-hash windows, then a
   direct string comparison at the matched offsets (exact — hash
   collisions cannot produce a false positive).

Verification is a vectorized pandas UDF over Arrow batches of pairs.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .lsh import candidate_pairs
from .minhash import PrefixHash


def anchor_table(docs: DataFrame, k: int = 64, mod: int = 16, text_col: str = "text") -> DataFrame:
    """(url, band_id=0, band_hash=anchor) — sampled k-gram hashes,
    shaped like an LSH band table so candidate_pairs() is reused."""

    from .minhash import cpu_partitions

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def anchors(texts: pd.Series) -> pd.Series:
        # one prefix-hash pass over the whole Arrow batch, then cheap
        # per-doc density filtering (batch_window_hashes yields values
        # identical to the per-doc path)
        from .minhash import batch_window_hashes

        m = np.uint64(mod)
        zero = np.uint64(0)
        return pd.Series(
            [np.unique(h[h % m == zero]).view(np.int64)
             for h in batch_window_hashes(texts, k)]
        )

    # explode_outer, NOT explode: Generate(outer=false) lets Catalyst
    # infer `size(a) > 0` and push that filter below the repartition
    # Exchange — which re-evaluates the anchors UDF on the UNSHUFFLED
    # side (scan partition count, e.g. 2 tasks for a tick frontier) and
    # then again post-exchange: the whole winnowing pass ran twice,
    # once serialized (plan-verified round 5). outer=true infers
    # nothing; the null rows an empty anchor array produces are dropped
    # by a post-Generate filter on the OUTPUT column, which cannot sink
    # below the UDF.
    return (
        docs.select("url", F.col(text_col).alias(text_col))
        .repartition(cpu_partitions(docs))
        .select("url", anchors(F.col(text_col)).alias("a"))
        .select("url", F.explode_outer("a").alias("band_hash"))
        .filter(F.col("band_hash").isNotNull())
        .withColumn("band_id", F.lit(0))
        .select("url", "band_id", "band_hash")
    )


def _matches(a: str, b: str, L: int,
             pa: PrefixHash, pb: PrefixHash) -> Iterator[tuple[int, int]]:
    """Verified offsets (x, y) with ``a[x:x+L] == b[y:y+L]``, lazily.

    Candidates are the windows whose hashes intersect (the first
    occurrence of each shared hash on each side); each is confirmed by
    a direct string comparison, so a hash collision never yields a
    false match."""
    if len(a) < L or len(b) < L:
        return
    _, ia, ib = np.intersect1d(pa.window(L), pb.window(L), return_indices=True)
    for x, y in zip(ia, ib):
        if a[x : x + L] == b[y : y + L]:
            yield int(x), int(y)


def _lcs_length(a: str, b: str, min_len: int,
                pa_h: PrefixHash | None = None,
                pb_h: PrefixHash | None = None) -> int:
    """Exact longest-common-substring length if >= min_len, else 0.

    Binary search on L over shared PrefixHash arrays (each probe is
    one vectorized windowed-diff pass, not a recompute) with "a
    verified L-gram match exists" as the predicate; a probe stops at
    its first verified match. Callers that see the same text across
    many pairs pass memoized PrefixHash objects."""
    pa_h = pa_h if pa_h is not None else PrefixHash(a)
    pb_h = pb_h if pb_h is not None else PrefixHash(b)

    def common_at(L: int) -> bool:
        return next(_matches(a, b, L, pa_h, pb_h), None) is not None

    if not common_at(min_len):
        return 0
    lo, hi = min_len, min(len(a), len(b))
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if common_at(mid):
            lo = mid
        else:
            hi = mid - 1
    return lo


def _per_pair(kernel: Callable, ta: pd.Series, tb: pd.Series, min_len: int) -> list:
    """``kernel(a, b, min_len, PrefixHash(a), PrefixHash(b))`` for each
    pair of an Arrow batch, NULL texts read as empty. Docs recur across
    pairs (template chains), so each distinct text's O(len) prefix
    array is built once per batch."""
    ph: dict[str, PrefixHash] = {}
    out = []
    for x, y in zip(ta, tb):
        x, y = x or "", y or ""
        for t in (x, y):
            if t not in ph:
                ph[t] = PrefixHash(t)
        out.append(kernel(x, y, min_len, ph[x], ph[y]))
    return out


def verify_substr_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    min_len: int = 512,
) -> DataFrame:
    """→ (url_a, url_b, lcs_len, has_block). Expensive stage — runs only
    on anchor-blocked candidates."""
    from .minhash import cpu_partitions
    from .verify import attach_texts

    # CPU-bound LCS: use all cores
    joined = attach_texts(pairs, docs).repartition(cpu_partitions(pairs))

    @F.pandas_udf(T.LongType())
    def lcs(ta: pd.Series, tb: pd.Series) -> pd.Series:
        return pd.Series(_per_pair(_lcs_length, ta, tb, min_len), dtype="int64")

    return (
        joined.select(
            "url_a", "url_b", lcs(F.col("text_a"), F.col("text_b")).alias("lcs_len")
        )
        .withColumn("has_block", F.col("lcs_len") >= F.lit(min_len))
    )


def prune_substr_candidates(
    cands: DataFrame,
    exclude_pairs: DataFrame,
    sigs: DataFrame,
) -> DataFrame:
    """Pre-verify pruning (the reference's size-blocking shape —
    expensive compute only where cheap keys collide,
    /root/reference/files/hash.go:37-48):
    - ``exclude_pairs`` (url_a, url_b) drops candidates already verified
      as whole-document near-dups;
    - ``sigs`` (url, content_sha) drops candidates whose contents are
      byte-identical (exact dup groups trivially share every block).
    Both classes are already clustered upstream; re-running LCS on them
    is the dominant wasted cost otherwise. Its one caller is the
    pipeline's substr stage (plans/pipeline.py), which has both tables."""
    from .verify import pair_endpoints

    cands = cands.join(
        exclude_pairs.select("url_a", "url_b"), ["url_a", "url_b"], "left_anti"
    )
    # semi-prune the sha table to the candidate endpoints — on an
    # incremental tick the candidates touch a sliver of the corpus
    # and the two attach joins must not shuffle every standing sha
    sha = sigs.select("url", "content_sha").join(
        pair_endpoints(cands), "url", "left_semi"
    )
    return (
        cands.join(sha.withColumnsRenamed({"url": "url_a", "content_sha": "sha_a"}), "url_a")
        .join(sha.withColumnsRenamed({"url": "url_b", "content_sha": "sha_b"}), "url_b")
        .filter(F.col("sha_a") != F.col("sha_b"))
        .select("url_a", "url_b")
    )


def substr_candidates(
    docs: DataFrame,
    min_len: int = 512,
    anchor_k: int = 64,
    anchor_mod: int = 16,
) -> DataFrame:
    """→ (url_a, url_b): the anchor-blocked pairs that may share a block
    of >= ``min_len`` characters, unverified."""
    # docs shorter than min_len cannot hold a qualifying block
    # (LCS <= min(len)): dropping them up front removes their anchor
    # explode and candidate shuffle entirely
    docs = docs.filter(F.length("text") >= min_len)
    anchors = anchor_table(docs, anchor_k, anchor_mod)
    return candidate_pairs(anchors).select("url_a", "url_b")


def substr_pairs(
    docs: DataFrame,
    min_len: int = 512,
    anchor_k: int = 64,
    anchor_mod: int = 16,
) -> DataFrame:
    """Full substring pass: anchors → blocked candidates → exact verify.

    One-shot form (the whole corpus every call); the pipeline's substr
    stage runs the same three steps tick-incrementally over a staged
    anchor table (plans/pipeline.py) so a daily ingest never re-anchors
    or re-verifies the standing corpus."""
    cands = substr_candidates(docs, min_len, anchor_k, anchor_mod)
    docs = docs.filter(F.length("text") >= min_len)
    return verify_substr_pairs(cands, docs, min_len).filter("has_block")
