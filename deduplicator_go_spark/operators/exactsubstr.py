"""ExactSubstr dedup: remove the shared block itself, keep both docs.

Whole-document dedup (exact / MinHash / SemDeDup) drops a document;
Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
Better", ExactSubstr) showed the bigger training-data win is cutting
the REPEATED SPAN out of all-but-one occurrence while keeping each
document's unique remainder. The substr stage (operators/suffix.py)
already finds the pairs sharing a >= min_len block; this module
extracts the block's offsets and rewrites the losing side with the
span removed.

Scale shape: block extraction is the same pandas-UDF-over-pairs shape
as the LCS verify (Arrow batches, per-batch PrefixHash memoization);
the rewrite is one groupBy(url) over the loser spans (interval merge
per doc is linear in its span count) joined back to the corpus — a
doc with many shared blocks is ONE group row. Keeper policy mirrors
the cluster rule: the lexicographically smaller url keeps the block
(deterministic across engines, retries, and tick orders).

Reference provenance: no analog — the reference dedups whole files by
hash (/root/reference/files/hash.go); span surgery only makes
sense for text corpora.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .minhash import PrefixHash
from .suffix import _lcs_length, _matches, _per_pair


def _lcs_block(a: str, b: str, min_len: int,
               pa: PrefixHash, pb: PrefixHash) -> tuple[int, int, int]:
    """(L, off_a, off_b) of the longest common substring if >= min_len,
    else (0, -1, -1). Among equally-long matches the smallest
    (off_a, off_b) wins — deterministic across engines and retries.
    L is suffix._lcs_length's; only the offset scan at L is added."""
    L = _lcs_length(a, b, min_len, pa, pb)
    if L == 0:
        return 0, -1, -1
    off_a, off_b = min(_matches(a, b, L, pa, pb))
    return L, off_a, off_b


def shared_blocks(
    pairs: DataFrame,
    docs: DataFrame,
    min_len: int = 512,
) -> DataFrame:
    """pairs (url_a, url_b) × docs (url, text) →
    (url_a, url_b, block_len, off_a, off_b) for pairs whose longest
    common substring reaches min_len. Offsets are CHARACTER positions
    (the PrefixHash domain), deterministic via smallest-offset win."""
    from .minhash import cpu_partitions
    from .verify import attach_texts

    joined = attach_texts(pairs, docs).repartition(cpu_partitions(pairs))

    schema = T.StructType(
        [
            T.StructField("block_len", T.LongType()),
            T.StructField("off_a", T.LongType()),
            T.StructField("off_b", T.LongType()),
        ]
    )

    @F.pandas_udf(schema)
    def block(ta: pd.Series, tb: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            _per_pair(_lcs_block, ta, tb, min_len),
            columns=["block_len", "off_a", "off_b"],
        )

    return (
        joined.select(
            "url_a", "url_b", block(F.col("text_a"), F.col("text_b")).alias("blk")
        )
        .select("url_a", "url_b", "blk.block_len", "blk.off_a", "blk.off_b")
        .filter(F.col("block_len") >= F.lit(min_len))
    )


def strip_shared_blocks(
    docs: DataFrame,
    blocks: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Rewrite every LOSING doc with its shared spans removed; the
    lexicographically smaller url of each pair keeps the block (same
    deterministic keeper rule as cluster labels). → docs columns with
    ``text_col`` rewritten, plus n_blocks_removed / chars_removed
    lineage columns (0 for untouched docs).

    A doc losing several overlapping blocks has them interval-merged
    before cutting, so removal is idempotent and order-independent.
    """
    loser_spans = blocks.select(
        F.greatest("url_a", "url_b").alias(url_col),
        F.when(
            F.col("url_a") > F.col("url_b"), F.col("off_a")
        ).otherwise(F.col("off_b")).alias("off"),
        F.col("block_len").alias("len"),
    )
    spans = loser_spans.groupBy(url_col).agg(
        F.sort_array(F.collect_list(F.struct("off", "len"))).alias("spans")
    )

    schema = T.StructType(
        [
            T.StructField("new_text", T.StringType()),
            T.StructField("n_blocks_removed", T.LongType()),
            T.StructField("chars_removed", T.LongType()),
        ]
    )

    @F.pandas_udf(schema)
    def cut(texts: pd.Series, spans_col: pd.Series) -> pd.DataFrame:
        out = []
        for t, sp in zip(texts, spans_col):
            t = t or ""
            if sp is None or len(sp) == 0:
                out.append((t, 0, 0))
                continue
            merged: list[list[int]] = []
            for s in sp:  # sorted by (off, len)
                a, b = int(s["off"]), int(s["off"]) + int(s["len"])
                if merged and a <= merged[-1][1]:
                    merged[-1][1] = max(merged[-1][1], b)
                else:
                    merged.append([a, b])
            kept = []
            pos = 0
            removed = 0
            for a, b in merged:
                kept.append(t[pos:a])
                removed += min(b, len(t)) - a
                pos = b
            kept.append(t[pos:])
            out.append(("".join(kept), len(merged), removed))
        return pd.DataFrame(
            out, columns=["new_text", "n_blocks_removed", "chars_removed"]
        )

    others = [c for c in docs.columns if c not in (url_col, text_col)]
    return (
        docs.join(spans, url_col, "left")
        .select(
            url_col,
            *others,
            cut(F.col(text_col), F.col("spans")).alias("c"),
        )
        .select(
            url_col,
            *others,
            F.col("c.new_text").alias(text_col),
            "c.n_blocks_removed",
            "c.chars_removed",
        )
    )
