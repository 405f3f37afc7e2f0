"""ExactSubstr shared-block extraction + span removal."""

from __future__ import annotations

from pyspark.sql import functions as F

from deduplicator_go_spark.operators.exactsubstr import (
    _lcs_block,
    shared_blocks,
    strip_shared_blocks,
)
from deduplicator_go_spark.operators.minhash import PrefixHash


def _blk(a, b, min_len):
    return _lcs_block(a, b, min_len, PrefixHash(a), PrefixHash(b))


def _brute(a, b):
    """(L, off_a, off_b): the longest common substring length and, among
    the matches of that length, the lexicographically smallest
    (off_a, off_b); (0, -1, -1) when no character is shared."""
    best = (0, -1, -1)
    for i in range(len(a)):
        for j in range(len(b)):
            L = 0
            while i + L < len(a) and j + L < len(b) and a[i + L] == b[j + L]:
                L += 1
            if L > best[0] or (L == best[0] and L and (i, j) < (best[1], best[2])):
                best = (L, i, j)
    return best


def test_lcs_block_matches_bruteforce():
    cases = [
        ("xxABCDEFyy", "zzABCDEFqq", 4),
        ("ABCDEF", "ABCDEF", 3),
        ("aaaaaa", "aaaa", 2),          # periodic: smallest offsets win
        ("abcdef", "uvwxyz", 3),        # no match
        ("ppSHAREDtailw", "SHAREDzz", 5),
        ("CDxxABxx", "ABzzCD", 2),      # two distinct blocks: (0, 4) wins
        ("xyzABC", "ABCxyz", 3),        # (0, 3) wins over (3, 0)
        ("QRSTuvWXYZ", "WXYZabQRST", 4),
        ("abababab", "babab", 3),       # periodic, shifted
    ]
    for a, b, m in cases:
        bl, ba, bb = _brute(a, b)
        if bl < m:
            assert _blk(a, b, m) == (0, -1, -1), (a, b)
        else:
            assert _blk(a, b, m) == (bl, ba, bb), (a, b)


def test_shared_blocks_and_strip(spark):
    block = "B" * 60
    docs = spark.createDataFrame(
        [
            ("a1", "w" * 10 + block + "w" * 10),
            ("b1", block + "z" * 15),
            ("c1", "unrelated " * 10),
        ],
        "url string, text string",
    )
    pairs = spark.createDataFrame([("a1", "b1")], "url_a string, url_b string")
    blocks = shared_blocks(pairs, docs, min_len=40)
    row = blocks.collect()[0]
    assert (row["block_len"], row["off_a"], row["off_b"]) == (60, 10, 0)

    out = {r["url"]: r for r in strip_shared_blocks(docs, blocks).collect()}
    assert out["a1"]["text"] == "w" * 10 + block + "w" * 10  # keeper untouched
    assert out["a1"]["n_blocks_removed"] == 0
    assert out["b1"]["text"] == "z" * 15                      # span cut
    assert out["b1"]["n_blocks_removed"] == 1
    assert out["b1"]["chars_removed"] == 60
    assert out["c1"]["text"].startswith("unrelated")


def test_strip_merges_overlapping_spans(spark):
    text = "0123456789" * 10  # 100 chars
    docs = spark.createDataFrame([("kz", text)], "url string, text string")
    blocks = spark.createDataFrame(
        [
            ("aa", "kz", 30, 0, 10),   # loser kz: [10, 40)
            ("ab", "kz", 25, 0, 30),   # overlaps -> merged [10, 55)
            ("ac", "kz", 10, 0, 80),   # disjoint  [80, 90)
        ],
        "url_a string, url_b string, block_len long, off_a long, off_b long",
    )
    r = strip_shared_blocks(docs, blocks).collect()[0]
    assert r["n_blocks_removed"] == 2          # merged + disjoint
    assert r["chars_removed"] == 45 + 10
    assert r["text"] == text[:10] + text[55:80] + text[90:]


def test_strip_is_idempotent_on_untouched(spark):
    docs = spark.createDataFrame(
        [("u1", "hello world")], "url string, text string"
    )
    empty = spark.createDataFrame(
        [], "url_a string, url_b string, block_len long, off_a long, off_b long"
    )
    r = strip_shared_blocks(docs, empty).collect()[0]
    assert r["text"] == "hello world"
    assert r["n_blocks_removed"] == 0 and r["chars_removed"] == 0
