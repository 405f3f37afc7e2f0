"""Property-based tests (hypothesis) for the hashing/clustering cores.

The reference has no property tests (SURVEY.md §5); these cover the
invariants the scenario tests can't sweep: arbitrary unicode text,
random graphs, random edit patterns.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from deduplicator_go_spark.operators.minhash import (
    PrefixHash,
    _batch_minhash,
    _perm_coeffs,
    shingle_hashes,
)
from deduplicator_go_spark.operators.exactsubstr import _lcs_block
from deduplicator_go_spark.operators.suffix import _lcs_length

TEXT = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FFF),
    min_size=0,
    max_size=400,
)


@settings(max_examples=60, deadline=None)
@given(TEXT, st.integers(2, 8))
def test_shingle_hashes_match_string_shingles(t, k):
    got = shingle_hashes(t, k)
    want = {t[i : i + k] for i in range(len(t) - k + 1)} if len(t) >= k else ({t} if t else set())
    assert len(got) == len(want)


@settings(max_examples=40, deadline=None)
@given(TEXT, TEXT, st.integers(3, 6))
def test_common_shingles_hash_equal(a, b, k):
    """Shared shingles must produce shared hashes (position-independent)."""
    sa, sb = shingle_hashes(a, k), shingle_hashes(b, k)
    str_common = {a[i : i + k] for i in range(len(a) - k + 1)} & {
        b[i : i + k] for i in range(len(b) - k + 1)
    }
    hash_common = np.intersect1d(sa, sb)
    # hash-set intersection size == string-set intersection size
    # (equality, not >=: no collisions expected at these sizes)
    if len(a) >= k and len(b) >= k:
        assert len(hash_common) == len(str_common)


@settings(max_examples=30, deadline=None)
@given(st.text(alphabet="abcdef ", min_size=50, max_size=300))
def test_minhash_identical_texts_identical_sigs(t):
    a, b = _perm_coeffs(32, 7)
    import pandas as pd

    sigs = _batch_minhash(pd.Series([t, t]), 4, a, b)
    # determinism + batch-position independence
    assert list(sigs[0]) == list(sigs[1])


@settings(max_examples=25, deadline=None)
@given(
    st.text(alphabet="abcdefgh", min_size=0, max_size=120),
    st.text(alphabet="abcdefgh", min_size=0, max_size=120),
    st.text(alphabet="wxyz", min_size=0, max_size=80),
)
def test_lcs_detects_injected_block(prefix, suffix, noise):
    block = "SHAREDBLOCK" * 6  # 66 chars
    a = prefix + block + suffix
    b = noise + block
    L = _lcs_length(a, b, min_len=len(block))
    assert L >= len(block)


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_lcs_exactness_against_bruteforce(data):
    a = data.draw(st.text(alphabet="abc", min_size=5, max_size=40))
    b = data.draw(st.text(alphabet="abc", min_size=5, max_size=40))
    # brute-force longest common substring
    best = 0
    for i in range(len(a)):
        for j in range(len(b)):
            k = 0
            while i + k < len(a) and j + k < len(b) and a[i + k] == b[j + k]:
                k += 1
            best = max(best, k)
    min_len = 2
    got = _lcs_length(a, b, min_len)
    assert _lcs_block(a, b, min_len, PrefixHash(a), PrefixHash(b))[0] == got
    if best >= min_len:
        assert got == best
    else:
        assert got == 0


@settings(max_examples=40, deadline=None)
@given(TEXT, st.integers(1, 50))
def test_prefix_hash_window_count(t, k):
    ph = PrefixHash(t)
    w = ph.window(k)
    n = len(t)
    expected = 0 if n == 0 else max(n - min(k, n) + 1, 0)
    assert len(w) == expected
