"""MinHash signatures over character shingles — vectorized pandas UDF.

The reference's only content signature is a full SHA-256
(/root/reference/files/files.go:119-155, computed row-at-a-time by a
4-goroutine worker pool, files/process.go:244-307).  The north rule
extends this with MinHash for near-duplicate detection; per
BASELINE.json:input_hint the implementation must be vectorized
pandas/Arrow — no per-row Python in the hot path.

Implementation notes (scale):
- shingle hashing is a polynomial rolling hash over UTF-32 code
  points, computed with numpy prefix products mod 2^64 (natural
  uint64 wraparound) — O(len) per doc, no Python loop over chars;
- the per-permutation min is computed for a whole Arrow batch at
  once: all docs' unique shingle hashes are concatenated and
  ``np.minimum.reduceat`` reduces per-doc segments, so the inner
  loop is over the 128 permutations, not over documents;
- permutations are affine maps h -> a*h + b (mod 2^64) with odd
  ``a`` — bijections on Z_2^64, seeded deterministically.

Empty/short docs get an all-MAX sentinel signature and are excluded
upstream by the valid-row filter (reference F3 analog).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_BASE = np.uint64(1099511628211)  # FNV-ish odd multiplier for rolling hash
_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)
_BINV = np.uint64(pow(int(_BASE), -1, 1 << 64))  # modular inverse, mod 2^64

# power tables grow geometrically and are shared per worker process —
# recomputing them per call dominated the UDF cost before this cache
_POW = np.array([1], dtype=np.uint64)
_BINVP = np.array([1], dtype=np.uint64)


def _power_tables(n: int) -> tuple[np.ndarray, np.ndarray]:
    """(B^0..B^n, Binv^0..Binv^{n-1}) from the process-wide cache."""
    global _POW, _BINVP
    if len(_POW) <= n:
        m = max(n + 1, 2 * len(_POW))
        pw = np.empty(m, dtype=np.uint64)
        pw[0] = np.uint64(1)
        np.multiply.accumulate(np.full(m - 1, _BASE, dtype=np.uint64), out=pw[1:])
        bp = np.empty(m, dtype=np.uint64)
        bp[0] = np.uint64(1)
        np.multiply.accumulate(np.full(m - 1, _BINV, dtype=np.uint64), out=bp[1:])
        _POW, _BINVP = pw, bp
    return _POW, _BINVP


def _mix(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — decorrelates the rolling-hash structure."""
    h = h + np.uint64(0x9E3779B97F4A7C15)
    h ^= h >> np.uint64(30)
    h *= np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> np.uint64(27)
    h *= np.uint64(0x94D049BB133111EB)
    h ^= h >> np.uint64(31)
    return h


class PrefixHash:
    """Polynomial prefix hashes of a text (mod 2^64); windowed k-gram
    hashes for ANY k are then one vectorized pass — the LCS binary
    search probes many k against the same prefix array.

    P[i] = sum_{j<i} x[j] * B^(i-1-j) computed closed-form via scaled
    prefix sums (odd B is invertible mod 2^64)."""

    __slots__ = ("n", "prefix")

    def __init__(self, text: str) -> None:
        cps = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
        n = len(cps)
        self.n = n
        pw, bp = _power_tables(n)
        prefix = np.zeros(n + 1, dtype=np.uint64)
        if n:
            scaled = cps * bp[:n]
            np.add.accumulate(scaled, out=scaled)   # S[i] = Σ_{j<=i} x[j]·Binv^j
            prefix[1:] = scaled * pw[:n]            # P[i+1] = B^i · S[i]
        self.prefix = prefix

    def window(self, k: int) -> np.ndarray:
        """Mixed hashes of all k-grams; empty if text shorter than k."""
        n = self.n
        if n == 0 or k <= 0:
            return np.empty(0, dtype=np.uint64)
        k = min(k, n)
        pw, _ = _power_tables(n)
        h = self.prefix[k:] - self.prefix[: n + 1 - k] * pw[k]
        return _mix(h)


def _perm_coeffs(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 1 << 63, size=num_perm, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.integers(0, 1 << 63, size=num_perm, dtype=np.uint64)
    return a, b


def shingle_hashes(text: str, k: int) -> np.ndarray:
    """Unique uint64 rolling hashes of all k-char shingles of ``text``."""
    if not text:
        return np.empty(0, dtype=np.uint64)
    return np.unique(PrefixHash(text).window(k))


def batch_window_hashes(texts, k: int, clamp_short: bool = False) -> list[np.ndarray]:
    """Per-doc rolling k-gram window hashes for a whole Arrow batch in
    ONE prefix-hash pass over the batch concatenation.

    The window hash P[i+k] - P[i]·B^k telescopes to the k-gram's own
    polynomial — position-independent — so slicing the concatenation's
    window array at doc boundaries yields arrays identical to
    ``PrefixHash(t).window(k)`` per doc, with cross-boundary windows
    excluded by the slice bounds. One O(batch_bytes) vector pass
    replaces per-doc encode/alloc/dispatch overhead (a few thousand
    numpy calls per batch), which dominated the anchor/shingle stages.

    ``clamp_short=True`` reproduces PrefixHash.window's clamp for docs
    shorter than k (one hash of the whole text — the shingle_hashes
    semantics that keeps distinct tiny docs distinct); False returns
    empty for them (the anchor semantics — a doc shorter than the
    anchor gram has no anchors).

    The concatenation is processed in doc-aligned chunks of
    ~_CONCAT_SEG chars: the power-table cache (16 bytes/char, process
    lifetime) is otherwise sized by the LARGEST batch concat ever seen
    — at multi-100KB docs that is gigabytes per Python worker. A doc
    longer than the segment gets its own chunk (tables then grow to
    that one doc's length, same as the per-doc path).
    """
    txts = [t if isinstance(t, str) else "" for t in texts]
    lens = np.fromiter((len(t) for t in txts), dtype=np.int64, count=len(txts))
    empty = np.empty(0, dtype=np.uint64)

    def short(t: str) -> np.ndarray:
        # rare path: 0 < len < k — whole-text hash when clamping
        if not clamp_short or not t:
            return empty
        return PrefixHash(t).window(len(t))

    out: list[np.ndarray] = [empty] * len(txts)
    if k <= 0:
        return out
    i = 0
    while i < len(txts):
        j, seg = i, 0
        while j < len(txts) and (seg == 0 or seg + lens[j] <= _CONCAT_SEG):
            seg += lens[j]
            j += 1
        chunk = txts[i:j]
        concat = "".join(chunk)
        if len(concat) >= k:
            hw = PrefixHash(concat).window(k)
            off = 0
            for d in range(i, j):
                n = lens[d]
                out[d] = hw[off : off + n - k + 1] if n >= k else short(txts[d])
                off += n
        else:
            for d in range(i, j):
                out[d] = short(txts[d])
        i = j
    return out


# Segment size (uint64 elements) for the permutation loop. The loop
# applies num_perm affine maps to the same shingle array; streaming the
# whole batch-concat (tens of MB) from DRAM once per permutation makes
# the kernel memory-bandwidth-bound — measured: 16 parallel workers
# burned 2.7x the CPU-seconds of 4 workers on identical input (shared
# bandwidth saturated). A ~2 MB segment stays cache-resident across all
# permutations, so DRAM traffic drops from num_perm passes to one.
_SEG_ELEMS = 262_144

# Chunk bound (chars) for batch_window_hashes' concatenation: bounds the
# process-lifetime power-table cache to ~16 B/char × this (±1 doc).
_CONCAT_SEG = 2_097_152


def _batch_minhash(texts: pd.Series, k: int, a: np.ndarray, b: np.ndarray) -> pd.Series:
    num_perm = len(a)
    per_doc = [np.unique(w) for w in batch_window_hashes(texts, k, clamp_short=True)]
    lens = np.array([len(x) for x in per_doc], dtype=np.int64)
    out = np.full((len(per_doc), num_perm), _MASK, dtype=np.uint64)
    nonempty = lens > 0
    if nonempty.any():
        concat = np.concatenate([x for x in per_doc if len(x)])
        ne_lens = lens[nonempty]
        offsets = np.zeros(len(ne_lens), dtype=np.int64)
        np.cumsum(ne_lens[:-1], out=offsets[1:])
        rows = np.where(nonempty)[0]
        total = len(concat)
        permed = np.empty(min(total, _SEG_ELEMS + int(ne_lens.max())), dtype=np.uint64)
        d0 = 0  # first doc of the current segment
        while d0 < len(offsets):
            # extend the segment to whole docs, >= _SEG_ELEMS elements
            d1 = int(np.searchsorted(offsets, offsets[d0] + _SEG_ELEMS, side="left"))
            d1 = max(d1, d0 + 1)
            s0 = offsets[d0]
            s1 = offsets[d1] if d1 < len(offsets) else total
            sub = concat[s0:s1]
            sub_off = offsets[d0:d1] - s0
            buf = permed[: len(sub)]
            for p in range(num_perm):
                np.multiply(sub, a[p], out=buf)
                np.add(buf, b[p], out=buf)          # mod 2^64 wraparound
                out[rows[d0:d1], p] = np.minimum.reduceat(buf, sub_off)
            d0 = d1
    sigs = out.view(np.int64)  # store as Spark bigint
    return pd.Series(list(sigs))


def cpu_partitions(df: DataFrame, factor: int = 1) -> int:
    """Partition count for CPU-bound pandas-UDF stages.

    AQE coalesces shuffle partitions by *bytes*, which is right for
    IO-bound plans but starves CPU-bound Python stages (a 100 MB input
    coalesced to 2 partitions runs the UDF on 2 cores). Partitioning
    by core count keeps every core busy; factor stays at 1 because
    each Python-UDF task pays a ~10 ms worker handshake serialized
    through the single pyspark daemon — over-splitting adds latency
    without adding parallelism (measured: 96 tasks 1.96s vs 32 tasks
    1.34s for identical 20 core-s of work on 32 cores)."""
    return max(df.sparkSession.sparkContext.defaultParallelism * factor, 4)


def minhash_signatures(
    docs: DataFrame,
    shingle_size: int = 5,
    num_perm: int = 128,
    seed: int = 42,
    text_col: str = "text",
    repartition: bool = True,
) -> DataFrame:
    """url + sig: array<bigint> of length num_perm (uint64 bit pattern)."""
    a, b = _perm_coeffs(num_perm, seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def mh(texts: pd.Series) -> pd.Series:
        return _batch_minhash(texts, shingle_size, a, b)

    src = docs.select("url", F.col(text_col).alias("__t"))
    if repartition:
        src = src.repartition(cpu_partitions(docs))
    return src.select("url", mh(F.col("__t")).alias("sig"))


def estimated_jaccard(sig_a, sig_b, num_perm: int):
    """Signature-agreement estimate of Jaccard — native column algebra
    (no UDF): fraction of equal components."""
    eq = F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int"))
    return F.aggregate(eq, F.lit(0), lambda acc, v: acc + v) / F.lit(float(num_perm))


def packed_sig16(num_perm: int, sig_col: str = "sig"):
    """array<bigint> column of num_perm/4 longs, each packing four
    16-bit lanes (xxhash64 of one signature component, low 16 bits).

    The signature-agreement verify tier only tests component EQUALITY,
    so the full 64-bit minhash values are 4x more bytes than the
    estimate needs: equal components stay equal under any deterministic
    lane hash, and a false lane agreement needs a 2^-16 collision —
    est bias ≤ 2^-16 per position, deterministic, three orders of
    magnitude inside the tier's 4σ borderline margin (±0.15 at
    σ≈0.035). Packing 4 lanes per long also quarters the zip_with
    element count. All codegen — element_at extraction, no fresh
    arrays per row beyond the 32-long output.
    """
    assert num_perm % 4 == 0

    def lane(idx: int) -> str:  # 1-based element_at position
        return f"(xxhash64(element_at(`{sig_col}`, {idx})) & 65535)"

    # one SQL expression string, like lsh.band_hash_array: the Column
    # form is ~830 py4j calls for num_perm=128
    packed = (
        f"(shiftleft({lane(4 * i + 1)}, 48) | shiftleft({lane(4 * i + 2)}, 32)"
        f" | shiftleft({lane(4 * i + 3)}, 16) | {lane(4 * i + 4)})"
        for i in range(num_perm // 4)
    )
    return F.expr(f"array({', '.join(packed)})")


def estimated_jaccard_packed(sig_a, sig_b, num_perm: int):
    """estimated_jaccard over packed_sig16 columns: fraction of equal
    16-bit lanes. XOR the longs; a zero 16-bit lane of the XOR is an
    agreeing position."""
    def eq_lanes(x, y):
        z = x.bitwiseXOR(y)
        m = F.lit(0xFFFF)
        return (
            (z.bitwiseAND(m) == 0).cast("int")
            + (F.shiftrightunsigned(z, 16).bitwiseAND(m) == 0).cast("int")
            + (F.shiftrightunsigned(z, 32).bitwiseAND(m) == 0).cast("int")
            + (F.shiftrightunsigned(z, 48) == 0).cast("int")
        )

    eq = F.zip_with(sig_a, sig_b, eq_lanes)
    return F.aggregate(eq, F.lit(0), lambda acc, v: acc + v) / F.lit(float(num_perm))
