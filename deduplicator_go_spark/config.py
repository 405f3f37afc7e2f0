"""Frozen pipeline configuration.

The recall target (BASELINE.json: dup-pair recall >= 0.99) is defined
"at the same shingle/signature config", so the config is an explicit,
hashable value object; its hash is stamped into every checkpoint's
lineage rows (params_hash) so a resume never silently mixes outputs
computed under different parameters — the Spark analog of the
reference's flag-driven WHERE-clause composition (files/hash.go:18-51)
where flags decide which rows are (re)processed.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class DedupConfig:
    # --- exact stage ---
    min_text_chars: int = 1          # F5 analog: drop empty/invalid rows
    langs: tuple[str, ...] = ()      # empty = all languages

    # --- MinHash/LSH ("reference config" frozen for recall measurement) ---
    shingle_size: int = 5            # character shingles
    num_perm: int = 128              # MinHash permutations
    lsh_bands: int = 32              # b
    lsh_rows: int = 4                # r ; b*r must equal num_perm
    minhash_seed: int = 42

    # --- candidate generation / skew control ---
    band_pair_cap: int = 64          # buckets larger than this switch to
                                     # salted chaining instead of all-pairs
    band_salt: int = 16              # sub-buckets for hot bands
    # broadcast the collision-sizes table in candidate generation:
    # right when collisions are sparse (typical banding); set False at
    # extreme dup density, where that table itself is too big to
    # broadcast and the join must degrade to shuffle
    lsh_collision_broadcast: bool = True

    # --- verification / clustering ---
    verify_threshold: float = 0.80   # exact char-shingle Jaccard cut
    cc_max_iters: int = 20

    # --- clustering storage ---
    # clusters-table copy-on-write granularity: rows partition by
    # pmod(xxhash64(url), cluster_buckets); a tick rewrites only
    # buckets holding a member of an affected component. More buckets
    # = finer rewrites but more small files; 64 keeps single-bucket
    # files >= ~100 MB at 10^9 docs/label-row scale.
    cluster_buckets: int = 64

    # --- suffix/substring pass ---
    substr_min_len: int = 512        # long-shared-substring threshold
    substr_anchor_k: int = 64        # rolling-hash anchor gram size
    # anchor sampling density 1/mod: a min_len block holds >= 449 gram
    # positions -> expected 449/32 ~ 14 sampled anchors; P(miss) =
    # (31/32)^449 ~ 8e-7. Halving density (16 -> 32) halves the anchor
    # table, the dominant shuffle of the substring pass.
    substr_anchor_mod: int = 32

    def __post_init__(self) -> None:
        for name in ("shingle_size", "num_perm", "lsh_bands", "lsh_rows",
                     "band_salt", "substr_anchor_k", "substr_anchor_mod",
                     "cluster_buckets", "cc_max_iters"):
            if getattr(self, name) <= 0:
                raise ValueError(f"{name} must be positive, got {getattr(self, name)}")
        if self.lsh_bands * self.lsh_rows != self.num_perm:
            raise ValueError("lsh_bands * lsh_rows must equal num_perm")
        if not 0 < self.verify_threshold <= 1:
            raise ValueError(
                f"verify_threshold must be in (0, 1], got {self.verify_threshold}"
            )
        # a shared block shorter than the anchor gram holds no anchor, so
        # its pair would never become a candidate: recall lost silently
        if self.substr_min_len < self.substr_anchor_k:
            raise ValueError(
                f"substr_min_len ({self.substr_min_len}) must be >= "
                f"substr_anchor_k ({self.substr_anchor_k})"
            )

    def params_hash(self) -> str:
        payload = json.dumps(asdict(self), sort_keys=True, default=str)
        return hashlib.sha256(payload.encode()).hexdigest()[:16]


DEFAULT_CONFIG = DedupConfig()
