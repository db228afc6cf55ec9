"""Pipeline configuration — one frozen dataclass, hashed for checkpoint
lineage (a stage checkpoint is reusable iff its config hash matches)."""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class DedupConfig:
    # shingling / MinHash (signature stage)
    shingle_k: int = 5               # words per shingle
    num_perm: int = 128              # MinHash permutations
    bands: int = 32                  # LSH bands; rows = num_perm // bands
    seed: int = 42
    # candidate generation
    allpairs_cap: int = 64           # bucket size above which pair-gen switches
    neighbor_window: int = 8         # ... to sorted-neighbor chaining
    # Jaro-Winkler verification (reference-semantics kernel)
    jw_min_score: float = 0.82       # edge-acceptance threshold
    jw_weight: float | None = 0.1    # None = pure Jaro
    jw_threshold: float = 0.7
    max_jw_len: int = 256            # chars of normalized text scored per doc
    # substring/fingerprint stage
    # mod-sampling fingerprint selection (content-defined, like CDC/rsync):
    # a position is a fingerprint iff hash % fp_mod == 0 → density 1/fp_mod.
    # P(missing a min_substring_chars common substring) =
    # (1-1/fp_mod)^(min_sub-gram+1) ≈ 0.8% at the defaults — and unlike
    # winnowing it needs no per-window argmin (one vectorized mask).
    gram_chars: int = 50             # char n-gram width for rolling hashes
    fp_mod: int = 32                 # fingerprint sampling modulus (pow 2)
    min_substring_chars: int = 200   # verified verbatim-substring threshold
    # connected components
    cc_max_iters: int = 20

    @property
    def rows_per_band(self) -> int:
        assert self.num_perm % self.bands == 0
        return self.num_perm // self.bands

    def config_hash(self) -> str:
        payload = json.dumps(asdict(self), sort_keys=True, default=str)
        return hashlib.sha256(payload.encode()).hexdigest()[:16]
