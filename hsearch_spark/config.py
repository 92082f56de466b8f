"""Pinned dedup configuration ("same shingle/signature config" anchor).

The reference seeds its LSH projections from wall-clock time
(pcluster/src/pcluster/pcluster.cpp:84 `srand(time(NULL))`) and from
`std::random_device` (hclust/src/hclust/lsh.hpp:19-20) — a nondeterminism
defect we must not reproduce (SURVEY.md §2.12).  Everything here is a pure
function of the config dataclass: hash families are derived from
``seed`` with a fixed-stream numpy PCG64, so the same config always
produces byte-identical signatures on any executor, any cluster size.

Parameter choices mirror the reference's (K, L) AND/OR amplification
(hclust.cpp:342-345: K=16 AND × L=32 OR) re-expressed as MinHash
b bands × r rows: num_perm = b*r = 128, b=32, r=4 → S-curve threshold
t ≈ (1/b)^(1/r) ≈ 0.42, steep enough that Jaccard ≥ 0.8 pairs are
caught with probability > 1 - (1 - 0.8^4)^32 ≈ 0.9999997.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass

import numpy as np

# 61-bit Mersenne prime: (a*h + b) stays inside uint64 for a,b < 2^31, h < 2^32
MERSENNE_61 = (1 << 61) - 1


def catch_probability(jaccard: float, bands: int, rows_per_band: int) -> float:
    """P(pair becomes an LSH candidate | true Jaccard j) under the
    b-bands × r-rows AND/OR construction: 1 - (1 - j^r)^b.

    Exact under independent MinHash slots; with the OPH scheme a band's
    r bins come from ONE permutation (correlated, plus densification
    noise below ~900 shingles), so this is the design curve, not a
    guarantee. MEASURED against it (tools/measure_oph_catch.py,
    production kernels, 2026-08-17): catch at J in [0.75, 0.85) is
    942/942 = 1.0000 at the pinned (b=21, r=6) — page-length and
    short-doc regimes both; OPH correlation costs at most -2.6pp and
    only in the mid-curve (J 0.45-0.75, where the S-curve is SUPPOSED
    to reject), while densification on short docs (~220 chars) raises
    catch +3-19pp above design there. Full bin table in BENCH.md."""
    return 1.0 - (1.0 - jaccard**rows_per_band) ** bands


def bands_rows_for(
    threshold: float, num_perm: int, min_catch: float = 0.99
) -> tuple[int, int]:
    """(b, r) selection from a target Jaccard threshold — the programmatic
    analog of the reference's K/L derivation from its p1/p2 operating
    points (hclust/src/hclust/motif_both_points.cpp:374-382).

    Picks the LARGEST r (steepest S-curve → fewest background-similarity
    candidates) whose b = num_perm // r still catches a true
    `threshold`-pair with probability >= min_catch. Returns (b, r) with
    b*r <= num_perm; callers should set num_perm = b*r.

    bands_rows_for(0.8, 126) == (21, 6) — the pinned default config.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    best: tuple[int, int] | None = None
    for r in range(1, num_perm + 1):
        b = num_perm // r
        if b < 1:
            break
        if catch_probability(threshold, b, r) >= min_catch:
            best = (b, r)  # r ascending: last hit = largest feasible r
    if best is None:
        raise ValueError(
            f"no (b, r) with b*r <= {num_perm} catches J={threshold} "
            f"pairs at p >= {min_catch}; increase num_perm"
        )
    return best


@dataclass(frozen=True)
class DedupConfig:
    """All knobs for the dedup pipeline. Frozen → hashable → run lineage key."""

    # --- shingling (ref: k-mer windows, kmer_search.cpp:68-81) ---
    shingle_k: int = 5            # char 5-grams over canonicalized utf-8 bytes
    # --- MinHash (ref: E2LSH K×L, hclust/lsh.hpp:29-59 + hclust.cpp:261-289) ---
    # (b=21, r=6) == bands_rows_for(0.8, 126): S-curve threshold
    # (1/b)^(1/r) ≈ 0.60 with design-curve P(candidate | J=0.8) =
    # 1-(1-0.8^6)^21 ≈ 0.998. NB the curve assumes independent slots;
    # OPH bands are correlated (see catch_probability docstring) — the
    # binding evidence is the MEASURED recall 1.0 / precision 1.0 vs the
    # exact-Jaccard oracle on planted corpora (tests/test_pipeline.py)
    # and the end-to-end verify run. Recall-safe at τ,
    # while background-similarity pairs (J≈0.3) trip a band with
    # p ≈ 0.015 instead of 0.26 at the (b=32, r=4) the reference's
    # K=16/L=32 would suggest — a ~17× candidate-volume reduction
    # measured on the synthetic corpus (990k → ~60k pairs at 8k docs).
    num_perm: int = 126
    bands: int = 21               # OR-amplification (ref hash_L, hclust.cpp:344)
    rows_per_band: int = 6        # AND-amplification (ref hash_K, hclust.cpp:342)
    # --- SimHash (ref: KLSH sign bits, pcluster/src/pcluster/lsh.cpp:40-49) ---
    simhash_bits: int = 64        # ref used 16 bits (pcluster.cpp:13); we use 64
    simhash_hamming_max: int = 3  # verify gate: bit_count(a^b) <= h
    # block-permutation candidate scheme (Manku/Jain/Das Sarma, WWW'07):
    # split the fingerprint into `simhash_blocks` blocks and key each of
    # the C(blocks, blocks - hamming_max) block-combinations — any pair
    # within hamming_max shares a clean combination (pigeonhole), and a
    # 3-block key is ~32 bits (vs the 16-bit chunk keys of the naive
    # 4-chunk scheme, whose 65k-bucket ceiling collapses at 10^9 docs)
    simhash_blocks: int = 6
    # --- exact verify (ref: dis <= R gate, kmer_search.cpp:106-112) ---
    jaccard_threshold: float = 0.8
    # cheap signature-agreement prefilter before the exact-verify join
    # (ref two-level filter: cheap LSH gate → expensive verify,
    # kmer_search.cpp:100-112). 0.65 ≈ τ - 4σ with σ = sqrt(τ(1-τ)/126),
    # so P(drop a true τ-pair) < 1e-4. None disables.
    est_prefilter: float | None = 0.65
    # --- substring stage (ref: suffix_array.cpp:22-23 500-char comparator cap) ---
    anchor_gram: int = 50         # length of sampled char-grams
    anchor_mod: int = 16          # keep grams whose hash % mod == 0 (content-defined)
    anchor_min_common: int = 3    # docs sharing >= this many anchors are span-dup candidates
    anchor_df_max: int = 8        # anchors in more docs than this = boilerplate, dropped
    min_span: int = 200           # minimum repeated-span length targeted
    # --- skew handling (ref precedent: 500-hit cap, pcluster.cpp:115-116) ---
    max_bucket_all_pairs: int = 64   # buckets up to this size emit all pairs
    star_representatives: int = 8    # larger buckets: pair members w/ R smallest ids
    # physical-only knob (NOT in config_hash — does not change results):
    # hot-bucket reps are broadcast back against the full input only while
    # reps rows <= this; above it the star join degrades to a plain
    # shuffle join instead of blowing the driver/broadcast memory limit
    # on a corpus with pathologically many hot buckets
    max_broadcast_reps: int = 10_000_000
    # --- determinism ---
    seed: int = 42
    # escape hatch (NOT in config_hash): validate_banding=False downgrades
    # the __post_init__ mis-tune ValueError to a warning for callers who
    # knowingly want a shallow S-curve (e.g. recall experiments below the
    # designed threshold). Default True preserves the fail-loud contract.
    validate_banding: bool = True

    # fields that change HOW the plan executes or validates, never WHAT it
    # computes — excluded from the lineage hash so flipping them doesn't
    # spuriously invalidate checkpoints
    _NON_SEMANTIC = frozenset({"max_broadcast_reps", "validate_banding"})

    def config_hash(self) -> str:
        """Stable 12-hex digest of the semantic config → checkpoint
        lineage key (physical-only knobs excluded)."""
        d = {
            k: v for k, v in asdict(self).items() if k not in self._NON_SEMANTIC
        }
        blob = json.dumps(d, sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:12]

    # ---- derived, deterministic hash families (broadcast to executors) ----

    def minhash_salt(self) -> int:
        """The single 64-bit salt of the one-permutation MinHash scheme
        (hashing.minhash_signature): every shingle is hashed once as
        splitmix64(h XOR salt) and binned; no per-permutation seed array
        is needed. Derived deterministically from `seed` — replaces the
        reference's unseeded N(0,1)/U draws (hclust/lsh.hpp:19-30) and
        its srand(time(NULL)) (pcluster.cpp:84).

        (History: a K×L family of per-slot splitmix permutations gave
        identical estimator quality but O(num_perm·n) work per doc;
        OPH is O(n log n) — measured 14× faster and ~150× less memory
        traffic, which is what saturated the socket at 32 workers.
        A linear (a*h+b) mod p family with small coefficients is NOT
        min-wise independent for 32-bit inputs — measured bias halved
        the Jaccard estimate — so any scheme here must use the full
        bijective mix.)
        """
        rng = np.random.default_rng(np.random.PCG64(self.seed))
        return int(rng.integers(0, 1 << 63, dtype=np.uint64))

    @classmethod
    def tuned(
        cls, jaccard_threshold: float, num_perm: int = 128, **kwargs
    ) -> "DedupConfig":
        """Config with banding DERIVED from the target threshold via
        bands_rows_for — the safe way to change jaccard_threshold
        (hand-setting it against a mismatched fixed banding raises in
        __post_init__)."""
        b, r = bands_rows_for(jaccard_threshold, num_perm)
        return cls(
            jaccard_threshold=jaccard_threshold,
            num_perm=b * r,
            bands=b,
            rows_per_band=r,
            **kwargs,
        )

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_perm:
            raise ValueError("num_perm must equal bands * rows_per_band")
        if self.simhash_blocks <= self.simhash_hamming_max:
            raise ValueError(
                "simhash_blocks must exceed simhash_hamming_max "
                "(pigeonhole requires >= hamming_max + 1 blocks)"
            )
        p = catch_probability(self.jaccard_threshold, self.bands, self.rows_per_band)
        if p < 0.95:
            msg = (
                f"banding (b={self.bands}, r={self.rows_per_band}) catches a "
                f"true J={self.jaccard_threshold} pair with p={p:.3f} < 0.95 — "
                f"mis-tuned; use DedupConfig.tuned(jaccard_threshold=...) to "
                f"re-derive (b, r)"
            )
            if self.validate_banding:
                raise ValueError(msg)
            import warnings

            warnings.warn(msg, stacklevel=2)


DEFAULT_CONFIG = DedupConfig()

