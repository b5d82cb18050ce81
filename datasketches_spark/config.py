"""Frozen pipeline configuration.

Parity-critical constants mirror the reference library's defaults
(see /root/reference/ThetaCommon/ThetaUtil.cs:53-78):

- ``DEFAULT_SEED = 9001``  (ThetaUtil.cs:78) — every hash used to build
  signatures must use this seed or sketches cannot be merged.
- ``DEFAULT_K = 4096``     (ThetaUtil.cs:58, DEFAULT_NOMINAL_ENTRIES) —
  nominal entries of the KMV/theta sketch; RSE = ±1.56% @68% conf.
- 5-gram token shingles (north-star config).

The config object is a plain frozen dataclass: it is pickled into every
pandas UDF closure (cheap — a few ints), which is the Spark-idiomatic way
to broadcast a tiny immutable config.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

MAX_THETA_LONG = (1 << 63) - 1  # hash domain is [1, 2^63-1]; 0 and 2^63-1 reserved
DEFAULT_SEED = 9001
DEFAULT_K = 4096
MIN_LG_NOM_LONGS = 4  # ThetaUtil.cs:35
MAX_LG_NOM_LONGS = 26  # ThetaUtil.cs:40


def _check_k(k: int) -> int:
    if not (isinstance(k, int) and k >= 2 and (k & (k - 1)) == 0):
        raise ValueError(f"k must be a power of 2, got {k}")
    lg = int(math.log2(k))
    if not (MIN_LG_NOM_LONGS <= lg <= MAX_LG_NOM_LONGS):
        raise ValueError(f"lg(k) must be in [{MIN_LG_NOM_LONGS},{MAX_LG_NOM_LONGS}], got {lg}")
    return k


@dataclass(frozen=True)
class DedupConfig:
    """All tunables of the near-duplicate pipeline, validated at init.

    MinHash banding: ``num_perm = bands * rows`` permutations; a pair whose
    true Jaccard is j collides in >=1 band with prob 1-(1-j^rows)^bands.
    Defaults (bands=16, rows=8 -> 128 perms) put the S-curve threshold at
    ~(1/16)^(1/8) ~= 0.71, matching a 0.8 Jaccard target with high recall.
    """

    seed: int = DEFAULT_SEED
    k: int = DEFAULT_K  # KMV sketch nominal entries
    # sampling probability p (Theta/HeapQuickSelectSketch.cs:73; builder
    # validation Theta/UpdateSketchBuilder.cs:164-192): sketches start at
    # theta = p * 2^63 so only a p-fraction of the hash domain is retained.
    # Default 1.0 matches the reference default (no pre-sampling).
    p: float = 1.0
    ngram: int = 5  # token shingle width (north-star: 5-gram)
    bands: int = 16
    rows: int = 8
    jaccard_threshold: float = 0.8
    bucket_cap: int = 256  # LSH buckets larger than this are sub-sampled + logged
    # common-span pass (winnowing fingerprints → shared-block pairs):
    # detects blocks copied between otherwise-dissimilar documents, which
    # whole-document Jaccard correctly scores far below threshold. Any
    # shared run of >= span_window + ngram - 1 tokens is guaranteed to
    # share a winnowed fingerprint (Schleimer et al. 2003).
    span_pass: bool = False
    # window 46 so the guarantee bound (span_window + ngram - 1 = 50 at
    # ngram=5) exactly matches the default span_min_tokens reporting
    # filter: every reported span length is guaranteed-coverage, never
    # merely probabilistic
    span_window: int = 46  # winnowing window, in shingles
    span_min_tokens: int = 50  # report pairs with a common span >= this
    span_fp_cap: int = 16  # fingerprint buckets larger than this are boilerplate: dropped + logged

    def __post_init__(self) -> None:
        _check_k(self.k)
        if not (0.0 < self.p <= 1.0):
            raise ValueError(f"sampling probability p must be in (0, 1]: {self.p}")
        if self.ngram < 1:
            raise ValueError("ngram must be >= 1")
        if self.bands < 1 or self.rows < 1:
            raise ValueError("bands/rows must be >= 1")
        if not (0.0 < self.jaccard_threshold <= 1.0):
            raise ValueError("jaccard_threshold in (0, 1]")
        if self.span_window < 1:
            raise ValueError("span_window must be >= 1")
        if self.span_min_tokens < self.span_window + self.ngram - 1:
            # the winnowing guarantee only covers runs >= w + ngram - 1:
            # a smaller reporting floor silently implies guaranteed
            # coverage the candidate pass cannot deliver
            raise ValueError(
                f"span_min_tokens ({self.span_min_tokens}) must be >= "
                f"span_window + ngram - 1 ({self.span_window + self.ngram - 1}): "
                "shorter spans are only probabilistically surfaced by winnowing")

    @property
    def num_perm(self) -> int:
        return self.bands * self.rows

    @property
    def lsh_threshold(self) -> float:
        """Approximate Jaccard at which collision prob = 1/2."""
        return (1.0 / self.bands) ** (1.0 / self.rows)


DEFAULT_CONFIG = DedupConfig()
