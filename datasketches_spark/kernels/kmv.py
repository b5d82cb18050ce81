"""KMV / Theta sketch kernel — the reference's QuickSelect sketch and set
operations re-expressed as vectorized NumPy over sorted uint64 arrays.

A sketch is the tuple ``(theta: int, entries: sorted uint64 array, empty:
bool)`` — semantically identical to the reference's CompactSketch
(/root/reference/Theta/HeapCompactSketch.cs:31-62): it retains exactly the
set of distinct hash values h with 0 < h < theta, where the hash domain is
[1, 2^63-1] (/root/reference/ThetaCommon/HashOperations.cs:326-330).

The reference builds this incrementally with an open-addressing table and
quickselect pull-backs (/root/reference/Theta/HeapQuickSelectSketch.cs:
239-321); a vectorized batch build computes the same final state directly:
``theta = (k+1)-th smallest distinct hash`` when more than k survive
(pivot = k+1, HeapQuickSelectSketch.cs:312), else theta stays at
p * 2^63 (long.MaxValue when p >= 1, HeapQuickSelectSketch.cs:73).

Set-operation semantics (bit-for-bit rules):
- Union:        theta = min(thetas), pull back to k; empty = AND
  (/root/reference/Theta/UnionImpl.cs:234-281, result :155-184)
- Intersection: theta = min(thetas); empty = OR
  (/root/reference/Theta/IntersectionImpl.cs:145-200)
- AnotB:        theta = min(thetas); keep A-hashes < theta absent from B;
  empty = srcA.empty, or (count==0 and theta==MAX)
  (/root/reference/Theta/AnotBImpl.cs:57-146)
- Estimate:     count * (2^63-1 as double / theta)
  (/root/reference/Theta/Sketch.cs:657-660)

Serialization is the SerVer-3 ordered-compact little-endian image
(/root/reference/Theta/PreambleUtil.cs:150-186, CompactOperations.cs:31-89)
including the canonical 8-byte empty image and 16-byte single-item form.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

from datasketches_spark.config import DEFAULT_K, DEFAULT_SEED, MAX_THETA_LONG
from datasketches_spark.kernels import bounds as _bounds
from datasketches_spark.kernels.murmur3 import hash128_longs

LONG_MAX_DOUBLE = float(MAX_THETA_LONG)  # (double)long.MaxValue

# flag masks (PreambleUtil.cs:166-171)
_BIG_ENDIAN = 1
_READ_ONLY = 2
_EMPTY = 4
_COMPACT = 8
_ORDERED = 16
_SINGLEITEM = 32
_FAMILY_QUICKSELECT = 2  # Family.cs:150
_FAMILY_COMPACT = 3
_FAMILY_UNION = 4
_SER_VER = 3
_MIN_LG_NOM_LONGS = 4  # ThetaUtil.MIN_LG_NOM_LONGS


def compute_seed_hash(seed: int) -> int:
    """16-bit seed hash (ThetaCommon/ThetaUtil.cs:108-119): low 16 bits of
    murmur3(long[]{seed}, seed=0).h1; zero is rejected."""
    h1, _ = hash128_longs(np.array([seed], dtype=np.uint64).view(np.uint64), 0)
    sh = h1 & 0xFFFF
    if sh == 0:
        raise ValueError(f"seed {seed} produces a zero seed hash; choose another seed")
    return sh


@dataclass(frozen=True)
class ThetaSketch:
    theta: int  # thetaLong in [1, 2^63-1]
    entries: np.ndarray  # sorted uint64, all in (0, theta)
    empty: bool
    seed: int = DEFAULT_SEED

    @property
    def count(self) -> int:
        return int(self.entries.shape[0])

    def estimate(self) -> float:
        # Sketch.cs:657-660: curCount * (LONG_MAX_VALUE_AS_DOUBLE / thetaLong)
        return self.count * (LONG_MAX_DOUBLE / self.theta)

    def theta_fraction(self) -> float:
        return self.theta / LONG_MAX_DOUBLE

    def lower_bound(self, num_sdev: int = 2) -> float:
        return _bounds.binomial_lower_bound(self.count, self.theta_fraction(), num_sdev, self.empty)

    def upper_bound(self, num_sdev: int = 2) -> float:
        return _bounds.binomial_upper_bound(self.count, self.theta_fraction(), num_sdev, self.empty)

    def is_estimation_mode(self) -> bool:
        return self.theta < MAX_THETA_LONG and not self.empty


def empty_sketch(seed: int = DEFAULT_SEED) -> ThetaSketch:
    return ThetaSketch(MAX_THETA_LONG, np.empty(0, dtype=np.uint64), True, seed)


def _finalize(theta: int, entries: np.ndarray, empty: bool, k: int, seed: int) -> ThetaSketch:
    """Trim to nominal k via the quickselect pull-back rule: when more than
    k entries survive, theta becomes the (k+1)-th smallest and only values
    strictly below it are retained (HeapQuickSelectSketch.cs:308-321)."""
    if entries.shape[0] > k:
        # entries sorted ascending -> (k+1)-th smallest is entries[k]
        theta = int(entries[k])
        entries = entries[:k]
        # duplicates cannot occur (entries are distinct); all < theta by construction
    return ThetaSketch(int(theta), entries, empty, seed)


def initial_theta(p: float) -> int:
    """Starting thetaLong for sampling probability p
    (HeapQuickSelectSketch.cs:73: long.MaxValue when p >= 1, else
    (long)(p * LONG_MAX_VALUE_AS_DOUBLE))."""
    if not (0.0 < p <= 1.0):
        raise ValueError(f"p must be in (0, 1]: {p}")
    if p >= 1.0:
        return MAX_THETA_LONG
    return int(p * LONG_MAX_DOUBLE)


def build(hashes: np.ndarray, k: int = DEFAULT_K, seed: int = DEFAULT_SEED,
          p: float = 1.0) -> ThetaSketch:
    """Build a trimmed sketch from theta-domain hashes.

    Equivalent to feeding every value through UpdateSketch.HashUpdate and
    calling Rebuild(): distinct, reject the reserved values 0 and 2^63-1
    (HashOperations.cs:326-330) and anything >= theta, keep the k smallest.
    With sampling probability p < 1, theta starts at p * 2^63 so only a
    p-fraction of the hash domain is ever retained
    (HeapQuickSelectSketch.cs:73); the sketch is then in estimation mode
    even when fewer than k values survive.
    """
    theta0 = initial_theta(p)
    h = np.asarray(hashes, dtype=np.uint64)
    nonempty = h.shape[0] > 0
    h = h[(h > 0) & (h < np.uint64(theta0))]
    if h.shape[0] == 0:
        if nonempty and p < 1.0:
            # data was seen but sampled away: NOT the virgin empty state
            # (UpdateSketch tracks empty=false once any update arrives)
            return ThetaSketch(theta0, np.empty(0, dtype=np.uint64), False, seed)
        return empty_sketch(seed)
    u = np.unique(h)  # sorted ascending
    return _finalize(theta0, u, False, k, seed)


def build_batch(unique_sets: list[np.ndarray], k: int = DEFAULT_K,
                seed: int = DEFAULT_SEED, p: float = 1.0,
                ) -> tuple[list[np.ndarray], np.ndarray]:
    """Vectorized ``build`` over many documents' DISTINCT SORTED hash sets
    (as produced by ``shingles.unique_sets_batch``): one concatenated
    validity mask + one bincount replaces a per-document build call —
    the per-doc work left is O(1) slicing. Returns (entries_list, thetas)
    bit-identical to ``[build(s, k, seed, p) for s in unique_sets]``
    (entries uint64 sorted ascending; thetas int64, always < 2^63).

    The per-update semantics being vectorized are the reference's
    UpdateSketch.HashUpdate + Rebuild (HeapQuickSelectSketch.cs:239-321):
    reject reserved values 0 and 2^63-1 and anything >= theta, keep the k
    smallest, pull theta back to the (k+1)-th smallest past nominal k."""
    theta0 = initial_theta(p)
    n = len(unique_sets)
    counts = np.fromiter((s.shape[0] for s in unique_sets), dtype=np.int64, count=n)
    thetas = np.empty(n, dtype=np.int64)
    entries: list[np.ndarray] = [None] * n  # type: ignore[list-item]
    empty_e = np.empty(0, dtype=np.uint64)
    if int(counts.sum()):
        u = np.concatenate([np.asarray(s, dtype=np.uint64) for s in unique_sets])
        d = np.repeat(np.arange(n, dtype=np.int64), counts)
        valid = (u > 0) & (u < np.uint64(theta0))
        uv = u[valid]
        vcounts = np.bincount(d[valid], minlength=n)
        voffs = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(vcounts, out=voffs[1:])
    else:
        uv = empty_e
        vcounts = np.zeros(n, dtype=np.int64)
        voffs = np.zeros(n + 1, dtype=np.int64)
    for i in range(n):
        c = int(vcounts[i])
        o = voffs[i]
        if c == 0:
            entries[i] = empty_e
            # data seen but sampled away (p < 1) is NOT the virgin empty
            # state: theta stays at p*2^63, exactly as ``build`` does
            thetas[i] = theta0 if (counts[i] > 0 and p < 1.0) else MAX_THETA_LONG
        elif c > k:
            entries[i] = uv[o:o + k]
            thetas[i] = np.int64(uv[o + k])  # (k+1)-th smallest, < 2^63
        else:
            entries[i] = uv[o:o + c]
            thetas[i] = theta0
    return entries, thetas


def build_with_stats(hashes: np.ndarray, k: int = DEFAULT_K, seed: int = DEFAULT_SEED,
                     p: float = 1.0) -> tuple[ThetaSketch, dict]:
    """``build`` plus the vectorized analogue of the reference's per-update
    return states (UpdateReturnState.cs:26-77): how many inputs were
    rejected as reserved values, as duplicates, or as over-theta, and how
    many were inserted. In a batch build these are set-level counts rather
    than a per-call enum — the same information aggregated."""
    theta0 = initial_theta(p)
    h = np.asarray(hashes, dtype=np.uint64)
    n_in = int(h.shape[0])
    reserved = int(np.count_nonzero((h == 0) | (h == np.uint64(MAX_THETA_LONG))))
    valid = h[(h > 0) & (h < np.uint64(MAX_THETA_LONG))]
    over_sample = int(np.count_nonzero(valid >= np.uint64(theta0)))
    survivors = np.unique(valid[valid < np.uint64(theta0)])
    dups = int(valid.shape[0]) - over_sample - int(survivors.shape[0])
    sk = build(h, k=k, seed=seed, p=p)
    over_theta = int(survivors.shape[0]) - sk.count  # trimmed by pull-back
    return sk, {
        "n_input": n_in,
        "rejected_reserved": reserved,
        "rejected_duplicate": dups,
        "rejected_over_sampling": over_sample,
        "trimmed_over_theta": over_theta,
        "inserted": sk.count,
    }


def preamble_to_string(data: bytes) -> str:
    """Human-readable preamble dump of a compact sketch image — the
    operability twin of the reference's PreambleToString
    (PreambleUtil.cs:212-343)."""
    if len(data) < 8:
        return f"corrupt image: {len(data)} bytes"
    pre_longs = data[0] & 0x3F
    lg_rf = (data[0] >> 6) & 0x3
    ser_ver, family, lg_nom, lg_arr, flags = data[1], data[2], data[3], data[4], data[5]
    seed_hash = struct.unpack_from("<H", data, 6)[0]
    flag_names = [name for bit, name in ((1, "BIG_ENDIAN"), (_READ_ONLY, "READ_ONLY"),
                                         (_EMPTY, "EMPTY"), (_COMPACT, "COMPACT"),
                                         (_ORDERED, "ORDERED"), (_SINGLEITEM, "SINGLEITEM"))
                  if flags & bit]
    lines = [
        "### SKETCH IMAGE PREAMBLE:",
        f"  preLongs            : {pre_longs}",
        f"  lgResizeFactor      : {lg_rf}",
        f"  serVer              : {ser_ver}",
        f"  familyID            : {family}",
        f"  lgNomLongs          : {lg_nom}",
        f"  lgArrLongs          : {lg_arr}",
        f"  flags               : {flags:#04x} ({'|'.join(flag_names) or 'none'})",
        f"  seedHash            : {seed_hash:#06x}",
    ]
    if pre_longs >= 2 and not flags & _EMPTY and not flags & _SINGLEITEM and len(data) >= 16:
        count = struct.unpack_from("<i", data, 8)[0]
        lines.append(f"  curCount            : {count}")
    if pre_longs >= 3 and len(data) >= 24:
        theta = struct.unpack_from("<q", data, 16)[0]
        lines.append(f"  thetaLong           : {theta} ({theta / LONG_MAX_DOUBLE:.6f})")
    lines.append(f"  image bytes         : {len(data)}")
    return "\n".join(lines)


def _check_merge(a: ThetaSketch, b: ThetaSketch) -> None:
    if a.seed != b.seed:
        raise ValueError(f"seed mismatch: {a.seed} != {b.seed} (merge forbidden, UnionImpl.cs:242)")


def union(a: ThetaSketch, b: ThetaSketch, k: int = DEFAULT_K) -> ThetaSketch:
    """Theta union: empty rule AND, theta rule min, pull back to k
    (UnionImpl.cs:232-281, GetResult :155-184)."""
    _check_merge(a, b)
    theta = min(a.theta, b.theta)
    t = np.uint64(theta)
    merged = np.union1d(a.entries[a.entries < t], b.entries[b.entries < t])
    return _finalize(theta, merged, a.empty and b.empty, k, a.seed)


def union_many(sketches: list[ThetaSketch], k: int = DEFAULT_K, seed: int = DEFAULT_SEED) -> ThetaSketch:
    """n-way union in one vectorized pass (associativity of the theta rule
    makes this equivalent to a left fold of pairwise unions)."""
    if not sketches:
        return empty_sketch(seed)
    theta = min(s.theta for s in sketches)
    t = np.uint64(theta)
    parts = [s.entries[s.entries < t] for s in sketches]
    merged = np.unique(np.concatenate(parts)) if parts else np.empty(0, dtype=np.uint64)
    empty = all(s.empty for s in sketches)
    return _finalize(theta, merged, empty, k, sketches[0].seed)


def intersect(a: ThetaSketch, b: ThetaSketch) -> ThetaSketch:
    """Theta intersection: empty rule OR, theta rule min
    (IntersectionImpl.cs:145-200). No pull-back needed — the result count
    never exceeds min of the input counts."""
    _check_merge(a, b)
    if a.empty or b.empty:
        return empty_sketch(a.seed)
    theta = min(a.theta, b.theta)
    t = np.uint64(theta)
    both = np.intersect1d(a.entries, b.entries, assume_unique=True)
    both = both[both < t]
    # exact-mode zero-match intersection degenerates to the empty sketch
    # (IntersectionImpl.cs:377-381: curCount==0 && theta==MAX → empty=true)
    empty = both.shape[0] == 0 and theta == MAX_THETA_LONG
    return ThetaSketch(theta, both, empty, a.seed)


class Intersection:
    """Stateful theta Intersection (IntersectionImpl.cs:145-208, 400-412):
    a virgin instance represents the UNIVERSAL set (curCount = -1) — the
    identity element for folding a dynamic list of sketches — and raises on
    ``get_result()`` with no intervening intersect (the infinite set is not
    a legal result, IntersectionImpl.cs:239-244). ``has_result()`` mirrors
    ``HasResult`` (curCount >= 0); ``reset()`` returns to virgin.

    State machine (IntersectionImpl.cs:165-200 truth table):
      1/2/3/6  curCount==0 or incoming count==0 → curCount=0, no entries
      5        first intersect (virgin, incoming >0) → clone incoming
      7        both >0 → match set, filtered below min-theta
    The empty rule is OR (an empty input forces the empty state); the
    theta rule is min."""

    def __init__(self, seed: int = DEFAULT_SEED):
        self.seed = seed
        self._hard_reset()

    def _hard_reset(self) -> None:
        self._cur_count = -1  # Universal Set (IntersectionImpl.cs:403)
        self._theta = MAX_THETA_LONG
        self._empty = False
        self._entries = np.empty(0, dtype=np.uint64)

    def _reset_to_empty(self) -> None:
        self._cur_count = 0
        self._theta = MAX_THETA_LONG
        self._empty = True
        self._entries = np.empty(0, dtype=np.uint64)

    def reset(self) -> None:
        self._hard_reset()

    def has_result(self) -> bool:
        return self._cur_count >= 0

    def intersect(self, s: ThetaSketch) -> "Intersection":
        if s is None:
            raise ValueError(
                "Intersection argument must not be null (IntersectionImpl.cs:148)")
        # seed validation is UNCONDITIONAL, before the empty short-circuit:
        # the reference checks seed hashes on every input
        # (IntersectionImpl.cs:150 → ThetaUtil.CheckSeedHashes), so a
        # mixed-seed stream surfaces immediately even when either side is
        # empty rather than later or never
        if s.seed != self.seed:
            raise ValueError(
                f"seed mismatch: {s.seed} != {self.seed} (ThetaUtil.CheckSeedHashes)")
        if self._empty or s.empty:
            self._reset_to_empty()  # empty rule is OR
            return self
        self._theta = min(self._theta, s.theta)  # theta rule
        self._empty = False
        n_in = s.count
        if self._cur_count == 0 or n_in == 0:  # states 1,2,3,6
            self._cur_count = 0
            self._entries = np.empty(0, dtype=np.uint64)
        elif self._cur_count < 0:  # state 5: first intersect, clone
            self._entries = s.entries.copy()
            self._cur_count = n_in
        else:  # state 7: full intersect
            t = np.uint64(self._theta)
            matched = np.intersect1d(self._entries, s.entries, assume_unique=True)
            matched = matched[matched < t]
            self._entries = matched
            self._cur_count = int(matched.shape[0])
            if self._cur_count == 0 and self._theta == MAX_THETA_LONG:
                self._empty = True  # IntersectionImpl.cs:377-381
        return self

    def get_result(self) -> ThetaSketch:
        if self._cur_count < 0:
            raise RuntimeError(
                "Calling get_result() with no intervening intersections would "
                "represent the infinite set, which is not a legal result "
                "(IntersectionImpl.cs:239-244)")
        return ThetaSketch(self._theta, self._entries.copy(), self._empty, self.seed)


def intersect_many(sketches: list[ThetaSketch], seed: int = DEFAULT_SEED) -> ThetaSketch:
    """Fold a dynamic list of sketches through a stateful Intersection.
    Raises on an empty list — intersection of zero sketches is the
    universal set, which has no sketch representation."""
    inter = Intersection(seed=seed)
    for s in sketches:
        inter.intersect(s)
    return inter.get_result()


def a_not_b(a: ThetaSketch, b: ThetaSketch) -> ThetaSketch:
    """A \\ B (AnotBImpl.cs:57-146): keep A's hashes below min-theta that do
    not occur in B; result is empty iff A was empty, or nothing survives at
    theta == long.MaxValue (AnotBImpl.cs:90,140)."""
    _check_merge(a, b)
    if a.empty:
        return empty_sketch(a.seed)
    if b.empty:
        return ThetaSketch(a.theta, a.entries.copy(), a.empty, a.seed)
    theta = min(a.theta, b.theta)
    t = np.uint64(theta)
    kept = np.setdiff1d(a.entries[a.entries < t], b.entries, assume_unique=True)
    empty = kept.shape[0] == 0 and theta == MAX_THETA_LONG
    return ThetaSketch(theta, kept, empty, a.seed)


def jaccard_estimate(ea: np.ndarray, ta: int, eb: np.ndarray, tb: int,
                     k: int = DEFAULT_K, both_empty: bool | None = None):
    """(estimate, count_u, count_i, theta) of ``jaccard`` without the
    bounds math, from sorted entry arrays and thetas: the union below
    min-theta pulled back to nominal k as ``union`` trims, and the
    intersection below that theta. J(∅, ∅) = 1; ``both_empty=None`` reads
    emptiness from the table encoding (no entries at theta long.MaxValue)."""
    t = int(min(ta, tb))
    ka, kb = ea[ea < t], eb[eb < t]
    inter = np.intersect1d(ka, kb, assume_unique=True)
    count_u = ka.shape[0] + kb.shape[0] - inter.shape[0]
    count_i = inter.shape[0]
    if count_u > k:
        t = int(np.union1d(ka, kb)[k])
        count_u, count_i = k, int(np.count_nonzero(inter < t))
    if count_u == 0:
        if both_empty is None:
            both_empty = (ea.shape[0] == eb.shape[0] == 0
                          and ta == tb == MAX_THETA_LONG)
        return (1.0 if both_empty else 0.0), 0, 0, t
    return count_i / count_u, count_u, count_i, t


def jaccard(a: ThetaSketch, b: ThetaSketch, k: int = DEFAULT_K, num_sdev: float = 2.0):
    """(lb, estimate, ub) of Jaccard(A, B) from two sketches: J = |A∩B|/|A∪B|
    estimated via the B-over-A ratio machinery with B = intersect(union, each)
    (BoundsOnRatiosInThetaSketchedSets.cs:45-103 applied with A := A∪B)."""
    _check_merge(a, b)
    est, count_u, count_i, theta = jaccard_estimate(
        a.entries, a.theta, b.entries, b.theta, k, both_empty=a.empty and b.empty)
    if count_u == 0:
        return est, est, est
    # inclusion probability f = theta/2^63 drives the bound width
    # (BoundsOnRatiosInThetaSketchedSets.cs:59,83: f = thetaLongB / 2^63-1)
    f = theta / float(MAX_THETA_LONG)
    _, lb, ub = _bounds.ratio_bounds(count_u, count_i, f, num_sdev)
    return float(lb), est, float(ub)


# ----------------------------------------------------------- serialization

_EMPTY_IMAGE = bytes([1, 3, 3, 0, 0, 0x1E, 0, 0])  # EmptyCompactSketch.cs:37


def serialize_compact(s: ThetaSketch) -> bytes:
    """SerVer-3 ordered CompactSketch image (HeapCompactSketch.cs:152-175,
    CompactOperations.cs:236-294)."""
    seed_hash = compute_seed_hash(s.seed)
    empty = s.empty or (s.count == 0 and s.theta == MAX_THETA_LONG)
    if empty:
        return _EMPTY_IMAGE
    single = s.count == 1 and s.theta == MAX_THETA_LONG
    if single:
        flags = _READ_ONLY | _COMPACT | _ORDERED | _SINGLEITEM
        return struct.pack("<BBBBBBH", 1, _SER_VER, _FAMILY_COMPACT, 0, 0, flags, seed_hash) + s.entries.tobytes()
    flags = _READ_ONLY | _COMPACT | _ORDERED
    if s.theta == MAX_THETA_LONG:  # exact mode: 2 preamble longs
        pre = struct.pack("<BBBBBBHii", 2, _SER_VER, _FAMILY_COMPACT, 0, 0, flags, seed_hash, s.count, 0)
    else:  # estimation mode: 3 preamble longs incl. thetaLong
        pre = struct.pack("<BBBBBBHiiq", 3, _SER_VER, _FAMILY_COMPACT, 0, 0, flags, seed_hash, s.count, 0, s.theta)
    return pre + np.sort(s.entries).tobytes()


def _heapify_1to3(data: bytes, seed: int) -> ThetaSketch:
    """SerVer-1 (~Feb 2014) image → sketch (ForwardCompatibility.cs:44-87):
    always 3 preamble longs, always compact+ordered, no p-sampling, no
    empty bit, no seed hash (the caller's seed is trusted, as the
    reference's API contract requires)."""
    pre_longs = data[0] & 0x3F
    if pre_longs != 3:
        raise ValueError(f"PreLongs must be 3 for SerVer 1: {pre_longs}")
    family = data[2]
    if not 1 <= family <= 3:
        raise ValueError(f"Family (Sketch Type) must be 1 to 3: {family}")
    count = struct.unpack_from("<i", data, 8)[0]
    theta = struct.unpack_from("<q", data, 16)[0]
    if (count == 0 and theta == MAX_THETA_LONG) or len(data) <= 24:
        return empty_sketch(seed)
    if (count + pre_longs) * 8 > len(data):
        raise ValueError("SerVer 1 image too small for its count")
    entries = np.frombuffer(data, dtype="<u8", count=count, offset=24).copy()
    return ThetaSketch(int(theta), entries, False, seed)


def _heapify_2to3(data: bytes, seed: int) -> ThetaSketch:
    """SerVer-2 image → sketch (ForwardCompatibility.cs:96-180): 1, 2 or 3
    preamble longs, always compact+ordered."""
    pre_longs = data[0] & 0x3F
    family = data[2]
    if not 1 <= family <= 4:
        raise ValueError(f"Family (Sketch Type) must be 1 to 4: {family}")
    if pre_longs == 1:
        return empty_sketch(seed)
    if pre_longs not in (2, 3):
        raise ValueError(f"PreLongs must be 1, 2 or 3: {pre_longs}")
    count = struct.unpack_from("<i", data, 8)[0]
    theta = struct.unpack_from("<q", data, 16)[0] if pre_longs == 3 else MAX_THETA_LONG
    if count == 0 and theta == MAX_THETA_LONG:
        return empty_sketch(seed)
    off = pre_longs * 8
    if off + count * 8 > len(data):
        raise ValueError("SerVer 2 image too small for its count")
    entries = np.frombuffer(data, dtype="<u8", count=count, offset=off).copy()
    return ThetaSketch(int(theta), entries, False, seed)


def deserialize_compact(data: bytes, seed: int = DEFAULT_SEED) -> ThetaSketch:
    """Heapify a compact image: SerVer-3 natively (CompactSketch.cs:57-254)
    with the reference's seed-hash validation; SerVer-1/2 up-converted on
    read (ForwardCompatibility.cs:44-180). SerVer-4 (compressed delta) is
    recognized-but-unsupported, exactly like the reference
    (CompactSketch.cs:93-97)."""
    if len(data) < 8:
        raise ValueError("corrupt sketch image: < 8 bytes")
    pre_longs, ser_ver, family, _, _, flags, seed_hash = struct.unpack_from("<BBBBBBH", data, 0)
    pre_longs &= 0x3F
    if ser_ver == 1:
        return _heapify_1to3(data, seed)
    if ser_ver == 2:
        return _heapify_2to3(data, seed)
    if ser_ver != _SER_VER:
        raise ValueError(f"unsupported serVer {ser_ver} (SerVer 4 compressed images are "
                         "recognized but not implemented, per CompactSketch.cs:93-97)")
    if family != _FAMILY_COMPACT:
        raise ValueError(f"not a compact sketch image: family {family}")
    if flags & _EMPTY:
        return empty_sketch(seed)
    expect = compute_seed_hash(seed)
    if seed_hash != expect:
        raise ValueError(f"seed hash mismatch: image {seed_hash:#x} != computed {expect:#x}")
    if flags & _SINGLEITEM:
        (h,) = struct.unpack_from("<Q", data, 8)
        return ThetaSketch(MAX_THETA_LONG, np.array([h], dtype=np.uint64), False, seed)
    count = struct.unpack_from("<i", data, 8)[0]
    if pre_longs == 2:
        theta = MAX_THETA_LONG
        off = 16
    elif pre_longs == 3:
        theta = struct.unpack_from("<q", data, 16)[0]
        off = 24
    else:
        raise ValueError(f"bad preLongs {pre_longs} for compact image")
    entries = np.frombuffer(data, dtype="<u8", count=count, offset=off).copy()
    empty = count == 0 and theta == MAX_THETA_LONG
    return ThetaSketch(int(theta), entries, empty, seed)


def _heapify_table(data: bytes, seed: int, family: int) -> ThetaSketch:
    """Heapify a NON-compact hash-table image: QUICKSELECT update sketches
    (HeapQuickSelectSketch.cs:81-119) and UNION gadgets (UnionImpl.cs:89-112).
    The payload is an open-addressing table of 2^lgArrLongs longs (zeros =
    free slots); the value set is identical to the compact form, so images
    written by an existing DataSketches lake read straight into the
    vectorized world. Integrity checks mirror UpdateSketch.CheckMemIntegrity
    (UpdateSketch.cs:384-428)."""
    pre_longs = data[0] & 0x3F
    expect_pre = 4 if family == _FAMILY_UNION else 3  # Family.cs:150-151
    if pre_longs != expect_pre:
        raise ValueError(
            f"Possible corruption: invalid PreambleLongs {pre_longs} for family {family} "
            f"(expected {expect_pre}, UpdateSketch.cs:348-370)")
    lg_nom, lg_arr, flags = data[3], data[4], data[5]
    if lg_nom < _MIN_LG_NOM_LONGS:
        raise ValueError(f"Possible corruption: lgNomLongs {lg_nom} < {_MIN_LG_NOM_LONGS}")
    if flags & (_BIG_ENDIAN | _COMPACT | _ORDERED | _READ_ONLY):
        raise ValueError(
            "Possible corruption: update-family image cannot be big-endian, "
            "compact, ordered, or read-only (UpdateSketch.cs:396-403)")
    seed_hash = struct.unpack_from("<H", data, 6)[0]
    expect = compute_seed_hash(seed)
    if seed_hash != expect:
        raise ValueError(f"seed hash mismatch: image {seed_hash:#x} != computed {expect:#x}")
    if len(data) < pre_longs * 8 + (1 << lg_arr) * 8:
        raise ValueError(
            f"Possible corruption: image size {len(data)} < required "
            f"{pre_longs * 8 + (1 << lg_arr) * 8} (UpdateSketch.cs:410-416)")
    p = struct.unpack_from("<f", data, 12)[0]
    theta = struct.unpack_from("<q", data, 16)[0]
    if lg_arr <= lg_nom and theta / LONG_MAX_DOUBLE < p:
        raise ValueError(
            f"Possible corruption: theta < p while still resizing (UpdateSketch.cs:419-426)")
    if flags & _EMPTY:
        return empty_sketch(seed)
    if family == _FAMILY_UNION:
        # 4th preamble long = unionThetaLong; the effective theta is the
        # min of gadget theta and union theta (UnionImpl.cs:165-184)
        union_theta = struct.unpack_from("<q", data, 24)[0]
        theta = min(theta, union_theta)
    table = np.frombuffer(data, dtype="<u8", count=1 << lg_arr, offset=pre_longs * 8)
    entries = np.sort(table[(table != 0) & (table < np.uint64(theta))])
    if family == _FAMILY_UNION:
        # Union GetResult applies the pull-back to nominal k (UnionImpl.cs:155-184)
        return _finalize(int(theta), entries.copy(), False, 1 << lg_nom, seed)
    # update-sketch Compact() keeps every valid entry — no pull-back
    return ThetaSketch(int(theta), entries.copy(), False, seed)


def heapify(data: bytes, seed: int = DEFAULT_SEED) -> ThetaSketch:
    """General heapify dispatching on the family byte: COMPACT images (and
    SerVer-1/2 up-conversion) via ``deserialize_compact``; QUICKSELECT and
    UNION hash-table images via ``_heapify_table`` (UpdateSketch.cs:100-124,
    SetOperation-family reads). ALPHA is rejected exactly like the
    reference (UpdateSketch.cs:115-121)."""
    if len(data) < 8:
        raise ValueError("corrupt sketch image: < 8 bytes")
    ser_ver, family = data[1], data[2]
    if ser_ver in (1, 2):
        return deserialize_compact(data, seed)
    if ser_ver != _SER_VER:
        raise ValueError(f"unsupported serVer {ser_ver} (SerVer 4 compressed images are "
                         "recognized but not implemented, per CompactSketch.cs:93-97)")
    if family == _FAMILY_COMPACT:
        return deserialize_compact(data, seed)
    if family in (_FAMILY_QUICKSELECT, _FAMILY_UNION):
        return _heapify_table(data, seed, family)
    if family == 1:
        raise ValueError("ALPHA family sketches not supported (UpdateSketch.cs:115-121)")
    raise ValueError(f"cannot heapify family {family} as a theta sketch")


def serialize_update(s: ThetaSketch, lg_nom: int | None = None,
                     p: float = 1.0) -> bytes:
    """Write a QUICKSELECT update-sketch image (the round-trip twin of
    ``_heapify_table``; layout per HeapQuickSelectSketch/PreambleUtil):
    3 preamble longs + an open-addressing table. Used to interoperate with
    lakes that store update-sketch images, and by the round-trip tests."""
    if lg_nom is None:
        lg_nom = max(_MIN_LG_NOM_LONGS, int(np.ceil(np.log2(max(1, s.count)))))
    # table sized like the reference: smallest power of two holding count
    # at < 15/16 load, at least 2^(MIN_LG_NOM_LONGS+1)... minimum lgArr 5
    lg_arr = max(lg_nom + 1, 5)
    while (1 << lg_arr) * 15 // 16 < s.count:
        lg_arr += 1
    flags = _EMPTY if (s.empty and s.count == 0) else 0
    pre = struct.pack(
        "<BBBBBBHifq", 3, _SER_VER, _FAMILY_QUICKSELECT, lg_nom, lg_arr, flags,
        compute_seed_hash(s.seed), s.count, p, s.theta)
    table = np.zeros(1 << lg_arr, dtype=np.uint64)
    if s.count:
        # open-addressing layout is irrelevant to heapify (it reads the
        # whole table); place entries at linear-probe slots of their low bits
        mask = (1 << lg_arr) - 1
        for h in s.entries:
            idx = int(h) & mask
            while table[idx] != 0:
                idx = (idx + 1) & mask
            table[idx] = h
    return pre + table.tobytes()
