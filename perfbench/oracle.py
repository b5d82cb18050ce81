"""Exact 5-gram Jaccard truth for the benchmark's output checks.

Independent of the package: its own tokenizer, exact shingle identity
(token-id tuples, no hashing) and an exact all-pairs similarity join
(prefix filter plus positional bound, then exact set intersection), so
the truth cannot inherit a bug of the code under test.

Truth is stated in the pipeline's output contract: exact duplicates
(byte-identical content) collapse to their smallest id, which is paired
with every other copy; near pairs are pairs of those representatives
whose exact shingle Jaccard is at or above the threshold.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd

TOKEN_RE = re.compile(r"[A-Za-z_][A-Za-z_0-9]*|[0-9]+|[^\sA-Za-z_0-9]")
_PAIR_BATCH = 2_000_000


class ShingleSets:
    """Distinct n-gram shingle ids of each document, exactly.

    A document shorter than ``ngram`` tokens has one shingle made of the
    tokens it has (the pipeline's rule for tiny files)."""

    def __init__(self, contents: list[str], ngram: int = 5):
        toks = [TOKEN_RE.findall(c or "") for c in contents]
        lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
        flat = np.empty(int(lens.sum()), dtype=object)
        pos = 0
        for t in toks:
            flat[pos:pos + len(t)] = t
            pos += len(t)
        codes, vocab = pd.factorize(flat)
        pad = len(vocab)  # a symbol no token has
        v = pad + 1
        if v ** 3 >= 2 ** 63:
            raise ValueError(f"vocabulary of {v} tokens is too large to encode exactly")
        offs = np.zeros(len(toks) + 1, dtype=np.int64)
        np.cumsum(lens, out=offs[1:])
        n_win = np.maximum(lens - ngram + 1, np.minimum(lens, 1))
        doc = np.repeat(np.arange(len(toks)), n_win)
        start = np.repeat(offs[:-1], n_win) + (
            np.arange(int(n_win.sum())) - np.repeat(np.cumsum(n_win) - n_win, n_win))
        padded = np.concatenate([codes.astype(np.int64), np.full(ngram, pad)])
        win = padded[start[:, None] + np.arange(ngram)]
        short = np.repeat(lens < ngram, n_win)
        if short.any():  # mask the tokens past a short document's end
            width = np.repeat(lens, n_win)[short]
            w = win[short]
            w[np.arange(ngram)[None, :] >= width[:, None]] = pad
            win[short] = w
        # exact identity of a token tuple: two integer keys, lexsorted
        k1 = (win[:, 0] * v + win[:, 1]) * v + win[:, 2]
        k2 = np.zeros_like(k1)
        for j in range(3, ngram):
            k2 = k2 * v + win[:, j]
        order = np.lexsort((k2, k1))
        new = np.ones(order.size, dtype=bool)
        new[1:] = (k1[order][1:] != k1[order][:-1]) | (k2[order][1:] != k2[order][:-1])
        sid = np.empty(order.size, dtype=np.int64)
        sid[order] = np.cumsum(new) - 1
        # distinct (doc, shingle), sorted by doc then shingle id
        o2 = np.lexsort((sid, doc))
        d2, s2 = doc[o2], sid[o2]
        keep = np.ones(o2.size, dtype=bool)
        keep[1:] = (d2[1:] != d2[:-1]) | (s2[1:] != s2[:-1])
        self.doc, self.sid = d2[keep], s2[keep]
        self.sizes = np.bincount(self.doc, minlength=len(toks))
        self.offs = np.zeros(len(toks) + 1, dtype=np.int64)
        np.cumsum(self.sizes, out=self.offs[1:])
        self.n_shingles = int(new.sum())

    def of(self, i: int) -> np.ndarray:
        return self.sid[self.offs[i]:self.offs[i + 1]]

    def jaccard(self, i: int, j: int) -> float:
        a, b = self.of(i), self.of(j)
        if a.size == 0 and b.size == 0:
            return 1.0
        inter = np.intersect1d(a, b, assume_unique=True).size
        return inter / float(a.size + b.size - inter)


def _pairs_within_groups(starts: np.ndarray, sizes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Index pairs (u < v) inside each run [start, start + size)."""
    idx = np.repeat(starts, sizes) + (
        np.arange(int(sizes.sum())) - np.repeat(np.cumsum(sizes) - sizes, sizes))
    k = idx - np.repeat(starts, sizes)
    cnt = np.repeat(sizes, sizes) - k - 1
    left = np.repeat(idx, cnt)
    ramp = np.arange(int(cnt.sum())) - np.repeat(np.cumsum(cnt) - cnt, cnt) + 1
    return left, left + ramp


class Truth:
    """Exact duplicate groups and exact near pairs of one input."""

    def __init__(self, ids: np.ndarray, contents: list[str], threshold: float,
                 ngram: int = 5):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.threshold = threshold
        self.sets = ShingleSets(contents, ngram)
        self.index = {int(d): i for i, d in enumerate(self.ids)}
        codes, _ = pd.factorize(pd.Series(contents, dtype=object))
        rep = pd.Series(self.ids).groupby(codes).transform("min").to_numpy()
        member = self.ids != rep
        self.exact_pairs = {(int(r), int(m)) for r, m in zip(rep[member], self.ids[member])}
        self.near_pairs = self._near_pairs(np.flatnonzero(~member))

    def _near_pairs(self, reps: np.ndarray) -> set[tuple[int, int]]:
        t = self.threshold
        s = self.sets
        in_rep = np.zeros(len(self.ids), dtype=bool)
        in_rep[reps] = True
        sel = in_rep[s.doc]
        doc, sid = s.doc[sel], s.sid[sel]
        df = np.bincount(sid, minlength=s.n_shingles)
        # global order: rarest shingle first
        key = df[sid] * s.n_shingles + sid
        o = np.lexsort((key, doc))
        doc, key = doc[o], key[o]
        size = s.sizes[doc]
        first = np.r_[0, np.flatnonzero(doc[1:] != doc[:-1]) + 1]
        pos = np.arange(doc.size) - np.repeat(first, np.diff(np.r_[first, doc.size]))
        prefix_len = size - np.ceil(t * size - 1e-9).astype(np.int64) + 1
        p = pos < prefix_len
        doc, key, pos, size = doc[p], key[p], pos[p], size[p]
        o = np.argsort(key, kind="stable")
        doc, key, pos, size = doc[o], key[o], pos[o], size[o]
        bounds = np.r_[0, np.flatnonzero(key[1:] != key[:-1]) + 1, key.size]
        gstart, gsize = bounds[:-1], np.diff(bounds)
        multi = gsize > 1
        gstart, gsize = gstart[multi], gsize[multi]
        alpha = t / (1.0 + t)
        cand: set[tuple[int, int]] = set()
        # batches of whole groups, so the pair arrays stay bounded
        npairs = gsize * (gsize - 1) // 2
        cut = np.r_[0, np.flatnonzero(np.diff(np.cumsum(npairs) // _PAIR_BATCH)) + 1, gsize.size]
        for b0, b1 in zip(cut[:-1], cut[1:]):
            u, v = _pairs_within_groups(gstart[b0:b1], gsize[b0:b1])
            lu, lv = size[u], size[v]
            # a shared element at positions (pu, pv) of the rarest-first
            # orders bounds the overlap by what follows it in both sets
            ub = np.minimum(lu - pos[u], lv - pos[v])
            ok = ((ub >= alpha * (lu + lv) - 1e-9)
                  & (np.minimum(lu, lv) >= t * np.maximum(lu, lv) - 1e-9)
                  & (doc[u] != doc[v]))
            a, b = np.minimum(doc[u][ok], doc[v][ok]), np.maximum(doc[u][ok], doc[v][ok])
            cand.update(zip(a.tolist(), b.tolist()))
        out = set()
        for a, b in cand:
            if s.jaccard(a, b) >= t - 1e-12:
                ia, ib = int(self.ids[a]), int(self.ids[b])
                out.add((min(ia, ib), max(ia, ib)))
        return out

    @property
    def pairs(self) -> set[tuple[int, int]]:
        return self.exact_pairs | self.near_pairs

    def exact_jaccard(self, id_a: int, id_b: int) -> float:
        return self.sets.jaccard(self.index[id_a], self.index[id_b])


def components(n_ids: list[int], pairs) -> dict[int, int]:
    """Smallest id of each id's connected component under ``pairs``."""
    parent = {i: i for i in n_ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, *_ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in n_ids}


def score(truth: Truth, pairs: list[tuple[int, int, str]], clusters: dict[int, int],
          margin: float = 0.05) -> dict[str, float]:
    """Quality of reported ``(id_a, id_b, kind)`` rows and cluster ids.

    ``recall``: share of truth pairs whose two files the outputs link,
    i.e. that share a cluster (the pipeline reports each cluster's pairs
    as a spanning set of verified edges, not every pair in it).
    ``direct_recall``: share of truth pairs reported as a pair.
    ``precision``: share of reported ``near`` pairs whose exact Jaccard is
    at least threshold - margin (the margin absorbs sketch estimation
    error above k shingles)."""
    reported = {(min(a, b), max(a, b)) for a, b, _ in pairs}
    want = truth.pairs
    linked = sum(clusters[a] == clusters[b] for a, b in want)
    near = [(a, b) for a, b, kind in pairs if kind == "near"]
    good = sum(truth.exact_jaccard(a, b) >= truth.threshold - margin for a, b in near)
    return {
        "recall": linked / len(want) if want else 1.0,
        "direct_recall": len(want & reported) / len(want) if want else 1.0,
        "precision": good / len(near) if near else 1.0,
    }


def digest(rows) -> str:
    """Order-independent digest of result rows."""
    h = hashlib.sha256()
    for r in sorted(tuple(r) for r in rows):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]
