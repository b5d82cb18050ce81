"""The exact-Jaccard oracle against a brute-force all-pairs reference."""

from __future__ import annotations

import itertools
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracle  # noqa: E402
import workloads  # noqa: E402


def _brute(contents, threshold, ngram=5):
    sets = []
    for c in contents:
        t = oracle.TOKEN_RE.findall(c)
        if len(t) < ngram:
            sets.append({tuple(t)} if t else set())
        else:
            sets.append({tuple(t[i:i + ngram]) for i in range(len(t) - ngram + 1)})
    rep = {}
    for i, c in enumerate(contents):
        rep.setdefault(c, i)
    reps = sorted(set(rep.values()))
    exact = {(rep[c], i) for i, c in enumerate(contents) if rep[c] != i}
    near = set()
    for a, b in itertools.combinations(reps, 2):
        u = len(sets[a] | sets[b])
        j = len(sets[a] & sets[b]) / u if u else 1.0
        if j >= threshold:
            near.add((a, b))
    return exact, near


def _corpus(seed):
    rng = np.random.default_rng(seed)
    base = [f"v{x}" for x in rng.integers(0, 50, 200)]
    docs = []
    for i in range(60):
        kind = i % 6
        if kind == 0:
            toks = base
        elif kind in (1, 2):
            toks = [t if rng.random() > 0.02 * kind else f"u{i}x{j}" for j, t in enumerate(base)]
        elif kind == 3:
            toks = [f"v{x}" for x in rng.integers(0, 8, rng.integers(0, 7))]
        else:
            toks = [f"v{x}" for x in rng.integers(0, 50, rng.integers(20, 120))]
        docs.append(" ".join(toks) + (" ;" if kind == 5 else ""))
    docs += docs[:5]  # exact copies
    return docs


def test_truth_matches_brute_force():
    for seed in range(4):
        contents = _corpus(seed)
        for t in (0.5, 0.8):
            truth = oracle.Truth(np.arange(len(contents)), contents, t)
            exact, near = _brute(contents, t)
            assert truth.exact_pairs == exact
            assert truth.near_pairs == near


def test_truth_on_generated_workload_sample():
    docs = workloads.planted(3).head(200)  # the first 10 planted groups
    contents = docs["content"].tolist()
    truth = oracle.Truth(docs["id"].to_numpy(), contents, 0.8)
    exact, near = _brute(contents, 0.8)
    assert truth.exact_pairs == exact and truth.near_pairs == near
    assert truth.near_pairs  # the planted roles give near pairs


def test_score_and_digest():
    contents = ["a b c d e f g", "a b c d e f g", "a b c d e f h", "x y z w v u"]
    truth = oracle.Truth(np.arange(4), contents, 0.5)
    assert truth.exact_pairs == {(0, 1)}
    assert truth.near_pairs == {(0, 2)}
    good = [(0, 1, "exact"), (0, 2, "near")]
    s = oracle.score(truth, good, oracle.components(range(4), good))
    assert s == {"recall": 1.0, "direct_recall": 1.0, "precision": 1.0}
    bad = [(0, 1, "exact"), (2, 3, "near")]
    s = oracle.score(truth, bad, oracle.components(range(4), bad))
    assert s == {"recall": 0.5, "direct_recall": 0.5, "precision": 0.0}
    # a truth pair linked through a third file counts for recall only
    chain = [(0, 1, "exact"), (1, 2, "near")]
    s = oracle.score(truth, chain, oracle.components(range(4), chain))
    assert s["recall"] == 1.0 and s["direct_recall"] == 0.5
    assert oracle.digest([(1, 2), (0, 1)]) == oracle.digest([(0, 1), (1, 2)])


def test_components():
    assert oracle.components([0, 1, 2, 3, 4], [(3, 4), (1, 4), (0, 2, "near")]) == {
        0: 0, 1: 1, 2: 0, 3: 1, 4: 1}


def test_generators_are_seeded():
    for name in ("planted", "boilerplate", "longdocs"):
        a, b = workloads.make(name, 5).docs, workloads.make(name, 5).docs
        assert a.equals(b)
    assert not workloads.make("planted", 5).docs.equals(workloads.make("planted", 6).docs)
