"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``seed``: the same seed gives
byte-identical documents. They are written here, not imported from the
package, so that editing the package's own corpus generator can never
change a benchmark workload.

A document is rendered like pseudo-code: a ``def`` header line followed
by its tokens ten to a line. Token streams are drawn from a zipf-flavoured
vocabulary (``v<i>``); tokens that must be unique to one document are
``u<doc>x<j>``. The planted roles follow the package corpus design
(singletons, exact copies, near copies at a target Jaccard, a block-swap,
and a shared licence header) but no target is trusted as truth: the
oracle recomputes exact Jaccard from the rendered content.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

LANGS = ["py", "java", "js", "go", "c"]
LICENSE = (
    "licensed to the apache software foundation under one or more contributor "
    "license agreements see the notice file distributed with this work for "
    "additional information regarding copyright ownership"
).split()
COLUMNS = ["id", "repo", "path", "commit", "lang", "content"]


@dataclass(frozen=True)
class Workload:
    name: str
    docs: pd.DataFrame  # COLUMNS, ids 0..n-1
    light_stages: bool  # run_dedup(light_stages=...)
    use_store: bool  # run_dedup(checkpoint_dir=...) set or not


def _mutation_rate(target_j: float, ngram: int = 5) -> float:
    """Token replacement rate that leaves about ``target_j`` shingle
    Jaccard: a shingle survives with s = (1-r)^ngram and J ~ s/(2-s)."""
    s = 2.0 * target_j / (1.0 + target_j)
    return 1.0 - s ** (1.0 / ngram)


class _Corpus:
    """Accumulates documents; owns the single random stream of a workload."""

    def __init__(self, seed: int, stream: int):
        self.rng = np.random.default_rng([seed, stream])
        self.rows: list[tuple] = []

    def vocab(self, n: int) -> list[str]:
        u = self.rng.random(n)
        return [f"v{v}" for v in (u * u * 6000).astype(np.int64)]

    def mutate(self, tokens: list[str], rate: float, doc_id: int) -> list[str]:
        out = list(tokens)
        for j in np.flatnonzero(self.rng.random(len(tokens)) < rate):
            out[j] = f"u{doc_id}x{j}"
        return out

    def unique(self, n: int, doc_id: int) -> list[str]:
        return [f"u{doc_id}t{j}" for j in range(n)]

    def add(self, tokens: list[str], lang: str, group: int) -> int:
        doc_id = len(self.rows)
        lines = [f"def f_{lang} ( a , b ) :"]
        lines += ["    " + " ".join(tokens[i:i + 10]) for i in range(0, len(tokens), 10)]
        commit = self.rng.integers(0, 256, 20, dtype=np.uint8).tobytes().hex()
        self.rows.append((doc_id, f"org{group % 97:03d}/repo{group % 7}",
                          f"src/pkg{doc_id % 23}/mod_{doc_id}.{lang}", commit,
                          lang, "\n".join(lines)))
        return doc_id

    def frame(self) -> pd.DataFrame:
        df = pd.DataFrame(self.rows, columns=COLUMNS)
        df["id"] = df["id"].astype(np.int64)
        return df


def _planted_group(b: _Corpus, gid: int, lo: int, hi: int) -> None:
    """20 documents in the package corpus's planted roles, by position:
    0-13 singletons, 14/15 exact copies, 16 near copy at a Jaccard cycling
    over 0.95/0.9/0.8/0.7, 17 near copy at 0.9, 18 a 60-token block of the
    base inside an unrelated body, 19 licence header + unique body."""
    targets = (0.95, 0.90, 0.80, 0.70)
    base = b.vocab(int(b.rng.integers(lo, hi)))
    glang = LANGS[gid % len(LANGS)]
    for role in range(20):
        doc_id = len(b.rows)
        if role <= 13:
            toks, lang = b.vocab(int(b.rng.integers(lo, hi))), LANGS[doc_id % len(LANGS)]
        elif role in (14, 15):
            toks, lang = base, glang
        elif role == 16:
            toks, lang = b.mutate(base, _mutation_rate(targets[gid % 4]), doc_id), glang
        elif role == 17:
            toks, lang = b.mutate(base, _mutation_rate(0.90), doc_id), glang
        elif role == 18:
            body = b.vocab(int(b.rng.integers(lo, hi)))
            mid = len(body) // 2
            toks, lang = body[:mid] + base[:60] + body[mid:], glang
        else:
            toks, lang = LICENSE + b.vocab(80), glang
        b.add(toks, lang, gid)


def planted(seed: int) -> pd.DataFrame:
    """4000 short files (60-400 tokens, all far under k shingles) in
    200 planted groups."""
    b = _Corpus(seed, 1)
    for gid in range(200):
        _planted_group(b, gid, 60, 400)
    return b.frame()


def boilerplate(seed: int) -> pd.DataFrame:
    """20 families of 100 files that share a 300-token header and differ
    in a unique 45-60 token tail: every pair sits near Jaccard 0.75, so
    they collide in LSH but fail verification (the bad-bucket fallback
    and its intra-bucket self-join). One family of 1000 files with 42-46
    token tails (pairs still below Jaccard 0.8) puts a few hundred members
    in one bucket in most bands, past the default bucket cap of 256 (the
    drop path). 15 planted groups add true pairs, and 500
    singletons fill the rest."""
    b = _Corpus(seed, 2)
    tails, capped_tails = (45, 61), (42, 47)
    for fam, size in enumerate([100] * 20 + [1000]):
        header = b.vocab(300)
        lang = LANGS[fam % len(LANGS)]
        for _ in range(size):
            doc_id = len(b.rows)
            tail = int(b.rng.integers(*(tails if size == 100 else capped_tails)))
            b.add(header + b.unique(tail, doc_id), lang, fam)
    for gid in range(15):
        _planted_group(b, 1000 + gid, 60, 400)
    for i in range(500):
        b.add(b.vocab(int(b.rng.integers(60, 400))), LANGS[i % len(LANGS)], 2000 + i)
    return b.frame()


def longdocs(seed: int) -> pd.DataFrame:
    """600 files of realistic length (1k-3.5k tokens): 20 near-copy pairs
    at Jaccard ~0.9 among them, and 2 near-copy pairs of ~4.5k-token files
    whose shingle sets exceed the default k = 4096 and so take the
    sketch-estimation branch of verification. The over-k pairs hold the
    highest ids."""
    b = _Corpus(seed, 3)
    rate = _mutation_rate(0.90)
    for i in range(600 - 2 * 20 - 2 * 2):
        b.add(b.vocab(int(b.rng.integers(1000, 3500))), LANGS[i % len(LANGS)], i)
    for p in range(20):
        base = b.vocab(int(b.rng.integers(1000, 3500)))
        lang = LANGS[p % len(LANGS)]
        b.add(base, lang, 5000 + p)
        b.add(b.mutate(base, rate, len(b.rows)), lang, 5000 + p)
    for p in range(2):
        base = b.vocab(4500)
        b.add(base, "c", 6000 + p)
        b.add(b.mutate(base, rate, len(b.rows)), "c", 6000 + p)
    return b.frame()


# name: (generator, run_dedup light_stages, run_dedup with a checkpoint dir)
MODES = {
    "planted": (planted, True, True),
    "boilerplate": (boilerplate, False, True),
    "longdocs": (longdocs, True, False),
}


def make(name: str, seed: int) -> Workload:
    if name not in MODES:
        raise ValueError(f"unknown workload {name!r}; expected one of {sorted(MODES)}")
    generate, light_stages, use_store = MODES[name]
    return Workload(name, generate(seed), light_stages, use_store)
