"""Signature-building stage: content → (MinHash signature, SimHash
fingerprint, KMV/theta sketch, token stats) in one Arrow-batched pass.

This is the pipeline's single heavy Python stage and the direct analogue of
the reference's UpdateSketch build loop
(/root/reference/Theta/UpdateSketch.cs:202-307 →
/root/reference/Theta/HeapQuickSelectSketch.cs:239-321): where the
reference feeds datums one at a time into an open-addressing table, the
vectorized build computes the identical final sketch state per document in
NumPy (distinct shingle hashes → k smallest). No per-row Python: murmur3,
MinHash permutations and SimHash votes are all batched NumPy; data moves
via Arrow.

uint64 values are reinterpreted as signed int64 for Spark LongType columns
(bit pattern preserved; all merge/compare logic downstream is
equality/XOR-based or re-views the bits as uint64).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datasketches_spark.config import DedupConfig
from datasketches_spark.kernels import kmv, minhash, shingles, simhash, winnow

SIGNATURE_FIELDS = [
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("n_tokens", T.IntegerType(), False),
    T.StructField("n_shingles", T.IntegerType(), False),
    T.StructField("minhash", T.ArrayType(T.LongType(), False), False),
    T.StructField("simhash", T.LongType(), False),
    T.StructField("kmv_entries", T.ArrayType(T.LongType(), False), False),
    T.StructField("kmv_theta", T.LongType(), False),
    # winnowed fingerprints for the common-span pass: ~2/(span_window+1)
    # of the positional shingle stream — a few longs per document
    T.StructField("span_fps", T.ArrayType(T.LongType(), False), False),
]


ALL_PARTS = frozenset({"minhash", "simhash", "kmv"})


def signature_schema(extra_passthrough: list[T.StructField] | None = None,
                     parts: frozenset = ALL_PARTS) -> T.StructType:
    drop = set()
    if "minhash" not in parts:
        drop.add("minhash")
    if "simhash" not in parts:
        drop.add("simhash")
    if "kmv" not in parts:
        drop.update({"kmv_entries", "kmv_theta"})
    fields = [f for f in SIGNATURE_FIELDS if f.name not in drop]
    return T.StructType(fields + (extra_passthrough or []))


def build_signatures(docs: DataFrame, cfg: DedupConfig,
                     id_col: str = "doc_id", content_col: str = "content",
                     min_parallelism: int | None = None,
                     parts: frozenset = ALL_PARTS) -> DataFrame:
    """docs(doc_id, content, ...) → signatures table.

    Column pruning happens here deliberately: only (id, content) enter the
    Arrow channel, and content never leaves it — at 100 TB the signature
    table is ~3 orders of magnitude smaller than the input.

    ``min_parallelism``: when the input arrives in fewer splits than this
    (e.g. a standalone query reading one parquet file), repartition before
    the Arrow stage so the compute-heavy signature build uses every core.
    The checkpointed pipeline path leaves this unset — its input stage
    already carries enough files, and an unconditional shuffle of the full
    content column is exactly the scale mistake to avoid at 100 TB.

    ``parts``: which sketch components to compute — any subset of
    {"minhash", "simhash", "kmv"}. Queries that consume only a slice of
    the signature table (e.g. SimHash fingerprints alone, or band tables
    that need only MinHash) skip the other kernels entirely — MinHash is
    ~37% and SimHash ~19% of the stage's Python compute (guide §1.2:
    don't compute things you throw away). Output columns for the
    requested parts are bit-identical to the full build; omitted parts
    are absent from the schema. The pipeline keeps the default (all).
    """
    seed, ngram, num_perm, k = cfg.seed, cfg.ngram, cfg.num_perm, cfg.k
    want_mh = "minhash" in parts
    want_sh = "simhash" in parts
    want_kmv = "kmv" in parts
    # winnowing fingerprints are only consumed by the common-span pass:
    # when cfg.span_pass is off (the default), span_fps stays an empty
    # array and the O(n) sliding-min is skipped entirely — every other
    # consumer of the signature table never pays for it
    span_w = cfg.span_window if cfg.span_pass else 0
    p = cfg.p
    schema = signature_schema(parts=parts)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        params = minhash.perm_params(num_perm, seed) if want_mh else None
        no_fps = np.empty(0, dtype=np.int64)
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            texts = pdf["content"].tolist()
            token_lists = [shingles.tokenize(t or "") for t in texts]
            token_hashes = shingles.hash_tokens_batch(token_lists, seed)
            streams = shingles.shingle_hashes_batch(token_hashes, ngram, seed)
            n = len(texts)
            # distinct shingle sets + KMV sketches batched ACROSS documents
            # (segmented sort + boundary diff / one validity mask + bincount)
            # — no per-document np.unique or kmv.build dispatch; outputs
            # bit-identical (parity-pinned in tests/test_signatures.py)
            shingle_sets = shingles.unique_sets_batch(streams)
            n_tok = np.fromiter((len(t) for t in token_lists), dtype=np.int32, count=n)
            n_shg = np.fromiter((s.shape[0] for s in shingle_sets), dtype=np.int32, count=n)
            fp_list = ([winnow.winnow(s, span_w).view(np.int64) for s in streams]
                       if span_w else [no_fps] * n)
            cols = {"doc_id": ids, "n_tokens": n_tok, "n_shingles": n_shg}
            if want_mh:
                # MinHash vectorized across the whole Arrow batch
                mh = minhash.signatures_batch(shingle_sets, num_perm, seed, params)
                cols["minhash"] = list(mh.view(np.int64))
            if want_sh:
                cols["simhash"] = simhash.fingerprints_batch(shingle_sets).view(np.int64)
            if want_kmv:
                kmv_entries, theta_list = kmv.build_batch(shingle_sets, k=k, seed=seed, p=p)
                cols["kmv_entries"] = [e.view(np.int64) for e in kmv_entries]
                cols["kmv_theta"] = theta_list
            cols["span_fps"] = fp_list
            yield pd.DataFrame(cols)

    pruned = docs.select(F.col(id_col).alias("doc_id"), F.col(content_col).alias("content"))
    if min_parallelism and pruned.rdd.getNumPartitions() < min_parallelism:
        pruned = pruned.repartition(min_parallelism)
    return pruned.mapInPandas(compute, schema)


def kmv_group_partials(df: DataFrame, group_col: str, value_col: str,
                       cfg: DedupConfig,
                       min_parallelism: int | None = None) -> DataFrame:
    """Phase 1 of the two-phase per-group KMV aggregation: ONE partial
    sketch per (input partition, group) via ``mapInPandas`` — no extra
    shuffle by default, state bounded by k per group. Exposed so tests can
    pin the partial count to n_partitions × n_groups (NOT
    n_arrow_batches × n_groups).

    ``min_parallelism``: when the input arrives in fewer splits than this
    (e.g. one modest parquet file read as a single 128 MB split), the
    pruned 2-column input is repartitioned first so the Python stage uses
    every core — the shuffle moves only (group, value) rows, ~16 B each
    (guide §2.3 "project before the exchange"). At scale the input
    already has plenty of splits and the condition is false, so no
    shuffle is ever added where it wouldn't pay.

    Per-batch compute is fully batched (guide §4.2): one vectorized
    murmur3 over the whole value column, one lexsort + boundary-diff for
    per-group distinct hash sets, one ``kmv.build_batch`` per Arrow batch
    — no per-group ``np.unique``/``kmv.build`` dispatch (bit-identical;
    the same shape the signature stage uses)."""
    from datasketches_spark.kernels.murmur3 import sketch_hash_longs_vec

    seed, k = cfg.seed, cfg.k
    group_field = df.schema[group_col]
    part_schema = T.StructType([
        T.StructField(group_col, group_field.dataType, group_field.nullable),
        T.StructField("entries", T.ArrayType(T.LongType(), False), False),
        T.StructField("theta", T.LongType(), False),
    ])

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # ONE sketch per group per PARTITION, not per Arrow batch: partials
        # accumulate across the whole batch iterator and are emitted once at
        # iterator end — classic map-side combine. Partial row count scales
        # with n_partitions × n_groups, independent of row count / batch
        # size (at 10^12 rows, per-batch partials would re-create the
        # single-task merge bottleneck ~5×10^8 rows wide).
        acc: dict = {}
        for pdf in batches:
            # factorize keeps the null group (use_na_sentinel=False): SQL
            # GROUP BY keeps nulls; pandas groupby drops them by default
            codes, uniques = pd.factorize(pdf[group_col], use_na_sentinel=False)
            vals = pdf[value_col].to_numpy().astype(np.int64).view(np.uint64).reshape(-1, 1)
            h = sketch_hash_longs_vec(vals, seed)
            order = np.lexsort((h, codes))
            hs, cs = h[order], codes[order]
            # distinct within group: first of each (group, hash) run
            keep = np.empty(hs.shape[0], dtype=bool)
            if hs.shape[0]:
                keep[0] = True
                np.logical_or(hs[1:] != hs[:-1], cs[1:] != cs[:-1], out=keep[1:])
            hs, cs = hs[keep], cs[keep]
            starts = np.flatnonzero(np.r_[True, cs[1:] != cs[:-1]]) if cs.shape[0] else np.empty(0, dtype=np.int64)
            ends = np.r_[starts[1:], cs.shape[0]] if starts.shape[0] else starts
            sets = [hs[s:e] for s, e in zip(starts, ends)]
            entries_l, thetas = kmv.build_batch(sets, k=k, seed=seed)
            for i, (s, e) in enumerate(zip(starts, ends)):
                key = uniques[cs[s]]
                th = int(thetas[i])
                sk = kmv.ThetaSketch(
                    th, entries_l[i],
                    empty=(entries_l[i].shape[0] == 0 and th == kmv.MAX_THETA_LONG),
                    seed=seed)
                prev = acc.get(key)
                acc[key] = sk if prev is None else kmv.union(prev, sk, k=k)
        if acc:
            yield pd.DataFrame({
                group_col: list(acc.keys()),
                "entries": [s.entries.view(np.int64) for s in acc.values()],
                "theta": [np.int64(np.uint64(s.theta).view(np.int64)) for s in acc.values()],
            })

    pruned = df.select(group_col, value_col)
    if min_parallelism and pruned.rdd.getNumPartitions() < min_parallelism:
        pruned = pruned.repartition(min_parallelism)
    return pruned.mapInPandas(partial, part_schema)


def kmv_distinct_by_group(df: DataFrame, group_col: str, value_col: str,
                          cfg: DedupConfig, out_col: str = "distinct_est",
                          min_parallelism: int | None = None) -> DataFrame:
    """Per-group KMV distinct estimate as a TWO-PHASE aggregation (the Spark
    mapping of the reference Union gadget, UnionImpl.cs:232-281): phase 1
    (``kmv_group_partials``) builds one partial sketch per (input
    partition, group) — no shuffle, group state bounded by k, partial count
    scaling with partitions, never with rows or Arrow batch size — and
    phase 2 merges the tiny partials per group. A group with billions of
    rows never materializes in one task. Exact mode (distinct <= k) returns
    exactly COUNT(DISTINCT)."""
    seed, k = cfg.seed, cfg.k
    group_field = df.schema[group_col]
    final_schema = T.StructType([
        T.StructField(group_col, group_field.dataType, group_field.nullable),
        T.StructField(out_col, T.LongType(), False),
    ])

    # no type hints: PySpark infers applyInPandas' eval type from complete
    # hints and warns on partial ones
    def final(key, pdf):
        sketches = [
            kmv.ThetaSketch(int(t), np.asarray(e, dtype=np.int64).view(np.uint64),
                            empty=(len(e) == 0 and int(t) == kmv.MAX_THETA_LONG), seed=seed)
            for e, t in zip(pdf["entries"], pdf["theta"])
        ]
        merged = kmv.union_many(sketches, k=k, seed=seed)
        return pd.DataFrame({group_col: [key[0]], out_col: [int(round(merged.estimate()))]})

    partials = kmv_group_partials(df, group_col, value_col, cfg,
                                  min_parallelism=min_parallelism)
    return partials.groupBy(group_col).applyInPandas(final, final_schema)


def merge_kmv_sketches(sig: DataFrame, group_cols: list[str], cfg: DedupConfig,
                       entries_col: str = "kmv_entries", theta_col: str = "kmv_theta") -> DataFrame:
    """Distributed theta Union as a two-phase aggregation — the Spark
    mapping of the reference's Union gadget (UnionImpl.cs:232-281):
    phase 1 merges every sketch in a partition into ONE partial per
    (partition, group) inside ``mapInPandas`` (map-side combine, no
    shuffle, emitted once at batch-iterator end so the partial count scales
    with partitions — not with rows or Arrow batch size); phase 2 merges
    the tiny partials per key. Returns one merged sketch + distinct
    estimate per group.
    """
    k, seed = cfg.k, cfg.seed
    group_fields = [f for f in sig.schema.fields if f.name in group_cols]
    part_schema = T.StructType(group_fields + [
        T.StructField(entries_col, T.ArrayType(T.LongType(), False), False),
        T.StructField(theta_col, T.LongType(), False),
    ])

    def precombine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict = {}
        for pdf in batches:
            for key, grp in pdf.groupby(group_cols, dropna=False):
                key_t = key if isinstance(key, tuple) else (key,)
                sketches = [
                    kmv.ThetaSketch(
                        int(t), np.asarray(e, dtype=np.int64).view(np.uint64),
                        empty=(len(e) == 0 and int(t) == kmv.MAX_THETA_LONG), seed=seed)
                    for e, t in zip(grp[entries_col], grp[theta_col])
                ]
                merged = kmv.union_many(sketches, k=k, seed=seed)
                prev = acc.get(key_t)
                acc[key_t] = merged if prev is None else kmv.union(prev, merged, k=k)
        if acc:
            rows = {c: [] for c in group_cols}
            rows[entries_col] = []
            rows[theta_col] = []
            for key_t, s in acc.items():
                for c, v in zip(group_cols, key_t):
                    rows[c].append(v)
                rows[entries_col].append(s.entries.view(np.int64))
                rows[theta_col].append(np.int64(np.uint64(s.theta).view(np.int64)))
            yield pd.DataFrame(rows)

    out_schema = T.StructType(
        group_fields
        + [
            T.StructField("kmv_entries", T.ArrayType(T.LongType(), False), False),
            T.StructField("kmv_theta", T.LongType(), False),
            T.StructField("estimate", T.DoubleType(), False),
            T.StructField("lower_bound", T.DoubleType(), False),
            T.StructField("upper_bound", T.DoubleType(), False),
        ]
    )

    def merge(key, pdf):  # no hints, as on ``final`` above
        # theta is always < 2^63 so the signed int64 column needs no
        # reinterpretation; entries re-view their bits as uint64.
        sketches = [
            kmv.ThetaSketch(
                int(t),
                np.asarray(e, dtype=np.int64).view(np.uint64),
                empty=(len(e) == 0 and int(t) == kmv.MAX_THETA_LONG),
                seed=seed,
            )
            for e, t in zip(pdf[entries_col], pdf[theta_col])
        ]
        merged = kmv.union_many(sketches, k=k, seed=seed) if sketches else kmv.empty_sketch(seed)
        row = {c: [key[i]] for i, c in enumerate(group_cols)}
        row.update({
            "kmv_entries": [merged.entries.view(np.int64)],
            "kmv_theta": [np.uint64(merged.theta).astype(np.int64)],
            "estimate": [merged.estimate()],
            "lower_bound": [merged.lower_bound(2)],
            "upper_bound": [merged.upper_bound(2)],
        })
        return pd.DataFrame(row)

    partials = sig.select(*group_cols, entries_col, theta_col).mapInPandas(
        precombine, part_schema)
    return partials.groupBy(*group_cols).applyInPandas(merge, out_schema)
