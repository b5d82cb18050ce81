"""Property-based kernel tests (Hypothesis): algebraic laws the sketch
kernels must satisfy for the distributed pipeline to be correct under ANY
partitioning/retry order — commutativity, associativity, idempotence, and
agreement with exact set semantics."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from datasketches_spark.config import MAX_THETA_LONG
from datasketches_spark.kernels import kmv, minhash, shingles
from datasketches_spark.kernels.murmur3 import hash128, sketch_hash_longs_vec
from datasketches_spark.operators.connected_components import component_labels
from tests.reference_murmur3 import murmur3_x64_128

K = 64  # small k so estimation mode is exercised by modest inputs


def _sketch(values: list[int]) -> kmv.ThetaSketch:
    if not values:
        return kmv.empty_sketch()
    keys = np.asarray(values, dtype=np.uint64).reshape(-1, 1)
    return kmv.build(sketch_hash_longs_vec(keys, 9001), k=K)


values = st.lists(st.integers(min_value=0, max_value=10_000), max_size=300)


@settings(max_examples=60, deadline=None)
@given(values, values)
def test_union_commutative(a, b):
    sa, sb = _sketch(a), _sketch(b)
    u1, u2 = kmv.union(sa, sb, k=K), kmv.union(sb, sa, k=K)
    assert u1.theta == u2.theta and u1.empty == u2.empty
    assert np.array_equal(u1.entries, u2.entries)


@settings(max_examples=40, deadline=None)
@given(values, values, values)
def test_union_associative(a, b, c):
    sa, sb, sc = _sketch(a), _sketch(b), _sketch(c)
    left = kmv.union(kmv.union(sa, sb, k=K), sc, k=K)
    right = kmv.union(sa, kmv.union(sb, sc, k=K), k=K)
    assert left.theta == right.theta
    assert np.array_equal(left.entries, right.entries)


@settings(max_examples=40, deadline=None)
@given(values)
def test_union_idempotent(a):
    s = _sketch(a)
    u = kmv.union(s, s, k=K)
    assert u.theta == s.theta and np.array_equal(u.entries, s.entries)


@settings(max_examples=60, deadline=None)
@given(values, values)
def test_exact_mode_matches_set_semantics(a, b):
    """When the union stays under k, every op equals exact set arithmetic."""
    sa, sb = _sketch(a), _sketch(b)
    u = kmv.union(sa, sb, k=K)
    if u.theta == MAX_THETA_LONG:  # exact mode
        assert u.estimate() == len(set(a) | set(b))
        assert kmv.intersect(sa, sb).estimate() == len(set(a) & set(b))
        assert kmv.a_not_b(sa, sb).estimate() == len(set(a) - set(b))


@settings(max_examples=40, deadline=None)
@given(values)
def test_estimate_within_bounds(a):
    s = _sketch(a)
    assert s.lower_bound(2) <= s.estimate() <= s.upper_bound(2)
    # truth within 3-sd bounds virtually always at these sizes
    truth = len(set(a))
    assert s.lower_bound(3) <= truth <= s.upper_bound(3)


@settings(max_examples=40, deadline=None)
@given(values)
def test_serde_identity(a):
    s = _sketch(a)
    r = kmv.deserialize_compact(kmv.serialize_compact(s))
    assert r.theta == s.theta and r.empty == s.empty
    assert np.array_equal(np.sort(r.entries), np.sort(s.entries))


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=64), st.integers(min_value=0, max_value=(1 << 64) - 1))
def test_murmur3_matches_transcription(data, seed):
    assert hash128(data, seed) == murmur3_x64_128(data, seed)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(min_value=1, max_value=(1 << 62)), min_size=0, max_size=200))
def test_minhash_batch_equals_scalar(vals):
    s = np.unique(np.asarray(vals, dtype=np.uint64)) if vals else np.empty(0, dtype=np.uint64)
    batched = minhash.signatures_batch([s, s], 32)
    single = minhash.signature(s, 32)
    assert np.array_equal(batched[0], single) and np.array_equal(batched[1], single)


@settings(max_examples=30, deadline=None)
@given(st.text(alphabet=st.characters(codec="utf-8"), max_size=200))
def test_shingle_pipeline_total(text):
    """Tokenize → hash → shingle never crashes and is deterministic on
    arbitrary unicode."""
    a = shingles.shingle_set(text, 5)
    b = shingles.shingle_set(text, 5)
    assert np.array_equal(a, b)


def _bfs_labels(edges: list[tuple[int, int]]) -> dict[int, int]:
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        if u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    labels: dict[int, int] = {}
    for root in sorted(adj):  # the first unseen node is its component's minimum
        if root in labels:
            continue
        labels[root] = root
        frontier = [root]
        while frontier:
            for w in adj[frontier.pop()]:
                if w not in labels:
                    labels[w] = root
                    frontier.append(w)
    return labels


@settings(max_examples=80, deadline=None)
@given(st.lists(st.tuples(st.integers(-40, 40), st.integers(-40, 40)), max_size=120),
       st.sampled_from([np.int32, np.int64]))
def test_component_labels_match_bfs(edges, dtype):
    src = np.array([u for u, _ in edges], dtype=dtype)
    dst = np.array([v for _, v in edges], dtype=dtype)
    nodes, labels = component_labels(src, dst)
    assert nodes.dtype == labels.dtype == dtype
    assert dict(zip(nodes.tolist(), labels.tolist())) == _bfs_labels(edges)
