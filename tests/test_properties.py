"""Property-based tests (hypothesis) over the pure-numpy kernels.

The signature/hash kernels in functions/hashing.py and the union-find in
operators/components.py are the deterministic core every distributed
stage builds on — and they are pure functions of small inputs, so they
admit exhaustive-style randomized oracles without a SparkSession:

- rolling polynomial hash  vs  direct per-window evaluation in Python ints
- OPH MinHash (incl. cyclic densification)  vs  a naive per-shingle loop
- SimHash  vs  a per-bit majority loop
- _uf_min_labels  vs  a classic DSU, plus edge-order independence
  (the property the pipeline's cross-partitioning determinism rests on)
- the bucket kernel (bucket_runs)  vs  a dict of runs, on shuffled rows
  with duplicates, both its all-pairs and its star-R reps
- shingle/anchor substring-containment (the alignment property that makes
  content-defined anchors find shared spans regardless of offset)
- canonicalization idempotence (re-canonicalizing stored text is a no-op,
  so batch and incremental paths agree byte-for-byte)

derandomize=True keeps the suite reproducible run-to-run (no flaky CI);
hypothesis still explores the structured edge cases (empty, single-byte,
all-identical, unicode) far better than hand-picked fixtures.
"""

from __future__ import annotations

import itertools
from collections import defaultdict

import numpy as np
import pytest

hyp = pytest.importorskip("hypothesis")
from hypothesis import given, settings, strategies as st  # noqa: E402

from hsearch_spark.functions.hashing import (  # noqa: E402
    _gram_hashes_u64,
    anchor_hashes,
    jaccard,
    minhash_signature,
    shingle_hashes,
    simhash64,
)
from hsearch_spark.functions.text import _canonicalize_py  # noqa: E402
from hsearch_spark.operators.candidates import bucket_runs  # noqa: E402
from hsearch_spark.operators.components import _uf_min_labels  # noqa: E402

COMMON = settings(max_examples=80, deadline=None, derandomize=True)

M64 = (1 << 64) - 1


def _mix64_int(x: int) -> int:
    """splitmix64 finalizer in plain Python ints (oracle twin of _mix64)."""
    x &= M64
    x ^= x >> 33
    x = (x * 0xFF51AFD7ED558CCD) & M64
    x ^= x >> 33
    x = (x * 0xC4CEB9FE1A85EC53) & M64
    x ^= x >> 33
    return x


# --------------------------------------------------------------------------
# rolling hash vs direct polynomial evaluation


@COMMON
@given(
    data=st.binary(min_size=0, max_size=400),
    k=st.integers(min_value=1, max_value=64),
)
def test_rolling_hash_matches_direct_window_evaluation(data: bytes, k: int):
    arr = np.frombuffer(data, dtype=np.uint8)
    got = _gram_hashes_u64(arr, k)
    n = len(data)
    if n < k:
        assert got.shape == (0,)
        return
    want = []
    for i in range(n - k + 1):
        acc = 0
        for j in range(k):
            acc = (acc + data[i + j] * pow(257, j, 1 << 64)) & M64
        want.append(_mix64_int(acc))
    assert got.tolist() == want


# --------------------------------------------------------------------------
# OPH MinHash vs a naive per-shingle loop (including densification)


def _naive_oph(shingles: list[int], num_perm: int, salt: int) -> list[int]:
    mins: dict[int, int] = {}
    for s in shingles:
        hv = _mix64_int(s ^ salt)
        b = ((hv >> 32) * num_perm) >> 32
        if b not in mins or hv < mins[b]:
            mins[b] = hv
    occupied = sorted(mins)
    sig = []
    for b in range(num_perm):
        # borrow-from-right, cyclic: first occupied bin >= b, else wrap
        import bisect

        i = bisect.bisect_left(occupied, b) % len(occupied)
        sig.append(mins[occupied[i]] & 0xFFFFFFFF)
    return sig


@COMMON
@given(
    shingles=st.sets(
        st.integers(min_value=0, max_value=(1 << 32) - 1),
        min_size=1,
        max_size=200,
    ),
    num_perm=st.sampled_from([1, 2, 7, 126]),
    salt=st.integers(min_value=0, max_value=M64),
)
def test_minhash_matches_naive_oph(shingles, num_perm, salt):
    arr = np.array(sorted(shingles), dtype=np.uint64)
    got = minhash_signature(arr, num_perm, salt)
    assert got.dtype == np.uint32 and got.shape == (num_perm,)
    assert got.tolist() == _naive_oph(list(shingles), num_perm, salt)


@COMMON
@given(
    shingles=st.sets(
        st.integers(min_value=0, max_value=(1 << 32) - 1),
        min_size=1,
        max_size=60,
    ),
    salt=st.integers(min_value=0, max_value=M64),
)
def test_minhash_is_order_independent(shingles, salt):
    fwd = np.array(sorted(shingles), dtype=np.uint64)
    rev = fwd[::-1].copy()
    a = minhash_signature(fwd, 126, salt)
    b = minhash_signature(rev, 126, salt)
    assert np.array_equal(a, b)


# --------------------------------------------------------------------------
# SimHash vs per-bit majority loop


@COMMON
@given(
    shingles=st.sets(
        st.integers(min_value=0, max_value=(1 << 32) - 1),
        min_size=0,
        max_size=120,
    )
)
def test_simhash_matches_bit_majority_oracle(shingles):
    arr = np.array(sorted(shingles), dtype=np.uint64)
    got = simhash64(arr)
    if not shingles:
        assert got == 0
        return
    fp = 0
    n = len(shingles)
    for bit in range(64):
        ones = sum((_mix64_int(s) >> bit) & 1 for s in shingles)
        if 2 * ones - n > 0:
            fp |= 1 << bit
    want = fp - (1 << 64) if fp >= (1 << 63) else fp  # int64 reinterpret
    assert got == want


# --------------------------------------------------------------------------
# substring-containment: the alignment property anchors/shingles rely on


@COMMON
@given(
    s=st.text(min_size=0, max_size=120),
    t=st.text(min_size=0, max_size=120),
    k=st.integers(min_value=1, max_value=12),
)
def test_shingles_of_prefix_are_contained_in_concatenation(s, t, k):
    sub = set(shingle_hashes(s, k).tolist())
    full = set(shingle_hashes(s + t, k).tolist())
    assert sub <= full


@COMMON
@given(
    span=st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
        min_size=30,
        max_size=150,
    ),
    left=st.text(max_size=60),
    right=st.text(max_size=60),
    mod=st.sampled_from([2, 4, 8]),
)
def test_anchors_of_shared_span_appear_in_any_context(span, left, right, mod):
    """Content-defined anchoring: a span >= gram chars long contributes the
    same anchor values no matter what surrounds it — the property that lets
    two documents sharing a long span meet in the same shuffle buckets."""
    gram = 20
    span_anchors = set(anchor_hashes(span, gram, mod).tolist())
    doc_anchors = set(anchor_hashes(left + span + right, gram, mod).tolist())
    assert span_anchors <= doc_anchors


# --------------------------------------------------------------------------
# exact jaccard oracle


@COMMON
@given(
    a=st.sets(st.integers(min_value=0, max_value=1 << 20), max_size=80),
    b=st.sets(st.integers(min_value=0, max_value=1 << 20), max_size=80),
)
def test_jaccard_matches_set_oracle(a, b):
    arr_a = np.array(sorted(a), dtype=np.uint64)
    arr_b = np.array(sorted(b), dtype=np.uint64)
    got = jaccard(arr_a, arr_b)
    if not a and not b:
        assert got == 0.0
    else:
        assert got == pytest.approx(len(a & b) / len(a | b))


# --------------------------------------------------------------------------
# union-find kernel vs classic DSU + order independence


def _dsu_min_labels(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=-(1 << 40), max_value=1 << 40),
        st.integers(min_value=-(1 << 40), max_value=1 << 40),
    ),
    min_size=1,
    max_size=150,
)


@COMMON
@given(edges=edge_lists)
def test_uf_min_labels_matches_classic_dsu(edges):
    u = np.array([e[0] for e in edges], dtype=np.int64)
    v = np.array([e[1] for e in edges], dtype=np.int64)
    nodes, root = _uf_min_labels(u, v)
    want = _dsu_min_labels(edges)
    got = dict(zip(nodes.tolist(), root.tolist()))
    assert got == want


@COMMON
@given(edges=edge_lists, seed=st.integers(min_value=0, max_value=2**31 - 1))
def test_uf_min_labels_is_edge_order_independent(edges, seed):
    """The determinism the pipeline's cross-partitioning guarantee rests
    on: any shuffle of the edge list yields identical labels."""
    u = np.array([e[0] for e in edges], dtype=np.int64)
    v = np.array([e[1] for e in edges], dtype=np.int64)
    base = _uf_min_labels(u, v)
    perm = np.random.RandomState(seed).permutation(len(edges))
    shuf = _uf_min_labels(u[perm], v[perm])
    assert np.array_equal(base[0], shuf[0])
    assert np.array_equal(base[1], shuf[1])


# --------------------------------------------------------------------------
# bucket kernel vs a dict of runs


@COMMON
@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=-3, max_value=3),
                  st.integers(min_value=-5, max_value=20)),
        max_size=60,
    ),
    dups=st.lists(st.integers(min_value=0, max_value=59), max_size=10),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    cap=st.integers(min_value=1, max_value=6),
    r=st.integers(min_value=0, max_value=4),
)
def test_bucket_runs_matches_dict_of_runs_oracle(rows, dups, seed, cap, r):
    """Rows in any order, duplicates included: each key's run of at most
    `cap` rows yields all its pairs (smaller doc_id first), a hotter run
    its r smallest doc_ids as reps (r = 0: nothing)."""
    rows = rows + [rows[i] for i in dups if i < len(rows)]
    perm = np.random.RandomState(seed).permutation(len(rows))
    k = np.array([x[0] for x in rows], dtype=np.int64)[perm]
    d = np.array([x[1] for x in rows], dtype=np.int64)[perm]
    pair_a, pair_b, rep, rep_key = bucket_runs(k, d, cap, r)

    runs = defaultdict(list)
    for key, doc in rows:
        runs[key].append(doc)
    want_pairs, want_reps = [], []
    for key, docs in runs.items():
        docs.sort()
        if len(docs) <= cap:
            want_pairs += itertools.combinations(docs, 2)
        else:
            want_reps += [(doc, key) for doc in docs[:r]]
    assert sorted(zip(pair_a.tolist(), pair_b.tolist())) == sorted(want_pairs)
    assert sorted(zip(rep.tolist(), rep_key.tolist())) == sorted(want_reps)


# --------------------------------------------------------------------------
# canonicalization idempotence (batch vs incremental byte-identity)


@COMMON
@given(s=st.text(max_size=300))
def test_canonicalize_is_idempotent(s):
    once = _canonicalize_py(s)
    assert _canonicalize_py(once) == once
