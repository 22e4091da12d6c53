"""Hypothesis property tests for the pure-Python kernels whose
correctness rests on incremental bookkeeping (the places a fixture test
can miss an interaction): the driver-local BPE trainer's incremental
pair counts, its greedy merge rewrite, and the per-bucket similarity
matmul. No SparkSession — these run in milliseconds per example."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_map_reduce_spark.operators.bpe import (
    END,
    _apply_merge_local,
    _bpe_train_local,
)
from kafka_map_reduce_spark.operators.similarity import _bucket_pairs_fn

# words over a tiny alphabet maximize pair collisions / overlaps
_word = st.text(alphabet="ab", min_size=1, max_size=6)
_corpus = st.lists(
    st.tuples(_word, st.integers(min_value=1, max_value=9)),
    min_size=1,
    max_size=12,
)


def _naive_train(vocab, n_merges):
    """Reference trainer: recount every pair from scratch each
    iteration — quadratic but trivially correct. Same argmax tie-break
    (highest count, lexicographically smallest pair), same stop rule
    (best count < 2), same greedy left-to-right rewrite."""
    vocab = [(list(s), c) for s, c in vocab]
    merges = []
    for rank in range(n_merges):
        counts: dict = {}
        for syms, cnt in vocab:
            for p in zip(syms, syms[1:]):
                counts[p] = counts.get(p, 0) + cnt
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        left, right = best[0]
        merges.append((rank, left, right))
        vocab = [
            (_apply_merge_local(s, left, right), c) for s, c in vocab
        ]
    return merges


@settings(max_examples=200, deadline=None)
@given(_corpus, st.integers(min_value=1, max_value=8))
def test_incremental_trainer_equals_naive_recount(corpus, n_merges):
    """The incremental pair-count/inverted-index trainer must produce
    the identical merge table to the recount-from-scratch reference on
    arbitrary corpora — guards the add/remove bookkeeping around
    overlapping pairs, duplicate pairs within one word, and index
    membership churn."""
    # dedupe words (the real trainer receives a DISTINCT-word table)
    seen: dict = {}
    for w, c in corpus:
        seen[w] = seen.get(w, 0) + c
    vocab = [(list(w) + [END], c) for w, c in sorted(seen.items())]
    inc = _bpe_train_local([(list(s), c) for s, c in vocab], n_merges)
    naive = _naive_train(vocab, n_merges)
    assert inc == naive


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.sampled_from("ab"), min_size=1, max_size=12),
    st.sampled_from(["a", "b", "ab", "ba"]),
    st.sampled_from(["a", "b", "ab", "ba"]),
)
def test_greedy_merge_rewrite_matches_fold_semantics(syms, left, right):
    """_apply_merge_local must implement the greedy left-to-right
    non-overlapping rewrite: scanning the output, every (left, right)
    adjacency that remains must NOT have been mergeable (i.e. no two
    adjacent ORIGINAL symbols survive unmerged), and unmerging
    reproduces the input."""
    out = _apply_merge_local(list(syms), left, right)
    merged = left + right
    # unmerge reproduces the input exactly
    rebuilt: list = []
    for s in out:
        if s == merged and not (merged in (left, right)):
            rebuilt.extend([left, right])
        else:
            rebuilt.append(s)
    if merged not in (left, right):
        assert rebuilt == list(syms)
    # greedy: no adjacent (left, right) both of which came through
    # unmerged — walk the input replaying the greedy scan
    i, j = 0, 0
    n = len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            assert out[j] == merged
            i += 2
        else:
            assert out[j] == syms[i]
            i += 1
        j += 1
    assert j == len(out)


@settings(max_examples=100, deadline=None)
@given(
    st.integers(min_value=2, max_value=12),
    st.integers(min_value=2, max_value=6),
    st.floats(min_value=-1.0, max_value=1.0),
)
def test_bucket_pairs_matmul_matches_bruteforce(n, dim, threshold):
    """The U @ U.T kernel must emit exactly the brute-force pair set
    with matching sims (to float tolerance) and id_a < id_b ordering,
    for arbitrary unit vectors and thresholds."""
    rng = [
        [math.sin(0.7 * i + 1.3 * d) for d in range(dim)] for i in range(n)
    ]
    unit = []
    for v in rng:
        nv = math.sqrt(sum(x * x for x in v)) or 1.0
        unit.append([x / nv for x in v])
    ids = [100 + 3 * i for i in range(n)]
    pdf = pd.DataFrame({"id": ids, "__vn": unit, "is_new": True})
    got = _bucket_pairs_fn(threshold)(pdf)
    got_pairs = {
        (int(a), int(b)): s
        for a, b, s in zip(got["id_a"], got["id_b"], got["sim"])
    }
    want = {}
    for i in range(n):
        for j in range(i + 1, n):
            s = sum(x * y for x, y in zip(unit[i], unit[j]))
            if s >= threshold:
                want[(ids[i], ids[j])] = s
    assert set(got_pairs) == set(want)
    for k, s in want.items():
        assert abs(got_pairs[k] - s) < 1e-9
    assert all(a < b for a, b in got_pairs)


@settings(max_examples=100, deadline=None)
@given(
    st.integers(min_value=2, max_value=12),
    st.integers(min_value=2, max_value=6),
    st.floats(min_value=-1.0, max_value=1.0),
    st.lists(st.booleans(), min_size=12, max_size=12),
)
def test_bucket_pairs_ingest_matches_bruteforce(n, dim, threshold, new):
    """With some rows old (the ingest probe), the kernel must emit
    exactly the brute-force pairs that touch a new row, each once with
    id_a < id_b, whatever order the cluster's rows arrive in."""
    unit = []
    for i in range(n):
        v = [math.cos(0.5 * i + 1.1 * d) for d in range(dim)]
        nv = math.sqrt(sum(x * x for x in v)) or 1.0
        unit.append([x / nv for x in v])
    ids = [50 - 4 * i for i in range(n)]  # descending: arrival != id order
    pdf = pd.DataFrame({"id": ids, "__vn": unit, "is_new": new[:n]})
    got = _bucket_pairs_fn(threshold)(pdf)
    want = set()
    for i in range(n):
        for j in range(i + 1, n):
            s = sum(x * y for x, y in zip(unit[i], unit[j]))
            if (new[i] or new[j]) and s >= threshold:
                want.add((min(ids[i], ids[j]), max(ids[i], ids[j])))
    pairs = list(zip(got["id_a"], got["id_b"]))
    assert len(pairs) == len(set(pairs))
    assert set(pairs) == want


@settings(max_examples=100, deadline=None)
@given(
    st.integers(min_value=2, max_value=14),
    st.integers(min_value=2, max_value=5),
    st.floats(min_value=-1.0, max_value=0.9),
    st.integers(min_value=1, max_value=20),
)
def test_bucket_pairs_governor_invariants(n, dim, threshold, max_pairs):
    """The max_pairs governor (r11, verdict item #5) under arbitrary
    vectors/thresholds/caps: the capped emission is a SUBSET of the full
    pair set, covers exactly the same node set (every doc with an
    over-threshold neighbor keeps >=1 witness edge — the property
    connected-components/keep-best depend on), never exceeds
    max(max_pairs, n_witnessed_nodes) rows (the documented witness-floor
    override), is a bit-level no-op when the full set fits the cap, and
    is deterministic across invocations."""
    vecs = [
        [math.sin(0.9 * i + 0.61 * d) + 0.1 * (i % 3) for d in range(dim)]
        for i in range(n)
    ]
    unit = []
    for v in vecs:
        nv = math.sqrt(sum(x * x for x in v)) or 1.0
        unit.append([x / nv for x in v])
    ids = [7 + 5 * i for i in range(n)]
    pdf = pd.DataFrame({"id": ids, "__vn": unit, "is_new": True})

    full = _bucket_pairs_fn(threshold)(pdf)
    capped = _bucket_pairs_fn(threshold, max_pairs=max_pairs)(pdf)

    full_set = set(zip(full["id_a"], full["id_b"]))
    cap_set = set(zip(capped["id_a"], capped["id_b"]))
    assert cap_set <= full_set
    full_nodes = set(full["id_a"]) | set(full["id_b"])
    cap_nodes = set(capped["id_a"]) | set(capped["id_b"])
    assert cap_nodes == full_nodes
    assert len(capped) <= max(max_pairs, len(full_nodes))
    if len(full) <= max_pairs:
        assert cap_set == full_set
    again = _bucket_pairs_fn(threshold, max_pairs=max_pairs)(pdf)
    assert capped.reset_index(drop=True).equals(again.reset_index(drop=True))
