"""Property-based (hypothesis) tests for the pure-numpy dedup kernels.

These attack the invariants the whole substring path rests on, with
randomized inputs rather than planted fixtures:

* ``suffix_array``/``lcp_array`` against naive sorted-suffix construction;
* ``_group_spans`` against a brute-force shared-L-gram oracle (pair set
  exactness);
* the winnowing guarantee: any two texts sharing a run of ≥ k + w − 1
  bytes share a selected fingerprint VALUE (the recall contract both the
  batch and incremental substring nominations depend on).

No SparkSession: the kernels are plain functions over numpy/pandas, which
keeps hundreds of examples cheap.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from jira_duplicate_detection_turkcell__spark.operators.suffix import (
    _group_spans,
    lcp_array,
    suffix_array,
)
from jira_duplicate_detection_turkcell__spark.operators.winnow import winnow_kernel

# small alphabets force dense repeat/overlap structure — the hard cases
texts_strategy = st.lists(
    st.text(alphabet="abc", min_size=0, max_size=40), min_size=1, max_size=6
)


@settings(max_examples=150, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=3), min_size=1, max_size=60))
def test_suffix_array_and_lcp_match_naive(codes_list):
    codes = np.array(codes_list, dtype=np.int64)
    sa = suffix_array(codes)
    suffixes = sorted(range(len(codes_list)), key=lambda i: codes_list[i:])
    assert list(sa) == suffixes
    lcp = lcp_array(codes, sa)
    for r in range(len(codes_list) - 1):
        a, b = codes_list[sa[r] :], codes_list[sa[r + 1] :]
        n = 0
        while n < len(a) and n < len(b) and a[n] == b[n]:
            n += 1
        assert lcp[r] == n


@settings(max_examples=100, deadline=None)
@given(texts_strategy, st.integers(min_value=2, max_value=6))
def test_group_spans_pair_set_is_exact_shared_lgram_relation(texts, min_len):
    keys = [f"d{i}" for i in range(len(texts))]
    pdf = pd.DataFrame({"url": keys, "text": texts})
    got = {(r.key_l, r.key_r) for r in _group_spans(pdf, min_len).itertuples()}
    truth = set()
    for i in range(len(texts)):
        gi = {texts[i][p : p + min_len] for p in range(len(texts[i]) - min_len + 1)}
        for j in range(i + 1, len(texts)):
            gj = {
                texts[j][p : p + min_len] for p in range(len(texts[j]) - min_len + 1)
            }
            if gi & gj:
                a, b = sorted((keys[i], keys[j]))
                truth.add((a, b))
    assert got == truth


@settings(max_examples=80, deadline=None)
@given(
    st.text(alphabet="abcd", min_size=0, max_size=50),
    st.text(alphabet="abcd", min_size=0, max_size=50),
    st.text(alphabet="abcd", min_size=12, max_size=30),
    st.integers(min_value=3, max_value=8),
    st.integers(min_value=2, max_value=5),
)
def test_winnow_guarantee_shared_run_shares_fingerprint(pre, post, run, k, w):
    """Any shared byte run of length ≥ k + w − 1 ⇒ shared fingerprint value
    (Schleimer/Wilkerson/Aiken winnowing guarantee — the exact-recall
    contract of the substring nomination)."""
    if len(run.encode()) < k + w - 1:
        run = run + "x" * (k + w - 1 - len(run))
    t1 = pre + run
    t2 = run + post
    kernel = winnow_kernel(k=k, window=w)
    pdf = pd.DataFrame({"id": ["a", "b"], "text": [t1, t2]})
    out = pd.concat(list(kernel(iter([pdf]))))
    fps = {
        r.id: (set() if r.fingerprints is None else set(np.asarray(r.fingerprints)))
        for r in out.itertuples()
    }
    assert fps["a"] & fps["b"], (t1, t2, k, w)
