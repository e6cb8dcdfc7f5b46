"""Property-based (hypothesis) tests for the pure-numpy dedup kernels.

These attack the invariants the whole substring path rests on, with
randomized inputs rather than planted fixtures:

* ``_group_pairs`` against a brute-force shared-L-gram oracle (pair set
  exactness), at window lengths that take full and partial doubling steps
  and with duplicate url rows in one group;
* the winnowing guarantee: any two texts sharing a run of ≥ k + w − 1
  bytes share a selected fingerprint VALUE (the recall contract both the
  batch and incremental substring nominations depend on).

No SparkSession: the kernels are plain functions over numpy/pandas, which
keeps hundreds of examples cheap.
"""

from __future__ import annotations

import string

import numpy as np
import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from jira_duplicate_detection_turkcell__spark.operators.suffix import _group_pairs
from jira_duplicate_detection_turkcell__spark.operators.winnow import winnow_kernel

# small alphabets force dense repeat/overlap structure — the hard cases;
# url ids repeat, so one group can hold duplicate url rows
rows_strategy = st.lists(
    st.tuples(st.integers(min_value=0, max_value=5), st.text(alphabet="abc", max_size=40)),
    min_size=1,
    max_size=6,
)
# the @examples at min_len=48 share 47 or 48 chars of RUN between two docs,
# which pins the partial 32 → 48 doubling step
RUN = (string.ascii_lowercase * 2)[:48]


@settings(max_examples=200, deadline=None)
@given(rows_strategy, st.integers(min_value=1, max_value=7))
@example([(0, f"0{RUN[:47]}1"), (1, f"2{RUN[:47]}3")], 48)  # 47 shared: no pair
@example([(0, f"0{RUN}1"), (1, f"2{RUN}3")], 48)  # 48 shared: a pair
@example([(0, RUN), (0, RUN), (1, "x")], 48)  # duplicate url: no self-edge
def test_group_pairs_is_exact_shared_lgram_relation(rows, min_len):
    keys = [f"d{u}" for u, _ in rows]
    texts = [t for _, t in rows]
    pdf = pd.DataFrame({"url": keys, "text": texts})
    got = [(r.key_l, r.key_r) for r in _group_pairs(pdf, min_len).itertuples()]
    assert len(got) == len(set(got))
    truth = set()
    for i in range(len(texts)):
        gi = {texts[i][p : p + min_len] for p in range(len(texts[i]) - min_len + 1)}
        for j in range(i + 1, len(texts)):
            gj = {
                texts[j][p : p + min_len] for p in range(len(texts[j]) - min_len + 1)
            }
            if keys[i] != keys[j] and gi & gj:
                truth.add(tuple(sorted((keys[i], keys[j]))))
    assert set(got) == truth


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
