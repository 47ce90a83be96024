"""Property tests for the Rabin-Karp rolling-fingerprint arithmetic in
operators/dedup.py::_rolling_fps (the kernel of dedup_substring_rolling)
— the prefix-sum + inverse-power-normalization scheme must equal a
DIRECT per-window polynomial evaluation (Σ th[i+j]·B^j mod 2^64) on
arbitrary inputs: duplicate tokens, empty strings, single-window docs,
and window-length corpora.  The fixture-level histogram equality
(test_llm_ops.py) pins the Spark pipeline; these pin the numpy kernel
itself.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from s3_manifest_spark.operators.dedup import (
    ROLL_BASE,
    SPAN_WINDOW,
    _modinv_pow2_64,
    _rolling_fps,
)

MASK = 0xFFFFFFFFFFFFFFFF


def rolling_fingerprints(tokens: list[str], W: int) -> list[int]:
    """The production kernel (dedup._rolling_fps) over the tokens' hashes."""
    th = pd.util.hash_array(np.array(tokens, dtype=object))
    return list(_rolling_fps(th, W).astype(object))


def direct_fingerprints(tokens: list[str], W: int) -> list[int]:
    """Reference: evaluate Σ th[i+j]·B^j mod 2^64 per window with plain
    Python big-int arithmetic — no prefix sums, no inverses."""
    th = [int(h) for h in pd.util.hash_array(np.array(tokens, dtype=object))]
    out = []
    for i in range(len(tokens) - W + 1):
        acc = 0
        for j in range(W):
            acc = (acc + th[i + j] * pow(ROLL_BASE, j, 2**64)) & MASK
        out.append(acc)
    return out


def test_modinv_is_inverse():
    binv = _modinv_pow2_64(ROLL_BASE)
    assert (ROLL_BASE * binv) & MASK == 1


tokens_strategy = st.lists(
    st.text(
        alphabet=st.characters(
            whitelist_categories=(), whitelist_characters="abcdefzμл💡"
        ),
        max_size=4,
    ),
    min_size=0,
    max_size=40,
)


@settings(max_examples=300, deadline=None)
@given(tokens=tokens_strategy)
def test_prefix_sum_equals_direct_polynomial(tokens):
    for W in (1, 2, SPAN_WINDOW):
        assert rolling_fingerprints(tokens, W) == direct_fingerprints(tokens, W)


@settings(max_examples=100, deadline=None)
@given(tokens=st.lists(st.sampled_from(["a", "b", ""]), min_size=8, max_size=30))
def test_equal_windows_collide_and_unequal_do_not(tokens):
    """Same token window ⇒ same fingerprint (the dedup contract), and
    on a tiny alphabet the direct evaluation agrees everywhere, so any
    cross-window collision the kernel produces is a true duplicate."""
    W = 4
    fps = rolling_fingerprints(tokens, W)
    windows = [tuple(tokens[i : i + W]) for i in range(len(tokens) - W + 1)]
    by_window: dict[tuple, set] = {}
    for w, fp in zip(windows, fps):
        by_window.setdefault(w, set()).add(fp)
    for w, s in by_window.items():
        assert len(s) == 1, f"window {w} got {len(s)} fingerprints"
    # distinct windows must not collide (2^-64 per pair; deterministic
    # hash, so a failure here would be a real kernel bug, not flake)
    fp_of = {w: next(iter(s)) for w, s in by_window.items()}
    assert len(set(fp_of.values())) == len(fp_of)
