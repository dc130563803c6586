"""Property-based tests (hypothesis) for the numpy kernels against naive
per-row Python references — SURVEY §5's randomized layer. JVM-free: these
exercise the exact kernels the Spark stages call, so hundreds of random
examples run in seconds."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from feature_extractor_mbo_lob_spark.contract import (
    FLOW_VOL_MIN_PER_SUB,
    FLOW_VOL_SUBWINDOWS,
)
from feature_extractor_mbo_lob_spark.labeling.triple_barrier import _label_group
from feature_extractor_mbo_lob_spark.operators.order_stats import (
    _bucket_order_stats,
    flow_vol_from_sig,
)

ROLES = ["user", "assistant", "tool"]


def naive_flow_vol(sig: list[float], i: int, w: int) -> float:
    frame = sig[max(0, i - w + 1): i + 1]
    n, nsub = len(frame), FLOW_VOL_SUBWINDOWS
    if n < nsub * FLOW_VOL_MIN_PER_SUB:
        return 0.0
    ssz = n // nsub
    flows = []
    for j in range(nsub):
        seg = frame[j * ssz: n if j == nsub - 1 else (j + 1) * ssz]
        tot = sum(abs(x) for x in seg)
        flows.append(sum(seg) / tot if tot > 0 else 0.0)
    m = sum(flows) / nsub
    return math.sqrt(sum((f - m) ** 2 for f in flows) / nsub)


@settings(max_examples=80, deadline=None)
@given(
    roles=st.lists(st.sampled_from(ROLES), min_size=1, max_size=120),
    w=st.integers(min_value=4, max_value=64),
)
def test_flow_vol_kernel_matches_naive(roles, w):
    sig = np.array(
        [1.0 if r == "user" else (-1.0 if r == "assistant" else 0.0) for r in roles]
    )
    gstart = np.zeros(len(sig), dtype=np.int64)  # single conversation
    got = flow_vol_from_sig(sig, gstart, w)
    for i in range(len(sig)):
        assert abs(got[i] - naive_flow_vol(list(sig), i, w)) < 1e-12


@settings(max_examples=60, deadline=None)
@given(
    roles_a=st.lists(st.sampled_from(ROLES), min_size=1, max_size=40),
    roles_b=st.lists(st.sampled_from(ROLES), min_size=1, max_size=40),
    w=st.integers(min_value=4, max_value=32),
)
def test_flow_vol_segment_isolation(roles_a, roles_b, w):
    """Two concatenated conversations give exactly the per-conversation
    results — frames never cross the gstart boundary."""
    sig_a = np.array([1.0 if r == "user" else (-1.0 if r == "assistant" else 0.0)
                      for r in roles_a])
    sig_b = np.array([1.0 if r == "user" else (-1.0 if r == "assistant" else 0.0)
                      for r in roles_b])
    both = np.concatenate([sig_a, sig_b])
    gstart = np.concatenate([
        np.zeros(len(sig_a), dtype=np.int64),
        np.full(len(sig_b), len(sig_a), dtype=np.int64),
    ])
    got = flow_vol_from_sig(both, gstart, w)
    solo_a = flow_vol_from_sig(sig_a, np.zeros(len(sig_a), dtype=np.int64), w)
    solo_b = flow_vol_from_sig(sig_b, np.zeros(len(sig_b), dtype=np.int64), w)
    np.testing.assert_array_equal(got[: len(sig_a)], solo_a)
    np.testing.assert_array_equal(got[len(sig_a):], solo_b)


def naive_triple_barrier(p, pt, sl, horizon, min_hold):
    """Brute-force first-touch scan, one anchor at a time."""
    n = len(p)
    out = []
    for t in range(n):
        if t + horizon > n - 1 or p[t] <= 0:
            out.append((None, None, None))
            continue
        upper, lower = p[t] * (1 + pt), p[t] * (1 - sl)
        hit = None
        for d in range(1 + min_hold, horizon + 1):
            if p[t + d] >= upper:
                hit = (1, d)
                break
            if p[t + d] <= lower:
                hit = (-1, d)
                break
        if hit:
            lab, d = hit
            out.append((lab, d, p[t + d] / p[t] - 1.0))
        else:
            out.append((0, horizon, p[t + horizon] / p[t] - 1.0))
    return out


@settings(max_examples=60, deadline=None)
@given(
    # zeros exercise the entry<=0 NULL guard; positive values stay off the
    # subnormal floor (1e-308 entries overflow the return ratio to inf,
    # a float-boundary artifact, not semantics)
    prices=st.lists(
        st.one_of(
            st.just(0.0),
            st.floats(min_value=1e-3, max_value=100.0, allow_nan=False),
        ),
        min_size=3, max_size=60,
    ),
    pt=st.floats(min_value=0.05, max_value=1.0),
    sl=st.floats(min_value=0.05, max_value=0.9),
    horizon=st.integers(min_value=1, max_value=8),
)
def test_triple_barrier_kernel_matches_bruteforce(prices, pt, sl, horizon):
    pdf = pd.DataFrame({
        "conv_id": "c", "turn_idx": range(len(prices)),
        "ts": pd.to_datetime(np.arange(len(prices)), unit="s"),
        "p": prices,
    })
    got = _label_group(pdf, "p", ["turn_idx", "ts"], pt, sl, horizon, 0,
                       "label_as_timeout", 0.5)
    want = naive_triple_barrier(prices, pt, sl, horizon, 0)
    for i, (lab, off, ret) in enumerate(want):
        g_lab = got["tb_label"].iloc[i]
        g_off = got["tb_exit_offset"].iloc[i]
        g_ret = got["tb_exit_return"].iloc[i]
        if lab is None:
            assert pd.isna(g_lab) and pd.isna(g_off)
        else:
            assert g_lab == lab and g_off == off
            assert abs(g_ret - ret) < 1e-12


@settings(max_examples=60, deadline=None)
@given(
    convs=st.lists(
        st.lists(st.floats(min_value=0.0, max_value=1e6, allow_nan=False),
                 min_size=1, max_size=50),
        min_size=1, max_size=4,
    ),
    w=st.integers(min_value=1, max_value=40),
)
def test_order_stats_percentiles_match_naive(convs, w):
    """The production kernel on a bucket of concatenated conversations:
    every row's percentiles and large-turn ratio equal the naive frame of
    its own conversation (frames never cross a conversation boundary)."""
    sizes = np.array([len(c) for c in convs])
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    got = _bucket_order_stats(np.concatenate(convs), starts, starts + sizes, w)
    row = 0
    for xs in convs:
        for i in range(len(xs)):
            frame = sorted(xs[max(0, i - w + 1): i + 1])
            m = len(frame)
            want = {}
            for q in (0.25, 0.5, 0.75, 0.9):
                idx = (m - 1) * q
                lo = int(math.floor(idx))
                hi = min(lo + 1, m - 1)
                want[q] = frame[lo] + (idx - lo) * (frame[hi] - frame[lo])
            for q, key in ((0.25, "char_p25"), (0.5, "char_p50"),
                           (0.75, "char_p75"), (0.9, "char_p90")):
                assert abs(got[key][row] - want[q]) < 1e-9 * max(1.0, abs(want[q]))
            ratio = sum(v > got["char_p90"][row] for v in frame) / m
            assert got["large_turn_ratio"][row] == ratio
            row += 1
    assert row == len(got["char_p50"])


# --------------------------------------------------------------------------
# PPJoin prefix-filter lemma (the math operators/dedup.ppjoin_pairs rests on)
# --------------------------------------------------------------------------

@given(
    st.data(),
    st.integers(min_value=50, max_value=95),
)
@settings(max_examples=300, deadline=None)
def test_prefix_filter_lemma(data, pct):
    """For ANY global total order and any two sets with Jaccard >= pct/100,
    the per-set prefixes of length m - ceil(pct*m/100) + 1 (sorted by that
    order) must share a token — the losslessness guarantee ppjoin_pairs'
    candidate join depends on."""
    universe = list(range(30))
    order = data.draw(st.permutations(universe))
    rank = {t: i for i, t in enumerate(order)}
    a = data.draw(st.sets(st.sampled_from(universe), min_size=1, max_size=20))
    b = data.draw(st.sets(st.sampled_from(universe), min_size=1, max_size=20))
    inter = len(a & b)
    union = len(a | b)
    if 100 * inter < pct * union:
        return  # not a qualifying pair; lemma says nothing
    def prefix(s):
        m = len(s)
        alpha = (pct * m + 99) // 100  # ceil(pct*m/100)
        p = m - alpha + 1
        return set(sorted(s, key=lambda t: rank[t])[:p])
    assert prefix(a) & prefix(b), (sorted(a), sorted(b), pct)


@given(
    st.lists(st.integers(min_value=0, max_value=1000), min_size=2, max_size=60)
)
@settings(max_examples=200, deadline=None)
def test_changepoint_statistic_properties(xs):
    """The division-free CUSUM statistic |n*Sk - k*Sn| (operators/state.
    conv_changepoint) equals n*(n-k)*k times nothing fancier than the
    mean-gap: it must be 0 for constant series at every k, symmetric under
    reversal (the argmax k maps to n - k'), and the argmax of the naive
    float form |Sk - (k/n)*Sn| at the same k."""
    n = len(xs)
    sn = sum(xs)
    stats = [abs(n * sum(xs[:k]) - k * sn) for k in range(1, n)]
    if len(set(xs)) == 1:
        assert all(s == 0 for s in stats)
    # scaled form agrees with the float CUSUM statistic argmax set
    float_stats = [abs(sum(xs[:k]) - k * sn / n) for k in range(1, n)]
    best_int = {k for k, s in enumerate(stats) if s == max(stats)}
    best_float = {k for k, s in enumerate(float_stats)
                  if abs(s - max(float_stats)) < 1e-9}
    assert best_int == best_float
    # reversal symmetry of the statistic sequence
    ys = xs[::-1]
    rstats = [abs(n * sum(ys[:k]) - k * sn) for k in range(1, n)]
    assert stats == rstats[::-1]


@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=80),
    st.sampled_from([2, 4, 8, 32]),
)
@settings(max_examples=200, deadline=None)
def test_trailing_rank_kernel_matches_naive(xs, w):
    import numpy as np

    from feature_extractor_mbo_lob_spark.operators.order_stats import (
        trailing_rank_kernel,
    )

    got = trailing_rank_kernel(np.array(xs, dtype=np.int64), w)
    for i, v in enumerate(xs):
        win = xs[max(0, i - w + 1): i + 1]
        cnt_le = sum(1 for u in win if u <= v)
        want = 0 if len(win) == 1 else (cnt_le - 1) * 1_000_000 // (len(win) - 1)
        assert got[i] == want
