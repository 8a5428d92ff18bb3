"""Property tests for the wave-24/25 exact integer devices — the
pure-math kernels the operators rely on, exercised over random
inputs WITHOUT Spark (the devices are engine-independent by design;
these tests pin the algebra the SQL and DataFrame sides both
implement).
"""

from __future__ import annotations

from collections import Counter

from hypothesis import given, settings, strategies as st

from tests.helpers import ints


def _med2(win: list[int]) -> int:
    """The Hampel 2x-unit exact median device."""
    w = sorted(win)
    n = len(w)
    return 2 * w[(n - 1) // 2] if n % 2 == 1 else w[n // 2 - 1] + w[n // 2]


@settings(max_examples=200, deadline=None)
@given(st.lists(ints, min_size=1, max_size=9))
def test_med2_is_exact_double_median(win):
    import statistics

    assert _med2(win) == round(2 * statistics.median(win))
    # and exactly, not just rounded: median of ints is k or k+0.5
    assert _med2(win) / 2.0 == statistics.median(win)


@settings(max_examples=200, deadline=None)
@given(st.lists(ints, min_size=2, max_size=9))
def test_hampel_flag_scale_invariant_in_integers(win):
    """The 20000*dev2 > 44478*mad4 comparison equals the float rule
    |x-med| > 3*1.4826*mad wherever the float rule is unambiguous."""
    x = win[0]
    m2 = _med2(win)
    devs = sorted(abs(2 * v - m2) for v in win)
    n = len(devs)
    mad4 = (
        2 * devs[(n - 1) // 2] if n % 2 == 1 else devs[n // 2 - 1] + devs[n // 2]
    )
    dev2 = abs(2 * x - m2)
    int_flag = 20000 * dev2 > 44478 * mad4
    lhs = abs(x - m2 / 2.0)
    rhs = 4.4478 * (mad4 / 4.0)
    if abs(lhs - rhs) > 1e-6 * max(1.0, abs(rhs)):
        assert int_flag == (lhs > rhs)


@settings(max_examples=100, deadline=None)
@given(st.lists(ints, min_size=2, max_size=40))
def test_mann_kendall_s_equals_rank_formulation(ys):
    """Pairwise sign sum == concordant-minus-discordant from sorted
    ranks (the O(n log n) cutover form documented in the operator)."""
    n = len(ys)
    s_pairs = sum(
        (ys[j] > ys[i]) - (ys[j] < ys[i])
        for i in range(n)
        for j in range(i + 1, n)
    )
    conc = sum(
        1 for i in range(n) for j in range(i + 1, n) if ys[j] > ys[i]
    )
    disc = sum(
        1 for i in range(n) for j in range(i + 1, n) if ys[j] < ys[i]
    )
    assert s_pairs == conc - disc


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=-10**6, max_value=10**6), min_size=2, max_size=30))
def test_wilcoxon_rank_device_matches_scipy_free_definition(ds):
    """2x tie-averaged ranks from cumulative counts == 2 * classic
    average ranks of |d| (the device shared by Kruskal/MW/Wilcoxon)."""
    ds = [d for d in ds if d != 0]
    if not ds:
        return
    ad = [abs(d) for d in ds]
    byv = Counter(ad)
    ar2 = {}
    cum = 0
    for v in sorted(byv):
        t = byv[v]
        ar2[v] = 2 * cum + t + 1
        cum += t
    # classic average rank: mean of the 1-based positions of the ties
    pos = {}
    srt = sorted(ad)
    for v in byv:
        idxs = [i + 1 for i, x in enumerate(srt) if x == v]
        pos[v] = sum(idxs) / len(idxs)
    for v in byv:
        assert ar2[v] == round(2 * pos[v])
        assert ar2[v] / 2.0 == pos[v]


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(1, 1000), st.integers(0, 10**6)),
        min_size=1,
        max_size=8,
    ),
    st.integers(1, 100000),
)
def test_largest_remainder_allocation_sums_to_budget(weights, budget):
    """The Neyman largest-remainder rounding: quotas always sum to
    the budget exactly, each within 1 of its real share."""
    w9 = [w for w, _ in weights]
    tw = sum(w9)
    alloc0 = [(w * budget) // tw for w in w9]
    rem = [(w * budget) % tw for w in w9]
    k = budget - sum(alloc0)
    order = sorted(range(len(w9)), key=lambda i: (-rem[i], i))
    final = list(alloc0)
    for i in order[:k]:
        final[i] += 1
    assert sum(final) == budget
    for i, w in enumerate(w9):
        exact = budget * w / tw
        assert exact - 1.0 <= final[i] <= exact + 1.0


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(0, 10**6), min_size=2, max_size=50))
def test_jarque_bera_moment_expansion_cancellation_model(xs):
    """Raw-power-sum expansion of central moments == direct central
    moments UP TO the cancellation error model: the expansion
    subtracts terms of raw-moment magnitude, so its absolute error
    is a few ulps of max(|r_k|, mu^k) — NOT of the (possibly tiny)
    central moment. Cross-engine parity is unaffected (both engines
    run the identical expansion, error and all); accuracy vs the
    true central moment degrades only when sd << mean, which the
    acctbal fixture (sd ~ mean) never approaches."""
    n = len(xs)
    mu = sum(xs) / n
    r2 = sum(x * x for x in xs) / n
    r3 = sum(x**3 for x in xs) / n
    r4 = sum(x**4 for x in xs) / n
    m2e = r2 - mu * mu
    m3e = r3 - 3 * mu * r2 + 2 * mu**3
    m4e = r4 - 4 * mu * r3 + 6 * mu * mu * r2 - 3 * mu**4
    m2d = sum((x - mu) ** 2 for x in xs) / n
    m3d = sum((x - mu) ** 3 for x in xs) / n
    m4d = sum((x - mu) ** 4 for x in xs) / n
    tol2 = 1e-12 * max(1.0, abs(r2), mu**2)
    tol3 = 1e-11 * max(1.0, abs(r3), abs(mu) ** 3)
    tol4 = 1e-11 * max(1.0, abs(r4), mu**4)
    assert abs(m2e - m2d) <= tol2
    assert abs(m3e - m3d) <= tol3
    assert abs(m4e - m4d) <= tol4
