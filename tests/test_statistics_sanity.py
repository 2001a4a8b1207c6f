"""Independent numpy validation of the statistics operators.

The DuckDB oracles share their formula templates with the Spark side
(single-sourced in functions/moments.py — deliberately), so a formula
error would pass the cross-engine compare on BOTH engines. These tests
recompute each statistic from scratch in numpy on small constructed
inputs and require agreement to the operator's published rounding —
an implementation-independent second opinion.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import rs_streamloader_spark.operators.stats as S

_RNG = np.random.RandomState(7)
_N = 400


@pytest.fixture()
def lineitem_patch(spark, monkeypatch):
    """Constructed lineitem with known correlations: price follows
    quantity with noise, discount/tax drawn from small value sets
    (bounded cardinality, plenty of ties)."""
    qty = _RNG.randint(1, 51, _N).astype(float)
    price = np.round(qty * 100 + _RNG.randn(_N) * 120, 2)
    disc = _RNG.choice(np.round(np.arange(0, 0.11, 0.01), 2), _N)
    tax = _RNG.choice(np.round(np.arange(0, 0.09, 0.01), 2), _N)
    pdf = pd.DataFrame(
        {
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": disc,
            "l_tax": tax,
        }
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(
        S, "load_tables", lambda _s, _d, *names: {"lineitem": sdf}
    )
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"lineitem": sdf})
    return pdf


def test_pearson_matches_numpy(spark, lineitem_patch):
    got = {
        (r["col_x"], r["col_y"]): r["corr"]
        for r in S.numeric_corr_matrix(spark, "x").collect()
    }
    pdf = lineitem_patch
    for (a, b), r in got.items():
        # operator quantizes inputs at x100 — exact for this data
        expect = np.corrcoef(pdf[a], pdf[b])[0, 1]
        assert r == pytest.approx(expect, abs=2e-6), (a, b)


def _avg_ranks(v: np.ndarray) -> np.ndarray:
    order = np.argsort(v, kind="mergesort")
    ranks = np.empty(len(v), dtype=float)
    sv = v[order]
    i = 0
    while i < len(sv):
        j = i
        while j + 1 < len(sv) and sv[j + 1] == sv[i]:
            j += 1
        ranks[order[i : j + 1]] = (i + j) / 2 + 1
        i = j + 1
    return ranks


def test_spearman_matches_numpy(spark, lineitem_patch):
    got = {
        (r["col_x"], r["col_y"]): r["spearman"]
        for r in S.spearman_rank_corr(spark, "x").collect()
    }
    pdf = lineitem_patch
    for (a, b), rho in got.items():
        expect = np.corrcoef(
            _avg_ranks(pdf[a].to_numpy()), _avg_ranks(pdf[b].to_numpy())
        )[0, 1]
        assert rho == pytest.approx(expect, abs=2e-6), (a, b)


def test_kendall_matches_bruteforce(spark, lineitem_patch):
    row = S.kendall_tau_quantity_discount(spark, "x").collect()[0]
    pdf = lineitem_patch
    x = pdf["l_quantity"].to_numpy()
    y = pdf["l_discount"].to_numpy()
    sx = np.sign(x[:, None] - x[None, :])
    sy = np.sign(y[:, None] - y[None, :])
    iu = np.triu_indices(len(x), 1)
    prod = (sx * sy)[iu]
    conc = int((prod > 0).sum())
    disc = int((prod < 0).sum())
    n = len(x)
    n0 = n * (n - 1) / 2
    tx = sum(c * (c - 1) / 2 for c in pd.Series(x).value_counts())
    ty = sum(c * (c - 1) / 2 for c in pd.Series(y).value_counts())
    expect = (conc - disc) / np.sqrt((n0 - tx) * (n0 - ty))
    assert row["concordant"] == conc and row["discordant"] == disc
    assert row["tau_b"] == pytest.approx(expect, abs=2e-6)


@pytest.fixture()
def events_patch(spark, monkeypatch):
    n = 300
    types = np.where(_RNG.rand(n) < 0.5, "click", "view")
    value = np.round(np.where(types == "click", 5.0, 6.5) + _RNG.randn(n), 2)
    pdf = pd.DataFrame(
        {"event_id": np.arange(n), "event_type": types, "value": value}
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"events": sdf})
    monkeypatch.setattr(
        S, "load_tables", lambda _s, _d, *names: {"events": sdf}
    )
    return pdf


def test_ks_matches_bruteforce(spark, events_patch):
    row = S.ks_test_click_view_value(spark, "x").collect()[0]
    pdf = events_patch
    a = np.sort(pdf.loc[pdf.event_type == "click", "value"].to_numpy())
    b = np.sort(pdf.loc[pdf.event_type == "view", "value"].to_numpy())
    grid = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(a, grid, side="right") / len(a)
    fb = np.searchsorted(b, grid, side="right") / len(b)
    expect = np.max(np.abs(fa - fb))
    assert row["n_a"] == len(a) and row["n_b"] == len(b)
    assert row["ks_d"] == pytest.approx(expect, abs=2e-6)


def test_welch_matches_numpy(spark, events_patch):
    row = S.welch_t_click_view(spark, "x").collect()[0]
    pdf = events_patch
    a = pdf.loc[pdf.event_type == "click", "value"].to_numpy()
    b = pdf.loc[pdf.event_type == "view", "value"].to_numpy()
    va, vb = a.var(ddof=1) / len(a), b.var(ddof=1) / len(b)
    t = (a.mean() - b.mean()) / np.sqrt(va + vb)
    df = (va + vb) ** 2 / (va**2 / (len(a) - 1) + vb**2 / (len(b) - 1))
    assert row["t_stat"] == pytest.approx(t, abs=2e-4)
    assert row["welch_df"] == pytest.approx(df, abs=0.02)
    assert row["mean_a"] == pytest.approx(a.mean(), abs=2e-6)


def test_cramers_v_matches_numpy(spark, monkeypatch):
    pri = _RNG.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-LOW", "5-NONE"], 500)
    # status depends on priority -> nonzero association
    status = np.where(
        (_RNG.rand(500) < 0.3) & (pri <= "2-HIGH"), "F",
        _RNG.choice(["O", "P"], 500),
    )
    pdf = pd.DataFrame({"o_orderpriority": pri, "o_orderstatus": status})
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "load_tables", lambda _s, _d, *n: {"orders": sdf})
    row = S.cramers_v_priority_status(spark, "x").collect()[0]
    ct = pd.crosstab(pdf.o_orderpriority, pdf.o_orderstatus).to_numpy().astype(float)
    n = ct.sum()
    exp = np.outer(ct.sum(1), ct.sum(0)) / n
    chi2 = ((ct - exp) ** 2 / exp).sum()
    k = min(ct.shape)
    expect_v = np.sqrt(chi2 / (n * (k - 1)))
    assert row["n"] == int(n)
    assert row["chi2_micro"] == pytest.approx(chi2 * 1e6, abs=len(ct.ravel()) * 0.5 + 1)
    assert row["cramers_v"] == pytest.approx(expect_v, abs=1e-4)


def test_acf_matches_numpy(spark, monkeypatch):
    days = pd.date_range("2024-01-01", periods=120, freq="D")
    # weekly cycle + noise in daily counts
    counts = (50 + 20 * np.sin(np.arange(120) * 2 * np.pi / 7)
              + _RNG.randint(0, 10, 120)).astype(int)
    rows = []
    for d, c in zip(days, counts):
        rows.extend({"ts": d, "event_id": i} for i in range(int(c)))
    pdf = pd.DataFrame(rows)
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *n: {"events": sdf})
    got = {r["lag"]: (r["n_pairs"], r["acf"])
           for r in S.daily_acf_curve(spark, "x").collect()}
    x = counts.astype(float)
    for lag in (1, 7, 14):
        a, b = x[:-lag], x[lag:]
        expect = np.corrcoef(a, b)[0, 1]
        n_pairs, acf = got[lag]
        assert n_pairs == 120 - lag
        assert acf == pytest.approx(expect, abs=2e-6), lag
    # the weekly cycle must actually show: lag-7 acf far above lag-3
    assert got[7][1] > got[3][1] + 0.3


def test_psi_matches_numpy(spark, monkeypatch):
    """PSI per event type: first-15-days era vs rest over 10 fixed $50
    bins with +1 Laplace smoothing — recomputed from scratch."""
    n = 400
    days = _RNG.randint(0, 30, n)
    ts = pd.Timestamp("2024-03-01") + pd.to_timedelta(days, unit="D")
    types = _RNG.choice(["click", "view"], n)
    # drift the late era upward so PSI is visibly nonzero
    value = np.round(
        np.clip(_RNG.rand(n) * 400 + np.where(days >= 15, 60.0, 0.0), 0, 499.9),
        2,
    )
    pdf = pd.DataFrame(
        {"event_id": np.arange(n), "event_type": types, "ts": ts, "value": value}
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"events": sdf})
    got = {r["event_type"]: r["psi"] for r in S.drift_psi_daily(spark, "x").collect()}

    bins = np.minimum(np.round(value * 1000).astype(np.int64) // 50_000, 9)
    era_a = days < 15  # min ts is day 0 by construction
    for et in ("click", "view"):
        sel = types == et
        ca = np.bincount(bins[sel & era_a], minlength=10)[:10]
        cb = np.bincount(bins[sel & ~era_a], minlength=10)[:10]
        p = (ca + 1) / (ca.sum() + 10)
        q = (cb + 1) / (cb.sum() + 10)
        expect = float(((p - q) * np.log(p / q)).sum())
        assert got[et] == pytest.approx(expect, abs=1e-5), et
        assert expect > 0.01  # the constructed drift must register


def test_mutual_info_matches_numpy(spark, monkeypatch):
    """Binned MI between price and quantity, deciles reproduced via
    the same exact cumulative-histogram rule."""
    n = 500
    qty = _RNG.randint(1, 51, n).astype(float)
    price = np.round(qty * 90 + _RNG.rand(n) * 800, 2)
    pdf = pd.DataFrame(
        {
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": np.zeros(n),
            "l_tax": np.zeros(n),
        }
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"lineitem": sdf})
    row = S.price_qty_mutual_info(spark, "x").collect()[0]

    price_c = np.round(price * 100).astype(np.int64)
    sorted_pc = np.sort(price_c)
    edges = []
    for b in range(1, 10):
        target = (n * b + 9) // 10  # ceil(n*b/10)
        # smallest price_c whose cumulative count >= target
        edges.append(sorted_pc[target - 1])
    edges = np.array(edges)
    price_bin = (price_c[:, None] > edges[None, :]).sum(axis=1)
    qty_bin = np.minimum((qty.astype(np.int64) - 1) // 5, 9)
    joint = pd.crosstab(price_bin, qty_bin).to_numpy().astype(float)
    nij = joint[joint > 0]
    ni = joint.sum(axis=1, keepdims=True).repeat(joint.shape[1], axis=1)[joint > 0]
    nj = joint.sum(axis=0, keepdims=True).repeat(joint.shape[0], axis=0)[joint > 0]
    expect = float(((nij / n) * np.log(nij * n / (ni * nj))).sum())
    assert row["n_cells"] == int((joint > 0).sum())
    assert row["mutual_info_nats"] == pytest.approx(expect, abs=1e-5)
    assert expect > 0.2  # qty drives price: MI must be clearly nonzero


def test_gini_matches_numpy(spark, monkeypatch):
    """Gini over per-customer revenue vs the direct sorted-array
    formula."""
    n_cust = 200
    rev = np.round(np.exp(_RNG.randn(n_cust) * 1.2 + 6), 2)  # lognormal
    pdf = pd.DataFrame(
        {"o_custkey": np.arange(n_cust), "o_totalprice": rev}
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"orders": sdf})
    row = S.gini_revenue_concentration(spark, "x").collect()[0]
    x = np.sort(np.round(rev * 100).astype(np.int64))
    ranks = np.arange(1, n_cust + 1)
    expect = float(
        (2 * (ranks * x).sum() - (n_cust + 1) * x.sum()) / (n_cust * x.sum())
    )
    assert row["n_customers"] == n_cust
    assert row["gini"] == pytest.approx(expect, abs=1e-6)
    assert 0.3 < expect < 0.9  # lognormal: substantial inequality


def test_benford_matches_numpy(spark, monkeypatch):
    import rs_streamloader_spark.operators.quality as Q

    n = 600
    # log-uniform totals genuinely follow Benford
    totals = np.round(10 ** (_RNG.rand(n) * 4 + 1) / 100, 2)
    totals = totals[totals > 0]
    pdf = pd.DataFrame({"o_totalprice": totals})
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(Q, "_t", lambda _s, _d, *names: {"orders": sdf})
    rows = Q.benford_first_digit(spark, "x").collect()
    cents = np.round(totals * 100).astype(np.int64)
    first = np.array([int(str(c)[0]) for c in cents])
    total = len(first)
    for r in rows:
        d = r["digit"]
        nd = int((first == d).sum())
        b = np.log10(1 + 1 / d)
        assert r["n"] == nd
        assert r["obs_share"] == pytest.approx(nd / total, abs=1e-6)
        assert r["benford_share"] == pytest.approx(b, abs=1e-6)
        assert r["chi2_term"] == pytest.approx(
            (nd - total * b) ** 2 / (total * b), abs=5e-4
        )


def test_theil_sen_matches_bruteforce(spark, monkeypatch):
    import rs_streamloader_spark.operators.analytic as A

    days = pd.date_range("2024-01-01", periods=40, freq="D")
    rev = 5000 + 37.5 * np.arange(40) + _RNG.randn(40) * 60
    rev[10] += 50_000  # outlier a robust slope must shrug off
    rev = np.round(np.abs(rev), 2)
    pdf = pd.DataFrame({"o_orderdate": days.date, "o_totalprice": rev})
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(A, "_t", lambda _s, _d, *names: {"orders": sdf})
    row = A.theil_sen_trend(spark, "x").collect()[0]

    rev_c = np.round(rev * 100).astype(np.int64)
    t = np.arange(40, dtype=np.int64)
    slopes = []
    for i in range(40):
        for j in range(i + 1, 40):
            num = int(rev_c[j] - rev_c[i]) * 1_000_000
            dt = int(t[j] - t[i])
            q = abs(num) // dt
            slopes.append(q if num >= 0 else -q)  # truncate toward zero
    slopes.sort()
    n_pairs = len(slopes)
    expect = slopes[(n_pairs + 1) // 2 - 1]  # PERCENTILE_DISC element
    assert row["n_pairs"] == n_pairs
    assert row["theil_sen_slope_micro"] == expect
    # slope ≈ the constructed 37.5 $/day = 3750 cents/day, robust to
    # the injected spike (pairwise-slope noise at σ=$60/day keeps the
    # median within ~$2/day of truth; the $50k spike alone would drag
    # an OLS fit by far more)
    assert abs(row["theil_sen_slope_micro"] / 1e6 - 3750) < 400


def test_cuped_matches_numpy(spark, monkeypatch):
    """CUPED θ, adjusted means, and variance reduction recomputed from
    scratch in float numpy on a constructed corpus with a real pre/post
    covariate relationship (y = 0.8x + noise, so CUPED must find a
    large positive variance reduction in BOTH arms)."""
    n_users = 240
    x = np.round(np.maximum(_RNG.rand(n_users) * 200 + 20, 0), 2)
    y = np.round(np.maximum(0.8 * x + _RNG.randn(n_users) * 8 + 30, 0), 2)
    rows = []
    for uid in range(n_users):
        rows.append((uid * 2, pd.Timestamp("2024-01-02"), uid, "purchase", x[uid]))
        rows.append((uid * 2 + 1, pd.Timestamp("2024-01-28"), uid, "purchase", y[uid]))
    # pin the corpus date range so the midpoint split lands between them
    rows.append((10**6, pd.Timestamp("2024-01-01"), 0, "view", 1.0))
    rows.append((10**6 + 1, pd.Timestamp("2024-01-30"), 0, "view", 1.0))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"events": sdf})
    got = {r["variant"]: r for r in S.cuped_adjusted_lift(spark, "x").collect()}

    xc = np.round(x * 100)  # exact cents, matching the operator
    yc = np.round(y * 100)
    theta = np.cov(xc, yc, bias=True)[0, 1] / np.var(xc)
    assert got[0]["theta_micro"] / 1e6 == pytest.approx(theta, abs=2e-3)
    for arm in (0, 1):
        m = np.arange(n_users) % 2 == arm
        adj = yc[m].mean() - theta * (xc[m].mean() - xc.mean())
        assert got[arm]["n_users"] == m.sum()
        assert got[arm]["mean_y_micro"] / 1e6 == pytest.approx(
            yc[m].mean(), abs=0.01
        )
        assert got[arm]["mean_yadj_micro"] / 1e6 == pytest.approx(adj, abs=0.5)
        vr = (1 - np.var(yc[m] - theta * xc[m]) / np.var(yc[m])) * 100
        assert got[arm]["var_reduction_pct"] == pytest.approx(vr, abs=0.05)
        # the covariate genuinely works on this corpus — not a 0.0% echo
        assert got[arm]["var_reduction_pct"] > 20


def test_mad_outliers_matches_numpy(spark, monkeypatch):
    """Exact median / MAD / fence counts recomputed in numpy (lower
    median at index ceil(n/2)-1, matching PERCENTILE_DISC), on a corpus
    with planted far outliers so the fence branch provably fires."""
    n = 401
    base = np.round(_RNG.randn(n) * 2 + 50, 2)
    base[:5] = [500.0, 499.5, 498.0, -400.0, 497.0]  # planted outliers
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n),
            "event_type": ["click"] * n,
            "value": base,
        }
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"events": sdf})
    row = S.robust_mad_outliers(spark, "x").collect()[0]

    cents = np.round(base * 100).astype(np.int64)

    def lower_median(v: np.ndarray) -> int:
        s = np.sort(v)
        return int(s[(len(s) + 1) // 2 - 1])

    med = lower_median(cents)
    d = np.abs(cents - med)
    mad = lower_median(d)
    n_out = int((d * 10000 > S._MAD_K_X10K * mad).sum())
    assert row["median_cents"] == med
    assert row["mad_cents"] == mad
    assert row["n_outliers"] == n_out
    assert n_out >= 5  # the planted outliers are all caught
    assert row["outlier_ppm"] == n_out * 1_000_000 // n


def test_woe_iv_matches_numpy(spark, monkeypatch):
    """WOE and IV recomputed from scratch (Laplace-smoothed shares,
    float formula) on a constructed 3-category table with a strong
    category-label association, so |IV| is far from 0 and every WOE
    takes a distinct sign/magnitude."""
    cats = ["A"] * 200 + ["B"] * 150 + ["C"] * 50
    pos = [i % 10 < 8 for i in range(200)] + [i % 10 < 3 for i in range(150)] + [
        i % 10 < 1 for i in range(50)
    ]
    pdf = pd.DataFrame(
        {
            "o_orderpriority": cats,
            "o_orderstatus": ["F" if p else "O" for p in pos],
        }
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"orders": sdf})
    rows = {
        r["feature_value"]: r
        for r in S.woe_iv_feature_screen(spark, "x").collect()
    }
    k = 3
    P = sum(pos)
    N = len(pos) - P
    iv = 0.0
    for c in ("A", "B", "C"):
        n = cats.count(c)
        npos = sum(p for cc, p in zip(cats, pos) if cc == c)
        nneg = n - npos
        sp = (npos + 0.5) / (P + 0.5 * k)
        sn = (nneg + 0.5) / (N + 0.5 * k)
        woe = np.log(sp / sn)
        assert rows[c]["n"] == n and rows[c]["n_pos"] == npos
        assert rows[c]["woe"] == pytest.approx(woe, abs=2e-6)
        assert rows[c]["iv_term_nano"] / 1e9 == pytest.approx(
            (sp - sn) * woe, abs=2e-6
        )
        iv += (sp - sn) * woe
    for c in ("A", "B", "C"):
        assert rows[c]["iv_total_nano"] / 1e9 == pytest.approx(iv, abs=5e-6)
    assert iv > 0.5  # strong association — the screen keeps this feature


def test_markov_attribution_matches_hand_solve(spark, monkeypatch):
    """Removal-effect attribution checked against the closed-form
    absorption probabilities of a constructed acyclic funnel (value
    iteration converges exactly within the fixed 12 steps there):
    40x view->click->purchase, 20x view->drop, 20x click->purchase,
    10x signup->drop. Closed form: P(conv)=2/3; removing click kills
    every conversion (effect 2/3), removing view leaves 20/90
    (effect 4/9), signup contributes nothing (the zero-effect branch
    fires). Attribution must split 60/40/0."""
    rows = []
    eid = 0
    uid = 0

    def journey(*evts):
        nonlocal eid, uid
        uid += 1
        for i, et in enumerate(evts):
            rows.append(
                (
                    eid,
                    pd.Timestamp("2024-01-05 10:00:00") + pd.Timedelta(minutes=i),
                    uid,
                    et,
                    1.0,
                )
            )
            eid += 1

    for _ in range(40):
        journey("view", "click", "purchase")
    for _ in range(20):
        journey("view")
    for _ in range(20):
        journey("click", "purchase")
    for _ in range(10):
        journey("signup")
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"events": sdf})
    got = {
        r["channel"]: r
        for r in S.markov_attribution_removal(spark, "x").collect()
    }
    assert set(got) == {"view", "click", "signup"}
    assert got["click"]["p_base_ppm"] == pytest.approx(666666, abs=5)
    assert got["click"]["p_removed_ppm"] == 0
    assert got["view"]["p_removed_ppm"] == pytest.approx(222222, abs=5)
    assert got["signup"]["removal_effect_ppm"] == 0
    assert got["signup"]["attribution_ppm"] == 0
    assert got["click"]["attribution_ppm"] == pytest.approx(600000, abs=10)
    assert got["view"]["attribution_ppm"] == pytest.approx(400000, abs=10)


def test_markov_attribution_empty_events(spark, monkeypatch):
    """Degenerate input: zero events must yield an empty result (the
    oracle's behavior), not a KeyError from the chain solve."""
    sdf = spark.createDataFrame(
        [],
        "event_id bigint, ts timestamp_ntz, user_id bigint,"
        " event_type string, value double",
    )
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"events": sdf})
    assert S.markov_attribution_removal(spark, "x").count() == 0


def test_cusum_detects_planted_level_shift(spark, monkeypatch):
    """CUSUM recursion (window rewrite) checked against the literal
    S+/S- recursion in Python on a constructed series with a +60%
    level shift at day 20 and a -60% dip at day 40 — both alarm
    branches must fire, and every S value must match the recursion
    exactly (integer cents)."""
    days = pd.date_range("2024-01-01", periods=60, freq="D")
    base = 10_000.00
    vals = []
    for i in range(60):
        v = base + (i % 7) * 13.21  # mild weekly texture
        if 20 <= i < 30:
            v += 6_000.0
        if 40 <= i < 50:
            v -= 6_000.0
        vals.append(round(v, 2))
    pdf = pd.DataFrame(
        {
            "o_orderkey": range(60),
            "o_custkey": [1] * 60,
            "o_orderstatus": ["O"] * 60,
            "o_totalprice": vals,
            "o_orderdate": days.astype("datetime64[us]"),
            "o_orderpriority": ["3-MEDIUM"] * 60,
        }
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"orders": sdf})
    got = (
        S.cusum_drift_daily(spark, "x")
        .toPandas()
        .sort_values("day")
        .reset_index(drop=True)
    )

    cents = [round(v * 100) for v in vals]
    mu = sum(cents) // len(cents)
    k = mu // S._CUSUM_K_DIV
    h = mu // S._CUSUM_H_DIV
    sp = sn = 0
    for i in range(60):
        sp = max(0, sp + cents[i] - mu - k)
        sn = max(0, sn + mu - k - cents[i])
        row = got.iloc[i]
        assert row["s_pos"] == sp, (i, row["s_pos"], sp)
        assert row["s_neg"] == sn, (i, row["s_neg"], sn)
        assert bool(row["alarm_up"]) == (sp > h)
        assert bool(row["alarm_down"]) == (sn > h)
    assert got["alarm_up"].any() and got["alarm_down"].any()


def test_ucb_exploration_bonus_matches_numpy(spark, monkeypatch):
    """UCB1 recomputed in numpy on a constructed corpus where a
    low-traffic arm with a mediocre rate must OUTRANK a high-traffic
    arm with a better rate — the exploration bonus doing its job."""
    rows = []
    eid = 0

    def pulls(arm, n, conv_every, day):
        nonlocal eid
        for i in range(n):
            uid = 10_000 + eid
            t0 = pd.Timestamp(f"2024-02-{day:02d} 09:00:00")
            rows.append((eid * 2, t0, uid, arm, 1.0))
            if i % conv_every == 0:
                rows.append(
                    (eid * 2 + 1, t0 + pd.Timedelta(minutes=1), uid, "purchase", 9.9)
                )
            eid += 1

    pulls("view", 1000, 4, 1)   # 25% conversion, heavy traffic
    pulls("click", 10, 5, 2)    # 20% conversion, tiny traffic
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"events": sdf})
    got = {r["arm"]: r for r in S.ucb_arm_ranking(spark, "x").collect()}
    N = 1010
    for arm, n, conv in (("view", 1000, 250), ("click", 10, 2)):
        expect = conv / n + np.sqrt(2 * np.log(N) / n)
        assert got[arm]["n_pulls"] == n and got[arm]["n_conv"] == conv
        assert got[arm]["ucb_score"] == pytest.approx(expect, abs=2e-6)
    # the tiny arm's bonus flips the ranking despite the worse rate
    assert got["click"]["ucb_rank"] == 1 and got["view"]["ucb_rank"] == 2


def test_sprt_accepts_h0_on_low_conversion(spark, monkeypatch):
    """The accept_h0 branch (never reached on the natural corpus, where
    conversion ≈ 40% > p1) fires on a constructed low-conversion arm,
    and every LLR term matches math.log recomputed from scratch."""
    import math

    rows = []
    eid = 0
    for day in range(1, 11):
        for u in range(50):
            uid = u * 2 + 1  # arm B only (user_id % 2 == 1)
            ts = pd.Timestamp(f"2024-03-{day:02d} 10:00:00")
            rows.append((eid, ts, uid, "view", 1.0))
            eid += 1
            if u < 5:  # 10% conversion << p0=0.35
                rows.append((eid, ts + pd.Timedelta(minutes=1), uid, "purchase", 5.0))
                eid += 1
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"events": sdf})
    got = (
        S.ab_sprt_stopping_audit(spark, "x")
        .toPandas()
        .sort_values("day")
        .reset_index(drop=True)
    )
    c1 = round(math.log(S._SPRT_P1 / S._SPRT_P0) * 1e9)
    c0 = round(math.log((1 - S._SPRT_P1) / (1 - S._SPRT_P0)) * 1e9)
    assert (got["n_units"] == 50).all() and (got["x_conv"] == 5).all()
    assert (got["llr_term_nano"] == 5 * c1 + 45 * c0).all()
    # cumulative crosses the lower boundary quickly and stays sticky
    assert got.iloc[0]["verdict"] == "accept_h0"  # |day-1 LLR| > ln 19
    assert (got["verdict"] == "accept_h0").all()


def test_equiwidth_guarantee_on_duplicate_heavy_bins(spark, monkeypatch):
    """Regression for the floor-edge convention (review finding): a
    duplicate-heavy bin whose true smallest value sits ABOVE the
    floor(bin·W/bins) edge used to produce a spurious guarantee
    violation. With ceiling edges/widths the guarantee must hold on
    this constructed corpus — and the estimate must still be within
    one (reported) bin width of the exact quantile, checked directly
    in Python."""
    import math

    # lo=0, hi=130 cents, mass piled on 0.88 (bin 42 covers 86..88)
    prices = [0.00, 1.30] + [0.88] * 200 + [0.30] * 50
    pdf = pd.DataFrame(
        {
            "o_orderkey": range(len(prices)),
            "o_totalprice": prices,
        }
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"orders": sdf})
    rows = {r["q_label"]: r for r in S.equiwidth_hist_quantile_audit(spark, "x").collect()}
    W = 131
    width = math.ceil(W / S._EWH_BINS)
    for lbl in ("p50", "p95"):
        r = rows[lbl]
        assert r["bin_width_cents"] == width
        assert abs(r["est_cents"] - r["exact_cents"]) <= width, r
        assert bool(r["within_guarantee"]) is True, r
    # the exact quantiles themselves are sane on this corpus
    assert rows["p50"]["exact_cents"] == 88


def test_shapley_matches_bruteforce(spark, monkeypatch):
    """Independent brute-force validation of the EXACT Shapley value
    (ADVICE r11 closed the observed-coalitions-only truncation): the
    constructed journeys include an unobserved coalition
    {view, signup} whose subset {view} IS observed, so 'signup' must
    pick up a NEGATIVE -v({view})·w term the truncated sum dropped.
    Checks every channel against an itertools enumeration and the
    efficiency axiom Σφ = v(N) − v(∅)."""
    from itertools import combinations
    from math import factorial

    journeys = (
        [("view",)] * 3  # 3 converters touched only view
        + [("view", "click")] * 2
        + [("view", "click", "signup")]
        + [()]  # converter with NO channel touch: v(∅) = 1
    )
    rows = []
    eid = 0
    for uid, chans in enumerate(journeys):
        for c in chans:
            rows.append((eid, uid, c))
            eid += 1
        rows.append((eid, uid, "purchase"))
        eid += 1
    # one non-converter so a channel appears without conversion mass
    rows.append((eid, 99, "click"))
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type"])
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"events": sdf})

    got = {r["channel"]: r for r in S.shapley_attribution(spark, "x").collect()}

    channels = sorted({c for j in journeys for c in j} | {"click"})
    n = len(channels)
    v = {}
    for chans in journeys:
        v[frozenset(chans)] = v.get(frozenset(chans), 0) + 1
    phi = {}
    for c in channels:
        tot = 0
        for k in range(1, n + 1):
            for S_ in combinations(channels, k):
                if c not in S_:
                    continue
                s, sminus = frozenset(S_), frozenset(S_) - {c}
                tot += (v.get(s, 0) - v.get(sminus, 0)) * factorial(
                    k - 1
                ) * factorial(n - k)
        phi[c] = tot
    for c in channels:
        assert got[c]["phi_scaled"] == phi[c], (c, dict(got[c].asDict()), phi)
        assert got[c]["n_sets"] == 2 ** (n - 1), c
        # nano value: truncate-toward-zero division by n! (both engines)
        q = abs(phi[c]) * 10**9 // factorial(n)
        assert got[c]["phi_nano"] == (q if phi[c] >= 0 else -q), c
    # the truncation bug's signature: signup's only positive term is the
    # grand coalition; the unobserved {view,signup}/{click,signup} sets
    # contribute -v({view})·w / -v({click})·w, driving it negative
    assert phi["signup"] < 0 and got["signup"]["phi_scaled"] < 0
    # efficiency: Σφ·n! terms sum to (v(N) - v(∅))·n!
    assert sum(phi.values()) == (
        v.get(frozenset(channels), 0) - v.get(frozenset(), 0)
    ) * factorial(n)


def test_mann_whitney_matches_bruteforce(spark, events_patch):
    """Rank-sum recomputed from scratch with average ranks (the
    module-level _avg_ranks helper) and the tie-corrected normal
    approximation — the single-sourced histogram walk must agree."""
    row = S.mann_whitney_u(spark, "x").collect()[0]
    pdf = events_patch
    # the operator quantizes at cents — mirror it exactly
    a = np.round(pdf.loc[pdf.event_type == "click", "value"].to_numpy() * 100)
    b = np.round(pdf.loc[pdf.event_type == "view", "value"].to_numpy() * 100)
    na, nb = len(a), len(b)
    ranks = _avg_ranks(np.concatenate([a, b]))
    r_a = ranks[:na].sum()
    u_a = r_a - na * (na + 1) / 2
    assert row["n_a"] == na and row["n_b"] == nb
    assert row["u2"] == int(round(2 * u_a))
    expect_r = 2 * u_a / (na * nb) - 1
    assert row["rank_biserial_r"] == pytest.approx(expect_r, abs=2e-6)
    n = na + nb
    _, t = np.unique(np.concatenate([a, b]), return_counts=True)
    tie = (t.astype(np.float64) ** 3 - t).sum()
    sigma = np.sqrt(na * nb * ((n + 1) - tie / (n * (n - 1))) / 12.0)
    expect_z = (u_a - na * nb / 2) / sigma
    assert row["z_approx"] == pytest.approx(expect_z, abs=2e-6)


def test_poisson_bootstrap_ci_brackets_the_mean(spark, monkeypatch):
    """Implementation-independent checks on the Poisson bootstrap:
    the replicate count is full, the CI brackets the point estimate,
    its width shrinks roughly as 1/sqrt(n), and the point estimate
    equals the exact mean."""
    n = 4000
    vals = np.round(100 + 10 * _RNG.randn(n), 2)
    pdf = pd.DataFrame(
        {
            "o_orderkey": np.arange(n),
            "o_orderpriority": np.where(np.arange(n) % 2 == 0, "1-URGENT", "2-HIGH"),
            "o_totalprice": vals,
        }
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"orders": sdf})
    rows = {r["priority"]: r for r in S.poisson_bootstrap_ci(spark, "x").collect()}
    assert set(rows) == {"1-URGENT", "2-HIGH"}
    for key in rows:
        r = rows[key]
        mask = pdf.o_orderpriority == key
        cents = np.round(pdf.loc[mask, "o_totalprice"].to_numpy() * 100).astype(
            np.int64
        )
        exact_micro = cents.sum() * 1_000_000 // len(cents)
        assert r["n_orders"] == int(mask.sum())
        assert r["mean_micro"] == exact_micro
        assert r["n_replicates"] == 32
        assert r["ci_lo_micro"] <= r["mean_micro"] <= r["ci_hi_micro"], r
        # sanity on the width: ~2*1.65*sigma/sqrt(n) in micro-cents,
        # allow a generous 3x factor either way (32 reps is noisy)
        sem = cents.std(ddof=1) / np.sqrt(len(cents))
        width = (r["ci_hi_micro"] - r["ci_lo_micro"]) / 1e6
        assert 2 * sem / 3 < width < 6 * 2 * sem, (width, sem)


def test_cohens_d_matches_numpy(spark, events_patch):
    row = S.effect_size_cohens_d(spark, "x").collect()[0]
    pdf = events_patch
    a = pdf.loc[pdf.event_type == "click", "value"].to_numpy()
    b = pdf.loc[pdf.event_type == "view", "value"].to_numpy()
    na, nb = len(a), len(b)
    pooled = np.sqrt(
        ((na - 1) * a.var(ddof=1) + (nb - 1) * b.var(ddof=1)) / (na + nb - 2)
    )
    d = (a.mean() - b.mean()) / pooled
    g = d * (1 - 3 / (4 * (na + nb) - 9))
    assert row["n_a"] == na and row["n_b"] == nb
    assert row["pooled_sd"] == pytest.approx(pooled, abs=2e-6)
    assert row["cohens_d"] == pytest.approx(d, abs=2e-6)
    assert row["hedges_g"] == pytest.approx(g, abs=2e-6)


def test_kaplan_meier_matches_hand_solve(spark, monkeypatch):
    """Product-limit recomputed from scratch on a constructed event
    log with known gaps and censoring. Users: u1 events on days
    0,1,3 (gaps 1,2; open spell censored at horizon-3=7); u2 events
    on days 0,1 (gap 1; censored at 9); u3 single event day 2
    (censored at 8); horizon = day 10 (u4's lone event, censored 0)."""
    import math
    from datetime import datetime

    ev = []
    eid = 0
    for uid, days in [(1, [0, 1, 3]), (2, [0, 1]), (3, [2]), (4, [10])]:
        for d in days:
            ev.append((eid, datetime(2024, 1, 1 + d), uid, "view", 1.0))
            eid += 1
    pdf = pd.DataFrame(ev, columns=["event_id", "ts", "user_id", "event_type", "value"])
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"events": sdf})
    rows = {r["t_days"]: r for r in S.kaplan_meier_return_time(spark, "x").collect()}
    # spells: deaths t=1 (u1:0->1, u2:0->1), t=2 (u1:1->3);
    # censored t=7 (u1), t=9 (u2), t=8 (u3), t=0 (u4). N=7.
    # life table (deaths-first, censored-at-t leave after t):
    # t=0: d=0,c=1 -> no death row. t=1: n=6, d=2. t=2: n=4, d=1.
    assert set(rows) == {1, 2}
    assert rows[1]["n_risk"] == 6 and rows[1]["n_events"] == 2
    assert rows[2]["n_risk"] == 4 and rows[2]["n_events"] == 1
    exp1 = round(math.log(1 - 2 / 6) * 1e9)
    exp2 = exp1 + round(math.log(1 - 1 / 4) * 1e9)
    assert rows[1]["log_surv_nano"] == exp1
    assert rows[2]["log_surv_nano"] == exp2


def test_trimmed_mean_matches_numpy(spark, monkeypatch):
    """Exact trimmed mean vs a direct sort-and-slice in numpy,
    including a duplicate-heavy boundary bin that must be PARTIALLY
    included (the case whole-bin trimming gets wrong)."""
    vals = np.concatenate(
        [
            np.array([0.01] * 30),  # duplicate-heavy bottom bin
            np.round(100 + 10 * _RNG.randn(400), 2),
            np.array([999.99] * 30),
        ]
    )
    pdf = pd.DataFrame(
        {
            "o_orderkey": np.arange(len(vals)),
            "o_orderpriority": "1-URGENT",
            "o_totalprice": vals,
        }
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"orders": sdf})
    row = S.trimmed_mean_robust(spark, "x").collect()[0]
    cents = np.sort(np.round(vals * 100).astype(np.int64))
    n = len(cents)
    k = n * S._TRIM_PCT // 100
    kept = cents[k : n - k]
    assert row["n"] == n and row["k_each_side"] == k
    assert row["trimmed_mean_micro"] == int(kept.sum()) * 1_000_000 // len(kept)
    assert row["raw_mean_micro"] == int(cents.sum()) * 1_000_000 // n
    # the trim must actually move the estimate on this corpus
    assert row["trimmed_mean_micro"] != row["raw_mean_micro"]


def test_neyman_allocation_exactly_exhausts_budget(spark, monkeypatch):
    """Largest-remainder property: integer allocations sum to the
    budget exactly, and bigger N*sigma strata never get less."""
    rows = []
    okey = 0
    for pr, n, scale in [("1-U", 500, 5.0), ("2-H", 300, 50.0), ("3-M", 200, 0.5)]:
        for v in 100 + scale * _RNG.randn(n):
            rows.append((okey, pr, round(float(v), 2)))
            okey += 1
    pdf = pd.DataFrame(rows, columns=["o_orderkey", "o_orderpriority", "o_totalprice"])
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"orders": sdf})
    out = {r["priority"]: r for r in S.neyman_allocation(spark, "x").collect()}
    assert sum(r["allocation"] for r in out.values()) == S._NEY_BUDGET
    # weights follow N*sigma: the high-sigma mid stratum dominates
    w = {p: out[p]["n_rows"] * out[p]["sigma_micro"] for p in out}
    order_by_w = sorted(out, key=lambda p: -w[p])
    allocs = [out[p]["allocation"] for p in order_by_w]
    assert allocs == sorted(allocs, reverse=True), (w, allocs)


def test_average_precision_matches_sklearn_formula(spark, monkeypatch):
    """AP recomputed from scratch in numpy with the step definition
    (sklearn average_precision_score) at distinct-score granularity,
    on a constructed score/label set WITH tie groups."""
    scores = np.array([5.0, 5.0, 4.0, 3.0, 3.0, 3.0, 2.0, 1.0, 1.0, 0.5])
    ys = np.array([1, 0, 1, 1, 0, 0, 0, 1, 0, 0])
    pdf = pd.DataFrame(
        {
            "o_orderkey": np.arange(len(ys)),
            "o_orderpriority": np.where(ys == 1, "1-URGENT", "5-LOW"),
            "o_totalprice": scores,
        }
    )
    import rs_streamloader_spark.operators.quality as Q

    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(Q, "_t", lambda _s, _d, *names: {"orders": sdf})
    row = Q.pr_auc_average_precision(spark, "x").collect()[0]
    # numpy: walk distinct scores descending
    P = int(ys.sum())
    ap = 0.0
    cp = ct = 0
    for v in sorted(set(scores), reverse=True):
        m = scores == v
        p, c = int(ys[m].sum()), int(m.sum())
        cp += p
        ct += c
        if p > 0:
            ap += round((p * cp) * 1e9 / (P * ct))
    assert row["n_pos"] == P
    assert row["avg_precision_nano"] == int(ap)
    # AP of a random ranking ~ prevalence; this ranking is informative
    assert row["avg_precision_nano"] > row["prevalence_ppm"] * 1000


def test_isotonic_minimax_equals_sequential_pava(spark, monkeypatch):
    """The minimax closed form must equal the classic sequential
    pool-adjacent-violators algorithm (recomputed here from scratch
    with exact integer pooling) on a constructed violator-heavy
    input, and the fit must be monotone non-decreasing."""
    import rs_streamloader_spark.operators.quality as Q

    # 10 equal-width bins over v in [0, 999]; rates go up-down-up
    rates = [0.1, 0.3, 0.2, 0.2, 0.5, 0.4, 0.35, 0.6, 0.9, 0.7]
    rows = []
    okey = 0
    for b, r in enumerate(rates):
        for i in range(200):
            v = b * 100 + (i % 100)  # cents inside bin b
            y = 1 if (i % 200) < r * 200 else 0
            rows.append((okey, "1-URGENT" if y else "5-LOW", v / 100.0))
            okey += 1
    pdf = pd.DataFrame(rows, columns=["o_orderkey", "o_orderpriority", "o_totalprice"])
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(Q, "_t", lambda _s, _d, *names: {"orders": sdf})
    got = {r["bin"]: r for r in Q.isotonic_calibration_pava(spark, "x").collect()}

    # sequential PAVA with exact (pos, n) pooling
    blocks = [[int(r * 200), 200, [b]] for b, r in enumerate(rates)]
    i = 0
    while i < len(blocks) - 1:
        p1, n1, _ = blocks[i]
        p2, n2, _ = blocks[i + 1]
        if p1 * n2 > p2 * n1:  # violator: rate_i > rate_{i+1}
            blocks[i] = [p1 + p2, n1 + n2, blocks[i][2] + blocks[i + 1][2]]
            del blocks[i + 1]
            i = max(i - 1, 0)
        else:
            i += 1
    expect = {}
    for p, n, bins in blocks:
        for b in bins:
            expect[b] = p * 10**9 // n
    assert {b: got[b]["fitted_rate_nano"] for b in got} == expect
    fitted = [got[b]["fitted_rate_nano"] for b in sorted(got)]
    assert fitted == sorted(fitted)  # monotone
    assert len(set(fitted)) >= 3  # real pooling structure, not flat


def test_bh_fdr_matches_bruteforce_and_fires_both_branches(spark, monkeypatch):
    """BH step-up recomputed from scratch (z-scores via math, ranks,
    max-k walk) on a corpus with PLANTED effects: 'click' far above
    the pooled success share, 'error' far below, the rest at base —
    both the rejected and accepted branches must fire and match the
    brute-force reject set exactly."""
    import math

    rows = []
    eid = 0
    # planted: click 80% > 50, error 10%, others ~36%
    shares = {"click": 0.8, "error": 0.1, "purchase": 0.36, "signup": 0.36, "view": 0.38}
    for et, share in shares.items():
        for i in range(400):
            eid += 1
            rows.append((eid, et, 80.0 if i < int(400 * share) else 20.0))
    pdf = pd.DataFrame(rows, columns=["event_id", "event_type", "value"])
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"events": sdf})
    got = {r["event_type"]: r for r in S.bh_fdr_correction(spark, "x").collect()}
    # brute force
    cnt = pdf.groupby("event_type").agg(
        n=("value", "size"), s=("value", lambda v: int((v > 50).sum()))
    )
    nn, ss = cnt.n.sum(), cnt.s.sum()
    zs = {}
    for et, r in cnt.iterrows():
        pi, pr, pp = r.s / r.n, (ss - r.s) / (nn - r.n), ss / nn
        zs[et] = round(
            (pi - pr) / math.sqrt(pp * (1 - pp) * (1 / r.n + 1 / (nn - r.n))), 6
        )
    ranked = sorted(zs, key=lambda et: (-abs(zs[et]), et))
    km = 0
    for k, et in enumerate(ranked, 1):
        if abs(zs[et]) >= S._BH_CRIT[k - 1]:
            km = k
    expect_rej = {et for k, et in enumerate(ranked, 1) if k <= km}
    for et in shares:
        assert got[et]["z"] == pytest.approx(zs[et], abs=2e-6), et
        assert got[et]["p_rank"] == ranked.index(et) + 1, et
        assert bool(got[et]["rejected"]) == (et in expect_rej), et
    assert {"click", "error"} <= expect_rej
    assert len(expect_rej) < 5  # accepted branch fires too


def test_ratio_delta_method_matches_numpy(spark, monkeypatch):
    """Delta-method SE recomputed in float numpy from the per-user
    totals; the naive SE must differ (the constructed corpus has
    genuine X-Y covariance: heavy users also carry higher values)."""
    n_users = 500
    rows = []
    eid = 0
    for u in range(n_users):
        k = 1 + (u % 5)  # events per user 1..5, correlated with value
        for _ in range(k):
            eid += 1
            rows.append((eid, u, round(10.0 * k + 0.25 * (u % 7), 2)))
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "value"])
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"events": sdf})
    got = {
        int(r["variant"]): r
        for r in S.ratio_metric_delta_method(spark, "x").collect()
    }
    per_user = pdf.assign(x=np.round(pdf.value * 100)).groupby("user_id").agg(
        x=("x", "sum"), y=("event_id", "size")
    )
    for variant in (0, 1):
        sub = per_user[per_user.index % 2 == variant]
        x, y = sub.x.to_numpy(float), sub.y.to_numpy(float)
        n = len(sub)
        r = x.sum() / y.sum()
        my = y.mean()
        vxx, vyy = x.var(ddof=1), y.var(ddof=1)
        vxy = np.cov(x, y, ddof=1)[0, 1]
        se_d = np.sqrt((vxx - 2 * r * vxy + r * r * vyy) / n) / my
        se_n = np.sqrt(vxx / n) / my
        row = got[variant]
        assert row["n_users"] == n
        assert row["ratio_cents_per_event"] == pytest.approx(r, abs=2e-6)
        assert row["se_delta"] == pytest.approx(se_d, abs=2e-6)
        assert row["se_naive"] == pytest.approx(se_n, abs=2e-6)
        assert row["se_delta"] != row["se_naive"]
        assert row["ci_lo"] < row["ratio_cents_per_event"] < row["ci_hi"]


def _orders_patch(spark, monkeypatch, days):
    """Constructed orders: one order per (day, amount) pair."""
    rows = []
    for i, (day, amount) in enumerate(days):
        rows.append((i, day, float(amount)))
    pdf = pd.DataFrame(rows, columns=["o_orderkey", "o_orderdate", "o_totalprice"])
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"orders": sdf})
    return pdf


def test_seasonal_decompose_identity_and_planted_cycle(spark, monkeypatch):
    """On a constructed series with a planted Friday spike: (a) the
    exact identity rev*1000 = trend + seasonal + residual holds on
    every full-window day, (b) the spiked DOW carries the largest
    seasonal term, (c) the first/last 3 days have NULL trend."""
    days = []
    base = pd.Timestamp("2024-01-01")  # a Monday
    for i in range(35):
        d = base + pd.Timedelta(days=i)
        amount = 100.0 + 2.0 * i + (70.0 if d.dayofweek == 4 else 0.0)
        days.append((d.strftime("%Y-%m-%d"), amount))
    _orders_patch(spark, monkeypatch, days)
    pdf = S.seasonal_decompose_additive(spark, "x").toPandas()
    pdf = pdf.sort_values("day").reset_index(drop=True)
    assert len(pdf) == 35
    full = pdf[pdf.trend_mc.notna()]
    assert len(full) == 35 - 6
    lhs = full.rev_c * 1000
    rhs = full.trend_mc + full.seasonal_mc + full.residual_mc
    assert (lhs == rhs).all()
    # Friday (dow=5 in the 0=Sunday convention) carries the spike
    seasonal_by_dow = pdf.groupby("dow").seasonal_mc.first()
    assert seasonal_by_dow.idxmax() == 5
    assert seasonal_by_dow.loc[5] > 50_000  # ~70 dollars in milli-cents
    # edges: first and last 3 days have no trend
    assert pdf.trend_mc.iloc[:3].isna().all()
    assert pdf.trend_mc.iloc[-3:].isna().all()


def test_changepoint_finds_planted_shift(spark, monkeypatch):
    """Two flat segments (30 days at $10, 30 at $30): the argmax split
    must land exactly on the boundary with the exact segment means and
    a gain_ppm near 1e6 (the split explains almost all variance)."""
    days = []
    base = pd.Timestamp("2024-01-01")
    for i in range(60):
        d = (base + pd.Timedelta(days=i)).strftime("%Y-%m-%d")
        days.append((d, 10.0 if i < 30 else 30.0))
    _orders_patch(spark, monkeypatch, days)
    row = S.changepoint_binseg(spark, "x").collect()[0]
    assert row["split_day"] == "2024-01-30"
    assert row["n_left"] == 30 and row["n_right"] == 30
    assert row["mean_left_mc"] == 10_00 * 1000
    assert row["mean_right_mc"] == 30_00 * 1000
    assert row["delta_mc"] == 20_00 * 1000
    assert row["gain_ppm"] >= 999_000


def test_assortativity_matches_numpy_on_star_graph(spark, monkeypatch):
    """On the shipped corpus every near-dup edge joins equal-degree
    nodes (isolated pairs/cliques) so r degenerates to 1.0 — pin the
    formula on a constructed star + triangle graph where Newman's r is
    genuinely NEGATIVE, recomputed from scratch in numpy over the
    directed edge list."""
    import rs_streamloader_spark.operators.dedup as D

    # star: hub 1 -> 2,3,4,5 ; triangle: 6-7, 7-8, 6-8
    und = [(1, 2), (1, 3), (1, 4), (1, 5), (6, 7), (7, 8), (6, 8)]
    pairs = spark.createDataFrame(und, "doc_a bigint, doc_b bigint")
    monkeypatch.setattr(D, "_jaccard_pairs", lambda _s, _d: pairs)
    row = D.graph_assortativity(spark, "x").collect()[0]
    edges = und + [(b, a) for a, b in und]
    deg: dict[int, int] = {}
    for a, _ in edges:
        deg[a] = deg.get(a, 0) + 1
    dx = np.array([deg[a] for a, _ in edges], dtype=float)
    dy = np.array([deg[b] for _, b in edges], dtype=float)
    expect = np.corrcoef(dx, dy)[0, 1]
    assert expect < 0  # star pulls the correlation negative
    assert row["n_directed_edges"] == len(edges)
    assert row["n_nodes"] == len(deg)
    assert row["assortativity_r"] == pytest.approx(expect, abs=2e-6)


def test_compaction_bin_packing_matches_bruteforce(spark, monkeypatch):
    """Greedy prefix-sum packing recomputed in Python, including an
    OVERSIZED day that must overflow its bin (fill_ppm > 1e6) rather
    than split."""
    import rs_streamloader_spark.operators.advanced as A

    sizes = [10, 700, 300, 2100, 5, 5, 900, 250]  # rows per day
    days = []
    rows = []
    base = pd.Timestamp("2024-01-01")
    okey = 0
    for i, nrows in enumerate(sizes):
        d = (base + pd.Timedelta(days=i)).strftime("%Y-%m-%d")
        days.append((d, nrows))
        for _ in range(nrows):
            rows.append((okey, d, 1.0))
            okey += 1
    pdf = pd.DataFrame(rows, columns=["o_orderkey", "o_orderdate", "o_totalprice"])
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(A, "load_tables", lambda _s, _d, *names: {"orders": sdf})
    got = {
        int(r["bin_id"]): r
        for r in A.compaction_bin_packing(spark, "x").collect()
    }
    # brute force
    target = A._COMPACT_TARGET
    rb = A._COMPACT_ROW_BYTES
    cum = 0
    expect: dict[int, dict] = {}
    for d, nrows in days:
        b = nrows * rb
        bin_id = cum // target
        e = expect.setdefault(
            bin_id, {"n_files": 0, "n_rows": 0, "bytes": 0, "first": d, "last": d}
        )
        e["n_files"] += 1
        e["n_rows"] += nrows
        e["bytes"] += b
        e["last"] = d
        cum += b
    assert set(got) == set(expect)
    for bin_id, e in expect.items():
        r = got[bin_id]
        assert r["n_files"] == e["n_files"]
        assert r["n_rows"] == e["n_rows"]
        assert r["total_bytes"] == e["bytes"]
        assert r["first_day"] == e["first"] and r["last_day"] == e["last"]
        assert r["fill_ppm"] == e["bytes"] * 1_000_000 // target
    # the 2100-row day (268800 B > 262144) overflows its bin
    assert any(r["fill_ppm"] > 1_000_000 for r in got.values())


def test_dict_encoding_runs_match_bruteforce_across_bands(spark, monkeypatch):
    """The banded distributed run count must equal a serial global
    scan — exercised with a tiny band (7 keys) so every band boundary
    matters, on a column mixing long runs, boundary-straddling runs,
    and per-row alternation."""
    import rs_streamloader_spark.operators.advanced as A

    n = 100
    status = []
    for i in range(n):
        if i < 30:
            status.append("A")  # one long run across ~4 bands
        elif i < 60:
            status.append("B" if (i // 7) % 2 == 0 else "C")  # band-aligned flips
        else:
            status.append("D" if i % 2 == 0 else "E")  # alternation
    pdf = pd.DataFrame(
        {
            "o_orderkey": np.arange(n),
            "o_custkey": np.arange(n) % 9,
            "o_orderstatus": status,
            "o_orderpriority": ["1-URGENT"] * n,
            "o_orderdate": pd.Timestamp("2024-01-01"),
            "o_totalprice": 1.0,
        }
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(A, "load_tables", lambda _s, _d, *names: {"orders": sdf})
    monkeypatch.setattr(A, "_DICT_BAND", 7)
    got = {
        r["col_name"]: r for r in A.dict_encoding_audit(spark, "x").collect()
    }

    def runs_of(vals):
        r = 1
        for a, b in zip(vals, vals[1:]):
            if a != b:
                r += 1
        return r

    row = got["o_orderstatus"]
    assert row["n_rows"] == n
    assert row["n_distinct"] == 5
    assert row["dict_bits"] == 3
    assert row["n_runs"] == runs_of(status)
    assert row["raw_bytes"] == n  # 1-char values
    # constant column: a single run, 0 dict bits
    prio = got["o_orderpriority"]
    assert prio["n_runs"] == 1 and prio["dict_bits"] == 0
    # custkey cycles 0..8: every row is a change
    ck = got["o_custkey_str"]
    assert ck["n_runs"] == n and ck["n_distinct"] == 9


def test_theil_indices_match_numpy(spark, monkeypatch):
    """Theil T and L recomputed in float numpy from per-customer
    totals on a deliberately unequal corpus; both nano-unit values and
    the display doubles must agree to rounding."""
    rows = []
    okey = 0
    amounts = {1: [10.0], 2: [10.0, 10.0], 3: [500.0], 4: [5.0, 2.5, 2.5]}
    for cust, vals in amounts.items():
        for v in vals:
            rows.append((okey, cust, "2024-01-01", v))
            okey += 1
    pdf = pd.DataFrame(
        rows, columns=["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"]
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"orders": sdf})
    row = S.theil_index_revenue(spark, "x").collect()[0]
    x = np.array(
        [round(sum(v) * 100) for v in amounts.values()], dtype=float
    )
    n = len(x)
    mu = x.mean()
    t = float(np.mean((x / mu) * np.log(x / mu)))
    l_ = float(np.mean(np.log(mu / x)))
    assert row["n_customers"] == n
    assert row["total_cents"] == int(x.sum())
    assert row["theil_t"] == pytest.approx(t, abs=2e-6)
    assert row["theil_l"] == pytest.approx(l_, abs=2e-6)
    assert row["theil_t"] > 0 and row["theil_l"] > 0  # genuinely unequal


def test_eb_shrinkage_matches_numpy_and_shrinks_small_groups(spark, monkeypatch):
    """MoM Beta prior + posterior means recomputed in numpy; the tiny
    extreme group must move toward the prior mean far more than the
    big group."""
    # nations: big/steady vs tiny/extreme
    spec = {
        "ALPHA": (1000, 300),  # n, successes
        "BETA": (900, 320),
        "GAMMA": (1100, 310),
        "TINY": (10, 10),  # 100% raw share on 10 orders
        "DELTA": (950, 290),
    }
    orders, cust, nat = [], [], []
    okey = 0
    for i, (name, (n, s)) in enumerate(spec.items()):
        nat.append((i, name))
        cust.append((i, i))
        for j in range(n):
            orders.append((okey, i, "F" if j < s else "O"))
            okey += 1
    o = spark.createDataFrame(
        orders, "o_orderkey bigint, o_custkey bigint, o_orderstatus string"
    )
    c = spark.createDataFrame(cust, "c_custkey bigint, c_nationkey bigint")
    nt = spark.createDataFrame(nat, "n_nationkey bigint, n_name string")
    monkeypatch.setattr(
        S, "_t", lambda _s, _d, *names: {"orders": o, "customer": c, "nation": nt}
    )
    got = {
        r["nation"]: r for r in S.empirical_bayes_shrinkage(spark, "x").collect()
    }
    p_ppm = np.array(
        [s * 1_000_000 // n for n, s in spec.values()], dtype=float
    )
    p = p_ppm / 1e6
    mu = p.mean()
    v = p.var(ddof=1)
    k = mu * (1 - mu) / v - 1
    assert k > 0
    for name, (n, s) in spec.items():
        r = got[name]
        assert r["p_raw_ppm"] == s * 1_000_000 // n
        assert r["prior_mean"] == pytest.approx(mu, abs=2e-6)
        assert r["prior_strength_k"] == pytest.approx(k, abs=2e-4)
        assert r["p_shrunk"] == pytest.approx(
            (mu * k + s) / (k + n), abs=2e-6
        ), name
    # the 10-order 100% nation shrinks hard; the 1000-order one barely
    tiny_move = abs(got["TINY"]["p_shrunk"] - 1.0)
    big_move = abs(got["ALPHA"]["p_shrunk"] - 0.3)
    assert tiny_move > 10 * big_move


def test_rouge_overlap_matches_bruteforce(spark, monkeypatch, tmp_path):
    """Multiset ROUGE-1 recomputed from collections.Counter on a
    literal pair + constructed docs (repeated tokens exercise the
    LEAST() multiset clip)."""
    from collections import Counter

    import pyarrow as pa
    import pyarrow.parquet as pq

    import rs_streamloader_spark.operators.dedup as D

    texts = {
        1: "the cat sat on the mat the cat",
        2: "the cat lay on the mat",
        3: "completely different words entirely here",
    }
    docs = pd.DataFrame(
        [
            {"doc_id": k, "text": v, "lang": "en", "source": "s", "n_chars": len(v)}
            for k, v in texts.items()
        ]
    )
    pq.write_table(
        pa.Table.from_pandas(docs, preserve_index=False),
        tmp_path / "documents.parquet",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "doc_a bigint, doc_b bigint"
    )
    monkeypatch.setattr(D, "_jaccard_pairs", lambda _s, _d: pairs)
    got = {
        (r["doc_a"], r["doc_b"]): r
        for r in D.rouge_overlap_neardup(spark, str(tmp_path)).collect()
    }
    for a, b in [(1, 2), (1, 3)]:
        ca, cb = Counter(texts[a].split()), Counter(texts[b].split())
        ov = sum(min(ca[t], cb[t]) for t in ca)
        la, lb = sum(ca.values()), sum(cb.values())
        if ov == 0:
            assert (a, b) not in got  # both engines drop zero-overlap pairs
            continue
        r = got[(a, b)]
        assert r["overlap"] == ov
        assert r["len_a"] == la and r["len_b"] == lb
        assert r["precision_ppm"] == ov * 1_000_000 // la
        assert r["recall_ppm"] == ov * 1_000_000 // lb
        assert r["f1_ppm"] == ov * 2_000_000 // (la + lb)
    assert (1, 3) not in got  # disjoint pair provably dropped
    # pair (1,2): 'the' appears 3x in a, 2x in b -> clip contributes 2
    assert got[(1, 2)]["overlap"] == 5


def test_lorenz_points_match_numpy(spark, monkeypatch):
    """Decile cumulative shares recomputed by sorting in numpy on a
    deliberately unequal 40-customer corpus."""
    rows = []
    okey = 0
    revs = {}
    for cust in range(40):
        amount = float(2 ** (cust % 8)) + cust * 0.01
        revs[cust] = round(amount * 100)
        rows.append((okey, cust, "2024-01-01", amount))
        okey += 1
    pdf = pd.DataFrame(
        rows, columns=["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"]
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"orders": sdf})
    got = {r["decile"]: r for r in S.lorenz_curve_points(spark, "x").collect()}
    order = sorted(revs, key=lambda c: (revs[c], c))
    x = np.array([revs[c] for c in order], dtype=np.int64)
    cum = np.cumsum(x)
    n, total = len(x), int(x.sum())
    assert set(got) == set(range(1, 11))
    for d in range(1, 11):
        rnk = d * n // 10
        r = got[d]
        assert r["rank"] == rnk
        assert r["cum_revenue_cents"] == int(cum[rnk - 1])
        assert r["cum_share_ppm"] == int(cum[rnk - 1]) * 1_000_000 // total
    # genuinely bowed curve: median decile holds far under 50% of mass
    assert got[5]["cum_share_ppm"] < 250_000


def test_mcnemar_fires_on_planted_weekday_cohort(spark, monkeypatch):
    """Planted asymmetry: 40 users purchase ONLY on a weekday, 5 only
    on a weekend, 10 on both — the exact-integer verdict must flip to
    significant and chi2 must match the hand formula."""
    rows = []
    eid = 0
    WD, WE = "2024-03-04 10:00:00", "2024-03-02 10:00:00"  # Mon, Sat
    for u in range(40):
        eid += 1
        rows.append((eid, WD, u, "purchase", 1.0))
    for u in range(40, 45):
        eid += 1
        rows.append((eid, WE, u, "purchase", 1.0))
    for u in range(45, 55):
        for ts in (WD, WE):
            eid += 1
            rows.append((eid, ts, u, "purchase", 1.0))
    for u in range(55, 70):  # never purchase
        eid += 1
        rows.append((eid, WD, u, "view", 1.0))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"events": sdf})
    row = S.mcnemar_weekday_weekend(spark, "x").collect()[0]
    assert row["weekday_only"] == 40 and row["weekend_only"] == 5
    assert row["both_conv"] == 10 and row["neither"] == 15
    b, c = 40, 5
    expect = (abs(b - c) - 1) ** 2 / (b + c)
    assert row["chi2_cc"] == pytest.approx(expect, abs=1e-6)
    assert bool(row["significant"]) is True


def test_brier_murphy_identity_matches_numpy(spark, monkeypatch):
    """REL − RES + UNC must equal the binned Brier exactly (to nano
    rounding), and every term must match a from-scratch numpy
    recompute of the same hash pseudo-model."""
    import rs_streamloader_spark.operators.quality as Q

    n = 5000
    keys = np.arange(n, dtype=np.int64)
    pdf = pd.DataFrame(
        {
            "o_orderkey": keys,
            "o_orderpriority": np.where(
                (keys * 7919) % 100 < 30, "1-URGENT", "3-MEDIUM"
            ),
        }
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(Q, "load_tables", lambda _s, _d, *names: {"orders": sdf})
    row = Q.brier_murphy_decomposition(spark, "x").collect()[0]
    h = ((keys % Q._CAL_HASH_MOD) * Q._CAL_HASH_MULT) % Q._CAL_HASH_MOD
    y = ((keys * 7919) % 100 < 30).astype(float)
    p = h / Q._CAL_HASH_MOD
    bins = (h * 10 // Q._CAL_HASH_MOD).astype(int)
    obar = y.mean()
    rel = res = brier = 0.0
    for k in np.unique(bins):
        m = bins == k
        fk = p[m].mean()
        ok = y[m].mean()
        rel += m.sum() * (fk - ok) ** 2
        res += m.sum() * (ok - obar) ** 2
        brier += ((fk - y[m]) ** 2).sum()
    rel, res, brier = rel / n, res / n, brier / n
    unc = obar * (1 - obar)
    assert row["n_orders"] == n
    assert row["reliability"] == pytest.approx(rel, abs=2e-6)
    assert row["resolution"] == pytest.approx(res, abs=2e-6)
    assert row["uncertainty"] == pytest.approx(unc, abs=2e-6)
    assert row["brier_binned"] == pytest.approx(brier, abs=2e-6)
    # Murphy identity
    assert row["brier_binned"] == pytest.approx(
        row["reliability"] - row["resolution"] + row["uncertainty"], abs=5e-6
    )


def test_cohens_kappa_imbalance_vs_accuracy(spark, monkeypatch):
    """A predict-majority heuristic on a 9:1 imbalanced corpus gets
    high accuracy but κ near zero — recomputed from scratch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import rs_streamloader_spark.operators.mining as M

    # marker-dense text => predicted en; plain => predicted other
    en_text = "the cat sat on a mat and the dog ate a bone"
    other_text = "quarterly revenue projections exceeded expectations"
    rows = []
    for i in range(90):  # en docs, 80 predicted en / 10 predicted other
        rows.append((i, en_text if i < 80 else other_text, "en"))
    for i in range(90, 100):  # fr docs, 8 predicted en (false pos)
        rows.append((i, en_text if i < 98 else other_text, "fr"))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
    pdf["source"] = "s"
    pdf["n_chars"] = pdf.text.str.len()
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(M, "_t", lambda _s, _d, *names: {"documents": sdf})
    row = M.cohens_kappa_langid(spark, "x").collect()[0]
    tp, fp, fn, tn = 80, 8, 10, 2
    n = 100
    po = (tp + tn) / n
    pe = ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) / n**2
    kappa = (po - pe) / (1 - pe)
    assert row["n_docs"] == n
    assert row["po"] == pytest.approx(po, abs=2e-6)
    assert row["pe"] == pytest.approx(pe, abs=2e-6)
    assert row["kappa"] == pytest.approx(kappa, abs=2e-6)
    assert row["po"] > 0.8 and row["kappa"] < 0.2  # the imbalance story


def test_g_test_matches_numpy_and_fires_on_planted_dependence(spark, monkeypatch):
    """G = 2ΣO·ln(O/E) recomputed in numpy on a corpus where 'error'
    events are planted on a single day-of-week — the significance
    branch (constant-false on the uniform corpus) must fire, and every
    term must match."""
    rows = []
    eid = 0
    # Mon..Sun of one week, 2024-03-04 is a Monday
    base = pd.Timestamp("2024-03-04")
    for day in range(7):
        ts = base + pd.Timedelta(days=day)
        for et, cnt in (("click", 30), ("view", 30), ("purchase", 20)):
            for _ in range(cnt):
                eid += 1
                rows.append((eid, ts, eid % 50, et, 1.0))
        # planted: errors happen ONLY on Friday (day 4)
        if day == 4:
            for _ in range(80):
                eid += 1
                rows.append((eid, ts, eid % 50, "error", 1.0))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"events": sdf})
    row = S.g_test_independence(spark, "x").collect()[0]
    ct = pd.crosstab(pdf.event_type, pdf.ts.dt.dayofweek)
    o = ct.to_numpy(dtype=float)
    e = np.outer(o.sum(1), o.sum(0)) / o.sum()
    mask = o > 0
    g = 2 * (o[mask] * np.log(o[mask] / e[mask])).sum()
    assert row["n_events"] == len(pdf)
    assert row["g_statistic"] == pytest.approx(g, abs=5e-5)
    assert bool(row["significant"]) is True  # planted dependence found


def test_runs_test_matches_numpy_on_constructed_series(spark, monkeypatch):
    """Runs statistic recomputed from scratch on a constructed series
    with a long trend block (few runs -> negative z)."""
    days = []
    base = pd.Timestamp("2024-01-01")
    # 8 low days, 14 high days, 8 median-valued days (excluded): the
    # kept sequence is one below-block then one above-block -> R = 2
    vals = [5.0] * 8 + [30.0] * 14 + [10.0] * 8
    for i, v in enumerate(vals):
        days.append(((base + pd.Timedelta(days=i)).strftime("%Y-%m-%d"), v))
    _orders_patch(spark, monkeypatch, days)
    row = S.runs_test_randomness(spark, "x").collect()[0]
    n1, n2, r = row["n_above"], row["n_below"], row["n_runs"]
    # brute force from the operator's own convention
    med_sorted = sorted(round(v * 100) for _, v in days)
    m = med_sorted[(len(med_sorted) + 1) // 2 - 1]
    kept = [(d, round(v * 100) > m) for d, v in days if round(v * 100) != m]
    kept.sort()
    bf_r = 1 + sum(1 for a, b in zip(kept, kept[1:]) if a[1] != b[1])
    bf_n1 = sum(1 for _, h in kept if h)
    bf_n2 = len(kept) - bf_n1
    assert (n1, n2, r) == (bf_n1, bf_n2, bf_r)
    mu = 1 + 2 * bf_n1 * bf_n2 / (bf_n1 + bf_n2)
    var = (
        2 * bf_n1 * bf_n2 * (2 * bf_n1 * bf_n2 - bf_n1 - bf_n2)
        / ((bf_n1 + bf_n2) ** 2 * (bf_n1 + bf_n2 - 1))
    )
    assert row["expected_runs"] == pytest.approx(mu, abs=1e-6)
    assert row["z_score"] == pytest.approx((bf_r - mu) / var**0.5, abs=1e-6)
    assert row["z_score"] < -2  # the trend block: far too few runs


def _prio_orders_patch(spark, monkeypatch, groups):
    """Constructed orders with the five standard priorities: ``groups``
    maps priority -> list of o_totalprice values."""
    rows = []
    k = 0
    for p, vals in groups.items():
        for v in vals:
            rows.append((k, "1995-06-%02d" % (k % 28 + 1), float(v), p))
            k += 1
    pdf = pd.DataFrame(
        rows,
        columns=["o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority"],
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"orders": sdf})
    return pdf


_PRIOS = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _kw_brute(groups):
    """Tie-corrected Kruskal-Wallis H from scratch (average ranks)."""
    all_v = np.concatenate([np.round(np.array(v) * 100) for v in groups])
    ranks = _avg_ranks(all_v)
    n = len(all_v)
    h, off = 0.0, 0
    for v in groups:
        r = ranks[off : off + len(v)]
        off += len(v)
        h += r.sum() ** 2 / len(v)
    h = 12.0 / (n * (n + 1)) * h - 3 * (n + 1)
    _, t = np.unique(all_v, return_counts=True)
    c = 1.0 - (t**3 - t).sum() / (n**3 - n)
    return h / c


def test_kruskal_wallis_matches_brute_force_and_fires_on_shift(
    spark, monkeypatch
):
    """H recomputed from average ranks on a constructed 5-group corpus
    with heavy ties; a location-shifted group must flip significant."""
    rng = np.random.RandomState(11)
    base = [rng.choice([100, 200, 300, 400, 500], 60) for _ in range(5)]
    # null case: identical discrete distribution in every group
    groups = {p: list(v) for p, v in zip(_PRIOS, base)}
    _prio_orders_patch(spark, monkeypatch, groups)
    row = S.kruskal_wallis_h(spark, "x").collect()[0]
    assert row["h_statistic"] == pytest.approx(
        _kw_brute(list(groups.values())), abs=2e-5
    )
    assert bool(row["significant"]) is False
    # planted shift: one group moved far right
    groups[_PRIOS[2]] = [v + 5000 for v in base[2]]
    _prio_orders_patch(spark, monkeypatch, groups)
    row = S.kruskal_wallis_h(spark, "x").collect()[0]
    assert row["h_statistic"] == pytest.approx(
        _kw_brute(list(groups.values())), abs=2e-5
    )
    assert bool(row["significant"]) is True


def _jb_brute(prices):
    x = np.log(np.asarray(prices, dtype=float))
    # mirror the operator's nano quantization of ln(price)
    x = np.round(x * 1e9) / 1e9
    mu = x.mean()
    sig = x.std()  # population
    z = (x - mu) / sig
    s = (z**3).mean()
    k = (z**4).mean()
    return s, k - 3, len(x) / 6.0 * (s**2 + (k - 3) ** 2 / 4)


def test_jarque_bera_matches_numpy_both_branches(spark, monkeypatch):
    """JB recomputed in numpy: lognormal prices (ln is normal) must
    NOT reject; exp-of-exponential prices (ln is skewed) must."""
    rng = np.random.RandomState(23)
    normal_prices = np.exp(rng.randn(800) * 0.4 + 8.0)
    days = [("2024-01-%02d" % (i % 28 + 1), p) for i, p in enumerate(normal_prices)]
    _orders_patch(spark, monkeypatch, days)
    row = S.jarque_bera_normality(spark, "x").collect()[0]
    s, xk, jb = _jb_brute(normal_prices)
    assert row["n_orders"] == 800
    assert row["skewness"] == pytest.approx(s, abs=5e-5)
    assert row["excess_kurtosis"] == pytest.approx(xk, abs=5e-5)
    assert row["jb_statistic"] == pytest.approx(jb, abs=5e-3)
    assert bool(row["significant"]) is False
    skew_prices = np.exp(rng.exponential(1.0, 800) + 5.0)
    days = [("2024-01-%02d" % (i % 28 + 1), p) for i, p in enumerate(skew_prices)]
    _orders_patch(spark, monkeypatch, days)
    row = S.jarque_bera_normality(spark, "x").collect()[0]
    s, xk, jb = _jb_brute(skew_prices)
    assert row["jb_statistic"] == pytest.approx(jb, rel=1e-4)
    assert bool(row["significant"]) is True


def _mk_brute(vals):
    v = np.round(np.asarray(vals, dtype=float) * 100)
    # daily totals: one order per day here, so the series IS vals
    n = len(v)
    s = 0
    for i in range(n):
        for j in range(i + 1, n):
            s += int(np.sign(v[j] - v[i]))
    _, t = np.unique(v, return_counts=True)
    var18 = n * (n - 1) * (2 * n + 5) - (t * (t - 1) * (2 * t + 5)).sum()
    if s > 0:
        z = (s - 1) / np.sqrt(var18 / 18.0)
    elif s < 0:
        z = (s + 1) / np.sqrt(var18 / 18.0)
    else:
        z = 0.0
    return s, var18, z


def test_mann_kendall_matches_brute_force_on_planted_trend(
    spark, monkeypatch
):
    """S/var/z recomputed by the O(n^2) loop on a constructed noisy
    uptrend (significant) and on an alternating series (not)."""
    base = pd.Timestamp("2024-01-01")
    rng = np.random.RandomState(5)
    up = [100 + 3 * i + rng.choice([-2, 0, 2]) for i in range(60)]
    days = [
        ((base + pd.Timedelta(days=i)).strftime("%Y-%m-%d"), float(v))
        for i, v in enumerate(up)
    ]
    _orders_patch(spark, monkeypatch, days)
    row = S.mann_kendall_trend(spark, "x").collect()[0]
    s, var18, z = _mk_brute(up)
    assert row["n_days"] == 60
    assert row["s_statistic"] == s
    assert row["var_s_x18"] == var18
    assert row["z_score"] == pytest.approx(z, abs=2e-6)
    assert bool(row["significant"]) is True
    flat = [100 + (5 if i % 2 else -5) for i in range(60)]
    days = [
        ((base + pd.Timedelta(days=i)).strftime("%Y-%m-%d"), float(v))
        for i, v in enumerate(flat)
    ]
    _orders_patch(spark, monkeypatch, days)
    row = S.mann_kendall_trend(spark, "x").collect()[0]
    s, var18, z = _mk_brute(flat)
    assert row["s_statistic"] == s
    assert bool(row["significant"]) is False


def _dw_brute(vals):
    y = np.round(np.asarray(vals, dtype=float) * 100)
    x = np.arange(len(y), dtype=float)
    n = len(y)
    b = (n * (x * y).sum() - x.sum() * y.sum()) / (
        n * (x * x).sum() - x.sum() ** 2
    )
    a = (y.sum() - b * x.sum()) / n
    e = np.round(y - (a + b * x))
    return ((e[1:] - e[:-1]) ** 2).sum() / (e**2).sum()


def test_durbin_watson_matches_numpy_both_branches(spark, monkeypatch):
    """DW recomputed in numpy: a slow sine wave around the trend line
    gives strongly autocorrelated residuals (DW << 1.5); independent
    noise gives DW near 2."""
    base = pd.Timestamp("2024-01-01")
    rng = np.random.RandomState(9)
    slow = [
        1000 + 2 * i + 300 * np.sin(2 * np.pi * i / 40) for i in range(80)
    ]
    days = [
        ((base + pd.Timedelta(days=i)).strftime("%Y-%m-%d"), float(v))
        for i, v in enumerate(slow)
    ]
    _orders_patch(spark, monkeypatch, days)
    row = S.durbin_watson_ols(spark, "x").collect()[0]
    dw = _dw_brute(slow)
    assert row["n_days"] == 80
    assert row["dw_statistic"] == pytest.approx(dw, abs=2e-6)
    assert row["rho1_approx"] == pytest.approx(1 - dw / 2, abs=2e-6)
    assert bool(row["positive_autocorr"]) is True
    noise = [1000 + 2 * i + rng.randint(-300, 301) for i in range(80)]
    days = [
        ((base + pd.Timedelta(days=i)).strftime("%Y-%m-%d"), float(v))
        for i, v in enumerate(noise)
    ]
    _orders_patch(spark, monkeypatch, days)
    row = S.durbin_watson_ols(spark, "x").collect()[0]
    dw = _dw_brute(noise)
    assert row["dw_statistic"] == pytest.approx(dw, abs=2e-6)
    assert 1.5 < row["dw_statistic"] < 2.6
    assert bool(row["positive_autocorr"]) is False


def _bf_brute(groups):
    zs = []
    for v in groups:
        c = np.round(np.asarray(v, dtype=float) * 100)
        m = np.sort(c)[(len(c) + 1) // 2 - 1]  # lower median
        zs.append(np.abs(c - m))
    n = sum(len(z) for z in zs)
    k = len(zs)
    zbar = np.concatenate(zs).mean()
    between = sum(len(z) * (z.mean() - zbar) ** 2 for z in zs)
    within = sum(((z - z.mean()) ** 2).sum() for z in zs)
    return (n - k) / (k - 1) * between / within


def test_brown_forsythe_matches_numpy_both_branches(spark, monkeypatch):
    """W recomputed in numpy: equal-spread groups must not reject, a
    variance-inflated group must."""
    rng = np.random.RandomState(17)
    base = [list(1000 + rng.randint(-50, 51, 80)) for _ in range(5)]
    groups = {p: v for p, v in zip(_PRIOS, base)}
    _prio_orders_patch(spark, monkeypatch, groups)
    row = S.levene_brown_forsythe(spark, "x").collect()[0]
    w = _bf_brute(list(groups.values()))
    assert row["n_orders"] == 400
    assert row["w_statistic"] == pytest.approx(w, abs=2e-5)
    assert bool(row["significant"]) is False
    groups[_PRIOS[4]] = list(1000 + rng.randint(-50, 51, 80) * 8)
    _prio_orders_patch(spark, monkeypatch, groups)
    row = S.levene_brown_forsythe(spark, "x").collect()[0]
    w = _bf_brute(list(groups.values()))
    assert row["w_statistic"] == pytest.approx(w, abs=2e-5)
    assert bool(row["significant"]) is True


def _docs_text_patch(spark, monkeypatch, texts_by_source):
    """Constructed documents for the text-module operators."""
    import rs_streamloader_spark.operators.text as T

    rows = []
    i = 0
    for src, texts in texts_by_source.items():
        for txt in texts:
            rows.append((i, txt, "en", src, len(txt)))
            i += 1
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(
        T, "load_tables", lambda _s, _d, *names: {"documents": sdf}
    )
    return pdf


def test_hellinger_tv_matches_counter_brute_force(spark, monkeypatch):
    """BC/Hellinger/TV recomputed with collections.Counter, including
    the unshared-mass corrections; disjoint vocabularies must give the
    exact extremes BC=0, H=1, TV=1."""
    from collections import Counter

    from rs_streamloader_spark.operators.text import hellinger_tv_sources

    a_texts = ["apple banana apple", "cherry banana banana"]
    b_texts = ["apple cherry date", "date date elder apple"]
    c_texts = ["zeta theta iota", "kappa zeta"]
    _docs_text_patch(
        spark, monkeypatch, {"sa": a_texts, "sb": b_texts, "sc": c_texts}
    )
    rows = {
        (r["source_a"], r["source_b"]): r
        for r in hellinger_tv_sources(spark, "x").collect()
    }

    def dist(texts):
        c = Counter(t for s in texts for t in s.split() if t)
        n = sum(c.values())
        return {k: v / n for k, v in c.items()}

    import math

    pa_, pb, pc = dist(a_texts), dist(b_texts), dist(c_texts)
    for (ka, kb), (p, q) in {
        ("sa", "sb"): (pa_, pb),
        ("sa", "sc"): (pa_, pc),
        ("sb", "sc"): (pb, pc),
    }.items():
        toks = set(p) | set(q)
        bc = sum(math.sqrt(p.get(t, 0) * q.get(t, 0)) for t in toks)
        tv = 0.5 * sum(abs(p.get(t, 0) - q.get(t, 0)) for t in toks)
        r = rows[(ka, kb)]
        assert r["bc_coefficient"] == pytest.approx(bc, abs=2e-6), (ka, kb)
        assert r["hellinger"] == pytest.approx(
            math.sqrt(max(1 - bc, 0)), abs=2e-6
        )
        assert r["tv_distance"] == pytest.approx(tv, abs=2e-6)
    # disjoint pair: exact extremes
    assert rows[("sa", "sc")]["bc_coefficient"] == 0.0
    assert rows[("sa", "sc")]["hellinger"] == 1.0
    assert rows[("sa", "sc")]["tv_distance"] == 1.0


def test_good_turing_matches_counter_brute_force(spark, monkeypatch):
    """p0 and r1* recomputed from a constructed frequency spectrum."""
    from collections import Counter

    from rs_streamloader_spark.operators.text import good_turing_mass

    # 4 hapaxes, 2 dis legomena, 1 token seen 5 times => N = 13
    text = "a b c d e e f f g g g g g"
    _docs_text_patch(spark, monkeypatch, {"s1": [text]})
    row = good_turing_mass(spark, "x").collect()[0]
    c = Counter(text.split())
    n = sum(c.values())
    n1 = sum(1 for v in c.values() if v == 1)
    n2 = sum(1 for v in c.values() if v == 2)
    assert row["n_tokens"] == n
    assert row["vocab"] == len(c)
    assert row["n_hapax"] == n1
    assert row["n_dis"] == n2
    assert row["p0_ppm"] == n1 * 1_000_000 // n
    assert row["r1_star_micro"] == 2 * n2 * 1_000_000 // n1


def test_heaps_law_matches_numpy_fit(spark, monkeypatch):
    """The decile curve and the ln-ln OLS beta recomputed in numpy on
    a constructed 20-doc corpus with real vocabulary growth."""
    from rs_streamloader_spark.operators.text import heaps_law_fit

    rng = np.random.RandomState(3)
    vocab = [f"w{i}" for i in range(120)]
    texts = []
    for i in range(20):
        # Zipf-flavored draws: early ranks dominate, vocab keeps growing
        idx = rng.zipf(1.5, 30)
        toks = [vocab[min(int(j) - 1, 119)] for j in idx]
        texts.append(" ".join(toks))
    pdf = _docs_text_patch(spark, monkeypatch, {"s1": texts})
    got = heaps_law_fit(spark, "x").collect()
    assert len(got) == 10
    docs = list(pdf.itertuples())
    n = len(docs)
    seen: set = set()
    toks_cum = 0
    curve = {}
    boundaries = {d: n * d // 10 for d in range(1, 11)}
    pos = 0
    for doc in sorted(docs, key=lambda r: r.doc_id):
        toks = [t for t in doc.text.split() if t]
        toks_cum += len(toks)
        seen.update(toks)
        pos += 1
        for d, b in boundaries.items():
            if pos == b:
                curve[d] = (toks_cum, len(seen))
    xs = np.log([curve[d][0] for d in range(1, 11)])
    ys = np.log([curve[d][1] for d in range(1, 11)])
    beta = np.polyfit(xs, ys, 1)[0]
    for r in got:
        assert (r["tokens_prefix"], r["vocab_prefix"]) == curve[r["decile"]]
        assert r["beta_fit"] == pytest.approx(beta, abs=5e-5)
    assert 0.1 < got[0]["beta_fit"] < 1.0


def _events_patch(spark, monkeypatch, rows):
    """Constructed events: rows of (event_id, ts, user_id, type)."""
    pdf = pd.DataFrame(
        [(e, pd.Timestamp(ts), u, ty, 1.0) for e, ts, u, ty in rows],
        columns=["event_id", "ts", "user_id", "event_type", "value"],
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"events": sdf})
    return pdf


def _life_table(spells):
    """(t, ev) spells -> sorted [(t, n_risk, d, c)] life table."""
    from collections import defaultdict

    d = defaultdict(lambda: [0, 0])
    for t, e in spells:
        d[t][0 if e else 1] += 1
    n = len(spells)
    out = []
    for t in sorted(d):
        dt, ct = d[t]
        out.append((t, n, dt, ct))
        n -= dt + ct
    return out


def test_nelson_aalen_matches_hand_life_table(spark, monkeypatch):
    """H(t) and Var recomputed from a hand-built life table on a
    3-user corpus with known gaps and censoring."""
    from rs_streamloader_spark.operators.stats import nelson_aalen_hazard

    rows = [
        # user 1: events at day 0, 2, 5 -> spells t=2, t=3, censored 5
        (1, "2024-01-01", 1, "click"),
        (2, "2024-01-03", 1, "click"),
        (3, "2024-01-06", 1, "click"),
        # user 2: events at day 0, 3 -> spell t=3, censored 7
        (4, "2024-01-01", 2, "view"),
        (5, "2024-01-04", 2, "view"),
        # user 3: one event at day 4 -> censored 6
        (6, "2024-01-05", 3, "view"),
    ]
    _events_patch(spark, monkeypatch, rows)
    got = {r["t_days"]: r for r in nelson_aalen_hazard(spark, "x").collect()}
    # horizon = 2024-01-10? no: max date = 01-06 + ... horizon is max(d)
    # = 2024-01-06. spells: u1: 2,3, cens 0; u2: 3, cens 2; u3: cens 1
    spells = [(2, 1), (3, 1), (0, 0), (3, 1), (2, 0), (1, 0)]
    life = _life_table(spells)
    h = v = 0.0
    expect = {}
    for t, n, dt, ct in life:
        if dt > 0:
            h += round(dt / n * 1e9)
            v += round(dt * (n - dt) / (n**3) * 1e9)
            expect[t] = (n, dt, h, v)
    assert set(got) == set(expect)
    for t, (n, dt, hh, vv) in expect.items():
        r = got[t]
        assert r["n_risk"] == n
        assert r["n_events"] == dt
        assert r["cum_hazard_nano"] == hh
        assert r["var_hazard_nano"] == vv


def test_logrank_matches_brute_force_both_branches(spark, monkeypatch):
    """chi2 recomputed from the two-group life table: clicks that
    return much faster than views must reject; a symmetric corpus
    must not."""
    from rs_streamloader_spark.operators.stats import (
        logrank_test_return_time,
    )

    def build(fast_clicks):
        rows = []
        eid = 0
        base = pd.Timestamp("2024-01-01")
        for u in range(40):
            eid += 1
            is_click = u % 2 == 0
            t0 = base
            rows.append(
                (eid, t0.strftime("%Y-%m-%d"), u, "click" if is_click else "view")
            )
            # click users return after 1 day, view users after 8 (or
            # both after u%5+1 days in the symmetric case)
            if fast_clicks:
                gap = 1 if is_click else 8
            else:
                gap = u % 5 + 1
            eid += 1
            rows.append(
                (
                    eid,
                    (t0 + pd.Timedelta(days=gap)).strftime("%Y-%m-%d"),
                    u,
                    "purchase",  # closes the spell, opens a non-AB spell
                )
            )
        return rows

    def brute(rows):
        # replicate the operator's spell construction
        from collections import defaultdict

        by_user = defaultdict(list)
        for e, ts, u, ty in rows:
            by_user[u].append((pd.Timestamp(ts).date(), e, ty))
        horizon = max(pd.Timestamp(ts).date() for _, ts, _, _ in rows)
        spells = []
        for u, evs in by_user.items():
            evs.sort()
            for i, (d, e, ty) in enumerate(evs):
                if ty not in ("click", "view"):
                    continue
                if i + 1 < len(evs):
                    spells.append((ty, (evs[i + 1][0] - d).days, 1))
                else:
                    spells.append((ty, (horizon - d).days, 0))
        na = sum(1 for g, _, _ in spells if g == "click")
        nb = len(spells) - na
        from collections import defaultdict as dd

        life = dd(lambda: [0, 0, 0, 0])
        for g, t, e in spells:
            idx = (0 if e else 1) if g == "click" else (2 if e else 3)
            life[t][idx] += 1
        n1, n2 = na, nb
        o1 = 0
        e1n = vn = 0
        for t in sorted(life):
            d1, c1, d2, c2 = life[t]
            d = d1 + d2
            n = n1 + n2
            if d > 0 and n > 1:
                o1 += d1
                e1n += round(d * n1 / n * 1e9)
                vn += round(
                    d * n1 * n2 * (n - d) / (n * n * (n - 1)) * 1e9
                )
            n1 -= d1 + c1
            n2 -= d2 + c2
        chi2 = (o1 - e1n / 1e9) ** 2 / (vn / 1e9)
        return na, nb, o1, e1n / 1e9, chi2

    rows = build(True)
    _events_patch(spark, monkeypatch, rows)
    r = logrank_test_return_time(spark, "x").collect()[0]
    na, nb, o1, e1, chi2 = brute(rows)
    assert (r["n_spells_a"], r["n_spells_b"]) == (na, nb)
    assert r["observed_a"] == o1
    assert r["expected_a"] == pytest.approx(e1, abs=2e-6)
    assert r["chi2_statistic"] == pytest.approx(chi2, abs=2e-4)
    assert bool(r["significant"]) is True
    rows = build(False)
    _events_patch(spark, monkeypatch, rows)
    r = logrank_test_return_time(spark, "x").collect()[0]
    na, nb, o1, e1, chi2 = brute(rows)
    assert r["chi2_statistic"] == pytest.approx(chi2, abs=2e-4)
    assert bool(r["significant"]) is False


def test_individuals_chart_matches_numpy_and_flags_planted_spikes(
    spark, monkeypatch
):
    """Limits and violation counts recomputed in numpy on a series
    with two planted high spikes and one low spike."""
    from rs_streamloader_spark.operators.stats import (
        individuals_control_chart,
    )

    base = pd.Timestamp("2024-01-01")
    rng = np.random.RandomState(31)
    vals = list(1000.0 + rng.randint(-20, 21, 60))
    vals[10] += 500.0
    vals[30] += 700.0
    vals[45] -= 600.0
    days = [
        ((base + pd.Timedelta(days=i)).strftime("%Y-%m-%d"), float(v))
        for i, v in enumerate(vals)
    ]
    _orders_patch(spark, monkeypatch, days)
    row = individuals_control_chart(spark, "x").collect()[0]
    x = np.round(np.array(vals) * 100)
    n = len(x)
    xbar = x.mean()
    mrbar = np.abs(np.diff(x)).mean()
    ucl, lcl = xbar + 2.66 * mrbar, xbar - 2.66 * mrbar
    assert row["n_days"] == n
    assert row["mean_cents_micro"] == int(x.sum() * 1_000_000 // n)
    assert row["ucl_cents"] == pytest.approx(ucl, abs=1e-3)
    assert row["lcl_cents"] == pytest.approx(lcl, abs=1e-3)
    assert row["n_violations_high"] == int((x > ucl).sum()) == 2
    assert row["n_violations_low"] == int((x < lcl).sum()) == 1


def test_cochran_q_matches_brute_force_both_branches(spark, monkeypatch):
    """Q recomputed from the 0/1 matrix: users active Mon+Wed but
    never Fri must reject; uniform activity must not."""
    from rs_streamloader_spark.operators.stats import cochran_q_dow

    def build(skip_friday):
        rows = []
        eid = 0
        # 2024-03-04 Mon, 03-06 Wed, 03-08 Fri
        days = {"mon": "2024-03-04", "wed": "2024-03-06", "fri": "2024-03-08"}
        rng = np.random.RandomState(41)
        for u in range(60):
            for key, d in days.items():
                p = 0.1 if (skip_friday and key == "fri") else 0.7
                if rng.rand() < p:
                    eid += 1
                    rows.append((eid, d, u, "click"))
        # make sure every user exists in events (some may have no marks)
        for u in range(60):
            eid += 1
            rows.append((eid, "2024-03-05", u, "view"))  # Tuesday
        return rows

    def brute(rows):
        marks = {}
        users = set()
        for e, ts, u, ty in rows:
            users.add(u)
            dow = pd.Timestamp(ts).dayofweek  # Mon=0
            if dow in (0, 2, 4):
                marks.setdefault(u, set()).add(dow)
        k = 3
        ri = {u: len(marks.get(u, ())) for u in users}
        cj = [
            sum(1 for u in users if d in marks.get(u, ()))
            for d in (0, 2, 4)
        ]
        t = sum(ri.values())
        num = (k - 1) * (k * sum(c * c for c in cj) - t * t)
        den = k * t - sum(v * v for v in ri.values())
        return len(users), t, num / den

    rows = build(True)
    _events_patch(spark, monkeypatch, rows)
    r = cochran_q_dow(spark, "x").collect()[0]
    nu, t, q = brute(rows)
    assert r["n_users"] == nu
    assert r["total_marks"] == t
    assert r["q_statistic"] == pytest.approx(q, abs=2e-6)
    assert bool(r["significant"]) is True
    rows = build(False)
    _events_patch(spark, monkeypatch, rows)
    r = cochran_q_dow(spark, "x").collect()[0]
    nu, t, q = brute(rows)
    assert r["q_statistic"] == pytest.approx(q, abs=2e-6)
    assert bool(r["significant"]) is False


def _orders_status_patch(spark, monkeypatch, groups):
    """Constructed orders with priority + status: groups maps priority
    -> (n_finished, n_other)."""
    rows = []
    k = 0
    for p, (nf, no) in groups.items():
        for i in range(nf + no):
            rows.append(
                (
                    k,
                    "1995-06-%02d" % (k % 28 + 1),
                    100.0,
                    p,
                    "F" if i < nf else "O",
                )
            )
            k += 1
    pdf = pd.DataFrame(
        rows,
        columns=[
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "o_orderpriority",
            "o_orderstatus",
        ],
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"orders": sdf})
    return pdf


def test_cochran_armitage_matches_brute_force_both_branches(
    spark, monkeypatch
):
    """z recomputed from scratch: a monotone F-rate gradient across
    priorities must reject with the right SIGN; flat rates must not."""
    from rs_streamloader_spark.operators.stats import cochran_armitage_trend

    def brute(groups):
        s = np.array([1, 2, 3, 4, 5], dtype=float)
        n = np.array([a + b for a, b in groups.values()], dtype=float)
        r = np.array([a for a, _ in groups.values()], dtype=float)
        N, R = n.sum(), r.sum()
        tn = N * (s * r).sum() - R * (s * n).sum()
        varn = R * (N - R) * (N * (s * s * n).sum() - (s * n).sum() ** 2)
        return np.sign(tn) * np.sqrt(tn * tn * N / varn)

    rising = {
        p: (10 + 15 * i, 90 - 15 * i) for i, p in enumerate(_PRIOS)
    }  # F-rate 10% -> 70% with urgency falling
    _orders_status_patch(spark, monkeypatch, rising)
    r = cochran_armitage_trend(spark, "x").collect()[0]
    z = brute(rising)
    assert r["n_orders"] == 500
    assert r["z_score"] == pytest.approx(z, abs=2e-6)
    assert z > 0  # score rises with index, rate rises too
    assert bool(r["significant"]) is True
    flat = {p: (30, 70) for p in _PRIOS}
    _orders_status_patch(spark, monkeypatch, flat)
    r = cochran_armitage_trend(spark, "x").collect()[0]
    assert r["z_score"] == pytest.approx(0.0, abs=1e-9)
    assert bool(r["significant"]) is False


def test_somers_gamma_match_pair_enumeration(spark, monkeypatch):
    """D(Y|X), D(X|Y), gamma recomputed by O(n^2) pair enumeration on
    a small constructed lineitem."""
    from rs_streamloader_spark.operators.stats import somers_d_gamma_ordinal
    import rs_streamloader_spark.operators.stats as SS

    rng = np.random.RandomState(13)
    x = rng.randint(1, 8, 120).astype(float)
    y = np.round(
        np.clip(x * 0.01 + rng.choice([0, 0.01, 0.02], 120), 0, 0.1), 2
    )
    pdf = pd.DataFrame(
        {
            "l_quantity": x,
            "l_extendedprice": x * 100,
            "l_discount": y,
            "l_tax": 0.01,
        }
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(
        SS, "load_tables", lambda _s, _d, *names: {"lineitem": sdf}
    )
    row = somers_d_gamma_ordinal(spark, "x").collect()[0]
    c = d = tx = ty = 0
    n = len(x)
    for i in range(n):
        for j in range(i + 1, n):
            if x[i] == x[j]:
                tx += 1
                continue
            if y[i] == y[j]:
                ty += 1
                continue
            if (x[i] < x[j]) == (y[i] < y[j]):
                c += 1
            else:
                d += 1
    # brute force counted ties-on-x first (Somers convention: pairs
    # tied on BOTH count into tx only here) — recompute marginals the
    # operator's way instead
    from collections import Counter

    tx2 = sum(v * (v - 1) for v in Counter(x).values())
    ty2 = sum(v * (v - 1) for v in Counter(y).values())
    p2 = n * (n - 1)
    assert row["n"] == n
    assert row["concordant"] == c
    assert row["discordant"] == d
    assert row["somers_d_yx"] == pytest.approx(
        2 * (c - d) / (p2 - tx2), abs=2e-6
    )
    assert row["somers_d_xy"] == pytest.approx(
        2 * (c - d) / (p2 - ty2), abs=2e-6
    )
    assert row["gk_gamma"] == pytest.approx((c - d) / (c + d), abs=2e-6)
    assert row["gk_gamma"] > row["somers_d_yx"]  # gamma drops all ties


def test_gumbel_matches_numpy_mom_fit(spark, monkeypatch):
    """mu/beta/return levels recomputed in numpy with the same frozen
    constants on a constructed skewed series."""
    import math

    from rs_streamloader_spark.operators.stats import gumbel_return_level

    base = pd.Timestamp("2024-01-01")
    rng = np.random.RandomState(19)
    vals = 1000 + rng.gumbel(0, 80, 120)
    days = [
        ((base + pd.Timedelta(days=i)).strftime("%Y-%m-%d"), float(v))
        for i, v in enumerate(vals)
    ]
    _orders_patch(spark, monkeypatch, days)
    rows = {
        r["return_period"]: r for r in gumbel_return_level(spark, "x").collect()
    }
    x = np.round(np.array([v for _, v in days]) * 100)
    s = x.std(ddof=1)
    beta = 0.7796968 * s
    mu = x.mean() - 0.5772157 * beta
    assert set(rows) == {30, 100, 365}
    for t, k in ((30, 3.3842945), (100, 4.6001492), (365, 5.8985259)):
        r = rows[t]
        assert r["n_days"] == 120
        assert r["mu_cents"] == pytest.approx(mu, abs=1e-3)
        assert r["beta_cents"] == pytest.approx(beta, abs=1e-3)
        assert r["return_level_cents"] == pytest.approx(mu + beta * k, abs=1e-3)
    # monotone in T, and the 100-day level exceeds the observed max
    # only if the tail demands it — sanity: levels are ordered
    assert rows[30]["return_level_cents"] < rows[100]["return_level_cents"]
    assert rows[100]["return_level_cents"] < rows[365]["return_level_cents"]


def test_anova_f_matches_numpy_both_branches(spark, monkeypatch):
    """F and eta^2 recomputed in numpy; a mean-shifted group must
    reject, identical distributions must not."""
    from rs_streamloader_spark.operators.stats import anova_oneway_f

    def brute(groups):
        gs = [np.round(np.array(v) * 100) for v in groups]
        allv = np.concatenate(gs)
        ssb = sum(len(g) * (g.mean() - allv.mean()) ** 2 for g in gs)
        ssw = sum(((g - g.mean()) ** 2).sum() for g in gs)
        f = (ssb / 4) / (ssw / (len(allv) - 5))
        return f, ssb / (ssb + ssw)

    rng = np.random.RandomState(29)
    base = [list(1000 + rng.randint(-100, 101, 80)) for _ in range(5)]
    groups = {p: v for p, v in zip(_PRIOS, base)}
    _prio_orders_patch(spark, monkeypatch, groups)
    r = anova_oneway_f(spark, "x").collect()[0]
    f, eta = brute(list(groups.values()))
    assert r["n_orders"] == 400
    assert r["f_statistic"] == pytest.approx(f, abs=2e-5)
    assert r["eta_squared"] == pytest.approx(eta, abs=2e-6)
    assert bool(r["significant"]) is False
    groups[_PRIOS[1]] = [v + 150 for v in base[1]]
    _prio_orders_patch(spark, monkeypatch, groups)
    r = anova_oneway_f(spark, "x").collect()[0]
    f, eta = brute(list(groups.values()))
    assert r["f_statistic"] == pytest.approx(f, abs=2e-4)
    assert bool(r["significant"]) is True


def test_calibration_ece_matches_numpy(spark, monkeypatch):
    """ECE/MCE/worst-bin recomputed from the replicated hash
    pseudo-model on constructed orders."""
    import rs_streamloader_spark.operators.quality as Q
    from rs_streamloader_spark.operators.quality import calibration_ece

    MOD, MULT = 1_048_576, 2654435761
    rng = np.random.RandomState(37)
    n = 3000
    keys = np.arange(1, n + 1) * 7919
    h = ((keys % MOD) * MULT) % MOD
    # outcome correlated with the hash score so bins differ
    y = (rng.rand(n) < 0.2 + 0.6 * h / MOD).astype(int)
    prios = np.where(y == 1, "1-URGENT", "5-LOW")
    pdf = pd.DataFrame(
        {
            "o_orderkey": keys,
            "o_orderdate": "1995-06-01",
            "o_totalprice": 100.0,
            "o_orderpriority": prios,
        }
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(
        Q, "load_tables", lambda _s, _d, *names: {"orders": sdf}
    )
    r = calibration_ece(spark, "x").collect()[0]
    bins = h * 10 // MOD
    gaps = {}
    ece = 0.0
    for b in range(10):
        m = bins == b
        if not m.any():
            continue
        gap = abs(h[m].mean() / MOD - y[m].mean())
        gaps[b] = round(gap * 1e9)
        ece += m.sum() * gaps[b]
    ece = ece / (n * 1e9)
    mce_bin = max(gaps, key=lambda b: (gaps[b], -b))
    assert r["n_orders"] == n
    assert r["ece"] == pytest.approx(ece, abs=2e-6)
    assert r["mce"] == pytest.approx(gaps[mce_bin] / 1e9, abs=2e-6)
    assert r["worst_bin"] == mce_bin


def test_anderson_darling_matches_brute_force_both_branches(
    spark, monkeypatch
):
    """A^2 recomputed from explicit pooled ECDFs (independent code
    path); a tail-shifted sample must reject, identical must not."""
    from rs_streamloader_spark.operators.stats import (
        anderson_darling_two_sample,
    )

    def brute(a_vals, b_vals):
        a = np.round(np.array(a_vals) * 100)
        b = np.round(np.array(b_vals) * 100)
        pooled = np.concatenate([a, b])
        vs = np.unique(pooled)
        n, m = len(a), len(b)
        N = n + m
        total = 0
        for v in vs:
            B = (pooled <= v).sum()
            if B >= N:
                continue
            M = (a <= v).sum()
            l = (pooled == v).sum()
            total += round(l * (N * M - n * B) ** 2 / (B * (N - B)) * 1e9)
        return total / (n * m * 1e9)

    def events(a_vals, b_vals):
        rows = []
        eid = 0
        for v in a_vals:
            eid += 1
            rows.append((eid, pd.Timestamp("2024-01-01"), 1, "click", float(v)))
        for v in b_vals:
            eid += 1
            rows.append((eid, pd.Timestamp("2024-01-01"), 2, "view", float(v)))
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
        )
        sdf = spark.createDataFrame(pdf)
        monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"events": sdf})

    rng = np.random.RandomState(43)
    a_vals = list(rng.gamma(2, 10, 300))
    b_vals = list(rng.gamma(2, 10, 300) * 1.6)  # scale shift: tails move
    events(a_vals, b_vals)
    r = anderson_darling_two_sample(spark, "x").collect()[0]
    a2 = brute(a_vals, b_vals)
    assert (r["n_a"], r["n_b"]) == (300, 300)
    assert r["a2_statistic"] == pytest.approx(a2, abs=2e-5)
    assert bool(r["significant"]) is True
    same = list(rng.gamma(2, 10, 300))
    events(same, [v * 1.001 for v in same])
    r = anderson_darling_two_sample(spark, "x").collect()[0]
    assert bool(r["significant"]) is False


def test_periodogram_matches_numpy_and_finds_planted_week(
    spark, monkeypatch
):
    """C/S/amplitude/power recomputed in numpy with the same frozen
    omega; a planted 7-day cosine must dominate power_share."""
    from rs_streamloader_spark.operators.stats import periodogram_power

    base = pd.Timestamp("2024-01-01")
    n = 140
    t = np.arange(n)
    w7 = 0.8975979010256552
    vals = 1000 + 200 * np.cos(w7 * t)
    days = [
        ((base + pd.Timedelta(days=i)).strftime("%Y-%m-%d"), float(v))
        for i, v in enumerate(vals)
    ]
    _orders_patch(spark, monkeypatch, days)
    rows = {r["period"]: r for r in periodogram_power(spark, "x").collect()}
    x = np.round(np.array(vals) * 100)
    mu = x.sum() / n
    for p, w in ((7, w7), (14, 0.4487989505128276), (30, 0.20943951023931953)):
        c = int(np.round((x - mu) * np.cos(w * t)).sum())
        s = int(np.round((x - mu) * np.sin(w * t)).sum())
        sst = (x**2).sum() - mu * x.sum()
        r = rows[p]
        assert r["cos_sum_cents"] == c, p
        assert r["sin_sum_cents"] == s, p
        assert r["amplitude_cents"] == pytest.approx(
            2 * np.sqrt(c * c + s * s) / n, abs=1e-3
        )
        assert r["power_share"] == pytest.approx(
            2 / n * (c * c + s * s) / sst, abs=2e-6
        )
    assert rows[7]["power_share"] > 0.95
    assert rows[14]["power_share"] < 0.05
    assert rows[7]["amplitude_cents"] == pytest.approx(20000, rel=0.02)


def test_readability_matches_hand_counts_and_orders_complexity(
    spark, monkeypatch
):
    """Counts recomputed by hand; simple text must score easier than
    polysyllabic text."""
    from rs_streamloader_spark.operators.text import readability_flesch

    simple = "the cat sat. the dog ran. it is fun!"
    complex_ = (
        "organizational multidimensional characterization "
        "necessitates exhaustive interdisciplinary investigation."
    )
    _docs_text_patch(
        spark, monkeypatch, {"sa": [simple, simple], "sb": [complex_]}
    )
    rows = {r["source"]: r for r in readability_flesch(spark, "x").collect()}
    import re

    def counts(txt):
        words = len([w for w in txt.split(" ") if w])
        sents = max(len(re.findall(r"[.!?]", txt)), 1)
        syls = len(re.findall(r"[aeiouy]+", txt.lower()))
        return words, sents, syls

    w, s, y = counts(simple)
    ra = rows["sa"]
    assert (ra["words"], ra["sentences"], ra["syllables"]) == (
        2 * w,
        2 * s,
        2 * y,
    )
    fre = 206.835 - 1.015 * (2 * w / (2 * s)) - 84.6 * (2 * y / (2 * w))
    assert ra["flesch_reading_ease"] == pytest.approx(fre, abs=1e-3)
    fk = 0.39 * (w / s) + 11.8 * (y / w) - 15.59
    assert ra["fk_grade_level"] == pytest.approx(fk, abs=1e-3)
    assert rows["sa"]["flesch_reading_ease"] > rows["sb"]["flesch_reading_ease"]
    assert rows["sa"]["fk_grade_level"] < rows["sb"]["fk_grade_level"]


def test_ljung_box_matches_numpy_both_branches(spark, monkeypatch):
    """Q recomputed with the standard fixed-mean r_k; a 7-day cycle
    must reject, shuffled noise must not."""
    from rs_streamloader_spark.operators.stats import ljung_box_test

    def ev_from_counts(counts):
        rows = []
        eid = 0
        base = pd.Timestamp("2024-01-01")
        for i, c in enumerate(counts):
            for _ in range(int(c)):
                eid += 1
                rows.append(
                    (eid, base + pd.Timedelta(days=i), eid % 20, "click")
                )
        _events_patch(
            spark,
            monkeypatch,
            [(e, ts.strftime("%Y-%m-%d"), u, ty) for e, ts, u, ty in rows],
        )
        return np.array(counts, dtype=float)

    def brute(x):
        n = len(x)
        mu = x.mean()
        den = ((x - mu) ** 2).sum()
        q = 0.0
        for k in range(1, 15):
            rk = ((x[:-k] - mu) * (x[k:] - mu)).sum() / den
            q += round(rk * rk / (n - k) * 1e9)
        return n * (n + 2) * q / 1e9

    rng = np.random.RandomState(47)
    weekly = [20 + (15 if i % 7 == 0 else 0) + rng.randint(0, 3) for i in range(84)]
    x = ev_from_counts(weekly)
    r = ljung_box_test(spark, "x").collect()[0]
    assert r["n_days"] == 84
    assert r["q_statistic"] == pytest.approx(brute(x), abs=2e-4)
    assert bool(r["significant"]) is True
    noise = list(rng.randint(18, 23, 84))
    x = ev_from_counts(noise)
    r = ljung_box_test(spark, "x").collect()[0]
    assert r["q_statistic"] == pytest.approx(brute(x), abs=2e-4)
    assert bool(r["significant"]) is False


def test_kendall_w_matches_brute_force_extremes(spark, monkeypatch):
    """W recomputed from rank sums on constructed (orders, customer,
    nation): identical yearly rankings give W = 1 (significant);
    near-reversed rankings push W toward 0."""
    import rs_streamloader_spark.operators.stats as SS
    from rs_streamloader_spark.operators.stats import kendall_w_nation_years

    def build(stable):
        nat = pd.DataFrame(
            {"n_nationkey": range(6), "n_name": [f"N{i}" for i in range(6)],
             "n_regionkey": 0}
        )
        cust = pd.DataFrame(
            {"c_custkey": range(6), "c_nationkey": range(6),
             "c_mktsegment": "BUILDING"}
        )
        rows = []
        ok = 0
        for y, year in enumerate(("1995", "1996", "1997")):
            for nk in range(6):
                ok += 1
                if stable:
                    amt = 100.0 * (nk + 1)
                else:
                    # reverse the ordering on alternating years
                    amt = 100.0 * ((nk + 1) if y % 2 == 0 else (6 - nk))
                rows.append((ok, nk, f"{year}-06-01", amt))
        orders = pd.DataFrame(
            rows,
            columns=["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"],
        )
        tables = {
            "orders": spark.createDataFrame(orders),
            "customer": spark.createDataFrame(cust),
            "nation": spark.createDataFrame(nat),
        }
        monkeypatch.setattr(
            SS, "_t", lambda _s, _d, *names: tables
        )

    def brute(stable):
        m, n = 3, 6
        ranks = np.zeros(n)
        for y in range(m):
            if stable or y % 2 == 0:
                order = list(range(n))
            else:
                order = list(range(n - 1, -1, -1))
            for rank0, nk in enumerate(sorted(range(n), key=lambda k: (
                (k + 1) if (stable or y % 2 == 0) else (n - k), k))):
                ranks[nk] += rank0 + 1
        s = ((2 * ranks - m * (n + 1)) ** 2).sum()
        w = 3 * s / (m * m * (n**3 - n))
        return w, m * (n - 1) * w

    build(True)
    r = kendall_w_nation_years(spark, "x").collect()[0]
    w, chi2 = brute(True)
    assert (r["n_years"], r["n_nations"]) == (3, 6)
    assert r["w"] == pytest.approx(w, abs=2e-6) == 1.0
    assert r["friedman_chi2"] == pytest.approx(chi2, abs=2e-6)
    build(False)
    r = kendall_w_nation_years(spark, "x").collect()[0]
    w, chi2 = brute(False)
    assert r["w"] == pytest.approx(w, abs=2e-6)
    assert r["w"] < 0.2


def test_chao1_matches_hand_spectrum(spark, monkeypatch):
    """Chao1 and coverage recomputed from a constructed frequency
    spectrum, including the no-doubleton branch."""
    from rs_streamloader_spark.operators.text import chao1_richness

    # s1: 4 hapax, 2 dis, 1x5 => V=7, chao1 = 7 + 4*3/(2*3) = 9
    t1 = "a b c d e e f f g g g g g"
    # s2: 3 hapax, 0 dis => bias-corrected chao1 = 3 + 3*2/2 = 6
    t2 = "p q r"
    _docs_text_patch(spark, monkeypatch, {"s1": [t1], "s2": [t2]})
    rows = {r["source"]: r for r in chao1_richness(spark, "x").collect()}
    r1 = rows["s1"]
    assert (r1["vocab"], r1["n_hapax"], r1["n_dis"]) == (7, 4, 2)
    assert r1["chao1_micro"] == 7 * 10**6 + 4 * 3 * 10**6 // 6
    assert r1["coverage_ppm"] == 10**6 - 4 * 10**6 // 13
    r2 = rows["s2"]
    assert (r2["vocab"], r2["n_hapax"], r2["n_dis"]) == (3, 3, 0)
    assert r2["chao1_micro"] == 3 * 10**6 + 3 * 2 * 10**6 // 2
    assert r2["coverage_ppm"] == 10**6 - 3 * 10**6 // 3


def test_permutation_entropy_matches_brute_force(spark, monkeypatch):
    """Patterns and H recomputed from scratch: a monotone ramp is all
    '123' (H=0); alternating high/low hits the two zigzag patterns."""
    from rs_streamloader_spark.operators.stats import (
        permutation_entropy_daily,
    )

    base = pd.Timestamp("2024-01-01")

    def run(vals):
        days = [
            ((base + pd.Timedelta(days=i)).strftime("%Y-%m-%d"), float(v))
            for i, v in enumerate(vals)
        ]
        _orders_patch(spark, monkeypatch, days)
        return {
            r["pattern"]: r
            for r in permutation_entropy_daily(spark, "x").collect()
        }

    ramp = run([100 + i for i in range(30)])
    assert set(ramp) == {"123"}
    assert ramp["123"]["cnt"] == 28
    assert ramp["123"]["perm_entropy"] == 0.0
    assert ramp["123"]["pe_normalized"] == 0.0

    zig = run([100 + (50 if i % 2 else 0) for i in range(30)])
    # triples alternate (low,high,low)='231'? ranks: x1=1,x3=2,x2=3 ->
    # digits x1,x2,x3 = 1,3,2 = '132'; (high,low,high): x2=1,x1=2,x3=3
    # -> '213' (x1 rank 2, x2 rank 1, x3 rank 3)
    assert set(zig) == {"132", "213"}
    n = sum(r["cnt"] for r in zig.values())
    h = np.log(n) - sum(
        round(r["cnt"] * np.log(r["cnt"]) * 1e9) for r in zig.values()
    ) / (n * 1e9)
    for r in zig.values():
        assert r["perm_entropy"] == pytest.approx(h, abs=2e-6)
        assert r["pe_normalized"] == pytest.approx(h / np.log(6), abs=2e-6)

    rng = np.random.RandomState(53)
    noisy = run(list(rng.randint(100, 1000, 200)))
    # noise: high normalized entropy, all/most patterns present
    some = list(noisy.values())[0]
    assert some["pe_normalized"] > 0.9
    assert len(noisy) == 6


def test_atkinson_matches_numpy_and_equality_gives_zero(spark, monkeypatch):
    """A2 = 1 - HM/AM recomputed in numpy; a perfectly equal corpus
    must give exactly 0."""
    from rs_streamloader_spark.operators.stats import atkinson_index_2

    def orders_per_cust(revs):
        rows = []
        for i, r in enumerate(revs):
            rows.append((i, "1995-06-01", float(r), i))
        pdf = pd.DataFrame(
            rows,
            columns=["o_orderkey", "o_orderdate", "o_totalprice", "o_custkey"],
        )
        sdf = spark.createDataFrame(pdf)
        monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"orders": sdf})

    rng = np.random.RandomState(59)
    revs = list(rng.lognormal(5, 1, 300))
    orders_per_cust(revs)
    r = atkinson_index_2(spark, "x").collect()[0]
    c = np.round(np.array(revs) * 100)
    inv = np.round(1e18 / c)
    hm = len(c) * 1e18 / inv.sum()
    a2 = 1 - hm / c.mean()
    assert r["n_customers"] == 300
    assert r["harmonic_mean_cents"] == pytest.approx(hm, abs=1e-3)
    assert r["atkinson_2"] == pytest.approx(a2, abs=2e-6)
    assert 0 < r["atkinson_2"] < 1
    orders_per_cust([500.0] * 100)
    r = atkinson_index_2(spark, "x").collect()[0]
    assert r["atkinson_2"] == pytest.approx(0.0, abs=1e-6)


def test_palma_matches_numpy_sort(spark, monkeypatch):
    """Cut sums recomputed by numpy sort on a skewed corpus."""
    from rs_streamloader_spark.operators.stats import palma_ratio

    rng = np.random.RandomState(61)
    revs = list(rng.pareto(1.5, 200) * 100 + 10)
    rows = [(i, "1995-06-01", float(r), i) for i, r in enumerate(revs)]
    pdf = pd.DataFrame(
        rows, columns=["o_orderkey", "o_orderdate", "o_totalprice", "o_custkey"]
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"orders": sdf})
    r = palma_ratio(spark, "x").collect()[0]
    c = np.sort(np.round(np.array(revs) * 100))
    n = len(c)
    bottom40 = c[: n * 4 // 10].sum()
    top10 = c[n * 9 // 10 :].sum()
    assert r["n_customers"] == n
    assert r["bottom40_cents"] == bottom40
    assert r["top10_cents"] == top10
    assert r["palma_ratio"] == pytest.approx(top10 / bottom40, abs=2e-6)
    assert r["palma_ratio"] > 1  # pareto skew


def test_markov_entropy_rate_deterministic_vs_uniform(spark, monkeypatch):
    """H = 0 for a deterministic cycle; ln(k) for uniform transitions;
    generic case matches a Counter recompute."""
    from collections import Counter, defaultdict

    from rs_streamloader_spark.operators.stats import markov_entropy_rate

    def run(rows):
        _events_patch(spark, monkeypatch, rows)
        return markov_entropy_rate(spark, "x").collect()[0]

    # deterministic cycle: click -> view -> purchase -> click
    cyc = ["click", "view", "purchase"]
    rows = []
    for i in range(60):
        rows.append((i + 1, f"2024-01-{i % 28 + 1:02d}", 7, cyc[i % 3]))
    # order by ts then event_id — use one user, strictly increasing ids
    rows = [
        (i + 1, (pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i)).strftime("%Y-%m-%d %H:%M:%S"), 7, cyc[i % 3])
        for i in range(60)
    ]
    r = run(rows)
    assert r["n_transitions"] == 59
    assert r["entropy_rate_nats"] == pytest.approx(0.0, abs=1e-9)

    rng = np.random.RandomState(67)
    types = ["click", "view", "purchase", "error"]
    rows = [
        (i + 1, (pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i)).strftime("%Y-%m-%d %H:%M:%S"), 7, types[rng.randint(4)])
        for i in range(500)
    ]
    r = run(rows)
    seq = [ty for _, _, _, ty in rows]
    trans = Counter(zip(seq, seq[1:]))
    marg = defaultdict(int)
    for (a, _), c in trans.items():
        marg[a] += c
    n = sum(trans.values())
    h = -sum(
        round(c * np.log(c / marg[a]) * 1e9) for (a, _), c in trans.items()
    ) / (n * 1e9)
    assert r["entropy_rate_nats"] == pytest.approx(h, abs=2e-6)
    assert r["entropy_rate_bits"] == pytest.approx(h / np.log(2), abs=2e-6)
    assert 1.2 < r["entropy_rate_nats"] < np.log(4) + 0.01


def test_jackknife_ratio_se_matches_numpy_loo(spark, monkeypatch):
    """SE recomputed by the explicit leave-one-out loop; sanity vs the
    delta-method SE on well-behaved data (same order of magnitude)."""
    from rs_streamloader_spark.operators.stats import jackknife_ratio_se

    rng = np.random.RandomState(71)
    rows = []
    eid = 0
    per_user = {}
    for u in range(80):
        cnt = rng.randint(2, 9)
        tot = 0
        for _ in range(cnt):
            eid += 1
            v = float(rng.randint(100, 2000)) / 100
            tot += round(v * 100)
            rows.append(
                (eid, "2024-01-%02d" % (eid % 28 + 1), u, "click", v)
            )
        per_user[u] = (tot, cnt)
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"events": sdf})
    got = {r["variant"]: r for r in jackknife_ratio_se(spark, "x").collect()}
    for variant in (0, 1):
        xs = np.array([v[0] for u, v in per_user.items() if u % 2 == variant])
        ys = np.array([v[1] for u, v in per_user.items() if u % 2 == variant])
        sx, sy, n = xs.sum(), ys.sum(), len(xs)
        loo = np.round((sx - xs) / (sy - ys) * 1e9)
        se = np.sqrt(
            (n - 1) / n * ((loo**2).sum() / 1e18 - (loo.sum() / 1e9) ** 2 / n)
        )
        r = got[variant]
        assert r["n_users"] == n
        assert r["ratio_cents_per_event"] == pytest.approx(sx / sy, abs=2e-6)
        assert r["se_jackknife"] == pytest.approx(se, abs=2e-6)
        assert r["se_jackknife"] > 0


def test_page_hinkley_fires_on_level_shift_not_noise(spark, monkeypatch):
    """PH drawup recomputed in numpy; a mid-series level shift must
    alarm, stationary noise must not."""
    from rs_streamloader_spark.operators.stats import page_hinkley_drift

    base = pd.Timestamp("2024-01-01")

    def run(vals):
        days = [
            ((base + pd.Timedelta(days=i)).strftime("%Y-%m-%d"), float(v))
            for i, v in enumerate(vals)
        ]
        _orders_patch(spark, monkeypatch, days)
        return page_hinkley_drift(spark, "x").collect()[0]

    def brute(vals):
        x = np.round(np.array(vals, dtype=float) * 100)
        st = np.cumsum(x)
        t = np.arange(1, len(x) + 1)
        dev = np.round((x - st / t) * 1e9)
        m = np.cumsum(dev)
        du = m - np.minimum.accumulate(m)
        ph = du.max()
        sig = max(np.sqrt(((x - x.mean()) ** 2).sum() / (len(x) - 1)), 1.0)
        return ph, ph / 1e9 / (sig * np.sqrt(len(x)))

    rng = np.random.RandomState(73)
    shift = list(1000 + rng.randint(-30, 31, 50)) + list(
        1600 + rng.randint(-30, 31, 50)
    )
    r = run(shift)
    ph, norm = brute(shift)
    assert r["n_days"] == 100
    assert r["ph_statistic_cents"] == pytest.approx(ph / 1e9, abs=1e-3)
    assert r["ph_normalized"] == pytest.approx(norm, abs=2e-5)
    assert bool(r["drift_detected"]) is True
    # the drawup peaks well after the day-50 shift point
    assert r["peak_day"] >= "2024-02-19"
    flat = list(1000 + rng.randint(-30, 31, 100))
    r = run(flat)
    ph, norm = brute(flat)
    assert r["ph_normalized"] == pytest.approx(norm, abs=2e-5)
    assert bool(r["drift_detected"]) is False


def test_graph_modularity_matches_counter_brute_force(spark, monkeypatch):
    """Q recomputed from the edge list on a constructed corpus:
    within-source duplication pushes Q toward its partition maximum,
    cross-source duplication drives it to the chance level."""
    import rs_streamloader_spark.operators.dedup as D
    from rs_streamloader_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        graph_modularity_by_source,
    )

    def build(cross, tag):
        # near-identical doc groups: each group shares a long shingle
        # run; group membership decides the edges
        rows = []
        did = 0
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        for g in range(6):
            # fully group-disjoint vocabulary: no cross-group shingles
            words = [f"g{g}{w}" for w in base.split()]
            txt = " ".join(words)
            for k in range(3):
                if cross:
                    src = f"s{k}"  # group members spread across sources
                else:
                    src = f"s{g % 3}"  # whole group in one source
                rows.append((did, txt + f" tail{k}", "en", src, len(txt)))
                did += 1
        pdf = pd.DataFrame(
            rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
        )
        sdf = spark.createDataFrame(pdf)
        monkeypatch.setattr(
            D, "load_tables", lambda _s, _d, *names: {"documents": sdf}
        )
        return pdf, f"/fake/{tag}"

    def brute(pdf):
        from collections import Counter, defaultdict

        def shingles(t):
            w = t.split()
            return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

        docs = list(pdf.itertuples())
        edges = []
        for i in range(len(docs)):
            for j in range(i + 1, len(docs)):
                si, sj = shingles(docs[i].text), shingles(docs[j].text)
                inter = len(si & sj)
                jac = inter / (len(si) + len(sj) - inter)
                if jac >= JACCARD_THRESHOLD:
                    edges.append((docs[i].source, docs[j].source))
        m = len(edges)
        deg = defaultdict(int)
        within = defaultdict(int)
        for sa, sb in edges:
            deg[sa] += 1
            deg[sb] += 1
            if sa == sb:
                within[sa] += 1
        q = sum(
            round(
                (within.get(s, 0) / m - (d / (2 * m)) ** 2) * 1e9
            )
            for s, d in deg.items()
        ) / 1e9
        return m, q

    pdf, sfd = build(False, "mod_within")
    r = graph_modularity_by_source(spark, sfd).collect()[0]
    m, q = brute(pdf)
    assert r["n_edges"] == m
    assert r["modularity"] == pytest.approx(q, abs=2e-6)
    assert r["modularity"] > 0.5
    assert r["within_edges"] == m

    pdf, sfd = build(True, "mod_cross")
    r = graph_modularity_by_source(spark, sfd).collect()[0]
    m, q = brute(pdf)
    assert r["n_edges"] == m
    assert r["modularity"] == pytest.approx(q, abs=2e-6)
    assert r["within_edges"] == 0
    assert r["modularity"] < 0


def test_anisotropy_extremes_and_numpy_match(spark, monkeypatch):
    """ratio ~ 1 for a shared-direction batch, ~ 0 for centered
    isotropic noise; all four numbers match a numpy recompute."""
    import rs_streamloader_spark.operators.similarity as SIM
    from rs_streamloader_spark.operators.similarity import (
        embedding_anisotropy_audit,
    )

    def run(mat, tag):
        pdf = pd.DataFrame(
            {
                "vec_id": range(len(mat)),
                "embedding": [list(map(float, row)) for row in mat],
                "label": 0,
            }
        )
        sdf = spark.createDataFrame(pdf)
        monkeypatch.setattr(
            SIM, "load_tables", lambda _s, _d, *names: {"embeddings": sdf}
        )
        return embedding_anisotropy_audit(spark, f"/fake/{tag}").collect()[0]

    def brute(mat):
        x = np.round(np.asarray(mat, dtype=float) * 1e9) / 1e9
        n, d = x.shape
        mu2 = sum(round(m * m * 1e9) for m in x.mean(0)) / 1e9
        e2 = sum(round((col**2).mean() * 1e9) for col in x.T) / 1e9
        var = [round(((col**2).sum() - col.sum() ** 2 / n) / n * 1e9) for col in x.T]
        return mu2, e2, mu2 / e2, max(var) / sum(var)

    rng = np.random.RandomState(79)
    base = rng.randn(8)
    cone = np.tile(base, (200, 1)) + rng.randn(200, 8) * 0.05
    r = run(cone, "aniso_cone")
    mu2, e2, ratio, tshare = brute(cone)
    assert r["n_vectors"] == 200 and r["n_dims"] == 8
    assert r["mu_norm2"] == pytest.approx(mu2, abs=2e-6)
    assert r["mean_norm2"] == pytest.approx(e2, abs=2e-6)
    assert r["anisotropy_ratio"] == pytest.approx(ratio, abs=2e-6)
    assert r["anisotropy_ratio"] > 0.95

    iso = rng.randn(400, 8)
    iso -= iso.mean(0)
    r = run(iso, "aniso_iso")
    mu2, e2, ratio, tshare = brute(iso)
    assert r["anisotropy_ratio"] == pytest.approx(ratio, abs=2e-6)
    assert r["anisotropy_ratio"] < 0.01
    assert r["top_dim_var_share"] == pytest.approx(tshare, abs=2e-6)


def test_spiegelhalter_z_matches_numpy_both_branches(spark, monkeypatch):
    """Z recomputed from replicated hash p's; a label flip on high-p
    rows must push |z| past the critical value."""
    import rs_streamloader_spark.operators.quality as Q
    from rs_streamloader_spark.operators.quality import (
        spiegelhalter_z_calibration,
    )

    MOD, MULT = 1_048_576, 2654435761
    rng = np.random.RandomState(83)
    n = 4000
    keys = np.arange(1, n + 1) * 104729
    h = ((keys % MOD) * MULT) % MOD
    p = h / MOD

    def run(y):
        prios = np.where(y == 1, "1-URGENT", "5-LOW")
        pdf = pd.DataFrame(
            {
                "o_orderkey": keys,
                "o_orderdate": "1995-06-01",
                "o_totalprice": 100.0,
                "o_orderpriority": prios,
            }
        )
        sdf = spark.createDataFrame(pdf)
        monkeypatch.setattr(
            Q, "load_tables", lambda _s, _d, *names: {"orders": sdf}
        )
        return spiegelhalter_z_calibration(spark, "x").collect()[0]

    def brute(y):
        num = ((y * MOD - h) * (MOD - 2 * h)).sum()
        den = ((MOD - 2 * h).astype(object) ** 2 * h * (MOD - h)).sum()
        return num / np.sqrt(float(den))

    y_cal = (rng.rand(n) < p).astype(np.int64)  # calibrated outcomes
    r = run(y_cal)
    z = brute(y_cal)
    assert r["n_orders"] == n
    assert r["z_score"] == pytest.approx(z, abs=2e-6)
    assert bool(r["miscalibrated"]) is False
    y_bias = (rng.rand(n) < np.clip(p - 0.15, 0, 1)).astype(np.int64)
    r = run(y_bias)
    z = brute(y_bias)
    assert r["z_score"] == pytest.approx(z, abs=2e-6)
    assert bool(r["miscalibrated"]) is True


def test_fleiss_kappa_matches_brute_force_extremes(spark, monkeypatch):
    """kappa recomputed from the vote matrix: unanimous raters give
    kappa = 1; independent-ish raters give kappa near 0."""
    from rs_streamloader_spark.operators.quality import (
        fleiss_kappa_quality_raters,
    )
    import rs_streamloader_spark.operators.quality as Q

    def docs(rows):
        pdf = pd.DataFrame(
            rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
        )
        sdf = spark.createDataFrame(pdf)
        monkeypatch.setattr(
            Q, "load_tables", lambda _s, _d, *names: {"documents": sdf}
        )

    def brute(gs):
        n = len(gs)
        sp6 = sum(g * g + (3 - g) ** 2 - 3 for g in gs)
        pbar = sp6 / (6 * n)
        pg = sum(gs) / (3 * n)
        pe = pg * pg + (1 - pg) ** 2
        return (pbar - pe) / (1 - pe)

    # mixed corpus: long wordy short-word docs (3 votes) and short
    # terse docs (0 votes) -> unanimous agreement, kappa = 1
    long_doc = " ".join(["word"] * 80)  # 80 words, ~400 chars, len 4
    short_doc = "supercalifragilistic"  # 1 long word, short text
    rows = []
    gs = []
    for i in range(30):
        if i % 2 == 0:
            rows.append((i, long_doc, "en", "s", len(long_doc)))
            gs.append(3)
        else:
            rows.append((i, short_doc, "en", "s", len(short_doc)))
            gs.append(0)
    docs(rows)
    r = fleiss_kappa_quality_raters(spark, "x").collect()[0]
    assert r["n_docs"] == 30
    assert r["fleiss_kappa"] == pytest.approx(1.0, abs=1e-6)
    assert r["fleiss_kappa"] == pytest.approx(brute(gs), abs=2e-6)

    # disagreement corpus: docs engineered to split the raters
    rng = np.random.RandomState(89)
    rows = []
    gs = []
    for i in range(60):
        nw = rng.choice([30, 70])          # rater2: words >= 50
        wlen = rng.choice([3, 8])          # rater3: mean word len <= 6
        word = "x" * wlen
        txt = " ".join([word] * nw)
        if rng.rand() < 0.5:               # rater1: chars >= 300
            txt = txt + " " + "y" * max(0, 300 - len(txt))
        rows.append((i, txt, "en", "s", len(txt)))
        # derive votes from the FINAL text with the operator's exact
        # definitions (words = spaces + 1)
        words = txt.count(" ") + 1
        g = (
            (len(txt) >= 300)
            + (words >= 50)
            + (len(txt.replace(" ", "")) * 10 <= words * 60)
        )
        gs.append(int(g))
    docs(rows)
    r = fleiss_kappa_quality_raters(spark, "x").collect()[0]
    # NOTE: n_chars column vs text length must agree for rater1
    assert r["fleiss_kappa"] == pytest.approx(brute(gs), abs=2e-6)
    assert abs(r["fleiss_kappa"]) < 0.5


def _emb_patch(spark, monkeypatch, mat, labels, tag):
    import rs_streamloader_spark.operators.similarity as SIM

    pdf = pd.DataFrame(
        {
            "vec_id": range(len(mat)),
            "embedding": [list(map(float, row)) for row in mat],
            "label": list(map(int, labels)),
        }
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(
        SIM, "load_tables", lambda _s, _d, *names: {"embeddings": sdf}
    )
    return f"/fake/{tag}"


def _centroid_frame(mat, labels):
    x = np.asarray(mat, dtype=float)
    labs = np.asarray(labels)
    cents = {}
    for l in np.unique(labs):
        sub = np.round(x[labs == l] * 1e9)
        cents[l] = (sub.sum(0) / 1e9) / len(sub)
    return x, labs, cents


def test_silhouette_separated_vs_merged_clusters(spark, monkeypatch):
    """Mean silhouette recomputed in numpy with the operator's nano
    convention; separated blobs score high, overlapping blobs low."""
    from rs_streamloader_spark.operators.similarity import (
        silhouette_simplified_labels,
    )

    def brute(mat, labels):
        x, labs, cents = _centroid_frame(mat, labels)
        out = {}
        for l in np.unique(labs):
            svals = []
            for row, rl in zip(x, labs):
                if rl != l:
                    continue
                d = {
                    cl: np.sqrt(
                        sum(
                            round((v - m) ** 2 * 1e9) for v, m in zip(row, c)
                        )
                        / 1e9
                    )
                    for cl, c in cents.items()
                }
                a = d[l]
                b = min(v for cl, v in d.items() if cl != l)
                svals.append(
                    round(
                        ((b - a) / max(a, b) if max(a, b) > 0 else 0) * 1e9
                    )
                )
            out[l] = sum(svals) / (len(svals) * 1e9)
        return out

    rng = np.random.RandomState(97)
    far = np.vstack(
        [rng.randn(40, 6) * 0.2 + off for off in (0, 8, 16)]
    )
    labels = [0] * 40 + [1] * 40 + [2] * 40
    sfd = _emb_patch(spark, monkeypatch, far, labels, "sil_far")
    rows = {
        r["label"]: r
        for r in silhouette_simplified_labels(spark, sfd).collect()
    }
    exp = brute(far, labels)
    for l, r in rows.items():
        assert r["n_vectors"] == 40
        assert r["mean_silhouette"] == pytest.approx(exp[l], abs=2e-6)
        assert r["mean_silhouette"] > 0.9

    near = np.vstack([rng.randn(40, 6) + off for off in (0, 0.5, 1.0)])
    sfd = _emb_patch(spark, monkeypatch, near, labels, "sil_near")
    rows = {
        r["label"]: r
        for r in silhouette_simplified_labels(spark, sfd).collect()
    }
    exp = brute(near, labels)
    for l, r in rows.items():
        assert r["mean_silhouette"] == pytest.approx(exp[l], abs=2e-6)
        assert r["mean_silhouette"] < 0.5


def test_davies_bouldin_orders_separated_below_merged(spark, monkeypatch):
    """DB recomputed in numpy; separated blobs give a small index,
    merged blobs a large one."""
    from rs_streamloader_spark.operators.similarity import (
        davies_bouldin_labels,
    )

    def brute(mat, labels):
        x, labs, cents = _centroid_frame(mat, labels)
        disp = {}
        for l in np.unique(labs):
            ds = []
            for row, rl in zip(x, labs):
                if rl != l:
                    continue
                d2 = sum(
                    round((v - m) ** 2 * 1e9) for v, m in zip(row, cents[l])
                )
                ds.append(round(np.sqrt(d2 / 1e9) * 1e9))
            disp[l] = sum(ds) / len(ds) / 1e9
        ls = sorted(cents)
        worst = {}
        for i in ls:
            rs = []
            for j in ls:
                if i == j:
                    continue
                dd = np.sqrt(
                    sum(
                        round((a - b) ** 2 * 1e9)
                        for a, b in zip(cents[i], cents[j])
                    )
                    / 1e9
                )
                rs.append((disp[i] + disp[j]) / dd)
            worst[i] = round(max(rs) * 1e9)
        return sum(worst.values()) / (len(ls) * 1e9)

    rng = np.random.RandomState(101)
    labels = [0] * 40 + [1] * 40 + [2] * 40
    far = np.vstack([rng.randn(40, 6) * 0.2 + off for off in (0, 8, 16)])
    sfd = _emb_patch(spark, monkeypatch, far, labels, "db_far")
    r_far = davies_bouldin_labels(spark, sfd).collect()[0]
    assert r_far["n_labels"] == 3
    assert r_far["db_index"] == pytest.approx(brute(far, labels), abs=2e-6)
    near = np.vstack([rng.randn(40, 6) + off for off in (0, 0.5, 1.0)])
    sfd = _emb_patch(spark, monkeypatch, near, labels, "db_near")
    r_near = davies_bouldin_labels(spark, sfd).collect()[0]
    assert r_near["db_index"] == pytest.approx(brute(near, labels), abs=2e-6)
    assert r_far["db_index"] < 0.2 < 1.0 < r_near["db_index"]


def test_granger_matches_numpy_lstsq_both_branches(spark, monkeypatch):
    """Coefficients/SSRs/F recomputed with numpy lstsq; clicks that
    drive next-day purchases must flag, independent series must not."""
    from rs_streamloader_spark.operators.stats import granger_causality_lag1

    def events_from(xs, ys):
        rows = []
        eid = 0
        base = pd.Timestamp("2024-01-01")
        for i, (x, y) in enumerate(zip(xs, ys)):
            d = base + pd.Timedelta(days=i)
            for _ in range(int(x)):
                eid += 1
                rows.append((eid, d.strftime("%Y-%m-%d"), eid % 30, "click"))
            for _ in range(int(y)):
                eid += 1
                rows.append(
                    (eid, d.strftime("%Y-%m-%d"), eid % 30, "purchase")
                )
            # keep every day present even with 0 counts
            eid += 1
            rows.append((eid, d.strftime("%Y-%m-%d"), eid % 30, "view"))
        _events_patch(spark, monkeypatch, rows)

    def brute(xs, ys):
        y = np.array(ys[1:], dtype=float)
        y1 = np.array(ys[:-1], dtype=float)
        x1 = np.array(xs[:-1], dtype=float)
        n = len(y)
        Xu = np.column_stack([np.ones(n), y1, x1])
        bu, *_ = np.linalg.lstsq(Xu, y, rcond=None)
        ssr_u = ((y - Xu @ bu) ** 2).sum()
        Xr = np.column_stack([np.ones(n), y1])
        br, *_ = np.linalg.lstsq(Xr, y, rcond=None)
        ssr_r = ((y - Xr @ br) ** 2).sum()
        f = (ssr_r - ssr_u) * (n - 3) / ssr_u
        return bu[2], ssr_r, ssr_u, f

    rng = np.random.RandomState(103)
    xs = list(rng.randint(5, 40, 90))
    ys = [10] + [max(0, int(0.8 * xs[i - 1] + rng.randint(-2, 3))) for i in range(1, 90)]
    events_from(xs, ys)
    r = granger_causality_lag1(spark, "x").collect()[0]
    b2, ssr_r, ssr_u, f = brute(xs, ys)
    assert r["n_days"] == 89
    assert r["click_coef"] == pytest.approx(b2, abs=2e-5)
    assert r["ssr_restricted"] == pytest.approx(ssr_r, rel=1e-6)
    assert r["ssr_unrestricted"] == pytest.approx(ssr_u, rel=1e-6)
    assert r["f_statistic"] == pytest.approx(f, rel=1e-5)
    assert bool(r["granger_causal"]) is True

    ys_ind = list(rng.randint(5, 40, 90))
    events_from(xs, ys_ind)
    r = granger_causality_lag1(spark, "x").collect()[0]
    b2, ssr_r, ssr_u, f = brute(xs, ys_ind)
    assert r["f_statistic"] == pytest.approx(f, rel=1e-4)
    assert bool(r["granger_causal"]) is False


def test_effective_rank_extremes_and_numpy_match(spark, monkeypatch):
    """PR = d for isotropic dims, -> 1 under collapse; values match a
    numpy recompute with the pico convention."""
    from rs_streamloader_spark.operators.similarity import (
        embedding_effective_rank,
    )

    def brute(mat):
        x = np.asarray(mat, dtype=float)
        n = len(x)
        xi = np.round(x * 1e9)
        v = [
            round(
                ((col**2).sum() / 1e18 - (col.sum() / 1e9) ** 2 / n) / n * 1e12
            )
            for col in xi.T
        ]
        sv, svv = sum(v), sum(t * t for t in v)
        return sv * sv / svv

    rng = np.random.RandomState(107)
    iso = rng.randn(300, 8)
    sfd = _emb_patch(spark, monkeypatch, iso, [0] * 300, "er_iso")
    r = embedding_effective_rank(spark, sfd).collect()[0]
    assert r["n_dims"] == 8
    assert r["participation_ratio"] == pytest.approx(brute(iso), abs=2e-5)
    assert r["participation_ratio"] > 7.5
    collapsed = np.column_stack(
        [rng.randn(300) * 3] + [rng.randn(300) * 0.01 for _ in range(7)]
    )
    sfd = _emb_patch(spark, monkeypatch, collapsed, [0] * 300, "er_col")
    r = embedding_effective_rank(spark, sfd).collect()[0]
    assert r["participation_ratio"] == pytest.approx(
        brute(collapsed), abs=2e-5
    )
    assert r["participation_ratio"] < 1.1
    assert r["pr_normalized"] < 0.14


def test_odds_ratio_matches_hand_cells(spark, monkeypatch):
    """2x2 cells, OR, and Woolf CI recomputed by hand on a corpus
    with a planted strong association."""
    from rs_streamloader_spark.operators.stats import (
        odds_ratio_weekend_purchase,
    )

    rows = []
    eid = 0
    # user-day units: each user gets one Saturday (2024-03-09) and one
    # Monday (2024-03-11) active day; purchases land ON those days
    for u in range(100):
        eid += 1
        rows.append((eid, "2024-03-09", u, "view"))
        eid += 1
        rows.append((eid, "2024-03-11", u, "view"))
        if u % 10 < 6:  # weekend day converts for 6/10 users
            eid += 1
            rows.append((eid, "2024-03-09", u, "purchase"))
        if u % 10 < 2:  # weekday day converts for 2/10 users
            eid += 1
            rows.append((eid, "2024-03-11", u, "purchase"))
    _events_patch(spark, monkeypatch, rows)
    r = odds_ratio_weekend_purchase(spark, "x").collect()[0]
    a, b = 60, 40   # weekend user-days: 6/10 purchase
    c, d = 20, 80   # weekday user-days: 2/10
    orr = a * d / (b * c)
    se = np.sqrt(1 / a + 1 / b + 1 / c + 1 / d)
    assert (r["a"], r["b"], r["c"], r["d"]) == (a, b, c, d)
    assert r["odds_ratio"] == pytest.approx(orr, abs=2e-6)
    assert r["log_or_ci_lo"] == pytest.approx(np.log(orr) - 1.959964 * se, abs=2e-6)
    assert r["log_or_ci_hi"] == pytest.approx(np.log(orr) + 1.959964 * se, abs=2e-6)
    assert bool(r["significant"]) is True


def test_capture_recapture_matches_hand_and_closed_population(
    spark, monkeypatch
):
    """Chapman estimate recomputed by hand; with full overlap the
    estimate equals the observed population."""
    from rs_streamloader_spark.operators.stats import capture_recapture_users

    def build(overlap_frac):
        rows = []
        eid = 0
        # horizon anchored at 2024-03-14; week2 = (03-07, 03-14],
        # week1 = (02-29, 03-07]
        for u in range(100):
            in1 = u < 60
            in2 = (u < int(60 * overlap_frac)) or (u >= 60)
            if in1:
                eid += 1
                rows.append((eid, "2024-03-05", u, "click"))
            if in2:
                eid += 1
                rows.append((eid, "2024-03-10", u, "click"))
        eid += 1
        rows.append((eid, "2024-03-14", 0, "view"))  # pin the horizon
        return rows

    rows = build(0.5)
    _events_patch(spark, monkeypatch, rows)
    r = capture_recapture_users(spark, "x").collect()[0]
    n1 = 60
    # half of week1 users + users 60..99 (user 0's horizon-pin view
    # event is already inside its week2 membership)
    n2 = 30 + 40
    m = 30
    est = (n1 + 1) * (n2 + 1) // (m + 1) - 1
    se = np.sqrt(
        (n1 + 1) * (n2 + 1) * (n1 - m) * (n2 - m)
        / ((m + 1) ** 2 * (m + 2))
    )
    assert (r["week1_users"], r["week2_users"], r["recaptured"]) == (
        n1,
        n2,
        m,
    )
    assert r["chapman_estimate"] == est
    assert r["chapman_se"] == pytest.approx(se, abs=1e-3)
    # closed population: every week1 user recaptured -> estimate ~ n2
    rows = build(1.0)
    _events_patch(spark, monkeypatch, rows)
    r = capture_recapture_users(spark, "x").collect()[0]
    assert r["chapman_estimate"] <= r["week2_users"] + 1


def test_var_cvar_matches_numpy_sort(spark, monkeypatch):
    """VaR/CVaR recomputed by numpy sort on a constructed heavy-left-
    tail series."""
    from rs_streamloader_spark.operators.stats import value_at_risk_daily

    base = pd.Timestamp("2024-01-01")
    rng = np.random.RandomState(109)
    vals = [1000.0]
    for i in range(120):
        step = rng.randint(-20, 25)
        if i % 17 == 0:
            step -= 300  # planted crash days
        vals.append(max(10.0, vals[-1] + step))
    days = [
        ((base + pd.Timedelta(days=i)).strftime("%Y-%m-%d"), float(v))
        for i, v in enumerate(vals)
    ]
    _orders_patch(spark, monkeypatch, days)
    r = value_at_risk_daily(spark, "x").collect()[0]
    x = np.round(np.array(vals) * 100)
    dx = np.sort(np.diff(x))
    n = len(dx)
    k = -(-n // 20)  # ceil(0.05 n)
    var95 = dx[k - 1]
    tail = dx[dx <= var95]
    assert r["n_changes"] == n
    assert r["var95_cents"] == var95
    assert r["cvar95_micro"] == int(tail.sum()) * 1_000_000 // len(tail)
    assert r["n_tail_days"] == len(tail)
    assert r["var95_cents"] < 0 and r["cvar95_micro"] <= r["var95_cents"] * 1_000_000


def test_hurst_matches_numpy_and_separates_persistence(spark, monkeypatch):
    """R/S and the fitted H recomputed in numpy with the operator's
    rounding conventions; a persistent (integrated) series scores
    higher than an alternating (anti-persistent) one."""
    from rs_streamloader_spark.operators.stats import hurst_rs_exponent

    base = pd.Timestamp("2024-01-01")

    def run(vals, tag):
        days = [
            ((base + pd.Timedelta(days=i)).strftime("%Y-%m-%d"), float(v))
            for i, v in enumerate(vals)
        ]
        _orders_patch(spark, monkeypatch, days)
        return hurst_rs_exponent(spark, "x").collect()

    def brute(vals):
        x = np.round(np.array(vals, dtype=float) * 100)
        pts = []
        for s in (16, 32, 64, 128):
            rs_vals = []
            for b in range(len(x) // s):
                blk = x[b * s : (b + 1) * s]
                dev = np.round((blk - blk.mean()) * 1000)
                cum = np.cumsum(dev)
                r = (cum.max() - cum.min()) / 1e3
                sd = np.sqrt(((blk - blk.mean()) ** 2).sum() / s)
                if sd > 0:
                    rs_vals.append(round(r / sd * 1e9))
            if rs_vals:
                pts.append((s, sum(rs_vals) / len(rs_vals) / 1e9))
        # float dtype: the nano-int products overflow numpy int64
        lx = np.array([round(np.log(s) * 1e9) for s, _ in pts], dtype=float)
        ly = np.array([round(np.log(m) * 1e9) for _, m in pts], dtype=float)
        n = len(pts)
        slope = (n * (lx * ly).sum() - lx.sum() * ly.sum()) / (
            n * (lx * lx).sum() - lx.sum() ** 2
        )
        return {s: m for s, m in pts}, slope

    rng = np.random.RandomState(113)
    persistent = list(5000 + np.cumsum(rng.randn(512) * 10))
    rows = run(persistent, "pers")
    exp_rs, h_p = brute(persistent)
    assert len(rows) == 4
    for r in rows:
        assert r["mean_rs"] == pytest.approx(exp_rs[r["block_size"]], abs=2e-6)
        assert r["hurst_exponent"] == pytest.approx(h_p, abs=2e-5)
    anti = [5000 + (80 if i % 2 else -80) + rng.randint(-5, 6) for i in range(512)]
    rows = run(anti, "anti")
    _, h_a = brute(anti)
    assert rows[0]["hurst_exponent"] == pytest.approx(h_a, abs=2e-5)
    assert h_a < 0.35 < 0.75 < h_p


def test_breusch_pagan_matches_numpy_both_branches(spark, monkeypatch):
    """BP recomputed in numpy; variance that grows along the series
    must reject, constant variance must not."""
    from rs_streamloader_spark.operators.stats import breusch_pagan_test

    base = pd.Timestamp("2024-01-01")

    def run(vals):
        days = [
            ((base + pd.Timedelta(days=i)).strftime("%Y-%m-%d"), float(v))
            for i, v in enumerate(vals)
        ]
        _orders_patch(spark, monkeypatch, days)
        return breusch_pagan_test(spark, "x").collect()[0]

    def brute(vals):
        y = np.round(np.array(vals, dtype=float) * 100)
        x = np.arange(len(y), dtype=float)
        n = len(y)
        b = (n * (x * y).sum() - x.sum() * y.sum()) / (
            n * (x * x).sum() - x.sum() ** 2
        )
        a = (y.sum() - b * x.sum()) / n
        e = np.round(y - (a + b * x))
        u = np.round(e * e / ((e * e).sum() / n) * 1e9)
        sxu = (x * u).sum()
        r2 = (n * sxu - x.sum() * u.sum()) ** 2 / (
            (n * (x * x).sum() - x.sum() ** 2)
            * (n * (u * u).sum() - u.sum() ** 2)
        )
        return n * r2

    rng = np.random.RandomState(127)
    hetero = [1000 + 2 * i + rng.randn() * (5 + i * 2) for i in range(150)]
    r = run(hetero)
    assert r["bp_statistic"] == pytest.approx(brute(hetero), rel=1e-5)
    assert bool(r["heteroscedastic"]) is True
    homo = [1000 + 2 * i + rng.randn() * 20 for i in range(150)]
    r = run(homo)
    assert r["bp_statistic"] == pytest.approx(brute(homo), rel=1e-4)
    assert bool(r["heteroscedastic"]) is False


def test_chow_matches_numpy_both_branches(spark, monkeypatch):
    """Chow F recomputed with numpy per-half fits; a slope break at
    the midpoint must reject, a single line must not."""
    from rs_streamloader_spark.operators.stats import chow_test_midpoint

    base = pd.Timestamp("2024-01-01")

    def run(vals):
        days = [
            ((base + pd.Timedelta(days=i)).strftime("%Y-%m-%d"), float(v))
            for i, v in enumerate(vals)
        ]
        _orders_patch(spark, monkeypatch, days)
        return chow_test_midpoint(spark, "x").collect()[0]

    def ssr(x, y):
        n = len(y)
        b = (n * (x * y).sum() - x.sum() * y.sum()) / (
            n * (x * x).sum() - x.sum() ** 2
        )
        a = (y.sum() - b * x.sum()) / n
        return ((y - (a + b * x)) ** 2).sum()

    def brute(vals):
        y = np.round(np.array(vals, dtype=float) * 100)
        x = np.arange(len(y), dtype=float)
        n = len(y)
        h = n // 2
        ssr_p = ssr(x, y)
        ssr_1 = ssr(x[:h], y[:h])
        ssr_2 = ssr(x[h:], y[h:])
        f = ((ssr_p - ssr_1 - ssr_2) / 2) / ((ssr_1 + ssr_2) / (n - 4))
        return ssr_p, ssr_1 + ssr_2, f

    rng = np.random.RandomState(131)
    broken = [1000 + 2 * i + rng.randn() * 15 for i in range(80)] + [
        1160 + 12 * i + rng.randn() * 15 for i in range(80)
    ]
    r = run(broken)
    sp, ss_, f = brute(broken)
    assert r["n_days"] == 160
    assert r["ssr_pooled"] == pytest.approx(sp, rel=1e-6)
    assert r["ssr_split"] == pytest.approx(ss_, rel=1e-6)
    assert r["f_statistic"] == pytest.approx(f, rel=1e-5)
    assert bool(r["structural_break"]) is True
    line = [1000 + 3 * i + rng.randn() * 15 for i in range(160)]
    r = run(line)
    _, _, f = brute(line)
    assert r["f_statistic"] == pytest.approx(f, rel=1e-4)
    assert bool(r["structural_break"]) is False


def test_cooks_distance_finds_planted_outlier(spark, monkeypatch):
    """The planted high-leverage outlier day must rank first with the
    numpy-recomputed D."""
    from rs_streamloader_spark.operators.stats import cooks_distance_top_days

    base = pd.Timestamp("2024-01-01")
    rng = np.random.RandomState(137)
    vals = [1000.0 + 2 * i + rng.randn() * 10 for i in range(100)]
    vals[97] += 1500.0  # high leverage (near the edge) + huge residual
    days = [
        ((base + pd.Timedelta(days=i)).strftime("%Y-%m-%d"), float(v))
        for i, v in enumerate(vals)
    ]
    _orders_patch(spark, monkeypatch, days)
    rows = cooks_distance_top_days(spark, "x").collect()
    assert len(rows) == 5
    assert rows[0]["day"] == "2024-04-07"  # day index 97
    y = np.round(np.array(vals) * 100)
    x = np.arange(len(y), dtype=float)
    n = len(y)
    b = (n * (x * y).sum() - x.sum() * y.sum()) / (
        n * (x * x).sum() - x.sum() ** 2
    )
    a = (y.sum() - b * x.sum()) / n
    e = np.round(y - (a + b * x))
    s2 = (e**2).sum() / (n - 2)
    sxx = (x**2).sum() - x.sum() ** 2 / n
    h = 1 / n + (x - x.mean()) ** 2 / sxx
    d = e**2 * h / (2 * s2 * (1 - h) ** 2)
    assert rows[0]["cooks_d"] == pytest.approx(d[97], rel=1e-5)
    assert rows[0]["cooks_d"] > 10 * rows[1]["cooks_d"]


def test_pettitt_matches_brute_force_both_branches(spark, monkeypatch):
    """K/change-day/verdict recomputed by the O(n^2) definition on a
    planted level shift (significant, correct location) and on noise
    (not significant)."""
    from rs_streamloader_spark.operators.stats import pettitt_test

    base = pd.Timestamp("2024-01-01")

    def run(vals):
        days = [
            ((base + pd.Timedelta(days=i)).strftime("%Y-%m-%d"), float(v))
            for i, v in enumerate(vals)
        ]
        _orders_patch(spark, monkeypatch, days)
        return pettitt_test(spark, "x").collect()[0]

    def brute(vals):
        x = np.round(np.array(vals, dtype=float) * 100)
        n = len(x)
        best_k = -1
        best_t = None
        for t in range(1, n):
            u = 0
            for i in range(t):
                for j in range(t, n):
                    u += int(np.sign(x[j] - x[i]))
            if abs(u) > best_k:
                best_k, best_t = abs(u), t
        sig = 6 * best_k**2 * 1e7 > 36_888_795 * (n**3 + n**2)
        return best_k, best_t, sig

    rng = np.random.RandomState(139)
    shift = list(1000 + rng.randint(-20, 21, 40)) + list(
        1400 + rng.randint(-20, 21, 40)
    )
    r = run(shift)
    k, t, sig = brute(shift)
    assert r["n_days"] == 80
    assert r["k_statistic"] == k
    # peak lands at the true boundary (day index 39/40 区域)
    assert "2024-02-05" <= r["change_day"] <= "2024-02-12"
    assert bool(r["significant"]) is True and sig
    noise = list(1000 + rng.randint(-20, 21, 80))
    r = run(noise)
    k, t, sig = brute(noise)
    assert r["k_statistic"] == k
    assert bool(r["significant"]) == sig == False


def test_wilcoxon_matches_brute_force_both_branches(spark, monkeypatch):
    """W+/z recomputed with explicit average ranks; a planted weekend
    uplift must reject, symmetric noise must not."""
    from rs_streamloader_spark.operators.stats import wilcoxon_signed_rank

    def build(uplift):
        rows = []
        eid = 0
        rng = np.random.RandomState(149)
        # 2024-03-09 Saturday, 2024-03-11 Monday
        for u in range(80):
            base_v = rng.randint(5, 30)
            we = base_v + (uplift if uplift else rng.choice([-3, 3]))
            eid += 1
            rows.append((eid, "2024-03-09", u, "click", float(we)))
            eid += 1
            rows.append((eid, "2024-03-11", u, "click", float(base_v)))
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        sdf = spark.createDataFrame(pdf)
        monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"events": sdf})
        return pdf

    def brute(pdf):
        diffs = []
        for u, grp in pdf.groupby("user_id"):
            we = grp[grp.ts.dt.dayofweek >= 5].value.mean()
            wd = grp[grp.ts.dt.dayofweek < 5].value.mean()
            dm = round((we - wd) * 1e6)
            if dm != 0:
                diffs.append(dm)
        ad = np.abs(diffs)
        ranks = _avg_ranks(ad.astype(float))
        wp = ranks[np.array(diffs) > 0].sum()
        n = len(diffs)
        _, t = np.unique(ad, return_counts=True)
        var = n * (n + 1) * (2 * n + 1) / 24 - (t**3 - t).sum() / 48
        z = (wp - n * (n + 1) / 4) / np.sqrt(var)
        return n, wp, z

    pdf = build(5)
    r = wilcoxon_signed_rank(spark, "x").collect()[0]
    n, wp, z = brute(pdf)
    assert r["n_users"] == n
    assert r["w_plus"] == pytest.approx(wp, abs=0.11)
    assert r["z_score"] == pytest.approx(z, abs=2e-6)
    assert bool(r["significant"]) is True
    pdf = build(0)
    r = wilcoxon_signed_rank(spark, "x").collect()[0]
    n, wp, z = brute(pdf)
    assert r["z_score"] == pytest.approx(z, abs=2e-6)
    assert bool(r["significant"]) is False


def test_mean_reversion_matches_numpy_both_regimes(spark, monkeypatch):
    """phi and half-life recomputed in numpy; a strongly reverting
    AR(1) gives a short half-life, a random walk flags non-reverting."""
    from rs_streamloader_spark.operators.stats import (
        mean_reversion_half_life,
    )

    base = pd.Timestamp("2024-01-01")

    def run(vals):
        days = [
            ((base + pd.Timedelta(days=i)).strftime("%Y-%m-%d"), float(v))
            for i, v in enumerate(vals)
        ]
        _orders_patch(spark, monkeypatch, days)
        return mean_reversion_half_life(spark, "x").collect()[0]

    def brute(vals):
        x = np.round(np.array(vals, dtype=float) * 100)
        y, x1 = x[1:], x[:-1]
        n = len(y)
        phi = (n * (x1 * y).sum() - x1.sum() * y.sum()) / (
            n * (x1 * x1).sum() - x1.sum() ** 2
        )
        hl = np.log(0.5) / np.log(phi) if 0 < phi < 1 else None
        return phi, hl

    rng = np.random.RandomState(151)
    ar = [1000.0]
    for _ in range(300):
        ar.append(1000 + 0.6 * (ar[-1] - 1000) + rng.randn() * 20)
    r = run(ar)
    phi, hl = brute(ar)
    assert r["ar1_phi"] == pytest.approx(phi, abs=2e-6)
    assert r["half_life_days"] == pytest.approx(hl, abs=2e-3)
    assert bool(r["mean_reverting"]) is True
    assert r["half_life_days"] < 3
    walk = list(10000 + np.cumsum(rng.randn(300) * 5))
    r = run(walk)
    phi, hl = brute(walk)
    assert r["ar1_phi"] == pytest.approx(phi, abs=2e-6)
    # phi ~ 1: half-life NULL only when phi >= 1; either way it is
    # far longer than the reverting series' when defined
    if r["half_life_days"] is not None:
        assert r["half_life_days"] > 20


def test_diebold_mariano_matches_numpy_both_directions(spark, monkeypatch):
    """DM recomputed in numpy; strong weekly seasonality must favor
    the 7-day naive (positive DM rejects), a pure trend must favor
    the 1-day naive."""
    from rs_streamloader_spark.operators.stats import (
        diebold_mariano_forecasts,
    )

    base = pd.Timestamp("2024-01-01")

    def run(vals):
        days = [
            ((base + pd.Timedelta(days=i)).strftime("%Y-%m-%d"), float(v))
            for i, v in enumerate(vals)
        ]
        _orders_patch(spark, monkeypatch, days)
        return diebold_mariano_forecasts(spark, "x").collect()[0]

    def brute(vals):
        x = np.round(np.array(vals, dtype=float) * 100)
        y, p1, p7 = x[7:], x[6:-1], x[:-7]
        dd = np.round(((y - p1) ** 2 - (y - p7) ** 2) / 1e4)
        n = len(dd)
        var = max(((dd - dd.mean()) ** 2).sum() / (n - 1), 1.0)
        return n, dd.mean(), dd.mean() / np.sqrt(var / n)

    rng = np.random.RandomState(157)
    weekly = [
        1000 + 400 * (i % 7 == 5) + rng.randint(-10, 11) for i in range(140)
    ]
    r = run(weekly)
    n, md, dm = brute(weekly)
    assert r["n_days"] == n
    assert r["mean_loss_diff_usd2"] == pytest.approx(md, rel=1e-6)
    assert r["dm_statistic"] == pytest.approx(dm, abs=2e-5)
    assert dm > 0 and bool(r["significant"]) is True
    trend = [1000 + 15 * i + rng.randint(-10, 11) for i in range(140)]
    r = run(trend)
    n, md, dm = brute(trend)
    assert r["dm_statistic"] == pytest.approx(dm, abs=2e-5)
    assert dm < 0 and bool(r["significant"]) is True


def test_cvm_kuiper_match_explicit_ecdfs(spark, monkeypatch):
    """T and V recomputed from explicit pooled ECDFs — the recompute
    that caught a xN collapse error in the first draft; a scale shift
    must reject CvM, and a variance-only change must show Kuiper >
    KS-style one-sided gaps."""
    from rs_streamloader_spark.operators.stats import cvm_kuiper_two_sample

    def events(a_vals, b_vals):
        rows = []
        eid = 0
        for v in a_vals:
            eid += 1
            rows.append((eid, "2024-01-01", 1, "click", float(v)))
        for v in b_vals:
            eid += 1
            rows.append((eid, "2024-01-01", 2, "view", float(v)))
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        sdf = spark.createDataFrame(pdf)
        monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"events": sdf})

    def brute(a_vals, b_vals):
        a = np.round(np.array(a_vals) * 100)
        b = np.round(np.array(b_vals) * 100)
        na, nb = len(a), len(b)
        N = na + nb
        vs = np.unique(np.concatenate([a, b]))
        t_sum = 0
        dplus = dminus = 0
        for v in vs:
            ma = (a <= v).sum()
            mb = (b <= v).sum()
            l = (a == v).sum() + (b == v).sum()
            dnum = ma * nb - mb * na
            t_sum += l * dnum * dnum
            dplus = max(dplus, dnum)
            dminus = max(dminus, -dnum)
        t = t_sum / (na * nb * N * N)
        v_stat = (dplus + dminus) / (na * nb)
        return t, v_stat

    rng = np.random.RandomState(163)
    a_vals = list(rng.gamma(2, 10, 250))
    b_vals = list(rng.gamma(2, 10, 250) * 1.5)
    events(a_vals, b_vals)
    r = cvm_kuiper_two_sample(spark, "x").collect()[0]
    t, v = brute(a_vals, b_vals)
    assert (r["n_a"], r["n_b"]) == (250, 250)
    assert r["cvm_t"] == pytest.approx(t, abs=2e-6)
    assert r["kuiper_v"] == pytest.approx(v, abs=2e-6)
    assert bool(r["cvm_significant"]) is True
    same = list(rng.gamma(2, 10, 250))
    events(same, list(np.array(same) * 1.001))
    r = cvm_kuiper_two_sample(spark, "x").collect()[0]
    t, v = brute(same, list(np.array(same) * 1.001))
    assert r["cvm_t"] == pytest.approx(t, abs=2e-6)
    assert bool(r["cvm_significant"]) is False


def test_bartlett_matches_numpy_and_detects_kurtosis_blindspot(
    spark, monkeypatch
):
    """chi2 recomputed in numpy; an inflated-variance group rejects,
    equal variances do not."""
    from rs_streamloader_spark.operators.stats import bartlett_test

    def brute(groups):
        gs = [np.round(np.array(v) * 100) for v in groups]
        k = len(gs)
        n = sum(len(g) for g in gs)
        vars_ = [g.var(ddof=1) for g in gs]
        lnsum = sum(
            round((len(g) - 1) * np.log(vv) * 1e6)
            for g, vv in zip(gs, vars_)
        ) / 1e6
        pooled = sum(round((len(g) - 1) * vv) for g, vv in zip(gs, vars_))
        c = 1 + (
            sum(round(1 / (len(g) - 1) * 1e9) for g in gs) / 1e9
            - 1 / (n - k)
        ) / (3 * (k - 1))
        return ((n - k) * np.log(pooled / (n - k)) - lnsum) / c

    rng = np.random.RandomState(167)
    base = [list(1000 + rng.randint(-60, 61, 90)) for _ in range(5)]
    groups = {p: v for p, v in zip(_PRIOS, base)}
    _prio_orders_patch(spark, monkeypatch, groups)
    r = bartlett_test(spark, "x").collect()[0]
    assert r["n_orders"] == 450 and r["n_groups"] == 5
    assert r["bartlett_chi2"] == pytest.approx(
        brute(list(groups.values())), abs=2e-4
    )
    assert bool(r["significant"]) is False
    groups[_PRIOS[0]] = list(1000 + rng.randint(-60, 61, 90) * 5)
    _prio_orders_patch(spark, monkeypatch, groups)
    r = bartlett_test(spark, "x").collect()[0]
    assert r["bartlett_chi2"] == pytest.approx(
        brute(list(groups.values())), abs=2e-4
    )
    assert bool(r["significant"]) is True


def test_kpss_matches_numpy_both_regimes(spark, monkeypatch):
    """eta recomputed in numpy; a random walk rejects stationarity,
    mean-reverting noise does not."""
    from rs_streamloader_spark.operators.stats import kpss_level_test

    base = pd.Timestamp("2024-01-01")

    def run(vals):
        days = [
            ((base + pd.Timedelta(days=i)).strftime("%Y-%m-%d"), float(v))
            for i, v in enumerate(vals)
        ]
        _orders_patch(spark, monkeypatch, days)
        return kpss_level_test(spark, "x").collect()[0]

    def brute(vals):
        x = np.round(np.array(vals, dtype=float) * 100)
        n = len(x)
        dm = np.round((x - x.mean()) * 1000)
        st = np.cumsum(dm)
        ss2 = (st.astype(object) ** 2).sum()
        sig2 = ((x - x.mean()) ** 2).sum() / n
        return float(ss2) / 1e6 / (n * n * sig2)

    rng = np.random.RandomState(173)
    walk = list(10000 + np.cumsum(rng.randn(400) * 8))
    r = run(walk)
    assert r["kpss_statistic"] == pytest.approx(brute(walk), rel=1e-5)
    assert bool(r["nonstationary"]) is True
    noise = list(10000 + rng.randn(400) * 50)
    r = run(noise)
    assert r["kpss_statistic"] == pytest.approx(brute(noise), rel=1e-5)
    assert bool(r["nonstationary"]) is False


def test_moods_median_matches_brute_force_both_branches(spark, monkeypatch):
    """chi2 recomputed from the 5x2 table; a median-shifted group
    rejects, identical distributions do not — and the statistic is
    outlier-immune by construction."""
    from rs_streamloader_spark.operators.stats import moods_median_test

    def brute(groups):
        allv = np.concatenate(
            [np.round(np.array(v) * 100) for v in groups]
        )
        m = np.sort(allv)[(len(allv) + 1) // 2 - 1]
        n = len(allv)
        a = (allv > m).sum()
        chi2 = 0.0
        for v in groups:
            g = np.round(np.array(v) * 100)
            ag, ng = (g > m).sum(), len(g)
            ea = a * ng / n
            eb = (n - a) * ng / n
            chi2 += round(
                ((ag - ea) ** 2 / ea + ((ng - ag) - eb) ** 2 / eb) * 1e9
            )
        return chi2 / 1e9

    rng = np.random.RandomState(179)
    base = [list(1000 + rng.randint(-100, 101, 70)) for _ in range(5)]
    groups = {p: v for p, v in zip(_PRIOS, base)}
    _prio_orders_patch(spark, monkeypatch, groups)
    r = moods_median_test(spark, "x").collect()[0]
    assert r["n_orders"] == 350
    assert r["chi2_statistic"] == pytest.approx(
        brute(list(groups.values())), abs=2e-6
    )
    assert bool(r["significant"]) is False
    groups[_PRIOS[3]] = [v + 200 for v in base[3]]
    _prio_orders_patch(spark, monkeypatch, groups)
    r = moods_median_test(spark, "x").collect()[0]
    assert r["chi2_statistic"] == pytest.approx(
        brute(list(groups.values())), abs=2e-6
    )
    assert bool(r["significant"]) is True
    # outlier immunity: multiplying one group's max by 1000 must not
    # change the statistic at all (it stays above the median)
    groups[_PRIOS[3]][0] = groups[_PRIOS[3]][0] * 1000
    _prio_orders_patch(spark, monkeypatch, groups)
    r2 = moods_median_test(spark, "x").collect()[0]
    assert r2["chi2_statistic"] == r["chi2_statistic"]


def test_jonckheere_matches_pair_enumeration_both_branches(
    spark, monkeypatch
):
    """2J recomputed by explicit ordered-pair enumeration; a monotone
    location gradient rejects with the right sign, shuffled groups do
    not."""
    from rs_streamloader_spark.operators.stats import jonckheere_terpstra

    def brute(groups):
        gs = [np.round(np.array(v) * 100) for v in groups]
        j2 = 0
        for i in range(len(gs)):
            for j in range(i + 1, len(gs)):
                for x in gs[i]:
                    for y in gs[j]:
                        if y > x:
                            j2 += 2
                        elif y == x:
                            j2 += 1
        n = sum(len(g) for g in gs)
        sq2 = sum(len(g) ** 2 for g in gs)
        s_term = sum(len(g) ** 2 * (2 * len(g) + 3) for g in gs)
        mean = (n * n - sq2) / 4
        var = (n * n * (2 * n + 3) - s_term) / 72
        z = (j2 / 2 - mean) / np.sqrt(var)
        return j2 / 2, z

    rng = np.random.RandomState(181)
    rising = {
        p: list(1000 + 80 * i + rng.randint(-50, 51, 40))
        for i, p in enumerate(_PRIOS)
    }
    _prio_orders_patch(spark, monkeypatch, rising)
    r = jonckheere_terpstra(spark, "x").collect()[0]
    j, z = brute(list(rising.values()))
    assert r["n_orders"] == 200
    assert r["j_statistic"] == pytest.approx(j, abs=0.01)
    assert r["z_score"] == pytest.approx(z, abs=2e-6)
    assert z > 0 and bool(r["significant"]) is True
    flat = {p: list(1000 + rng.randint(-50, 51, 40)) for p in _PRIOS}
    _prio_orders_patch(spark, monkeypatch, flat)
    r = jonckheere_terpstra(spark, "x").collect()[0]
    j, z = brute(list(flat.values()))
    assert r["j_statistic"] == pytest.approx(j, abs=0.01)
    assert r["z_score"] == pytest.approx(z, abs=2e-6)
    assert bool(r["significant"]) is False


def test_stream_mix_psi_batch_half_matches_numpy(spark):
    """The PSI formula recomputed in numpy on constructed landed
    counts: a window with a flipped mix must flag, a window matching
    the corpus mix must not, and absent types take the Laplace floor."""
    from rs_streamloader_spark.streaming.replay import _mix_psi_from_counts

    rows = [
        # window A: matches the global mix (40 click / 40 view / 20 buy)
        ("2024-01-01 10:00:00", "click", 40),
        ("2024-01-01 10:00:00", "view", 40),
        ("2024-01-01 10:00:00", "purchase", 20),
        # window B: flipped mix, and 'purchase' entirely absent
        ("2024-01-01 11:00:00", "click", 5),
        ("2024-01-01 11:00:00", "view", 95),
    ]
    pdf = pd.DataFrame(rows, columns=["window_start", "event_type", "n_events"])
    pdf["window_start"] = pd.to_datetime(pdf["window_start"])
    c = spark.createDataFrame(pdf)
    got = {
        str(r["window_start"]): r
        for r in _mix_psi_from_counts(c).collect()
    }

    types = ["click", "view", "purchase"]
    g = {t: pdf[pdf.event_type == t].n_events.sum() for t in types}
    total = sum(g.values())
    for wname, wdf in pdf.groupby("window_start"):
        wn = wdf.n_events.sum()
        psi_nano = 0
        for t in types:
            cnt = int(wdf[wdf.event_type == t].n_events.sum())
            p = (cnt + 0.5) / (wn + 0.5)
            q = (g[t] + 0.5) / (total + 0.5)
            psi_nano += round((p - q) * np.log(p / q) * 1e9)
        r = got[str(wname)]
        assert r["psi_nano"] == psi_nano
        assert r["psi"] == pytest.approx(psi_nano / 1e9, abs=2e-6)
        assert bool(r["drifted"]) == (psi_nano > 200_000_000)
    # the flipped window is far more drifted than the balanced one
    assert (
        got["2024-01-01 11:00:00"]["psi"]
        > got["2024-01-01 10:00:00"]["psi"]
    )
    assert bool(got["2024-01-01 11:00:00"]["drifted"]) is True


def test_negative_binomial_fit_matches_numpy_both_branches(
    spark, monkeypatch
):
    """r/p recomputed in numpy; a bursty type fits small r, a
    Poisson-like type reports NULL parameters."""
    from rs_streamloader_spark.operators.stats import negative_binomial_fit

    rng = np.random.RandomState(191)
    rows = []
    eid = 0
    base = pd.Timestamp("2024-01-01")
    counts = {"burst": [], "steady": []}
    for i in range(90):
        d = (base + pd.Timedelta(days=i)).strftime("%Y-%m-%d")
        nb = int(rng.negative_binomial(2, 0.15)) if i % 1 == 0 else 0
        counts["burst"].append(nb)
        for _ in range(nb):
            eid += 1
            rows.append((eid, d, eid % 40, "burst"))
        po = int(rng.poisson(8))
        counts["steady"].append(po)
        for _ in range(po):
            eid += 1
            rows.append((eid, d, eid % 40, "steady"))
        # keep every day represented
        eid += 1
        rows.append((eid, d, eid % 40, "anchor"))
    _events_patch(spark, monkeypatch, rows)
    got = {r["event_type"]: r for r in negative_binomial_fit(spark, "x").collect()}
    for ty in ("burst", "steady"):
        x = np.array(counts[ty], dtype=float)
        mu, v = x.mean(), x.var(ddof=1)
        r = got[ty]
        assert r["n_days"] == 90
        assert r["mean_daily"] == pytest.approx(mu, abs=2e-6)
        assert r["var_daily"] == pytest.approx(v, abs=2e-6)
        if v > mu:
            assert r["nb_r"] == pytest.approx(mu * mu / (v - mu), abs=2e-5)
            assert r["nb_p"] == pytest.approx(mu / v, abs=2e-6)
            assert bool(r["overdispersed"]) is True
    assert bool(got["burst"]["overdispersed"]) is True
    assert got["burst"]["nb_r"] < 5


def test_bimodality_coefficient_separates_mixture_from_gaussian(
    spark, monkeypatch
):
    """BC recomputed in numpy; a two-mode mixture must exceed 5/9, a
    unimodal gaussian must not."""
    from rs_streamloader_spark.operators.stats import bimodality_coefficient

    def run(vals):
        rows = [
            (i + 1, "2024-01-%02d" % (i % 28 + 1), i % 50, "click", float(v))
            for i, v in enumerate(vals)
        ]
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        sdf = spark.createDataFrame(pdf)
        monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"events": sdf})
        return bimodality_coefficient(spark, "x").collect()[0]

    def brute(vals):
        x = np.round(np.array(vals) * 1e9) / 1e9
        z = (x - x.mean()) / x.std()
        s = (np.round(z**3 * 1e9).sum()) / (len(x) * 1e9)
        k = (np.round(z**4 * 1e9).sum()) / (len(x) * 1e9)
        return s, k, (s * s + 1) / k

    rng = np.random.RandomState(193)
    mixture = list(np.concatenate([rng.randn(400) * 0.5 + 2,
                                   rng.randn(400) * 0.5 + 8]))
    r = run(mixture)
    s, k, bc = brute(mixture)
    assert r["skewness"] == pytest.approx(s, abs=5e-5)
    assert r["kurtosis"] == pytest.approx(k, abs=5e-5)
    assert r["bimodality_coef"] == pytest.approx(bc, abs=5e-5)
    assert bool(r["bimodal_suspect"]) is True
    gauss = list(rng.randn(800) * 1.5 + 5)
    r = run(gauss)
    s, k, bc = brute(gauss)
    assert r["bimodality_coef"] == pytest.approx(bc, abs=5e-5)
    assert bool(r["bimodal_suspect"]) is False


def test_hoover_matches_numpy_and_lorenz_max_gap(spark, monkeypatch):
    """Hoover recomputed in numpy two ways: the deviation formula AND
    the max Lorenz vertical gap (they must agree); equality gives 0."""
    from rs_streamloader_spark.operators.stats import hoover_index

    def orders_per_cust(revs):
        rows = [(i, "1995-06-01", float(r), i) for i, r in enumerate(revs)]
        pdf = pd.DataFrame(
            rows,
            columns=["o_orderkey", "o_orderdate", "o_totalprice", "o_custkey"],
        )
        sdf = spark.createDataFrame(pdf)
        monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"orders": sdf})

    rng = np.random.RandomState(197)
    revs = list(rng.pareto(1.8, 300) * 100 + 10)
    orders_per_cust(revs)
    r = hoover_index(spark, "x").collect()[0]
    c = np.round(np.array(revs) * 100)
    n, t = len(c), c.sum()
    hoover = np.abs(c * n - t).sum() / (2 * n * t)
    assert r["n_customers"] == n
    assert r["hoover_index"] == pytest.approx(hoover, abs=2e-6)
    # Lorenz max-gap identity
    cs = np.sort(c)
    lorenz_gap = np.max(np.arange(1, n + 1) / n - np.cumsum(cs) / t)
    assert r["hoover_index"] == pytest.approx(lorenz_gap, abs=1e-3)
    orders_per_cust([250.0] * 100)
    r = hoover_index(spark, "x").collect()[0]
    assert r["hoover_index"] == 0.0


def test_bowley_skew_matches_numpy_and_is_outlier_immune(
    spark, monkeypatch
):
    """Quartiles and skew recomputed with the PERCENTILE_DISC
    convention; a x1000 outlier must not move it."""
    from rs_streamloader_spark.operators.stats import bowley_quartile_skew

    rng = np.random.RandomState(199)
    # n mod 4 in {0, 2, 3}: the ceil(3n/4) Q3 rank differs from the
    # (3n+1) div 4 convention exactly when n is 2 or 3 (mod 4), so the
    # 502/503 runs pin the rank convention the n=500 run masks.
    vals = None
    for size in (500, 502, 503):
        vals = list(np.round(rng.lognormal(5, 0.8, size), 2))
        days = [
            ("1995-06-%02d" % (i % 28 + 1), v) for i, v in enumerate(vals)
        ]
        _orders_patch(spark, monkeypatch, days)
        r = bowley_quartile_skew(spark, "x").collect()[0]
        c = np.sort(np.round(np.array(vals) * 100))
        n = len(c)
        q1 = c[-(-n // 4) - 1]
        q2 = c[-(-n // 2) - 1]
        q3 = c[-(-(3 * n) // 4) - 1]
        assert (r["q1_cents"], r["q2_cents"], r["q3_cents"]) == (q1, q2, q3)
        assert r["bowley_skew"] == pytest.approx(
            (q1 + q3 - 2 * q2) / (q3 - q1), abs=2e-6
        )
        assert r["bowley_skew"] > 0  # lognormal: right-skewed
    vals2 = list(vals)
    vals2[0] = vals2[0] * 1000  # corrupt one extreme
    days = [("1995-06-%02d" % (i % 28 + 1), v) for i, v in enumerate(vals2)]
    _orders_patch(spark, monkeypatch, days)
    r2 = bowley_quartile_skew(spark, "x").collect()[0]
    # identical unless the corrupted value crossed a quartile boundary
    assert r2["bowley_skew"] == pytest.approx(r["bowley_skew"], abs=1e-3)


def test_multimodal_pcm_features_match_numpy(spark, monkeypatch):
    """Third vote on the PCM feature math (the oracle and the Spark
    path both derive from the synthesis contract; numpy recomputes it
    from scratch on a constructed corpus): energy, peak, zero
    crossings and the Haar band split, including a doc engineered so
    the low band dominates (constant run → E_high = 0 contribution)
    and one alternating doc where the high band dominates."""
    import rs_streamloader_spark.operators.multimodal as M
    from rs_streamloader_spark.operators.multimodal import (
        audio_haar_band_energy,
        multimodal_features,
    )

    texts = [
        "aaaaaaaaaa",          # constant: zero crossings 0, E_high 0
        "a_a_a_a_a_",          # ±256 alternation: E_low = 0, max crossings
        "The quick brown fox!",
        "`" * 4 + "x" * 4,     # samples exactly 0 (ord 96) in a run
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(
        M, "load_tables", lambda _s, _d, *names: {"documents": sdf}
    )

    feats = {r["doc_id"]: r for r in multimodal_features(spark, "x").collect()}
    haar = {r["doc_id"]: r for r in audio_haar_band_energy(spark, "x").collect()}
    for i, t in enumerate(texts):
        s = (np.array([ord(c) for c in t]) - 96) * 256
        assert feats[i]["n_samples"] == len(s)
        assert feats[i]["peak_abs"] == int(np.abs(s).max())
        assert feats[i]["energy"] == int((s.astype("int64") ** 2).sum())
        nonneg = s >= 0
        assert feats[i]["zero_cross"] == int((nonneg[1:] != nonneg[:-1]).sum())
        a = s[0::2][: len(s) // 2] + s[1::2]
        d = s[0::2][: len(s) // 2] - s[1::2]
        assert haar[i]["e_low"] == int((a.astype("int64") ** 2).sum())
        assert haar[i]["e_high"] == int((d.astype("int64") ** 2).sum())
    # the engineered extremes actually exercise both band branches
    assert feats[0]["zero_cross"] == 0 and haar[0]["e_high"] == 0
    assert haar[1]["e_low"] == 0 and haar[1]["high_ratio"] == 1.0
    assert feats[1]["zero_cross"] == 9


def test_multimodal_resize_luminance_matches_numpy(spark, monkeypatch):
    """The 4x4 nearest-neighbor thumbnail recomputed from scratch in
    numpy: build the full WxH pixel grid per the synthesis contract,
    index it with the resize mapping, and check the BT.709 integer
    luminance sum and dimensions."""
    import rs_streamloader_spark.operators.multimodal as M
    from rs_streamloader_spark.operators.multimodal import multimodal_resize

    texts = ["Nearest neighbor needs asymmetry 0123456789", "zyx" * 30]
    doc_ids = [5, 7]  # W = 8 + id % 9 → 13 and 14 (padding classes differ)
    pdf = pd.DataFrame({"doc_id": doc_ids, "text": texts})
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(
        M, "load_tables", lambda _s, _d, *names: {"documents": sdf}
    )
    rows = {r["doc_id"]: r for r in multimodal_resize(spark, "x").collect()}
    for doc_id, t in zip(doc_ids, texts):
        n = len(t)
        w, h = 8 + doc_id % 9, 8 + n % 9
        lum = 0
        for rp in range(4):
            for cp in range(4):
                r0, c0 = (rp * h) // 4, (cp * w) // 4
                v = ord(t[(r0 * w + c0) % n])
                lum += 2126 * v + 7152 * ((v + c0) % 256) + 722 * ((v + r0) % 256)
        assert (rows[doc_id]["width"], rows[doc_id]["height"]) == (w, h)
        assert rows[doc_id]["thumb_lum_sum"] == lum


def test_multimodal_curation_trio_matches_numpy(spark, monkeypatch):
    """dHash / scene-cut / silence-trim recomputed from scratch on a
    constructed corpus with both branches of each detector live: a
    near-constant doc (zero cuts, mostly silence), a high-contrast doc
    (cuts fire), and an engineered pair whose dHash MUST collide
    (identical text, doc_ids chosen with equal W so the pixel grids
    are identical)."""
    import rs_streamloader_spark.operators.multimodal as M

    quiet = "a" * 40 + "z" * 100 + "a" * 60   # slab structure: frame deltas
    flat = "`ab" * 40 + "zzz" + "`ab" * 10     # silence-rich with a loud burst
    allsil = "`ab" * 30                        # EVERY sample below threshold
    dup = "The same image twice over different ids 012345"
    pdf = pd.DataFrame(
        {"doc_id": [0, 1, 2, 9, 18], "text": [quiet, flat, allsil, dup, dup]}
    )  # 9 % 9 == 18 % 9 == 0 → same W → identical grids → equal dhash
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(
        M, "load_tables", lambda _s, _d, *names: {"documents": sdf}
    )

    # --- scene cuts ---
    sc = {r["doc_id"]: r for r in
          M.video_scene_change_detect(spark, "x").collect()}
    for did, t in [(0, quiet), (1, flat), (2, allsil), (9, dup), (18, dup)]:
        n = len(t)
        nf = min(4, -(-n // 64))
        sums = [sum(ord(t[(k * 64 + j) % n]) for j in range(64))
                for k in range(nf)]
        deltas = [abs(b - a) for a, b in zip(sums, sums[1:])]
        assert sc[did]["n_frames"] == nf
        assert sc[did]["n_cuts"] == sum(1 for x in deltas if x > 250)
        assert sc[did]["max_abs_delta"] == (max(deltas) if deltas else 0)
    assert sc[0]["n_cuts"] > 0       # the slab boundary fires
    assert sc[2]["n_cuts"] == 0      # periodic text: frames identical

    # --- silence ---
    si = {r["doc_id"]: r for r in M.audio_silence_ratio(spark, "x").collect()}
    s_flat = [(ord(c) - 96) * 256 for c in flat]
    loud = [i for i, x in enumerate(s_flat) if abs(x) >= 2048]
    assert si[1]["n_silent"] == sum(1 for x in s_flat if abs(x) < 2048)
    assert si[1]["lead_trim"] == loud[0]
    assert si[1]["trail_trim"] == len(s_flat) - 1 - loud[-1]
    assert si[1]["n_silent"] > 0 and si[1]["n_silent"] < len(s_flat)
    # all-silent branch: trim lengths degenerate to n identically
    assert si[2]["n_silent"] == si[2]["n_samples"]
    assert si[2]["lead_trim"] == si[2]["n_samples"]
    assert si[2]["trail_trim"] == si[2]["n_samples"]

    # --- quality screen: rule directions on the constructed extremes ---
    qs = {r["doc_id"]: r for r in
          M.multimodal_quality_screen(spark, "x").collect()}
    assert qs[0]["mime"] == "image/bmp"       # doc 0 % 3 == 0
    assert qs[1]["mime"] == "audio/x-wav"     # silence-rich with a burst
    assert qs[2]["mime"] == "video/x-yuv4mpeg"
    # allsil ("`ab"*30) would be all-silent as audio, but lands in the
    # video arm; doc 1 (flat) IS the audio arm: mostly silent -> drop
    s_flat2 = [(ord(c) - 96) * 256 for c in flat]
    ppm = sum(1 for x in s_flat2 if abs(x) < 2048) * 1_000_000 // len(s_flat2)
    assert qs[1]["metric"] == ppm and bool(qs[1]["keep"]) is (ppm <= 280_000)
    nf2 = min(4, -(-len(allsil) // 64))
    assert qs[2]["metric"] == nf2 and bool(qs[2]["keep"]) is (nf2 >= 2)

    # --- dHash collision of the engineered identical pair ---
    dh = M.image_dhash_dedup(spark, "x").collect()
    buckets = {r["dhash"]: r for r in dh}
    pair = [r for r in dh if r["n_docs"] >= 2 and r["min_doc"] == 9
            and r["max_doc"] == 18]
    assert pair and pair[0]["n_pairs"] == 1, dh


def test_image_channel_rollup_matches_numpy(spark, monkeypatch):
    """Per-source channel sums recomputed from scratch: build the full
    pixel grids per the synthesis contract in numpy and compare the
    exact integers (two sources, mixed widths/heights)."""
    import rs_streamloader_spark.operators.multimodal as M

    rows = [
        (0, "The quick brown fox jumps over everything", "web"),
        (4, "A different document with its own pixel field", "web"),
        (7, "Third one lives in the books feed entirely", "books"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(
        M, "load_tables", lambda _s, _d, *names: {"documents": sdf}
    )
    got = {
        r["source"]: r
        for r in M.image_channel_stats_by_source(spark, "x").collect()
    }
    exp = {}
    for doc_id, text, source in rows:
        n = len(text)
        w, h = 8 + doc_id % 9, 8 + n % 9
        e = exp.setdefault(source, [0, 0, 0, 0, 0])  # imgs, px, r, g, b
        e[0] += 1
        e[1] += w * h
        for r0 in range(h):
            for c0 in range(w):
                v = ord(text[(r0 * w + c0) % n])
                e[2] += v
                e[3] += (v + c0) % 256
                e[4] += (v + r0) % 256
    for src, (ni, npx, rs, gs, bs) in exp.items():
        row = got[src]
        assert (row["n_images"], row["n_pixels"]) == (ni, npx)
        assert (row["r_sum"], row["g_sum"], row["b_sum"]) == (rs, gs, bs)
        assert row["r_mean"] == round(rs / npx, 6)


def test_bpe_trained_merges_matches_hand_run_trainer(spark, monkeypatch):
    """The K-step BPE training loop pinned against a from-scratch
    hand-run trainer (dict vocab, greedy leftmost non-overlapping
    merge application): a third vote independent of both the Spark
    REPLACE representation and the oracle's unrolled CTE chain. The
    tiny corpus is engineered so (a) a later iteration's best pair
    involves a MERGED symbol (the property a single candidate step
    can never show), and (b) an adjacent-run word ('aaaa') exercises
    the non-overlap rule."""
    import rs_streamloader_spark.operators.mining as M

    texts = [
        "low low low lower lowest",
        "new newer newest low",
        "aaaa aaaa aa banana",
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(M, "_t", lambda _s, _d, *names: {"documents": sdf})

    got = [
        (r["step"], r["left_sym"], r["right_sym"], r["merged"],
         r["pair_count"])
        for r in sorted(
            M.bpe_trained_merges(spark, "x_bpe_merges").collect(),
            key=lambda r: r["step"],
        )
    ]

    # hand-run trainer on the same whitespace tokens
    from collections import Counter

    wc = Counter(t for s in texts for t in s.split(" "))
    vocab = {tuple(w): c for w, c in wc.items()}
    exp = []
    for step in range(1, M._BPE_TRAIN_STEPS + 1):
        pc = Counter()
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        (a, b), cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        exp.append((step, a, b, a + b, cnt))
        new_vocab = Counter()
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] += c
        vocab = dict(new_vocab)

    assert got == exp
    # the loop actually went past single-character pairs: some later
    # merge consumes a symbol built by an earlier one
    assert any(len(l) > 1 or len(r) > 1 for _, l, r, _, _ in got)


# ---------------------------------------------------------------------------
# r14 wave A: association / agreement / collinearity / text mixes
# ---------------------------------------------------------------------------


def test_phi_yule_match_numpy(spark, monkeypatch):
    flags = np.where(_RNG.rand(300) < 0.4, "R", "N")
    disc = _RNG.choice(np.round(np.arange(0, 0.11, 0.01), 2), 300)
    pdf = pd.DataFrame({"l_returnflag": flags, "l_discount": disc})
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"lineitem": sdf})
    r = S.phi_yule_binary_association(spark, "x").collect()[0]
    x = (flags == "R").astype(int)
    y = (disc >= 0.05).astype(int)
    n11 = int(((x == 1) & (y == 1)).sum())
    n10 = int(((x == 1) & (y == 0)).sum())
    n01 = int(((x == 0) & (y == 1)).sum())
    n00 = int(((x == 0) & (y == 0)).sum())
    assert (r["n11"], r["n10"], r["n01"], r["n00"]) == (n11, n10, n01, n00)
    # phi IS the Pearson correlation of the indicators
    assert r["phi"] == pytest.approx(np.corrcoef(x, y)[0, 1], abs=2e-6)
    odds = (n11 * n00) / (n10 * n01)
    assert r["yule_q"] == pytest.approx((odds - 1) / (odds + 1), abs=2e-6)


def test_relative_risk_matches_hand_2x2(spark, monkeypatch):
    # 40 users: engineered per-user error/purchase counts around the
    # 14-threshold so all four cells are live with known sizes
    rows = []
    uid = 0
    for ne, npu, copies in [(20, 20, 6), (20, 5, 10), (5, 20, 8), (5, 5, 16)]:
        for _ in range(copies):
            rows += [(uid, "error")] * ne + [(uid, "purchase")] * npu
            uid += 1
    pdf = pd.DataFrame(rows, columns=["user_id", "event_type"])
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"events": sdf})
    r = S.relative_risk_cohort(spark, "x").collect()[0]
    a, b, c, d = 6, 10, 8, 16
    assert (r["a"], r["b"], r["c"], r["d"]) == (a, b, c, d)
    rr = (a / (a + b)) / (c / (c + d))
    se = np.sqrt(1 / a - 1 / (a + b) + 1 / c - 1 / (c + d))
    assert r["rr"] == pytest.approx(rr, abs=2e-6)
    assert r["rr_lo"] == pytest.approx(rr * np.exp(-1.96 * se), abs=2e-6)
    assert r["rr_hi"] == pytest.approx(rr * np.exp(+1.96 * se), abs=2e-6)


def _ab_scores(n: int) -> np.ndarray:
    i = np.arange(1, n + 1)
    return np.minimum(i, n + 1 - i).astype(float)


def test_ansari_bradley_matches_hand_scores(spark, monkeypatch):
    """Exact averaged-score AB on constructed data with tied blocks —
    including one tie block that STRADDLES the score peak, the case a
    min-of-midrank shortcut gets wrong."""
    n = 61
    vals_a = np.concatenate([np.full(9, 5.0), _RNG.randint(1, 30, 21) / 2.0])
    vals_b = np.concatenate([np.full(9, 5.0), _RNG.randint(1, 30, 22) / 2.0])
    pdf = pd.DataFrame(
        {
            "event_type": ["click"] * len(vals_a) + ["view"] * len(vals_b),
            "value": np.concatenate([vals_a, vals_b]),
        }
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"events": sdf})
    r = S.ansari_bradley_scale_test(spark, "x").collect()[0]

    # hand computation: positional scores averaged over tied blocks
    v = np.round(pdf["value"].values * 100).astype(int)
    grp = (pdf["event_type"] == "click").values
    nn = len(v)
    base = _ab_scores(nn)
    order = np.argsort(v, kind="mergesort")
    sv = v[order]
    a_assigned = np.empty(nn)
    i = 0
    while i < nn:
        j = i
        while j + 1 < nn and sv[j + 1] == sv[i]:
            j += 1
        a_assigned[order[i : j + 1]] = base[i : j + 1].mean()
        i = j + 1
    t1 = a_assigned[grp].sum()
    n1, n2 = int(grp.sum()), int((~grp).sum())
    stot, ss2 = a_assigned.sum(), (a_assigned**2).sum()
    var = n1 * n2 * (nn * ss2 - stot**2) / (nn**2 * (nn - 1))
    z = (t1 - n1 * stot / nn) / np.sqrt(var)
    assert (r["n1"], r["n2"]) == (n1, n2)
    assert r["ab_t"] == pytest.approx(t1, abs=2e-6)
    assert r["z_approx"] == pytest.approx(z, abs=2e-6)


def test_krippendorff_alpha_matches_pairwise_bruteforce(spark, monkeypatch):
    """Alpha recomputed via the DEFINITIONAL pairwise route (observed
    vs expected disagreement over all within-unit and all pooled value
    pairs) — independent of the operator's n_u1-moment shortcut."""
    texts = [
        "short one",
        "a" * 400,
        "the quick brown fox " * 20,
        "eeee aaaa iiii oooo " * 18,
        "xyz " * 120,
        "b" * 299 + " " + "e" * 100,
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"documents": sdf})
    r = S.krippendorff_alpha_nominal(spark, "x").collect()[0]

    units = []
    for t in texts:
        n = len(t)
        r1 = int(n >= 300)
        r2 = int(1000 * sum(ch in "aeiou" for ch in t.lower()) // n >= 285)
        r3 = int(1000 * t.count(" ") // n >= 178)
        units.append([r1, r2, r3])
    m, N = 3, len(units)
    # observed disagreement: fraction of ordered within-unit pairs
    do = sum(
        sum(1 for i in range(m) for j in range(m) if i != j and u[i] != u[j])
        for u in units
    ) / (N * m * (m - 1))
    pooled = [v for u in units for v in u]
    n = len(pooled)
    de = sum(
        1
        for i in range(n)
        for j in range(n)
        if i != j and pooled[i] != pooled[j]
    ) / (n * (n - 1))
    assert r["n_units"] == N
    assert r["d_o"] == pytest.approx(do, abs=2e-6)
    assert r["d_e"] == pytest.approx(de, abs=2e-6)
    assert r["alpha"] == pytest.approx(1 - do / de, abs=2e-6)


def test_vif_matches_numpy_regression(spark, monkeypatch):
    """VIF recomputed by literally running the auxiliary regressions
    with numpy lstsq (R^2 of each predictor on the other two) —
    independent of the closed pairwise-correlation form. Predictors
    engineered collinear: tax tracks quantity + discount."""
    qty = _RNG.randint(1, 51, 500).astype(float)
    disc = _RNG.choice(np.round(np.arange(0, 0.11, 0.01), 2), 500)
    tax = np.round(qty / 500.0 + disc * 0.5 + _RNG.randint(0, 3, 500) / 100.0, 2)
    pdf = pd.DataFrame(
        {"l_quantity": qty, "l_discount": disc, "l_tax": tax}
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"lineitem": sdf})
    got = {r["predictor"]: r for r in S.vif_collinearity_audit(spark, "x").collect()}

    cols = {
        "quantity": np.round(qty).astype(int),
        "discount": np.round(disc * 100).astype(int),
        "tax": np.round(tax * 100).astype(int),
    }
    names = list(cols)
    for tgt in names:
        others = [c for c in names if c != tgt]
        X = np.column_stack(
            [np.ones(500)] + [cols[c].astype(float) for c in others]
        )
        y = cols[tgt].astype(float)
        beta, *_ = np.linalg.lstsq(X, y, rcond=None)
        resid = y - X @ beta
        r2 = 1 - (resid**2).sum() / ((y - y.mean()) ** 2).sum()
        assert got[tgt]["r_squared"] == pytest.approx(r2, abs=5e-6), tgt
        assert got[tgt]["vif"] == pytest.approx(1 / (1 - r2), abs=5e-5), tgt
    assert got["tax"]["vif"] > 2  # the engineered collinearity is live


def test_char_class_and_kl_match_bruteforce(spark, monkeypatch):
    import rs_streamloader_spark.operators.quality as Q
    import rs_streamloader_spark.operators.text as T

    texts = [
        ("s1", "Hello World 123 !!"),
        ("s1", "pure words only here"),
        ("s2", "999 000 111 ,,,"),
        ("s2", "mixed 12 bag %%"),
    ]
    pdf = pd.DataFrame(texts, columns=["source", "text"])
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(Q, "_t", lambda _s, _d, *names: {"documents": sdf})
    monkeypatch.setattr(
        T, "load_tables", lambda _s, _d, *names: {"documents": sdf}
    )

    got = {r["source"]: r for r in Q.char_class_mix_audit(spark, "x").collect()}
    for src in ("s1", "s2"):
        docs = [t for s, t in texts if s == src]
        n = sum(len(t) for t in docs)
        let = sum(ch.isascii() and ch.isalpha() for t in docs for ch in t)
        dig = sum(ch.isdigit() for t in docs for ch in t)
        spc = sum(ch == " " for t in docs for ch in t)
        assert got[src]["n_chars"] == n
        assert got[src]["letter_ppm"] == let * 1_000_000 // n
        assert got[src]["digit_ppm"] == dig * 1_000_000 // n
        assert got[src]["space_ppm"] == spc * 1_000_000 // n
        assert got[src]["other_ppm"] == (n - let - dig - spc) * 1_000_000 // n

    kl = {r["source"]: r for r in T.kl_divergence_sources(spark, "x").collect()}
    from collections import Counter

    corpus = Counter(
        w for _s, t in texts for w in t.split(" ") if w
    )
    grand = sum(corpus.values())
    for src in ("s1", "s2"):
        cnt = Counter(
            w for s, t in texts if s == src for w in t.split(" ") if w
        )
        tot = sum(cnt.values())
        expect = sum(
            (c / tot) * np.log((c / tot) / (corpus[w] / grand))
            for w, c in cnt.items()
        )
        assert kl[src]["n_tokens"] == tot
        assert kl[src]["kl_nats"] == pytest.approx(expect, abs=2e-6)
        assert kl[src]["kl_nats"] > 0  # sources genuinely diverge


def test_bpe_trained_fertility_matches_hand_apply(spark, monkeypatch):
    import rs_streamloader_spark.operators.mining as M
    from collections import Counter

    texts = [
        ("w1", "low low low lower lowest"),
        ("w2", "new newer newest low aaaa"),
    ]
    pdf = pd.DataFrame(texts, columns=["source", "text"])
    pdf["doc_id"] = range(len(pdf))
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(M, "_t", lambda _s, _d, *names: {"documents": sdf})

    got = {r["source"]: r for r in M.bpe_trained_fertility(spark, "x_bpe_fert").collect()}

    # hand trainer (same as the merges pin), then greedy apply per word
    wc = Counter(w for _s, t in texts for w in t.split(" ") if w != "")
    vocab = {tuple(w): c for w, c in wc.items()}
    merges = []
    for _step in range(M._BPE_TRAIN_STEPS):
        pc = Counter()
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        (a, b), _cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((a, b))
        nv = Counter()
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nv[tuple(out)] += c
        vocab = dict(nv)

    def apply_all(word: str) -> int:
        syms = list(word)
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    for src in ("w1", "w2"):
        words = [w for s, t in texts if s == src for w in t.split(" ") if w]
        nsym = sum(apply_all(w) for w in words)
        assert got[src]["n_words"] == len(words)
        assert got[src]["n_symbols"] == nsym
        assert got[src]["fertility"] == pytest.approx(
            nsym / len(words), abs=1e-6
        )
    # the trained merges genuinely compress: fertility < raw chars/word
    for src in ("w1", "w2"):
        words = [w for s, t in texts if s == src for w in t.split(" ") if w]
        assert got[src]["fertility"] < sum(map(len, words)) / len(words)


def _hand_wordpiece(texts: list[str], k: int):
    """From-scratch WordPiece trainer: ##-prefixed continuation
    symbols, EXACT Fraction likelihood argmax (count(ab) /
    (count(a)·count(b))), lexicographic tie-break, greedy leftmost
    non-overlapping application. Returns (merge_rows, final_vocab)
    where merge_rows mirror the operator's output tuple shape. Exact
    fractions (not the operator's 10^12 fixed point) make this a
    strictly stronger vote: a fixed-point collision that flipped a
    selection would fail the pin."""
    from collections import Counter
    from fractions import Fraction

    wc = Counter(w for t in texts for w in t.split(" ") if w != "")
    vocab: dict[tuple, int] = {}
    for w, c in wc.items():
        syms = (w[0],) + tuple("##" + ch for ch in w[1:])
        vocab[syms] = vocab.get(syms, 0) + c
    rows = []
    for step in range(1, k + 1):
        pc: Counter = Counter()
        uc: Counter = Counter()
        for syms, c in vocab.items():
            for s in syms:
                uc[s] += c
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        (a, b), cnt = min(
            pc.items(),
            key=lambda kv: (
                -Fraction(kv[1], uc[kv[0][0]] * uc[kv[0][1]]),
                kv[0][0],
                kv[0][1],
            ),
        )
        merged = a + b[2:]
        rows.append(
            (step, a, b, merged, cnt, cnt * 10**12 // (uc[a] * uc[b]))
        )
        nv: Counter = Counter()
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nv[tuple(out)] += c
        vocab = dict(nv)
    return rows, vocab


def test_wordpiece_trained_merges_match_hand_run_trainer(spark, monkeypatch):
    """The K-step WordPiece loop pinned against a from-scratch
    hand-run trainer using EXACT Fraction likelihood scores — a third
    vote independent of the Spark fixed-point plan and the oracle's
    unrolled CTE chain. The corpus is engineered so (a) the first pick
    is a RARE-but-exclusive pair a count-argmax (BPE) would never take
    first, (b) a later merge CONSUMES an earlier merged symbol, and
    (c) a ##+## merge exercises prefix absorption."""
    import rs_streamloader_spark.operators.mining as M

    texts = [
        "low low low lower lowest",
        "new newer newest low",
        "qz qz qzy",
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(M, "_t", lambda _s, _d, *names: {"documents": sdf})

    got = [
        (r["step"], r["left_sym"], r["right_sym"], r["merged"],
         r["pair_count"], r["score_scaled"])
        for r in sorted(
            M.wordpiece_trained_merges(spark, "x_wp_merges").collect(),
            key=lambda r: r["step"],
        )
    ]
    exp, _ = _hand_wordpiece(texts, M._WP_TRAIN_STEPS)
    assert got == exp

    # (b) some merge consumes a previously-merged multi-char symbol
    assert any(
        len(l.lstrip("#")) > 1 or len(r.lstrip("#")) > 1
        for _, l, r, _, _, _ in got
    )
    # (c) a continuation+continuation merge kept its ## prefix
    assert any(m.startswith("##") for _, _, _, m, _, _ in got)

    # the SELECTION RULE genuinely diverges from BPE on this corpus:
    # BPE's count-argmax opens elsewhere than WordPiece's
    # likelihood-argmax (surface pair, prefixes stripped)
    bpe = M._bpe_train_merges(spark, "x_wp_merges_bpe")
    assert (got[0][1].lstrip("#"), got[0][2].lstrip("#")) != (
        bpe[0][1],
        bpe[0][2],
    )


def test_wordpiece_trained_fertility_matches_hand_apply(spark, monkeypatch):
    import rs_streamloader_spark.operators.mining as M

    texts = [
        ("w1", "low low low lower lowest qz"),
        ("w2", "new newer newest low qz qzy"),
    ]
    pdf = pd.DataFrame(texts, columns=["source", "text"])
    pdf["doc_id"] = range(len(pdf))
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(M, "_t", lambda _s, _d, *names: {"documents": sdf})

    got = {
        r["source"]: r
        for r in M.wordpiece_trained_fertility(spark, "x_wp_fert").collect()
    }

    rows, _ = _hand_wordpiece([t for _s, t in texts], M._WP_TRAIN_STEPS)
    merges = [(l, r, m) for _st, l, r, m, _c, _sc in rows]

    def apply_all(word: str) -> int:
        syms = [word[0]] + ["##" + ch for ch in word[1:]]
        for a, b, m in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(m)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    for src in ("w1", "w2"):
        words = [w for s, t in texts if s == src for w in t.split(" ") if w]
        nsym = sum(apply_all(w) for w in words)
        assert got[src]["n_words"] == len(words)
        assert got[src]["n_symbols"] == nsym
        assert got[src]["fertility"] == pytest.approx(
            nsym / len(words), abs=1e-6
        )
        # the trained merges genuinely compress
        assert got[src]["fertility"] < sum(map(len, words)) / len(words)


def test_wave_b_burstiness_decimate_lumahist_match_bruteforce(spark, monkeypatch):
    import rs_streamloader_spark.operators.multimodal as MM
    import rs_streamloader_spark.operators.text as T
    from collections import Counter

    texts = [
        "spark spark spark shuffle join",   # 'spark' bursts in-doc
        "spark plan join join join join",
        "calm words only here today",
        "spark appears once here too",
        "join morning and `evening` rows",  # backtick: negative samples
        "zz top values for peak checks",
        # low/high codepoints light the EXTREME luma bins (0 and 7)
        # that the shipped letters-only corpus never reaches, and give
        # the decimation clamp a live branch (chr(230) clips to 32767)
        "\x01\x01\x01\x01 " * 8 + chr(230) * 40,
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    pdf["source"] = ["s1", "s1", "s2", "s2", "s1", "s2", "s2"]
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(
        T, "load_tables", lambda _s, _d, *names: {"documents": sdf}
    )
    monkeypatch.setattr(
        MM, "load_tables", lambda _s, _d, *names: {"documents": sdf}
    )

    # --- burstiness (df floor lowered not needed: pick terms df>=5?) ---
    # with 6 docs no term reaches df>=5 except none — so patch the
    # floor to 2 for the pin corpus via the module constant
    monkeypatch.setattr(T, "_BURST_MIN_DF", 2)
    # the oracle string is frozen at import; pin only the Spark side
    rows = T.word_burstiness_topk(spark, "x").collect()
    cf = Counter(w for t in texts for w in t.split(" ") if w)
    df_ = Counter()
    for t in texts:
        for w in set(x for x in t.split(" ") if x):
            df_[w] += 1
    cand = [
        (w, cf[w], df_[w], cf[w] / df_[w]) for w in cf if df_[w] >= 2
    ]
    cand.sort(key=lambda x: (-x[3], x[0]))
    expect = cand[:20]
    got = [(r["tok"], r["cf"], r["df"], r["burstiness"]) for r in rows]
    assert [(w, c, d) for w, c, d, _ in expect] == [
        (w, c, d) for w, c, d, _ in got
    ]
    for (_, _, _, eb), (_, _, _, gb) in zip(expect, got):
        assert gb == pytest.approx(eb, abs=1e-6)
    assert got[0][0] == "join" and got[0][3] > 1.5  # genuinely bursty

    # --- decimation: floor rounding on NEGATIVE sums is the trap ---
    dec = {r["doc_id"]: r for r in
           MM.audio_decimate_downsample(spark, "x").collect()}
    import hashlib

    for i, t in enumerate(texts):
        s = np.clip((np.array([ord(c) for c in t]) - 96) * 256,
                    -32768, 32767)
        m = len(s) // 2
        d = np.floor_divide(s[: 2 * m : 2] + s[1 : 2 * m : 2], 2)
        nonneg = d >= 0
        assert dec[i]["n_out"] == m
        assert dec[i]["d_peak_abs"] == int(np.abs(d).max())
        assert dec[i]["d_zero_cross"] == int((nonneg[1:] != nonneg[:-1]).sum())
        canon = ";".join(str(int(x)) for x in d)
        assert dec[i]["stream_hash"] == hashlib.md5(
            canon.encode()).hexdigest()
    # doc 4 really has a negative-sum pair (backtick+space territory)
    s4 = (np.array([ord(c) for c in texts[4]]) - 96) * 256
    assert (s4[: len(s4) // 2 * 2 : 2] + s4[1 : len(s4) // 2 * 2 : 2] < 0).any()
    # doc 6 really exercises the int16 clamp (chr(230) -> 34304 raw)
    assert max(ord(c) for c in texts[6]) >= 224

    # --- luma histogram ---
    hist = {r["source"]: r for r in
            MM.image_luma_histogram_by_source(spark, "x").collect()}
    exp = {}
    for i, t in enumerate(texts):
        n = len(t)
        w, h = 8 + i % 9, 8 + n % 9
        e = exp.setdefault(pdf["source"][i], np.zeros(9, dtype=int))
        for r0 in range(h):
            for c0 in range(w):
                v = ord(t[(r0 * w + c0) % n])
                lum = 2126 * v + 7152 * ((v + c0) % 256) + 722 * ((v + r0) % 256)
                e[min(lum // MM._LUMA_BIN_W, 7)] += 1
                e[8] += 1  # total
    for src, e in exp.items():
        row = hist[src]
        assert row["n_pixels"] == e[8]
        for b in range(8):
            assert row[f"h{b}"] == e[b], (src, b)
    # the constructed extremes really land in the edge bins the
    # shipped corpus leaves empty
    assert exp["s2"][0] > 0 and exp["s2"][7] > 0


def test_time_travel_diff_exact_on_tiny_corpus(spark, monkeypatch):
    import rs_streamloader_spark.operators.advanced as A

    texts = ["alpha beta", "gamma", "delta epsilon zeta", "eta", "", "theta"]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(
        A, "load_tables", lambda _s, _d, *names: {"documents": sdf}
    )
    rows = {r["doc_id"]: r for r in
            A.native_store_time_travel_diff(spark, "x").collect()}
    assert set(rows) == {0, 1, 2, 3, 5}  # empty doc 4 excluded
    for i, t in enumerate(texts):
        if not t:
            continue
        r = rows[i]
        assert r["q_v1"] == len(t)
        if i % 3 == 0:
            assert r["q_v2"] == len(t) + 1000 and bool(r["changed"])
        else:
            assert r["q_v2"] == len(t) and not r["changed"]


def test_t_closeness_matches_bruteforce_tv(spark, monkeypatch):
    """Per-class total variation recomputed definitionally (densified
    over ALL bands, including the bands a class lacks — the absent-
    band correction is the part the closed form optimizes away)."""
    rows = []
    # class A: all low band; class B: all high band; class C: mirrors
    # the global mix; sensitive value = acctbal // 1000 band
    for i in range(20):
        rows.append((1, "A", 500.0))          # band 0
    for i in range(20):
        rows.append((1, "B", 5500.0))         # band 5
    for i in range(10):
        rows.append((2, "C", 500.0))
    for i in range(10):
        rows.append((2, "C", 5500.0))
    pdf = pd.DataFrame(
        rows, columns=["c_nationkey", "c_mktsegment", "c_acctbal"]
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(S, "_t", lambda _s, _d, *names: {"customer": sdf})
    got = {
        (r["c_nationkey"], r["c_mktsegment"]): r
        for r in S.t_closeness_audit(spark, "x").collect()
    }
    from collections import Counter

    glob = Counter(int(b // 1000) for _n, _s, b in rows)
    n = len(rows)
    for key in {(nk, s) for nk, s, _ in rows}:
        cls = [int(b // 1000) for nk, s, b in rows if (nk, s) == key]
        cc = Counter(cls)
        bands = set(glob) | set(cc)
        tv = 0.5 * sum(
            abs(cc.get(v, 0) / len(cls) - glob[v] / n) for v in bands
        )
        r = got[key]
        assert r["class_size"] == len(cls)
        assert r["t_tv"] == pytest.approx(tv, abs=1e-6), key
        assert bool(r["above_t"]) is (tv > 0.18), key
    # the construction really exercises both branches + skew poles
    assert got[(1, "A")]["t_tv"] == pytest.approx(0.5, abs=1e-6)
    assert got[(2, "C")]["t_tv"] == pytest.approx(0.0, abs=1e-6)
    assert bool(got[(1, "A")]["above_t"]) and not bool(got[(2, "C")]["above_t"])


def test_stream_quantile_sketch_rank_math_matches_numpy(spark, monkeypatch):
    """The landed-register quantile pick pinned against an explicit
    numpy recompute: the estimate bracket must CONTAIN the exact
    ceil-rank order statistic, and the rank math must pick the first
    bin whose cumulative count reaches ceil(n*q)."""
    import rs_streamloader_spark.streaming.replay as R

    vals = np.concatenate(
        [
            _RNG.uniform(0, 30, 300),     # dense low mass
            _RNG.uniform(100, 120, 80),   # mid shelf
            _RNG.uniform(400, 560, 20),   # far tail
        ]
    ).round(2)
    pdf = pd.DataFrame({"value": vals})
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(R, "_events", lambda _s, _d: sdf)
    rows = {r["q_label"]: r for r in
            R.stream_quantile_sketch_replay(spark, "x").collect()}

    cents = np.round(vals * 100).astype(int)
    bins = np.minimum(cents // R._QSK_BIN_CENTS, R._QSK_BINS - 1)
    n = len(vals)
    for num, den, label in R._QSK_QS:
        rank = -(-n * num // den)  # ceil
        order = np.sort(bins)
        est_bin = int(order[rank - 1])
        r = rows[label]
        assert r["n"] == n
        assert r["est_bin"] == est_bin, label
        assert r["est_lo_cents"] == est_bin * R._QSK_BIN_CENTS
        assert r["est_hi_cents"] == (est_bin + 1) * R._QSK_BIN_CENTS
        # the bracket contains the exact order statistic
        exact = np.sort(cents)[rank - 1]
        assert r["est_lo_cents"] <= exact < r["est_hi_cents"], label
    # the three quantiles land in three different bins on this shape
    assert len({r["est_bin"] for r in rows.values()}) == 3


def test_blur_laplacian_matches_scipy_free_convolution(spark, monkeypatch):
    """Laplacian energy recomputed from scratch with an explicit
    double loop over interior pixels (no slicing tricks shared with
    the operator), on a corpus engineered so both verdict branches
    fire: a constant doc (flat image -> near-zero interior energy
    where the wrap seam allows) vs high-variation text."""
    import rs_streamloader_spark.operators.multimodal as MM

    texts = [
        "a" * 100,                                   # flat: L = 0-ish
        "The quick brown fox jumps over lazy dogs!", # busy
        ("\x01~" * 50),                              # extreme alternation
    ]
    pdf = pd.DataFrame({"doc_id": [0, 4, 8], "text": texts})
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(
        MM, "load_tables", lambda _s, _d, *names: {"documents": sdf}
    )
    got = {r["doc_id"]: r for r in
           MM.image_blur_laplacian_screen(spark, "x").collect()}
    for doc_id, t in zip([0, 4, 8], texts):
        n = len(t)
        w, h = 8 + doc_id % 9, 8 + n % 9

        def lum(r, c):
            v = ord(t[(r * w + c) % n])
            return 2126 * v + 7152 * ((v + c) % 256) + 722 * ((v + r) % 256)

        e = 0
        cnt = 0
        for r in range(1, h - 1):
            for c in range(1, w - 1):
                L = (4 * lum(r, c) - lum(r - 1, c) - lum(r + 1, c)
                     - lum(r, c - 1) - lum(r, c + 1))
                e += L * L
                cnt += 1
        row = got[doc_id]
        assert row["n_interior"] == cnt
        assert row["lap_energy"] == e
        assert row["lap_mean"] == e // cnt
        assert bool(row["is_sharp"]) is (e // cnt >= MM._BLUR_MEAN_MIN)
    # the constant doc is blurry, the alternating doc is sharp
    assert not bool(got[0]["is_sharp"]) and bool(got[8]["is_sharp"])


def test_dp_release_noise_matches_definition(spark):
    """dp_histogram_release pinned from the DEFINITION (not the
    implementation's SQL): recompute the seeded md5 uniform and the
    Laplace inverse-CDF −sign(u−½)·ln(1−2|u−½|) in pure Python per
    source and require the exact nano-rounded noise — a sign slip, a
    scale-b slip, or a hash-window slip is invisible to the
    cross-engine oracle (both sides share the formula) but not to
    this pin. Also checks the release identity and that the noise
    actually varies across sources (non-vacuity)."""
    import hashlib
    import math

    from rs_streamloader_spark.operators.stats.association import (
        dp_histogram_release,
    )
    from tests.conftest import SF_SMOKE

    rows = {
        r["source"]: r
        for r in dp_histogram_release(spark, SF_SMOKE).collect()
    }
    noises = set()
    for source, row in rows.items():
        h16 = int(
            hashlib.md5(f"dp|{source}".encode()).hexdigest()[:4], 16
        )
        u = (h16 + 1) / 65537.0
        noise = -math.copysign(1.0, u - 0.5) * math.log(
            1.0 - 2.0 * abs(u - 0.5)
        )
        want = round(noise * 1e9)
        assert row["noise_nano"] == want, (source, row["noise_nano"], want)
        assert (
            row["released_nano"]
            == row["n_docs"] * 1_000_000_000 + row["noise_nano"]
        )
        noises.add(row["noise_nano"])
    assert len(noises) > 1  # the seed genuinely varies by source
    # both noise signs occur across 20 sources (u straddles 1/2)
    assert any(n < 0 for n in noises) and any(n > 0 for n in noises)


def test_unigram_em_matches_pure_python_definition(spark):
    """The whole unigram-LM Viterbi-EM training loop recomputed in
    pure Python FROM THE CONTRACT (seed rule, smoothing, micro-log
    scores, complete-segmentation argmax with the (fewer-pieces,
    lexicographic) tie-break, recount, rescore) — both engine
    implementations share the SQL/DataFrame formulation, so a
    formulation-level slip (wrong tie order, off-by-one substring,
    smoothing drift) would be oracle-green and only this pin sees it."""
    import math
    from collections import Counter

    import pyarrow.parquet as pq

    from rs_streamloader_spark.operators.mining import (
        _UNI_EM_STEPS,
        _UNI_MAX_PLEN,
        _UNI_TOPK_MULTI,
        _unigram_cached,
    )
    from tests.conftest import SF_SMOKE

    docs = pq.read_table(
        SF_SMOKE + "/documents.parquet", columns=["text"]
    ).to_pandas()
    wc = Counter()
    for t in docs.text:
        if t:
            wc.update(t.split(" "))

    # seed vocab
    sub = Counter()
    for w, c in wc.items():
        for p in range(len(w)):
            for l in range(1, min(_UNI_MAX_PLEN, len(w) - p) + 1):
                sub[w[p : p + l]] += c
    singles = {s for s in sub if len(s) == 1}
    multis = sorted(
        (s for s in sub if len(s) >= 2), key=lambda s: (-sub[s], s)
    )[:_UNI_TOPK_MULTI]
    vocab = {s: sub[s] for s in singles | set(multis)}

    def rescore(cnts):
        tot = float(sum(c + 1 for c in cnts.values()))
        return {
            s: round(math.log((c + 1) / tot) * 1e6)
            for s, c in cnts.items()
        }

    def segs(w):
        if not w:
            return [()]
        out = []
        for l in range(1, min(_UNI_MAX_PLEN, len(w)) + 1):
            if w[:l] in vocab:
                for rest in segs(w[l:]):
                    out.append((w[:l],) + rest)
        return out

    scores = rescore(vocab)
    best = {}
    for _ in range(_UNI_EM_STEPS):
        best = {
            w: min(
                segs(w),
                key=lambda sg: (
                    -sum(scores[p] for p in sg),
                    len(sg),
                    "|".join(sg),
                ),
            )
            for w in wc
        }
        cnts = {s: 0 for s in vocab}
        for w, sg in best.items():
            for p in sg:
                cnts[p] += wc[w]
        scores = rescore(cnts)
        final_cnts = cnts

    got_vocab, got_fert = _unigram_cached(spark, SF_SMOKE)
    gv = {r["piece"]: (r["cnt"], r["score"]) for r in got_vocab.collect()}
    assert set(gv) == set(vocab)
    for s in vocab:
        assert gv[s] == (final_cnts[s], scores[s]), (s, gv[s])
    gf = {
        r["word"]: (r["word_cnt"], r["n_pieces"], r["seg"])
        for r in got_fert.collect()
    }
    assert set(gf) == set(wc)
    for w in wc:
        assert gf[w] == (wc[w], len(best[w]), "|".join(best[w])), (w, gf[w])
    # non-vacuity: the trainer actually learned multi-char pieces
    assert any(len(p) > 1 and c > 0 for p, (c, _s) in gv.items())


def test_benford_audit_matches_numpy(spark):
    """Benford audit pinned from the definition: exact first-digit
    histogram + χ² terms recomputed with numpy over the raw parquet
    column (both engine sides share the SQL formulation; the pin does
    not)."""
    import math

    import pyarrow.parquet as pq

    from rs_streamloader_spark.operators.stats.association import (
        benford_first_digit_audit,
    )
    from tests.conftest import SF_SMOKE

    prices = pq.read_table(
        SF_SMOKE + "/lineitem.parquet", columns=["l_extendedprice"]
    ).to_pandas()["l_extendedprice"]
    digits = [
        int(str(int(round(p * 100)))[0]) for p in prices if p > 0
    ]
    n_tot = float(len(digits))
    got = {
        r["digit"]: r
        for r in benford_first_digit_audit(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(range(1, 10))
    for d in range(1, 10):
        n_d = digits.count(d)
        p_b = math.log(1 + 1 / d) / math.log(10)
        exp = n_tot * p_b
        assert got[d]["n"] == n_d, d
        assert got[d]["benford_p_nano"] == round(p_b * 1e9)
        assert got[d]["chi2_term_micro"] == round(
            (n_d - exp) ** 2 / exp * 1e6
        ), d
    # non-vacuity: the synthetic uniform prices genuinely violate
    # Benford (at least one digit's χ² term is enormous)
    assert max(r["chi2_term_micro"] for r in got.values()) > 10_000_000


def test_wasserstein_doclen_matches_numpy_definition(spark):
    """W1 pinned from the definition: for each source pair, compute
    the earth mover's distance over raw parquet lengths with numpy
    (mean |sorted-quantile| integral == CDF-area form) and check the
    micro-unit integer the engines agreed on. The pin shares NO code
    with either engine side — a grid slip, a cum/total swap, or a gap
    off-by-one both engines replicate would land here."""
    import numpy as np
    import pyarrow.parquet as pq

    from rs_streamloader_spark.operators.text import (
        wasserstein_doclen_sources,
    )
    from tests.conftest import SF_SMOKE

    t = pq.read_table(
        SF_SMOKE + "/documents.parquet", columns=["source", "text"]
    ).to_pandas()
    t = t[t["text"].str.len() > 0]
    t["v"] = t["text"].str.len().astype("int64")
    by_src = {s: np.sort(g["v"].to_numpy()) for s, g in t.groupby("source")}

    def w1(xs, ys):
        # CDF-area form on the merged grid (independent of the
        # engines' cum*n cross-multiplication formulation)
        grid = np.unique(np.concatenate([xs, ys]))
        fa = np.searchsorted(xs, grid, side="right") / len(xs)
        fb = np.searchsorted(ys, grid, side="right") / len(ys)
        gaps = np.diff(grid)
        return float(np.sum(np.abs(fa[:-1] - fb[:-1]) * gaps))

    got = {
        (r["source_a"], r["source_b"]): r
        for r in wasserstein_doclen_sources(spark, SF_SMOKE).collect()
    }
    srcs = sorted(by_src)
    assert len(got) == len(srcs) * (len(srcs) - 1) // 2
    checked_nonzero = 0
    for i, sa in enumerate(srcs):
        for sb in srcs[i + 1 :]:
            r = got[(sa, sb)]
            assert r["n_a"] == len(by_src[sa]) and r["n_b"] == len(
                by_src[sb]
            )
            expect = w1(by_src[sa], by_src[sb])
            # engine value is floor(1e6 * exact-rational); the numpy
            # float is within one ulp of the rational, so the integers
            # differ by at most 1
            assert abs(r["w1_micro"] - int(expect * 1e6)) <= 1, (sa, sb)
            if r["w1_micro"] > 0:
                checked_nonzero += 1
    # non-vacuity: the distances genuinely vary across pairs
    assert checked_nonzero >= 3


def test_curriculum_ntile_closed_form_matches_duckdb_on_edges(
    spark, tmp_path
):
    """The distributed-rank NTILE closed form vs DuckDB's native NTILE
    on the awkward shapes: N == k (all buckets 1), N % k != 0 (mixed
    ceil/floor buckets), and heavy length TIES straddling a bucket
    boundary (rank order inside a tie is doc_id in both engines)."""
    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    cases = [
        ["abc def"] * 1 + ["a b"] * 1 + ["xx yy zz"] * 3,  # N=5=k
        ["w" * (3 + i % 4) for i in range(13)],            # N=13, ties
        ["same text here"] * 12,                           # one giant tie
    ]
    for ci, texts in enumerate(cases):
        d = tmp_path / f"cur{ci}"
        d.mkdir()
        docs = pd.DataFrame(
            [
                {
                    "doc_id": i * 3,
                    "text": t,
                    "lang": "en",
                    "source": f"src{i % 4}",
                    "n_chars": len(t),
                }
                for i, t in enumerate(texts)
            ]
        )
        pq.write_table(
            pa.Table.from_pandas(docs, preserve_index=False),
            d / "documents.parquet",
        )
        got = (
            entry.queries()["curriculum_phase_audit"](spark, str(d))
            .toPandas()
            .sort_values("phase")
            .reset_index(drop=True)
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM"
            f" read_parquet('{d}/documents.parquet')"
        )
        want = (
            con.execute(entry.oracle_sql()["curriculum_phase_audit"])
            .df()
            .sort_values("phase")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            got.astype("int64"), want.astype("int64"), check_dtype=False
        ), ci


def test_sliced_wasserstein_rejects_a_wider_embedding(spark, monkeypatch):
    """The projection assumes EMB_DIM-wide vectors. One wider row must
    fail the query, never zip against a short sign array into a silent
    NULL projection; the same table at the fixed width runs."""
    import rs_streamloader_spark.operators.similarity as Sim

    def tables(widths):
        emb = spark.createDataFrame(
            [(i, [0.01 * (i + 1)] * w) for i, w in enumerate(widths)],
            "vec_id BIGINT, embedding ARRAY<DOUBLE>",
        )
        docs = spark.createDataFrame(
            [(i, "web" if i % 2 else "books") for i in range(len(widths))],
            "doc_id BIGINT, source STRING",
        )
        return lambda _s, _d, *names: {"embeddings": emb, "documents": docs}

    fixed = [Sim.EMB_DIM] * 6
    monkeypatch.setattr(Sim, "load_tables", tables(fixed))
    rows = Sim.sliced_wasserstein_embeddings(spark, "unused").collect()
    assert len(rows) == 1 and rows[0]["sw_micro"] is not None
    wide = fixed[:5] + [Sim.EMB_DIM + 1]
    monkeypatch.setattr(Sim, "load_tables", tables(wide))
    # AQE may wrap the raised error in a stage-materialization failure
    with pytest.raises(Exception, match="embedding width is not"):
        Sim.sliced_wasserstein_embeddings(spark, "unused").collect()


def test_sliced_wasserstein_matches_numpy_definition(spark):
    """Sliced-W1 pinned from the definition: signs re-derived with
    hashlib, projections as exact integer sums, per-slice binned W1
    via the CDF-area form over raw parquet — sharing no code with
    either engine side."""
    import hashlib as _hl

    import numpy as np
    import pyarrow.parquet as pq

    from rs_streamloader_spark.operators.similarity import (
        _SW_BIN_NANO,
        _SW_OFFSET,
        _SW_SLICES,
        sliced_wasserstein_embeddings,
    )
    from tests.conftest import SF_SMOKE

    emb = pq.read_table(
        SF_SMOKE + "/embeddings.parquet", columns=["vec_id", "embedding"]
    ).to_pandas()
    doc = pq.read_table(
        SF_SMOKE + "/documents.parquet", columns=["doc_id", "source"]
    ).to_pandas()
    m = emb.merge(doc, left_on="vec_id", right_on="doc_id")
    dim = len(m["embedding"].iloc[0])

    signs = np.array(
        [
            [
                1
                if int(
                    _hl.md5(f"sw|{k}:{i}".encode()).hexdigest()[0], 16
                ) % 2 == 0
                else -1
                for i in range(1, dim + 1)
            ]
            for k in range(_SW_SLICES)
        ],
        dtype=np.int64,
    )
    vn = np.array(
        [np.round(np.asarray(v, dtype=np.float64) * 1e9) for v in m["embedding"]],
        dtype=np.int64,
    )
    proj = vn @ signs.T  # (n_vecs, K) exact integer projections
    buckets = (proj + _SW_OFFSET) // _SW_BIN_NANO
    by_src = {
        s: buckets[idx.to_numpy()]
        for s, idx in m.groupby("source").groups.items()
    }

    def w1_binned(xa, xb):
        grid = np.unique(np.concatenate([xa, xb]))
        fa = np.searchsorted(np.sort(xa), grid, side="right") / len(xa)
        fb = np.searchsorted(np.sort(xb), grid, side="right") / len(xb)
        gaps = np.diff(grid)
        return float(np.sum(np.abs(fa[:-1] - fb[:-1]) * gaps))

    got = {
        (r["source_a"], r["source_b"]): r
        for r in sliced_wasserstein_embeddings(spark, SF_SMOKE).collect()
    }
    srcs = sorted(by_src)
    assert len(got) == len(srcs) * (len(srcs) - 1) // 2
    nonzero = 0
    for i, sa in enumerate(srcs):
        for sb in srcs[i + 1 :]:
            r = got[(sa, sb)]
            assert r["n_a"] == len(by_src[sa])
            assert r["n_b"] == len(by_src[sb])
            expect = np.mean(
                [
                    w1_binned(by_src[sa][:, k], by_src[sb][:, k])
                    for k in range(_SW_SLICES)
                ]
            )
            assert abs(r["sw_micro"] - int(expect * 1e6)) <= 1, (sa, sb)
            nonzero += r["sw_micro"] > 0
    assert nonzero >= 3  # non-vacuity: distances genuinely vary
