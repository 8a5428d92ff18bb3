"""Wave-22 tests: Python mirrors for position-based attribution, the
variance-ratio test, WoW growth, and weekly churn."""

from __future__ import annotations

import datetime
import math
from collections import defaultdict

from etl_data_ingestion_spark.functions.numeric import snap
from etl_data_ingestion_spark.plans import registry

from tests.helpers import event_rows

registry.load_all()


def test_position_attribution_matches_python(spark, sf_dir):
    rows = event_rows(spark, sf_dir)
    first_purchase: dict = {}
    for r in rows:
        if r.event_type == "purchase":
            k = (r.ts, r.event_id)
            if r.user_id not in first_purchase or k < first_purchase[r.user_id]:
                first_purchase[r.user_id] = k
    touches: dict = defaultdict(list)
    for r in rows:
        if r.event_type != "purchase" and r.user_id in first_purchase:
            if r.ts < first_purchase[r.user_id][0]:
                touches[r.user_id].append((r.ts, r.event_id, r.event_type))
    credit: dict = defaultdict(lambda: [0, 0])
    for u, fp in first_purchase.items():
        ts_list = sorted(touches.get(u, []))
        k = len(ts_list)
        if k == 0:
            credit["unattributed"][0] += 1
            credit["unattributed"][1] += 10**9
            continue
        for p, (_, _, et) in enumerate(ts_list, 1):
            if k == 1:
                c9 = 10**9
            elif k == 2:
                c9 = 500000000
            elif p in (1, k):
                c9 = 400000000
            else:
                c9 = math.floor(200000000.0 / (k - 2) + 0.5)
            credit[et][0] += 1
            credit[et][1] += c9
    got = {
        r.channel: (r.n_touches, r.attributed_conversions)
        for r in registry.QUERIES["events_attribution_position_based"](
            spark, sf_dir
        ).collect()
    }
    expect = {
        ch: (n, snap(c9 / 1e9, 4, math.floor)) for ch, (n, c9) in credit.items()
    }
    assert got == expect
    # total credited conversions ~= number of converting users
    total = sum(v[1] for v in got.values())
    assert abs(total - len(first_purchase)) < 0.01 * len(first_purchase) + 1


def test_variance_ratio_matches_python(spark, sf_dir):
    rows = event_rows(spark, sf_dir)
    daily: dict = defaultdict(float)
    for r in rows:
        daily[str(r.ts.date())] += r.value
    ys = [math.floor(daily[d] * 100 + 0.5) for d in sorted(daily)]
    d1 = [b - a for a, b in zip(ys, ys[1:])]
    d5 = [ys[i] - ys[i - 5] for i in range(5, len(ys))]
    n, n5 = len(d1), len(d5)
    mu = sum(d1) * 1.0 / n
    v1 = (sum(x * x for x in d1) * 1.0 - n * mu * mu) / n
    v5 = (
        sum(x * x for x in d5) * 1.0 - n5 * (5 * mu) * (5 * mu)
    ) / (n5 * 5.0)
    vr = v5 / v1
    z = (vr - 1.0) / math.sqrt(2.0 * 9 * 4 / (3.0 * 5 * n))
    [row] = registry.QUERIES["timeseries_variance_ratio"](
        spark, sf_dir
    ).collect()
    assert row.n_diffs == n
    assert abs(row.variance_ratio - snap(vr, 6, math.floor)) <= 2e-6
    assert abs(row.z_score - snap(z, 6, math.floor)) <= 2e-6


def test_wow_growth_matches_python(spark, sf_dir):
    rows = event_rows(spark, sf_dir)
    weekly: dict = defaultdict(float)
    for r in rows:
        d = r.ts.date()
        wk = d - datetime.timedelta(days=d.weekday())
        weekly[wk] += r.value
    wks = sorted(weekly)
    revs = [math.floor(weekly[w] * 100 + 0.5) for w in wks]
    got = [
        (r.week_start, r.revenue_cents, r.wow_growth, r.trailing4_mean)
        for r in registry.QUERIES["timeseries_wow_growth"](
            spark, sf_dir
        ).collect()
    ]
    assert len(got) == len(wks)
    for i, w in enumerate(wks):
        rev = revs[i]
        prev = revs[i - 1] if i else None
        growth = 0.0 if not prev else (rev - prev) * 1.0 / prev
        s4 = sum(revs[max(0, i - 3) : i + 1])
        c4 = min(i + 1, 4)
        # float re-sum in python can drift a snap step on the weekly
        # cents; integer fields must be exact
        assert got[i][0] == str(w)
        assert got[i][1] == rev
        assert abs(got[i][2] - snap(growth, 6, math.floor)) <= 2e-6
        assert abs(got[i][3] - snap(s4 * 1.0 / c4, 4, math.floor)) <= 2e-4


def test_churn_matches_python(spark, sf_dir):
    rows = event_rows(spark, sf_dir)
    uw = set()
    for r in rows:
        d = r.ts.date()
        wk = d - datetime.timedelta(days=d.weekday())
        uw.add((r.user_id, wk))
    weeks = sorted({w for _, w in uw})
    got = {
        r.week_start: (r.active_users, r.churned_users, r.churn_rate)
        for r in registry.QUERIES["events_churn_rate_weekly"](
            spark, sf_dir
        ).collect()
    }
    assert len(got) == len(weeks) - 1
    for w in weeks[:-1]:
        users = {u for u, ww in uw if ww == w}
        churned = {
            u for u in users if (u, w + datetime.timedelta(days=7)) not in uw
        }
        rate = snap(len(churned) * 1.0 / len(users), 6, math.floor)
        assert got[str(w)] == (len(users), len(churned), rate), w
