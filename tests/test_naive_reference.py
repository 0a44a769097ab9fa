"""Independent naive-reference checks for the rank-statistic battery.

The DuckDB oracles deliberately share each query's closed-form
construction (that is what makes them bit-exact), so a bug IN the
construction would pass the gate on both engines. These tests compare
the Spark queries against brute-force O(n²)/sorted-list Python
implementations of the TEXTBOOK definitions on seeded random data with
heavy tie density — same answers, independently derived.
"""

import random

import pytest

SEED = 42


def _rng():
    return random.Random(SEED)


def _write(spark, path, name, rows, schema):
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        str(path / f"{name}.parquet")
    )


def _tie_ranks(values):
    """Textbook tie-averaged ranks, dict value -> average rank."""
    s = sorted(values)
    ranks = {}
    i = 0
    while i < len(s):
        j = i
        while j < len(s) and s[j] == s[i]:
            j += 1
        ranks[s[i]] = (i + 1 + j) / 2  # average of ranks i+1 .. j
        i = j
    return ranks


def test_mann_whitney_vs_pair_counting(spark, tmp_path):
    """U_A from the doubled-rank construction equals the O(n²) pair
    count #{a > b} + ½·#{a = b} (the definitional form)."""
    from locopy_spark.queries.stats import KS_SEG_A, KS_SEG_B, q_mann_whitney

    r = _rng()
    # price grid of 40 values over 300 orders -> heavy ties
    cust, orders = [], []
    xs, ys = [], []
    for i in range(300):
        seg = KS_SEG_A if r.random() < 0.5 else KS_SEG_B
        # shifted distributions so U is informative
        v = r.randrange(40) + (3 if seg == KS_SEG_A else 0)
        cust.append((i, seg))
        orders.append((i, v / 1000.0))  # SCALE=1000 -> integer v exactly
        (xs if seg == KS_SEG_A else ys).append(v)
    _write(spark, tmp_path, "customer", cust, "c_custkey long, c_mktsegment string")
    _write(spark, tmp_path, "orders", orders, "o_custkey long, o_totalprice double")
    got = q_mann_whitney(spark, str(tmp_path)).collect()[0]
    u_x2 = sum(
        2 if a > b else (1 if a == b else 0) for a in xs for b in ys
    )
    tie_t = 0
    from collections import Counter

    for t in Counter(xs + ys).values():
        tie_t += t * t * t - t
    assert (got.n_a, got.n_b) == (len(xs), len(ys))
    assert got.u_a_x2 == u_x2
    assert got.ties_t == tie_t


def test_spearman_vs_textbook_ranks(spark, tmp_path):
    """rho from centered doubled ranks equals the Pearson correlation
    of textbook tie-averaged ranks computed in Python floats."""
    from locopy_spark.queries.stats import q_spearman

    r = _rng()
    orders, lineitem = [], []
    xs, ys = [], []
    for i in range(200):
        price = r.randrange(30) / 1000.0
        n_lines = r.randrange(1, 6)
        orders.append((i, price))
        lineitem += [(i,)] * n_lines
        xs.append(round(price * 1000))
        ys.append(n_lines)
    _write(spark, tmp_path, "orders", orders, "o_orderkey long, o_totalprice double")
    _write(spark, tmp_path, "lineitem", lineitem, "l_orderkey long")
    got = q_spearman(spark, str(tmp_path)).collect()[0]
    rx = _tie_ranks(xs)
    ry = _tie_ranks(ys)
    a = [rx[v] for v in xs]
    b = [ry[v] for v in ys]
    n = len(a)
    sa, sb = sum(a), sum(b)
    num = n * sum(x * y for x, y in zip(a, b)) - sa * sb
    den = (
        (n * sum(x * x for x in a) - sa * sa)
        * (n * sum(y * y for y in b) - sb * sb)
    ) ** 0.5
    assert got.n == n
    assert got.rho == pytest.approx(num / den, rel=1e-12)


def test_wilcoxon_vs_textbook_signed_rank(spark, tmp_path):
    """W⁺ from the doubled construction equals the textbook sum of
    tie-averaged |d| ranks over positive differences."""
    from locopy_spark.queries.stats import WILCOXON_SPLIT, q_wilcoxon

    r = _rng()
    early, late = "1994-06-01", "1996-06-01"
    orders = []
    diffs = []
    for i in range(250):
        x = r.randrange(25)
        y = r.randrange(25)
        if x:
            orders.append((i, x / 1000.0, early))
        if y:
            orders.append((i, y / 1000.0, late))
        if x or y:
            d = y - x
            if d != 0:
                diffs.append(d)
    import pyspark.sql.functions as F

    spark.createDataFrame(
        orders, "o_custkey long, o_totalprice double, o_orderdate string"
    ).withColumn(
        "o_orderdate", F.col("o_orderdate").cast("date")
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    got = q_wilcoxon(spark, str(tmp_path)).collect()[0]
    ranks = _tie_ranks([abs(d) for d in diffs])
    w_plus = sum(ranks[abs(d)] for d in diffs if d > 0)
    from collections import Counter

    tie_t = sum(
        t * t * t - t for t in Counter(abs(d) for d in diffs).values()
    )
    assert got.n_pairs == len(diffs)
    assert got.w_plus_x2 == round(2 * w_plus)
    assert got.ties_t == tie_t


def test_ks_vs_naive_ecdf(spark, tmp_path):
    """d_ppb equals floor(1e9 · max|F_A − F_B|) from a direct ECDF
    sweep in exact integer arithmetic."""
    from locopy_spark.queries.stats import KS_SEG_A, KS_SEG_B, q_ks_test

    r = _rng()
    cust, orders = [], []
    xs, ys = [], []
    for i in range(300):
        seg = KS_SEG_A if r.random() < 0.4 else KS_SEG_B
        v = r.randrange(50) + (5 if seg == KS_SEG_A else 0)
        cust.append((i, seg))
        orders.append((i, v / 1000.0))
        (xs if seg == KS_SEG_A else ys).append(v)
    _write(spark, tmp_path, "customer", cust, "c_custkey long, c_mktsegment string")
    _write(spark, tmp_path, "orders", orders, "o_custkey long, o_totalprice double")
    got = q_ks_test(spark, str(tmp_path)).collect()[0]
    na, nb = len(xs), len(ys)
    best = 0
    for v in sorted(set(xs + ys)):
        ca = sum(1 for x in xs if x <= v)
        cb = sum(1 for y in ys if y <= v)
        best = max(best, abs(ca * nb - cb * na))
    assert (got.n_a, got.n_b) == (na, nb)
    assert got.d_ppb == best * 10**9 // (na * nb)


def test_runs_vs_naive_sweep(spark, tmp_path):
    """Run count / split equals a direct Python sweep over the
    day-ordered series around its lower median."""
    from locopy_spark.queries.stats import q_runs_test

    r = _rng()
    import datetime as dt

    base = dt.date(1995, 1, 1)
    vals = [float(r.randrange(1, 12)) for _ in range(60)]
    orders = [
        (base + dt.timedelta(days=i), v) for i, v in enumerate(vals)
    ]
    _write(spark, tmp_path, "orders", orders, "o_orderdate date, o_totalprice double")
    got = q_runs_test(spark, str(tmp_path)).collect()[0]
    daily = [round(v) for v in vals]  # whole units, one order per day
    med = sorted(daily)[(len(daily) + 1) // 2 - 1]  # lower median
    signs = [x > med for x in daily]
    runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
    assert (got.n_days, got.runs) == (len(daily), runs)
    assert got.n_above == sum(signs)


def test_autocorr_vs_naive_pearson(spark, tmp_path):
    """Per-lag acf equals a direct Python Pearson over the lagged
    pairs of the daily series."""
    from locopy_spark.queries.stats import ACF_MAX_LAG, q_autocorr

    r = _rng()
    import datetime as dt

    base = dt.date(1995, 1, 1)
    vals = [float(r.randrange(1, 50)) for _ in range(40)]
    orders = [
        (base + dt.timedelta(days=i), v) for i, v in enumerate(vals)
    ]
    _write(spark, tmp_path, "orders", orders, "o_orderdate date, o_totalprice double")
    out = {row.lag: row for row in q_autocorr(spark, str(tmp_path)).collect()}
    series = [round(v) for v in vals]
    for lag in range(1, ACF_MAX_LAG + 1):
        a = series[:-lag]
        b = series[lag:]
        n = len(a)
        sa, sb = sum(a), sum(b)
        num = n * sum(x * y for x, y in zip(a, b)) - sa * sb
        den = (
            (n * sum(x * x for x in a) - sa * sa)
            * (n * sum(y * y for y in b) - sb * sb)
        ) ** 0.5
        assert out[lag].n == n, lag
        assert out[lag].acf == pytest.approx(num / den, rel=1e-12), lag


def test_gini_vs_naive_formula(spark, tmp_path):
    """gini_ppb equals the direct ⌊Σ(2i−n−1)xᵢ·10⁹/(n·Σx)⌋ over the
    ascending-sorted per-customer revenues (orderless customers at
    zero) computed with Python bigints."""
    from locopy_spark.queries.stats import q_gini

    r = _rng()
    segs = ["BUILDING", "MACHINERY"]
    cust, orders = [], []
    by_seg = {s: [] for s in segs}
    for i in range(120):
        seg = segs[i % 2]
        cust.append((i, seg))
        rev = 0
        for _ in range(r.randrange(0, 4)):  # 0 orders -> zero revenue
            v = r.randrange(1, 500)
            orders.append((i, v / 1000.0))
            rev += v
        by_seg[seg].append(rev)
    _write(spark, tmp_path, "customer", cust, "c_custkey long, c_mktsegment string")
    _write(spark, tmp_path, "orders", orders, "o_custkey long, o_totalprice double")
    out = {r_.c_mktsegment: r_ for r_ in q_gini(spark, str(tmp_path)).collect()}
    for seg in segs:
        xs = sorted(by_seg[seg])
        n = len(xs)
        num = sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(xs))
        want = num * 10**9 // (n * sum(xs))
        assert out[seg].n_customers == n, seg
        assert out[seg].gini_ppb == want, seg


def test_weighted_quantiles_vs_naive_sweep(spark, tmp_path):
    """wp25/wmedian/wp75 equal a direct cumulative-weight sweep
    (first value whose inclusive cumulative weight reaches k·W/4)."""
    from locopy_spark.queries.stats import q_weighted_quantiles

    r = _rng()
    rows = []
    items = []
    for i in range(150):
        v = r.randrange(1, 40)  # milli-unit price -> heavy ties
        w = r.randrange(1, 6)
        rows.append((i, 1, "A", v / 1000.0, float(w)))
        items.append((v, i, 1, w))
    _write(
        spark, tmp_path, "lineitem", rows,
        "l_orderkey long, l_linenumber long, l_returnflag string,"
        " l_extendedprice double, l_quantity double",
    )
    got = q_weighted_quantiles(spark, str(tmp_path)).collect()[0]
    items.sort()
    W = sum(w for _, _, _, w in items)
    for k, field in ((1, "wp25"), (2, "wmedian"), (3, "wp75")):
        cum = 0
        pick = None
        for v, _, _, w in items:
            cum += w
            if 4 * cum >= k * W:
                pick = v
                break
        assert getattr(got, field) == pytest.approx(pick / 1000.0), field


def test_kendall_tau_vs_brute_force_pairs(spark, tmp_path):
    """C/D from the 2-D grid prefix-sum device equal the O(n²)
    definitional pair counts, and tau-b matches the textbook close."""
    from locopy_spark.queries.assoc import q_kendall_tau

    r = _rng()
    orders, lineitem = [], []
    pts = []
    for i in range(250):
        cents = r.randrange(30)  # heavy x ties
        n_lines = r.randrange(1, 6)
        orders.append((i, cents / 100.0))
        lineitem += [(i,)] * n_lines
        pts.append((cents, n_lines))
    _write(spark, tmp_path, "orders", orders,
           "o_orderkey long, o_totalprice double")
    _write(spark, tmp_path, "lineitem", lineitem, "l_orderkey long")
    got = q_kendall_tau(spark, str(tmp_path)).collect()[0]
    C = D = 0
    n = len(pts)
    for i in range(n):
        for j in range(i + 1, n):
            (x1, y1), (x2, y2) = pts[i], pts[j]
            if (x1 < x2 and y1 < y2) or (x1 > x2 and y1 > y2):
                C += 1
            elif (x1 < x2 and y1 > y2) or (x1 > x2 and y1 < y2):
                D += 1
    from collections import Counter

    n1x2 = sum(t * (t - 1) for t in Counter(x for x, _ in pts).values())
    n1y2 = sum(t * (t - 1) for t in Counter(y for _, y in pts).values())
    assert (got.n, got.concordant, got.discordant) == (n, C, D)
    den = (
        ((n * (n - 1) - n1x2) / 2.0) ** 0.5
        * ((n * (n - 1) - n1y2) / 2.0) ** 0.5
    )
    assert got.tau_b == pytest.approx((C - D) / den, rel=1e-12)


def test_mann_kendall_vs_brute_force(spark, tmp_path):
    """S and Var·18 from the bounded pair join equal the textbook
    definitional sums."""
    from locopy_spark.queries.assoc import q_mann_kendall

    import datetime as dt

    r = _rng()
    base = dt.date(1995, 1, 1)
    orders = []
    series = []
    for d in range(120):
        # mild upward drift + ties (integer dollars)
        v = r.randrange(10) + d // 20
        orders.append((base + dt.timedelta(days=d), float(v)))
        series.append(v)
    _write(spark, tmp_path, "orders", orders,
           "o_orderdate date, o_totalprice double")
    got = q_mann_kendall(spark, str(tmp_path)).collect()[0]
    n = len(series)
    S = sum(
        (series[j] > series[i]) - (series[j] < series[i])
        for i in range(n)
        for j in range(i + 1, n)
    )
    from collections import Counter

    tie = sum(
        t * (t - 1) * (2 * t + 5) for t in Counter(series).values()
    )
    var18 = n * (n - 1) * (2 * n + 5) - tie
    assert (got.n_days, got.s_stat, got.var18) == (n, S, var18)
    import math

    zc = (S - (1 if S > 0 else -1 if S < 0 else 0)) / math.sqrt(var18 / 18.0)
    assert got.z == pytest.approx(zc, rel=1e-12)


def test_kruskal_wallis_vs_textbook_ranks(spark, tmp_path):
    """H from the doubled-rank pivot equals the textbook tie-averaged
    rank computation in Python floats."""
    from locopy_spark.queries.assoc import KW_SEGMENTS, q_kruskal_wallis

    r = _rng()
    cust, orders = [], []
    by_seg = {s: [] for s in KW_SEGMENTS}
    for i in range(400):
        seg = KW_SEGMENTS[r.randrange(len(KW_SEGMENTS))]
        v = r.randrange(30) + (2 if seg == "BUILDING" else 0)
        cust.append((i, seg))
        orders.append((i, v / 1000.0))
        by_seg[seg].append(v)
    _write(spark, tmp_path, "customer", cust,
           "c_custkey long, c_mktsegment string")
    _write(spark, tmp_path, "orders", orders,
           "o_custkey long, o_totalprice double")
    got = q_kruskal_wallis(spark, str(tmp_path)).collect()[0]
    pooled = [v for vs in by_seg.values() for v in vs]
    ranks = _tie_ranks(pooled)
    n = len(pooled)
    H = (
        12.0
        / (n * (n + 1))
        * sum(
            sum(ranks[v] for v in vs) ** 2 / len(vs)
            for vs in by_seg.values()
            if vs
        )
        - 3.0 * (n + 1)
    )
    from collections import Counter

    tie_t = sum(t * t * t - t for t in Counter(pooled).values())
    hc = H / (1.0 - tie_t / (n**3 - n))
    assert got.n == n
    for s in KW_SEGMENTS:
        assert getattr(got, f"n_{s.lower()}") == len(by_seg[s]), s
        assert getattr(got, f"r2_{s.lower()}") == round(
            2 * sum(ranks[v] for v in by_seg[s])
        ), s
    assert got.h == pytest.approx(H, rel=1e-9)
    assert got.h_tie_corrected == pytest.approx(hc, rel=1e-9)


def test_kaplan_meier_vs_naive_product(spark, tmp_path):
    """n_risk/d/c equal brute-force sweeps and the ppb fixed-point
    survival tracks the float KM product within the documented
    per-step floor error."""
    from locopy_spark.queries.assoc import KM_CHURN_DAYS, q_kaplan_meier

    import datetime as dt

    r = _rng()
    base = dt.date(1995, 1, 1)
    horizon = base + dt.timedelta(days=400)
    orders = []
    lives = []
    for i in range(200):
        first = r.randrange(0, 300)
        span = r.randrange(0, 80)
        last = first + span
        orders.append((i, base + dt.timedelta(days=first)))
        orders.append((i, base + dt.timedelta(days=last)))
        lives.append((span, last))
    # pin the dataset horizon so censoring is deterministic
    orders.append((10**6, horizon))
    lives.append((0, 400))
    _write(spark, tmp_path, "orders", orders,
           "o_custkey long, o_orderdate date")
    rows = q_kaplan_meier(spark, str(tmp_path)).collect()
    events = [
        (t, int(400 - last > KM_CHURN_DAYS)) for t, last in lives
    ]
    times = sorted({t for t, _ in events})
    surv = 1.0
    exact_s = 10**9
    by_t = {}
    for t in times:
        n_risk = sum(1 for tt, _ in events if tt >= t)
        d = sum(1 for tt, ev in events if tt == t and ev)
        c = sum(1 for tt, ev in events if tt == t and not ev)
        surv *= (n_risk - d) / n_risk
        exact_s = exact_s * (n_risk - d) // n_risk
        by_t[t] = (n_risk, d, c, surv, exact_s)
    assert [r_.t for r_ in rows] == times
    for r_ in rows:
        n_risk, d, c, surv, exact_s = by_t[r_.t]
        assert (r_.n_risk, r_.d_events, r_.c_censored) == (n_risk, d, c)
        assert r_.surv_ppb == exact_s
        assert r_.survival == pytest.approx(surv, abs=1e-6)


def test_seasonal_decompose_vs_naive_windows(spark, tmp_path):
    """Per-DOW seasonal numerators equal a brute-force sweep over the
    daily series with explicit ±3-day windows (gap days drop the
    window instead of shifting it)."""
    from locopy_spark.queries.trends import q_seasonal_decompose

    import datetime as dt

    r = _rng()
    base = dt.date(1995, 1, 2)  # a Monday
    orders = []
    series = {}
    for d in range(90):
        if r.random() < 0.12:
            continue  # calendar gap
        v = 40 + (d % 7) * 3 + r.randrange(5)  # weekly shape + noise
        orders.append((base + dt.timedelta(days=d), float(v)))
        series[(base + dt.timedelta(days=d) - dt.date(1970, 1, 1)).days] = (
            v * 100
        )
    _write(spark, tmp_path, "orders", orders,
           "o_orderdate date, o_totalprice double")
    rows = {
        r_.dow: r_ for r_ in q_seasonal_decompose(spark, str(tmp_path)).collect()
    }
    want = {}
    for day, x in series.items():
        window = [series[day + k] for k in range(-3, 4) if day + k in series]
        if len(window) != 7:
            continue
        dow = (day + 4) % 7
        n, s = want.get(dow, (0, 0))
        want[dow] = (n + 1, s + 7 * x - sum(window))
    assert set(rows) == set(want)
    for dow, (n, s) in want.items():
        assert rows[dow].n_windows == n, dow
        assert rows[dow].s_num == s, dow
        assert rows[dow].seasonal_dollars == pytest.approx(
            s / (7.0 * n) / 100.0
        ), dow


def test_degree_dist_vs_naive_graph(spark, tmp_path):
    """Degree histogram equals the brute-force count over explicit
    co-purchase baskets."""
    from locopy_spark.queries.mining import q_degree_dist

    r = _rng()
    lineitem = []
    baskets = []
    for ok in range(60):
        parts = sorted({r.randrange(30) for _ in range(r.randrange(1, 6))})
        baskets.append(parts)
        lineitem += [(ok, p) for p in parts]
    _write(spark, tmp_path, "lineitem", lineitem,
           "l_orderkey long, l_partkey long")
    rows = q_degree_dist(spark, str(tmp_path)).collect()
    edges = set()
    for parts in baskets:
        for i in range(len(parts)):
            for j in range(i + 1, len(parts)):
                edges.add((parts[i], parts[j]))
    from collections import Counter

    deg = Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    hist = Counter(deg.values())
    n_v, sum_d = len(deg), sum(deg.values())
    assert {(r_.degree, r_.n_vertices) for r_ in rows} == set(hist.items())
    for r_ in rows:
        assert r_.vertex_share_ppm == r_.n_vertices * 10**6 // n_v
        assert (
            r_.endpoint_share_ppm
            == r_.n_vertices * r_.degree * 10**6 // sum_d
        )


def test_code_detect_vs_hand_counts(spark, tmp_path):
    """Marker counting via replace-length arithmetic equals direct
    str.count, including the empty-doc guard."""
    from locopy_spark.queries.docs_ext import (
        CODE_TAU_PPM,
        t_code_detect,
    )

    docs = [
        (1, "def f(x): return x;  # {tiny}", "en", "code", 0),
        (2, "plain prose sentence with no markers at all", "en", "code", 0),
        (3, "", "en", "empty", 0),
        (4, "x = (a); y = (b); z = {c};", "en", "code", 0),
    ]
    _write(spark, tmp_path, "documents", docs,
           "doc_id long, text string, lang string, source string,"
           " n_chars long")
    rows = {r_.source: r_ for r_ in t_code_detect(spark, str(tmp_path)).collect()}
    import collections

    by_src = collections.defaultdict(list)
    for _, text, _, src, _ in docs:
        c = sum(text.count(m) for m in ";{}=(")
        by_src[src].append(c * 10**6 // max(len(text), 1))
    for src, scores in by_src.items():
        n_code = sum(s >= CODE_TAU_PPM for s in scores)
        assert rows[src].n_docs == len(scores), src
        assert rows[src].n_code == n_code, src
        assert rows[src].mean_score_ppm == sum(scores) // len(scores), src


def test_kcore_vs_naive_peeling(spark, tmp_path):
    """The fixed-iteration cascade equals a brute-force Python peel on
    a random basket graph (threshold = exact p10 degree, rank
    ceil(n/10) under the (d, v) order)."""
    from locopy_spark.queries.mining import KCORE_ITERS, q_kcore

    r = _rng()
    rows = []
    for o in range(60):
        parts = r.sample(range(30), r.randrange(2, 6))
        rows.extend((o, p) for p in parts)
    _write(spark, tmp_path, "lineitem", rows, "l_orderkey long, l_partkey long")
    got = [tuple(x) for x in q_kcore(spark, str(tmp_path)).collect()]

    baskets = {}
    for o, p in rows:
        baskets.setdefault(o, set()).add(p)
    edges = {
        (a, b)
        for ps in baskets.values()
        for a in ps
        for b in ps
        if a < b
    }
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    ranked = sorted((d, v) for v, d in deg.items())
    k = ranked[(len(ranked) + 9) // 10 - 1][0]
    want = [(0, k, len(deg), len(edges))]
    cur = edges
    for i in range(1, KCORE_ITERS + 1):
        di = {}
        for a, b in cur:
            di[a] = di.get(a, 0) + 1
            di[b] = di.get(b, 0) + 1
        surv = {v for v, d in di.items() if d >= k}
        cur = {(a, b) for a, b in cur if a in surv and b in surv}
        want.append((i, k, len(surv), len(cur)))
    assert got == want
    # broadcast opt-in arm (shuffle-dominated topologies): identical
    # cascade
    got2 = [
        tuple(x)
        for x in q_kcore(
            spark, str(tmp_path), broadcast_survivors=True
        ).collect()
    ]
    assert got2 == want


def test_kcore_empty_edges_matches_oracle(spark, tmp_path):
    """An edge-free co-purchase graph (every basket holds one part, and
    a fully empty lineitem) gives the same report on both engines:
    ``KCORE_ITERS + 1`` zero-count rows whose ``k`` is NULL."""
    import duckdb

    from locopy_spark.queries.mining import KCORE_ITERS, _kcore_oracle, q_kcore

    want = [(i, None, 0, 0) for i in range(KCORE_ITERS + 1)]
    for name, rows in (("single", [(o, o % 7) for o in range(20)]), ("empty", [])):
        d = tmp_path / name
        d.mkdir()
        _write(spark, d, "lineitem", rows, "l_orderkey long, l_partkey long")
        got = [tuple(x) for x in q_kcore(spark, str(d)).collect()]
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW lineitem AS SELECT * FROM "
                f"'{d / 'lineitem.parquet'}/*.parquet'"
            )
            oracle = [tuple(x) for x in con.execute(_kcore_oracle()).fetchall()]
        finally:
            con.close()
        assert got == oracle == want, name


def test_pattern_negation_vs_naive_scan(spark, tmp_path):
    """Clean-path conversion equals a per-user brute-force scan with
    explicit strictly-after minima, including same-microsecond ties."""
    import datetime as dt

    from locopy_spark.queries.events_ext import (
        PATTERN_WINDOW_US,
        q_pattern_negation,
    )

    r = _rng()
    base = dt.datetime(1995, 1, 2)
    evs = []
    for i in range(400):
        u = r.randrange(12)
        # coarse second grid -> deliberate exact-tie collisions
        t = base + dt.timedelta(seconds=r.randrange(50) * 86_400 // 3)
        typ = r.choice(["view", "purchase", "error", "click"])
        evs.append((i, t, u, typ))
    _write(spark, tmp_path, "events", evs,
           "event_id long, ts timestamp_ntz, user_id long, event_type string")
    got = {
        x.weekday: (x.n_views, x.n_conv, x.n_clean)
        for x in q_pattern_negation(spark, str(tmp_path)).collect()
    }

    def eus(t):
        return int((t - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)

    byu = {}
    for _, t, u, typ in evs:
        byu.setdefault(u, []).append((eus(t), typ))
    want = {}
    for u, rows_u in byu.items():
        for e0, typ in rows_u:
            if typ != "view":
                continue
            after_p = [e for e, t2 in rows_u if t2 == "purchase" and e > e0]
            after_e = [e for e, t2 in rows_u if t2 == "error" and e > e0]
            np_ = min(after_p) if after_p else None
            ne = min(after_e) if after_e else None
            conv = np_ is not None and np_ - e0 <= PATTERN_WINDOW_US
            blocked = ne is not None and np_ is not None and ne < np_
            wd = ((e0 // 86_400_000_000) + 4) % 7
            v, c, cl = want.get(wd, (0, 0, 0))
            want[wd] = (
                v + 1,
                c + int(conv),
                cl + int(conv and not blocked),
            )
    assert got == want and sum(v for v, _, _ in want.values()) > 50


def test_boilerplate_vs_naive_counts(spark, tmp_path):
    """Per-source boilerplate profile equals hand counting on a
    corpus with a planted repeated span."""
    from locopy_spark.queries.docs_ext import (
        BOILER_K,
        BOILER_MIN_DF,
        t_boilerplate,
    )

    assert (BOILER_K, BOILER_MIN_DF) == (3, 3)
    docs = [
        # srcA: "x y z" planted in 3 of 4 docs -> boilerplate
        (0, "x y z a b c", "en", "srcA", 11),
        (1, "p q x y z r", "en", "srcA", 11),
        (2, "x y z x y z", "en", "srcA", 11),  # span repeated in-doc: df +1 only
        (3, "no shared span here", "en", "srcA", 19),
        # srcB: pair repeats only twice -> below the cut
        (4, "u v w m n", "en", "srcB", 9),
        (5, "u v w k l", "en", "srcB", 9),
        (6, "short", "en", "srcB", 5),  # < K tokens: no spans
    ]
    _write(spark, tmp_path, "documents", docs,
           "doc_id long, text string, lang string, source string, n_chars int")
    got = {
        x.source: (
            x.n_docs, x.n_boiler_spans, x.max_df, x.docs_affected,
            x.affected_ppm,
        )
        for x in t_boilerplate(spark, str(tmp_path)).collect()
    }
    assert got == {
        "srcA": (4, 1, 3, 3, 750000),
        "srcB": (3, 0, 0, 0, 0),
    }


def test_rrf_fusion_vs_naive(spark, tmp_path):
    """Fused ranking equals a brute-force Python implementation of
    both arms (exact idf overlap + fixed-point cosine) and the
    reciprocal-rank formula."""
    from locopy_spark.functions.vectors import FIXED_SCALE
    from locopy_spark.queries.docs import KNN_QUERY_IDS
    from locopy_spark.queries.docs_ext import (
        RRF_K0,
        RRF_POOL,
        RRF_TOPK,
        s_rrf_fusion,
    )

    r = _rng()
    vocab = ["red", "blue", "green", "disk", "table", "spark", "row"]
    docs, embs = [], []
    for i in range(40):
        words = [vocab[r.randrange(len(vocab))] for _ in range(8)]
        docs.append((i, " ".join(words), "en", "s0", 8))
        embs.append((i, [r.uniform(-1, 1) for _ in range(4)], i % 3))
    _write(spark, tmp_path, "documents", docs,
           "doc_id long, text string, lang string, source string, n_chars int")
    _write(spark, tmp_path, "embeddings", embs,
           "vec_id long, embedding array<float>, label int")
    got = [
        (x.query_id, x.doc_id, x.rank_lex, x.rank_vec, x.rrf_ppm, x.rk)
        for x in s_rrf_fusion(spark, str(tmp_path)).collect()
    ]

    import struct

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    toks = {i: set(t.split()) for i, t, *_ in docs}
    n_docs = len(docs)
    df = {}
    for ts in toks.values():
        for t in ts:
            df[t] = df.get(t, 0) + 1
    vecs = {i: [f32(x) for x in v] for i, v, _ in embs}

    def fdot(a, b):
        import math

        return sum(
            math.floor(x * y * FIXED_SCALE + 0.5) for x, y in zip(a, b)
        )

    want = []
    for q in KNN_QUERY_IDS:
        lex = sorted(
            (
                -sum(
                    (n_docs - df[t]) * 1_000_000 // df[t]
                    for t in toks[q] & toks[d]
                ),
                d,
            )
            for d in toks
            if d != q and toks[q] & toks[d]
        )
        rank_lex = {d: i + 1 for i, (_, d) in enumerate(lex[:RRF_POOL])}
        import math

        vq = vecs[q]
        nv = {d: fdot(v, v) for d, v in vecs.items()}
        vec = sorted(
            (-(fdot(vq, vecs[d]) / math.sqrt(nv[q] * nv[d])), d)
            for d in vecs
            if d != q
        )
        rank_vec = {d: i + 1 for i, (_, d) in enumerate(vec[:RRF_POOL])}
        fused = sorted(
            (
                -(
                    (1_000_000 // (RRF_K0 + rank_lex[d]) if d in rank_lex else 0)
                    + (1_000_000 // (RRF_K0 + rank_vec[d]) if d in rank_vec else 0)
                ),
                d,
            )
            for d in set(rank_lex) | set(rank_vec)
        )
        for i, (nscore, d) in enumerate(fused[:RRF_TOPK]):
            want.append(
                (q, d, rank_lex.get(d, 0), rank_vec.get(d, 0), -nscore, i + 1)
            )
    assert got == want


def test_mmr_diversify_vs_naive_greedy(spark, tmp_path):
    """The greedy MMR trajectory equals a brute-force Python replay
    (same integer scores, same tie-breaks)."""
    import math
    import struct

    from locopy_spark.functions.vectors import FIXED_SCALE
    from locopy_spark.queries.docs import KNN_QUERY_IDS
    from locopy_spark.queries.docs_ext import (
        MMR_POOL,
        MMR_REL_NUM,
        MMR_SIM_NUM,
        MMR_TOPK,
        RRF_K0,
        s_mmr_diversify,
    )

    r = _rng()
    embs = []
    for i in range(30):
        # three tight clusters -> diversity picks must hop clusters
        c = i % 3
        base = [1.0 if j == c else 0.05 for j in range(4)]
        embs.append(
            (i, [b + r.uniform(-0.05, 0.05) for b in base], c)
        )
    _write(spark, tmp_path, "embeddings", embs,
           "vec_id long, embedding array<float>, label int")
    got = [
        (x.query_id, x.doc_id, x.step, x.mmr_score)
        for x in s_mmr_diversify(spark, str(tmp_path)).collect()
    ]

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    vecs = {i: [f32(v) for v in vs] for i, vs, _ in embs}

    def fdot(a, b):
        return sum(
            math.floor(x * y * FIXED_SCALE + 0.5) for x, y in zip(a, b)
        )

    nv = {i: fdot(v, v) for i, v in vecs.items()}

    def cos(a, b):
        return fdot(vecs[a], vecs[b]) / math.sqrt(float(nv[a]) * float(nv[b]))

    want = []
    for q in KNN_QUERY_IDS:
        pool = sorted((-cos(q, d), d) for d in vecs if d != q)[:MMR_POOL]
        cands = [d for _, d in pool]
        rel = {
            d: 1_000_000 // (RRF_K0 + i + 1) for i, d in enumerate(cands)
        }
        sim = {
            (a, b): math.floor(cos(a, b) * 1_000_000)
            for a in cands
            for b in cands
            if a != b
        }
        selected = [cands[0]]
        want.append((q, cands[0], 1, MMR_REL_NUM * rel[cands[0]]))
        for step in range(2, MMR_TOPK + 1):
            best = None
            for d in cands:
                if d in selected:
                    continue
                score = MMR_REL_NUM * rel[d] - MMR_SIM_NUM * max(
                    sim[(d, s)] for s in selected
                )
                key = (-score, d)
                if best is None or key < best:
                    best = key
            score, d = -best[0], best[1]
            selected.append(d)
            want.append((q, d, step, score))
    assert got == want


def test_sessions_concurrent_vs_naive_sweep(spark, tmp_path):
    """Per-day peaks equal a brute-force sweep over explicitly
    enumerated session intervals (carry-in across midnight counted)."""
    import datetime as dt

    from locopy_spark.queries.events_ext import q_sessions_concurrent

    r = _rng()
    base = dt.datetime(1995, 3, 1)
    evs = []
    for i in range(500):
        u = r.randrange(8)
        t = base + dt.timedelta(minutes=r.randrange(4 * 24 * 60))
        evs.append((i, t, u, "click", 1.0))
    _write(spark, tmp_path, "events", evs,
           "event_id long, ts timestamp_ntz, user_id long,"
           " event_type string, value double")
    got = {
        x.day: x.peak_concurrency
        for x in q_sessions_concurrent(spark, str(tmp_path)).collect()
    }

    def eus(t):
        return int((t - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)

    gap = 30 * 60 * 1_000_000
    byu = {}
    for _, t, u, _t, _v in evs:
        byu.setdefault(u, []).append(eus(t))
    ivals = []
    for ts in byu.values():
        ts.sort()
        st = prev = ts[0]
        for x in ts[1:]:
            if x - prev > gap:
                ivals.append((st, prev))
                st = x
            prev = x
        ivals.append((st, prev))
    deltas = {}
    for st, en in ivals:
        deltas[st] = deltas.get(st, 0) + 1
        deltas[en + 1] = deltas.get(en + 1, 0) - 1
    want = {}
    v = 0
    for t in sorted(deltas):
        carry = v
        v += deltas[t]
        day = t // 86_400_000_000
        want[day] = max(want.get(day, 0), carry, v)
    assert got == want and max(want.values()) >= 2


def test_prf_expand_vs_naive(spark, tmp_path):
    """Expansion terms equal a brute-force replay: feedback docs by
    idf-overlap, candidate terms minus query terms, fb_df x idf."""
    from locopy_spark.queries.docs import KNN_QUERY_IDS
    from locopy_spark.queries.docs_ext import (
        PRF_FB,
        PRF_TERMS,
        s_prf_expand,
    )

    r = _rng()
    vocab = ["ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen"]
    docs = []
    for i in range(30):
        words = [vocab[r.randrange(len(vocab))] for _ in range(6)]
        docs.append((i, " ".join(words), "en", "s0", 6))
    _write(spark, tmp_path, "documents", docs,
           "doc_id long, text string, lang string, source string, n_chars int")
    got = [
        (x.query_id, x.term, x.fb_df, x.score_scaled, x.rk)
        for x in s_prf_expand(spark, str(tmp_path)).collect()
    ]

    toks = {i: set(t.split()) for i, t, *_ in docs}
    n = len(docs)
    df = {}
    for ts in toks.values():
        for t in ts:
            df[t] = df.get(t, 0) + 1

    def idf(t):
        return (n - df[t]) * 1_000_000 // df[t]

    want = []
    for q in KNN_QUERY_IDS:
        lex = sorted(
            (-sum(idf(t) for t in toks[q] & toks[d]), d)
            for d in toks
            if d != q and toks[q] & toks[d]
        )
        fb = [d for _, d in lex[:PRF_FB]]
        cand = {}
        for d in fb:
            for t in toks[d]:
                cand[t] = cand.get(t, 0) + 1
        scored = sorted(
            (-(c * idf(t)), t, c)
            for t, c in cand.items()
            if t not in toks[q]
        )
        for i, (ns, t, c) in enumerate(scored[:PRF_TERMS]):
            want.append((q, t, c, -ns, i + 1))
    assert got == want and len(want) > 10


def test_time_to_convert_vs_naive(spark, tmp_path):
    """Median/p90/mean conversion latency equals a brute-force scan
    (strictly-after next purchase, rank-k order statistics)."""
    import datetime as dt

    from locopy_spark.queries.events_ext import (
        PATTERN_WINDOW_US,
        q_time_to_convert,
    )

    r = _rng()
    base = dt.datetime(1995, 1, 2)
    evs = []
    for i in range(600):
        u = r.randrange(10)
        t = base + dt.timedelta(seconds=r.randrange(200) * 86_400 // 5)
        typ = r.choice(["view", "purchase", "click"])
        evs.append((i, t, u, typ))
    _write(spark, tmp_path, "events", evs,
           "event_id long, ts timestamp_ntz, user_id long, event_type string")
    got = {
        x.weekday: (
            x.n_conv, x.median_latency_us, x.p90_latency_us,
            x.mean_latency_us,
        )
        for x in q_time_to_convert(spark, str(tmp_path)).collect()
    }

    def eus(t):
        return int((t - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)

    byu = {}
    for _, t, u, typ in evs:
        byu.setdefault(u, []).append((eus(t), typ))
    lat = {}
    for rows_u in byu.values():
        for e0, typ in rows_u:
            if typ != "view":
                continue
            after_p = [e for e, t2 in rows_u if t2 == "purchase" and e > e0]
            if not after_p or min(after_p) - e0 > PATTERN_WINDOW_US:
                continue
            wd = ((e0 // 86_400_000_000) + 4) % 7
            lat.setdefault(wd, []).append(min(after_p) - e0)
    want = {}
    for wd, xs in lat.items():
        xs.sort()
        n = len(xs)
        want[wd] = (
            n,
            xs[-(-n // 2) - 1],  # ceil(n/2), 1-based
            xs[-(-9 * n // 10) - 1],  # ceil(0.9n)
            sum(xs) / n,
        )
    assert got == want and sum(v[0] for v in want.values()) > 30


def test_conversion_curve_vs_naive(spark, tmp_path):
    """The five-window curve equals brute-force counting and is
    cumulative by construction."""
    import datetime as dt

    from locopy_spark.queries.events_ext import (
        CONV_WINDOWS_S,
        q_conversion_curve,
    )

    r = _rng()
    base = dt.datetime(1995, 1, 2)
    evs = []
    for i in range(500):
        u = r.randrange(10)
        t = base + dt.timedelta(seconds=r.randrange(3000) * 600)
        evs.append((i, t, u, r.choice(["view", "purchase", "click"])))
    _write(spark, tmp_path, "events", evs,
           "event_id long, ts timestamp_ntz, user_id long, event_type string")
    got = [
        (x.window_s, x.n_views, x.n_conv, x.conv_ppm)
        for x in q_conversion_curve(spark, str(tmp_path)).collect()
    ]

    def eus(t):
        return int((t - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)

    byu = {}
    for _, t, u, typ in evs:
        byu.setdefault(u, []).append((eus(t), typ))
    lats, n_views = [], 0
    for rows_u in byu.values():
        for e0, typ in rows_u:
            if typ != "view":
                continue
            n_views += 1
            ps = [e for e, t2 in rows_u if t2 == "purchase" and e > e0]
            if ps:
                lats.append(min(ps) - e0)
    want = [
        (
            w,
            n_views,
            sum(1 for x in lats if x <= w * 1_000_000),
            sum(1 for x in lats if x <= w * 1_000_000) * 1_000_000 // n_views,
        )
        for w in CONV_WINDOWS_S
    ]
    assert got == want
    assert [x[2] for x in got] == sorted(x[2] for x in got)  # cumulative


def test_co_engagement_vs_naive(spark, tmp_path):
    """Weekly-basket lift matrix equals brute-force set counting."""
    import datetime as dt

    from locopy_spark.queries.events_ext import q_co_engagement

    r = _rng()
    base = dt.datetime(1995, 1, 2)
    evs = []
    types = ["view", "click", "purchase"]
    for i in range(400):
        u = r.randrange(12)
        t = base + dt.timedelta(hours=r.randrange(24 * 35))
        evs.append((i, t, u, types[r.randrange(3)]))
    _write(spark, tmp_path, "events", evs,
           "event_id long, ts timestamp_ntz, user_id long, event_type string")
    got = [
        (x.a, x.b, x.n_both, x.n_a, x.n_b, x.lift_ppm)
        for x in q_co_engagement(spark, str(tmp_path)).collect()
    ]

    def eus(t):
        return int((t - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)

    baskets = {}
    for _, t, u, typ in evs:
        baskets.setdefault((u, eus(t) // (7 * 86_400_000_000)), set()).add(typ)
    n_b = len(baskets)
    cnt = {a: sum(1 for s in baskets.values() if a in s) for a in types}
    want = sorted(
        (
            a, b,
            sum(1 for s in baskets.values() if a in s and b in s),
            cnt[a], cnt[b],
            sum(1 for s in baskets.values() if a in s and b in s)
            * n_b * 1_000_000 // (cnt[a] * cnt[b]),
        )
        for a in types for b in types if a < b
    )
    assert got == want and any(x[5] != 1_000_000 for x in got)


def test_dedup_yield_vs_hand_counts(spark, tmp_path):
    """Token-set fingerprint savings equal hand counting on a corpus
    with planted reorder/repetition duplicates."""
    from locopy_spark.queries.corpus import p_dedup_yield

    docs = [
        (0, "alpha beta gamma", "en", "sA", 1),
        (1, "gamma beta alpha", "en", "sA", 1),      # reorder dup of 0
        (2, "alpha alpha beta gamma", "en", "sB", 1),  # repetition dup of 0
        (3, "delta epsilon", "en", "sB", 1),
        (4, "delta epsilon", "en", "sB", 1),          # exact dup of 3
        (5, "zeta", "en", "sB", 1),
    ]
    _write(spark, tmp_path, "documents", docs,
           "doc_id long, text string, lang string, source string, n_chars int")
    got = {
        x.source: (
            x.n_docs, x.n_dup, x.tokens_total, x.tokens_dup,
            x.dup_doc_ppm, x.dup_token_ppm,
        )
        for x in p_dedup_yield(spark, str(tmp_path)).collect()
    }
    # sA: docs 0,1 -> 1 removed (doc 1, 3 tokens of 6)
    # sB: docs 2 (4 tok, dup of 0), 3/4 (dup pair -> 4 removed), 5
    assert got == {
        "sA": (2, 1, 6, 3, 500000, 500000),
        "sB": (4, 2, 9, 6, 500000, 666666),
    }


def test_cochran_armitage_vs_textbook(spark, tmp_path):
    """t_n and vt equal the hand-summed integer forms and z equals
    the textbook T/√Var computed with plain Python floats on seeded
    daily counts with a planted conversion drift."""
    import datetime as dt
    import math

    from locopy_spark.queries.trends import CA_EPOCH_DAY, q_cochran_armitage

    r = _rng()
    rows = []
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    daily = {}  # t -> [n, r]
    eid = 0
    for d in range(12):
        # drifting purchase share: ~20% + 3 pts/day
        for _ in range(40 + r.randrange(20)):
            is_p = r.random() < 0.20 + 0.03 * d
            rows.append(
                (eid, base + dt.timedelta(days=d), "purchase" if is_p else "view")
            )
            nr = daily.setdefault(d, [0, 0])
            nr[0] += 1
            nr[1] += int(is_p)
            eid += 1
    _write(spark, tmp_path, "events", rows, "event_id long, ts timestamp, event_type string")
    got = q_cochran_armitage(spark, str(tmp_path)).collect()[0]
    # textbook sums (t re-centered exactly as the query does)
    off = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days - CA_EPOCH_DAY
    nn = sum(v[0] for v in daily.values())
    rr = sum(v[1] for v in daily.values())
    st = sum(v[0] * (t + off) for t, v in daily.items())
    stt = sum(v[0] * (t + off) ** 2 for t, v in daily.items())
    srt = sum(v[1] * (t + off) for t, v in daily.items())
    assert (got.n_days, got.n_events, got.n_purchases) == (len(daily), nn, rr)
    assert got.t_n == nn * srt - rr * st
    assert got.vt == nn * stt - st * st
    p = rr / nn
    t_stat = srt - p * st
    var = p * (1 - p) * (stt - st * st / nn)
    assert abs(got.z - t_stat / math.sqrt(var)) < 1e-9
    assert got.trend == "increasing"


def test_discount_elasticity_vs_numpy_lstsq(spark, tmp_path):
    """The exact scaled-integer slope/intercept/R² agree with a
    float least-squares fit (numpy) to ~1e-6 — independent
    derivation, same line."""
    import numpy as np

    from locopy_spark.queries.trends import q_discount_elasticity

    r = _rng()
    li, parts = [], []
    data = {}
    for pk, brand in enumerate(["B#1", "B#2", "B#3"]):
        parts.append((pk, brand))
        xs, ys = [], []
        for _ in range(200):
            x = r.randrange(0, 1001)  # bps
            q = min(50, max(1, int(10 + 0.02 * x + r.randrange(-5, 6))))
            li.append((pk, x / 10000.0, float(q)))
            xs.append(x)
            ys.append(q * 100)  # centi-units, the query's y scale
        data[brand] = (np.array(xs, float), np.array(ys, float))
    _write(spark, tmp_path, "part", parts, "p_partkey long, p_brand string")
    _write(
        spark, tmp_path, "lineitem", li,
        "l_partkey long, l_discount double, l_quantity double",
    )
    got = {
        row.p_brand: row
        for row in q_discount_elasticity(spark, str(tmp_path)).collect()
    }
    for brand, (xs, ys) in data.items():
        A = np.vstack([xs, np.ones_like(xs)]).T
        (m, c), res, _, _ = np.linalg.lstsq(A, ys, rcond=None)
        row = got[brand]
        # query outputs close in units (y descaled by 100)
        assert abs(row.slope_qty_per_bp - m / 100.0) < 1e-6
        assert abs(row.intercept_qty - c / 100.0) < 1e-6
        ss_tot = float(((ys - ys.mean()) ** 2).sum())
        r2 = 1.0 - float(res[0]) / ss_tot
        assert abs(row.r2 - r2) < 1e-6


def test_readability_vs_hand_counts(spark, tmp_path):
    """Bands from first-principles letter/word/sentence counts on
    handcrafted punctuated docs (truncation device mirrored in plain
    Python ints)."""
    from locopy_spark.queries.quality import t_readability

    docs = [
        # (text, source)
        ("The cat sat. The dog ran! A bird?", "s1"),
        ("aaaa bb cc.", "s1"),
        ("Elaborate vocabulary demonstrates sesquipedalian tendencies.", "s2"),
        ("x 9 x 9 x 9", "s2"),
    ]
    rows = [
        (i, t, "en", s, len(t)) for i, (t, s) in enumerate(docs)
    ]
    _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    expect = {}
    for t, s in docs:
        letters = sum(ch.isalpha() for ch in t.lower() if ch.isascii())
        words = len(t.strip().split())
        sents = max(1, sum(t.count(p) for p in ".!?"))
        num = 588 * letters - 2960 * sents
        q = abs(num) // words * (1 if num >= 0 else -1)  # trunc toward 0
        cli_centi = q - 1580
        band = max(0, min(3000, cli_centi)) // 100
        expect[(s, band)] = expect.get((s, band), 0) + 1
    got = {
        (r.source, r.band): r.n_docs
        for r in t_readability(spark, str(tmp_path)).collect()
    }
    assert got == expect


def test_ttr_vs_hand_counts(spark, tmp_path):
    """Deciles from hand distinct/total token ratios."""
    from locopy_spark.queries.quality import t_ttr

    docs = [
        ("a b a b", "s1"),       # 2/4 -> 500000 -> decile 5
        ("a a a a a", "s1"),     # 1/5 -> 200000 -> decile 2
        ("u v w x y z", "s2"),   # 6/6 -> decile 9 (least-clamp)
        ("m m n", "s2"),         # 2/3 -> 666666 -> decile 6
    ]
    rows = [(i, t, "en", s, len(t)) for i, (t, s) in enumerate(docs)]
    _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        (r.source, r.decile): r.n_docs
        for r in t_ttr(spark, str(tmp_path)).collect()
    }
    assert got == {("s1", 5): 1, ("s1", 2): 1, ("s2", 9): 1, ("s2", 6): 1}


def test_filter_funnel_vs_hand_counts(spark, tmp_path):
    """Stage survivors/token sums recomputed with plain Python string
    ops on docs built to fall at each specific gate."""
    from locopy_spark.queries.quality import (
        FUNNEL_MAX_DOM_PPM,
        FUNNEL_MIN_CHARS,
        FUNNEL_MIN_TOKENS,
        FUNNEL_MIN_TTR_PPM,
        p_filter_funnel,
    )

    w = [f"w{i}" for i in range(60)]
    docs = [
        " ".join(w[:50]),                    # survives everything
        "short doc",                         # fails min_chars
        " ".join(["longword" + str(i % 3) for i in range(30)]),  # fails min_tokens (30 < 40) but passes chars
        " ".join(["dup"] * 60),              # fails diversity (ttr 1/60)
        " ".join(w[:30] + ["x"] * 30),       # 31/60 distinct passes ttr, "x" 30/60 fails dominance
    ]
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(docs)]
    _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # hand funnel
    stages = [[0, 0] for _ in range(5)]
    for t in docs:
        toks = t.strip().lower().split()
        n = len(toks)
        ttr = len(set(toks)) * 1_000_000 // n
        from collections import Counter

        dom = max(Counter(toks).values()) * 1_000_000 // n
        gates = [
            True,
            len(t) >= FUNNEL_MIN_CHARS,
            n >= FUNNEL_MIN_TOKENS,
            ttr >= FUNNEL_MIN_TTR_PPM,
            dom <= FUNNEL_MAX_DOM_PPM,
        ]
        ok = True
        for i, g in enumerate(gates):
            ok = ok and g
            if ok:
                stages[i][0] += 1
                stages[i][1] += n
    got = [
        (r.stage, r.docs, r.tokens)
        for r in p_filter_funnel(spark, str(tmp_path)).collect()
    ]
    assert got == [(i, d, tk) for i, (d, tk) in enumerate(stages)]
    # the designed corpus exercises every gate: strictly fewer
    # survivors at each stage
    assert [d for _, d, _ in got] == [5, 4, 3, 2, 1]


def test_dq_audit_vs_planted_violations(spark, tmp_path):
    """Every rule's violation count against hand-planted bad rows,
    including NULLs (which must count as violations, not vanish)."""
    import datetime as dt

    from locopy_spark.queries.quality import q_dq_audit

    d96 = dt.datetime(1996, 1, 1)
    d01 = dt.datetime(2001, 6, 1)
    orders = [
        (1, 100.0, d96, "O"),
        (2, 0.0, d96, "F"),        # totalprice violation
        (3, 50.0, d01, "P"),       # tpch-range violation
        (4, 75.0, d96, "X"),       # status violation
        (5, None, d96, "O"),       # NULL totalprice -> violation
    ]
    line = [
        # (orderkey, discount, qty, tax, shipdate)
        (1, 0.05, 10.0, 0.04, d96 + dt.timedelta(days=30)),
        (1, 0.20, 10.0, 0.04, d96 + dt.timedelta(days=3)),   # discount viol.
        (2, 0.05, 60.0, 0.04, d96 + dt.timedelta(days=3)),   # qty violation
        (3, 0.05, 10.0, 0.10, d01 + dt.timedelta(days=3)),   # tax violation
        (4, 0.05, 10.0, None, d96 - dt.timedelta(days=2)),   # NULL tax + ship-before-order
    ]
    _write(
        spark, tmp_path, "orders", orders,
        "o_orderkey long, o_totalprice double, o_orderdate timestamp,"
        " o_orderstatus string",
    )
    _write(
        spark, tmp_path, "lineitem", line,
        "l_orderkey long, l_discount double, l_quantity double,"
        " l_tax double, l_shipdate timestamp",
    )
    got = {
        r.rule: (r.n_checked, r.n_failed)
        for r in q_dq_audit(spark, str(tmp_path)).collect()
    }
    assert got == {
        "orders.totalprice_positive": (5, 2),
        "orders.orderdate_tpch_range": (5, 1),
        "orders.status_domain": (5, 1),
        "lineitem.discount_0_to_10pct": (5, 1),
        "lineitem.quantity_1_to_50": (5, 1),
        "lineitem.tax_0_to_8pct": (5, 2),
        "lineitem.ship_on_or_after_order": (5, 1),
    }


def test_lpa_vs_naive_propagation(spark, tmp_path):
    """Community histogram equals a plain-Python synchronous LPA
    (min-tie-break mode) over the support-filtered pair graph derived
    independently from the same baskets."""
    import collections
    import itertools

    from locopy_spark.queries.mining import (
        LPA_ITERS,
        LPA_MIN_SUPPORT,
        q_lpa_communities,
    )

    r = _rng()
    # 3 planted part-clusters with repeated within-cluster baskets,
    # plus noise orders that never repeat a pair
    clusters = [list(range(10 * c, 10 * c + 10)) for c in range(3)]
    rows, ok = [], 0
    for _ in range(120):
        c = r.randrange(3)
        basket = r.sample(clusters[c], 3)
        for pk in basket:
            rows.append((ok, pk))
        ok += 1
    for i in range(40):  # noise: parts 100.. never repeat pairs
        for pk in (100 + 2 * i, 101 + 2 * i):
            rows.append((ok, pk))
        ok += 1
    _write(spark, tmp_path, "lineitem", rows, "l_orderkey long, l_partkey long")
    got = {
        (r2.community_size, r2.n_communities)
        for r2 in q_lpa_communities(spark, str(tmp_path)).collect()
    }
    # independent python LPA
    sup = collections.Counter()
    baskets = collections.defaultdict(set)
    for okey, pk in rows:
        baskets[okey].add(pk)
    for b in baskets.values():
        for a, bb in itertools.combinations(sorted(b), 2):
            sup[(a, bb)] += 1
    adj = collections.defaultdict(list)
    for (a, bb), s in sup.items():
        if s >= LPA_MIN_SUPPORT:
            adj[a].append(bb)
            adj[bb].append(a)
    lab = {v: v for v in adj}
    for _ in range(LPA_ITERS):
        new = {}
        for v in adj:
            cnt = collections.Counter(lab[u] for u in adj[v])
            m = max(cnt.values())
            new[v] = min(l for l, c in cnt.items() if c == m)
        lab = new
    sizes = collections.Counter(collections.Counter(lab.values()).values())
    assert got == {(sz, n) for sz, n in sizes.items()}
    # the planted structure must actually be found: some community
    # of size >= 5 exists (clusters), and the noise pairs never merge
    assert any(sz >= 5 for sz, _ in got)
    # broadcast opt-in arm (shuffle-dominated topologies): identical
    # histogram
    got2 = {
        (r2.community_size, r2.n_communities)
        for r2 in q_lpa_communities(
            spark, str(tmp_path), broadcast_labels=True
        ).collect()
    }
    assert got2 == got


def test_centroid_purity_vs_float_cosines(spark, tmp_path):
    """Separation verdicts equal float cosine-vs-centroid math on
    well-separated clusters (margins far above the 1e5 quantization,
    so the exact-integer comparator must agree with float)."""
    import math

    from locopy_spark.queries.docs_ext import s_centroid_purity

    r = _rng()
    dim = 8
    protos = []
    for lbl in range(3):
        p = [0.0] * dim
        p[lbl] = 1.0
        p[(lbl + 3) % dim] = 0.5
        protos.append(p)
    rows, vecs = [], []
    for i in range(90):
        lbl = i % 3
        # 80 clustered vectors + 10 planted outliers near ANOTHER proto
        src = protos[(lbl + 1) % 3] if i < 10 else protos[lbl]
        v = [x + (r.random() - 0.5) * 0.1 for x in src]
        rows.append((i, v, lbl))
        vecs.append((i, v, lbl))
    _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    # float reference: centroids of FLOAT32-rounded member vectors
    import struct as _st

    def f32(x):
        return _st.unpack("f", _st.pack("f", x))[0]

    cents = {}
    for lbl in range(3):
        mem = [[f32(x) for x in v] for _, v, l2 in vecs if l2 == lbl]
        cents[lbl] = [sum(c) / len(mem) for c in zip(*mem)]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)) + 1e-12)

    expect = {lbl: [0, 0] for lbl in range(3)}
    for _, v, lbl in vecs:
        vf = [f32(x) for x in v]
        own = cos(vf, cents[lbl])
        win = all(own > cos(vf, cents[o]) for o in range(3) if o != lbl)
        expect[lbl][0] += 1
        expect[lbl][1] += int(win)
    got = {
        row.label: (row.n_vecs, row.n_separated)
        for row in s_centroid_purity(spark, str(tmp_path)).collect()
    }
    assert got == {lbl: tuple(v) for lbl, v in expect.items()}
    # the planted outliers must actually be caught
    assert sum(n - s for n, s in got.values()) >= 10


def test_session_gap_curve_vs_hand_counts(spark, tmp_path):
    """Session counts per threshold from hand-built per-user gap
    sequences."""
    import datetime as dt

    from locopy_spark.queries.events_ext import q_session_gap_curve

    base = dt.datetime(2024, 1, 1)
    ev = []
    eid = 0

    def add(user, minutes):
        nonlocal eid
        ev.append((eid, base + dt.timedelta(minutes=minutes), user))
        eid += 1

    # user 1: gaps 10, 20, 120 min -> sessions at g=5:4, 15:3, 30:2, 60:2, 180:1
    for m in (0, 10, 30, 150):
        add(1, m)
    # user 2: single event -> 1 session everywhere
    add(2, 0)
    # user 3: gaps 4, 61 -> g=5:2, 15:2, 30:2, 60:2, 180:1
    for m in (0, 4, 65):
        add(3, m)
    _write(spark, tmp_path, "events", ev, "event_id long, ts timestamp, user_id long")
    got = {
        r.gap_minutes: r.n_sessions
        for r in q_session_gap_curve(spark, str(tmp_path)).collect()
    }
    assert got == {5: 4 + 1 + 2, 15: 3 + 1 + 2, 30: 2 + 1 + 2, 60: 2 + 1 + 2, 180: 1 + 1 + 1}


def test_interleave_eval_vs_python_stride(spark, tmp_path):
    """n_runs/ratio recomputed by an independent Python replay of the
    stride schedule (hashlib md5 ranks, integer virtual times)."""
    import hashlib

    from locopy_spark.queries.corpus import p_interleave_eval

    r = _rng()
    docs = []
    words = ["tok%d" % i for i in range(30)]
    for i in range(90):
        src = "s%d" % (i % 3)
        text = " ".join(r.choice(words) for _ in range(r.randrange(5, 15)))
        docs.append((i, text, "en", src, len(text)))
    _write(
        spark, tmp_path, "documents", docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = p_interleave_eval(spark, str(tmp_path)).collect()[0]
    # independent replay
    per_src = {}
    ntok = {}
    for doc_id, text, _, src, _ in docs:
        n = len(text.strip().lower().split())
        per_src.setdefault(src, []).append(
            (hashlib.md5(str(doc_id).encode()).hexdigest(), doc_id, n)
        )
        ntok[src] = ntok.get(src, 0) + n
    order = []
    for src, rows in per_src.items():
        for rn, (_, doc_id, n) in enumerate(sorted(rows), start=1):
            order.append((rn * ntok[src], src, doc_id))
    order.sort()
    n_docs = len(order)
    runs = 1 + sum(
        1 for a, b in zip(order, order[1:]) if a[1] != b[1]
    )
    coll = sum(len(v) * (len(v) - 1) for v in per_src.values())
    ratio = runs * n_docs * 1_000_000 // (n_docs * n_docs - coll)
    assert (got.n_docs, got.n_sources, got.n_runs, got.ratio_ppm) == (
        n_docs, len(per_src), runs, ratio,
    )
    # stride scheduling must actually interleave: above the random-
    # shuffle expectation
    assert got.ratio_ppm > 1_000_000


def test_mix_drift_vs_hand_counts(spark, tmp_path):
    """Monthly chi2 terms recomputed with plain Python ints on a
    two-month corpus with a planted mix shift."""
    import datetime as dt

    from locopy_spark.queries.trends import q_mix_drift

    rows = []
    ok = 0

    def month(y, m, pri, n):
        nonlocal ok
        for _ in range(n):
            rows.append((ok, dt.datetime(y, m, 15), pri))
            ok += 1

    month(1996, 1, "1-URGENT", 30)
    month(1996, 1, "2-HIGH", 10)
    month(1996, 2, "1-URGENT", 10)
    month(1996, 2, "2-HIGH", 30)
    _write(
        spark, tmp_path, "orders", rows,
        "o_orderkey long, o_orderdate timestamp, o_orderpriority string",
    )
    got = {
        r.month_idx: (r.n_orders, r.chi2_ppm)
        for r in q_mix_drift(spark, str(tmp_path)).collect()
    }
    expect = {}
    data = {
        1996 * 12 + 1: {"1-URGENT": 30, "2-HIGH": 10},
        1996 * 12 + 2: {"1-URGENT": 10, "2-HIGH": 30},
    }
    glob = {"1-URGENT": 40, "2-HIGH": 40}
    nn = 80
    for m, cells in data.items():
        t = sum(cells.values())
        chi2 = 0
        for pri, ni in glob.items():
            c = cells.get(pri, 0)
            obs = c * 1_000_000 // t
            exp = ni * 1_000_000 // nn
            chi2 += (obs - exp) ** 2 // exp
        expect[m] = (t, chi2)
    assert got == expect


def test_partition_advisor_vs_hand_counts(spark, tmp_path):
    """Verdicts and skew from hand-built value distributions: one
    balanced candidate, one skewed, one too coarse."""
    import datetime as dt

    from locopy_spark.queries.quality import q_partition_advisor

    d = dt.datetime(1996, 1, 1)
    orders, events = [], []
    # 16 months x 10 rows -> order_month ok & balanced
    # priority: 2 values -> too_coarse; one value owns 150/160
    # status: 2 values -> too_coarse
    # custkey: 160 distinct -> ok (8..10000), balanced
    for i in range(160):
        m = i % 16
        pri = "1-URGENT" if i < 150 else "2-HIGH"
        st = "O" if i % 2 else "F"
        orders.append((i, dt.datetime(1996 + m // 12, m % 12 + 1, 3), pri, st))
    for i in range(40):
        events.append((i, d + dt.timedelta(days=i % 4), "view" if i < 36 else "click"))
    _write(
        spark, tmp_path, "orders", orders,
        "o_custkey long, o_orderdate timestamp, o_orderpriority string,"
        " o_orderstatus string",
    )
    _write(spark, tmp_path, "events", events, "event_id long, ts timestamp, event_type string")
    got = {
        r.candidate: (r.n_values, r.total_rows, r.max_rows, r.skew_ppm, r.verdict)
        for r in q_partition_advisor(spark, str(tmp_path)).collect()
    }
    assert got["orders.order_month"] == (16, 160, 10, 1_000_000, "ok")
    assert got["orders.o_orderpriority"][4] == "too_coarse"
    assert got["orders.o_orderstatus"][4] == "too_coarse"
    assert got["orders.o_custkey"] == (160, 160, 1, 1_000_000, "ok")
    # event_type: 2 values -> too_coarse even though skewed 36/4
    assert got["events.event_type"][0] == 2
    assert got["events.event_type"][4] == "too_coarse"
    # event_day: 4 values -> too_coarse (< 8)
    assert got["events.event_day"][4] == "too_coarse"


def test_simpson_vs_fraction_arithmetic(spark, tmp_path):
    """Per-source Simpson ppm recomputed with Counter + Fraction."""
    from collections import Counter
    from fractions import Fraction

    from locopy_spark.queries.corpus import t_simpson_diversity

    docs = [
        ("the cat sat on the mat the end", "s1"),
        ("cat cat cat", "s1"),
        ("all distinct words here now", "s2"),
        ("x", "s2"),
    ]
    rows = [(i, t, "en", s, len(t)) for i, (t, s) in enumerate(docs)]
    _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    by_source = {}
    for t, s in docs:
        by_source.setdefault(s, []).extend(t.lower().split())
    want = {}
    for s, toks in by_source.items():
        c = Counter(toks)
        n = len(toks)
        sumc2 = sum(v * (v - 1) for v in c.values())
        ppm = (
            0 if n < 2
            else int(Fraction(sumc2 * 1_000_000, n * (n - 1)))
        )
        want[s] = (n, len(c), ppm)
    got = {
        r.source: (r.n_tokens, r.vocab, r.simpson_ppm)
        for r in t_simpson_diversity(spark, str(tmp_path)).collect()
    }
    assert got == want
    # the designed corpus separates the sources: s1 is repetitive
    assert got["s1"][2] > got["s2"][2]


def test_zipf_deviation_vs_hand_ranks(spark, tmp_path):
    """rank·count residuals recomputed with sorted() + abs()."""
    from collections import Counter

    from locopy_spark.queries.corpus import t_zipf_deviation

    # s1 is an exact Zipf head: counts 12, 6, 4, 3 = 12/r
    s1 = " ".join(
        ["a"] * 12 + ["b"] * 6 + ["c"] * 4 + ["d"] * 3
    )
    # s2 is flat: counts 5, 5, 5 — maximally non-Zipf after rank 1
    s2 = " ".join(["p"] * 5 + ["q"] * 5 + ["r"] * 5)
    rows = [(0, s1, "en", "s1", len(s1)), (1, s2, "en", "s2", len(s2))]
    _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    want = {}
    for src, text in (("s1", s1), ("s2", s2)):
        c = Counter(text.split())
        top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
        c1 = top[0][1]
        sum_abs = sum(
            abs((r + 1) * cnt - c1) for r, (_, cnt) in enumerate(top)
        )
        want[src] = (
            len(top), c1, sum_abs * 1_000_000 // (len(top) * c1)
        )
    got = {
        r.source: (r.k_used, r.top_count, r.zipf_dev_ppm)
        for r in t_zipf_deviation(spark, str(tmp_path)).collect()
    }
    assert got == want
    assert got["s1"][2] == 0          # perfect Zipf head
    assert got["s2"][2] > 0           # flat head deviates


def test_burstiness_vs_fraction_cv2(spark, tmp_path):
    """Band histogram recomputed from per-user gap lists with exact
    Fraction CV² — including an all-same-second user (CV² := 0) and a
    single-event user (excluded, m < 2)."""
    import datetime as dt
    from fractions import Fraction

    from locopy_spark.queries.timeseries import q_burstiness

    base = dt.datetime(2024, 1, 1)
    per_user = {
        1: [0, 60, 120, 180],          # metronome: gaps 60,60,60 -> cv2 0
        2: [0, 10, 20, 1000, 1010],    # bursty
        3: [0, 0, 0],                  # all same second -> cv2 := 0
        4: [0],                        # single event -> excluded
    }
    rows = []
    eid = 0
    for uid, offs in per_user.items():
        for o in offs:
            rows.append(
                (eid, base + dt.timedelta(seconds=o), uid, "view", 1.0, "{}")
            )
            eid += 1
    _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    want = {}
    for uid, offs in per_user.items():
        if len(offs) < 2:
            continue
        gaps = [b - a for a, b in zip(offs, offs[1:])]
        m, sx = len(gaps), sum(gaps)
        if sx == 0:
            cv2 = 0
        else:
            var_num = m * sum(g * g for g in gaps) - sx * sx
            cv2 = int(Fraction(var_num * 1_000_000, sx * sx))
        band = min(9, cv2 // 500_000)
        want[band] = want.get(band, 0) + 1
    got = {
        r.band: r.n_users
        for r in q_burstiness(spark, str(tmp_path)).collect()
    }
    assert got == want
    assert 0 in got and max(got) > 0  # regular AND bursty bands hit


def test_hapax_vs_counter(spark, tmp_path):
    """Hapax/dis shares recomputed with a plain Counter."""
    from collections import Counter

    from locopy_spark.queries.corpus import t_hapax_ratio

    docs = [
        ("one two two three three three", "s1"),   # hapax {one}, dis {two}
        ("alpha beta gamma", "s2"),                # all hapax
        ("alpha alpha beta beta", "s2"),           # now alpha x3, beta x3
    ]
    rows = [(i, t, "en", s, len(t)) for i, (t, s) in enumerate(docs)]
    _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    by_source = {}
    for t, s in docs:
        by_source.setdefault(s, []).extend(t.lower().split())
    want = {}
    for s, toks in by_source.items():
        c = Counter(toks)
        v = len(c)
        h = sum(1 for x in c.values() if x == 1)
        d = sum(1 for x in c.values() if x == 2)
        want[s] = (v, h, h * 1_000_000 // v, d * 1_000_000 // v)
    got = {
        r.source: (r.vocab, r.hapax, r.hapax_ppm, r.dis_ppm)
        for r in t_hapax_ratio(spark, str(tmp_path)).collect()
    }
    assert got == want
    # designed separation: s2's cross-document merge kills its hapaxes
    assert got["s2"][1] == 1 and got["s1"][1] == 1


def test_norm_histogram_vs_python_floats(spark, tmp_path):
    """Band ids recomputed with math.floor over plain Python doubles
    — including a zero vector (band 0) and a runaway-norm vector
    (clamped to the top band)."""
    import math

    from locopy_spark.queries.docs_ext import d_norm_histogram

    vecs = [
        [0.0, 0.0, 0.0, 0.0],          # zero norm -> band 0
        [0.5, 0.5, 0.5, 0.5],          # norm2 = 1.0 -> band 10
        [0.7, 0.1, 0.0, 0.0],          # norm2 just under 0.5 (f32) -> band 4
        [9.0, 9.0, 9.0, 9.0],          # norm2 = 324 -> clamp band 29
    ]
    rows = [(i, v, 0) for i, v in enumerate(vecs)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    want = {}
    for v in vecs:
        n2 = sum(
            math.floor(float(np32(x)) * float(np32(x)) * 10**12 + 0.5)
            for x in v
        )
        band = min(29, n2 // 10**11)
        want[band] = want.get(band, 0) + 1
    got = {
        r.band: r.n_vecs
        for r in d_norm_histogram(spark, str(tmp_path)).collect()
    }
    assert got == want
    assert set(got) == {0, 4, 10, 29}


def np32(x):
    """Round-trip through float32 the way parquet storage does."""
    import numpy as np

    return np.float32(x)


def test_calendar_heatmap_vs_python_datetime(spark, tmp_path):
    """Cell ids recomputed with datetime.weekday()/hour on hand-picked
    timestamps spanning a week boundary; zero cells present."""
    import datetime as dt

    from locopy_spark.queries.timeseries import q_calendar_heatmap

    stamps = [
        dt.datetime(2024, 1, 1, 0, 5),    # Monday  00 -> (0, 0)
        dt.datetime(2024, 1, 1, 23, 59),  # Monday  23 -> (0, 23)
        dt.datetime(2024, 1, 4, 12, 0),   # Thursday 12 -> (3, 12)
        dt.datetime(2024, 1, 7, 6, 30),   # Sunday  06 -> (6, 6)
        dt.datetime(2024, 1, 7, 6, 45),   # Sunday  06 -> (6, 6) again
    ]
    rows = [
        (i, ts, 1, "view", 1.0, "{}") for i, ts in enumerate(stamps)
    ]
    _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    want = {}
    for ts in stamps:
        key = (ts.weekday(), ts.hour)
        want[key] = want.get(key, 0) + 1
    out = q_calendar_heatmap(spark, str(tmp_path)).collect()
    assert len(out) == 168  # every cell present, zeros included
    got = {(r.dow, r.hour): r.n_events for r in out if r.n_events > 0}
    assert got == want
    shares = {(r.dow, r.hour): r.share_ppm for r in out}
    assert shares[(6, 6)] == 2 * 1_000_000 // 5
    assert shares[(1, 0)] == 0


def test_hubness_vs_numpy_topk(spark, tmp_path):
    """Occurrence histogram recomputed with numpy cosine + argsort
    over a designed 8-vector set with one deliberate hub (every
    query's nearest neighbor) and well-separated ranks."""
    import hashlib

    import numpy as np

    from locopy_spark.queries.docs_ext import HUB_K, HUB_SAMPLE_PREFIX, s_hubness

    def in_sample(i):
        return (
            hashlib.md5(str(i).encode()).hexdigest() < HUB_SAMPLE_PREFIX
        )

    # pick real ids so the deterministic md5 sample selects exactly
    # the two intended queries (the hub id itself is NOT a query)
    q_ids = [i for i in range(10_000) if in_sample(i)][:2]
    nq_ids = [i for i in range(10_000) if not in_sample(i)][:6]
    ids = [nq_ids[0]] + q_ids + nq_ids[1:]
    assert len(ids) == 8

    rng = np.random.default_rng(7)
    hub = np.ones(16, dtype=np.float32) / 4.0
    vecs = [hub]
    for i in range(7):
        v = rng.normal(0, 1, 16).astype(np.float32)
        # pull every vector toward the hub so vecs[0] dominates ranks
        vecs.append((0.3 * v / np.linalg.norm(v) + hub).astype(np.float32))
    rows = [
        (ids[i], [float(x) for x in v], 0) for i, v in enumerate(vecs)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    def fix_dot(a, b):
        return sum(
            int(np.floor(float(a[i]) * float(b[i]) * 10**12 + 0.5))
            for i in range(len(a))
        )

    occ = {i: 0 for i in range(8)}
    for qi in range(8):
        if not in_sample(ids[qi]):
            continue
        scores = []
        for ni in range(8):
            if ni == qi:
                continue
            d = fix_dot(vecs[qi], vecs[ni])
            c = d / np.sqrt(
                float(fix_dot(vecs[qi], vecs[qi]))
                * float(fix_dot(vecs[ni], vecs[ni]))
            )
            # ties broken by ascending REAL vec_id, as in the engine
            scores.append((-c, ids[ni], ni))
        for _, _, ni in sorted(scores)[:HUB_K]:
            occ[ni] += 1
    want = {}
    for o in occ.values():
        want[o] = want.get(o, 0) + 1
    got = {
        r.occ: r.n_vectors for r in s_hubness(spark, str(tmp_path)).collect()
    }
    assert got == want


def test_dormancy_vs_hand_max(spark, tmp_path):
    """Days-inactive histogram recomputed with plain dict max over
    hand-placed last-activity days."""
    import datetime as dt

    from locopy_spark.queries.timeseries import q_dormancy_curve

    base = dt.datetime(2024, 3, 1, 12, 0)
    acts = {
        1: [0, 5, 9],    # last day 9 (the horizon)
        2: [0, 9],       # also day 9
        3: [2, 7],       # 2 days inactive
        4: [0],          # 9 days inactive
    }
    rows, eid = [], 0
    for uid, days in acts.items():
        for d in days:
            rows.append(
                (eid, base + dt.timedelta(days=d), uid, "view", 1.0, "{}")
            )
            eid += 1
    _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    horizon = max(max(d) for d in acts.values())
    want = {}
    for days in acts.values():
        k = horizon - max(days)
        want[k] = want.get(k, 0) + 1
    got = {
        r.days_inactive: r.n_users
        for r in q_dormancy_curve(spark, str(tmp_path)).collect()
    }
    assert got == want == {0: 2, 2: 1, 9: 1}


def test_goodman_lambda_vs_textbook(spark, tmp_path):
    """Both λ directions equal the textbook proportional-reduction-
    in-error formula computed brute-force over the raw pair list —
    with a deliberately DEPENDENT priority/segment layout so λ > 0
    (and modal ties present, exercising deterministic MAX closure)."""
    from locopy_spark.queries.assoc import q_goodman_lambda

    r = _rng()
    segs = ["AUTO", "HOME", "TECH"]
    pris = ["1-URGENT", "3-MEDIUM", "5-LOW"]
    cust, orders, pairs = [], [], []
    for i in range(400):
        seg = segs[r.randrange(3)]
        cust.append((i, seg))
        # dependence: segment k prefers priority k 60% of the time
        for _ in range(r.randrange(1, 4)):
            if r.random() < 0.6:
                pri = pris[segs.index(seg)]
            else:
                pri = pris[r.randrange(3)]
            orders.append((len(orders), i, pri))
            pairs.append((pri, seg))
    _write(spark, tmp_path, "customer", cust,
           "c_custkey long, c_mktsegment string")
    _write(spark, tmp_path, "orders", orders,
           "o_orderkey long, o_custkey long, o_orderpriority string")
    got = q_goodman_lambda(spark, str(tmp_path)).collect()[0]

    n = len(pairs)
    cells = {}
    for p, s in pairs:
        cells[(p, s)] = cells.get((p, s), 0) + 1
    row_max = {
        p: max(v for (pp, _), v in cells.items() if pp == p)
        for p in {p for p, _ in cells}
    }
    col_max = {
        s: max(v for (_, ss), v in cells.items() if ss == s)
        for s in {s for _, s in cells}
    }
    col_marg = {}
    row_marg = {}
    for (p, s), v in cells.items():
        col_marg[s] = col_marg.get(s, 0) + v
        row_marg[p] = row_marg.get(p, 0) + v
    sum_row_max = sum(row_max.values())
    sum_col_max = sum(col_max.values())
    max_col_marg = max(col_marg.values())
    max_row_marg = max(row_marg.values())
    assert got.n == n
    assert got.sum_row_max == sum_row_max
    assert got.max_col_marg == max_col_marg
    assert got.lambda_seg_ppm == (
        (sum_row_max - max_col_marg) * 1_000_000 // max(n - max_col_marg, 1)
    )
    assert got.sum_col_max == sum_col_max
    assert got.max_row_marg == max_row_marg
    assert got.lambda_pri_ppm == (
        (sum_col_max - max_row_marg) * 1_000_000 // max(n - max_row_marg, 1)
    )
    # dependence built in -> both lambdas strictly positive
    assert got.lambda_seg_ppm > 0 and got.lambda_pri_ppm > 0


def test_price_index_vs_textbook(spark, tmp_path):
    """Laspeyres/Paasche/Fisher over seeded two-year part data equal
    the textbook definitions computed brute-force with exact integer
    micro-cent unit prices (including parts absent one year — dropped
    from the matched basket on both sides)."""
    import math

    from locopy_spark.queries.tpch_ext import q_price_index

    r = _rng()
    rows = []
    # 60 parts, most present in both years, some single-year
    peryr = {}
    for pk in range(60):
        for yi, yr in enumerate((1995, 1996)):
            if r.random() < 0.15 and pk % 7 == yi:
                continue  # basket churn
            n_lines = r.randrange(1, 4)
            for _ in range(n_lines):
                qty = r.randrange(1, 50)
                price = r.randrange(900, 120000) / 100.0  # cents-exact
                disc = r.randrange(0, 10) / 100.0
                rows.append(
                    (len(rows), pk, qty * 1.0, price * qty, disc,
                     f"{yr}-06-15")
                )
                cents = math.floor(price * qty * (1 - disc) * 100 + 0.5)
                k = (pk, yr)
                v, q = peryr.get(k, (0, 0))
                peryr[k] = (v + cents, q + qty)
    _write(
        spark, tmp_path, "lineitem",
        [(a, b, c, d, e, __import__("datetime").datetime.fromisoformat(f))
         for a, b, c, d, e, f in rows],
        "l_orderkey long, l_partkey long, l_quantity double,"
        " l_extendedprice double, l_discount double, l_shipdate timestamp",
    )
    got = q_price_index(spark, str(tmp_path)).collect()
    assert len(got) == 1 and got[0].year == 1996

    ln = ld = pn = pd_ = 0
    n_parts = 0
    for pk in range(60):
        if (pk, 1995) in peryr and (pk, 1996) in peryr:
            v0, q0 = peryr[(pk, 1995)]
            v1, q1 = peryr[(pk, 1996)]
            pu0 = v0 * 10000 // q0
            pu1 = v1 * 10000 // q1
            ln += pu1 * q0
            ld += pu0 * q0
            pn += pu1 * q1
            pd_ += pu0 * q1
            n_parts += 1
    lasp = ln * 1_000_000 // ld
    paas = pn * 1_000_000 // pd_
    assert got[0].n_parts == n_parts
    assert got[0].laspeyres_ppm == lasp
    assert got[0].paasche_ppm == paas
    assert got[0].fisher_ppm == math.sqrt(float(lasp) * float(paas))


def test_stickiness_vs_textbook(spark, tmp_path):
    """Monthly DAU/MAU equals the brute-force set computation over
    seeded events spanning two months with repeat visits (the grid
    dedup exercised) and users active in only one month."""
    import datetime

    from locopy_spark.queries.timeseries import q_stickiness

    r = _rng()
    rows = []
    seen = {}
    for i in range(600):
        u = r.randrange(40)
        mo = 1 if r.random() < 0.6 else 2
        d = r.randrange(1, 28)
        ts = datetime.datetime(2021, mo, d, r.randrange(24), 0, 0)
        rows.append((i, ts, u, "click", 1.0, "{}"))
        ym = 202100 + mo
        day = (ts.date() - datetime.date(1970, 1, 1)).days
        seen.setdefault(ym, {}).setdefault(day, set()).add(u)
    _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {r_.ym: r_ for r_ in q_stickiness(spark, str(tmp_path)).collect()}
    assert set(got) == set(seen)
    for ym, days in seen.items():
        n_days = len(days)
        sum_dau = sum(len(s) for s in days.values())
        mau = len(set().union(*days.values()))
        row = got[ym]
        assert row.n_days == n_days
        assert row.sum_dau == sum_dau
        assert row.mau == mau
        assert row.stickiness_ppm == sum_dau * 1_000_000 // (n_days * mau)


def test_changepoint_vs_bruteforce(spark, tmp_path):
    """The argmax split equals a brute-force scan of every k with the
    textbook between-segment SS formula on a seeded series with an
    engineered level shift (and near-tie plateaus around it)."""
    import datetime

    from locopy_spark.queries.timeseries import q_changepoint

    r = _rng()
    rows, daily = [], {}
    base = datetime.date(2020, 1, 1)
    for d in range(120):
        # level shift at day 70: mean jumps 40 -> 90
        level = 40 if d < 70 else 90
        for _ in range(r.randrange(1, 4)):
            v = level + r.randrange(-5, 6)
            rows.append(
                (len(rows), datetime.datetime.combine(
                    base + datetime.timedelta(days=d),
                    datetime.time(12)), float(v))
            )
            day = (base + datetime.timedelta(days=d)
                   - datetime.date(1970, 1, 1)).days
            daily[day] = daily.get(day, 0) + round(v * 1000)
    _write(
        spark, tmp_path, "orders",
        [(i, ts, v) for i, ts, v in rows],
        "o_orderkey long, o_orderdate timestamp, o_totalprice double",
    )
    got = q_changepoint(spark, str(tmp_path)).collect()[0]

    days = sorted(daily)
    n = len(days)
    sn = sum(daily.values())
    best = None
    s_k = 0
    for k, day in enumerate(days[:-1], start=1):
        s_k += daily[day]
        d_ = n * s_k - k * sn
        score = float(d_) * float(d_) / float(k * (n - k))
        key = (score, day)
        if best is None or key > best[0]:
            best = (key, day, k, s_k)
    (_, bday, bk, bs) = best
    assert got.split_day == bday
    assert got.n_days == n
    assert got.n_left == bk
    assert got.s_left_c == bs
    assert got.s_right_c == sn - bs
    assert got.bss_score == float(n * bs - bk * sn) ** 2 / float(
        bk * (n - bk)
    )
    # the engineered shift is found at (or adjacent to) day 70
    assert abs(got.split_day - (base + datetime.timedelta(days=69)
               - datetime.date(1970, 1, 1)).days) <= 1


def test_levene_vs_textbook(spark, tmp_path):
    """Brown–Forsythe F equals the textbook computation (group
    medians by type-1 rank-select, |v−med| deviations, one-way ANOVA
    over the deviations) on seeded data with deliberately UNEQUAL
    group spreads so F is large."""
    import datetime

    from locopy_spark.queries.stats import ANOVA_GROUPS, q_levene

    r = _rng()
    rows = []
    groups = {}
    for i in range(500):
        gi = r.randrange(len(ANOVA_GROUPS))
        g = ANOVA_GROUPS[gi]
        # spread grows with group index: sd ~ (gi+1)*8
        v = 1000 + (r.randrange(-8, 9)) * (gi + 1)
        rows.append((i, g, float(v),
                     datetime.datetime(2020, 1, 1)))
        groups.setdefault(g, []).append(v)
    _write(
        spark, tmp_path, "orders", rows,
        "o_orderkey long, o_orderpriority string, o_totalprice double,"
        " o_orderdate timestamp",
    )
    got = q_levene(spark, str(tmp_path)).collect()[0]

    # textbook: type-1 median (value at ceil(n/2) in sort order)
    zs = {}
    for g, vs in groups.items():
        s = sorted(vs)
        med = s[-(-len(s) // 2) - 1]  # ceil(n/2), 1-based -> 0-based
        zs[g] = [abs(v - med) for v in vs]
    n = sum(len(z) for z in zs.values())
    k = len(zs)
    grand = sum(sum(z) for z in zs.values()) / n
    ssb = sum(len(z) * (sum(z) / len(z) - grand) ** 2 for z in zs.values())
    ssw = sum(
        sum((x - sum(z) / len(z)) ** 2 for x in z) for z in zs.values()
    )
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert got.n == n and got.k == k
    assert got.f_stat == pytest.approx(f, rel=1e-9)
    assert got.ssb == pytest.approx(ssb, rel=1e-9)
    assert got.ssw == pytest.approx(ssw, rel=1e-9)
    # engineered heteroscedasticity -> decisively significant F
    assert got.f_stat > 10


def test_kappa_vs_textbook(spark, tmp_path):
    """κ equals the textbook (po−pe)/(1−pe) computed brute-force from
    the same nearest-centroid assignment on noisy-labelled clusters.
    (κ cannot go negative here by construction — centroids are built
    FROM the labels, so the majority side always agrees with its own
    centroid; the negative branch of the shared signed-ratio device is
    exercised by the s_silhouette and trend naive tests.)"""
    import math
    import struct

    from locopy_spark.queries.docs_ext import (
        EMB_DIM,
        PURITY_V_SCALE,
        s_kappa,
    )

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    r = _rng()
    embs = []
    # two tight geometric clusters, labels flipped 30% of the time ->
    # imperfect but above-chance agreement (0 < kappa < 1)
    for i in range(80):
        cl = i % 2
        base = 0.8 if cl == 0 else -0.8
        vec = [base + r.uniform(-0.05, 0.05) for _ in range(EMB_DIM)]
        label = cl if r.random() < 0.7 else 1 - cl
        embs.append((i, vec, label))
    _write(spark, tmp_path, "embeddings", embs,
           "vec_id long, embedding array<float>, label int")
    got = s_kappa(spark, str(tmp_path)).collect()[0]

    # brute-force the same quantized pipeline
    q = {
        i: [math.floor(f32(x) * PURITY_V_SCALE + 0.5) for x in v]
        for i, v, _ in embs
    }
    labels = {i: l for i, _, l in embs}
    cents = {}
    for l in set(labels.values()):
        ids = [i for i in q if labels[i] == l]
        n = len(ids)
        cents[l] = [
            (1 if s >= 0 else -1) * (abs(s) // (n * 10))
            for s in (sum(q[i][d] for i in ids) for d in range(EMB_DIM))
        ]
    n2 = {l: sum(c * c for c in cents[l]) for l in cents}
    cells = {}
    for i in q:
        best = max(
            sorted(cents, reverse=True),
            key=lambda l: (
                float(sum(a * b for a, b in zip(q[i], cents[l])))
                / math.sqrt(float(n2[l])),
                -l,
            ),
        )
        k = (labels[i], best)
        cells[k] = cells.get(k, 0) + 1
    n = sum(cells.values())
    diag = sum(v for (a, b), v in cells.items() if a == b)
    rowm, colm = {}, {}
    for (a, b), v in cells.items():
        rowm[a] = rowm.get(a, 0) + v
        colm[b] = colm.get(b, 0) + v
    sp = sum(rowm[k] * colm.get(k, 0) for k in rowm)
    num = n * diag - sp
    den = n * n - sp
    kappa_ppm = (1 if num >= 0 else -1) * (abs(num) * 1_000_000 // den)
    assert got.n == n and got.diag == diag
    assert got.po_ppm == diag * 1_000_000 // n
    assert got.pe_ppm == sp * 1_000_000 // (n * n)
    assert got.kappa_ppm == kappa_ppm
    # noisy alignment: above chance but far from perfect
    assert 0 < got.kappa_ppm < 900_000


def test_ndcg_eval_vs_bruteforce(spark, tmp_path):
    """Per-query NDCG@K equals a brute-force Python re-derivation of
    BOTH rankings (exact fixed-point cosine truth and the int8 proxy
    order) with the same integer ppb discounts, on seeded vectors
    where quantization genuinely reorders some neighbors."""
    import math
    import struct

    from locopy_spark.functions.vectors import FIXED_SCALE
    from locopy_spark.queries.docs import KNN_QUERY_IDS
    from locopy_spark.queries.docs_ext import (
        NDCG_K,
        _ndcg_disc_ppb,
        _ndcg_idcg_ppb,
        s_ndcg_eval,
    )

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    r = _rng()
    embs = []
    # near-parallel vectors with perturbations BELOW the int8 step
    # (amax/127 ~ 0.008): exact cosine still orders them, the proxy
    # collapses many into ties -> id tie-breaks genuinely reorder
    for i in range(60):
        embs.append((
            i,
            [0.9 + r.uniform(-0.004, 0.004) for _ in range(4)],
            i % 3,
        ))
    _write(spark, tmp_path, "embeddings", embs,
           "vec_id long, embedding array<float>, label int")
    got = {
        x.query_id: (x.n_in_topk, x.dcg_ppb, x.ndcg_ppm)
        for x in s_ndcg_eval(spark, str(tmp_path)).collect()
    }

    vecs = {i: [f32(x) for x in v] for i, v, _ in embs}

    def fdot(a, b):
        return sum(
            math.floor(f32(x) * f32(y) * FIXED_SCALE + 0.5)
            for x, y in zip(a, b)
        )

    def cos(d, na, nb):
        return float(d) / math.sqrt(float(na)) / math.sqrt(float(nb))

    norms = {i: fdot(v, v) for i, v in vecs.items()}
    codes = {}
    for i, v in vecs.items():
        amax = max(abs(f32(x)) for x in v)
        codes[i] = [math.floor(f32(x) / amax * 127 + 0.5) for x in v]
    cnorms = {i: sum(c * c for c in codes[i]) for i in codes}
    disc = _ndcg_disc_ppb()
    idcg = _ndcg_idcg_ppb()
    for qid in KNN_QUERY_IDS:
        exact = sorted(
            (
                (-cos(fdot(vecs[qid], vecs[n]), norms[qid], norms[n]), n)
                for n in vecs
                if n != qid
            )
        )
        truth = [(n, NDCG_K + 1 - r_) for r_, (_, n) in
                 enumerate(exact[:NDCG_K], start=1)]
        pcs = {
            n: cos(
                sum(a * b for a, b in zip(codes[qid], codes[n])),
                cnorms[qid], cnorms[n],
            )
            for n in vecs if n != qid
        }
        dcg = 0
        found = 0
        for n, rel in truth:
            pr = 1 + sum(
                1
                for m in pcs
                if pcs[m] > pcs[n] or (pcs[m] == pcs[n] and m < n)
            )
            if pr <= NDCG_K:
                found += 1
                dcg += rel * disc[pr - 1]
        assert got[qid] == (found, dcg, dcg * 1_000_000 // idcg)
    # quantization must not be a no-op: at least one query below perfect
    assert any(v[2] < 1_000_000 for v in got.values())


def test_abc_xyz_vs_textbook(spark, tmp_path):
    """The matrix equals a brute-force Python classification: parts
    engineered across all three XYZ bands (steady / moderate /
    one-spike demand) and a steep revenue skew so A, B and C are all
    populated."""
    import datetime

    from locopy_spark.queries.tpch_ext import (
        XYZ_X_PPM,
        XYZ_Y_PPM,
        q_abc_xyz,
    )

    r = _rng()
    rows = []
    demand = {}  # (part, ym) -> (qty, rev_units)
    months = [(1995, m) for m in range(1, 13)]
    for pk in range(30):
        kind = pk % 3  # 0: steady, 1: moderate, 2: single spike
        scale_r = 10 ** (pk % 5)  # revenue skew across parts
        for mi, (yy, mm) in enumerate(months):
            if kind == 0:
                qty = 20 + r.randrange(-2, 3)
            elif kind == 1:
                qty = r.choice([5, 40])
            else:
                qty = 300 if mi == pk % 12 else 0
            if qty == 0:
                continue
            price = float(qty * scale_r)
            rows.append(
                (len(rows), pk, float(qty), price,
                 datetime.datetime(yy, mm, 15))
            )
            q0, r0 = demand.get((pk, yy * 100 + mm), (0, 0))
            demand[(pk, yy * 100 + mm)] = (q0 + qty, r0 + round(price))
    _write(
        spark, tmp_path, "lineitem", rows,
        "l_orderkey long, l_partkey long, l_quantity double,"
        " l_extendedprice double, l_shipdate timestamp",
    )
    got = {
        (x.abc_class, x.xyz_class): (x.n_parts, x.parts_share_ppm,
                                     x.revenue)
        for x in q_abc_xyz(spark, str(tmp_path)).collect()
    }

    nm = len({ym for _, ym in demand})
    parts = sorted({pk for pk, _ in demand})
    stats = {}
    for pk in parts:
        qs = [q for (p, _), (q, _) in demand.items() if p == pk]
        rev = sum(rv for (p, _), (_, rv) in demand.items() if p == pk)
        sx = sum(qs)
        sxx = sum(q * q for q in qs)
        cv2 = 0 if sx == 0 else (nm * sxx - sx * sx) * 1_000_000 // (sx * sx)
        xyz = "X" if cv2 <= XYZ_X_PPM else ("Y" if cv2 <= XYZ_Y_PPM else "Z")
        stats[pk] = (rev, xyz)
    tot = sum(rv for rv, _ in stats.values())
    cells = {}
    cum = 0
    for pk in sorted(parts, key=lambda p: (-stats[p][0], p)):
        rv, xyz = stats[pk]
        cum += rv
        abc = "A" if cum * 10 <= tot * 7 else ("B" if cum * 10 <= tot * 9
                                               else "C")
        n, rr = cells.get((abc, xyz), (0, 0))
        cells[(abc, xyz)] = (n + 1, rr + rv)
    want = {
        k: (n, n * 1_000_000 // len(parts), float(rr))
        for k, (n, rr) in cells.items()
    }
    assert got == want
    # all three XYZ bands and at least two ABC classes populated
    assert {k[1] for k in got} == {"X", "Y", "Z"}
    assert len({k[0] for k in got}) >= 2


def test_odds_ratio_vs_textbook(spark, tmp_path):
    """OR and RR equal the textbook 2x2 formulas computed brute-force
    on seeded lines with a built-in exposure effect (deep discounts
    return more often), so OR > 1 decisively."""
    import datetime

    from locopy_spark.queries.tpch_ext import OR_DISC_CUT, q_odds_ratio

    r = _rng()
    rows = []
    a = b = c = d = 0
    for i in range(1000):
        disc = r.choice([0.0, 0.02, 0.04, 0.06, 0.08, 0.10])
        exposed = disc > OR_DISC_CUT
        p_ret = 0.4 if exposed else 0.15
        returned = r.random() < p_ret
        flag = "R" if returned else r.choice(["N", "A"])
        rows.append((i, 1.0, 100.0, disc, flag,
                     datetime.datetime(2020, 1, 1)))
        if exposed and returned:
            a += 1
        elif exposed:
            b += 1
        elif returned:
            c += 1
        else:
            d += 1
    _write(
        spark, tmp_path, "lineitem", rows,
        "l_orderkey long, l_quantity double, l_extendedprice double,"
        " l_discount double, l_returnflag string, l_shipdate timestamp",
    )
    got = q_odds_ratio(spark, str(tmp_path)).collect()[0]
    assert (got.a, got.b, got.c, got.d) == (a, b, c, d)
    assert got.odds_ratio_ppm == a * d * 1_000_000 // max(b * c, 1)
    assert got.rel_risk_ppm == (
        a * (c + d) * 1_000_000 // max(c * (a + b), 1)
    )
    assert got.odds_ratio_ppm > 1_000_000  # the engineered effect


def test_attribution_markov_vs_bruteforce(spark, tmp_path):
    """Removal effects equal a brute-force Python value iteration over
    brute-force-built journeys, on seeded data where one channel is
    engineered to gate most conversions (so its credit dominates)."""
    import datetime

    from locopy_spark.queries.events_ext import (
        MA_ITERS,
        q_attribution_markov,
    )

    r = _rng()
    rows = []
    eid = 0
    for u in range(80):
        t0 = datetime.datetime(2021, 1, 1) + datetime.timedelta(hours=u)
        n = r.randrange(2, 9)
        for k in range(n):
            # 'signup' is the gateway: purchases mostly follow it
            prev_signup = any(
                rows[j][3] == "signup" and rows[j][2] == u
                for j in range(len(rows) - k, len(rows))
            )
            if prev_signup and r.random() < 0.5:
                et = "purchase"
            else:
                et = r.choice(["view", "click", "signup", "error"])
            rows.append(
                (eid, t0 + datetime.timedelta(minutes=k), u, et, 1.0, "{}")
            )
            eid += 1
    _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {
        x.event_type: (x.p_base_ppb, x.p_removed_ppb, x.removal_ppb,
                       x.att_ppm)
        for x in q_attribution_markov(spark, str(tmp_path)).collect()
    }

    # brute-force journeys
    edges = {}
    by_user = {}
    for eid_, ts, u, et, _, _ in rows:
        by_user.setdefault(u, []).append((ts, eid_, et))
    for u, evs in by_user.items():
        toks, cur = [], []
        for _, _, et in sorted(evs):
            if et == "purchase":
                cur.append("CONV")
                toks.append(cur)
                cur = []
            else:
                cur.append(et)
        if cur:
            toks.append(cur + ["NULL"])
        for j in toks:
            path = ["START"] + j
            for a, b in zip(path, path[1:]):
                edges[(a, b)] = edges.get((a, b), 0) + 1
    n_from = {}
    for (a, _), v in edges.items():
        n_from[a] = n_from.get(a, 0) + v
    states = sorted({a for a, _ in edges} | {b for _, b in edges})
    channels = [s for s in states if s not in ("START", "CONV", "NULL")]

    def conv(removed):
        p = {s: 0 for s in states}
        p["CONV"] = 10**9
        for _ in range(MA_ITERS):
            acc = {s: 0 for s in states}
            for (a, b), n in edges.items():
                acc[a] += n * (0 if b == removed else p[b])
            nxt = {}
            for s in states:
                if s == "CONV":
                    nxt[s] = 10**9
                elif s == "NULL":
                    nxt[s] = 0
                else:
                    nxt[s] = (
                        acc[s] // n_from[s] if s in n_from else 0
                    )
            p = nxt
        return p["START"]

    pb = conv(None)
    res = {c: max(0, pb - conv(c)) for c in channels}
    tot = sum(res.values())
    want = {
        c: (pb, conv(c), res[c], res[c] * 10**6 // max(tot, 1))
        for c in channels
    }
    assert got == want
    # the engineered gateway channel dominates the credit
    assert got["signup"][3] == max(v[3] for v in got.values())


def test_payload_dedup_vs_bruteforce(spark, tmp_path):
    """Duplicate groups, keepers, and reclaimable bytes equal the
    brute-force dict computation over seeded docs with engineered
    byte-identical duplicates (including a triple)."""
    import hashlib

    from locopy_spark.queries.docs_ext import m_payload_dedup

    r = _rng()
    texts = []
    for i in range(40):
        if i in (7, 19):
            texts.append(texts[3])  # duplicates of doc 3 (a triple)
        elif i == 25:
            texts.append(texts[10])
        else:
            texts.append(
                " ".join(
                    r.choice(["red", "blue", "disk", "spark"])
                    for _ in range(6)
                )
                + f" #{i}"
            )
    docs = [(i, t, "en", "s0", len(t)) for i, t in enumerate(texts)]
    _write(spark, tmp_path, "documents", docs,
           "doc_id long, text string, lang string, source string,"
           " n_chars long")
    got = [
        (x.digest, x.n_copies, x.keeper, x.dup_bytes)
        for x in m_payload_dedup(spark, str(tmp_path)).collect()
    ]
    groups = {}
    for i, t in enumerate(texts):
        d = hashlib.md5(t.encode()).hexdigest()
        groups.setdefault(d, []).append(i)
    want = sorted(
        (
            (d, len(ids), min(ids),
             (len(ids) - 1) * len(texts[ids[0]].encode()))
            for d, ids in groups.items()
            if len(ids) > 1
        ),
        key=lambda x: x[2],
    )
    assert got == want and len(got) == 2
    assert got[0][1] == 3  # the engineered triple


def test_attribution_decay_vs_bruteforce(spark, tmp_path):
    """Time-decay credits equal the brute-force Python computation
    with the same power-of-two integer weights on seeded journeys
    whose touch ages span all half-life buckets (so weights genuinely
    differ from linear's equal split)."""
    import datetime

    from locopy_spark.queries.events_ext import (
        ATTR_WINDOW_US,
        DECAY_HALF_US,
        q_attribution_decay,
    )

    r = _rng()
    rows = []
    eid = 0
    touches = []  # (user, ts_us, type)
    purchases = []  # (pid, user, ts_us, value_fix)
    base = datetime.datetime(2021, 3, 1)
    for u in range(50):
        t0 = base + datetime.timedelta(hours=u)
        n = r.randrange(1, 6)
        for k in range(n):
            et = r.choice(["view", "click"])
            # ages spread over the full window: 1..29 minutes back
            ts = t0 - datetime.timedelta(minutes=r.randrange(1, 30))
            rows.append((eid, ts, u, et, 1.0, "{}"))
            touches.append((u, int(ts.timestamp() * 1e6), et))
            eid += 1
        val = r.randrange(1, 500) / 10.0
        rows.append((eid, t0, u, "purchase", val, "{}"))
        purchases.append((eid, u, int(t0.timestamp() * 1e6),
                          round(val * 1000)))
        eid += 1
    _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {
        x.touch_type: (x.n_purchases, x.credit_fix)
        for x in q_attribution_decay(spark, str(tmp_path)).collect()
    }
    agg = {}
    for pid, u, pus, vfix in purchases:
        sw = {}
        for tu, tus, et in touches:
            if tu == u and pus - ATTR_WINDOW_US <= tus < pus:
                b = min((pus - tus) // DECAY_HALF_US, 10)
                sw[et] = sw.get(et, 0) + (1024 >> b)
        tot = sum(sw.values())
        for et, w in sw.items():
            n, c = agg.get(et, (set(), 0))
            n.add(pid)
            agg[et] = (n, c + vfix * w // tot)
    want = {et: (len(n), c) for et, (n, c) in agg.items()}
    assert got == want


def test_xmr_control_vs_textbook(spark, tmp_path):
    """Breach days equal the textbook XmR computation (mean, average
    moving range, +/-2.66*mR limits) on a seeded series with two
    engineered out-of-control spikes (one high, one low)."""
    import datetime

    from locopy_spark.queries.timeseries import q_xmr_control

    r = _rng()
    base = datetime.date(2020, 5, 1)
    daily = {}
    rows = []
    for d in range(90):
        v = 100 + r.randrange(-3, 4)
        if d == 40:
            v = 200  # engineered high spike
        if d == 70:
            v = 20  # engineered low spike
        rows.append(
            (d, datetime.datetime.combine(
                base + datetime.timedelta(days=d), datetime.time(9)),
             float(v))
        )
        day = (base + datetime.timedelta(days=d)
               - datetime.date(1970, 1, 1)).days
        daily[day] = v * 1000
    _write(spark, tmp_path, "orders", rows,
           "o_orderkey long, o_orderdate timestamp, o_totalprice double")
    got = [(x.day, x.side) for x in
           q_xmr_control(spark, str(tmp_path)).collect()]

    days = sorted(daily)
    xs = [daily[d] for d in days]
    n = len(xs)
    s = sum(xs)
    mrs = [abs(b - a) for a, b in zip(xs, xs[1:])]
    m, smr = len(mrs), sum(mrs)
    want = [
        (d, 1 if daily[d] * n > s else -1)
        for d in days
        if abs(daily[d] * n - s) * 100 * m > 266 * smr * n
    ]
    assert got == want
    sides = {s_ for _, s_ in got}
    assert sides == {1, -1}  # both engineered spikes trip their side


def test_brand_xcorr_vs_textbook(spark, tmp_path):
    """Pair correlations equal textbook Pearson over the zero-filled
    monthly grids, on seeded data with an engineered substitute pair
    (anti-phase demand) and an engineered complement pair (in-phase),
    plus a brand absent some months (the zero-fill path)."""
    import datetime
    import math

    from locopy_spark.queries.stats import BX_R_CUT, q_brand_xcorr

    r = _rng()
    parts = {0: "B_A", 1: "B_B", 2: "B_C", 3: "B_D"}
    rows, grid = [], {}
    for mi in range(12):
        phase = mi % 2
        demand = {
            "B_A": 50 + 40 * phase + r.randrange(0, 3),
            "B_B": 90 - 40 * phase + r.randrange(0, 3),  # anti-phase
            "B_C": 45 + 40 * phase + r.randrange(0, 3),  # in-phase w/ A
            "B_D": (10 if mi % 3 == 0 else 0),  # absent most months
        }
        for pk, brand in parts.items():
            q = demand[brand]
            if q == 0:
                continue
            rows.append(
                (len(rows), pk, float(q), float(q) * 3.0,
                 datetime.datetime(1997, mi + 1, 10))
            )
            grid[(brand, mi)] = q
    _write(
        spark, tmp_path, "lineitem", rows,
        "l_orderkey long, l_partkey long, l_quantity double,"
        " l_extendedprice double, l_shipdate timestamp",
    )
    _write(
        spark, tmp_path, "part",
        [(pk, b) for pk, b in parts.items()],
        "p_partkey long, p_brand string",
    )
    got = {
        (x.brand_a, x.brand_b): (x.n_months, x.r, x.relation)
        for x in q_brand_xcorr(spark, str(tmp_path)).collect()
    }
    brands = sorted(parts.values())
    for i, ba in enumerate(brands):
        for bb in brands[i + 1:]:
            xs = [grid.get((ba, m), 0) for m in range(12)]
            ys = [grid.get((bb, m), 0) for m in range(12)]
            n = 12
            sx, sy = sum(xs), sum(ys)
            sxy = sum(a * b for a, b in zip(xs, ys))
            sx2 = sum(a * a for a in xs)
            sy2 = sum(b * b for b in ys)
            vx = n * float(sx2) - float(sx) * float(sx)
            vy = n * float(sy2) - float(sy) * float(sy)
            rr = (
                (n * float(sxy) - float(sx) * float(sy))
                / (math.sqrt(vx) * math.sqrt(vy))
                if vx > 0 and vy > 0
                else None
            )
            nm, gr, rel = got[(ba, bb)]
            assert nm == n
            assert gr == rr
            if rr is not None and rr < -BX_R_CUT:
                assert rel == "substitute"
            elif rr is not None and rr > BX_R_CUT:
                assert rel == "complement"
    assert got[("B_A", "B_B")][2] == "substitute"
    assert got[("B_A", "B_C")][2] == "complement"


def test_croston_vs_textbook(spark, tmp_path):
    """Final smoothed size/interval and the rate equal a brute-force
    Python replay of the halving recurrences on seeded intermittent
    series (varied gaps, parts below the min-demand cutoff excluded)."""
    import datetime

    from locopy_spark.queries.tpch_ext import (
        CROSTON_MIN_DEMANDS,
        q_croston,
    )

    r = _rng()
    rows = []
    series = {}  # part -> [(linmonth, qty)]
    for pk in range(20):
        months = sorted(r.sample(range(24), r.randrange(1, 10)))
        for m in months:
            yy, mm = 1995 + m // 12, m % 12 + 1
            qty = r.randrange(1, 60)
            rows.append(
                (len(rows), pk, float(qty), float(qty) * 2.0,
                 datetime.datetime(yy, mm, 12))
            )
            series.setdefault(pk, []).append((yy * 12 + mm, qty))
    _write(
        spark, tmp_path, "lineitem", rows,
        "l_orderkey long, l_partkey long, l_quantity double,"
        " l_extendedprice double, l_shipdate timestamp",
    )
    got = {
        x.l_partkey: (x.n_demands, x.z_fix, x.p_fix, x.croston_rate_ppm)
        for x in q_croston(spark, str(tmp_path)).collect()
    }
    want = {}
    for pk, pts in series.items():
        if len(pts) < CROSTON_MIN_DEMANDS:
            continue
        z = p = prev = None
        for t, d in pts:
            if z is None:
                z, p = d, 1
            else:
                z = (d + z) // 2
                p = ((t - prev) + p) // 2
            prev = t
        want[pk] = (len(pts), z, p, z * 1_000_000 // p)
    assert got == want
    assert any(n < CROSTON_MIN_DEMANDS for n in
               (len(v) for v in series.values()))  # cutoff exercised


def test_demand_obsolete_vs_textbook(spark, tmp_path):
    """EOL flags equal the brute-force rhythm test on seeded series:
    a dead weekly seller flags, a slow-but-alive seller does not."""
    import datetime

    from locopy_spark.queries.tpch_ext import EOL_FACTOR, q_demand_obsolete

    rows = []
    series = {
        0: list(range(12)),          # monthly seller, dies at month 11
        1: [0, 6, 12, 18],           # twice-a-year, last at 18 (alive)
        2: list(range(20, 24)),      # active through the end
        3: [2],                      # single demand: no rhythm
    }
    for pk, months in series.items():
        for m in months:
            yy, mm = 1995 + m // 12, m % 12 + 1
            rows.append(
                (len(rows), pk, 5.0, 10.0, datetime.datetime(yy, mm, 8))
            )
    _write(
        spark, tmp_path, "lineitem", rows,
        "l_orderkey long, l_partkey long, l_quantity double,"
        " l_extendedprice double, l_shipdate timestamp",
    )
    got = {
        x.l_partkey: (x.n_demands, x.silent_months, x.adi_ppm)
        for x in q_demand_obsolete(spark, str(tmp_path)).collect()
    }
    t_now = max(max(m) for m in series.values())
    want = {}
    for pk, months in series.items():
        lm = [1995 * 12 + m // 12 * 12 + m % 12 + 1 for m in months]
        n, tf, tl = len(lm), min(lm), max(lm)
        if n >= 2 and (t_now_lin := max(
            max(1995 * 12 + m // 12 * 12 + m % 12 + 1 for m in mm)
            for mm in series.values()
        )) and ((t_now_lin - tl) * (n - 1) > EOL_FACTOR * (tl - tf)):
            want[pk] = (n, t_now_lin - tl,
                        (tl - tf) * 1_000_000 // (n - 1))
    assert got == want
    assert 0 in got and 1 not in got and 2 not in got and 3 not in got


def test_bollinger_vs_textbook(spark, tmp_path):
    """Breach days equal the textbook rolling mean +/- 2*sigma band
    (squared inequality, population sigma over the 7-day window) on a
    seeded series with one engineered high spike and one engineered
    low spike placed after calm stretches."""
    import datetime

    from locopy_spark.queries.timeseries import BOLL_K, BOLL_W, q_bollinger

    r = _rng()
    base = datetime.date(2021, 2, 1)
    daily = {}
    rows = []
    for d in range(60):
        v = 100 + r.randrange(-4, 5)
        if d == 30:
            v = 250  # engineered high breach
        if d == 50:
            v = 10  # engineered low breach
        rows.append(
            (d, datetime.datetime.combine(
                base + datetime.timedelta(days=d), datetime.time(9)),
             float(v))
        )
        day = (base + datetime.timedelta(days=d)
               - datetime.date(1970, 1, 1)).days
        daily[day] = v * 1000
    _write(spark, tmp_path, "orders", rows,
           "o_orderkey long, o_orderdate timestamp, o_totalprice double")
    got = [(x.day, x.side, x.z2_ppm) for x in
           q_bollinger(spark, str(tmp_path)).collect()]

    days = sorted(daily)
    want = []
    for i in range(BOLL_W - 1, len(days)):
        window = [daily[d] for d in days[i - BOLL_W + 1: i + 1]]
        x = daily[days[i]]
        s, q = sum(window), sum(v * v for v in window)
        lhs = (x * BOLL_W - s) ** 2
        rhs = BOLL_K * BOLL_K * (BOLL_W * q - s * s)
        if lhs > rhs:
            want.append(
                (days[i], 1 if x * BOLL_W > s else -1,
                 lhs * 1_000_000 // max(BOLL_W * q - s * s, 1))
            )
    assert got == want
    sides = {s_ for _, s_, _ in got}
    assert sides == {1, -1}  # both engineered spikes trip their side


def test_rsi_vs_textbook(spark, tmp_path):
    """Signal days equal textbook Cutler RSI (rolling 14-diff SMA of
    gains vs losses) on a seeded series with an engineered monotone
    climb (overbought) and an engineered monotone slide (oversold)."""
    import datetime

    from locopy_spark.queries.timeseries import (
        RSI_HI,
        RSI_LO,
        RSI_P,
        q_rsi,
    )

    r = _rng()
    base = datetime.date(2021, 6, 1)
    daily = {}
    rows = []
    v = 100
    for d in range(80):
        if 20 <= d < 40:
            v += r.randrange(3, 7)  # monotone climb -> overbought
        elif 50 <= d < 70:
            v -= r.randrange(3, 7)  # monotone slide -> oversold
        else:
            v += r.randrange(-2, 3)
        rows.append(
            (d, datetime.datetime.combine(
                base + datetime.timedelta(days=d), datetime.time(9)),
             float(max(v, 5)))
        )
        day = (base + datetime.timedelta(days=d)
               - datetime.date(1970, 1, 1)).days
        daily[day] = max(v, 5) * 1000
    _write(spark, tmp_path, "orders", rows,
           "o_orderkey long, o_orderdate timestamp, o_totalprice double")
    got = [(x.day, x.rsi_ppm, x.signal) for x in
           q_rsi(spark, str(tmp_path)).collect()]

    days = sorted(daily)
    diffs = [(days[i], daily[days[i]] - daily[days[i - 1]])
             for i in range(1, len(days))]
    want = []
    for i in range(RSI_P - 1, len(diffs)):
        window = [dv for _, dv in diffs[i - RSI_P + 1: i + 1]]
        g = sum(dv for dv in window if dv > 0)
        lo = sum(-dv for dv in window if dv < 0)
        rsi = g * 1_000_000 // max(g + lo, 1)
        if rsi >= RSI_HI or rsi <= RSI_LO:
            want.append((diffs[i][0], rsi,
                         "overbought" if rsi >= RSI_HI else "oversold"))
    assert got == want
    signals = {sg for _, _, sg in got}
    assert signals == {"overbought", "oversold"}  # both regimes hit


def test_newsvendor_vs_textbook(spark, tmp_path):
    """Per-part stocking levels equal the textbook discrete newsvendor
    quantile (smallest q with empirical CDF >= 4/5 over demand months)
    on seeded data with an engineered lumpy part (one huge month that
    the 4/5 fractile must NOT chase) and a part below the month
    minimum (excluded)."""
    import datetime

    from locopy_spark.queries.tpch_ext import (
        NV_DEN,
        NV_MIN_MONTHS,
        NV_NUM,
        q_newsvendor,
    )

    r = _rng()
    rows = []
    demands = {}  # pk -> {ym_linear: qty}
    base = datetime.date(2019, 1, 1)
    for pk, months in ((0, 12), (1, 12), (2, NV_MIN_MONTHS - 1)):
        for mi in range(months):
            qty = r.randrange(5, 30)
            if pk == 1 and mi == 6:
                qty = 500  # engineered lump
            d = base.replace(year=2019 + mi // 12, month=mi % 12 + 1)
            rows.append(
                (pk, datetime.datetime.combine(d, datetime.time(12)),
                 float(qty), 100.0)
            )
            ym = d.year * 100 + d.month
            demands.setdefault(pk, {})
            demands[pk][ym] = demands[pk].get(ym, 0) + qty
    _write(
        spark, tmp_path, "lineitem", rows,
        "l_partkey long, l_shipdate timestamp,"
        " l_quantity double, l_extendedprice double",
    )
    got = {
        x.l_partkey: (x.n_months, x.q_star, x.cover_ppm)
        for x in q_newsvendor(spark, str(tmp_path)).collect()
    }

    want = {}
    for pk, bym in demands.items():
        qs = sorted((q, ym) for ym, q in bym.items() if q > 0)
        n = len(qs)
        if n < NV_MIN_MONTHS:
            continue
        k = (NV_NUM * n + NV_DEN - 1) // NV_DEN
        q_star = qs[k - 1][0]
        want[pk] = (n, q_star, q_star * n * 1_000_000 // sum(q for q, _ in qs))
    assert got == want
    assert 2 not in got  # below the month minimum
    # the lump lands ABOVE the 4/5 fractile: Q* stays at routine scale
    assert got[1][1] < 500


def test_jaccard_links_vs_textbook(spark, tmp_path):
    """Predicted links equal brute-force capped-common-neighbor
    Jaccard over all non-adjacent pairs, on a seeded graph with an
    engineered super-hub (degree > LP_DEGCAP) whose wedges must NOT
    generate candidates, plus a normal clique-ish cluster that must."""
    import datetime
    import itertools

    from locopy_spark.queries.mining import (
        LP_DEGCAP,
        LP_TOPK,
        q_jaccard_links,
    )

    ts = datetime.datetime(2020, 1, 1, 12)
    baskets = []
    # engineered hub: part 999 shares one order with each of 81 spokes,
    # so every spoke pair has exactly one common neighbor — the hub —
    # and the degree cap must suppress ALL of them
    for i in range(LP_DEGCAP + 1):
        baskets.append([999, 1000 + i])
    # normal cluster: overlapping small baskets generate real candidates
    baskets += [[1, 2, 3], [1, 2, 4], [2, 3, 4], [3, 5], [4, 5], [1, 6],
                [5, 6], [2, 6]]
    rows = [
        (ok, int(pk), ts)
        for ok, ps in enumerate(baskets)
        for pk in ps
    ]
    _write(spark, tmp_path, "lineitem", rows,
           "l_orderkey long, l_partkey long, l_shipdate timestamp")
    got = [
        (x.part_a, x.part_b, x.common_neighbors, x.deg_a, x.deg_b,
         x.jaccard_ppm)
        for x in q_jaccard_links(spark, str(tmp_path)).collect()
    ]

    edges = set()
    for ps in baskets:
        for a, b in itertools.combinations(sorted(set(ps)), 2):
            edges.add((a, b))
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    deg = {v: len(ns) for v, ns in nbrs.items()}
    cand = {}
    for v, ns in nbrs.items():
        if deg[v] > LP_DEGCAP:
            continue
        for u, w in itertools.combinations(sorted(ns), 2):
            if (u, w) not in edges:
                cand[(u, w)] = cand.get((u, w), 0) + 1
    scored = [
        (cn * 1_000_000 // (deg[u] + deg[w] - cn), cn, u, w)
        for (u, w), cn in cand.items()
    ]
    scored.sort(key=lambda t: (-t[0], -t[1], t[2], t[3]))
    want = [
        (u, w, cn, deg[u], deg[w], j)
        for j, cn, u, w in scored[:LP_TOPK]
    ]
    assert got == want
    # no hub-only pair leaked through the cap
    assert all(a < 999 and b < 999 for a, b, *_ in got)
    assert got  # the normal cluster produced real candidates


def test_little_law_vs_textbook(spark, tmp_path):
    """Monthly WIP/throughput/cycle panel equals a brute-force
    day-walk over seeded intervals (including an order spanning three
    months, a one-day order, and a ship-before-order row that the
    clamp must pin to the order day), and the conservation identity
    sum_m wip(m) == sum_orders cycle holds exactly."""
    import datetime

    from locopy_spark.queries.tpch_ext import q_little_law

    ts = datetime.time(10)
    orders = [
        (1, datetime.date(2020, 1, 10)),   # closes same month
        (2, datetime.date(2020, 1, 25)),   # spans Jan->Mar
        (3, datetime.date(2020, 2, 14)),   # one-day order
        (4, datetime.date(2020, 3, 5)),    # ship BEFORE order (clamped)
    ]
    ships = {
        1: [datetime.date(2020, 1, 12), datetime.date(2020, 1, 20)],
        2: [datetime.date(2020, 2, 2), datetime.date(2020, 3, 10)],
        3: [datetime.date(2020, 2, 14)],
        4: [datetime.date(2020, 3, 1)],
    }
    _write(spark, tmp_path, "orders",
           [(ok, datetime.datetime.combine(d, ts)) for ok, d in orders],
           "o_orderkey long, o_orderdate timestamp")
    _write(spark, tmp_path, "lineitem",
           [(ok, datetime.datetime.combine(d, ts))
            for ok, ds in ships.items() for d in ds],
           "l_orderkey long, l_shipdate timestamp")
    got = [
        (x.ym, x.wip_days, x.n_closed, x.avg_wip_ppm,
         x.implied_cycle_ppm, x.actual_cycle_ppm)
        for x in q_little_law(spark, str(tmp_path)).collect()
    ]

    # brute force: walk every calendar day of every order's interval
    one = datetime.timedelta(days=1)
    wip, closes, cycles = {}, {}, {}
    intervals = {}
    for ok, od in orders:
        cd = max(max(ships[ok]), od)  # the clamp
        intervals[ok] = (od, cd)
        d = od
        while d <= cd:
            wip[d.year * 100 + d.month] = wip.get(d.year * 100 + d.month,
                                                  0) + 1
            d += one
        ym_c = cd.year * 100 + cd.month
        closes[ym_c] = closes.get(ym_c, 0) + 1
        cycles[ym_c] = cycles.get(ym_c, 0) + (cd - od).days + 1
    import calendar

    want = []
    for ym in sorted(wip):
        dim = calendar.monthrange(ym // 100, ym % 100)[1]
        nc = closes.get(ym, 0)
        want.append((
            ym, wip[ym], nc,
            wip[ym] * 1_000_000 // dim,
            wip[ym] * 1_000_000 // max(nc, 1),
            cycles.get(ym, 0) * 1_000_000 // max(nc, 1),
        ))
    assert got == want
    # the conservation law: total WIP-days == total cycle-days
    assert sum(w for _, w, *_ in want) == sum(
        (cd - od).days + 1 for od, cd in intervals.values()
    )
    # the clamp pinned order 4 to its order day or later
    assert intervals[4][1] >= intervals[4][0]


def test_supplier_leadtime_vs_textbook(spark, tmp_path):
    """Scorecards equal brute-force order statistics (ceil-rank median
    and p95 over the raw lag list) on seeded data with an engineered
    slow supplier, a ship-before-order row (clamped to lag 0), and a
    supplier whose returns are concentrated."""
    import datetime

    from locopy_spark.queries.tpch_ext import q_supplier_leadtime

    r = _rng()
    base = datetime.date(2020, 3, 1)
    ts = datetime.time(8)
    orows, lrows = [], []
    lags = {0: [], 1: [], 2: []}
    ok = 0
    for sk, spec in ((0, "fast"), (1, "slow"), (2, "returny")):
        for i in range(40):
            od = base + datetime.timedelta(days=r.randrange(0, 60))
            if spec == "fast":
                lag = r.randrange(0, 5)
            elif spec == "slow":
                lag = r.randrange(20, 60)
            else:
                lag = r.randrange(0, 10)
            if i == 0:
                lag = -3  # ship BEFORE order: must clamp to 0
            rf = "R" if (spec == "returny" and i % 2 == 0) else "N"
            orows.append((ok, datetime.datetime.combine(od, ts)))
            lrows.append(
                (ok, sk,
                 datetime.datetime.combine(
                     od + datetime.timedelta(days=lag), ts), rf)
            )
            lags[sk].append((max(lag, 0), rf))
            ok += 1
    _write(spark, tmp_path, "orders", orows,
           "o_orderkey long, o_orderdate timestamp")
    _write(spark, tmp_path, "lineitem", lrows,
           "l_orderkey long, l_suppkey long, l_shipdate timestamp,"
           " l_returnflag string")
    got = {
        x.l_suppkey: (x.n_lines, x.median_lag, x.p95_lag, x.return_ppm)
        for x in q_supplier_leadtime(spark, str(tmp_path)).collect()
    }

    want = {}
    for sk, pairs in lags.items():
        xs = sorted(l for l, _ in pairs)
        n = len(xs)
        med = xs[(n + 1) // 2 - 1] if n % 2 else xs[n // 2 - 1]
        # ceil-rank order statistics: smallest lag with cum >= ceil(q*n)
        med = xs[-(-n // 2) - 1]
        p95 = xs[-(-19 * n // 20) - 1]
        nr = sum(1 for _, rf in pairs if rf == "R")
        want[sk] = (n, med, p95, nr * 1_000_000 // n)
    assert got == want
    assert got[1][1] > got[0][1]  # the slow supplier ranks slower
    assert got[2][3] == 500_000  # the returny supplier's exact rate


def test_mase_vs_textbook(spark, tmp_path):
    """The skill panel equals the hand-computed MASE (sum of |lag-7
    error| over sum of |lag-1 error| on the shared scored suffix) on a
    seeded series with an engineered strong weekly pattern — where the
    seasonal-naive forecast must win (mase_ppm < 1e6)."""
    import datetime

    from locopy_spark.queries.timeseries import MASE_SEASON, q_mase

    r = _rng()
    base = datetime.date(2022, 2, 1)
    rows, daily = [], {}
    for d in range(60):
        v = 100 + 40 * (d % 7) + r.randrange(-3, 4)  # weekly sawtooth
        rows.append(
            (d, datetime.datetime.combine(
                base + datetime.timedelta(days=d), datetime.time(9)),
             float(v))
        )
        day = (base + datetime.timedelta(days=d)
               - datetime.date(1970, 1, 1)).days
        daily[day] = v * 1000
    _write(spark, tmp_path, "orders", rows,
           "o_orderkey long, o_orderdate timestamp, o_totalprice double")
    got = [tuple(x) for x in q_mase(spark, str(tmp_path)).collect()]

    days = sorted(daily)
    scored = range(MASE_SEASON, len(days))
    sae1 = sum(abs(daily[days[i]] - daily[days[i - 1]]) for i in scored)
    sae7 = sum(
        abs(daily[days[i]] - daily[days[i - MASE_SEASON]]) for i in scored
    )
    mase = sae7 * 1_000_000 // max(sae1, 1)
    assert got == [(len(list(scored)), sae1, sae7, mase, 1)]
    assert mase < 1_000_000  # the weekly pattern must carry signal


def test_logrank_vs_textbook(spark, tmp_path):
    """The one-row panel equals a from-scratch log-rank computation
    (risk sets by hand over every exit time, floor-fixed-point E1/V
    terms, final z) on seeded data with an engineered short-lived
    segment — which the test asserts is detected (z < -1.96: group 1
    churns EARLIER, so it accumulates MORE events than expected while
    at risk)."""
    import datetime
    import math

    from locopy_spark.queries.assoc import (
        KM_CHURN_DAYS,
        LOGRANK_SEG,
        q_logrank,
    )

    r = _rng()
    base = datetime.date(2019, 1, 1)
    ts = datetime.time(8)
    orows, crows = [], []
    lifes = []  # (t, ev, g1)
    horizon_span = 700
    ok = 0
    for ck in range(60):
        g1 = ck % 3 == 0
        crows.append((ck, LOGRANK_SEG if g1 else "MACHINERY"))
        first = r.randrange(0, 40)
        # engineered effect: segment customers live ~60 days, rest ~400
        life = r.randrange(30, 90) if g1 else r.randrange(300, 500)
        last = min(first + life, horizon_span)
        for d in (first, last):
            orows.append(
                (ok, ck,
                 datetime.datetime.combine(
                     base + datetime.timedelta(days=d), ts))
            )
            ok += 1
        lifes.append((last - first, g1))
    # pin the horizon with one long-lived non-segment customer
    crows.append((999, "HOUSEHOLD"))
    orows.append((ok, 999, datetime.datetime.combine(base, ts)))
    orows.append(
        (ok + 1, 999,
         datetime.datetime.combine(
             base + datetime.timedelta(days=horizon_span), ts))
    )
    lifes.append((horizon_span, False))
    _write(spark, tmp_path, "orders", orows,
           "o_orderkey long, o_custkey long, o_orderdate timestamp")
    _write(spark, tmp_path, "customer", crows,
           "c_custkey long, c_mktsegment string")
    got = [tuple(x) for x in q_logrank(spark, str(tmp_path)).collect()]

    # from scratch: reconstruct spans, exit table, risk sets, terms
    per_t = {}
    n_all = len(lifes)
    n1_all = sum(1 for _, g in lifes if g)
    # reconstruct last day per customer to decide the event flag
    lasts = {}
    for okk, ck, od in orows:
        d = (od.date() - base).days
        lo, hi = lasts.get(ck, (d, d))
        lasts[ck] = (min(lo, d), max(hi, d))
    for ck, (lo, hi) in lasts.items():
        t = hi - lo
        ev = 1 if (horizon_span - hi) > KM_CHURN_DAYS else 0
        g = 1 if (ck % 3 == 0 and ck != 999) else 0
        cell = per_t.setdefault(t, [0, 0, 0, 0])
        cell[0] += ev
        cell[1] += ev * g
        cell[2] += 1
        cell[3] += g
    o1 = e1 = v = 0
    pre_m = pre_m1 = 0
    for t in sorted(per_t):
        d, d1, m, m1 = per_t[t]
        n = n_all - pre_m
        n1 = n1_all - pre_m1
        if d >= 1:
            o1 += d1
            e1 += d * n1 * 10**9 // n
            if n > 1:
                v += (d * n1 * (n - n1) * (n - d) * 10**9
                      // (n * n * (n - 1)))
        pre_m += m
        pre_m1 += m1
    z = (o1 * 1.0e9 - float(e1)) / math.sqrt(float(v) * 1.0e9)
    assert got == [(n1_all, n_all - n1_all, o1, e1, v, z)]
    assert z > 1.96  # group 1 churns earlier: more events than expected


def test_ship_sla_vs_textbook(spark, tmp_path):
    """Panel rates equal hand-computed per-(month, priority) on-time
    ppm and mean-late-days ppm on seeded data with an engineered
    always-late priority and a boundary line shipped exactly ON the
    SLA day (which must count as on-time)."""
    import datetime

    from locopy_spark.queries.tpch_ext import SLA_DAYS, q_ship_sla

    r = _rng()
    base = datetime.date(2020, 1, 10)
    ts = datetime.time(7)
    orows, lrows = [], []
    cells = {}
    ok = 0
    for i in range(120):
        prio = "1-URGENT" if i % 2 == 0 else "5-LOW"
        od = base + datetime.timedelta(days=r.randrange(0, 50))
        if prio == "1-URGENT":
            lag = r.randrange(0, 40)  # always inside SLA
        else:
            lag = r.randrange(80, 200)  # straddles the SLA boundary
        if i == 1:
            lag = SLA_DAYS  # exact boundary: on-time by definition
        sd = od + datetime.timedelta(days=lag)
        orows.append((ok, datetime.datetime.combine(od, ts), prio))
        lrows.append((ok, datetime.datetime.combine(sd, ts), 10.0))
        ym = sd.year * 100 + sd.month
        c = cells.setdefault((ym, prio), [0, 0, 0])
        c[0] += 1
        c[1] += 1 if lag <= SLA_DAYS else 0
        c[2] += max(lag - SLA_DAYS, 0)
        ok += 1
    _write(spark, tmp_path, "orders", orows,
           "o_orderkey long, o_orderdate timestamp, o_orderpriority string")
    _write(spark, tmp_path, "lineitem", lrows,
           "l_orderkey long, l_shipdate timestamp, l_extendedprice double")
    got = [(x.ym, x.prio, x.n_lines, x.ontime_ppm, x.late_days_ppm)
           for x in q_ship_sla(spark, str(tmp_path)).collect()]
    want = sorted(
        (ym, prio, n, ont * 1_000_000 // n,
         late * 1_000_000 // max(n - ont, 1))
        for (ym, prio), (n, ont, late) in cells.items()
    )
    assert got == want


def test_friedman_vs_textbook(spark, tmp_path):
    """Panel equals the textbook Friedman computation (tie-averaged
    within-block ranks of per-priority monthly revenue, Q from rank
    sums) on seeded data with an engineered dominant priority — which
    the test asserts is detected (Q above the 5% chi-square cutoff for
    k−1 = 2 df)."""
    import datetime

    from locopy_spark.queries.stats import q_friedman

    r = _rng()
    ts = datetime.time(7)
    orows, lrows = [], []
    rev = {}
    ok = 0
    prios = ["1-URGENT", "3-MEDIUM", "5-LOW"]
    for m in range(8):  # 8 complete blocks
        od = datetime.date(2021, m + 1, 5)
        for prio in prios:
            # engineered effect: URGENT always biggest
            v = (3000 if prio == "1-URGENT" else 1000) + r.randrange(0, 500)
            orows.append((ok, datetime.datetime.combine(od, ts), prio))
            lrows.append(
                (ok, datetime.datetime.combine(od, ts), float(v))
            )
            ym = od.year * 100 + od.month
            rev[(ym, prio)] = rev.get((ym, prio), 0) + v * 1000
            ok += 1
    _write(spark, tmp_path, "orders", orows,
           "o_orderkey long, o_orderdate timestamp, o_orderpriority string")
    _write(spark, tmp_path, "lineitem", lrows,
           "l_orderkey long, l_shipdate timestamp, l_extendedprice double")
    got = [tuple(x) for x in q_friedman(spark, str(tmp_path)).collect()]

    k = len(prios)
    yms = sorted({ym for ym, _ in rev})
    r2_sums = {p: 0 for p in prios}
    for ym in yms:
        vals = sorted(rev[(ym, p)] for p in prios)
        for p in prios:
            v = rev[(ym, p)]
            rnk = 1 + sum(1 for x in vals if x < v)
            ties = sum(1 for x in vals if x == v)
            r2_sums[p] += 2 * rnk + ties - 1
    n = len(yms)
    ssq = sum(v * v for v in r2_sums.values())
    q_stat = 3.0 * float(ssq) / (float(n) * k * (k + 1)) \
        - 3.0 * float(n) * (k + 1)
    want = [(p, k, n, r2_sums[p], q_stat) for p in sorted(prios)]
    assert got == want
    assert q_stat > 5.991  # chi2(0.95, df=2): the effect is detected


def test_clustering_coef_vs_textbook(spark, tmp_path):
    """The banded profile equals brute-force per-node clustering
    coefficients (all neighbor pairs checked against the edge set) on
    a seeded graph with an engineered clique (cc = 1), an engineered
    star (cc = 0 spokes), and a hub above the degree cap that must be
    EXCLUDED as a center yet still COUNT as a neighbor of others."""
    import datetime
    import itertools

    from locopy_spark.queries.mining import (
        CC_BAND,
        LP_DEGCAP,
        q_clustering_coef,
    )

    ts = datetime.datetime(2020, 5, 1, 8)
    baskets = []
    # clique on 4 parts: every neighbor pair connected -> cc = 1
    baskets.append([0, 1, 2, 3])
    # star: center 10, spokes 11..14 never co-bought together
    for sp in (11, 12, 13, 14):
        baskets.append([10, sp])
    # triangle hanging off the star center
    baskets.append([10, 15])
    baskets.append([10, 16])
    baskets.append([15, 16])
    # hub above the cap: part 99 co-bought with LP_DEGCAP+5 others
    for i in range(LP_DEGCAP + 5):
        baskets.append([99, 200 + i])
    lrows = [
        (ok, pk, ts) for ok, ps in enumerate(baskets) for pk in ps
    ]
    _write(spark, tmp_path, "lineitem", lrows,
           "l_orderkey long, l_partkey long, l_shipdate timestamp")
    got = [(x.band, x.n_nodes, x.avg_cc_ppm)
           for x in q_clustering_coef(spark, str(tmp_path)).collect()]

    edges = set()
    for ps in baskets:
        for a, b in itertools.combinations(sorted(set(ps)), 2):
            edges.add((a, b))
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    ccs = []
    for v, ns in nbrs.items():
        d = len(ns)
        if d < 2 or d > LP_DEGCAP:
            continue
        tri = sum(
            1 for a, b in itertools.combinations(sorted(ns), 2)
            if (a, b) in edges
        )
        ccs.append(tri * 2_000_000 // (d * (d - 1)))
    want = {}
    for cc in ccs:
        band = cc // CC_BAND
        n, sm = want.get(band, (0, 0))
        want[band] = (n + 1, sm + cc)
    want_rows = sorted(
        (band, n, sm // n) for band, (n, sm) in want.items()
    )
    assert got == want_rows
    assert any(band == 10 for band, _, _ in got)  # the clique band
    assert any(band == 0 for band, _, _ in got)   # the star spokes
    # the hub is not a center: no row counts it
    assert sum(n for _, n, _ in got) == len(ccs)


def test_mcnemar_vs_textbook(spark, tmp_path):
    """The 2x2 panel equals hand-tallied concordant/discordant counts
    (multi-order customers collapse to one flag pair) on seeded data
    with an engineered churn excess — which the continuity-corrected
    chi-square must flag (> 3.841, the 5% cutoff at 1 df)."""
    import datetime

    from locopy_spark.queries.trends import MCN_Y1, MCN_Y2, q_mcnemar

    r = _rng()
    ts = datetime.time(8)
    orows = []
    flags = {}
    ok = 0
    for ck in range(90):
        # 30 both-years, 40 lost (y1 only), 10 gained (y2 only),
        # 10 outside either year entirely (must not enter the table)
        if ck < 30:
            years = [MCN_Y1, MCN_Y2]
        elif ck < 70:
            years = [MCN_Y1]
        elif ck < 80:
            years = [MCN_Y2]
        else:
            years = [MCN_Y1 - 2]
        for y in years:
            # several orders per active year: flags stay 0/1
            for _ in range(r.randrange(1, 4)):
                d = datetime.date(y, r.randrange(1, 13), r.randrange(1, 28))
                orows.append(
                    (ok, ck, datetime.datetime.combine(d, ts))
                )
                ok += 1
        if MCN_Y1 in years or MCN_Y2 in years:
            flags[ck] = (int(MCN_Y1 in years), int(MCN_Y2 in years))
    _write(spark, tmp_path, "orders", orows,
           "o_orderkey long, o_custkey long, o_orderdate timestamp")
    got = [tuple(x) for x in q_mcnemar(spark, str(tmp_path)).collect()]

    n_both = sum(1 for a, b in flags.values() if a and b)
    b_lost = sum(1 for a, b in flags.values() if a and not b)
    c_gain = sum(1 for a, b in flags.values() if not a and b)
    chi2_ppm = (b_lost - c_gain) ** 2 * 1_000_000 // max(b_lost + c_gain, 1)
    chi2_corr = float((abs(b_lost - c_gain) - 1) ** 2) \
        / float(b_lost + c_gain)
    assert got == [(n_both, b_lost, c_gain, chi2_ppm, chi2_corr)]
    assert (n_both, b_lost, c_gain) == (30, 40, 10)
    assert chi2_corr > 3.841  # the churn excess is detected


def test_price_dispersion_vs_textbook(spark, tmp_path):
    """Brand cells equal brute-force per-part CV-squared banding on
    seeded data with an engineered constant-price part (band 0), a
    wildly-discounted part (top band, capped), and a single-line part
    that must be EXCLUDED."""
    import datetime

    from locopy_spark.queries.tpch_ext import (
        PD_BAND,
        PD_TOP,
        q_price_dispersion,
    )

    r = _rng()
    ts = datetime.datetime(2021, 3, 1, 9)
    lrows, prows = [], []
    prices = {}
    for pk in range(12):
        brand = f"Brand#{pk % 3}"
        prows.append((pk, brand))
        if pk == 0:
            ps = [50.0] * 6                      # constant: band 0
        elif pk == 1:
            ps = [1.0, 400.0, 2.0, 900.0]        # wild: capped top band
        elif pk == 2:
            ps = [77.0]                          # single line: excluded
        else:
            ps = [
                float(100 + r.randrange(0, 30))
                for _ in range(r.randrange(2, 7))
            ]
        prices[pk] = ps
        for v in ps:
            lrows.append((pk, ts, v))
    _write(spark, tmp_path, "lineitem", lrows,
           "l_partkey long, l_shipdate timestamp, l_extendedprice double")
    _write(spark, tmp_path, "part", prows,
           "p_partkey long, p_brand string")
    got = [(x.p_brand, x.band, x.n_parts, x.avg_cv2_ppm)
           for x in q_price_dispersion(spark, str(tmp_path)).collect()]

    cells = {}
    for pk, ps in prices.items():
        if len(ps) < 2:
            continue
        cs = [round(v * 1000) for v in ps]
        n, s, s2 = len(cs), sum(cs), sum(c * c for c in cs)
        cv2 = min((n * s2 - s * s) * 1_000_000 // (s * s),
                  PD_TOP * PD_BAND)
        band = min(cv2 // PD_BAND, PD_TOP)
        brand = f"Brand#{pk % 3}"
        nn, sm = cells.get((brand, band), (0, 0))
        cells[(brand, band)] = (nn + 1, sm + cv2)
    want = sorted(
        (brand, band, n, sm // n)
        for (brand, band), (n, sm) in cells.items()
    )
    assert got == want
    assert any(band == PD_TOP for _, band, _, _ in got)  # capped part
    assert any(band == 0 for _, band, _, _ in got)       # constant part


def test_growth_accounting_vs_textbook(spark, tmp_path):
    """The weekly flow panel equals a hand-classified simulation
    (new/retained/resurrected/churned per user-week) on seeded data
    with an engineered gap-week (zero actives, positive churn), a
    resurrection, and final-week users who must NOT churn (horizon
    guard)."""
    import datetime

    from locopy_spark.queries.timeseries import q_growth_accounting

    base_day = 19000  # epoch day, divisible by... (week index = day//7)
    base_day -= base_day % 7  # align to a week boundary for readability
    # users -> the set of week offsets they are active in
    activity = {
        1: [0, 1, 2, 3, 4],      # steady: retained forever
        2: [0, 2, 4],            # every other week: resurrects twice
        3: [0],                  # one-and-done: churns into week 1
        4: [1, 2],               # joins week 1, churns into week 3
        5: [4],                  # brand new in the final week
        6: [0, 1],               # churns into week 2, never returns
    }
    rows = []
    eid = 0
    for uid, weeks in activity.items():
        for wk in weeks:
            for rep in range(2):  # multiple events per active week
                d = base_day + wk * 7 + rep * 3
                ts = datetime.datetime(1970, 1, 1) \
                    + datetime.timedelta(days=d, hours=9)
                rows.append((eid, ts, uid))
                eid += 1
    _write(spark, tmp_path, "events", rows,
           "event_id long, ts timestamp, user_id long")
    got = [tuple(x) for x in q_growth_accounting(spark, str(tmp_path))
           .collect()]

    w0 = base_day // 7
    max_w = max(w for ws in activity.values() for w in ws)
    panel = {}
    for uid, weeks in activity.items():
        ws = sorted(weeks)
        for i, wk in enumerate(ws):
            p = panel.setdefault(wk, [0, 0, 0, 0, 0])
            p[0] += 1
            if i == 0:
                p[1] += 1
            elif ws[i - 1] == wk - 1:
                p[2] += 1
            else:
                p[3] += 1
            nxt = ws[i + 1] if i + 1 < len(ws) else None
            if (nxt is None and wk < max_w) or (nxt and nxt > wk + 1):
                panel.setdefault(wk + 1, [0, 0, 0, 0, 0])[4] += 1
    want = [
        ((w0 + wk) * 7, a, n, r, rs, c)
        for wk, (a, n, r, rs, c) in sorted(panel.items())
    ]
    assert got == want
    # active == new + retained + resurrected every week
    assert all(a == n + r + rs for _, a, n, r, rs, _ in got)
    # final-week joiners never churn: total churn < total new
    assert sum(c for *_, c in got) < sum(n for _, _, n, *_ in got)


def test_did_vs_textbook(spark, tmp_path):
    """The panel equals a hand-computed 2x2 DiD (floor micro-cent cell
    means) on seeded data with an engineered treatment effect: promo
    parts gain +50 post-cut while controls gain +10 — the recovered
    DiD must equal the planted +40 up to floor rounding."""
    import datetime

    from locopy_spark.queries.trends import DID_CUT_YEAR, q_did

    r = _rng()
    lrows, prows = [], []
    cells = {}
    for pk in range(20):
        treat = pk % 2
        prows.append(
            (pk, "PROMO BRUSHED" if treat else "STANDARD ANODIZED")
        )
        for i in range(30):
            post = i % 2
            year = DID_CUT_YEAR + (1 if post else -2)
            d = datetime.datetime(year, 1 + r.randrange(0, 12), 15)
            base = 100 + 10 * treat
            v = base + (50 if treat and post else 0) \
                + (10 if (not treat) and post else 0) \
                + r.randrange(0, 5)
            lrows.append((pk, d, float(v)))
            n, s = cells.get((treat, post), (0, 0))
            cells[(treat, post)] = (n + 1, s + v * 1000)
    _write(spark, tmp_path, "lineitem", lrows,
           "l_partkey long, l_shipdate timestamp, l_extendedprice double")
    _write(spark, tmp_path, "part", prows, "p_partkey long, p_type string")
    got = [tuple(x) for x in q_did(spark, str(tmp_path)).collect()]

    m = {k: s * 1_000_000 // n for k, (n, s) in cells.items()}
    did = (m[(1, 1)] - m[(1, 0)]) - (m[(0, 1)] - m[(0, 0)])
    want = [(
        cells[(1, 0)][0], cells[(1, 1)][0],
        cells[(0, 0)][0], cells[(0, 1)][0],
        m[(1, 0)], m[(1, 1)], m[(0, 0)], m[(0, 1)], did,
    )]
    assert got == want
    # the planted +40 effect (in micro-cents: 40*1000*1e6), +-floor noise
    assert abs(did - 40_000 * 1_000_000) < 5_000 * 1_000_000


def test_cliffs_delta_vs_textbook(spark, tmp_path):
    """The one-row panel equals the brute-force all-pairs Cliff's
    delta on seeded two-segment data with engineered stochastic
    dominance (segment A shifted up) and deliberate cross-group ties
    — delta must be positive and match exactly."""
    import datetime

    from locopy_spark.queries.stats import (
        KS_SEG_A,
        KS_SEG_B,
        q_cliffs_delta,
    )

    r = _rng()
    ts = datetime.datetime(2020, 7, 1, 10)
    orows, crows = [], []
    xs, ys = [], []
    ck = 0
    for i in range(70):
        seg = KS_SEG_A if i % 2 == 0 else KS_SEG_B
        # A shifted up by 20, values coarse so ties happen across groups
        v = (40 if seg == KS_SEG_A else 20) + 5 * r.randrange(0, 9)
        crows.append((ck, seg))
        orows.append((ck, ck, ts, float(v)))
        (xs if seg == KS_SEG_A else ys).append(v * 1000)
        ck += 1
    # a customer from an EXCLUDED segment must not enter
    crows.append((ck, "HOUSEHOLD"))
    orows.append((ck, ck, ts, 9999.0))
    _write(spark, tmp_path, "orders", orows,
           "o_orderkey long, o_custkey long, o_orderdate timestamp,"
           " o_totalprice double")
    _write(spark, tmp_path, "customer", crows,
           "c_custkey long, c_mktsegment string")
    got = [tuple(x) for x in q_cliffs_delta(spark, str(tmp_path)).collect()]

    gt = sum(1 for a in xs for b in ys if a > b)
    eq = sum(1 for a in xs for b in ys if a == b)
    lt = len(xs) * len(ys) - gt - eq
    delta = (2.0 * gt + eq - float(len(xs)) * len(ys)) \
        / (float(len(xs)) * len(ys))
    assert got == [(len(xs), len(ys), gt, eq, delta)]
    assert abs(delta - (gt - lt) / (len(xs) * len(ys))) < 1e-12
    assert delta > 0.3  # the planted dominance is recovered
    assert eq > 0       # cross-group ties genuinely exercised


def test_capture_recapture_vs_textbook(spark, tmp_path):
    """The panel equals hand-computed Lincoln-Petersen and Chapman
    estimates on seeded data with a KNOWN total population (120
    customers, independent 50%/40% capture odds) — both estimators
    must land within 25% of the truth and coverage must be partial."""
    import datetime

    from locopy_spark.queries.trends import (
        MCN_Y1,
        MCN_Y2,
        q_capture_recapture,
    )

    r = _rng()
    ts = datetime.time(8)
    orows = []
    n1 = n2 = m = 0
    ok = 0
    for ck in range(120):
        c1 = r.random() < 0.5
        c2 = r.random() < 0.4
        n1 += c1
        n2 += c2
        m += c1 and c2
        for y, hit in ((MCN_Y1, c1), (MCN_Y2, c2)):
            if hit:
                d = datetime.date(y, r.randrange(1, 13), r.randrange(1, 28))
                orows.append((ok, ck, datetime.datetime.combine(d, ts)))
                ok += 1
    _write(spark, tmp_path, "orders", orows,
           "o_orderkey long, o_custkey long, o_orderdate timestamp")
    got = [tuple(x) for x in q_capture_recapture(spark, str(tmp_path))
           .collect()]

    lp = n1 * n2 // max(m, 1)
    ch = (n1 + 1) * (n2 + 1) // (m + 1) - 1
    obs = n1 + n2 - m
    cov = obs * 1_000_000 // max(lp, 1)
    assert got == [(n1, n2, m, obs, lp, ch, cov)]
    assert abs(lp - 120) <= 30 and abs(ch - 120) <= 30
    assert cov < 1_000_000  # two captures did not see everyone


def test_dedup_eval_vs_naive_union_find(spark, sf_dir):
    """d_dedup_eval re-derived naively (VERDICT r10 task 4): the
    Spark-side mutation expression is checked token-by-token against a
    plain Python mutation, then the pipeline's own LSH pairs are
    resolved with a driver-side union-find and scored with plain
    Python integer arithmetic — independently re-deriving the CC,
    scoring, and ppm layers the query adds on top of the (separately
    naive-tested and DuckDB-oracled) minhash pair generator."""
    import hashlib

    from pyspark.sql import functions as F

    from locopy_spark.operators import dedup
    from locopy_spark.queries.docs import MINHASH_EST_T, SHINGLE_K
    from locopy_spark.queries.docs_ext import (
        _DEDUP_EVAL_KDROP,
        DEDUP_EVAL_OFFSET,
        d_dedup_eval,
    )
    from locopy_spark.queries.docs_ext import tokens_expr
    from locopy_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")

    def kdrop(doc_id):
        d = hashlib.md5(str(doc_id).encode()).hexdigest()[0]
        return {True: 24}.get(d in "0123") or (
            12 if d in "4567" else 6 if d in "89ab" else 3
        )

    def mutate(text, k):
        toks = text.strip().lower().split()
        return " ".join(t for i, t in enumerate(toks) if (i + 1) % k != 0)

    # 1. the Spark mutation expression == the plain-Python mutation
    mut_text = (
        f"array_join(filter({tokens_expr('text')}, "
        f"(t, i) -> (i + 1) % ({_DEDUP_EVAL_KDROP}) != 0), ' ')"
    )
    got_mut = {
        r.doc_id: r.m
        for r in docs.select("doc_id", F.expr(mut_text).alias("m")).collect()
    }
    base = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    for doc_id, text in base.items():
        assert got_mut[doc_id] == mutate(text, kdrop(doc_id))

    # 2. union-find over the pipeline's own pairs, then naive scoring
    aug = docs.select("doc_id", "text").unionByName(
        docs.select(
            (F.col("doc_id") + F.lit(DEDUP_EVAL_OFFSET)).alias("doc_id"),
            F.expr(mut_text).alias("text"),
        )
    )
    pairs = [
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(
            aug, k=SHINGLE_K, est_threshold=MINHASH_EST_T
        ).collect()
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    comp = {x: find(x) for x in parent}
    expected = {}
    for doc_id in base:
        k = kdrop(doc_id)
        mid = doc_id + DEDUP_EVAL_OFFSET
        st = expected.setdefault(k, [0, 0, 0, 0])  # planted/claimed/det/leak
        st[0] += 1
        claimed = mid in comp
        det = claimed and doc_id in comp and comp[mid] == comp[doc_id]
        st[1] += int(claimed)
        st[2] += int(det)
        st[3] += int((not claimed) or comp[mid] == mid)
    got = {r.band_drop: r for r in d_dedup_eval(spark, sf_dir).collect()}
    assert set(got) == set(expected)
    for k, (planted, claimed, det, leak) in expected.items():
        r = got[k]
        assert (r.n_planted, r.n_claimed, r.n_detected) == (
            planted,
            claimed,
            det,
        )
        assert r.recall_ppm == (1_000_000 * det) // planted
        assert r.f1_ppm == (2_000_000 * det) // (claimed + planted)
        assert r.leaked_ppm == (1_000_000 * leak) // planted
        if claimed:
            assert r.precision_ppm == (1_000_000 * det) // claimed
        else:
            assert r.precision_ppm is None
        # structure: detected mutants never survive keep-min (source
        # id is always smaller), so leakage is bounded by the misses
        assert det <= claimed <= planted
        assert leak <= planted - det
