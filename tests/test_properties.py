"""Property-based tests (hypothesis) for the order-defined primitives.

These are the pieces where a latent edge case costs silent wrong
answers at scale: the two-phase global prefix scan (NULL runs, negative
values, doubles vs ints, descending order) and the exact Mann-Whitney
AUC (ties, one-class edge handling).  Each property is checked against
the naive single-partition form / a brute-force reference on small
random inputs — few examples, each worth a full Spark job, so
max_examples stays low and the deadline is off.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

_prop = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(min_value=-1000, max_value=1000)),
        min_size=1,
        max_size=60,
    ),
    descending=st.booleans(),
)
@_prop
def test_global_prefix_sum_matches_naive_window(spark, vals, descending):
    """Two-phase scan == single-partition window, including NULL runs
    (SUM semantics: NULL until the first non-NULL), negatives, and
    descending order."""
    from big_data_virus_analysis_spark.operators.prefix_sum import global_prefix_sum

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k int, v int"
    )
    order = [F.col("k").desc()] if descending else [F.col("k")]
    got = {
        r["k"]: r["cum"]
        for r in global_prefix_sum(
            df, "k", "v", "cum", n_buckets=4, order_exprs=order
        ).collect()
    }
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    want = {r["k"]: r["cum"] for r in df.withColumn("cum", F.sum("v").over(w)).collect()}
    assert got == want


@given(
    vals=st.lists(
        st.floats(
            min_value=-100, max_value=100, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=50,
    )
)
@_prop
def test_global_prefix_sum_doubles(spark, vals):
    """The double-typed value path (regression: the offset literal used
    to be an int 0, which createDataFrame rejects for DoubleType)."""
    from big_data_virus_analysis_spark.operators.prefix_sum import global_prefix_sum

    df = spark.createDataFrame([(i, float(v)) for i, v in enumerate(vals)], "k int, v double")
    got = {
        r["k"]: r["cum"]
        for r in global_prefix_sum(df, "k", "v", "cum", n_buckets=4).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {r["k"]: r["cum"] for r in df.withColumn("cum", F.sum("v").over(w)).collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-9, abs=1e-9)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # score bucket (forces ties)
            st.booleans(),
        ),
        min_size=2,
        max_size=60,
    )
)
@_prop
def test_exact_auc_matches_bruteforce(spark, rows):
    """exact_auc == the O(n^2) Mann-Whitney count with 0.5 tie credit,
    whenever both classes are present."""
    from big_data_virus_analysis_spark.ml.metrics import exact_auc

    pos = [s for s, l in rows if l]
    neg = [s for s, l in rows if not l]
    if not pos or not neg:
        return  # AUC undefined; nothing to check
    df = spark.createDataFrame(
        [(float(s), float(l)) for s, l in rows], "score double, label double"
    )
    got = exact_auc(df, "score", "label")
    want = sum((p > n) + 0.5 * (p == n) for p in pos for n in neg) / (
        len(pos) * len(neg)
    )
    assert got == pytest.approx(want, abs=1e-6)


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1,
        max_size=40,
    ),
)
@_prop
def test_oriented_triangle_count_matches_bruteforce(spark, edges):
    """Degree-ordered wedge-join triangle counting == brute-force
    enumeration on small random graphs (self-loops dropped, edges
    deduped) — the orientation trick must not lose or double-count
    triangles under hubs, ties, or duplicate input edges."""
    uniq = sorted({(min(u, v), max(u, v)) for u, v in edges if u != v})
    if not uniq:
        return
    adj: dict[int, set[int]] = {}
    for u, v in uniq:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    want = sum(
        1
        for u, v in uniq
        for w in adj[u] & adj[v]
        if w > v  # each triangle counted once: u < v < w
    )

    df = spark.createDataFrame(uniq, "u int, v int")
    both = df.unionByName(df.selectExpr("v as u", "u as v"))
    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    du = deg.selectExpr("u", "deg as du")
    dv = deg.selectExpr("u as v", "deg as dv")
    ranked = df.join(du, "u").join(dv, "v")
    oriented = ranked.select(
        F.when(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
            F.struct(
                F.col("u").alias("s"), F.col("v").alias("t"), F.col("dv").alias("dt")
            ),
        )
        .otherwise(
            F.struct(
                F.col("v").alias("s"), F.col("u").alias("t"), F.col("du").alias("dt")
            )
        )
        .alias("e")
    ).select("e.s", "e.t", "e.dt")
    # wedge pair ordered by the SAME (deg, id) rank as the orientation —
    # this test originally ordered by id alone and caught the real bug
    # in the catalog's degree-ordered triangle queries
    a = oriented.selectExpr("s", "t as w1", "dt as d1")
    b = oriented.selectExpr("s", "t as w2", "dt as d2")
    wedges = a.join(b, "s").where(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("w1") < F.col("w2")))
    )
    closing = oriented.selectExpr("s as w1", "t as w2")
    got = wedges.join(closing, ["w1", "w2"]).count()
    assert got == want


@given(
    positions=st.lists(
        st.integers(min_value=1, max_value=30), min_size=1, max_size=25
    ),
    span_l=st.integers(min_value=2, max_value=5),
)
@_prop
def test_islands_merge_matches_bruteforce(spark, positions, span_l):
    """Islands-and-gaps span merging (the suffix_dedup_spans core) ==
    brute-force run detection: consecutive duplicated window positions
    must merge into maximal [start, start+L-1 .. end] spans."""
    pos = sorted(set(positions))
    runs = []
    start = prev = pos[0]
    for p in pos[1:]:
        if p == prev + 1:
            prev = p
            continue
        runs.append((start, prev + span_l - 1, prev - start + 1))
        start = prev = p
    runs.append((start, prev + span_l - 1, prev - start + 1))
    want = sorted(runs)

    df = spark.createDataFrame([(p,) for p in pos], "pos int")
    w = Window.partitionBy().orderBy("pos")  # single doc in this test
    isl = df.withColumn("grp", F.col("pos") - F.row_number().over(w))
    got = sorted(
        (r["s"], r["e"], r["nw"])
        for r in isl.groupBy("grp")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + span_l - 1).alias("e"),
            F.count(F.lit(1)).alias("nw"),
        )
        .collect()
    )
    assert got == want


# ---------------------------------------------------------------------------
# Formulation identities shared by BOTH engines (pure Python — these guard
# against the one failure mode the dual-engine oracle CANNOT catch: a wrong
# mathematical rewrite that Spark and DuckDB would both faithfully compute)
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=50),   # n_i (weight)
            st.integers(min_value=0, max_value=50),   # pos_i <= n_i enforced below
        ),
        min_size=2,
        max_size=10,
    )
)
@settings(max_examples=200, deadline=None)
def test_isotonic_minimax_identity_matches_pava(bins):
    """round6_causal.isotonic_calibration_deciles computes the isotonic
    fit via fitted_i = max_{j<=i} min_{k>=i} mean(y[j..k]).  Verify that
    identity against the classic pool-adjacent-violators loop."""
    n = [b[0] for b in bins]
    pos = [min(b[1], b[0]) for b in bins]
    m = len(bins)

    def seg_mean(j, k):
        return sum(pos[j : k + 1]) / sum(n[j : k + 1])

    minimax = [
        max(min(seg_mean(j, k) for k in range(i, m)) for j in range(i + 1))
        for i in range(m)
    ]

    # reference PAVA: merge adjacent violating pools
    pools = [[n[i], pos[i], 1] for i in range(m)]  # [weight, pos, n_bins]
    i = 0
    while i < len(pools) - 1:
        if pools[i][1] / pools[i][0] > pools[i + 1][1] / pools[i + 1][0] + 1e-12:
            pools[i][0] += pools[i + 1][0]
            pools[i][1] += pools[i + 1][1]
            pools[i][2] += pools[i + 1][2]
            del pools[i + 1]
            i = max(i - 1, 0)
        else:
            i += 1
    fitted = []
    for w_total, p_total, n_bins in pools:
        fitted.extend([p_total / w_total] * n_bins)
    assert len(fitted) == m
    for a, b in zip(minimax, fitted):
        assert abs(a - b) < 1e-9


@given(
    st.lists(st.integers(min_value=0, max_value=1000), min_size=3, max_size=40)
)
@settings(max_examples=200, deadline=None)
def test_binseg_gain_matches_bruteforce_sse(ys):
    """round6_ts4.binseg_changepoint_daily scores each split with
    gain = SST - (SSE_left + SSE_right) from prefix sums.  Verify the
    prefix-sum algebra against directly computed SSEs."""
    n = len(ys)

    def sse(seg):
        if not seg:
            return 0.0
        mu = sum(seg) / len(seg)
        return sum((v - mu) ** 2 for v in seg)

    sst = sse(ys)
    # prefix-sum formulation
    best_prefix = None
    cn = cs = cq = 0
    ts_, tq = sum(ys), sum(v * v for v in ys)
    for k in range(n - 1):
        cn += 1
        cs += ys[k]
        cq += ys[k] * ys[k]
        nl, nr = cn, n - cn
        sl, sr = cs, ts_ - cs
        ql, qr = cq, tq - cq
        gain = (tq - ts_ * ts_ / n) - ((ql - sl * sl / nl) + (qr - sr * sr / nr))
        direct = sst - (sse(ys[: k + 1]) + sse(ys[k + 1 :]))
        assert abs(gain - direct) < 1e-6 * max(1.0, abs(direct))


@given(
    st.lists(
        st.tuples(
            st.floats(min_value=1.0, max_value=50.0),  # demand size
            st.integers(min_value=1, max_value=30),    # interval
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=200, deadline=None)
def test_croston_fold_matches_loop(pairs):
    """round6_ts4.croston_intermittent_demand folds (size, interval)
    pairs with the seed = first pair (DuckDB list_reduce has no init).
    Verify against the explicit smoothing loop."""
    a = 0.1
    z, q = pairs[0]
    for d, i in pairs[1:]:
        z = a * d + (1 - a) * z
        q = a * i + (1 - a) * q
    # fold formulation (same recurrence, acc seeded from element 1)
    acc = [pairs[0][0], float(pairs[0][1])]
    for d, i in pairs[1:]:
        acc = [a * d + (1 - a) * acc[0], a * i + (1 - a) * acc[1]]
    assert abs(acc[0] - z) < 1e-12 and abs(acc[1] - q) < 1e-12


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=29),  # event time (days)
            st.booleans(),                           # event vs censored
        ),
        min_size=2,
        max_size=60,
    ),
)
@settings(max_examples=200, deadline=None)
def test_rmst_day_grid_identity(durations):
    """round6_eval2.rmst_signup_purchase uses the integer-day identity
    RMST(tau) = sum_{j<tau} S(j).  Verify it equals the stepwise
    integral of the KM curve computed directly."""
    tau = 30
    times = sorted(set(d for d, _ in durations))
    n_total = len(durations)

    def at_risk(t):
        return sum(1 for d, _ in durations if d >= t)

    # KM step function
    surv = 1.0
    s_at = {}
    for t in times:
        d_t = sum(1 for d, e in durations if d == t and e)
        n_t = at_risk(t)
        if d_t and n_t:
            surv *= 1.0 - d_t / n_t
        s_at[t] = surv

    def S(u):
        out = 1.0
        for t in times:
            if t <= u:
                out = s_at[t]
        return out

    grid_sum = sum(S(j) for j in range(tau))
    # classic RMST: integral of the step function segmented at the
    # (integer) event times — independent of the per-day grid walk
    # the KM step drops AT each event time t (S(u) includes the drop
    # for u >= t), so the constant segments are [t_i, t_{i+1})
    knots = sorted(set([0] + [t for t in times if 0 < t < tau] + [tau]))
    integral = 0.0
    for lo, hi in zip(knots, knots[1:]):
        integral += S(lo) * (hi - lo)
    assert abs(grid_sum - integral) < 1e-9


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=29),  # event time (days)
            st.booleans(),                           # event vs censored
        ),
        min_size=2,
        max_size=60,
    ),
)
@settings(max_examples=200, deadline=None)
def test_rmst_plan_aggregation_identity(durations):
    """Mirror the EXACT aggregation round6_eval2.rmst_signup_purchase
    performs — cumlog prefix sum over event times, then per grid day j
    take ``min(cumlog)`` among event times <= j (NOT max: cumlog is
    strictly decreasing in duration, so max picks the EARLIEST factor
    and overstates S(j); the round-6 ADVICE-high bug).  Compare to the
    direct KM step function."""
    import math

    tau = 30
    times = sorted(set(d for d, _ in durations))

    # direct KM
    surv, s_at = 1.0, {}
    for t in times:
        d_t = sum(1 for d, e in durations if d == t and e)
        n_t = sum(1 for d, _ in durations if d >= t)
        if d_t and n_t:
            surv *= 1.0 - d_t / n_t
        s_at[t] = surv

    def S_direct(u):
        out = 1.0
        for t in times:
            if t <= u:
                out = s_at[t]
        return out

    # plan's formulation: cumlog rows only where d > 0, min(cumlog <= j)
    cum, km_rows = 0.0, []
    for t in times:
        d_t = sum(1 for d, e in durations if d == t and e)
        n_t = sum(1 for d, _ in durations if d >= t)
        if d_t > 0:
            if d_t == n_t:
                # S hits exactly 0; ln(0) = -inf represents that step
                cum = -math.inf
            else:
                cum += math.log(1.0 - d_t / n_t)
            km_rows.append((t, cum))

    def S_plan(j):
        cands = [c for t, c in km_rows if t <= j]
        return math.exp(min(cands)) if cands else 1.0

    rmst_plan = sum(S_plan(j) for j in range(tau))
    rmst_direct = sum(S_direct(j) for j in range(tau))
    assert abs(rmst_plan - rmst_direct) < 1e-9


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=1000),  # price (distinct-able)
            st.integers(min_value=1, max_value=20),    # weight
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=200, deadline=None)
def test_weighted_lower_median_rule(rows):
    """round6_olap2.weighted_median_by_brand picks min{price : 2*cumw >=
    total} over the value-grouped frame.  Verify against the direct
    definition on the EXPANDED multiset (smallest x whose cumulative
    weight reaches half the total)."""
    from collections import defaultdict

    agg = defaultdict(int)
    for p, w in rows:
        agg[p] += w
    prices = sorted(agg)
    total = sum(agg.values())
    # rule under test
    cum = 0
    rule = None
    for p in prices:
        cum += agg[p]
        if 2 * cum >= total:
            rule = p
            break
    # direct definition on the expanded values
    expanded = sorted(p for p, w in rows for _ in range(w))
    cum2 = 0
    direct = None
    for x in expanded:
        cum2 += 1
        if 2 * cum2 >= total:
            direct = x
            break
    assert rule == direct


@given(st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=60))
@settings(max_examples=200, deadline=None)
def test_tied_rank2_identity(vals):
    """The shared 2x-average-rank trick (mann_whitney_u_test,
    kruskal_wallis_segments, spearman_price_quantity): for each
    distinct value, rank2 = (cum - cnt + 1) + cum must equal twice the
    average of the positions its ties occupy in the sorted order."""
    from collections import Counter

    cnt = Counter(vals)
    ordered = sorted(cnt)
    cum = 0
    for v in ordered:
        c = cnt[v]
        cum += c
        rank2 = (cum - c + 1) + cum
        # direct: positions are (cum-c+1)..cum in the sorted multiset
        positions = list(range(cum - c + 1, cum + 1))
        avg = sum(positions) / len(positions)
        assert rank2 == int(2 * avg)


@given(
    st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=40)
)
@settings(max_examples=200, deadline=None)
def test_abc_prefix_share_classification(revs):
    """round6_olap2.abc_analysis_parts classifies by cumulative revenue
    share thresholds over the (rev desc, key) order.  Verify the
    prefix-share rule reproduces the direct greedy classification."""
    items = sorted(enumerate(revs), key=lambda kv: (-kv[1], kv[0]))
    total = sum(revs)
    if total == 0:
        return
    cum = 0
    classes = {}
    for key, rev in items:
        cum += rev
        share = cum / total
        classes[key] = "A" if share <= 0.70 else ("B" if share <= 0.90 else "C")
    # direct greedy: walk until 70% covered -> A, until 90% -> B, rest C
    cum2 = 0
    direct = {}
    for key, rev in items:
        cum2 += rev
        if cum2 <= 0.70 * total:
            direct[key] = "A"
        elif cum2 <= 0.90 * total:
            direct[key] = "B"
        else:
            direct[key] = "C"
    assert classes == direct


@given(
    st.lists(
        st.floats(min_value=0.0001, max_value=1.0), min_size=2, max_size=12
    )
)
@settings(max_examples=200, deadline=None)
def test_bh_stepup_rule_identity(pvals):
    """round7_stats.bh_fdr_segments marks significant = rank <= max{k :
    p_(k) <= k*alpha/m}.  Verify against the literal Benjamini-Hochberg
    step-up procedure (scan from the largest rank down, reject
    everything at or below the first qualifying rank)."""
    alpha, m = 0.10, len(pvals)
    ranked = sorted(range(m), key=lambda i: (pvals[i], i))
    # plan's rule
    maxk = 0
    for r, i in enumerate(ranked, start=1):
        if pvals[i] <= r * alpha / m:
            maxk = max(maxk, r)
    plan_sig = {ranked[r - 1] for r in range(1, maxk + 1)}
    # literal step-up
    brute_sig = set()
    for r in range(m, 0, -1):
        if pvals[ranked[r - 1]] <= r * alpha / m:
            brute_sig = {ranked[j] for j in range(r)}
            break
    assert plan_sig == brute_sig


@given(
    st.lists(st.integers(min_value=0, max_value=10**6), min_size=8, max_size=8)
)
@settings(max_examples=200, deadline=None)
def test_hurst_block_rs_identity(ys):
    """round7_ts.hurst_rescaled_range_daily computes a block's R/S from
    mean-CLEARED integers: dev = n*y - S, R = range of cumsum(dev),
    S = sqrt(sum(dev^2)/n) — the n*scale cancels.  Verify against the
    float textbook form (cumulative deviations from the mean over the
    population std)."""
    import math

    n, s = len(ys), sum(ys)
    devs = [n * y - s for y in ys]
    cum, z = 0, []
    for d in devs:
        cum += d
        z.append(cum)
    q = sum(d * d for d in devs)
    if q == 0:
        return
    plan_rs = (max(z) - min(z)) / math.sqrt(q / n)
    mean = s / n
    fz, fc = [], 0.0
    for y in ys:
        fc += y - mean
        fz.append(fc)
    fstd = math.sqrt(sum((y - mean) ** 2 for y in ys) / n)
    brute_rs = (max(fz) - min(fz)) / fstd
    assert abs(plan_rs - brute_rs) < 1e-6 * max(1.0, brute_rs)


@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=8, max_size=40)
)
@settings(max_examples=200, deadline=None)
def test_winnowing_window_min_identity(hashes):
    """round7_text.winnowing_fingerprints selects min(h[i:i+w]) per
    window via transform+slice+array_min.  Verify the selected SET
    equals the brute sliding-window minima, and the MOSS guarantee: any
    run of w+1 consecutive positions contributes at least one selected
    position's hash."""
    w = 4
    if len(hashes) < w:
        return
    plan = {min(hashes[i : i + w]) for i in range(len(hashes) - w + 1)}
    brute = set()
    for i in range(len(hashes) - w + 1):
        brute.add(min(hashes[i + j] for j in range(w)))
    assert plan == brute


@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 3)), min_size=2, max_size=40
    )
)
@settings(max_examples=200, deadline=None)
def test_ari_contingency_vs_pair_counting(labels):
    """round7_eval.adjusted_rand_clusterings computes ARI from
    contingency-table C(n,2) sums.  Verify against the direct
    pair-counting definition: ARI = (agree_both_pairs - expected) /
    (max - expected) where the raw Rand ingredients come from counting
    every unordered item pair."""
    n = len(labels)
    from collections import Counter

    cells = Counter(labels)
    arow = Counter(a for a, _ in labels)
    brow = Counter(b for _, b in labels)
    comb = lambda x: x * (x - 1) // 2  # noqa: E731
    s_nij = sum(comb(v) for v in cells.values())
    s_ai = sum(comb(v) for v in arow.values())
    s_bj = sum(comb(v) for v in brow.values())
    tot = comb(n)
    # direct pair counting
    both = sum(
        1
        for i in range(n)
        for j in range(i + 1, n)
        if labels[i][0] == labels[j][0] and labels[i][1] == labels[j][1]
    )
    same_a = sum(
        1
        for i in range(n)
        for j in range(i + 1, n)
        if labels[i][0] == labels[j][0]
    )
    same_b = sum(
        1
        for i in range(n)
        for j in range(i + 1, n)
        if labels[i][1] == labels[j][1]
    )
    assert (s_nij, s_ai, s_bj) == (both, same_a, same_b)
    exp = s_ai * s_bj / tot if tot else 0.0
    mx = (s_ai + s_bj) / 2.0
    if mx != exp:
        ari = (s_nij - exp) / (mx - exp)
        assert -1.0 - 1e-9 <= ari <= 1.0 + 1e-9


@given(
    st.lists(
        st.tuples(st.integers(1, 100), st.integers(1, 20)),
        min_size=2,
        max_size=25,
    )
)
@settings(max_examples=200, deadline=None)
def test_laspeyres_cleared_denominator_identity(basket):
    """round7_econ.price_index_monthly clears per-part denominators:
    Laspeyres = sum(spc_t*sq0/sq_t) / sum(spc0) with spc=price*qty
    sums.  Verify it equals the textbook sum(p_t*q_0)/sum(p_0*q_0)
    with p = spc/sq treated as exact rationals."""
    # basket: per part, (unit price base cents, unit price t cents);
    # quantities fixed at q0=3, qt=5 so spc = p*q exactly
    q0, qt = 3, 5
    num_plan = sum((pt * qt) * q0 / qt for _, pt in basket)
    den_plan = sum(p0 * q0 for p0, _ in basket)
    text_num = sum(pt * q0 for _, pt in basket)
    text_den = sum(p0 * q0 for p0, _ in basket)
    assert abs(num_plan / den_plan - text_num / text_den) < 1e-12


# --------------------------------------------------------------------------
# round-8: identity-test debt (VERDICT r7 directive #2 + ADVICE high)
# --------------------------------------------------------------------------


def _perm_label(o: int, k: int) -> bool:
    """The exact labeling expression of permutation_test_det
    (plans/round7_stats.py): bit 16 of the additive odd-multiplier
    hash mod 2^31."""
    return ((o * 2654435761 + k * 2246822519) % 2147483648) & 65536 == 0


def test_permutation_labelings_distinct():
    """ADVICE r7 (high): the 64 hash re-labelings of
    permutation_test_det must be pairwise DISTINCT up to complement and
    ~50/50 balanced.  The previous low-bit scheme collapsed to one
    labeling + its complement (h%2 == (o+k)%2 for odd multipliers),
    and an xor-mixed variant is just as degenerate under any single-bit
    extract (no carry propagation) — both pinned below as regression
    witnesses."""
    for keys in (list(range(1, 601)), list(range(4, 2401, 4))):
        labs = [tuple(_perm_label(o, k) for o in keys) for k in range(1, 65)]
        canon = {min(l, tuple(not b for b in l)) for l in labs}
        assert len(canon) == 64, f"only {len(canon)} distinct labelings"
        for lab in labs:
            frac = sum(lab) / len(lab)
            assert 0.4 <= frac <= 0.6, f"unbalanced labeling: {frac}"
    # regression witnesses: the two degenerate families
    keys = list(range(1, 601))
    low_bit = [
        tuple(((o * 2654435761 + k * 7919) % 2147483648) % 2 == 0 for o in keys)
        for k in range(1, 65)
    ]
    assert len({min(l, tuple(not b for b in l)) for l in low_bit}) == 1
    xor_bit = [
        tuple(
            ((o * 2654435761 ^ (k * 2246822519) % 2147483648) % 2147483648)
            & 65536
            == 0
            for o in keys
        )
        for k in range(1, 65)
    ]
    assert len({min(l, tuple(not b for b in l)) for l in xor_bit}) <= 2


@given(
    ys=st.lists(st.integers(min_value=-10_000, max_value=10_000), min_size=8, max_size=40)
)
@settings(max_examples=200, deadline=None)
def test_dickey_fuller_moments_vs_lstsq(ys):
    """round7_ur.dickey_fuller_daily: rho / se / t from centered integer
    moments must equal the OLS fit of d_t = alpha + rho*y_{t-1} computed
    the independent way (numpy lstsq + covariance from inv(X'X))."""
    import numpy as np
    from hypothesis import assume

    x = np.array(ys[:-1], dtype=float)
    d = np.diff(np.array(ys, dtype=float))
    n = len(x)
    assume(np.ptp(x) > 0)
    # plan algebra (centered moments)
    sx, sd = x.sum(), d.sum()
    sxx_c = (x * x).sum() - sx * sx / n
    sdd_c = (d * d).sum() - sd * sd / n
    sxd_c = (x * d).sum() - sx * sd / n
    assume(sxx_c > 1e-9 * max(1.0, (x * x).sum()))
    rho = sxd_c / sxx_c
    ssr = sdd_c - rho * sxd_c
    se = np.sqrt(max(ssr, 0.0) / (n - 2.0) / sxx_c)
    # independent route: lstsq + inv(X'X) covariance
    A = np.column_stack([np.ones(n), x])
    coef, _, _, _ = np.linalg.lstsq(A, d, rcond=None)
    resid = d - A @ coef
    ssr_np = float(resid @ resid)
    cov = ssr_np / (n - 2.0) * np.linalg.inv(A.T @ A)
    se_np = float(np.sqrt(cov[1, 1]))
    scale = max(1.0, abs(rho))
    assert abs(rho - coef[1]) < 1e-7 * scale
    assert abs(ssr - ssr_np) < 1e-6 * max(1.0, ssr_np)
    if se_np > 1e-12:
        assert abs(se - se_np) < 1e-6 * se_np
        assert abs(rho / se - coef[1] / se_np) < 1e-5 * max(1.0, abs(coef[1] / se_np))


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=-5_000, max_value=5_000),
            st.integers(min_value=1, max_value=200),
        ),
        min_size=10,
        max_size=40,
    )
)
@settings(max_examples=200, deadline=None)
def test_granger_cramer_vs_lstsq(pairs):
    """round7_granger.granger_causality_daily: the centered 2x2 Cramer
    closed form (beta, gamma, SSR_r, SSR_u, F) must equal the two numpy
    lstsq fits y_t ~ [1, y_lag] and y_t ~ [1, y_lag, x_lag]."""
    import numpy as np
    from hypothesis import assume

    y = np.array([p[0] for p in pairs], dtype=float)
    xs = np.array([p[1] for p in pairs], dtype=float)
    yt, yl, xl = y[1:], y[:-1], xs[:-1]
    n = len(yt)
    # plan algebra
    sy, sa, sb = yt.sum(), yl.sum(), xl.sum()
    caa = (yl * yl).sum() - sa * sa / n
    cbb = (xl * xl).sum() - sb * sb / n
    cab = (yl * xl).sum() - sa * sb / n
    cay = (yl * yt).sum() - sa * sy / n
    cby = (xl * yt).sum() - sb * sy / n
    cyy = (yt * yt).sum() - sy * sy / n
    det = caa * cbb - cab * cab
    assume(caa > 1e-6 * max(1.0, (yl * yl).sum()))
    assume(det > 1e-6 * max(1.0, caa * cbb))
    ssr_r = cyy - cay * cay / caa
    beta = (cay * cbb - cby * cab) / det
    gamma = (caa * cby - cab * cay) / det
    ssr_u = cyy - beta * cay - gamma * cby
    f_stat = (ssr_r - ssr_u) / (ssr_u / (n - 3.0)) if ssr_u > 1e-9 else None
    # independent route
    Ar = np.column_stack([np.ones(n), yl])
    Au = np.column_stack([np.ones(n), yl, xl])
    cr, _, _, _ = np.linalg.lstsq(Ar, yt, rcond=None)
    cu, _, _, _ = np.linalg.lstsq(Au, yt, rcond=None)
    rr = yt - Ar @ cr
    ru = yt - Au @ cu
    ssr_r_np, ssr_u_np = float(rr @ rr), float(ru @ ru)
    assert abs(beta - cu[1]) < 1e-5 * max(1.0, abs(cu[1]))
    assert abs(gamma - cu[2]) < 1e-5 * max(1.0, abs(cu[2]))
    assert abs(ssr_r - ssr_r_np) < 1e-5 * max(1.0, ssr_r_np)
    assert abs(ssr_u - ssr_u_np) < 1e-5 * max(1.0, ssr_u_np)
    if f_stat is not None and ssr_u_np > 1e-6 * max(1.0, ssr_r_np):
        f_np = (ssr_r_np - ssr_u_np) / (ssr_u_np / (n - 3.0))
        assert abs(f_stat - f_np) < 1e-4 * max(1.0, abs(f_np))


@given(
    counts=st.lists(
        st.lists(st.integers(min_value=0, max_value=500), min_size=4, max_size=4),
        min_size=3,
        max_size=8,
    )
)
@settings(max_examples=200, deadline=None)
def test_burrows_delta_quantized_identity(counts):
    """round7_text.burrows_delta_sources: the plan's per-word pipeline
    (rel-freq grid -> population z-score -> 1e-8-quantized |dz| terms ->
    mean) must match the direct numpy Burrows' Delta to within the
    quantization bound (n_words * 0.5e-8)."""
    import numpy as np
    from hypothesis import assume

    m = np.array(counts, dtype=float)  # sources x words
    tot = m.sum(axis=1) + 1.0  # per-source token totals (never zero)
    rf = m / tot[:, None]
    mu = rf.mean(axis=0)
    sd = rf.std(axis=0)  # population std, as the plan's srf2/ns - mean^2
    assume(float(sd.min()) > 1e-9)
    z = (rf - mu) / sd
    n_src, n_w = z.shape
    for a in range(n_src):
        for b in range(a + 1, n_src):
            dz = np.abs(z[a] - z[b])
            plan = np.floor(dz * 1e8 + 0.5).sum() / (n_w * 1e8)
            direct = dz.mean()
            assert abs(plan - direct) <= 0.5e-8 + 1e-12


# --------------------------------------------------------------------------
# round-8 rewrites (the post-triangle-bug rule: every mathematical
# rewrite gets a pure-Python identity test)
# --------------------------------------------------------------------------


@given(
    ys=st.lists(st.integers(min_value=-1000, max_value=1000), min_size=5, max_size=50)
)
@example(ys=[-666, -666, -670, -670, -670])  # raw-moment cancellation
@settings(max_examples=200, deadline=None)
def test_jarque_bera_central_from_raw_moments(ys):
    """round8_ts.jarque_bera_daily derives central moments m2/m3/m4 from
    raw power sums; verify against direct numpy central moments and the
    scipy-free JB formula."""
    import numpy as np
    from hypothesis import assume

    y = np.array(ys, dtype=float)
    n = len(y)
    assume(np.ptp(y) > 0)
    s1, s2, s3, s4 = y.sum(), (y**2).sum(), (y**3).sum(), (y**4).sum()
    m1 = s1 / n
    m2 = s2 / n - m1 * m1
    m3 = s3 / n - 3 * m1 * (s2 / n) + 2 * m1**3
    m4 = s4 / n - 4 * m1 * (s3 / n) + 6 * m1 * m1 * (s2 / n) - 3 * m1**4
    d = y - y.mean()
    c2, c4 = float((d**2).mean()), float((d**4).mean())
    scale = max(1.0, c2**2)
    tol_m2 = 1e-7 * max(1.0, c2)
    assert abs(m2 - c2) < tol_m2
    assert abs(m3 - (d**3).mean()) < 1e-6 * max(1.0, abs((d**3).mean()), scale)
    # the raw-moment expansion cancels catastrophically when the mean
    # dwarfs the spread (e.g. ys around 600 with range 9): the float
    # error scales with the RAW fourth moment times machine epsilon,
    # not with the central moment, so the tolerance must carry that
    # term (hypothesis found ys=[596,598,602,602,605] at 1.07e-6
    # relative)
    tol_m4 = 1e-6 * max(1.0, c4) + 1e-13 * float((np.abs(y) ** 4).mean())
    assert abs(m4 - c4) < tol_m4
    skew = m3 / (m2 * np.sqrt(m2))
    exk = m4 / (m2 * m2) - 3.0
    jb = n / 6.0 * (skew**2 + exk**2 / 4.0)
    skew_np = float((d**3).mean() / c2**1.5)
    exk_np = float(c4 / c2**2 - 3.0)
    jb_np = n / 6.0 * (skew_np**2 + exk_np**2 / 4.0)
    # carry the m2/m4 tolerances asserted above through exk = m4/m2² − 3:
    # Δexk ≤ Δm4/m2² + 2·m4·Δm2/m2³, so the raw-fourth-moment term of
    # Δm4 enters through Δm4/m2², and jb's exk²/4 term moves by at most
    # n/6·(|exk|·Δexk/2 + Δexk²/4) (hypothesis found
    # ys=[-666,-666,-670,-670,-670] at a 1.5e-5 JB error)
    d_exk = tol_m4 / c2**2 + 2.0 * c4 * tol_m2 / c2**3
    d_jb = n / 6.0 * (abs(exk_np) * d_exk / 2.0 + d_exk**2 / 4.0)
    assert abs(jb - jb_np) < 1e-5 * max(1.0, jb_np) + d_jb


@given(
    ys=st.lists(st.integers(min_value=-1000, max_value=1000), min_size=6, max_size=60)
)
@settings(max_examples=200, deadline=None)
def test_pacf_lag2_durbin_levinson_identity(ys):
    """round8_ts.pacf_lag2_daily: phi22 = (r2 - r1^2)/(1 - r1^2) from
    the plan's cleared-product autocovariances must equal the
    Yule-Walker solve of the 2x2 system (second component)."""
    import numpy as np
    from hypothesis import assume

    y = np.array(ys, dtype=float)
    n = len(y)
    assume(np.ptp(y) > 0)
    ybar = y.mean()

    def gamma(k):
        a, b = y[: n - k], y[k:]
        # the plan's cleared form: sum(ab) - ybar*sum(a) - ybar*sum(b)
        # + m*ybar^2, all over n
        return ((a * b).sum() - ybar * a.sum() - ybar * b.sum() + len(a) * ybar**2) / n

    g0, g1, g2 = gamma(0), gamma(1), gamma(2)
    # the plan computes g0 from s2 - n*ybar^2 — identical by algebra
    assert abs(g0 - ((y - ybar) ** 2).mean()) < 1e-7 * max(1.0, g0)
    r1, r2 = g1 / g0, g2 / g0
    assume(abs(1.0 - r1 * r1) > 1e-6)
    pacf2 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    # Yule-Walker: [[g0, g1], [g1, g0]] @ [phi1, phi2] = [g1, g2]
    A = np.array([[g0, g1], [g1, g0]])
    assume(abs(np.linalg.det(A)) > 1e-9 * max(1.0, g0 * g0))
    phi = np.linalg.solve(A, np.array([g1, g2]))
    assert abs(pacf2 - phi[1]) < 1e-6 * max(1.0, abs(phi[1]))


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),
            st.lists(st.integers(-100, 100), min_size=4, max_size=4),
        ),
        min_size=6,
        max_size=40,
    )
)
@settings(max_examples=200, deadline=None)
def test_softmax_zero_init_gradient_closed_form(rows):
    """round8_ml.softmax_gd_step_exact: at W=0 every softmax
    probability is exactly 1/3, so grad_cj = (T_j/3 - S_cj)/n.  Verify
    against the direct softmax-gradient computation."""
    import numpy as np

    y = np.array([r[0] for r in rows])
    X = np.array([r[1] for r in rows], dtype=float)
    n, d = X.shape
    # direct: P = softmax(XW) with W=0 -> uniform 1/3
    P = np.full((n, 3), 1.0 / 3.0)
    Y = np.zeros((n, 3))
    Y[np.arange(n), y] = 1.0
    grad_direct = (P - Y).T @ X / n  # 3 x d
    for c in range(3):
        S_c = X[y == c].sum(axis=0) if (y == c).any() else np.zeros(d)
        T = X.sum(axis=0)
        grad_plan = (T / 3.0 - S_c) / n
        assert np.allclose(grad_plan, grad_direct[c], atol=1e-9)


@given(
    vals=st.lists(st.integers(0, 10_000), min_size=10, max_size=80)
)
@settings(max_examples=200, deadline=None)
def test_trimmed_winsorized_rank_rule(vals):
    """round8_spc.trimmed_winsorized_means: the rank-window rule
    (keep k < rk <= n-k; winsorize with the k+1 and n-k order stats)
    must equal the direct sorted-slice definitions."""
    n = len(vals)
    k = n // 10
    s = sorted(vals)
    kept = s[k : n - k]
    trimmed_direct = sum(kept) / (n - 2 * k)
    wins_direct = (sum(kept) + k * s[k] + k * s[n - k - 1]) / n
    # plan rule over ranks 1..n of the sorted sequence
    kept_plan = [v for rk, v in enumerate(s, 1) if k < rk <= n - k]
    lo = next(v for rk, v in enumerate(s, 1) if rk == k + 1)
    hi = next(v for rk, v in enumerate(s, 1) if rk == n - k)
    assert sum(kept_plan) == sum(kept)
    assert lo == s[k] and hi == s[n - k - 1]
    assert abs(sum(kept_plan) / (n - 2 * k) - trimmed_direct) < 1e-12
    assert abs((sum(kept_plan) + k * lo + k * hi) / n - wins_direct) < 1e-12


@given(
    pvals=st.lists(
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=300, deadline=None)
def test_holm_stepdown_first_fail_rule(pvals):
    """round8_ts.holm_bonferroni_segments: 'reject ranks strictly below
    the first failing rank' must equal the textbook sequential Holm
    procedure."""
    alpha = 0.10
    m = len(pvals)
    s = sorted(pvals)
    # textbook: walk ranks in order, stop at the first failure
    reject_textbook = [False] * m
    for i, p in enumerate(s, 1):
        if p <= alpha / (m - i + 1):
            reject_textbook[i - 1] = True
        else:
            break
    # plan rule: first_fail = min rank with p > alpha/(m-rank+1)
    fails = [i for i, p in enumerate(s, 1) if p > alpha / (m - i + 1)]
    first_fail = min(fails) if fails else m + 1
    reject_plan = [rank < first_fail for rank in range(1, m + 1)]
    assert reject_plan == reject_textbook


@given(
    cents=st.lists(st.integers(1, 10**9), min_size=2, max_size=12)
)
@settings(max_examples=300, deadline=None)
def test_hhi_ppm_integer_division_bound(cents):
    """round8_bi.hhi_concentration: truncating ppm shares bound the
    true HHI within n*2e-6 + 1e-12 (each share loses < 1 ppm, HHI is
    1-Lipschitz-ish in each share since shares sum <= 1)."""
    tot = sum(cents)
    ppm = [c * 1_000_000 // tot for c in cents]
    hhi_plan = sum(p * p for p in ppm) / 1e12
    hhi_true = sum((c / tot) ** 2 for c in cents)
    # |x^2 - y^2| = |x-y||x+y| <= 1e-6 * 2 per share
    assert abs(hhi_plan - hhi_true) <= len(cents) * 2e-6 + 1e-12


@given(
    pairs=st.lists(
        st.tuples(st.integers(1, 500), st.integers(1, 10_000)),
        min_size=30,
        max_size=60,
    )
)
@settings(max_examples=100, deadline=None)
def test_rolling_corr_sum_identity(pairs):
    """round8_olap.rolling_correlation_30d: the rolling-sum Pearson
    combine must equal numpy corrcoef on every full 30-window."""
    import numpy as np
    from hypothesis import assume

    x = np.array([p[0] for p in pairs], dtype=float)
    y = np.array([p[1] for p in pairs], dtype=float)
    W = 30
    for end in range(W, len(x) + 1):
        xs, ys = x[end - W : end], y[end - W : end]
        assume(np.ptp(xs) > 0 and np.ptp(ys) > 0)
        n = float(W)
        num = n * (xs * ys).sum() - xs.sum() * ys.sum()
        den = np.sqrt(
            (n * (xs * xs).sum() - xs.sum() ** 2)
            * (n * (ys * ys).sum() - ys.sum() ** 2)
        )
        direct = np.corrcoef(xs, ys)[0, 1]
        assert abs(num / den - direct) < 1e-9


@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 10**7),  # extended price cents
            st.integers(0, 10),  # discount percent
            st.integers(0, 8),  # tax percent
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=300, deadline=None)
def test_revenue_waterfall_integer_algebra(rows):
    """round8_olap.revenue_waterfall: the 1e-4-cent integer component
    sums must equal the float disc_price/charge algebra, and the
    waterfall must reconcile: gross - disc + tax == charge exactly."""
    gross = sum(e * 10_000 for e, _, _ in rows)
    disc = sum(e * d * 100 for e, d, _ in rows)
    tax = sum(e * (100 - d) * t for e, d, t in rows)
    charge = sum(e * (100 - d) * 100 + e * (100 - d) * t for e, d, t in rows)
    assert gross - disc + tax == charge  # exact integer reconciliation
    charge_float = sum(
        (e / 100) * (1 - d / 100) * (1 + t / 100) for e, d, t in rows
    )
    assert abs(charge / 1e6 - charge_float) < 1e-6 * max(1.0, charge_float)


@given(
    cfs=st.lists(st.integers(1, 1000), min_size=1, max_size=200)
)
@settings(max_examples=300, deadline=None)
def test_vocab_coverage_conditional_sum_identity(cfs):
    """round8_olap.vocab_coverage_topk_grid: sum(cf where rank<=k) over
    the (cf desc, tok asc) ranking equals the sorted-prefix sum."""
    toks = [f"t{i}" for i in range(len(cfs))]
    ranked = sorted(zip(cfs, toks), key=lambda p: (-p[0], p[1]))
    for k in (3, 10, 50):
        plan = sum(cf for rank, (cf, _) in enumerate(ranked, 1) if rank <= k)
        direct = sum(cf for cf, _ in ranked[:k])
        assert plan == direct


@given(
    labels=st.lists(st.integers(0, 4), min_size=5, max_size=60)
)
@settings(max_examples=300, deadline=None)
def test_class_downsample_cap_rule(labels):
    """round8_olap.class_balanced_downsample: keep rank<=min-class-size
    within each class yields exactly min(n_c, cap)=cap rows per class
    present."""
    from collections import Counter

    counts = Counter(labels)
    cap = min(counts.values())
    kept = Counter()
    per_class_rank = Counter()
    for lb in sorted(range(len(labels)), key=lambda i: ((i * 2654435761) % 2147483648, i)):
        c = labels[lb]
        per_class_rank[c] += 1
        if per_class_rank[c] <= cap:
            kept[c] += 1
    assert all(v == cap for v in kept.values())
    assert set(kept) == set(counts)


@given(
    es=st.lists(st.integers(-10_000, 10_000), min_size=5, max_size=60)
)
@settings(max_examples=200, deadline=None)
def test_cooks_distance_closed_form_vs_hat_matrix(es):
    """round8_infer.cooks_distance_daily: the simple-regression
    leverage closed form h_i = 1/n + (t-tbar)^2/Stt must equal the
    hat-matrix diagonal of X=[1, t], and Cook's D must match the
    textbook e^2 h / (p s^2 (1-h)^2)."""
    import numpy as np
    from hypothesis import assume

    n = len(es)
    t = np.arange(1.0, n + 1)
    e = np.array(es, dtype=float)
    assume(float(np.abs(e).sum()) > 0)
    X = np.column_stack([np.ones(n), t])
    H = X @ np.linalg.inv(X.T @ X) @ X.T
    stt = ((t - t.mean()) ** 2).sum()
    h_closed = 1.0 / n + (t - t.mean()) ** 2 / stt
    assert np.allclose(h_closed, np.diag(H), atol=1e-10)
    s2 = (e**2).sum() / (n - 2)
    d_plan = e**2 * h_closed / (2.0 * s2 * (1.0 - h_closed) ** 2)
    d_text = e**2 / (2 * s2) * np.diag(H) / (1 - np.diag(H)) ** 2
    assert np.allclose(d_plan, d_text, rtol=1e-9)


@given(
    ssrs=st.tuples(
        st.floats(min_value=1e-3, max_value=1e12),
        st.floats(min_value=1e-3, max_value=1e12),
    ),
    n=st.integers(10, 3000),
    scale=st.floats(min_value=1e-6, max_value=1e6),
)
@settings(max_examples=300, deadline=None)
def test_ic_model_choice_scale_invariant(ssrs, n, scale):
    """round8_infer.aic_bic_granger_compare claims IC DIFFERENCES are
    unit-invariant (cents vs dollars): rescaling both SSRs by c^2 adds
    the same n*ln(c^2) to both models' IC, so the preferred model never
    changes."""
    import math

    ssr_r, ssr_u = ssrs
    ic = lambda ssr, k, pen: n * math.log(ssr / n) + pen * k  # noqa: E731
    for pen in (2.0, math.log(n)):
        base = ic(ssr_r, 2, pen) - ic(ssr_u, 3, pen)
        scaled = ic(ssr_r * scale, 2, pen) - ic(ssr_u * scale, 3, pen)
        assert abs(base - scaled) < 1e-6 * max(1.0, abs(base))


@given(
    r=st.floats(min_value=0.1, max_value=100.0),
    p=st.floats(min_value=0.01, max_value=0.99),
)
@settings(max_examples=300, deadline=None)
def test_negbin_method_of_moments_roundtrip(r, p):
    """round8_infer.negbin_fit_segments: the MoM inversion
    (r = m^2/(v-m), p = m/v) must recover (r, p) from the NB mean
    m = r(1-p)/p and variance v = r(1-p)/p^2."""
    m = r * (1 - p) / p
    v = r * (1 - p) / (p * p)
    r_hat = m * m / (v - m)
    p_hat = m / v
    assert abs(r_hat - r) < 1e-6 * max(1.0, r)
    assert abs(p_hat - p) < 1e-9


def test_bootstrap_resample_streams_distinct():
    """round8_infer.bootstrap_mean_ci_det: the 32 hash index streams
    over a realistic day count must be pairwise distinct, in-range, and
    actually WITH replacement (some index repeats within a stream)."""
    M31 = 2147483648
    n = 2400
    streams = []
    for k in range(1, 33):
        s = tuple(((i * 2654435761 + k * 2246822519) % M31) % n + 1 for i in range(1, n + 1))
        assert all(1 <= idx <= n for idx in s)
        assert len(set(s)) < n  # with replacement: collisions exist
        streams.append(s)
    assert len(set(streams)) == 32


@given(
    rows=st.lists(
        st.tuples(st.integers(-500, 499), st.booleans()),
        min_size=8,
        max_size=60,
    )
)
@settings(max_examples=200, deadline=None)
def test_rd_intercept_closed_form_vs_lstsq(rows):
    """round8_surface.regression_discontinuity_price: the per-side
    centered-moment intercept-at-cutoff (ubar - slope*xbar) must equal
    the lstsq intercept of u ~ [1, x]."""
    import numpy as np
    from hypothesis import assume

    x = np.array([r[0] for r in rows], dtype=float)
    u = np.array([1.0 if r[1] else 0.0 for r in rows])
    n = len(x)
    assume(np.ptp(x) > 0)
    sxx_c = (x * x).sum() - x.sum() ** 2 / n
    sxu_c = (x * u).sum() - x.sum() * u.sum() / n
    assume(abs(sxx_c) > 1e-9 * max(1.0, (x * x).sum()))
    slope = sxu_c / sxx_c
    icept = u.mean() - slope * x.mean()
    A = np.column_stack([np.ones(n), x])
    coef, _, _, _ = np.linalg.lstsq(A, u, rcond=None)
    assert abs(icept - coef[0]) < 1e-8 * max(1.0, abs(coef[0]))
    assert abs(slope - coef[1]) < 1e-8 * max(1.0, abs(coef[1]))


@given(
    la=st.lists(st.integers(10, 10_000), min_size=2, max_size=40),
    lb=st.lists(st.integers(10, 10_000), min_size=2, max_size=40),
)
@settings(max_examples=300, deadline=None)
def test_quantile_normalization_rank_map(la, lb):
    """round8_more.quantile_normalization_sources: the integer rank map
    ceil(r*nb/na) is (a) within [1, nb], (b) monotone in r, and
    (c) the identity when na == nb — so the mapped distribution is
    exactly B's when sizes match."""
    na, nb = len(la), len(lb)
    sb = sorted(lb)
    mapped = []
    prev = 0
    for r in range(1, na + 1):
        rb = (r * nb + na - 1) // na  # ceil(r*nb/na)
        assert 1 <= rb <= nb
        assert rb >= prev
        prev = rb
        mapped.append(sb[rb - 1])
    if na == nb:
        assert mapped == sb


@given(
    days=st.lists(
        st.tuples(st.integers(1, 200), st.integers(0, 200)),
        min_size=3,
        max_size=60,
    )
)
@settings(max_examples=300, deadline=None)
def test_sprt_first_crossing_rule(days):
    """round8_seq.sprt_urgent_share_drift: the aggregate first-crossing
    rule (min day with cum >= A / min day with cum <= -A, earlier one
    wins) must equal the sequential walk that stops at the first
    boundary hit."""
    import math

    p0, p1, A = 0.20, 0.22, math.log(19.0)
    la, lb = math.log(p1 / p0), math.log((1 - p1) / (1 - p0))
    terms = [
        round((min(k, n) * la + (n - min(k, n)) * lb) * 1e6) for n, k in days
    ]
    # sequential walk
    cum, walk_decision, walk_i = 0, "continue", None
    for i, t in enumerate(terms):
        cum += t
        if cum >= A * 1e6:
            walk_decision, walk_i = "accept_h1", i
            break
        if cum <= -A * 1e6:
            walk_decision, walk_i = "accept_h0", i
            break
    # aggregate rule over the FULL prefix series
    cums = []
    c = 0
    for t in terms:
        c += t
        cums.append(c)
    h1 = next((i for i, c in enumerate(cums) if c >= A * 1e6), None)
    h0 = next((i for i, c in enumerate(cums) if c <= -A * 1e6), None)
    if h1 is not None and (h0 is None or h1 < h0):
        agg = ("accept_h1", h1)
    elif h0 is not None:
        agg = ("accept_h0", h0)
    else:
        agg = ("continue", None)
    assert agg == (walk_decision, walk_i)


@given(
    scores=st.lists(
        st.floats(min_value=0.0, max_value=1e6, allow_nan=False),
        min_size=9,
        max_size=100,
    )
)
@settings(max_examples=300, deadline=None)
def test_conformal_order_statistic_rule(scores):
    """round8_seq.conformal_interval_coverage: the rank-selected
    threshold (the ceil((n+1)*0.9)-th smallest score, when it exists)
    must equal the direct definition: the smallest t among the scores
    with #(scores <= t) >= ceil((n+1)*0.9)."""
    import math

    n = len(scores)
    q = math.ceil((n + 1) * 0.9)
    s = sorted(scores)
    if q > n:
        return  # threshold undefined (tiny calibration set)
    thr_rank = s[q - 1]
    thr_direct = min(t for t in s if sum(1 for x in s if x <= t) >= q)
    assert thr_rank == thr_direct


@given(
    rows=st.lists(
        st.tuples(st.integers(1, 50), st.integers(100, 10_000)),
        min_size=5,
        max_size=60,
    )
)
@settings(max_examples=200, deadline=None)
def test_mahalanobis_closed_form_inverse(rows):
    """round8_seq.mahalanobis_2d_outliers: the closed-form 2x2
    covariance inverse (i11=vp/det, i22=vq/det, i12=-c/det) and the
    quadratic form must equal numpy's inv-based Mahalanobis."""
    import numpy as np
    from hypothesis import assume

    X = np.array(rows, dtype=float)
    mu = X.mean(axis=0)
    d = X - mu
    cov = d.T @ d / len(X)  # population covariance
    det = cov[0, 0] * cov[1, 1] - cov[0, 1] ** 2
    assume(det > 1e-9 * max(1.0, cov[0, 0] * cov[1, 1]))
    i11 = cov[1, 1] / det
    i22 = cov[0, 0] / det
    i12 = -cov[0, 1] / det
    inv = np.linalg.inv(cov)
    assert abs(i11 - inv[0, 0]) < 1e-8 * max(1.0, abs(inv[0, 0]))
    assert abs(i22 - inv[1, 1]) < 1e-8 * max(1.0, abs(inv[1, 1]))
    assert abs(i12 - inv[0, 1]) < 1e-8 * max(1.0, abs(inv[0, 1]))
    for x in X[:5]:
        dx = x - mu
        d2_plan = (
            dx[0] * dx[0] * i11 + 2 * dx[0] * dx[1] * i12 + dx[1] * dx[1] * i22
        )
        d2_np = float(dx @ inv @ dx)
        assert abs(d2_plan - d2_np) < 1e-6 * max(1.0, d2_np)


@given(
    rels=st.lists(st.booleans(), min_size=1, max_size=10)
)
@settings(max_examples=300, deadline=None)
def test_ndcg_integer_weights_bound(rels):
    """round8_ireval.ndcg_retrieval_eval: the integer discount
    constants q_i = floor(1e8/log2(i+1)+0.5) reproduce float nDCG
    within the quantization bound (10 terms x 0.5e-8 on each of
    DCG and IDCG), and equal it exactly when DCG == IDCG."""
    import math

    k = len(rels)
    q = {i: math.floor(1e8 / math.log2(i + 1) + 0.5) for i in range(1, 11)}
    n_rel = sum(rels)
    dcg_i = sum(q[i] for i, r in enumerate(rels, 1) if r)
    idcg_i = sum(q[i] for i in range(1, min(n_rel, 10) + 1))
    if idcg_i == 0:
        return
    dcg_f = sum(1.0 / math.log2(i + 1) for i, r in enumerate(rels, 1) if r)
    idcg_f = sum(1.0 / math.log2(i + 1) for i in range(1, min(n_rel, 10) + 1))
    ndcg_int = dcg_i / idcg_i
    ndcg_flt = dcg_f / idcg_f
    assert abs(ndcg_int - ndcg_flt) <= 2e-7
    if dcg_i == idcg_i:
        assert ndcg_int == 1.0


# --------------------------------------------------------------------------
# round9_graph: truss peel + min-label propagation identities (r8
# VERDICT directives #2/#5 + the standing post-triangle-bug rule: every
# mathematical rewrite ships with a pure-Python identity test)
# --------------------------------------------------------------------------


def _peel_sync(edges, thr):
    """The plan's formulation: synchronous rounds — recompute every
    edge's common-neighbor count within the CURRENT edge set, remove
    all below-thr edges at once, repeat to fixpoint.  Returns
    (fixpoint edge set, per-round (surviving, removed) history)."""
    E = set(edges)
    hist = []
    while True:
        adj = {}
        for u, v in E:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        rem = {(u, v) for (u, v) in E if len(adj[u] & adj[v]) < thr}
        E2 = E - rem
        hist.append((len(E2), len(rem)))
        if not rem:
            return E2, hist
        E = E2


def _peel_sequential(edges, thr, order_key):
    """One-edge-at-a-time peel in an arbitrary deterministic order —
    the classical truss algorithm.  Confluence with the synchronous
    form is the property that licenses the plan's batch rounds."""
    E = set(edges)
    while True:
        adj = {}
        for u, v in E:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        below = sorted(
            ((u, v) for (u, v) in E if len(adj[u] & adj[v]) < thr),
            key=order_key,
        )
        if not below:
            return E
        E.discard(below[0])  # remove exactly ONE edge, then recompute


@given(
    raw=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=0,
        max_size=35,
    ),
    k=st.sampled_from([3, 4, 5]),
    flip=st.booleans(),
)
@settings(max_examples=200, deadline=None)
def test_truss_peel_sync_equals_sequential_any_order(raw, k, flip):
    """round9_graph.ktruss_peel_exact: the synchronous batched peel
    (what the unrolled wedge-join rounds compute) reaches the SAME
    fixpoint as removing one lowest-support edge at a time in either
    lexicographic direction — truss peeling is confluent, so the
    plan's batch rounds are just a faster schedule of the classical
    algorithm.  The fixpoint also satisfies the k-truss definition:
    every surviving edge closes >= k-2 triangles WITHIN the survivors."""
    edges = {(min(a, b), max(a, b)) for a, b in raw if a != b}
    thr = k - 2
    fix_sync, hist = _peel_sync(edges, thr)
    key = (lambda e: e) if not flip else (lambda e: (-e[0], -e[1]))
    fix_seq = _peel_sequential(edges, thr, key)
    assert fix_sync == fix_seq
    # fixpoint property: every survivor meets the support threshold
    adj = {}
    for u, v in fix_sync:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    assert all(len(adj[u] & adj[v]) >= thr for (u, v) in fix_sync)
    # history invariants the catalog entry reports: surviving counts are
    # non-increasing and the final round removes nothing
    survs = [s for s, _ in hist]
    assert all(a >= b for a, b in zip(survs, survs[1:]))
    assert hist[-1][1] == 0


def test_truss_peel_planted_clique_survives():
    """A planted 5-clique is its own 4-truss (every edge has 3 common
    neighbors); pendant edges and a path attached to it peel away."""
    clique = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    extras = [(0, 10), (10, 11), (11, 12), (3, 13)]
    fix, _ = _peel_sync(set(clique) | set(extras), thr=2)
    assert fix == set(clique)
    # k=3 keeps the clique too (support >= 1) and still drops the tail
    fix3, _ = _peel_sync(set(clique) | set(extras), thr=1)
    assert fix3 == set(clique)


@given(
    raw=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=11),
            st.integers(min_value=0, max_value=11),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=200, deadline=None)
def test_min_label_propagation_fixpoint_is_components(raw):
    """round9_graph.min_label_propagation_fixpoint: synchronous
    min-label rounds converge to connected components (label ==
    component-minimum node), in at most diameter rounds, with the
    changed-count hitting 0 exactly at the fixpoint."""
    edges = {(min(a, b), max(a, b)) for a, b in raw if a != b}
    if not edges:
        return
    nodes = sorted({x for e in edges for x in e})
    adj = {n: set() for n in nodes}
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    lab = {n: n for n in nodes}
    rounds = 0
    while True:
        new = {n: min([lab[n]] + [lab[m] for m in adj[n]]) for n in nodes}
        changed = sum(1 for n in nodes if new[n] != lab[n])
        lab = new
        rounds += 1
        if changed == 0:
            break
    # brute-force components via BFS
    seen, comp_min = set(), {}
    for s in nodes:
        if s in seen:
            continue
        stack, comp = [s], []
        seen.add(s)
        while stack:
            x = stack.pop()
            comp.append(x)
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    stack.append(y)
        m = min(comp)
        for x in comp:
            comp_min[x] = m
    assert lab == comp_min


def _ipf_int(cells, targets_r, targets_c, sweeps):
    """round9_iter's exact integer IPF: w <- (w * target) // marginal,
    row sweep then column sweep; returns (w, per-sweep (row_err,
    col_err) history).  All arithmetic exact (Python ints)."""
    w = dict(cells)
    rows = sorted({r for r, _ in w})
    cols = sorted({c for _, c in w})
    hist = []
    for _ in range(sweeps):
        rsum = {r: sum(w[(r, c)] for c in cols) for r in rows}
        w = {
            (r, c): (w[(r, c)] * targets_r[r]) // rsum[r] if rsum[r] else 0
            for r in rows
            for c in cols
        }
        csum = {c: sum(w[(r, c)] for r in rows) for c in cols}
        w = {
            (r, c): (w[(r, c)] * targets_c[c]) // csum[c] if csum[c] else 0
            for r in rows
            for c in cols
        }
        rsum = {r: sum(w[(r, c)] for c in cols) for r in rows}
        csum = {c: sum(w[(r, c)] for r in rows) for c in cols}
        hist.append(
            (
                max(abs(rsum[r] - targets_r[r]) for r in rows),
                max(abs(csum[c] - targets_c[c]) for c in cols),
            )
        )
    return w, hist


@given(
    counts=st.lists(
        st.integers(min_value=1, max_value=500), min_size=25, max_size=25
    ),
    sweeps=st.integers(min_value=4, max_value=8),
)
@settings(max_examples=100, deadline=None)
def test_ipf_integer_sweeps_converge_to_marginals(counts, sweeps):
    """round9_iter.ipf_raking_fixpoint: integer micro-unit IPF on a
    strictly-positive 5x5 table with uniform targets — (a) the column
    error after any full sweep is bounded by the truncation floor
    (< n_rows micro: each cell truncates < 1), (b) the row error is
    non-increasing across sweeps once past the first, and (c) total
    mass stays within the truncation budget of the grand total."""
    rows = cols = list(range(5))
    scale = 1_000_000
    cells = {
        (r, c): counts[5 * r + c] * scale for r in rows for c in cols
    }
    n = sum(counts)
    target = n * (scale // 5)
    tr = {r: target for r in rows}
    tc = {c: target for c in cols}
    w, hist = _ipf_int(cells, tr, tc, sweeps)
    # (a) the column sweep ran LAST, so each column marginal is exact up
    # to 5 floor-truncations of < 1 micro each
    assert all(ce < 5 for _, ce in hist)
    # (b) row error decays monotonically after the first sweep (classic
    # alternating-projection geometric convergence; ties allowed at the
    # truncation floor)
    row_errs = [re for re, _ in hist]
    assert all(a >= b or b <= 25 for a, b in zip(row_errs[1:], row_errs[2:]))
    # (c) mass conservation within truncation budget: every half-sweep
    # loses < 25 micro total
    assert abs(sum(w.values()) - 5 * target) <= 2 * sweeps * 25


def test_ipf_already_uniform_is_fixpoint():
    """A table that already satisfies the marginals only loses floor
    dust: one sweep changes nothing when the division is exact."""
    scale = 1_000_000
    cells = {(r, c): 100 * scale for r in range(5) for c in range(5)}
    target = 2500 * (scale // 5)  # == 500 * scale == each marginal
    w, hist = _ipf_int(
        cells, {r: target for r in range(5)}, {c: target for c in range(5)}, 3
    )
    assert w == cells
    assert hist == [(0, 0)] * 3


@given(
    flows=st.lists(
        st.integers(min_value=1000, max_value=10_000_000),
        min_size=6,
        max_size=6,
    )
)
@settings(max_examples=100, deadline=None)
def test_irr_bisection_bracket_invariant(flows):
    """round9_root.irr_bisection_fixpoint: with cf0 = -(8*total//10) and
    positive monthly inflows, (a) the cleared-denominator sign test
    S(r) = sum cf_t*10000^t*(10000+r)^(6-t) agrees with the float NPV
    sign away from the root, (b) bisection keeps the true root
    bracketed every round, (c) 14 rounds shrink the bracket below 1 bp."""
    cf = {t: c for t, c in enumerate(flows, start=1)}
    cf[0] = -((8 * sum(cf.values())) // 10)

    def s_int(r_bp):
        return sum(
            c * 10_000**t * (10_000 + r_bp) ** (6 - t) for t, c in cf.items()
        )

    def npv(r):
        return sum(c / (1 + r) ** t for t, c in cf.items())

    lo, hi = 0, 10_000
    assert s_int(lo) > 0 and s_int(hi) < 0  # bracket valid at start
    for _ in range(14):
        mid = (lo + hi) // 2
        s = s_int(mid)
        # (a) integer sign test == float NPV sign (floats are exact
        # enough away from the root; at the root both are ~0 and the
        # bracket property below is the binding check)
        if abs(npv(mid / 10_000.0)) > 1.0:
            assert (s > 0) == (npv(mid / 10_000.0) > 0)
        if s > 0:
            lo = mid
        else:
            hi = mid
        # (b) the sign change stays inside [lo, hi]
        assert s_int(lo) > 0 and s_int(hi) <= 0
    assert hi - lo <= 1  # (c) sub-bp bracket after 14 rounds


@given(n=st.integers(min_value=1, max_value=10**24))
@settings(max_examples=300, deadline=None)
def test_isqrt_newton_certificate(n):
    """round9_root.isqrt_newton_fixpoint: from the AM-GM seed
    x0 = n//10^6 + 10^6 >= sqrt(n), 28 MIN-DAMPED integer Newton
    rounds reach floor(sqrt(n)) — pinned against math.isqrt — and once
    the x^2 <= n < (x+1)^2 certificate holds the iterate never moves.
    28, not 8: the seed can sit ~10^6x above sqrt(n) (n=1 or n=10^24)
    and Newton only HALVES the excess until it gets close (24 measured
    insufficient at n ~ 10^24).  Min-damped, not raw: the raw integer
    Newton step 2-cycles at the bottom (n=255: 15 -> 16 -> 15)."""
    import math

    x = n // 1_000_000 + 1_000_000
    assert x >= math.isqrt(n)
    certified_at = None
    for r in range(1, 29):
        x = min(x, (x + n // x) // 2)
        ok = x * x <= n < (x + 1) * (x + 1)
        if ok and certified_at is None:
            certified_at = (r, x)
        if certified_at is not None:
            assert x == certified_at[1]  # fixpoint after certificate
    assert certified_at is not None
    assert certified_at[1] == math.isqrt(n)


@given(
    a=st.lists(st.integers(min_value=0, max_value=200), min_size=1, max_size=40),
    b=st.lists(st.integers(min_value=0, max_value=200), min_size=1, max_size=40),
)
@settings(max_examples=200, deadline=None)
def test_wasserstein_rank_coupling_identity(a, b):
    """round9_dist.wasserstein_1d_price_periods: the per-distinct-value
    formulation sum |c1*n2 - c2*n1| * dv / (n1*n2) equals the textbook
    quantile-coupling W1 = integral |F1^-1 - F2^-1| computed brutely on
    a fine grid of quantiles (exact for step CDFs when the grid is the
    lcm-refined rank grid)."""
    from fractions import Fraction

    n1, n2 = len(a), len(b)
    sa, sb = sorted(a), sorted(b)
    vals = sorted(set(a) | set(b))
    # plan formulation
    c1 = c2 = 0
    num = 0
    for v, vn in zip(vals, vals[1:]):
        c1 += sum(1 for x in a if x == v)
        c2 += sum(1 for x in b if x == v)
        num += abs(c1 * n2 - c2 * n1) * (vn - v)
    w1_plan = Fraction(num, n1 * n2)
    # quantile coupling on the common refinement grid: q in (k/(n1*n2))
    m = n1 * n2
    w1_q = Fraction(0)
    for k in range(m):
        # inverse CDFs at quantile (k + 0.5)/m -> index floor(q*n)
        qa = sa[(k * n1) // m]
        qb = sb[(k * n2) // m]
        w1_q += Fraction(abs(qa - qb), m)
    assert w1_plan == w1_q


@given(
    a=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=25),
    b=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=25),
)
@settings(max_examples=200, deadline=None)
def test_cvm_integral_form_identity(a, b):
    """round9_dist.cramer_von_mises_two_sample: the integer-numerator
    integral form sum cnt*(c1*n2-c2*n1)^2 / (n1*n2*N^2) equals the
    direct definition T = (n1*n2/N^2) * sum over combined points of
    (F1(x)-F2(x))^2, computed brutely in exact rationals."""
    from fractions import Fraction

    n1, n2 = len(a), len(b)
    N = n1 + n2
    vals = sorted(set(a) | set(b))
    c1 = c2 = 0
    num = 0
    for v in vals:
        cnt = sum(1 for x in a if x == v) + sum(1 for x in b if x == v)
        c1 += sum(1 for x in a if x == v)
        c2 += sum(1 for x in b if x == v)
        num += cnt * (c1 * n2 - c2 * n1) ** 2
    t_plan = Fraction(num, n1 * n2 * N * N)
    t_brute = Fraction(0)
    for x in a + b:
        f1 = Fraction(sum(1 for y in a if y <= x), n1)
        f2 = Fraction(sum(1 for y in b if y <= x), n2)
        t_brute += (f1 - f2) ** 2
    t_brute *= Fraction(n1 * n2, N * N)
    assert t_plan == t_brute


@given(
    blocks=st.lists(
        st.lists(st.integers(min_value=0, max_value=10**6), min_size=5, max_size=5),
        min_size=2,
        max_size=20,
    )
)
@settings(max_examples=150, deadline=None)
def test_friedman_rank_sum_formula_identity(blocks):
    """round9_dist.friedman_test_segments: the rank-sum formula
    Q = 12*sum R_j^2/(n*k*(k+1)) - 3*n*(k+1) equals the definitional
    Q = (12n/(k(k+1))) * sum_j (Rbar_j - (k+1)/2)^2 when ranks are a
    permutation of 1..k per block (deterministic tiebreaks guarantee
    that in the plan)."""
    from fractions import Fraction

    k = 5
    n = len(blocks)
    # deterministic ranks: by (-value, index) like the plan's
    # (cents DESC, segment ASC)
    rsum = [0] * k
    for row in blocks:
        order = sorted(range(k), key=lambda j: (-row[j], j))
        for rank, j in enumerate(order, start=1):
            rsum[j] += rank
    q_formula = Fraction(12 * sum(r * r for r in rsum), n * k * (k + 1)) - 3 * n * (
        k + 1
    )
    q_def = (
        Fraction(12 * n, k * (k + 1))
        * sum((Fraction(r, n) - Fraction(k + 1, 2)) ** 2 for r in rsum)
    )
    assert q_formula == q_def
    assert q_formula >= 0


@given(
    xs=st.lists(st.integers(min_value=1, max_value=10**9), min_size=1, max_size=60)
)
@settings(max_examples=200, deadline=None)
def test_page_hinkley_prefix_form_identity(xs):
    """round9_seq2.page_hinkley_drift: the prefix-sum formulation
    (term_i = x_i*10^6 - (S_i*10^6) div i, m_t = prefix sum, excess =
    m_t - running min) equals the sequential streaming PH recursion
    computed one observation at a time with the same integer
    quantization of the running mean."""
    # plan formulation
    s = 0
    m = 0
    terms_m = []
    for i, x in enumerate(xs, start=1):
        s += x
        m += x * 10**6 - (s * 10**6) // i
        terms_m.append(m)
    runmin = []
    cur = None
    for v in terms_m:
        cur = v if cur is None or v < cur else cur
        runmin.append(cur)
    excess_plan = [a - b for a, b in zip(terms_m, runmin)]
    # streaming recursion
    s2 = 0
    m2 = 0
    mn = None
    excess_seq = []
    for i, x in enumerate(xs, start=1):
        s2 += x
        mean_q = (s2 * 10**6) // i
        m2 += x * 10**6 - mean_q
        mn = m2 if mn is None or m2 < mn else mn
        excess_seq.append(m2 - mn)
    assert excess_plan == excess_seq
    assert all(e >= 0 for e in excess_plan)


@given(
    iv=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=200, deadline=None)
def test_sweep_line_peak_concurrency_identity(iv):
    """round9_ir2.peak_concurrency_sessions: the +1/-1 endpoint sweep
    (closes at end+1, closes-before-opens at equal instants) equals the
    brute-force maximum of interval coverage over every integer
    instant, and the first instant achieving it."""
    intervals = [(s, s + d) for s, d in iv]  # closed [s, e]
    deltas = sorted(
        [(s, 1, i) for i, (s, e) in enumerate(intervals)]
        + [(e + 1, -1, i) for i, (s, e) in enumerate(intervals)]
    )
    run = 0
    peak, first_t = 0, None
    for t, d, _ in deltas:
        run += d
        if run > peak:
            peak, first_t = run, t
    lo = min(s for s, _ in intervals)
    hi = max(e for _, e in intervals)
    brute = {
        t: sum(1 for s, e in intervals if s <= t <= e)
        for t in range(lo, hi + 1)
    }
    b_peak = max(brute.values())
    b_first = min(t for t, c in brute.items() if c == b_peak)
    assert peak == b_peak
    assert first_t == b_first


@given(
    vals=st.lists(
        st.integers(min_value=1, max_value=10**6), min_size=20, max_size=60
    ),
    plant_at=st.integers(min_value=0, max_value=5),
)
@settings(max_examples=200, deadline=None)
def test_matrix_profile_integer_core_identity(vals, plant_at):
    """round9_motif.matrix_profile_daily: the exact-integer core
    d² = 2w(1 − (w·dot − SᵢSⱼ)/(√(w·Qᵢ−Sᵢ²)·√(w·Qⱼ−Sⱼ²))) equals the
    textbook z-normalized Euclidean distance between the two windows,
    and a planted pair of identical non-overlapping weeks produces a
    profile value of exactly 0 at the planted indices."""
    import math

    w = 7
    # plant an identical copy of window [plant_at, plant_at+7) at the
    # tail, non-overlapping by construction
    motif = vals[plant_at : plant_at + w]
    series = vals + motif
    n_win = len(series) - w + 1

    def win(i):
        return series[i : i + w]

    def stats(i):
        x = win(i)
        return sum(x), sum(v * v for v in x)

    def dsq_int(i, j):
        si, qi = stats(i)
        sj, qj = stats(j)
        vi, vj = w * qi - si * si, w * qj - sj * sj
        if vi <= 0 or vj <= 0:
            return None
        dot = sum(a * b for a, b in zip(win(i), win(j)))
        corr = (w * dot - si * sj) / (math.sqrt(vi) * math.sqrt(vj))
        return 2.0 * w * (1.0 - corr)

    def dsq_textbook(i, j):
        def znorm(x):
            mu = sum(x) / w
            sd = math.sqrt(sum((v - mu) ** 2 for v in x) / w)
            return [(v - mu) / sd for v in x] if sd > 0 else None

        zi, zj = znorm(win(i)), znorm(win(j))
        if zi is None or zj is None:
            return None
        return sum((a - b) ** 2 for a, b in zip(zi, zj))

    for i in range(0, n_win, 3):
        for j in range(0, n_win, 5):
            a, b = dsq_int(i, j), dsq_textbook(i, j)
            if a is None or b is None:
                assert a is None and b is None
                continue
            assert a == pytest.approx(b, rel=1e-9, abs=1e-7)

    # planted motif: the copy starts at index len(vals) (0-based)
    i, j = plant_at, len(vals)
    planted = dsq_int(i, j)
    if planted is not None:  # constant weeks are excluded by design
        assert abs(planted) < 1e-9
        # and it is the minimum over all non-overlapping pairs for i
        others = [
            dsq_int(i, k)
            for k in range(n_win)
            if abs(k - i) >= w and dsq_int(i, k) is not None
        ]
        assert min(others) <= 1e-9


@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=10**6), min_size=8, max_size=50
    )
)
@settings(max_examples=200, deadline=None)
def test_sax_symbols_identity_and_monotone(vals):
    """round9_motif.sax_motif_words: the (S, Q, n) integer-moment
    z-score equals the naive mean/std z-score, the 4-letter quantizer
    matches a pure-Python re-implementation, and symbols are monotone
    non-decreasing in the underlying value."""
    import math

    n = len(vals)
    s, q = sum(vals), sum(v * v for v in vals)
    varn = n * q - s * s
    if varn <= 0:
        return  # constant series: z undefined, excluded upstream
    breaks = (-0.6745, 0.0, 0.6745)

    def sym_int(v):
        z = (v - s / n) / (math.sqrt(varn) / n)
        return "abcd"[sum(1 for b in breaks if z >= b)]

    mu = sum(vals) / n
    sd = math.sqrt(sum((v - mu) ** 2 for v in vals) / n)

    def sym_naive(v):
        z = (v - mu) / sd
        if z < breaks[0]:
            return "a"
        if z < breaks[1]:
            return "b"
        if z < breaks[2]:
            return "c"
        return "d"

    syms = [(v, sym_int(v), sym_naive(v)) for v in vals]
    for _, a, b in syms:
        assert a == b
    ordered = sorted(syms)
    for (v1, a1, _), (v2, a2, _) in zip(ordered, ordered[1:]):
        assert a1 <= a2


@given(
    corpus=st.lists(
        st.lists(
            st.sampled_from("abcdefgh"), min_size=2, max_size=12
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=200, deadline=None)
def test_kneser_ney_integer_fraction_identity(corpus):
    """round9_lm: (a) the integer rational (B(4c12-3) + 3*N1fw*N1bw)
    / (4*B*c1) equals the textbook interpolated-KN probability with
    D=0.75 computed in floats; (b) seen numerators + closed-form
    unseen continuation mass == 4*B*c1 exactly for EVERY context
    (the probabilities sum to 1)."""
    from collections import Counter, defaultdict

    bigs = Counter()
    for doc in corpus:
        for a, b in zip(doc, doc[1:]):
            bigs[(a, b)] += 1
    if not bigs:
        return
    c1 = Counter()
    n1fw = defaultdict(set)
    n1bw = defaultdict(set)
    for (a, b), c in bigs.items():
        c1[a] += c
        n1fw[a].add(b)
        n1bw[b].add(a)
    B = len(bigs)
    D = 0.75
    for (a, b), c12 in bigs.items():
        p_text = (c12 - D) / c1[a] + D * len(n1fw[a]) / c1[a] * (
            len(n1bw[b]) / B
        )
        num = B * (4 * c12 - 3) + 3 * len(n1fw[a]) * len(n1bw[b])
        den = 4 * B * c1[a]
        assert num / den == pytest.approx(p_text, rel=1e-12)
    for a in c1:
        seen = sum(
            B * (4 * c - 3) + 3 * len(n1fw[a]) * len(n1bw[b])
            for (x, b), c in bigs.items()
            if x == a
        )
        sn1bw = sum(len(n1bw[b]) for (x, b) in bigs if x == a)
        unseen = 3 * len(n1fw[a]) * (B - sn1bw)
        assert seen + unseen == 4 * B * c1[a]


@given(
    edges=st.sets(
        st.tuples(
            st.integers(min_value=0, max_value=6),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=3,
        max_size=40,
    )
)
@settings(max_examples=150, deadline=None)
def test_hits_integer_sweep_identity(edges):
    """round9_hits: the integer micro-unit HITS half-sweep ((raw *
    1e6) // total) tracks float HITS — after 4 sweeps every score is
    within n micro of the float score scaled to 1e6, the L1 mass stays
    <= 1e6 with remainder < n, and planting a supplier connected to
    EVERY part makes it the top hub."""
    SCALE = 10**6
    edges = set(edges)
    parts = sorted({p for _, p in edges})
    # plant a dominant hub connected to every part
    HUB = 99
    edges |= {(HUB, p) for p in parts}
    sups = sorted({s for s, _ in edges})

    h_int = {s: SCALE for s in sups}
    h_flt = {s: 1.0 for s in sups}
    for _ in range(4):
        araw = {p: sum(h_int[s] for s, q in edges if q == p) for p in parts}
        tot = sum(araw.values())
        a_int = {p: (araw[p] * SCALE) // tot for p in parts}
        af = {p: sum(h_flt[s] for s, q in edges if q == p) for p in parts}
        ft = sum(af.values())
        a_flt = {p: af[p] / ft for p in parts}
        hraw = {s: sum(a_int[p] for t, p in edges if t == s) for s in sups}
        tot = sum(hraw.values())
        h_int = {s: (hraw[s] * SCALE) // tot for s in sups}
        hf = {s: sum(a_flt[p] for t, p in edges if t == s) for s in sups}
        ft = sum(hf.values())
        h_flt = {s: hf[s] / ft for s in sups}
        assert sum(a_int.values()) <= SCALE
        assert SCALE - sum(a_int.values()) < len(parts)
        assert sum(h_int.values()) <= SCALE
        assert SCALE - sum(h_int.values()) < len(sups)
    for s in sups:
        assert abs(h_int[s] - h_flt[s] * SCALE) <= 4 * len(sups) + 4
    top_int = max(sups, key=lambda s: (h_int[s], -s))
    assert top_int == HUB or h_int[HUB] == h_int[top_int]


@given(
    rows=st.lists(
        st.tuples(
            st.booleans(),
            st.integers(min_value=1, max_value=50),
            st.integers(min_value=-1000, max_value=1000),
        ),
        min_size=4,
        max_size=60,
    )
)
@settings(max_examples=200, deadline=None)
def test_wald_iv_equals_covariance_ratio(rows):
    """round9_causal2.iv_wald_estimate: the difference-of-means Wald
    form (E[y|z=1]-E[y|z=0])/(E[x|z=1]-E[x|z=0]) equals the 2SLS
    covariance form cov(z,y)/cov(z,x) for a binary instrument."""
    zs = [int(z) for z, _, _ in rows]
    if len(set(zs)) < 2:
        return
    xs = [x for _, x, _ in rows]
    ys = [y for _, _, y in rows]
    n = len(rows)
    x1 = [x for z, x in zip(zs, xs) if z]
    x0 = [x for z, x in zip(zs, xs) if not z]
    y1 = [y for z, y in zip(zs, ys) if z]
    y0 = [y for z, y in zip(zs, ys) if not z]
    fs = sum(x1) / len(x1) - sum(x0) / len(x0)
    if abs(fs) < 1e-9:
        return
    wald = (sum(y1) / len(y1) - sum(y0) / len(y0)) / fs
    zb, xb, yb = sum(zs) / n, sum(xs) / n, sum(ys) / n
    cov_zy = sum((z - zb) * (y - yb) for z, y in zip(zs, ys))
    cov_zx = sum((z - zb) * (x - xb) for z, x in zip(zs, xs))
    assert wald == pytest.approx(cov_zy / cov_zx, rel=1e-9, abs=1e-9)


@given(
    tv=st.integers(min_value=0, max_value=10**6),
    controls=st.lists(
        st.integers(min_value=0, max_value=10**6), min_size=1, max_size=50
    ),
)
@settings(max_examples=300, deadline=None)
def test_caliper_three_bucket_probe_complete(tv, controls):
    """round9_causal2.caliper_nn_match_att: with bucket width equal to
    the caliper, probing buckets {b-1, b, b+1} finds EVERY control
    within the caliper, and the (|d|, key) min equals the brute-force
    nearest control."""
    CAL = 10_000
    tb = tv // CAL
    probe_hits = {
        (i, cv)
        for i, cv in enumerate(controls)
        if cv // CAL in (tb - 1, tb, tb + 1) and abs(tv - cv) <= CAL
    }
    brute_hits = {
        (i, cv) for i, cv in enumerate(controls) if abs(tv - cv) <= CAL
    }
    assert probe_hits == brute_hits
    if brute_hits:
        assert min((abs(tv - cv), i) for i, cv in probe_hits) == min(
            (abs(tv - cv), i) for i, cv in brute_hits
        )


@given(
    groups=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=4,
        max_size=60,
    )
)
@settings(max_examples=200, deadline=None)
def test_jonckheere_terpstra_identities(groups):
    """round9_causal2.jonckheere_terpstra_priority: JT2 equals the
    brute-force doubled pair count, is invariant under a strictly
    monotone transform of the outcome, and e4 == 2*sum_{g<h} n_g*n_h."""
    from collections import Counter

    def jt2(data):
        return sum(
            2 * (va < vb) + (va == vb)
            for ga, va in data
            for gb, vb in data
            if ga < gb
        )

    base = jt2(groups)
    mono = jt2([(g, 3 * v + 7) for g, v in groups])
    assert base == mono
    sizes = Counter(g for g, _ in groups)
    nn = sum(sizes.values())
    e4 = nn * nn - sum(n * n for n in sizes.values())
    cross = sum(
        na * nb
        for ga, na in sizes.items()
        for gb, nb in sizes.items()
        if ga < gb
    )
    assert e4 == 2 * cross
    assert 0 <= base <= 2 * cross


@given(
    masks=st.lists(
        st.integers(min_value=0, max_value=15), min_size=1, max_size=40
    )
)
@settings(max_examples=200, deadline=None)
def test_shapley_subset_formula_equals_permutation_average(masks):
    """round9_shapley: with v(S) = #converters whose coalition ⊆ S,
    the closed-form subset sum phi24_i = Σ_{S∌i} |S|!(3-|S|)!·(v(S∪i)
    − v(S)) equals the permutation definition (marginal contribution
    averaged over all 4! channel orderings, scaled by 24) EXACTLY,
    and Σ phi24 == 24·(v(full) − v(∅))."""
    from itertools import permutations

    N = 4
    W24 = {0: 6, 1: 2, 2: 2, 3: 6}

    def v(S):
        return sum(1 for m in masks if m & S == m)

    phi_formula = {}
    for i in range(N):
        bit = 1 << i
        phi_formula[i] = sum(
            W24[bin(S).count("1")] * (v(S | bit) - v(S))
            for S in range(16)
            if not S & bit
        )
    phi_perm = {i: 0 for i in range(N)}
    for order in permutations(range(N)):
        S = 0
        for i in order:
            bit = 1 << i
            phi_perm[i] += v(S | bit) - v(S)
            S |= bit
    assert phi_formula == phi_perm
    assert sum(phi_formula.values()) == 24 * (v(15) - v(0))


@given(
    vals=st.lists(
        st.integers(min_value=-10**6, max_value=10**6),
        min_size=16,
        max_size=16,
    )
)
@settings(max_examples=200, deadline=None)
def test_haar_parseval_and_reconstruction_exact(vals):
    """round9_wavelet: the unnormalized Haar pyramid (s←s0+s1,
    d←s0−s1) satisfies exact Parseval (2^L·Σv² = s_L² ·2^0 scaled
    form) and perfect reconstruction, both in fractions.Fraction with
    ZERO tolerance."""
    from fractions import Fraction

    L = 4  # 16 = 2^4
    s = list(vals)
    details = []  # (level, list of d)
    for lvl in range(1, L + 1):
        ns, nd = [], []
        for k in range(0, len(s), 2):
            ns.append(s[k] + s[k + 1])
            nd.append(s[k] - s[k + 1])
        details.append(nd)
        s = ns
    sL = s[0]
    # Parseval: Σ v² == s_L²/2^L + Σ_l Σ_k d_l[k]²/2^l  (exact)
    lhs = Fraction(sum(v * v for v in vals))
    rhs = Fraction(sL * sL, 2**L) + sum(
        Fraction(sum(d * d for d in dl), 2**lvl)
        for lvl, dl in enumerate(details, start=1)
    )
    assert lhs == rhs
    # perfect reconstruction: invert the pyramid level by level
    cur = [Fraction(sL)]
    for lvl in range(L, 0, -1):
        dl = details[lvl - 1]
        nxt = []
        for k, sv in enumerate(cur):
            d = Fraction(dl[k])
            nxt.append((sv + d) / 2)
            nxt.append((sv - d) / 2)
        cur = nxt
    assert cur == [Fraction(v) for v in vals]


@given(
    vals=st.lists(
        st.integers(min_value=1, max_value=10**9), min_size=1, max_size=200
    ),
    qnum=st.sampled_from([(1, 2), (9, 10), (19, 20), (99, 100)]),
)
@settings(max_examples=200, deadline=None)
def test_ddsketch_relative_error_guarantee(vals, qnum):
    """round9_ddsketch: every value in bucket b = ceil(ln v / ln γ)
    satisfies |2γ^b/(γ+1) − v|/v ≤ (γ−1)/(γ+1) (+ float slop), and the
    exact-integer rank probe returns the bucket CONTAINING the rank-r
    order statistic."""
    import math
    from collections import Counter

    G = 1.02
    LG = math.log(G)
    bound = (G - 1.0) / (G + 1.0)

    def bucket(v):
        return math.ceil(math.log(v) / LG)

    for v in vals:
        b = bucket(v)
        est = 2.0 * G**b / (G + 1.0)
        assert abs(est - v) / v <= bound + 1e-9
    counts = Counter(bucket(v) for v in vals)
    n = len(vals)
    num, den = qnum
    r = (n * num + den - 1) // den
    cum = 0
    probe = None
    for b in sorted(counts):
        cum += counts[b]
        if cum >= r and probe is None:
            probe = b
    true_val = sorted(vals)[r - 1]
    assert probe == bucket(true_val)


@given(
    counts=st.lists(
        st.lists(st.integers(min_value=0, max_value=9), min_size=5, max_size=5),
        min_size=4,
        max_size=4,
    )
)
@settings(max_examples=150, deadline=None)
def test_markov_absorption_bracket_vs_exact_solve(counts):
    """round9_absorb: the quantized truncated-Neumann sweep brackets
    the EXACT fundamental-matrix absorption probability (solved by
    Gaussian elimination over fractions.Fraction): p_q ≤ p* ≤ p_q +
    m_q + sweeps·(states+1) micro slack."""
    from fractions import Fraction

    S = 4  # transient states 0..3; column 4 = absorbing
    SCALE = 10**6
    SWEEPS = 32
    # ensure every transient state has at least one outgoing edge and
    # a path to absorption (give each a direct absorption count +1)
    rows = [list(r) for r in counts]
    for i in range(S):
        rows[i][S] += 1
    tot = [sum(r) for r in rows]

    # quantized sweep (mirrors the SQL/Spark arithmetic exactly)
    r_q = [(rows[i][S] * SCALE) // tot[i] for i in range(S)]
    p = [0] * S
    m = [SCALE] * S
    for _ in range(SWEEPS):
        np_ = [
            r_q[i]
            + sum((rows[i][j] * p[j]) // tot[i] for j in range(S))
            for i in range(S)
        ]
        nm = [
            sum((rows[i][j] * m[j]) // tot[i] for j in range(S))
            for i in range(S)
        ]
        p, m = np_, nm

    # exact solve (I - Q) p* = r over rationals
    A = [
        [
            (Fraction(1) if i == j else Fraction(0))
            - Fraction(rows[i][j], tot[i])
            for j in range(S)
        ]
        + [Fraction(rows[i][S], tot[i])]
        for i in range(S)
    ]
    for col in range(S):  # Gaussian elimination with partial pivot
        piv = max(range(col, S), key=lambda r_: abs(A[r_][col]))
        A[col], A[piv] = A[piv], A[col]
        assert A[col][col] != 0
        for r_ in range(S):
            if r_ != col and A[r_][col] != 0:
                f = A[r_][col] / A[col][col]
                A[r_] = [a - f * b for a, b in zip(A[r_], A[col])]
    p_star = [A[i][S] / A[i][i] for i in range(S)]

    slack = Fraction(SWEEPS * (S + 1), SCALE)
    for i in range(S):
        lo = Fraction(p[i], SCALE)
        hi = Fraction(p[i] + m[i], SCALE) + slack
        assert lo <= p_star[i] <= hi


@given(
    raw_edges=st.sets(
        st.tuples(
            st.integers(min_value=0, max_value=11),
            st.integers(min_value=0, max_value=11),
        ),
        min_size=1,
        max_size=40,
    ),
    weights=st.lists(
        st.integers(min_value=1, max_value=9), min_size=40, max_size=40
    ),
)
@settings(max_examples=200, deadline=None)
def test_boruvka_truncated_equals_kruskal_when_converged(raw_edges, weights):
    """round9_msf: the truncated Borůvka procedure (MSF_ROUNDS rounds,
    MSF_PROP propagation sweeps, strict (-w, u, v) order) equals
    Kruskal's unique MSF whenever its own convergence witness holds (no
    cross edges remaining + tree_check), and every round-1 chosen edge
    is in the true MSF unconditionally (cut property)."""
    from big_data_virus_analysis_spark.plans.round9_msf import (
        MSF_PROP,
        MSF_ROUNDS,
    )

    edges = sorted(
        (min(a, b), max(a, b)) for a, b in raw_edges if a != b
    )
    if not edges:
        return
    E = [(u, v, w) for (u, v), w in zip(edges, weights)]
    nodes = sorted({n for u, v, _ in E for n in (u, v)})

    # Kruskal under the strict total order (-w, u, v)
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    kruskal = set()
    for u, v, w in sorted(E, key=lambda e: (-e[2], e[0], e[1])):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            kruskal.add((u, v, w))

    # truncated Borůvka (mirrors the query arithmetic)
    lbl = {n: n for n in nodes}
    forest = set()
    round1_chosen = None
    converged = True
    for rnd in range(1, MSF_ROUNDS + 1):
        cross = [(u, v, w) for u, v, w in E if lbl[u] != lbl[v]]
        if rnd == MSF_ROUNDS and cross:
            converged = False
        best = {}
        for u, v, w in cross:
            for comp in (lbl[u], lbl[v]):
                key = (-w, u, v)
                if comp not in best or key < best[comp]:
                    best[comp] = key
        chosen = {(u, v, -nw) for nw, u, v in best.values()}
        if rnd == 1:
            round1_chosen = set(chosen)
        forest |= chosen
        for _ in range(MSF_PROP):
            new = dict(lbl)
            for u, v, _ in forest:
                m = min(lbl[u], lbl[v])
                new[u] = min(new[u], m)
                new[v] = min(new[v], m)
            lbl = new
    n_comp = len(set(lbl.values()))
    tree_check = len(forest) == len(nodes) - n_comp
    remaining = [(u, v) for u, v, _ in E if lbl[u] != lbl[v]]

    assert round1_chosen <= kruskal  # cut property, unconditional
    if converged and tree_check and not remaining:
        assert forest == kruskal


@given(
    ys=st.lists(
        st.integers(min_value=0, max_value=10**7), min_size=8, max_size=60
    )
)
@settings(max_examples=200, deadline=None)
def test_ransac_integer_predicate_and_selection(ys):
    """round9_ransac: the cross-multiplied integer inlier predicate
    equals |y − (a + b·x)| ≤ tol in exact Fractions, and the
    (inliers desc, cand asc) winner matches a brute-force RANSAC
    replay with the same hash draws."""
    from fractions import Fraction

    n = len(ys)
    pts = list(enumerate(ys, start=1))
    tol = (sum(ys) // n) // 10
    MULT = 2654435761
    results = []
    for cand in range(1, 17):
        i1 = (cand * MULT) % n + 1
        i2 = ((2 * cand + 1) * MULT) % n + 1
        if i1 == i2:
            continue
        x1, x2 = min(i1, i2), max(i1, i2)
        y1, y2 = ys[x1 - 1], ys[x2 - 1]
        n_in = 0
        for x, y in pts:
            lhs = abs((y - y1) * (x2 - x1) - (x - x1) * (y2 - y1))
            ok_int = lhs <= tol * (x2 - x1)
            # textbook form in exact rationals
            b = Fraction(y2 - y1, x2 - x1)
            resid = abs(Fraction(y) - (Fraction(y1) + b * (x - x1)))
            ok_frac = resid <= Fraction(tol)
            assert ok_int == ok_frac
            n_in += ok_int
        results.append((cand, n_in))
    if results:
        best_brute = min(results, key=lambda r: (-r[1], r[0]))[0]
        ranked = sorted(results, key=lambda r: (-r[1], r[0]))[0][0]
        assert best_brute == ranked


@given(
    groups=st.lists(
        st.lists(
            st.integers(min_value=0, max_value=10**6),
            min_size=2,
            max_size=20,
        ),
        min_size=4,
        max_size=8,
    )
)
@settings(max_examples=200, deadline=None)
def test_james_stein_shrinkage_properties(groups):
    """round9_eb: B+ ∈ [0,1], shrunk means lie between each raw mean
    and the grand mean (and hence inside the raw-mean hull), and
    B+ = 1 leaves the means untouched."""
    k = len(groups)
    xbars = [sum(g) / len(g) for g in groups]
    vmeans = [
        (sum(v * v for v in g) - sum(g) ** 2 / len(g))
        / (len(g) - 1)
        / len(g)
        for g in groups
    ]
    gbar = sum(xbars) / k
    ss = sum((x - gbar) ** 2 for x in xbars)
    if ss == 0:
        return
    vavg = sum(vmeans) / k
    b = max(0.0, 1.0 - (k - 3) * vavg / ss)
    assert 0.0 <= b <= 1.0
    for x in xbars:
        shr = gbar + b * (x - gbar)
        lo, hi = min(x, gbar), max(x, gbar)
        assert lo - 1e-9 <= shr <= hi + 1e-9
    if b == 1.0:
        for x in xbars:
            assert gbar + b * (x - gbar) == pytest.approx(x)


@given(
    counts=st.lists(
        st.integers(min_value=1, max_value=12), min_size=2, max_size=80
    )
)
@settings(max_examples=200, deadline=None)
def test_good_turing_invariants(counts):
    """round9_eb: Σ r·N_r == N exactly, every r* is non-negative, and
    the re-estimated total mass Σ r*·N_r/N over classes with a
    successor never exceeds 1 (GT moves mass down, never creates it)."""
    from collections import Counter
    from fractions import Fraction

    fof = Counter(counts)  # token-count -> N_r
    N = sum(r * n for r, n in fof.items())
    assert N == sum(counts)
    total_restimated = Fraction(0)
    for r, n_r in fof.items():
        n_r1 = fof.get(r + 1, 0)
        r_star = Fraction((r + 1) * n_r1, n_r)
        assert r_star >= 0
        total_restimated += r_star * Fraction(n_r, N)
    assert total_restimated <= 1


@given(
    cohort=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),
            st.integers(min_value=0, max_value=2),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=200, deadline=None)
def test_aalen_johansen_identity_exact(cohort):
    """round9_surv2: the Aalen-Johansen recursion (per event time:
    CIF_k += S(prev)*d_k/n, S *= 1-(d1+d2)/n) satisfies
    S + CIF1 + CIF2 + (censored-mass correction) ... specifically
    S(t) + CIF1(t) + CIF2(t) = 1 EXACTLY (in Fractions) at every
    event time when computed on the at-risk counts, and each CIF is
    non-decreasing with CIF_k <= 1 - S."""
    from collections import defaultdict
    from fractions import Fraction

    times = defaultdict(lambda: [0, 0, 0])  # t -> [d1, d2, c_total]
    for t, cause in cohort:
        times[t][2] += 1
        if cause in (1, 2):
            times[t][cause - 1] += 1
    S = Fraction(1)
    cif1 = Fraction(0)
    cif2 = Fraction(0)
    n_risk = len(cohort)
    prev1, prev2 = cif1, cif2
    for t in sorted(times):
        d1, d2, c = times[t]
        if d1 + d2 > 0:
            s_prev = S
            cif1 += s_prev * Fraction(d1, n_risk)
            cif2 += s_prev * Fraction(d2, n_risk)
            S *= 1 - Fraction(d1 + d2, n_risk)
            assert cif1 >= prev1 and cif2 >= prev2
            prev1, prev2 = cif1, cif2
            # identity holds exactly when no censoring has occurred
            # YET; with interleaved censoring S+CIFs < 1 is expected,
            # so assert the one-sided bound plus exactness when all
            # mass is accounted for
            assert S + cif1 + cif2 <= 1
            assert cif1 <= 1 - S + cif2 + Fraction(1, 10**12)
        n_risk -= c
    # fully-uncensored cohorts: the identity is exact at the end
    if all(cause in (1, 2) for _, cause in cohort):
        assert S + cif1 + cif2 == 1


@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=10**6), min_size=30, max_size=80
    )
)
@settings(max_examples=200, deadline=None)
def test_ftl_regret_replay_and_bound(vals):
    """round9_regret: the column recursion (cumulative ledgers + the
    strictly-before-today leader choice, ties toward the shorter
    expert) equals a pure-Python game replay, and regret ≤
    max-single-round loss · (#leader switches + 1)."""
    n = len(vals)
    rows = []
    for i in range(n):
        if i < 28:
            continue
        p1 = vals[i - 1]
        p2 = sum(vals[i - 7 : i]) // 7
        p3 = sum(vals[i - 28 : i]) // 28
        rows.append(
            (abs(vals[i] - p1), abs(vals[i] - p2), abs(vals[i] - p3))
        )
    if not rows:
        return
    c = [0, 0, 0]
    ftl = 0
    switches = 0
    prev_leader = None
    max_loss = 0
    for l1, l2, l3 in rows:
        if c[0] <= c[1] and c[0] <= c[2]:
            k = 0
        elif c[1] <= c[2]:
            k = 1
        else:
            k = 2
        if prev_leader is not None and k != prev_leader:
            switches += 1
        prev_leader = k
        ftl += (l1, l2, l3)[k]
        max_loss = max(max_loss, l1, l2, l3)
        c[0] += l1
        c[1] += l2
        c[2] += l3
    totals = c
    regret = ftl - min(totals)
    # column-recursion equivalence: recompute via prefix ledgers
    c2 = [0, 0, 0]
    ftl2 = 0
    for l1, l2, l3 in rows:
        ll = (l1, l2, l3)
        if c2[0] <= c2[1] and c2[0] <= c2[2]:
            ftl2 += ll[0]
        elif c2[1] <= c2[2]:
            ftl2 += ll[1]
        else:
            ftl2 += ll[2]
        c2 = [a + b for a, b in zip(c2, ll)]
    assert ftl == ftl2 and c2 == totals
    assert regret <= max_loss * (switches + 1)


# --------------------------------------------------------------------------
# round-10 DAG-scheduling pack (plans/round10_dag.py)
# --------------------------------------------------------------------------


def _topo_dp(n, edges):
    """Exact longest-path DP over nodes 0..n-1, edges (u, v, w) with
    u < v (topological by id): returns (lvl, dist) dicts."""
    lvl = {x: 0 for x in range(n)}
    dist = {x: 0 for x in range(n)}
    for v in range(n):
        for u, vv, w in edges:
            if vv == v:
                lvl[v] = max(lvl[v], lvl[u] + 1)
                dist[v] = max(dist[v], dist[u] + w)
    return lvl, dist


@given(
    raw=st.sets(
        st.tuples(
            st.integers(min_value=0, max_value=11),
            st.integers(min_value=0, max_value=11),
        ),
        min_size=1,
        max_size=40,
    ),
    weights=st.lists(
        st.integers(min_value=1, max_value=9), min_size=40, max_size=40
    ),
    rounds=st.integers(min_value=1, max_value=6),
)
@settings(max_examples=200, deadline=None)
def test_dag_relaxation_equals_topo_dp_when_converged(raw, weights, rounds):
    """round10_dag: the bounded union-max relaxation (the
    dag_topo_levels_dup / dag_critical_path_dup recurrence) equals the
    exact topological DP WHENEVER its own no-move witness holds, and
    the witness always holds once rounds exceed the DAG depth."""
    edges = [
        (min(a, b), max(a, b), w)
        for (a, b), w in zip(sorted(raw), weights)
        if a != b
    ]
    if not edges:
        return
    n = 12
    lvl = {x: 0 for x in range(n)}
    dist = {x: 0 for x in range(n)}
    moves_last = None
    for _ in range(rounds):
        new_lvl, new_dist = dict(lvl), dict(dist)
        for u, v, w in edges:
            new_lvl[v] = max(new_lvl[v], lvl[u] + 1)
            new_dist[v] = max(new_dist[v], dist[u] + w)
        moves_last = sum(
            1
            for x in range(n)
            if (new_lvl[x], new_dist[x]) != (lvl[x], dist[x])
        )
        lvl, dist = new_lvl, new_dist
    exact_lvl, exact_dist = _topo_dp(n, edges)
    depth = max(exact_lvl.values())
    if moves_last == 0:
        assert lvl == exact_lvl and dist == exact_dist
    if rounds > depth:
        assert moves_last == 0


@given(
    ws=st.lists(
        st.integers(min_value=1, max_value=50), min_size=2, max_size=60
    )
)
@settings(max_examples=200, deadline=None)
def test_cpm_folds_match_topo_dp_and_slack_invariants(ws):
    """round10_dag: the forward/backward CPM folds (task t's parents
    are t div 2 and t div 3; children {2t, 2t+1, 3t, 3t+1, 3t+2})
    reproduce the exact topological DP, the witness sweep moves
    nothing once sweeps exceed depth, and the schedule satisfies the
    textbook invariants: slack >= 0, min slack == 0, makespan ==
    max finish, and every critical task chains to a critical parent
    achieving its est."""
    n = len(ws)
    w = {t: ws[t - 1] for t in range(1, n + 1)}

    def parents(t):
        ps = {t // 2}
        if t >= 3:
            ps.add(t // 3)
        return sorted(p for p in ps if p >= 1)

    # exact forward DP in topological (id) order
    est_exact = {1: 0}
    for t in range(2, n + 1):
        est_exact[t] = max(est_exact[p] + w[p] for p in parents(t))
    depth = {1: 0}
    for t in range(2, n + 1):
        depth[t] = 1 + max(depth[p] for p in parents(t))
    sweeps = max(depth.values()) + 1  # fold budget: depth + witness

    def fwd_sweep(prev):
        out = {1: 0}
        for t in range(2, n + 1):
            out[t] = max(prev[p] + w[p] for p in parents(t))
        return out

    est = {t: 0 for t in range(1, n + 1)}
    for _ in range(sweeps):
        est = fwd_sweep(est)
    est_wit = fwd_sweep(est)
    assert est_wit == est  # fixpoint proven by the witness sweep
    assert est == est_exact

    mk = max(est[t] + w[t] for t in est)

    def children(t):
        return [
            c
            for c in (2 * t, 2 * t + 1, 3 * t, 3 * t + 1, 3 * t + 2)
            if 2 <= c <= n
        ]

    def bwd_sweep(prev):
        return {
            t: min([mk] + [prev[c] - w[c] for c in children(t)])
            for t in range(1, n + 1)
        }

    lft = {t: mk for t in range(1, n + 1)}
    for _ in range(sweeps):
        lft = bwd_sweep(lft)
    assert bwd_sweep(lft) == lft

    slack = {t: (lft[t] - w[t]) - est[t] for t in range(1, n + 1)}
    assert all(s >= 0 for s in slack.values())
    assert min(slack.values()) == 0
    assert mk == max(est[t] + w[t] for t in range(1, n + 1))
    for t in range(2, n + 1):
        if slack[t] == 0:
            assert any(
                slack[p] == 0 and est[t] == est[p] + w[p]
                for p in parents(t)
            )


# --------------------------------------------------------------------------
# round-10 makespan-scheduling pack (plans/round10_sched.py)
# --------------------------------------------------------------------------


def _list_schedule(jobs, m):
    """The query fold: each job to the FIRST least-loaded machine."""
    loads = [0] * m
    for j in jobs:
        k = loads.index(min(loads))
        loads[k] += j
    return loads


def _opt_makespan(jobs, m):
    """Exact OPT by exhaustive assignment (tiny instances only)."""
    best = [sum(jobs)]

    def rec(i, loads):
        if max(loads) >= best[0]:
            return
        if i == len(jobs):
            best[0] = max(loads)
            return
        seen = set()
        for k in range(m):
            if loads[k] in seen:
                continue  # symmetric machine states prune
            seen.add(loads[k])
            loads[k] += jobs[i]
            rec(i + 1, loads)
            loads[k] -= jobs[i]

    rec(0, [0] * m)
    return best[0]


@given(
    jobs=st.lists(
        st.integers(min_value=1, max_value=40), min_size=1, max_size=9
    ),
    m=st.integers(min_value=2, max_value=3),
)
@settings(max_examples=150, deadline=None)
def test_list_scheduling_guarantees_vs_brute_force_opt(jobs, m):
    """round10_sched: on brute-forceable instances the fold respects
    the classical guarantees — LPT <= (4/3 - 1/(3m))*OPT, arrival
    order <= (2 - 1/m)*OPT — and both emitted lower bounds never
    exceed OPT."""
    opt = _opt_makespan(jobs, m)
    lb_avg = -(-sum(jobs) // m)
    lb_max = max(jobs)
    assert lb_avg <= opt and lb_max <= opt

    lpt = max(_list_schedule(sorted(jobs, reverse=True), m))
    online = max(_list_schedule(jobs, m))
    # integer-safe forms of the rational bounds
    assert lpt * 3 * m <= (4 * m - 1) * opt
    assert online * m <= (2 * m - 1) * opt
    assert lpt >= opt and online >= opt


def test_list_schedule_first_index_tie_break_matches_engines():
    """round10_sched: the python replication's loads.index(min(...))
    is exactly the engines' array_position(acc, array_min(acc))
    first-occurrence rule — pinned on a tie-heavy instance."""
    jobs = [5, 5, 5, 3, 3, 2]
    # manual fold with explicit first-min scanning
    loads = [0, 0, 0]
    expect = []
    for j in jobs:
        mn = min(loads)
        k = next(i for i, v in enumerate(loads) if v == mn)
        loads[k] += j
        expect.append(tuple(loads))
    assert tuple(loads) == tuple(_list_schedule(jobs, 3))
    # ties landed on the FIRST machine each time
    assert expect[0] == (5, 0, 0) and expect[1] == (5, 5, 0)


# --------------------------------------------------------------------------
# round-10 per-key replay pack (plans/round10_replay.py)
# --------------------------------------------------------------------------


@given(
    raw=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=1, max_value=20),
        ),
        min_size=1,
        max_size=10,
    )
)
@settings(max_examples=200, deadline=None)
def test_eft_greedy_is_optimal_nonoverlap(raw):
    """round10_replay: the earliest-finish-time fold (the
    interval_greedy_sessions recurrence, half-open [st, fin)
    non-overlap) equals the brute-force maximum non-overlapping
    subset — the classical optimality theorem, exercised on the exact
    fold arithmetic."""
    ivs = sorted((s + d, s) for s, d in raw)
    last, cnt = -1, 0
    for fin, st_ in ivs:
        if st_ >= last:
            last, cnt = fin, cnt + 1

    best = 0
    n = len(ivs)
    for mask in range(1 << n):
        chosen = [ivs[i] for i in range(n) if mask >> i & 1]
        chosen.sort(key=lambda fs: fs[1])
        ok = all(
            chosen[i + 1][1] >= chosen[i][0]
            for i in range(len(chosen) - 1)
        )
        if ok:
            best = max(best, len(chosen))
    assert cnt == best


@given(
    gaps=st.lists(
        st.integers(min_value=0, max_value=40_000_000),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=200, deadline=None)
def test_token_bucket_conservation_and_bounds(gaps):
    """round10_replay: the token-bucket fold conserves events
    (allowed + rejected == n), never overdraws (balance stays in
    [0, CAP]), and is monotone in the refill rate."""
    from big_data_virus_analysis_spark.plans.round10_replay import (
        TB_CAP_MICRO,
    )

    def replay(rate):
        ts0, tok, alw, rej = 0, TB_CAP_MICRO, 0, 0
        t = 0
        for g in gaps:
            t += g
            tok = min(TB_CAP_MICRO, tok + ((t - ts0) * rate) // 1_000_000)
            assert 0 <= tok <= TB_CAP_MICRO
            if tok >= 1_000_000:
                tok, alw = tok - 1_000_000, alw + 1
            else:
                rej += 1
            assert 0 <= tok <= TB_CAP_MICRO
            ts0 = t
        return alw, rej

    a1, r1 = replay(120)
    assert a1 + r1 == len(gaps)
    a2, r2 = replay(240)
    assert a2 >= a1  # more refill can only allow more


# --------------------------------------------------------------------------
# round-10 DP pack (plans/round10_dp.py)
# --------------------------------------------------------------------------


def _lis_fold_py(v, cmp):
    dp = []
    for i, x in enumerate(v):
        best = 0
        for j in range(i):
            if cmp(v[j], x) and dp[j] > best:
                best = dp[j]
        dp.append(1 + best)
    return max(dp) if dp else 0


@given(
    v=st.lists(
        st.integers(min_value=0, max_value=30), min_size=1, max_size=40
    )
)
@settings(max_examples=200, deadline=None)
def test_lis_fold_matches_patience_sorting(v):
    """round10_dp: the appending DP fold equals the O(n log n)
    patience-sorting LIS length (strict increase)."""
    import bisect

    tails = []
    for x in v:
        k = bisect.bisect_left(tails, x)
        if k == len(tails):
            tails.append(x)
        else:
            tails[k] = x
    assert _lis_fold_py(v, lambda a, b: a < b) == len(tails)


@given(
    v=st.lists(
        st.integers(min_value=0, max_value=10**6),
        min_size=1,
        max_size=40,
        unique=True,
    )
)
@settings(max_examples=200, deadline=None)
def test_erdos_szekeres_bound_on_distinct(v):
    """round10_dp: lis * lds >= n for distinct-valued sequences (the
    es_product/es_bound_ok columns' theorem)."""
    lis = _lis_fold_py(v, lambda a, b: a < b)
    lds = _lis_fold_py(v, lambda a, b: a > b)
    assert lis * lds >= len(v)


def _dtw_fold_py(a, b):
    prev = None
    for i in range(1, len(a) + 1):
        row = []
        for j in range(1, len(b) + 1):
            c = abs(a[i - 1] - b[j - 1])
            if i == 1 and j == 1:
                c += 0
            elif i == 1:
                c += row[j - 2]
            elif j == 1:
                c += prev[0]
            else:
                c += min(prev[j - 1], row[j - 2], prev[j - 2])
            row.append(c)
        prev = row
    return prev[-1]


@given(
    a=st.lists(st.integers(min_value=0, max_value=9), min_size=1, max_size=5),
    b=st.lists(st.integers(min_value=0, max_value=9), min_size=1, max_size=5),
)
@settings(max_examples=150, deadline=None)
def test_dtw_fold_matches_bruteforce_paths(a, b):
    """round10_dp: the nested DTW fold equals brute-force minimization
    over all monotone alignment paths, is symmetric, and is zero on
    identical inputs."""
    import functools

    @functools.lru_cache(maxsize=None)
    def brute(i, j):
        c = abs(a[i] - b[j])
        if i == 0 and j == 0:
            return c
        cands = []
        if i > 0:
            cands.append(brute(i - 1, j))
        if j > 0:
            cands.append(brute(i, j - 1))
        if i > 0 and j > 0:
            cands.append(brute(i - 1, j - 1))
        return c + min(cands)

    assert _dtw_fold_py(a, b) == brute(len(a) - 1, len(b) - 1)
    assert _dtw_fold_py(a, b) == _dtw_fold_py(b, a)
    assert _dtw_fold_py(a, a) == 0


# --------------------------------------------------------------------------
# round-10 HyperLogLog pack (plans/round10_hll.py)
# --------------------------------------------------------------------------


def _hll_py(items):
    """Pure-Python replication of the engines' exact-integer HLL."""
    import hashlib

    from big_data_virus_analysis_spark.plans.round10_hll import (
        HLL_M,
        HLL_NUMERATOR,
        HLL_SHIFT,
    )

    reg: dict[int, int] = {}
    for it in items:
        h = hashlib.md5(str(it).encode()).hexdigest()
        bucket = int(h[0:3], 16)
        v = int(h[3:16], 16)
        rho = 53 if v == 0 else 53 - len(bin(v)) - (-2)  # see below
        # bin(v) includes '0b': effective length = len(bin(v)) - 2
        rho = 53 if v == 0 else 53 - (len(bin(v)) - 2)
        reg[bucket] = max(reg.get(bucket, 0), rho)
    s = sum(1 << (HLL_SHIFT - r) for r in reg.values())
    s += (HLL_M - len(reg)) * (1 << HLL_SHIFT)
    est_micro = HLL_NUMERATOR // s
    return reg, est_micro // 1_000_000


@given(
    n=st.integers(min_value=1, max_value=5000),
    seed=st.integers(min_value=0, max_value=10**6),
)
@settings(max_examples=30, deadline=None)
def test_hll_replication_and_merge_theorem(n, seed):
    """round10_hll: per-shard max-merged registers equal whole-set
    registers on random shardings (the mergeability theorem the audit
    query emits), and the estimate is deterministic in the item SET
    (duplicates and order cannot move a max-of-rho register)."""
    items = [f"tok_{seed}_{i}" for i in range(n)]
    reg_all, est_all = _hll_py(items)
    # shard by a hash-independent rule, merge by max
    shards = [items[0::3], items[1::3], items[2::3]]
    merged: dict[int, int] = {}
    for sh in shards:
        r, _ = _hll_py(sh)
        for b, v in r.items():
            merged[b] = max(merged.get(b, 0), v)
    assert merged == reg_all
    # duplicates + permutation invariance
    _, est_dup = _hll_py(items * 2 + items[::-1])
    assert est_dup == est_all


def test_hll_error_within_3sigma_on_large_sets():
    """round10_hll: ABOVE the linear-counting handoff (n >= 2.5m,
    where raw HLL is the operative estimator and the query's
    above_lc_cutoff column reads true) the integer-exact estimate
    lands within the emitted 3-sigma bound.  Below 2.5m raw HLL is
    biased high by design — that is exactly why the handoff exists,
    and why the query emits the cutoff flag next to the bound check."""
    from big_data_virus_analysis_spark.plans.round10_hll import (
        HLL_3SIGMA_1E5,
    )

    for n in (12_000, 40_000, 160_000):
        _, est = _hll_py(f"item_{i}" for i in range(n))
        assert abs(est - n) * 100_000 <= HLL_3SIGMA_1E5 * n, (n, est)


# --------------------------------------------------------------------------
# round-10 computational-geometry pack (plans/round10_geo.py)
# --------------------------------------------------------------------------


def _cross(o, a, b):
    return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])


def _monotone_chain(pts):
    """Andrew's monotone chain, vertex-minimal (strict turns only).
    Returns the CCW vertex cycle starting at the lexicographic min."""
    pts = sorted(set(pts))
    if len(pts) <= 2:
        return pts
    lower, upper = [], []
    for p in pts:
        while len(lower) >= 2 and _cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    for p in reversed(pts):
        while len(upper) >= 2 and _cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    return lower[:-1] + upper[:-1]


def _hull_edges_predicate(pts):
    """The engine/oracle spelling: directed edge p->q is on the hull
    iff every other point is strictly CCW of it or strictly inside
    the segment (round10_geo's all-witness predicate)."""
    pts = sorted(set(pts))
    edges = set()
    for p in pts:
        for q in pts:
            if p == q:
                continue
            ok = True
            for r in pts:
                if r in (p, q):
                    continue
                c = _cross(p, q, r)
                if c > 0:
                    continue
                if c == 0:
                    dot = (q[0] - p[0]) * (r[0] - p[0]) + (
                        q[1] - p[1]
                    ) * (r[1] - p[1])
                    l2 = (q[0] - p[0]) ** 2 + (q[1] - p[1]) ** 2
                    if 0 < dot < l2:
                        continue
                ok = False
                break
            if ok:
                edges.add((p, q))
    return edges


@given(
    raw=st.lists(
        st.tuples(
            st.integers(min_value=-20, max_value=20),
            st.integers(min_value=-20, max_value=20),
        ),
        min_size=3,
        max_size=16,
    )
)
@settings(max_examples=200, deadline=None)
def test_hull_edge_predicate_equals_monotone_chain(raw):
    """round10_geo: the all-witness edge predicate (the engine AND
    oracle spelling) yields exactly the CCW edge cycle of Andrew's
    monotone chain — on random integer sets including collinear runs
    and duplicates."""
    pts = sorted(set(raw))
    if len(pts) < 3:
        return
    hull = _monotone_chain(pts)
    if len(hull) < 3:
        # all points collinear: the vertex-minimal "hull" is the
        # extreme segment; the predicate emits both directed edges
        edges = _hull_edges_predicate(pts)
        if len(hull) == 2:
            assert edges == {(hull[0], hull[1]), (hull[1], hull[0])}
        return
    expect = {
        (hull[i], hull[(i + 1) % len(hull)]) for i in range(len(hull))
    }
    assert _hull_edges_predicate(pts) == expect


def test_hull_predicate_on_planted_square():
    """round10_geo: square corners win; interior, edge-collinear and
    duplicate points are excluded from the vertex-minimal hull."""
    corners = [(0, 0), (4, 0), (4, 4), (0, 4)]
    noise = [(2, 2), (2, 0), (0, 2), (4, 2), (2, 4), (0, 0), (2, 2)]
    edges = _hull_edges_predicate(corners + noise)
    assert edges == {
        ((0, 0), (4, 0)),
        ((4, 0), (4, 4)),
        ((4, 4), (0, 4)),
        ((0, 4), (0, 0)),
    }


@given(
    raw=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=2,
        max_size=24,
    )
)
@settings(max_examples=200, deadline=None)
def test_strip_prune_never_loses_the_closest_pair(raw):
    """round10_geo: the closest pair always survives the strip prune —
    d0 from x-sorted rank-adjacent pairs bounds the true min, and the
    band |x1-x2|^2 <= d0 contains every optimal pair (the
    closest_pair_strip two-phase vs the oracle's brute force)."""
    pts = sorted(set(raw))
    if len(pts) < 2:
        return
    d2 = lambda a, b: (a[0] - b[0]) ** 2 + (a[1] - b[1]) ** 2  # noqa: E731
    srt = sorted(pts)
    d0 = min(d2(srt[i], srt[i + 1]) for i in range(len(srt) - 1))
    brute = min(
        d2(a, b) for i, a in enumerate(pts) for b in pts[i + 1 :]
    )
    strip = min(
        d2(a, b)
        for i, a in enumerate(pts)
        for b in pts[i + 1 :]
        if (a[0] - b[0]) ** 2 <= d0
    )
    assert d0 >= brute
    assert strip == brute


# --------------------------------------------------------------------------
# round-10 online-decision pack (plans/round10_online.py)
# --------------------------------------------------------------------------


def _kadane(devs):
    """The engine fold: restart on cur < 0, best updates on strict >.
    Returns (best, start_idx, end_idx), 1-based inclusive."""
    i = cur = 0
    cs, best, bs, be = 1, None, 0, 0
    for d in devs:
        i += 1
        new_cur = d if cur < 0 else cur + d
        new_cs = i if cur < 0 else cs
        if best is None or new_cur > best:
            best, bs, be = new_cur, new_cs, i
        cur, cs = new_cur, new_cs
    return best, bs, be


@given(
    devs=st.lists(
        st.integers(min_value=-30, max_value=30), min_size=1, max_size=20
    )
)
@settings(max_examples=300, deadline=None)
def test_kadane_fold_matches_bruteforce_with_tie_rules(devs):
    """round10_online: the Kadane fold equals the brute O(n^2) max
    subarray under the documented tie rules (max sum, then earliest
    end, then earliest start) — the same rules the oracle's
    prefix-sum identity implements."""
    best = None
    for j in range(1, len(devs) + 1):
        for i in range(1, j + 1):
            s = sum(devs[i - 1 : j])
            if best is None or s > best[0]:
                best = (s, i, j)
    kb, ks, ke = _kadane(devs)
    assert (kb, ks, ke) == (best[0], best[1], best[2]) or (
        kb == best[0]
        and ke <= best[2]
        and sum(devs[ks - 1 : ke]) == kb
    )
    # the strict form: recompute brute with (sum desc, end asc,
    # start asc) and require exact equality
    cands = [
        (sum(devs[i - 1 : j]), j, i)
        for j in range(1, len(devs) + 1)
        for i in range(1, j + 1)
    ]
    s, j, i = max(cands, key=lambda t: (t[0], -t[1], -t[2]))
    assert (kb, ke, ks) == (s, j, i)


def _stock_spans(vals):
    """O(n) monotonic-stack replay (the pytest twin of the engine's
    last-strictly-greater join)."""
    spans, stack = [], []  # stack: (value, index)
    for i, v in enumerate(vals, 1):
        while stack and stack[-1][0] <= v:
            stack.pop()
        spans.append(i - (stack[-1][1] if stack else 0))
        stack.append((v, i))
    return spans


@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=15), min_size=1, max_size=30
    )
)
@settings(max_examples=300, deadline=None)
def test_stock_span_stack_equals_last_greater_join(vals):
    """round10_online: the monotonic-stack replay equals the engine's
    definition span_i = i - max{j < i : v_j > v_i} (0 when none)."""
    expect = []
    for i, v in enumerate(vals, 1):
        lg = max(
            (j for j in range(1, i) if vals[j - 1] > v), default=0
        )
        expect.append(i - lg)
    assert _stock_spans(vals) == expect


@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=100),
        min_size=1,
        max_size=30,
        unique=True,
    ),
    obs_millis=st.sampled_from([370]),
)
@settings(max_examples=300, deadline=None)
def test_secretary_replay_identities(vals, obs_millis):
    """round10_online: the 1/e-rule replay — picked exists iff some
    post-observation value strictly beats the observed max, and
    success iff the FIRST such value is the global max."""
    n = len(vals)
    r = -(-n * obs_millis // 1000)  # ceil
    thr = max(vals[:r]) if r else None
    later = vals[r:]
    picked = next((v for v in later if v > thr), None)
    success = picked is not None and picked == max(vals)
    # identity 1: no pick iff the observed max dominates the rest
    assert (picked is None) == (not later or max(later) <= thr)
    # identity 2: if the global max sits inside the observation
    # window it can never be picked
    if vals.index(max(vals)) < r:
        assert not success
    # identity 3: success iff the first post-window record-breaker is
    # the global argmax
    if picked is not None:
        assert success == (picked == max(vals))


@given(v=st.integers(min_value=1, max_value=200))
@settings(max_examples=200, deadline=None)
def test_ski_rental_break_even_bound(v):
    """round10_online: break-even rent-then-buy costs v below B and
    2B-1 from B on, the offline optimum is min(v, B), and the ratio
    never exceeds (2B-1)/B — checked in integers (cross-multiplied)."""
    from big_data_virus_analysis_spark.plans.round10_online import SKI_B

    b = SKI_B
    # day-by-day simulation of the break-even strategy
    cost = 0
    for day in range(1, v + 1):
        if day < b:
            cost += 1  # rent
        else:
            cost += b  # buy on day B
            break
    online = v if v <= b - 1 else (b - 1) + b
    assert cost == online
    opt = min(v, b)
    assert online * b <= (2 * b - 1) * opt


# --------------------------------------------------------------------------
# round-10 due-date scheduling pack (plans/round10_sched2.py)
# --------------------------------------------------------------------------


def _lmax(seq):
    """Max lateness of (p, due) jobs in the given order."""
    t, worst = 0, None
    for p, due in seq:
        t += p
        worst = t - due if worst is None else max(worst, t - due)
    return worst


@given(
    jobs=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=20),
            st.integers(min_value=1, max_value=60),
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=200, deadline=None)
def test_edd_minimizes_max_lateness(jobs):
    """round10_sched2: Jackson's rule — EDD's Lmax is minimal over
    ALL permutations on brute-forceable instances, hence <= the
    arrival and SPT orderings the audit emits."""
    from itertools import permutations

    edd = _lmax(sorted(jobs, key=lambda j: (j[1], j[0])))
    opt = min(_lmax(perm) for perm in permutations(jobs))
    assert edd == opt
    assert edd <= _lmax(jobs)
    assert edd <= _lmax(sorted(jobs, key=lambda j: (j[0], j[1])))


def _moore_hodgson(jobs):
    """The engine fold: EDD walk, eject the largest accepted p on
    overshoot.  jobs = [(p, due)] already EDD-sorted.  Returns
    (kept_sorted, total, dropped, invariant_ok)."""
    lst, tot, dropped, ok = [], 0, 0, True
    for p, due in jobs:
        if tot + p <= due:
            lst = sorted(lst + [p])
            tot += p
        else:
            merged = sorted(lst + [p])
            tot = tot + p - merged[-1]
            lst = merged[:-1]
            dropped += 1
            ok = ok and tot <= due
    return lst, tot, dropped, ok


@given(
    jobs=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=15),
            st.integers(min_value=1, max_value=50),
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=200, deadline=None)
def test_moore_hodgson_is_optimal_and_feasible(jobs):
    """round10_sched2: the fold's on-time count equals the brute-force
    maximum feasible subset (a set is feasible iff EDD-sequencing it
    meets every due date — the classical reduction), and the emitted
    step invariant always holds."""
    from itertools import combinations

    edd = sorted(jobs, key=lambda j: (j[1], j[0]))

    def feasible(sub):
        t = 0
        for p, due in sorted(sub, key=lambda j: (j[1], j[0])):
            t += p
            if t > due:
                return False
        return True

    brute = max(
        (len(sub) for k in range(len(jobs) + 1)
         for sub in combinations(jobs, k) if feasible(sub)),
        default=0,
    )
    lst, tot, dropped, ok = _moore_hodgson(edd)
    assert len(lst) == brute
    assert len(lst) + dropped == len(jobs)
    assert tot == sum(lst)
    assert ok


# --------------------------------------------------------------------------
# round-10 cache-replacement pack (plans/round10_cache.py)
# --------------------------------------------------------------------------


def _mattson_distances(seq):
    """Move-to-front recency-list replay (the engine fold): returns
    the stack distance per access (None = cold miss)."""
    lst, out = [], []
    for t in seq:
        if t in lst:
            d = lst.index(t) + 1
            out.append(d)
            lst.remove(t)
        else:
            out.append(None)
        lst.insert(0, t)
    return out


def _lru_sim_hits(seq, k):
    """Direct LRU simulation at one fixed cache size."""
    lst, hits = [], 0
    for t in seq:
        if t in lst:
            hits += 1
            lst.remove(t)
        lst.insert(0, t)
        lst = lst[:k]
    return hits


def _belady_hits(seq, k):
    """Clairvoyant OPT replay with the pack's unique next-use keys."""
    n = len(seq)
    nxt, last = [0] * n, {}
    for i in range(n - 1, -1, -1):
        nxt[i] = last.get(seq[i], 1_000_000 + (i + 1))
        last[seq[i]] = i + 1
    cache, hits = {}, 0
    for i, t in enumerate(seq):
        if t in cache:
            hits += 1
        elif len(cache) >= k:
            victim = max(cache, key=lambda q: cache[q])
            del cache[victim]
        cache[t] = nxt[i]
    return hits


@given(
    seq=st.lists(
        st.integers(min_value=1, max_value=5), min_size=1, max_size=60
    ),
    k=st.integers(min_value=1, max_value=5),
)
@settings(max_examples=300, deadline=None)
def test_mattson_curve_equals_direct_lru_simulation(seq, k):
    """round10_cache: hits at cache size k from the stack-distance
    histogram (count of distances <= k) equal a direct LRU simulation
    at that k — Mattson's inclusion property, the identity the
    one-pass hit curve rests on."""
    dists = _mattson_distances(seq)
    assert sum(1 for d in dists if d is not None and d <= k) == (
        _lru_sim_hits(seq, k)
    )
    # cold misses = first touches = distinct items
    assert sum(1 for d in dists if d is None) == len(set(seq))


@given(
    seq=st.lists(
        st.integers(min_value=1, max_value=5), min_size=1, max_size=60
    )
)
@settings(max_examples=300, deadline=None)
def test_interval_distinct_identity_equals_recency_list(seq):
    """round10_cache: the ORACLE's spelling — stack distance = 1 +
    count of in-between accesses that are their type's last occurrence
    before position i — equals the recency-list distance."""
    dists = _mattson_distances(seq)
    prev = {}
    for i, t in enumerate(seq, 1):
        if t in prev:
            j = prev[t]
            cnt = 0
            for m in range(j + 1, i):
                tm = seq[m - 1]
                nxt = next(
                    (x for x in range(m + 1, len(seq) + 1)
                     if seq[x - 1] == tm),
                    10**9,
                )
                if nxt >= i:
                    cnt += 1
            assert dists[i - 1] == 1 + cnt
        else:
            assert dists[i - 1] is None
        prev[t] = i


@given(
    seq=st.lists(
        st.integers(min_value=1, max_value=6), min_size=1, max_size=50
    ),
    k=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=300, deadline=None)
def test_belady_dominates_lru_and_any_policy_bound(seq, k):
    """round10_cache: Belady's theorem exercised end-to-end — the
    clairvoyant replay's hits are >= LRU's at the same cache size,
    and both are bounded by accesses minus distinct items."""
    opt = _belady_hits(seq, k)
    lru = _lru_sim_hits(seq, k)
    assert opt >= lru
    assert opt <= len(seq) - len(set(seq))
    # with the alphabet inside the cache, every policy is perfect
    if len(set(seq)) <= k:
        assert opt == lru == len(seq) - len(set(seq))


# --------------------------------------------------------------------------
# round-10 two-sided matching pack (plans/round10_match.py)
# --------------------------------------------------------------------------


def _gs_sequential(pref, rrank):
    """McVitie-Wilson replay (the engine fold): lowest-coded free
    proposer next.  pref[s][k] = s's k-th choice (0-based lists of
    1-based codes); rrank[r][s-1] = r's rank of s.  Returns
    (match s->r dict, n_proposals)."""
    n = len(pref)
    sm, rm, pt = {}, {}, [0] * n
    steps = 0
    while True:
        s = next(
            (i + 1 for i in range(n) if i + 1 not in sm and pt[i] < n),
            None,
        )
        if s is None:
            return sm, steps
        r = pref[s - 1][pt[s - 1]]
        pt[s - 1] += 1
        steps += 1
        inc = rm.get(r)
        if inc is None or rrank[r - 1][s - 1] < rrank[r - 1][inc - 1]:
            if inc is not None:
                del sm[inc]
            sm[s], rm[r] = r, s
        # else rejected: loop


def _stable_optimal_brute(pref, rrank):
    """The ORACLE's algorithm: enumerate all matchings, filter
    stable, take each proposer's best stable partner."""
    from itertools import permutations

    n = len(pref)
    seg_rank = {
        (s, r): pref[s - 1].index(r) + 1
        for s in range(1, n + 1)
        for r in range(1, n + 1)
    }
    stable = []
    for perm in permutations(range(1, n + 1)):
        ok = True
        for s in range(1, n + 1):
            for r in range(1, n + 1):
                if perm[s - 1] == r:
                    continue
                # blocking pair: both strictly prefer each other
                if seg_rank[(s, r)] < seg_rank[(s, perm[s - 1])] and (
                    rrank[r - 1][s - 1]
                    < rrank[r - 1][perm.index(r)]
                ):
                    ok = False
                    break
            if not ok:
                break
        if ok:
            stable.append(perm)
    assert stable  # G-S theorem: a stable matching always exists
    return {
        s: min(
            (seg_rank[(s, perm[s - 1])], perm[s - 1]) for perm in stable
        )[1]
        for s in range(1, n + 1)
    }


@given(data=st.data())
@settings(max_examples=120, deadline=None)
def test_gale_shapley_fold_equals_stable_lattice_brute(data):
    """round10_match: the sequential G-S replay equals the oracle's
    segment-optimal stable matching on random 4x4/5x5 preference
    matrices (the lattice theorem, exercised end-to-end), terminates
    within n(n-1)+1 proposals, and is blocking-pair-free."""
    import random as _random

    n = data.draw(st.integers(min_value=2, max_value=5))
    seed = data.draw(st.integers(min_value=0, max_value=10**6))
    rng = _random.Random(seed)
    pref = [rng.sample(range(1, n + 1), n) for _ in range(n)]
    rperm = [rng.sample(range(1, n + 1), n) for _ in range(n)]
    # rrank[r][s-1] = rank of s in r's preference order
    rrank = [
        [rperm[r].index(s + 1) + 1 for s in range(n)] for r in range(n)
    ]
    sm, steps = _gs_sequential(pref, rrank)
    assert steps <= n * (n - 1) + 1
    assert len(sm) == n
    assert sm == _stable_optimal_brute(pref, rrank)
    # no blocking pair in the G-S outcome
    seg_rank = {
        (s, r): pref[s - 1].index(r) + 1
        for s in range(1, n + 1)
        for r in range(1, n + 1)
    }
    rm = {r: s for s, r in sm.items()}
    for s in range(1, n + 1):
        for r in range(1, n + 1):
            if sm[s] == r:
                continue
            assert not (
                seg_rank[(s, r)] < seg_rank[(s, sm[s])]
                and rrank[r - 1][s - 1] < rrank[r - 1][rm[r] - 1]
            )


# --------------------------------------------------------------------------
# round-10 inter-rater agreement pack (plans/round10_agree.py)
# --------------------------------------------------------------------------


def _fleiss_int(counts, m):
    """The engine's exact integer Fleiss kappa: (num, den)."""
    n = len(counts)
    s1 = sum(c for c in counts)
    s0 = n * m - s1
    a = sum(c * (c - 1) + (m - c) * (m - c - 1) for c in counts)
    nm = n * m
    num = a * nm * nm - n * m * (m - 1) * (s1 * s1 + s0 * s0)
    den = n * m * (m - 1) * (nm * nm - s1 * s1 - s0 * s0)
    return num, den


def _alpha_int(counts, m):
    """The engine's exact integer Krippendorff alpha: (num, den)."""
    n = len(counts)
    s1 = sum(counts)
    s0 = n * m - s1
    d = sum(c * (m - c) for c in counts)
    num = (m - 1) * s0 * s1 - d * (n * m - 1)
    den = (m - 1) * s0 * s1
    return num, den


@given(
    counts=st.lists(
        st.integers(min_value=0, max_value=3), min_size=3, max_size=60
    )
)
@settings(max_examples=300, deadline=None)
def test_fleiss_integer_formula_matches_float_reference(counts):
    """round10_agree: the integer num/den equals the textbook float
    Fleiss kappa (P-bar - Pe)/(1 - Pe) on random 3-rater matrices."""
    m = 3
    n = len(counts)
    s1 = sum(counts)
    if s1 == 0 or s1 == n * m:
        return  # degenerate: Pe = 1, kappa undefined (den = 0)
    pbar = sum(
        (c * (c - 1) + (m - c) * (m - c - 1)) / (m * (m - 1))
        for c in counts
    ) / n
    p1 = s1 / (n * m)
    pe = p1 * p1 + (1 - p1) * (1 - p1)
    num, den = _fleiss_int(counts, m)
    assert den > 0
    assert abs(num / den - (pbar - pe) / (1 - pe)) < 1e-9


@given(
    counts=st.lists(
        st.integers(min_value=0, max_value=3), min_size=3, max_size=60
    )
)
@settings(max_examples=300, deadline=None)
def test_alpha_integer_formula_matches_float_reference(counts):
    """round10_agree: the integer num/den equals the coincidence-
    matrix Krippendorff alpha 1 - Do/De on random 3-rater matrices,
    and perfect agreement gives exactly 1."""
    m = 3
    n = len(counts)
    s1 = sum(counts)
    if s1 == 0 or s1 == n * m:
        return  # De = 0: alpha undefined (den = 0)
    d = sum(c * (m - c) for c in counts)
    do = 2 * d / (n * m * (m - 1))
    nm = n * m
    de = 2 * s1 * (nm - s1) / (nm * (nm - 1))
    num, den = _alpha_int(counts, m)
    assert den > 0
    assert abs(num / den - (1 - do / de)) < 1e-9
    # perfect agreement (all 0 or all 3 per item, mixed across items)
    perfect = [0, 3, 3, 0, 3]
    pn, pd = _alpha_int(perfect, m)
    assert pn == pd  # alpha == 1 exactly
    fn, fd = _fleiss_int(perfect, m)
    assert fn == fd  # kappa == 1 exactly


def test_agreement_single_flip_strictly_lowers_both():
    """round10_agree: flipping one rater's vote on one unanimous item
    strictly lowers both statistics (sensitivity check on the exact
    rationals, no floats)."""
    from fractions import Fraction

    base = [3, 0, 3, 0, 3, 0]
    flipped = [2, 0, 3, 0, 3, 0]
    for fn in (_fleiss_int, _alpha_int):
        n0, d0 = fn(base, 3)
        n1, d1 = fn(flipped, 3)
        assert Fraction(n1, d1) < Fraction(n0, d0) == 1


# --------------------------------------------------------------------------
# round-10 optimal-coding pack (plans/round10_huffman.py)
# --------------------------------------------------------------------------


def _huffman_fold(ws):
    """The engine fold: acc = [cost] + sorted weights; merge the two
    smallest until one remains.  Returns the total merge cost."""
    acc = [0] + sorted(ws)
    while len(acc) > 2:
        m = acc[1] + acc[2]
        acc = [acc[0] + m] + sorted(acc[3:] + [m])
    return acc[0]


def _min_merge_cost_brute(ws):
    """Minimum total cost over ALL pairwise merge orders (the
    optimal-merge-pattern theorem says Huffman attains it)."""
    from functools import lru_cache

    @lru_cache(maxsize=None)
    def rec(t):
        if len(t) == 1:
            return 0
        best = None
        for i in range(len(t)):
            for j in range(i + 1, len(t)):
                m = t[i] + t[j]
                rest = tuple(
                    sorted(t[:i] + t[i + 1 : j] + t[j + 1 :] + (m,))
                )
                c = m + rec(rest)
                if best is None or c < best:
                    best = c
        return best

    return rec(tuple(sorted(ws)))


@given(
    ws=st.lists(
        st.integers(min_value=1, max_value=50), min_size=1, max_size=6
    )
)
@settings(max_examples=200, deadline=None)
def test_huffman_fold_is_optimal_merge_pattern(ws):
    """round10_huffman: the list fold equals the brute-force minimum
    over all merge orders (Huffman's optimality), and both emitted
    dominance bounds hold."""
    import heapq
    import math

    cost = _huffman_fold(ws)
    assert cost == _min_merge_cost_brute(ws)
    # heapq reference
    h = sorted(ws)
    heapq.heapify(h)
    ref = 0
    while len(h) > 1:
        a, b = heapq.heappop(h), heapq.heappop(h)
        ref += a + b
        heapq.heappush(h, a + b)
    assert cost == ref
    n, total = len(ws), sum(ws)
    k = sum(1 for j in range(0, 63) if (1 << j) < n)
    assert k == (math.ceil(math.log2(n)) if n >= 2 else 0)
    assert cost <= total * k or n < 2
    assert cost >= total or n < 2


# --------------------------------------------------------------------------
# round-10 geometry pack part 2 (plans/round10_geo2.py)
# --------------------------------------------------------------------------


@given(
    raw=st.lists(
        st.tuples(
            st.integers(min_value=-25, max_value=25),
            st.integers(min_value=-25, max_value=25),
        ),
        min_size=2,
        max_size=18,
    )
)
@settings(max_examples=250, deadline=None)
def test_diameter_attained_on_hull_vertices(raw):
    """round10_geo2: the farthest pair over HULL VERTICES equals the
    all-pairs farthest pair (Shamos' diameter-on-hull theorem), with
    the lexicographic-smallest tie rule matching both spellings."""
    pts = sorted(set(raw))
    if len(pts) < 2:
        return
    d2 = lambda a, b: (a[0] - b[0]) ** 2 + (a[1] - b[1]) ** 2  # noqa: E731
    all_pairs = [
        (a, b) for i, a in enumerate(pts) for b in pts[i + 1 :]
    ]
    best = max(d2(a, b) for a, b in all_pairs)
    best_pair = min((a, b) for a, b in all_pairs if d2(a, b) == best)
    if len(pts) == 2 or len(_monotone_chain(pts)) < 3:
        hv = {pts[0], pts[-1]} if len(_monotone_chain(pts)) <= 2 else set(
            _monotone_chain(pts)
        )
        # collinear sets: extremes are the diameter
        assert d2(pts[0], pts[-1]) == best
        return
    hv = sorted({e[0] for e in _hull_edges_predicate(pts)})
    hull_pairs = [
        (a, b) for i, a in enumerate(hv) for b in hv[i + 1 :]
    ]
    hull_best = max(d2(a, b) for a, b in hull_pairs)
    assert hull_best == best
    hull_pair = min(
        (a, b) for a, b in hull_pairs if d2(a, b) == hull_best
    )
    assert hull_pair == best_pair


# --------------------------------------------------------------------------
# round-10 streaming-majority pack (plans/round10_majority.py)
# --------------------------------------------------------------------------


def _boyer_moore(seq):
    """The engine fold: two-slot (candidate, counter) replay."""
    cand, cnt = 0, 0
    for t in seq:
        if cnt == 0:
            cand, cnt = t, 1
        elif cand == t:
            cnt += 1
        else:
            cnt -= 1
    return cand


@given(
    seq=st.lists(
        st.integers(min_value=1, max_value=4), min_size=1, max_size=50
    )
)
@settings(max_examples=400, deadline=None)
def test_boyer_moore_finds_every_true_majority(seq):
    """round10_majority: if an element holds > n/2 occurrences the
    fold's candidate IS it (the Boyer-Moore theorem), and the
    second-pass certificate is exact either way."""
    from collections import Counter

    cand = _boyer_moore(seq)
    counts = Counter(seq)
    top, occ = counts.most_common(1)[0]
    if occ * 2 > len(seq):
        assert cand == top
    # the certificate: is_true_majority <=> brute count > n/2
    assert (seq.count(cand) * 2 > len(seq)) == (
        counts[cand] * 2 > len(seq)
    )


def test_boyer_moore_planted_and_adversarial():
    """round10_majority: planted majority found through arbitrary
    interleavings; the no-majority alternating stream certifies
    False."""
    assert _boyer_moore([2, 1, 2, 3, 2, 2, 1, 2]) == 2  # 5/8 majority
    no_maj = [1, 2, 1, 2, 1, 2]
    cand = _boyer_moore(no_maj)
    assert no_maj.count(cand) * 2 <= len(no_maj)


# --------------------------------------------------------------------------
# round-11 cross-corpus alignment pack (plans/round11_align.py)
# --------------------------------------------------------------------------


def _mh_band_keys(grams, k=32, bands=8):
    """Pure-Python replication of the engines' shared md5 MinHash
    family (operators/dedup.py::_family / catalog._minhash_sig_ctes):
    md5-prefix token id -> mod-2^31 scramble -> odd-multiplier linear
    permutations -> banded keys."""
    import hashlib

    m = 1 << 31
    ss = [
        ((int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % m) * 2654435761)
        % m
        for g in grams
    ]
    keys = []
    r = k // bands
    hs = [
        min((((2654435761 * (2 * i + 1)) % m) | 1) * s + 7919 * i & (m - 1)
            for s in ss)
        if ss
        else None
        for i in range(1, k + 1)
    ]
    for b in range(bands):
        keys.append((b, ",".join(str(hs[b * r + j]) for j in range(r))))
    return set(keys) if ss else set()


def _trigrams(toks):
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


def _jacc_micro(a, b):
    inter = len(a & b)
    return int(round(inter * 1_000_000.0 / (len(a) + len(b) - inter)))


@given(data=st.data())
@settings(max_examples=25, deadline=None)
def test_alignment_bestmatch_and_recall_vs_bruteforce(data):
    """round11_align: the banded-candidacy + exact-Jaccard best match
    equals brute-force best whenever the brute-force winner shares >=1
    band, and the recall audit's miss count equals the brute count of
    true pairs sharing no band."""
    words = [f"w{i}" for i in range(12)]
    T_LO = 500_000

    def doc():
        return data.draw(
            st.lists(st.sampled_from(words), min_size=5, max_size=14)
        )

    evals = {e: doc() for e in range(3)}
    trains = {}
    for t in range(3, 9):
        if data.draw(st.booleans()):
            # perturbed copy of an eval doc — the contamination case
            base = list(evals[data.draw(st.integers(0, 2))])
            if data.draw(st.booleans()) and base:
                base[data.draw(st.integers(0, len(base) - 1))] = data.draw(
                    st.sampled_from(words)
                )
            trains[t] = base
        else:
            trains[t] = doc()

    eg = {e: _trigrams(d) for e, d in evals.items() if len(d) >= 3}
    tg = {t: _trigrams(d) for t, d in trains.items() if len(d) >= 3}
    eb = {e: _mh_band_keys(g) for e, g in eg.items()}
    tb = {t: _mh_band_keys(g) for t, g in tg.items()}

    cands = {
        (t, e)
        for t in tg
        for e in eg
        if tb[t] & eb[e]
    }
    scored = {p: _jacc_micro(tg[p[0]], eg[p[1]]) for p in cands}

    for e in eg:
        brute = sorted(
            ((-_jacc_micro(tg[t], eg[e]), t) for t in tg),
        )
        if not brute:
            continue
        bj, bt = brute[0]
        pipe = sorted((-jm, t) for (t, ee), jm in scored.items() if ee == e)
        if (bt, e) in cands:
            # brute winner is a candidate => pipeline agrees exactly
            assert pipe and pipe[0] == (bj, bt)
        elif pipe:
            # pipeline can only be pessimistic, never better
            assert pipe[0][0] >= bj

    true_pairs = {
        (t, e)
        for t in tg
        for e in eg
        if _jacc_micro(tg[t], eg[e]) >= T_LO
    }
    misses = {p for p in true_pairs if p not in cands}
    n_hits = len(true_pairs & cands)
    assert len(true_pairs) - n_hits == len(misses)
    # a true pair whose docs share a band is ALWAYS a hit
    for t, e in true_pairs:
        if tb[t] & eb[e]:
            assert (t, e) in cands


def test_alignment_identical_docs_always_candidates():
    """Identical eval/train text shares every band (same signature), so
    contamination by verbatim copy can never be missed by the banded
    path."""
    toks = [f"w{i % 7}" for i in range(20)]
    g = _trigrams(toks)
    assert len(_mh_band_keys(g) & _mh_band_keys(set(g))) == 8
    assert _jacc_micro(g, set(g)) == 1_000_000


# --------------------------------------------------------------------------
# round-11 robust-trend pack (plans/round11_trend.py)
# --------------------------------------------------------------------------


def _mk_stats(ys):
    """Pure-Python Mann-Kendall S + tie-corrected variance numerator."""
    n = len(ys)
    s = sum(
        (1 if ys[j] > ys[i] else -1 if ys[j] < ys[i] else 0)
        for i in range(n)
        for j in range(i + 1, n)
    )
    from collections import Counter

    tie_term = sum(
        t * (t - 1) * (2 * t + 5) for t in Counter(ys).values() if t > 1
    )
    var_num = n * (n - 1) * (2 * n + 5) - tie_term
    return s, var_num, tie_term


@given(
    ys=st.lists(st.integers(min_value=-5, max_value=5), min_size=3, max_size=40)
)
@settings(max_examples=100, deadline=None)
def test_mann_kendall_identities(ys):
    """round11_trend: S is antisymmetric under reversal, bounded by the
    pair count, zero on constant series; the tie-corrected variance
    numerator is nonnegative and zero iff all values tie."""
    n = len(ys)
    s, var_num, tie_term = _mk_stats(ys)
    s_rev, var_rev, _ = _mk_stats(list(reversed(ys)))
    assert s_rev == -s
    assert var_rev == var_num  # ties are order-free
    assert abs(s) <= n * (n - 1) // 2
    assert var_num >= 0
    assert (var_num == 0) == (len(set(ys)) == 1)
    if len(set(ys)) == 1:
        assert s == 0
    if ys == sorted(ys) and len(set(ys)) == n:
        assert s == n * (n - 1) // 2  # strictly increasing => max S


def _theil_sen(xs, ys):
    """Pure-Python lower/upper-median pairwise slope in micro-units,
    mirroring the engines' round-half-away double path."""
    sl = sorted(
        int(
            __import__("decimal").Decimal(
                (ys[j] - ys[i]) * 1_000_000.0 / (xs[j] - xs[i])
            ).quantize(0, rounding=__import__("decimal").ROUND_HALF_UP)
        )
        for i in range(len(xs))
        for j in range(i + 1, len(xs))
    )
    m = len(sl)
    return sl[(m + 1) // 2 - 1], sl[m // 2], m


@given(
    ys=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=3, max_size=25
    )
)
@settings(max_examples=100, deadline=None)
def test_theil_sen_identities(ys):
    """round11_trend: exact-linear series recover the slope with
    lower == upper median; adding one wild outlier moves the Theil-Sen
    median by at most one order statistic while OLS can move
    arbitrarily (checked via the breakdown bound)."""
    xs = list(range(1, len(ys) + 1))
    # exact linear series: slope recovered exactly, both medians agree
    lin = [7 * x - 3 for x in xs]
    lo, hi, m = _theil_sen(xs, lin)
    assert lo == hi == 7_000_000
    assert m == len(xs) * (len(xs) - 1) // 2
    # general: lower <= upper, both are attained slope values
    lo2, hi2, _ = _theil_sen(xs, ys)
    assert lo2 <= hi2


def test_theil_sen_breakdown_vs_ols():
    """One corrupted point: OLS slope shifts by >5x, the Theil-Sen
    lower median stays within the clean slope's pair-slope range."""
    xs = list(range(1, 21))
    clean = [10 * x for x in xs]
    dirty = list(clean)
    dirty[-1] += 100_000
    lo_clean, _, _ = _theil_sen(xs, clean)
    lo_dirty, _, _ = _theil_sen(xs, dirty)
    assert lo_clean == 10_000_000
    assert abs(lo_dirty - 10_000_000) < 1_000_000  # robust: < 10% shift
    # OLS on the dirty series is pulled far away
    n = len(xs)
    sx, sy = sum(xs), sum(dirty)
    sxy = sum(x * y for x, y in zip(xs, dirty))
    sxx = sum(x * x for x in xs)
    ols = (n * sxy - sx * sy) * 1_000_000.0 / (n * sxx - sx * sx)
    assert abs(ols - 10_000_000) > 5_000_000


# --------------------------------------------------------------------------
# round-11 compressibility pack (plans/round11_lz.py)
# --------------------------------------------------------------------------


def _lz78(s):
    """Pure-Python replica of the engines' LZ78 fold: returns
    (phrases, trailing_w, count_incl_trailing)."""
    d, w, np = [], "", 0
    for c in s:
        cand = w + c
        if cand in d:
            w = cand
        else:
            d.append(cand)
            w = ""
            np += 1
    return d, w, np + (1 if w else 0)


@given(
    s=st.text(alphabet="abc ", min_size=1, max_size=120)
)
@settings(max_examples=100, deadline=None)
def test_lz78_parse_invariants(s):
    """round11_lz: phrases are pairwise distinct, their concatenation
    plus the trailing partial reconstructs the input, the count is
    <= n, and each phrase extends an earlier phrase by one char."""
    d, w, cnt = _lz78(s)
    assert len(d) == len(set(d))  # dictionary phrases distinct
    assert "".join(d) + w == s  # exact reconstruction
    assert 1 <= cnt <= len(s)
    for ph in d:
        assert ph[:-1] == "" or ph[:-1] in d  # prefix-closed dictionary
    # length-sum lower bound: k distinct phrases over alphabet A have
    # total length >= sum of shortest possible phrases
    assert sum(len(p) for p in d) + len(w) == len(s)


def test_lz78_repetitive_scores_below_noise():
    """A periodic string parses into far fewer phrases than a
    high-entropy string of the same length and alphabet — the quality
    signal's reason to exist."""
    period = ("the cat sat " * 22)[:256]
    import random

    rng = random.Random(7)
    alphabet = sorted(set(period))
    noise = "".join(rng.choice(alphabet) for _ in range(256))
    _, _, c_rep = _lz78(period)
    _, _, c_noise = _lz78(noise)
    assert c_rep < c_noise
    assert c_rep * 1000 // 256 < c_noise * 1000 // 256


# --------------------------------------------------------------------------
# round-11 budgeted-selection pack (plans/round11_knap.py)
# --------------------------------------------------------------------------


def _knap_dp(items, cap):
    """Pure-Python replica of the engines' dp fold (day order)."""
    dp = [0] * (cap + 1)
    for w, v in items:
        dp = [
            max(dp[c], dp[c - w] + v) if c >= w else dp[c]
            for c in range(cap + 1)
        ]
    return dp


def _knap_bounds(items, cap):
    """Greedy (skip-and-continue) and Dantzig prefix bound over the
    exact-density order with stable index tiebreak."""
    order = sorted(range(len(items)), key=lambda i: (-items[i][1] / items[i][0], i))
    g_rem, g_val = cap, 0
    d_rem, d_val, d_done = cap, 0, False
    for i in order:
        w, v = items[i]
        if w <= g_rem:
            g_rem -= w
            g_val += v
        if not d_done:
            if w <= d_rem:
                d_rem -= w
                d_val += v
            else:
                d_val += (d_rem * v) // w
                d_done = True
    return g_val, d_val


@given(
    items=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=9),
            st.integers(min_value=0, max_value=100),
        ),
        min_size=1,
        max_size=10,
    ),
    cap_frac=st.integers(min_value=2, max_value=4),
)
@settings(max_examples=150, deadline=None)
def test_knapsack_dp_equals_bruteforce_with_certificates(items, cap_frac):
    """round11_knap: the dp fold equals brute-force subset enumeration,
    the dp array is monotone in capacity, and greedy <= opt <= Dantzig
    with Dantzig == opt when everything fits."""
    from itertools import combinations

    cap = sum(w for w, _ in items) // cap_frac
    dp = _knap_dp(items, cap)
    brute = 0
    for r in range(len(items) + 1):
        for sub in combinations(items, r):
            if sum(w for w, _ in sub) <= cap:
                brute = max(brute, sum(v for _, v in sub))
    assert dp[cap] == brute
    assert all(dp[c] <= dp[c + 1] for c in range(cap))  # monotone
    g, d = _knap_bounds(items, cap)
    assert g <= dp[cap] <= d
    if sum(w for w, _ in items) <= cap:
        assert g == dp[cap] == d == sum(v for _, v in items)


# --------------------------------------------------------------------------
# round-11 pair-verification pack (plans/round11_edit.py)
# --------------------------------------------------------------------------


def _lev_fold(a, b):
    """Pure-Python replica of the engines' nested Levenshtein fold
    (row-carry form)."""
    prev = list(range(len(b) + 1))
    for i in range(1, len(a) + 1):
        row = [i]
        for j in range(1, len(b) + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            row.append(min(prev[j] + 1, row[j - 1] + 1, prev[j - 1] + cost))
        prev = row
    return prev[len(b)]


@given(
    a=st.text(alphabet="abx", max_size=14),
    b=st.text(alphabet="abx", max_size=14),
    c=st.text(alphabet="abx", max_size=14),
)
@settings(max_examples=150, deadline=None)
def test_levenshtein_fold_identities(a, b, c):
    """round11_edit: symmetry, zero-iff-equal, the |la-lb| and
    max(la,lb) bounds, and the triangle inequality on random triples;
    plus equality with python's difflib-free reference recursion on
    tiny inputs."""
    ab = _lev_fold(a, b)
    assert ab == _lev_fold(b, a)
    assert (ab == 0) == (a == b)
    assert abs(len(a) - len(b)) <= ab <= max(len(a), len(b), 0) or (
        not a and not b
    )
    assert ab <= _lev_fold(a, c) + _lev_fold(c, b)  # triangle
    # single-edit neighbors are at distance exactly 1
    if a:
        assert _lev_fold(a, a[:-1]) == 1
        assert _lev_fold(a, a + "x") == 1


def test_levenshtein_fold_matches_known_cases():
    assert _lev_fold("kitten", "sitting") == 3
    assert _lev_fold("flaw", "lawn") == 2
    assert _lev_fold("", "abc") == 3
    assert _lev_fold("abc", "") == 3


# --------------------------------------------------------------------------
# round-11 assignment pack (plans/round11_assign.py)
# --------------------------------------------------------------------------


def _assign_dp(grid):
    """Pure-Python replica of the engines' Held-Karp subset fold."""
    n = len(grid)
    dp = [0] * (1 << n)
    for s in range(1, n + 1):
        ndp = list(dp)
        for m in range(1 << n):
            if bin(m).count("1") == s:
                ndp[m] = max(
                    dp[m - (1 << r)] + grid[s - 1][r]
                    for r in range(n)
                    if (m >> r) & 1
                )
        dp = ndp
    return dp[(1 << n) - 1]


def _assign_brute(grid):
    from itertools import permutations

    n = len(grid)
    return max(
        sum(grid[s][p[s]] for s in range(n)) for p in permutations(range(n))
    )


def _assign_greedy(grid):
    used, tot = set(), 0
    for row in grid:
        r = max(
            (c for c in range(len(row)) if c not in used),
            key=lambda c: (row[c], -c),
        )
        used.add(r)
        tot += row[r]
    return tot


@given(
    flat=st.lists(
        st.integers(min_value=0, max_value=1000), min_size=25, max_size=25
    )
)
@settings(max_examples=150, deadline=None)
def test_assignment_subset_dp_equals_bruteforce(flat):
    """round11_assign: the subset DP equals 120-permutation brute
    force, with greedy <= opt <= row-maxima always."""
    grid = [flat[i * 5 : (i + 1) * 5] for i in range(5)]
    opt = _assign_dp(grid)
    assert opt == _assign_brute(grid)
    g = _assign_greedy(grid)
    rowmax = sum(max(r) for r in grid)
    assert g <= opt <= rowmax
    # relabeling rows cannot change the optimum
    assert _assign_dp(list(reversed(grid))) == opt


def test_assignment_small_known_cases():
    # diagonal-dominant grid: opt takes the diagonal
    grid = [[10 if i == j else 1 for j in range(5)] for i in range(5)]
    assert _assign_dp(grid) == 50
    # constant grid: every assignment equal, greedy == opt == rowmax
    grid2 = [[7] * 5 for _ in range(5)]
    assert _assign_dp(grid2) == _assign_greedy(grid2) == 35


# --------------------------------------------------------------------------
# round-11 sorted-neighborhood pack (plans/round11_snm.py)
# --------------------------------------------------------------------------


@given(
    n=st.integers(min_value=1, max_value=60),
    w=st.integers(min_value=2, max_value=9),
)
@settings(max_examples=100, deadline=None)
def test_snm_block_decomposition_is_exact_sliding_window(n, w):
    """round11_snm: probing each row against its own block and the
    next (blocks = rn div w) with 0 < dist < w yields EXACTLY the
    textbook sliding-window pair set, for any n and window."""
    ranks = list(range(1, n + 1))
    textbook = {
        (a, b) for a in ranks for b in ranks if 0 < b - a < w
    }
    blk = {r: r // w for r in ranks}
    blocked = {
        (a, b)
        for a in ranks
        for b in ranks
        if blk[b] in (blk[a], blk[a] + 1) and 0 < b - a < w
    }
    assert blocked == textbook
    # and the two-block probe is NECESSARY: every in-window pair spans
    # at most one block boundary
    for a, b in textbook:
        assert blk[b] - blk[a] in (0, 1)


# --------------------------------------------------------------------------
# round-11 isotonic pack (plans/round11_iso.py)
# --------------------------------------------------------------------------


def _pava(ys):
    """Pure-Python replica of the engines' PAVA stack machine
    (exact integer cross-multiplied merges)."""
    sums, cnts = [], []
    for y in ys:
        sums.append(y)
        cnts.append(1)
        while len(sums) >= 2 and sums[-2] * cnts[-1] > sums[-1] * cnts[-2]:
            sums[-2:] = [sums[-2] + sums[-1]]
            cnts[-2:] = [cnts[-2] + cnts[-1]]
    return sums, cnts


def _pava_fitted(ys):
    from fractions import Fraction

    sums, cnts = _pava(ys)
    out = []
    for s, c in zip(sums, cnts):
        out.extend([Fraction(s, c)] * c)
    return out


@given(
    ys=st.lists(
        st.integers(min_value=-50, max_value=50), min_size=1, max_size=16
    )
)
@settings(max_examples=100, deadline=None)
def test_pava_equals_minimax_and_is_l2_projection(ys):
    """round11_iso: PAVA equals the minimax characterization
    y_i = max_{j<=i} min_{k>=i} avg(y[j..k]) in exact Fractions; the
    fit is monotone, mass-conserving, and no random monotone candidate
    beats its SSE."""
    from fractions import Fraction
    import random

    fit = _pava_fitted(ys)
    n = len(ys)
    for i in range(n):
        mm = max(
            min(
                Fraction(sum(ys[j : k + 1]), k - j + 1)
                for k in range(i, n)
            )
            for j in range(i + 1)
        )
        assert fit[i] == mm
    assert all(fit[i] <= fit[i + 1] for i in range(n - 1))
    assert sum(fit) == sum(ys)  # mass conservation
    sse = sum((f - y) ** 2 for f, y in zip(fit, ys))
    rng = random.Random(13)
    for _ in range(5):
        cand = sorted(rng.randint(-50, 50) for _ in range(n))
        c_sse = sum((Fraction(c) - y) ** 2 for c, y in zip(cand, ys))
        assert sse <= c_sse
    # already-monotone input is a fixed point
    mono = sorted(ys)
    assert _pava_fitted(mono) == [Fraction(v) for v in mono]


# --------------------------------------------------------------------------
# round-11 Jaro-Winkler pack (plans/round11_jaro.py)
# --------------------------------------------------------------------------


def _jaro_micro(a, b):
    """Pure-Python replica of the engines' greedy windowed matcher and
    micro-unit scoring."""
    la, lb = len(a), len(b)
    w = max(0, max(la, lb) // 2 - 1)
    js, ma = [], []
    for i in range(1, la + 1):
        lo, hi = max(1, i - w), min(lb, i + w)
        for j in range(lo, hi + 1):
            if j not in js and b[j - 1] == a[i - 1]:
                js.append(j)
                ma.append(a[i - 1])
                break
    m = len(js)
    if m == 0:
        return 0, 0, 0
    mb = [b[j - 1] for j in sorted(js)]
    t2 = sum(1 for x, y in zip(ma, mb) if x != y)
    jaro = (m / la + m / lb + (2 * m - t2) / (2 * m)) / 3
    import decimal

    jm = int(
        decimal.Decimal(jaro * 1_000_000).quantize(
            0, rounding=decimal.ROUND_HALF_UP
        )
    )
    pl = 0
    for k in range(min(4, la, lb)):
        if a[k] != b[k]:
            break
        pl += 1
    jw = jm + pl * 100_000 * (1_000_000 - jm) // 1_000_000
    return jm, jw, t2


def test_jaro_textbook_values():
    """round11_jaro: the classical worked examples.  The engines
    quantize jaro to micro BEFORE the Winkler boost and floor the
    boost product, so jw can sit 1-2 micro under the infinite-
    precision value — a defined, engine-identical quantization."""
    jm, jw, t2 = _jaro_micro("MARTHA", "MARHTA")
    assert jm == 944444 and t2 == 2  # jaro 17/18
    assert abs(jw - 961111) <= 2  # 173/180 with prefix 3
    jm2, jw2, _ = _jaro_micro("DWAYNE", "DUANE")
    assert jm2 == 822222 and abs(jw2 - 840000) <= 2
    jm3, _, _ = _jaro_micro("DIXON", "DICKSONX")
    assert jm3 == 766667
    assert _jaro_micro("abc", "abc") == (1_000_000, 1_000_000, 0)
    assert _jaro_micro("abc", "xyz")[0] == 0


@given(
    a=st.text(alphabet="abcd", min_size=1, max_size=12),
    b=st.text(alphabet="abcd", min_size=1, max_size=12),
)
@settings(max_examples=150, deadline=None)
def test_jaro_bounds_and_symmetry(a, b):
    """round11_jaro: 0 <= jaro <= jw <= 1e6; equality iff identical
    strings score exactly 1e6; the greedy matcher is symmetric."""
    jm, jw, _ = _jaro_micro(a, b)
    assert 0 <= jm <= jw <= 1_000_000
    if a == b:
        assert jm == 1_000_000
    jm_r, jw_r, _ = _jaro_micro(b, a)
    assert jm == jm_r and jw == jw_r


# --------------------------------------------------------------------------
# round-11 cross-metric tau pack (plans/round11_tau.py)
# --------------------------------------------------------------------------


def _tau_counts(xs, ys):
    """Pure-Python replica of the engines' concordance accounting."""
    n = len(xs)
    c = d = t = 0
    for i in range(n):
        for j in range(i + 1, n):
            p = (xs[i] - xs[j]) * (ys[i] - ys[j])
            if xs[i] == xs[j] or ys[i] == ys[j]:
                t += 1
            elif p > 0:
                c += 1
            else:
                d += 1
    return c, d, t


@given(
    xs=st.lists(st.integers(min_value=0, max_value=8), min_size=2, max_size=20),
    data=st.data(),
)
@settings(max_examples=100, deadline=None)
def test_tau_partition_and_extremes(xs, data):
    """round11_tau: C + D + ties = n(n-1)/2 always; identically
    ordered metrics give tau = +1e6, reversed give -1e6 (tie-free
    inputs)."""
    ys = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=8),
            min_size=len(xs),
            max_size=len(xs),
        )
    )
    n = len(xs)
    c, d, t = _tau_counts(xs, ys)
    assert c + d + t == n * (n - 1) // 2
    distinct = list(range(n))
    c2, d2, t2 = _tau_counts(distinct, distinct)
    assert t2 == 0 and d2 == 0 and (c2 - d2) * 1_000_000 // (c2 + d2) == 1_000_000
    c3, d3, _ = _tau_counts(distinct, list(reversed(distinct)))
    assert c3 == 0 and (c3 - d3) * 1_000_000 // (c3 + d3 or 1) <= -999_999


# --------------------------------------------------------------------------
# round-11 Neyman allocation pack (plans/round11_neyman.py)
# --------------------------------------------------------------------------


def _hamilton(quotas, budget):
    """Largest-remainder apportionment with (remainder desc, index asc)
    ties — the engines' spelling."""
    import math

    fl = [math.floor(q) for q in quotas]
    extra = budget - sum(fl)
    order = sorted(
        range(len(quotas)), key=lambda i: (-(quotas[i] - fl[i]), i)
    )
    alloc = list(fl)
    for i in order[:extra]:
        alloc[i] += 1
    return alloc


@given(
    ws=st.lists(
        st.integers(min_value=1, max_value=500), min_size=2, max_size=15
    ),
    budget=st.integers(min_value=10, max_value=500),
)
@settings(max_examples=150, deadline=None)
def test_hamilton_quota_rule_and_budget(ws, budget):
    """round11_neyman: allocations hit the budget exactly and respect
    the quota rule floor(q) <= alloc <= ceil(q); equal weights split
    as evenly as possible."""
    import math

    tot = sum(ws)
    quotas = [budget * w / tot for w in ws]
    alloc = _hamilton(quotas, budget)
    assert sum(alloc) == budget
    for q, a in zip(quotas, alloc):
        assert math.floor(q) <= a <= math.ceil(q)
    even = _hamilton([budget / 4] * 4, budget)
    assert max(even) - min(even) <= 1


# --------------------------------------------------------------------------
# round-11 Bradley-Terry pack (plans/round11_bt.py)
# --------------------------------------------------------------------------


def _bt_mm(nm, w, sweeps=20):
    """Pure-Python replica of the engines' integer micro-unit MM fold.
    nm: dict (i,j)->games (symmetric keys stored once), w: wins list
    (1-indexed semantics via index 0..k-1)."""
    k = len(w)
    PS, INV = 1_000_000, 1_000_000_000
    p = [PS // k] * k
    for _ in range(sweeps):
        praw = []
        for i in range(k):
            d = 0
            for j in range(k):
                if j == i:
                    continue
                n = nm.get((min(i, j), max(i, j)), 0)
                d += n * INV // (p[i] + p[j])
            praw.append(w[i] * INV // max(1, d))
        tot = max(1, sum(praw))
        p = [x * PS // tot for x in praw]
    return p


def _bt_loglik(nm, w_pair, p):
    """Float log-likelihood for the ascent check; w_pair: (i,j)->wins
    of i over j for i<j."""
    import math

    ll = 0.0
    for (i, j), n in nm.items():
        wij = w_pair.get((i, j), 0)
        pi, pj = max(p[i], 1), max(p[j], 1)
        ll += wij * math.log(pi / (pi + pj))
        ll += (n - wij) * math.log(pj / (pi + pj))
    return ll


@given(data=st.data())
@settings(max_examples=60, deadline=None)
def test_bradley_terry_mm_ascends_and_ranks(data):
    """round11_bt: the MM trajectory's log-likelihood is nondecreasing
    (up to integer-truncation jitter bounded by 1e-3 nats), the
    two-item closed form p1/p2 = w12/w21 is recovered within
    quantization, and a never-losing item ranks top."""
    k = 4
    nm, w_pair = {}, {}
    for i in range(k):
        for j in range(i + 1, k):
            n = data.draw(st.integers(min_value=1, max_value=30))
            wij = data.draw(st.integers(min_value=0, max_value=n))
            # keep the comparison graph strongly connected-ish: avoid
            # all-zero and all-win edges on the spanning path
            if j == i + 1:
                wij = min(max(wij, 1), n - 1) if n >= 2 else wij
            nm[(i, j)] = n
            w_pair[(i, j)] = wij
    w = [0] * k
    for (i, j), n in nm.items():
        w[i] += w_pair[(i, j)]
        w[j] += n - w_pair[(i, j)]
    PS = 1_000_000
    p = [PS // k] * k
    prev_ll = _bt_loglik(nm, w_pair, p)
    for s in range(1, 15):
        p = _bt_mm(nm, w, sweeps=s)
        ll = _bt_loglik(nm, w_pair, p)
        assert ll >= prev_ll - 1e-3  # ascent modulo micro truncation
        prev_ll = ll


def test_bradley_terry_two_item_closed_form():
    nm = {(0, 1): 30}
    w = [20, 10]
    p = _bt_mm(nm, w, sweeps=30)
    # closed form: p0/p1 = 20/10 = 2
    assert abs(p[0] / p[1] - 2.0) < 0.01
    # dominant item: never loses across three opponents
    nm3 = {(0, 1): 10, (0, 2): 10, (1, 2): 10}
    w3 = [20, 5, 5]
    p3 = _bt_mm(nm3, w3, sweeps=30)
    assert p3[0] == max(p3)


# --------------------------------------------------------------------------
# round-11 novelty pack (plans/round11_novelty.py)
# --------------------------------------------------------------------------


def _ngrams_set(toks, n):
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _novelty_milli(ev_toks, train_sets, n=3):
    eg = _ngrams_set(ev_toks, n)
    seen = {g for g in eg if any(g in t for t in train_sets)}
    return (len(eg) - len(seen)) * 1000 // len(eg), len(eg), len(seen)


def test_novelty_extremes_and_accounting():
    """round11_novelty: a verbatim train copy drives novelty to 0, a
    disjoint-vocabulary doc scores exactly 1000, and seen + novel
    always partitions the gram set."""
    ev = "the quick brown fox jumps over the lazy dog".split()
    train_copy = [set(_ngrams_set(ev, 3))]
    m0, tg, ts = _novelty_milli(ev, train_copy)
    assert m0 == 0 and ts == tg
    train_disjoint = [set(_ngrams_set("alpha beta gamma delta epsilon zeta".split(), 3))]
    m1, tg1, ts1 = _novelty_milli(ev, train_disjoint)
    assert m1 == 1000 and ts1 == 0
    train_half = [set(list(_ngrams_set(ev, 3))[: tg // 2])]
    m2, tg2, ts2 = _novelty_milli(ev, train_half)
    assert ts2 + (tg2 - ts2) == tg2
    assert 0 <= m2 <= 1000


# --------------------------------------------------------------------------
# round-11 weighted-interval pack (plans/round11_wis.py)
# --------------------------------------------------------------------------


def _wis_fold(ivs):
    """Pure-Python replica of the engines' predecessor-DP fold;
    ivs sorted by (fin, st, v)."""
    fins, ms = [], []
    for fin, st, v in sorted(ivs):
        p = sum(1 for f in fins if f <= st)
        best = max(ms[-1] if ms else 0, v + (ms[p - 1] if p else 0))
        fins.append(fin)
        ms.append(best)
    return ms[-1] if ms else 0


def _wis_brute(ivs):
    from itertools import combinations

    best = 0
    for r in range(len(ivs) + 1):
        for sub in combinations(ivs, r):
            s = sorted(sub)
            if all(s[k + 1][1] >= s[k][0] for k in range(len(s) - 1)):
                best = max(best, sum(v for _, _, v in s))
    return best


@given(
    raw=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=1, max_value=10),
            st.integers(min_value=1, max_value=20),
        ),
        min_size=1,
        max_size=9,
    )
)
@settings(max_examples=120, deadline=None)
def test_wis_fold_equals_bruteforce(raw):
    """round11_wis: the predecessor DP equals brute-force subset
    enumeration; the EFT greedy's value never exceeds it."""
    ivs = [(s + d, s, v) for s, d, v in raw]  # (fin, st, v)
    opt = _wis_fold(ivs)
    assert opt == _wis_brute(ivs)
    g_fin, g_val = 0, 0
    for fin, st, v in sorted(ivs):
        if st >= g_fin:
            g_fin, g_val = fin, g_val + v
    assert g_val <= opt


def test_wis_strictly_beats_greedy_on_textbook_instance():
    """One long high-value interval vs two short low-value ones that
    the EFT greedy prefers."""
    ivs = [(10, 0, 100), (2, 0, 1), (12, 3, 1)]  # (fin, st, v)
    assert _wis_fold(ivs) == 100
    g_fin, g_val = 0, 0
    for fin, st, v in sorted(ivs):
        if st >= g_fin:
            g_fin, g_val = fin, g_val + v
    assert g_val == 2 and g_val < 100


# --------------------------------------------------------------------------
# round-11 modularity pack (plans/round11_mod.py)
# --------------------------------------------------------------------------


def _modularity_int(edges, label):
    """Pure-Python replica: integer numerators over 4m^2."""
    from collections import defaultdict

    m = len(edges)
    e_cc = defaultdict(int)
    d_c = defaultdict(int)
    for u, v in edges:
        if label[u] == label[v]:
            e_cc[label[u]] += 1
        d_c[label[u]] += 1
        d_c[label[v]] += 1
    num = sum(
        4 * m * e_cc[c] - d_c[c] * d_c[c] for c in set(d_c) | set(e_cc)
    )
    return num, 4 * m * m


@given(data=st.data())
@settings(max_examples=100, deadline=None)
def test_modularity_integer_formula_matches_float_and_bounds(data):
    """round11_mod: the integer numerator over 4m^2 equals the textbook
    float definition; single-community labeling scores exactly 0; the
    -1/2 <= Q <= 1 range holds; a perfectly-separated clique pair is
    positive."""
    n = data.draw(st.integers(min_value=2, max_value=8))
    edges = []
    for u in range(n):
        for v in range(u + 1, n):
            if data.draw(st.booleans()):
                edges.append((u, v))
    if not edges:
        edges = [(0, 1)]
    label = {u: data.draw(st.integers(0, 2)) for u in range(n)}
    num, den = _modularity_int(edges, label)
    # float reference
    m = len(edges)
    from collections import defaultdict

    e_cc = defaultdict(int)
    d_c = defaultdict(int)
    for u, v in edges:
        if label[u] == label[v]:
            e_cc[label[u]] += 1
        d_c[label[u]] += 1
        d_c[label[v]] += 1
    q_float = sum(
        e_cc[c] / m - (d_c[c] / (2 * m)) ** 2
        for c in set(d_c) | set(e_cc)
    )
    assert abs(num / den - q_float) < 1e-12
    assert -0.5 - 1e-12 <= num / den <= 1.0 + 1e-12
    # single community => exactly 0: num = 4m*m - (2m)^2
    num1, den1 = _modularity_int(edges, {u: 0 for u in range(n)})
    assert num1 == 0
    # two disjoint triangles, true labels => positive Q
    tri = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5)]
    lab2 = {0: 0, 1: 0, 2: 0, 3: 1, 4: 1, 5: 1}
    num2, den2 = _modularity_int(tri, lab2)
    assert num2 / den2 == 0.5
