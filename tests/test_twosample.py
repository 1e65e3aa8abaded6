"""Mann-Whitney U / AUC + two-sample KS (operators/twosample.py, the
r12-prep drift-significance batch): python-reference differentials
with ties, grouped isolation, degenerate inputs, planted shifts, and
the cross-engine DuckDB oracle shapes pinned ahead of registration."""

from __future__ import annotations

import math
import random

import pytest

from bangumi_notion_data_integration_project_spark.operators.twosample import (
    ks_two_sample,
    mann_whitney_u,
)


def _rnd(x, nd):
    return math.copysign(math.floor(abs(x) * 10**nd + 0.5) / 10**nd, x)


from _helpers import py_norm_p as _py_norm_p  # noqa: E402


def _py_mwu(xs, ys):
    comb = sorted(xs + ys)
    n1, n2, n = len(xs), len(ys), len(xs) + len(ys)

    def dbl_rank(v):
        lt = sum(1 for w in comb if w < v)
        eq = sum(1 for w in comb if w == v)
        return 2 * lt + eq + 1

    ties: dict[int, int] = {}
    for v in comb:
        ties[v] = ties.get(v, 0) + 1
    tie_term = sum(t**3 - t for t in ties.values())
    # one-sided guard BEFORE u1/auc: 2*n1*n2 is zero there (review find)
    if n1 == 0 or n2 == 0:
        return n1, n2, None, None, tie_term, None, None
    two_r1 = sum(dbl_rank(v) for v in xs)
    two_u1 = two_r1 - n1 * (n1 + 1)
    u1 = two_u1 / 2.0
    auc = two_u1 / (2.0 * n1 * n2)
    if (n + 1) * n * (n - 1) - tie_term <= 0:
        return n1, n2, u1, auc, tie_term, None, None
    n1d, n2d = float(n1), float(n2)
    nd = n1d + n2d
    var_u = (n1d * n2d / 12.0) * (
        (nd + 1.0) - tie_term / (nd * (nd - 1.0))
    )
    mean_u = n1d * n2d / 2.0
    diff = u1 - mean_u
    if diff > 0:
        z = (diff - 0.5) / math.sqrt(var_u)
    elif diff < 0:
        z = (diff + 0.5) / math.sqrt(var_u)
    else:
        z = 0.0
    return n1, n2, u1, auc, tie_term, z, _py_norm_p(z)


def _py_ks(xs, ys):
    n1, n2 = len(xs), len(ys)
    vals = sorted(set(xs + ys))
    best, loc = -1, None
    for v in vals:
        m1 = sum(1 for w in xs if w <= v)
        m2 = sum(1 for w in ys if w <= v)
        num = abs(m1 * n2 - m2 * n1)
        if num > best:
            best, loc = num, v
    d = best / (n1 * n2)
    ne = n1 * n2 / (n1 + n2)
    lam = (math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) * d
    if lam < 0.2:
        return n1, n2, d, loc, 1.0
    s = sum(
        (1.0 if k % 2 == 1 else -1.0) * math.exp(-2.0 * k * k * lam * lam)
        for k in range(1, 17)
    )
    p = min(1.0, max(0.0, 2.0 * s))
    return n1, n2, d, loc, p


def _two_dfs(spark, xs, ys):
    a = spark.createDataFrame([(x,) for x in xs], "v long")
    b = spark.createDataFrame([(y,) for y in ys], "v long")
    return a, b


def test_mwu_matches_python_with_ties_and_detects_shift(spark):
    rng = random.Random(81)
    xs = [rng.randrange(0, 60) for _ in range(120)]       # heavy ties
    ys = [rng.randrange(0, 60) + 15 for _ in range(90)]   # shifted up
    a, b = _two_dfs(spark, xs, ys)
    r = mann_whitney_u(a, b, "v").collect()[0]
    n1, n2, u1, auc, tie, z, p = _py_mwu(xs, ys)
    assert (r["n_ref"], r["n_cur"], r["tie_term"]) == (n1, n2, tie)
    assert r["u_stat"] == _rnd(u1, 1)
    assert r["auc"] == _rnd(auc, 6)
    assert r["z"] == _rnd(z, 6)
    assert r["p_value"] == _rnd(p, 9)
    assert r["p_value"] < 1e-6 and r["auc"] < 0.5  # shift detected
    # identical distributions: auc ~ 0.5, p large
    ys2 = [rng.randrange(0, 60) for _ in range(100)]
    a2, b2 = _two_dfs(spark, xs, ys2)
    r2 = mann_whitney_u(a2, b2, "v").collect()[0]
    assert abs(r2["auc"] - 0.5) < 0.1 and r2["p_value"] > 0.01


def test_mwu_auc_is_roc_auc_and_degenerates(spark):
    # perfectly separated: every ref value above every cur -> AUC = 1
    a, b = _two_dfs(spark, [10, 11, 12], [1, 2, 3, 4])
    r = mann_whitney_u(a, b, "v").collect()[0]
    assert r["auc"] == 1.0 and r["u_stat"] == 12.0
    # all-tied: zero variance -> NULL z/p under the ANSI guard
    a2, b2 = _two_dfs(spark, [5, 5], [5, 5, 5])
    r2 = mann_whitney_u(a2, b2, "v").collect()[0]
    assert r2["auc"] == 0.5 and r2["z"] is None and r2["p_value"] is None
    # NULL value raises with the right op name
    bad = spark.createDataFrame([(1,), (None,)], "v long")
    with pytest.raises(Exception, match="mann_whitney_u: NULL value"):
        mann_whitney_u(bad, b, "v").collect()


def test_mwu_grouped_isolates_keys(spark):
    rng = random.Random(82)
    rows_r, rows_c, series = [], [], {}
    for g, shift in (("a", 20), ("b", 0)):
        xs = [rng.randrange(0, 50) for _ in range(80)]
        ys = [rng.randrange(0, 50) + shift for _ in range(70)]
        series[g] = (xs, ys)
        rows_r += [(g, x) for x in xs]
        rows_c += [(g, y) for y in ys]
    ref = spark.createDataFrame(rows_r, "g string, v long")
    cur = spark.createDataFrame(rows_c, "g string, v long")
    got = {
        r["g"]: r
        for r in mann_whitney_u(ref, cur, "v", group_cols=["g"]).collect()
    }
    for g, (xs, ys) in series.items():
        n1, n2, u1, auc, tie, z, p = _py_mwu(xs, ys)
        assert got[g]["auc"] == _rnd(auc, 6), g
        assert got[g]["z"] == _rnd(z, 6), g
    assert got["a"]["p_value"] < 1e-6 and got["b"]["p_value"] > 0.001


def test_one_sided_groups_report_null_not_nan(spark):
    """A group present in only one input has no two-sample test: both
    operators must report the row with NULL statistics (the psi
    one-sided asymmetry made visible) — NEVER an IEEE 0/0 NaN, which
    would silently poison hashes and dashboards."""
    ref = spark.createDataFrame(
        [("both", 1), ("both", 2), ("refonly", 5)], "g string, v long"
    )
    cur = spark.createDataFrame(
        [("both", 3), ("both", 4), ("curonly", 7)], "g string, v long"
    )
    mwu = {
        r["g"]: r
        for r in mann_whitney_u(ref, cur, "v", group_cols=["g"]).collect()
    }
    assert set(mwu) == {"both", "refonly", "curonly"}
    for g in ("refonly", "curonly"):
        r = mwu[g]
        assert r["u_stat"] is None and r["auc"] is None, g
        assert r["z"] is None and r["p_value"] is None, g
    assert (mwu["refonly"]["n_ref"], mwu["refonly"]["n_cur"]) == (1, 0)
    assert (mwu["curonly"]["n_ref"], mwu["curonly"]["n_cur"]) == (0, 1)
    assert mwu["both"]["auc"] == 0.0  # ref strictly below cur

    ks = {
        r["g"]: r
        for r in ks_two_sample(ref, cur, "v", group_cols=["g"]).collect()
    }
    for g in ("refonly", "curonly"):
        r = ks[g]
        assert r["d_stat"] is None and r["location"] is None, g
        assert r["p_approx"] is None, g
    assert ks["both"]["d_stat"] == 1.0


def test_ks_matches_python_and_detects_shift(spark):
    rng = random.Random(83)
    xs = [rng.randrange(0, 1000) for _ in range(150)]
    ys = [rng.randrange(0, 1000) + 300 for _ in range(130)]
    a, b = _two_dfs(spark, xs, ys)
    r = ks_two_sample(a, b, "v").collect()[0]
    n1, n2, d, loc, p = _py_ks(xs, ys)
    assert (r["n_ref"], r["n_cur"]) == (n1, n2)
    assert r["d_stat"] == _rnd(d, 6)
    assert r["location"] == loc
    assert r["p_approx"] == _rnd(p, 9)
    assert r["p_approx"] < 1e-6  # the planted shift
    # identical samples: D = 0, p = 1 (the clamp)
    r0 = ks_two_sample(a, a, "v").collect()[0]
    assert r0["d_stat"] == 0.0 and r0["p_approx"] == 1.0


def test_ks_grouped_and_location_tiebreak(spark):
    rng = random.Random(84)
    rows_r, rows_c, series = [], [], {}
    for g, shift in (("a", 400), ("b", 0)):
        xs = [rng.randrange(0, 1000) for _ in range(90)]
        ys = [rng.randrange(0, 1000) + shift for _ in range(80)]
        series[g] = (xs, ys)
        rows_r += [(g, x) for x in xs]
        rows_c += [(g, y) for y in ys]
    ref = spark.createDataFrame(rows_r, "g string, v long")
    cur = spark.createDataFrame(rows_c, "g string, v long")
    got = {
        r["g"]: r
        for r in ks_two_sample(ref, cur, "v", group_cols=["g"]).collect()
    }
    for g, (xs, ys) in series.items():
        n1, n2, d, loc, p = _py_ks(xs, ys)
        assert got[g]["d_stat"] == _rnd(d, 6), g
        assert got[g]["location"] == loc, g
        assert got[g]["p_approx"] == _rnd(p, 9), g
    assert got["a"]["p_approx"] < 1e-6
    # location tie-break: equal numerators pick the SMALLEST value
    a = spark.createDataFrame([(1,), (2,)], "v long")
    b = spark.createDataFrame([(3,), (4,)], "v long")
    rt = ks_two_sample(a, b, "v").collect()[0]
    assert rt["d_stat"] == 1.0 and rt["location"] == 2  # first sup point


def test_twosample_duckdb_oracle_shapes_cross_engine(spark):
    """The DuckDB restatements — the doubled-rank cumulative window
    for MWU (with the A&S p polynomial in op-order lockstep) and the
    integer ECDF-numerator max for KS — are bit-equal to the operators
    on the real early-vs-late order price split: the r12 registry
    oracles, pinned ahead of registration."""
    import duckdb

    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    o = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    ref = o.filter(F.col("o_orderdate") < "1998-01-01").select("x")
    cur = o.filter(F.col("o_orderdate") >= "1998-01-01").select("x")
    got_mwu = tuple(mann_whitney_u(ref, cur, "x").collect()[0])
    got_ks = tuple(ks_two_sample(ref, cur, "x").collect()[0])

    from bangumi_notion_data_integration_project_spark.operators.stats import (
        NORMAL_P_TWO_SIDED_SQL,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS"
        f" SELECT * FROM read_parquet('{sf}/orders.parquet')"
    )
    p_expr = NORMAL_P_TWO_SIDED_SQL.format(z="z")
    want_mwu = con.execute(
        f"""
        WITH sides AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
                 CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                      THEN 1 ELSE 2 END AS s
          FROM orders
        ), vc AS (
          SELECT v,
                 CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1,
                 CAST(sum(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c2
          FROM sides GROUP BY v
        ), rk AS (
          SELECT c1, c2,
                 CAST(2 * coalesce(sum(c1 + c2) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) + (c1 + c2) + 1 AS BIGINT) AS r2x
          FROM vc
        ), agg AS (
          SELECT CAST(sum(c1) AS BIGINT) AS n1,
                 CAST(sum(c2) AS BIGINT) AS n2,
                 CAST(sum(CAST(c1 AS HUGEINT) * r2x) AS HUGEINT) AS tr1,
                 CAST(sum(CAST(c1 + c2 AS HUGEINT) * (c1 + c2) * (c1 + c2)
                          - (c1 + c2)) AS HUGEINT) AS tie
          FROM rk
        ), f AS (
          SELECT n1, n2, tie,
                 CAST(tr1 - CAST(n1 AS HUGEINT) * (n1 + 1) AS HUGEINT)
                   AS two_u1,
                 (CAST(n1 + n2 AS HUGEINT) + 1) * (n1 + n2)
                   * (CAST(n1 + n2 AS HUGEINT) - 1) - tie AS var_num3
          FROM agg
        ), zc AS (
          SELECT n1, n2, tie, two_u1, var_num3,
                 CAST(two_u1 AS DOUBLE) / 2.0
                   - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0
                   AS diff,
                 sqrt((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
                      * (((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0)
                         - CAST(tie AS DOUBLE)
                           / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                              * ((CAST(n1 AS DOUBLE)
                                  + CAST(n2 AS DOUBLE)) - 1.0)))) AS sd
          FROM f
        ), zz AS (
          SELECT n1, n2, tie, two_u1,
                 CASE WHEN var_num3 > 0 THEN
                   CASE WHEN diff > 0 THEN (diff - 0.5) / sd
                        WHEN diff < 0 THEN (diff + 0.5) / sd
                        ELSE 0.0 END
                 END AS z
          FROM zc
        )
        SELECT n1 AS n_ref, n2 AS n_cur,
               round(CAST(two_u1 AS DOUBLE) / 2.0, 1) AS u_stat,
               round(CAST(two_u1 AS DOUBLE)
                     / (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)),
                     6) AS auc,
               tie AS tie_term,
               round(z, 6) AS z,
               round({p_expr}, 9) AS p_value
        FROM zz
        """
    ).fetchall()[0]
    assert got_mwu == tuple(want_mwu)

    want_ks = con.execute(
        """
        WITH sides AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
                 CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                      THEN 1 ELSE 2 END AS s
          FROM orders
        ), vc AS (
          SELECT v,
                 CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1,
                 CAST(sum(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c2
          FROM sides GROUP BY v
        ), cum AS (
          SELECT v,
                 CAST(sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                      PRECEDING AND CURRENT ROW) AS BIGINT) AS m1,
                 CAST(sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                      PRECEDING AND CURRENT ROW) AS BIGINT) AS m2
          FROM vc
        ), tot AS (
          SELECT CAST(max(m1) AS BIGINT) AS n1,
                 CAST(max(m2) AS BIGINT) AS n2
          FROM cum
        ), scored AS (
          SELECT v, n1, n2,
                 abs(CAST(m1 AS HUGEINT) * n2 - CAST(m2 AS HUGEINT) * n1)
                   AS num
          FROM cum, tot
        ), agg AS (
          SELECT max(n1) AS n1, max(n2) AS n2,
                 max(num) AS maxnum,
                 min(CASE WHEN num = (SELECT max(num) FROM scored)
                          THEN v END) AS loc
          FROM scored
        ), d AS (
          SELECT n1, n2, loc,
                 CAST(maxnum AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS dd,
                 CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) AS ne
          FROM agg
        ), lamt AS (
          SELECT n1, n2, loc, dd,
                 (sqrt(ne) + 0.12 + 0.11 / sqrt(ne)) * dd AS lam
          FROM d
        )
        SELECT n1 AS n_ref, n2 AS n_cur, round(dd, 6) AS d_stat,
               loc AS location,
               round(CASE WHEN lam < 0.2 THEN 1.0
                     ELSE least(1.0, greatest(0.0, 2.0 * (
                   exp(-2.0 * lam * lam) - exp(-8.0 * lam * lam)
                 + exp(-18.0 * lam * lam) - exp(-32.0 * lam * lam)
                 + exp(-50.0 * lam * lam) - exp(-72.0 * lam * lam)
                 + exp(-98.0 * lam * lam) - exp(-128.0 * lam * lam)
                 + exp(-162.0 * lam * lam) - exp(-200.0 * lam * lam)
                 + exp(-242.0 * lam * lam) - exp(-288.0 * lam * lam)
                 + exp(-338.0 * lam * lam) - exp(-392.0 * lam * lam)
                 + exp(-450.0 * lam * lam) - exp(-512.0 * lam * lam)
               ))) END, 9) AS p_approx
        FROM lamt
        """
    ).fetchall()[0]
    assert got_ks == tuple(want_ks)


def _py_prop_z(s1, n1, s2, n2):
    if n1 == 0 or n2 == 0:
        return None, None
    if s1 + s2 <= 0 or s1 + s2 >= n1 + n2:
        return None, None
    p1, p2 = s1 / n1, s2 / n2
    pool = (s1 + s2) / (n1 + n2)
    inv = 1.0 / n1 + 1.0 / n2
    sd = math.sqrt(pool * (1.0 - pool) * inv)
    cc = 0.5 * inv
    diff = p1 - p2
    if diff > cc:
        z = (diff - cc) / sd
    elif diff < -cc:
        z = (diff + cc) / sd
    else:
        z = 0.0
    return z, _py_norm_p(z)


def test_prop_ztest_matches_python_and_detects_rate_shift(spark):
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        two_proportion_ztest,
    )

    rng = random.Random(85)
    xs = [1 if rng.random() < 0.30 else 0 for _ in range(800)]
    ys = [1 if rng.random() < 0.38 else 0 for _ in range(700)]
    a = spark.createDataFrame([(v,) for v in xs], "ok long")
    b = spark.createDataFrame([(v,) for v in ys], "ok long")
    r = two_proportion_ztest(a, b, "ok").collect()[0]
    s1, s2 = sum(xs), sum(ys)
    assert (r["n_ref"], r["s_ref"], r["n_cur"], r["s_cur"]) == (
        800, s1, 700, s2,
    )
    assert r["rate_ref"] == _rnd(s1 / 800, 6)
    z, p = _py_prop_z(s1, 800, s2, 700)
    assert r["z"] == _rnd(z, 6) and r["p_value"] == _rnd(p, 9)
    assert r["p_value"] < 0.05  # the planted 8-point rate shift
    # identical rates: |diff| <= cc -> z = 0; the A&S polynomial's
    # value AT zero is exactly 0.999999999 (inside its 1.5e-7 bound)
    r0 = two_proportion_ztest(a, a, "ok").collect()[0]
    assert r0["z"] == 0.0 and r0["p_value"] == 0.999999999


def test_prop_ztest_guards_and_grouped(spark):
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        two_proportion_ztest,
    )

    # all-zero pooled rate: zero variance -> NULL z/p (exact guard)
    a = spark.createDataFrame([(0,), (0,)], "ok long")
    b = spark.createDataFrame([(0,), (0,), (0,)], "ok long")
    r = two_proportion_ztest(a, b, "ok").collect()[0]
    assert r["z"] is None and r["p_value"] is None
    assert r["rate_ref"] == 0.0 and r["rate_cur"] == 0.0
    # non-binary success value fails loud
    bad = spark.createDataFrame([(2,)], "ok long")
    with pytest.raises(Exception, match="must be 0/1"):
        two_proportion_ztest(bad, b, "ok").collect()
    with pytest.raises(Exception, match="must be 0/1"):
        two_proportion_ztest(
            a, spark.createDataFrame([(None,)], "ok long"), "ok"
        ).collect()
    # grouped: per-key isolation + one-sided groups report NULL stats
    rng = random.Random(86)
    rows_r = [("a", 1 if rng.random() < 0.2 else 0) for _ in range(300)]
    rows_r += [("b", 1 if rng.random() < 0.5 else 0) for _ in range(300)]
    rows_r += [("refonly", 1)]
    rows_c = [("a", 1 if rng.random() < 0.6 else 0) for _ in range(250)]
    rows_c += [("b", 1 if rng.random() < 0.5 else 0) for _ in range(250)]
    rows_c += [("curonly", 0)]
    ref = spark.createDataFrame(rows_r, "g string, ok long")
    cur = spark.createDataFrame(rows_c, "g string, ok long")
    got = {
        r["g"]: r
        for r in two_proportion_ztest(
            ref, cur, "ok", group_cols=["g"]
        ).collect()
    }
    assert set(got) == {"a", "b", "refonly", "curonly"}
    for g in ("a", "b"):
        s1 = sum(v for gg, v in rows_r if gg == g)
        n1 = sum(1 for gg, _ in rows_r if gg == g)
        s2 = sum(v for gg, v in rows_c if gg == g)
        n2 = sum(1 for gg, _ in rows_c if gg == g)
        z, p = _py_prop_z(s1, n1, s2, n2)
        assert got[g]["z"] == _rnd(z, 6), g
        assert got[g]["p_value"] == _rnd(p, 9), g
    assert got["a"]["p_value"] < 1e-6 and got["b"]["p_value"] > 0.01
    # one-sided groups: the test is NULL but the populated side's rate
    # stays defined (the newly-appearing segment is worth looking at)
    for g in ("refonly", "curonly"):
        assert got[g]["z"] is None and got[g]["p_value"] is None, g
    assert got["refonly"]["rate_ref"] == 1.0
    assert got["refonly"]["rate_cur"] is None
    assert got["curonly"]["rate_cur"] == 0.0
    assert got["curonly"]["rate_ref"] is None


def test_prop_ztest_duckdb_oracle_shape_cross_engine(spark):
    """The DuckDB restatement — four integer counts, the identical
    pooled/cc double expressions, the lockstep A&S p — bit-equal to
    the operator on a real rate: lineitem return-flag share, early vs
    late ship era (the r13 registry oracle, pinned ahead of
    registration)."""
    import duckdb

    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.stats import (
        NORMAL_P_TWO_SIDED_SQL,
    )
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        two_proportion_ztest,
    )

    sf = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        "l_shipdate",
        (F.col("l_returnflag") == "R").cast("long").alias("ret"),
    )
    ref = li.filter(F.col("l_shipdate") < "1996-01-01").select("ret")
    cur = li.filter(F.col("l_shipdate") >= "1996-01-01").select("ret")
    got = tuple(two_proportion_ztest(ref, cur, "ret").collect()[0])

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS"
        f" SELECT * FROM read_parquet('{sf}/lineitem.parquet')"
    )
    p_expr = NORMAL_P_TWO_SIDED_SQL.format(z="z")
    want = con.execute(
        f"""
        WITH a AS (
          SELECT CAST(count(*) AS BIGINT) AS n1,
                 CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                      AS BIGINT) AS s1
          FROM lineitem
          WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        ), b AS (
          SELECT CAST(count(*) AS BIGINT) AS n2,
                 CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                      AS BIGINT) AS s2
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        ), f AS (
          SELECT n1, s1, n2, s2,
                 CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                   - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS diff,
                 sqrt((CAST(s1 + s2 AS DOUBLE)
                       / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
                      * (1.0 - CAST(s1 + s2 AS DOUBLE)
                         / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
                      * (1.0 / CAST(n1 AS DOUBLE)
                         + 1.0 / CAST(n2 AS DOUBLE))) AS sd,
                 0.5 * (1.0 / CAST(n1 AS DOUBLE)
                        + 1.0 / CAST(n2 AS DOUBLE)) AS cc
          FROM a, b
        ), zz AS (
          SELECT n1, s1, n2, s2,
                 CASE WHEN n1 > 0 AND n2 > 0 AND s1 + s2 > 0
                           AND s1 + s2 < n1 + n2 THEN
                   CASE WHEN diff > cc THEN (diff - cc) / sd
                        WHEN diff < -cc THEN (diff + cc) / sd
                        ELSE 0.0 END
                 END AS z
          FROM f
        )
        SELECT n1 AS n_ref, s1 AS s_ref, n2 AS n_cur, s2 AS s_cur,
               round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6)
                 AS rate_ref,
               round(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6)
                 AS rate_cur,
               round(z, 6) AS z,
               round({p_expr}, 9) AS p_value
        FROM zz
        """
    ).fetchall()[0]
    assert got == tuple(want)


def test_drift_playbook_end_to_end(spark):
    """The DEPLOYMENT.md drift pipeline composed on real data:
    magnitude (grouped PSI) -> significance (grouped MWU + KS + rate
    z-test on the same split) -> multiplicity (BH over the per-type
    p-values). The day-parity split of the SAME distribution should
    yield small PSI and (after BH at FDR 5%) zero confirmed drifts —
    the pipeline's false-alarm path — while an injected +40% value
    shift on one type must survive BH as exactly that type."""
    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.drift import (
        psi_grouped,
    )
    from bangumi_notion_data_integration_project_spark.operators.stats import (
        bh_select,
    )
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        ks_two_sample,
        mann_whitney_u,
    )

    sf = "/root/testdata/sf0.001"
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_type",
        F.dayofmonth("ts").alias("dom"),
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    ref = e.filter(F.col("dom") % 2 == 0).select("event_type", "x")
    cur = e.filter(F.col("dom") % 2 == 1).select("event_type", "x")

    # no-drift path: same distribution split by day parity
    psis = {
        r["event_type"]: r["psi"]
        for r in psi_grouped(ref, cur, "x", ["event_type"], n_buckets=6)
        .select("event_type", "psi")
        .distinct()
        .collect()
    }
    # PSI magnitude carries no n: at sf0.001 the per-type samples are
    # small enough that Laplace-smoothed PSI wobbles up to ~0.2 on an
    # identical distribution — which is exactly WHY the playbook runs
    # the significance stage before alerting
    assert all(p < 0.5 for p in psis.values()), psis
    mwu = mann_whitney_u(ref, cur, "x", group_cols=["event_type"])
    sel = bh_select(
        mwu.select("event_type", "p_value"),
        "p_value",
        alpha=0.05,
        tie_cols=["event_type"],
    ).collect()
    assert not any(r["selected"] for r in sel), "false alarm on no drift"

    # injected drift: one type's cur values shifted up decisively (a
    # 1.4x scale moves AUC only to ~0.47 at n~100/side on this wide
    # distribution — an honest reminder that small-sample rank tests
    # need a real effect; the flat +100000-cent shift is unambiguous)
    cur_shift = cur.withColumn(
        "x",
        F.when(
            F.col("event_type") == "purchase",
            F.col("x") + F.lit(100000),
        ).otherwise(F.col("x")),
    )
    mwu2 = mann_whitney_u(ref, cur_shift, "x", group_cols=["event_type"])
    sel2 = {
        r["event_type"]
        for r in bh_select(
            mwu2.select("event_type", "p_value"),
            "p_value",
            alpha=0.05,
            tie_cols=["event_type"],
        ).collect()
        if r["selected"]
    }
    assert sel2 == {"purchase"}, sel2
    # KS agrees on the shifted type
    ks2 = {
        r["event_type"]: r["p_approx"]
        for r in ks_two_sample(
            ref, cur_shift, "x", group_cols=["event_type"]
        ).collect()
    }
    assert ks2["purchase"] < 1e-4


def test_mwu_ks_empty_inputs_report_zero_counts(spark):
    """Both-empty ungrouped inputs report (0, 0, NULL stats) like
    two_proportion_ztest — never a row of NULL counts (a global agg
    of zero rows sums to NULL without the coalesce)."""
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        ks_two_sample,
        mann_whitney_u,
    )

    empty = spark.createDataFrame([], "x long")
    m = mann_whitney_u(empty, empty, "x").collect()
    assert len(m) == 1
    r = m[0]
    assert (r["n_ref"], r["n_cur"], r["tie_term"]) == (0, 0, 0)
    assert r["u_stat"] is None and r["z"] is None and r["p_value"] is None

    k = ks_two_sample(empty, empty, "x").collect()
    assert len(k) == 1
    r = k[0]
    assert (r["n_ref"], r["n_cur"]) == (0, 0)
    assert r["d_stat"] is None and r["p_approx"] is None


def test_split_variants_match_two_input(spark):
    """The one-scan form must be BIT-IDENTICAL to the two-input form
    on every statistic, for every kind in ``_FROM_COUNTS`` plus the
    z-test, grouped and ungrouped: same sided-counts frame in, same
    *_from_counts tail out — the contract that let the registered
    drift queries move to one scan without re-pinning any oracle.
    Covers ties, a value present in only one era, and rows in neither
    era (side NULL == dropped by both disjoint filters)."""
    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        _FROM_COUNTS,
        ansari_bradley,
        brunner_munzel,
        chi2_homogeneity,
        cramer_von_mises,
        mood_median_test,
        two_proportion_ztest,
        two_proportion_ztest_split,
        two_sample,
        wasserstein_1,
    )

    rows = []
    rng = random.Random(27)
    for i in range(300):
        g = "ab"[i % 2]
        era = rng.choice([1, 1, 2, 2, None])  # None = outside both eras
        rows.append((g, era, rng.randrange(0, 40)))
    # a value only the ref era sees, and a group with one-sided data
    rows += [("a", 1, 999), ("c", 2, 5), ("c", 2, 5)]
    df = spark.createDataFrame(rows, "g: string, era: int, x: long")
    side = F.col("era")
    cats = df.select(
        "g", "era", "x", F.concat(F.lit("c"), F.col("x") % 5).alias("cat")
    )
    ref = cats.filter(F.col("era") == 1)
    cur = cats.filter(F.col("era") == 2)

    named = {
        "mwu": mann_whitney_u,
        "ks": ks_two_sample,
        "w1": wasserstein_1,
        "cvm": cramer_von_mises,
        "mood": mood_median_test,
        "ab": ansari_bradley,
        "bm": brunner_munzel,
        "chi2": chi2_homogeneity,
    }
    assert set(named) == set(_FROM_COUNTS)
    for kind, two_input in named.items():
        col = "cat" if kind == "chi2" else "x"
        for gc in (None, ["g"]):
            a = two_input(ref, cur, col, group_cols=gc).collect()
            b = two_sample(kind, cats, col, side, group_cols=gc).collect()
            assert list(map(tuple, a)) == list(map(tuple, b)), (kind, gc)

    flags = df.select("g", "era", (F.col("x") % 2).alias("ok"))
    fr = flags.filter(F.col("era") == 1)
    fc = flags.filter(F.col("era") == 2)
    for gc in (None, ["g"]):
        a = two_proportion_ztest(fr, fc, "ok", group_cols=gc).collect()
        b = two_proportion_ztest_split(
            flags, "ok", side, group_cols=gc
        ).collect()
        assert list(map(tuple, a)) == list(map(tuple, b)), ("ztest", gc)


def test_split_side_flag_fails_loud_on_bad_value(spark):
    """A side flag outside {1, 2, NULL} must raise, never be silently
    counted into neither era (the _checked_long fail-loud rule)."""
    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        two_sample,
    )

    df = spark.createDataFrame(
        [(1, 10), (3, 20)], "era: int, x: long"
    )
    with pytest.raises(Exception, match="side flag"):
        two_sample("mwu", df, "x", F.col("era")).collect()


def test_two_sample_rejects_an_unknown_kind(spark):
    """An unknown kind raises ValueError listing the valid kinds,
    before any plan is built."""
    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        two_sample,
    )

    df = spark.createDataFrame([(1, 10)], "era: int, x: long")
    with pytest.raises(ValueError, match="'ztest'.*'ab', 'bm', 'chi2'"):
        two_sample("ztest", df, "x", F.col("era"))
