"""Wasserstein-1, Cramér-von Mises, and Mood's median test — the r13
drift-metric completions (W1 = L1 magnitude in value units, CvM = L2
shape, Mood = maximally-robust median shift). Oracles pinned here
cross-engine BEFORE registration, the house de-risk pattern."""

from __future__ import annotations

import math
import random

import pytest

from _helpers import py_norm_p as _py_norm_p  # noqa: F401


def _rnd(v, nd):
    return None if v is None else round(v, nd)


def _two_dfs(spark, xs, ys):
    a = spark.createDataFrame([(int(x),) for x in xs], "v long")
    b = spark.createDataFrame([(int(y),) for y in ys], "v long")
    return a, b


def _py_w1(xs, ys):
    vs = sorted(set(xs) | set(ys))
    n1, n2 = len(xs), len(ys)
    m1 = m2 = 0
    tot = 0
    for v, vn in zip(vs, vs[1:]):
        m1 += sum(1 for x in xs if x == v)
        m2 += sum(1 for y in ys if y == v)
        tot += abs(m1 * n2 - m2 * n1) * (vn - v)
    return tot / (n1 * n2)


def _py_cvm(xs, ys):
    n1, n2 = len(xs), len(ys)
    nn = n1 + n2
    vs = sorted(set(xs) | set(ys))
    m1 = m2 = 0
    tq = 0
    n1d, n2d = float(n1), float(n2)
    nd = n1d + n2d
    for v in vs:
        c1 = sum(1 for x in xs if x == v)
        c2 = sum(1 for y in ys if y == v)
        m1 += c1
        m2 += c2
        diffd = float(m1 * n2 - m2 * n1)
        # mirror the operator's per-term double op order + 1e-12
        # quantization (order-free, engine-identical)
        term = float(c1 + c2) * diffd * diffd / (nd * nd * n1d * n2d)
        tq += math.floor(term * 1000000000000.0 + 0.5)
    t = tq / 1000000000000.0
    et = 1.0 / 6.0 + 1.0 / (6.0 * nn)
    vart = ((nn + 1.0) / (45.0 * nn * nn)) * (
        4.0 * n1 * n2 * nn - 3.0 * (n1 * n1 + n2 * n2) - 2.0 * n1 * n2
    ) / (4.0 * n1 * n2)
    return t, et, (t - et) / math.sqrt(vart)


def _py_mood(xs, ys):
    n1, n2 = len(xs), len(ys)
    nn = n1 + n2
    allv = sorted(xs + ys)
    med = allv[(nn + 1) // 2 - 1]  # lower median: 2*rank >= N
    a1 = sum(1 for x in xs if x > med)
    a2 = sum(1 for y in ys if y > med)
    at = a1 + a2
    if n1 == 0 or n2 == 0 or at == 0 or at == nn:
        return med, a1, a2, None, None
    cross2 = 2 * abs(a1 * (n2 - a2) - a2 * (n1 - a1))
    yates2 = max(cross2 - nn, 0)
    n1d, n2d, atd = float(n1), float(n2), float(at)
    nnd = n1d + n2d
    chi2 = (
        nnd * float(yates2) * float(yates2)
        / (4.0 * (n1d * n2d * atd * (nnd - atd)))
    )
    return med, a1, a2, chi2, _py_norm_p(math.sqrt(chi2))


def test_w1_matches_python_and_units(spark):
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        wasserstein_1,
    )

    rng = random.Random(5)
    xs = [rng.randrange(0, 200) for _ in range(150)]
    ys = [rng.randrange(0, 200) + 40 for _ in range(130)]
    a, b = _two_dfs(spark, xs, ys)
    r = wasserstein_1(a, b, "v").collect()[0]
    assert (r["n_ref"], r["n_cur"]) == (150, 130)
    assert r["w1"] == _rnd(_py_w1(xs, ys), 6)
    # a flat +40 shift of an identical sample has W1 exactly 40
    c, d = _two_dfs(spark, xs, [x + 40 for x in xs])
    assert wasserstein_1(c, d, "v").collect()[0]["w1"] == 40.0
    # identical samples: 0
    e, f = _two_dfs(spark, xs, xs)
    assert wasserstein_1(e, f, "v").collect()[0]["w1"] == 0.0


def test_cvm_matches_python_and_detects_shift(spark):
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        cramer_von_mises,
    )

    rng = random.Random(6)
    xs = [rng.randrange(0, 100) for _ in range(120)]
    ys = [rng.randrange(0, 100) + 25 for _ in range(110)]
    a, b = _two_dfs(spark, xs, ys)
    r = cramer_von_mises(a, b, "v").collect()[0]
    t, et, tstd = _py_cvm(xs, ys)
    assert r["t_stat"] == _rnd(t, 9)
    assert r["t_expected"] == _rnd(et, 9)
    assert r["t_std"] == _rnd(tstd, 6)
    assert r["t_std"] > 3.0  # the shift registers
    # identical distributions: T near its H0 expectation
    ys2 = [rng.randrange(0, 100) for _ in range(110)]
    a2, b2 = _two_dfs(spark, xs, ys2)
    r2 = cramer_von_mises(a2, b2, "v").collect()[0]
    assert abs(r2["t_std"]) < 3.0


def test_mood_matches_python_and_guards(spark):
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        mood_median_test,
    )

    rng = random.Random(7)
    xs = [rng.randrange(0, 100) for _ in range(140)]
    ys = [rng.randrange(0, 100) + 30 for _ in range(120)]
    a, b = _two_dfs(spark, xs, ys)
    r = mood_median_test(a, b, "v").collect()[0]
    med, a1, a2, chi2, p = _py_mood(xs, ys)
    assert r["median"] == med
    assert (r["n_ref_above"], r["n_cur_above"]) == (a1, a2)
    assert r["chi2"] == _rnd(chi2, 6)
    assert r["p_value"] == _rnd(p, 9)
    assert r["p_value"] < 0.01  # Mood is deliberately blunt — a +30
    # shift on range-100 uniforms lands ~2e-4, not MWU's 1e-12
    # all values equal: everybody at-or-below the median -> NULL chi2/p
    c, d = _two_dfs(spark, [5, 5, 5], [5, 5])
    r2 = mood_median_test(c, d, "v").collect()[0]
    assert r2["median"] == 5 and r2["chi2"] is None and r2["p_value"] is None


def test_driftmetrics_grouped_isolate_and_one_sided(spark):
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        cramer_von_mises,
        mood_median_test,
        wasserstein_1,
    )

    rng = random.Random(8)
    rows_r, rows_c, series = [], [], {}
    for g, shift in (("a", 50), ("b", 0)):
        xs = [rng.randrange(0, 80) for _ in range(90)]
        ys = [rng.randrange(0, 80) + shift for _ in range(85)]
        series[g] = (xs, ys)
        rows_r += [(g, x) for x in xs]
        rows_c += [(g, y) for y in ys]
    rows_r += [("refonly", 7)]
    ref = spark.createDataFrame(rows_r, "g string, v long")
    cur = spark.createDataFrame(rows_c, "g string, v long")

    w = {r["g"]: r for r in wasserstein_1(ref, cur, "v", group_cols=["g"]).collect()}
    for g, (xs, ys) in series.items():
        assert w[g]["w1"] == _rnd(_py_w1(xs, ys), 6), g
    assert w["refonly"]["w1"] is None and w["refonly"]["n_cur"] == 0

    c = {r["g"]: r for r in cramer_von_mises(ref, cur, "v", group_cols=["g"]).collect()}
    for g, (xs, ys) in series.items():
        assert c[g]["t_stat"] == _rnd(_py_cvm(xs, ys)[0], 9), g
    assert c["refonly"]["t_stat"] is None

    m = {r["g"]: r for r in mood_median_test(ref, cur, "v", group_cols=["g"]).collect()}
    for g, (xs, ys) in series.items():
        pm = _py_mood(xs, ys)
        assert (m[g]["median"], m[g]["chi2"]) == (pm[0], _rnd(pm[3], 6)), g
    assert m["refonly"]["chi2"] is None

    # NULL value fails loud with each op's name
    bad = spark.createDataFrame([(1,), (None,)], "v long")
    good = spark.createDataFrame([(1,)], "v long")
    for fn, nm in (
        (wasserstein_1, "wasserstein_1"),
        (cramer_von_mises, "cramer_von_mises"),
        (mood_median_test, "mood_median_test"),
    ):
        with pytest.raises(Exception, match=f"{nm}: NULL value"):
            fn(bad, good, "v").collect()


def test_driftmetrics_empty_inputs_report_zero_counts(spark):
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        ansari_bradley,
        cramer_von_mises,
        mood_median_test,
        wasserstein_1,
    )

    empty = spark.createDataFrame([], "v long")
    r = wasserstein_1(empty, empty, "v").collect()[0]
    assert (r["n_ref"], r["n_cur"], r["w1"]) == (0, 0, None)
    r = cramer_von_mises(empty, empty, "v").collect()[0]
    assert (r["n_ref"], r["n_cur"], r["t_stat"]) == (0, 0, None)
    r = ansari_bradley(empty, empty, "v").collect()[0]
    assert (r["n_ref"], r["n_cur"], r["ab_stat"], r["z"]) == (
        0, 0, None, None,
    )
    # mood's median frame is empty-join-left: counts survive, stats NULL
    rows = mood_median_test(empty, empty, "v").collect()
    assert len(rows) == 1
    assert (rows[0]["n_ref"], rows[0]["n_cur"]) == (0, 0)
    assert rows[0]["chi2"] is None and rows[0]["p_value"] is None


def test_driftmetrics_duckdb_oracle_shapes_cross_engine(spark):
    """The DuckDB restatements — cumulative sided counts with the lead
    gap for W1, the weighted squared-difference sum with Anderson's
    moments for CvM, the order-statistic median + Yates 2x2 for Mood
    (p via the lockstep A&S polynomial) — bit-equal to the operators
    on the real early-vs-late order price split: the r13 registry
    oracles, pinned ahead of registration."""
    import duckdb

    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.stats import (
        NORMAL_P_TWO_SIDED_SQL,
    )
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        cramer_von_mises,
        mood_median_test,
        wasserstein_1,
    )

    sf = "/root/testdata/sf0.001"
    o = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    ref = o.filter(F.col("o_orderdate") < "1998-01-01").select("x")
    cur = o.filter(F.col("o_orderdate") >= "1998-01-01").select("x")
    got_w1 = tuple(wasserstein_1(ref, cur, "x").collect()[0])
    got_cvm = tuple(cramer_von_mises(ref, cur, "x").collect()[0])
    got_mood = tuple(mood_median_test(ref, cur, "x").collect()[0])

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS"
        f" SELECT * FROM read_parquet('{sf}/orders.parquet')"
    )
    sides = """
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
          SELECT v, c1, c2,
                 CAST(sum(c1) OVER w AS BIGINT) AS m1,
                 CAST(sum(c2) OVER w AS BIGINT) AS m2,
                 lead(v) OVER (ORDER BY v) AS vnext
          FROM vc
          WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW)
        ), tot AS (
          SELECT CAST(max(m1) AS BIGINT) AS n1,
                 CAST(max(m2) AS BIGINT) AS n2
          FROM cum
        )
    """
    want_w1 = con.execute(
        sides
        + """
        SELECT n1 AS n_ref, n2 AS n_cur,
               round(CAST(sum(abs(CAST(m1 AS HUGEINT) * n2
                                  - CAST(m2 AS HUGEINT) * n1)
                              * coalesce(CAST(vnext AS HUGEINT)
                                         - CAST(v AS HUGEINT), 0))
                          AS DOUBLE)
                     / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6)
                 AS w1
        FROM cum, tot GROUP BY n1, n2
        """
    ).fetchall()[0]
    assert got_w1 == tuple(want_w1)

    want_cvm = con.execute(
        sides
        + """
        , agg AS (
          SELECT max(n1) AS n1, max(n2) AS n2,
                 sum(CASE WHEN n1 > 0 AND n2 > 0 THEN
                   CAST(round(
                   CAST(c1 + c2 AS DOUBLE)
                   * CAST(CAST(m1 AS HUGEINT) * n2
                          - CAST(m2 AS HUGEINT) * n1 AS DOUBLE)
                   * CAST(CAST(m1 AS HUGEINT) * n2
                          - CAST(m2 AS HUGEINT) * n1 AS DOUBLE)
                   / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                      * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                      * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                   * 1000000000000.0) AS HUGEINT)
                   ELSE 0 END) AS tq
          FROM cum, tot
        ), f AS (
          SELECT n1, n2,
                 CAST(tq AS DOUBLE) / 1000000000000.0 AS t,
                 1.0 / 6.0 + 1.0 / (6.0 * (CAST(n1 AS DOUBLE) + n2)) AS et,
                 ((CAST(n1 AS DOUBLE) + n2 + 1.0)
                  / (45.0 * (CAST(n1 AS DOUBLE) + n2)
                     * (CAST(n1 AS DOUBLE) + n2)))
                 * (4.0 * n1 * n2 * (CAST(n1 AS DOUBLE) + n2)
                    - 3.0 * (CAST(n1 AS DOUBLE) * n1 + CAST(n2 AS DOUBLE) * n2)
                    - 2.0 * CAST(n1 AS DOUBLE) * n2)
                 / (4.0 * CAST(n1 AS DOUBLE) * n2) AS vart
          FROM agg
        )
        SELECT n1 AS n_ref, n2 AS n_cur, round(t, 9) AS t_stat,
               round(et, 9) AS t_expected,
               round((t - et) / sqrt(vart), 6) AS t_std
        FROM f
        """
    ).fetchall()[0]
    assert got_cvm == tuple(want_cvm)

    p_expr = NORMAL_P_TWO_SIDED_SQL.format(z="sqrt(chi2)")
    want_mood = con.execute(
        sides
        + f"""
        , med AS (
          SELECT min(v) AS median
          FROM cum, tot WHERE 2 * (m1 + m2) >= n1 + n2
        ), atmed AS (
          SELECT c.m1, c.m2
          FROM cum c, med WHERE c.v = med.median
        ), tab AS (
          SELECT n1, n2, median,
                 CAST(n1 - m1 AS BIGINT) AS a1,
                 CAST(n2 - m2 AS BIGINT) AS a2
          FROM tot, med, atmed
        ), f AS (
          SELECT n1, n2, median, a1, a2,
                 greatest(2 * abs(CAST(a1 AS HUGEINT) * (n2 - a2)
                                  - CAST(a2 AS HUGEINT) * (n1 - a1))
                          - (n1 + n2), 0) AS yates2
          FROM tab
        ), zc AS (
          SELECT n1, n2, median, a1, a2,
                 CASE WHEN a1 + a2 > 0 AND a1 + a2 < n1 + n2 THEN
                   (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                   * CAST(yates2 AS DOUBLE) * CAST(yates2 AS DOUBLE)
                   / (4.0 * (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                             * CAST(a1 + a2 AS DOUBLE)
                             * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                                - CAST(a1 + a2 AS DOUBLE))))
                 END AS chi2
          FROM f
        )
        SELECT n1 AS n_ref, n2 AS n_cur, median,
               a1 AS n_ref_above, a2 AS n_cur_above,
               round(chi2, 6) AS chi2,
               round({p_expr}, 9) AS p_value
        FROM zc
        """
    ).fetchall()[0]
    assert got_mood == tuple(want_mood)


def test_one_sided_counts_state_serves_all_verdicts(spark, tmp_path):
    """The two-sample family are pure functions of one sided-counts
    table: after draining a stream through start_streaming_mwu, the
    SAME stored state serves all seven verdicts — MWU, KS, W1, CvM,
    Mood, AB, BM — equal to the batch operators on ref vs the
    delivered union ("one fold, seven verdicts", the DEPLOYMENT.md
    dashboard-contract claim as a single executable assertion)."""
    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        _FROM_COUNTS,
        ansari_bradley,
        brunner_munzel,
        cramer_von_mises,
        ks_two_sample,
        mann_whitney_u,
        mood_median_test,
        wasserstein_1,
    )
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        read_event_stream,
        read_streaming_two_sample,
        start_streaming_mwu,
    )

    rng = random.Random(31)
    SCHEMA = (
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double"
    )

    def rows_df(rows):
        return spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long,"
            " event_type string, value double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    ref_rows = [
        (10_000 + i, "2024-01-01 00:00:00", 1, "r",
         float(rng.randrange(0, 200)))
        for i in range(200)
    ]
    ref_df = rows_df(ref_rows).select(
        F.round(F.col("value")).cast("long").alias("x")
    )
    batches = [
        [(b * 1000 + i, "2024-01-02 00:00:00", 2, "c",
          float(rng.randrange(0, 200) + b * 30))
         for i in range(90)]
        for b in range(2)
    ]
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    for chunk in batches:
        rows_df(chunk).coalesce(1).write.mode("append").parquet(inp)
    q = start_streaming_mwu(
        read_event_stream(spark, inp, SCHEMA).select(
            F.round(F.col("value")).cast("long").alias("x"), F.col("ts")
        ),
        state,
        value_col="x",
        ref=ref_df,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    cur = rows_df([r for b in batches for r in b]).select(
        F.round(F.col("value")).cast("long").alias("x")
    )
    batch = {
        "mwu": mann_whitney_u,
        "ks": ks_two_sample,
        "w1": wasserstein_1,
        "cvm": cramer_von_mises,
        "mood": mood_median_test,
        "ab": ansari_bradley,
        "bm": brunner_munzel,
    }
    assert set(batch) == {
        kind for kind, (_, key, _) in _FROM_COUNTS.items() if key == "__v"
    }
    for kind, batch_fn in batch.items():
        got = tuple(read_streaming_two_sample(spark, state, kind).collect()[0])
        want = tuple(batch_fn(ref_df, cur, "x").collect()[0])
        assert got == want, kind


def test_driftmetrics_overflow_regressions(spark):
    """The review-confirmed crash inputs, fed straight into the formula
    tails as synthetic sided-counts frames (no giant data needed):
    CvM at ~1e8 rows/side used to NUMERIC_VALUE_OUT_OF_RANGE on the
    exact DECIMAL w·diff² sum; W1 on a value span wider than 2^63 used
    to ARITHMETIC_OVERFLOW in the long gap subtraction; Mood at ~4e9
    rows/side used to overflow the exact DECIMAL denominator. All now
    return finite statistics."""
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        _cvm_from_counts,
        _mood_from_counts,
        _w1_from_counts,
    )

    # CvM: three distinct values, tens of millions per cell
    vc = spark.createDataFrame(
        [(1, 40_000_000, 10_000_000),
         (2, 30_000_000, 30_000_000),
         (3, 10_000_000, 40_000_000)],
        "__v long, __c1 long, __c2 long",
    )
    r = _cvm_from_counts(vc, []).collect()[0]
    assert r["n_ref"] == 80_000_000 and r["t_stat"] is not None
    assert r["t_stat"] > 0 and r["t_std"] > 0

    # W1: value span wider than 2^63
    vc2 = spark.createDataFrame(
        [(-(2**62), 3, 1), (2**62, 1, 3)],
        "__v long, __c1 long, __c2 long",
    )
    r2 = _w1_from_counts(vc2, []).collect()[0]
    # |F1-F2| = |3*4 - 1*4|/16 = 0.5 over a 2^63 span
    assert r2["w1"] == round(0.5 * 2.0**63, 6)

    # Mood: ~4e9 per side (den ~ 2.6e38 would overflow DECIMAL(38,0))
    vc3 = spark.createDataFrame(
        [(1, 2_000_000_000, 1_000_000_000),
         (2, 1_000_000_000, 1_500_000_000),
         (3, 1_000_000_000, 1_500_000_000)],
        "__v long, __c1 long, __c2 long",
    )
    r3 = _mood_from_counts(vc3, []).collect()[0]
    assert r3["chi2"] is not None and r3["chi2"] > 0
    assert r3["p_value"] is not None


def _py_kw(data):
    """Python reference mirroring the operator's quantized op order."""
    from collections import Counter

    allv = [v for xs in data.values() for v in xs]
    n = len(allv)
    cnt = Counter(allv)
    r2 = {}
    acc = 0
    for v in sorted(cnt):
        r2[v] = 2 * acc + cnt[v] + 1
        acc += cnt[v]
    hq = 0
    for xs in data.values():
        two_r = sum(r2[x] for x in xs)
        term = (
            float(two_r) * float(two_r) / float(len(xs))
            / (float(n) * (float(n) + 1.0)) * 1e9
        )
        hq += math.floor(term + 0.5)
    h = 3.0 * (hq / 1e9) - 3.0 * (float(n) + 1.0)
    tie = sum(t**3 - t for t in cnt.values())
    c = 1.0 - float(tie) / (float(n) ** 3 - float(n))
    hc = h / c
    k = len(data)
    dfree = float(k - 1)
    z = (
        (hc / dfree) ** (1.0 / 3.0) - (1.0 - 2.0 / (9.0 * dfree))
    ) / math.sqrt(2.0 / (9.0 * dfree))
    np2 = _py_norm_p(z)
    p = np2 / 2.0 if z >= 0 else 1.0 - np2 / 2.0
    return n, k, h, tie, hc, z, p


def test_kruskal_wallis_matches_python_and_detects_drift(spark):
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        kruskal_wallis,
    )

    rng = random.Random(3)
    data = {
        g: [rng.randrange(0, 100) + s for _ in range(120)]
        for g, s in (("a", 0), ("b", 0), ("c", 25))
    }
    rows = [(g, x) for g, xs in data.items() for x in xs]
    df = spark.createDataFrame(rows, "g string, v long")
    r = kruskal_wallis(df, "g", "v").collect()[0]
    n, k, h, tie, hc, z, p = _py_kw(data)
    assert (r["n_total"], r["k_groups"], r["tie_term"]) == (n, k, tie)
    assert r["h_stat"] == _rnd(h, 6)
    assert r["h_corrected"] == _rnd(hc, 6)
    assert r["z_wh"] == _rnd(z, 6)
    assert r["p_value"] == _rnd(p, 9)
    assert r["p_value"] < 1e-4  # the shifted group registers

    # no drift: identical distributions, large p
    data2 = {
        g: [rng.randrange(0, 100) for _ in range(110)]
        for g in ("a", "b", "c", "d")
    }
    df2 = spark.createDataFrame(
        [(g, x) for g, xs in data2.items() for x in xs],
        "g string, v long",
    )
    r2 = kruskal_wallis(df2, "g", "v").collect()[0]
    assert r2["p_value"] > 0.01
    assert r2["deg_f"] == 3


def test_kruskal_wallis_degenerates_and_outer_groups(spark):
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        kruskal_wallis,
    )

    # single group: no between-group test exists
    one = spark.createDataFrame([("a", 1), ("a", 2)], "g string, v long")
    r = kruskal_wallis(one, "g", "v").collect()[0]
    assert r["k_groups"] == 1
    assert r["h_stat"] is None and r["p_value"] is None

    # all-tied pool: exact N^3-N == tie guard -> NULL stats
    tied = spark.createDataFrame(
        [("a", 5), ("a", 5), ("b", 5)], "g string, v long"
    )
    r2 = kruskal_wallis(tied, "g", "v").collect()[0]
    assert r2["tie_term"] == 24 and r2["h_stat"] is None

    # outer groups isolate: a drifting region next to a flat one
    rng = random.Random(9)
    rows = []
    for region, shift in (("east", 40), ("west", 0)):
        for g in ("a", "b"):
            s = shift if g == "b" else 0
            rows += [
                (region, g, rng.randrange(0, 80) + s) for _ in range(100)
            ]
    df = spark.createDataFrame(rows, "region string, g string, v long")
    got = {
        r["region"]: r
        for r in kruskal_wallis(
            df, "g", "v", outer_group_cols=["region"]
        ).collect()
    }
    assert got["east"]["p_value"] < 1e-4
    assert got["west"]["p_value"] > 0.01

    # NULL group key / value fail loud
    import pytest as _pytest

    badv = spark.createDataFrame([("a", 1), ("a", None)], "g string, v long")
    with _pytest.raises(Exception, match="kruskal_wallis: NULL value"):
        kruskal_wallis(badv, "g", "v").collect()
    badg = spark.createDataFrame([("a", 1), (None, 2)], "g string, v long")
    with _pytest.raises(Exception, match="kruskal_wallis"):
        kruskal_wallis(badg, "g", "v").collect()


def test_kruskal_wallis_duckdb_oracle_shape_cross_engine(spark):
    """The DuckDB restatement — pooled doubled ranks from two RANGE
    windows over the (group, value) count aggregate, quantized
    per-group H contributions, Wilson-Hilferty z through the lockstep
    A&S polynomial — bit-equal on the real per-type event values (the
    r13 registry oracle, pinned ahead of registration)."""
    import duckdb

    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.stats import (
        NORMAL_P_TWO_SIDED_SQL,
    )
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        kruskal_wallis,
    )

    sf = "/root/testdata/sf0.001"
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    got = tuple(kruskal_wallis(e, "event_type", "x").collect()[0])

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS"
        f" SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    p_expr = NORMAL_P_TWO_SIDED_SQL.format(z="z")
    want = con.execute(
        f"""
        WITH vals AS (
          SELECT event_type AS g,
                 CAST(round(value * 100) AS BIGINT) AS v
          FROM events
        ), vc AS (
          SELECT g, v, CAST(count(*) AS BIGINT) AS c
          FROM vals GROUP BY g, v
        ), rk AS (
          SELECT g, c,
                 CAST(coalesce(sum(c) OVER (ORDER BY v RANGE BETWEEN
                      UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS lt,
                 CAST(sum(c) OVER (ORDER BY v RANGE BETWEEN UNBOUNDED
                      PRECEDING AND CURRENT ROW) AS BIGINT) AS le
          FROM vc
        ), rr AS (
          SELECT g, c, (le - lt) AS t,
                 CAST(2 * lt + (le - lt) + 1 AS BIGINT) AS r2
          FROM rk
        ), pg AS (
          SELECT g, CAST(sum(c) AS BIGINT) AS n_g,
                 CAST(sum(CAST(c AS HUGEINT) * r2) AS HUGEINT) AS r2g,
                 CAST(sum(CAST(c AS HUGEINT)
                          * (CAST(t AS HUGEINT) * t - 1)) AS HUGEINT)
                   AS tie_g
          FROM rr GROUP BY g
        ), tot AS (
          SELECT CAST(sum(n_g) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(tie_g) AS BIGINT) AS tie
          FROM pg
        ), hq AS (
          SELECT CAST(sum(CAST(round(
                   CAST(r2g AS DOUBLE) * CAST(r2g AS DOUBLE)
                   / CAST(n_g AS DOUBLE)
                   / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
                   * 1000000000.0) AS HUGEINT)) AS HUGEINT) AS hqv
          FROM pg, tot
        ), f AS (
          SELECT n, k, tie,
                 3.0 * (CAST(hqv AS DOUBLE) / 1000000000.0)
                   - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h,
                 1.0 - CAST(tie AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                      * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) AS c_corr
          FROM tot, hq
        ), zc AS (
          SELECT n, k, tie, h, h / c_corr AS hc,
                 (cbrt(h / c_corr / CAST(k - 1 AS DOUBLE))
                  - (1.0 - 2.0 / (9.0 * CAST(k - 1 AS DOUBLE))))
                 / sqrt(2.0 / (9.0 * CAST(k - 1 AS DOUBLE))) AS z
          FROM f
        )
        SELECT n AS n_total, k AS k_groups, round(h, 6) AS h_stat,
               tie AS tie_term, round(hc, 6) AS h_corrected,
               CAST(k - 1 AS BIGINT) AS deg_f, round(z, 6) AS z_wh,
               round(CASE WHEN z >= 0 THEN ({p_expr}) / 2.0
                     ELSE 1.0 - ({p_expr}) / 2.0 END, 9) AS p_value
        FROM zc
        """
    ).fetchall()[0]
    assert got == tuple(want)


def test_kruskal_wallis_long_min_and_decimal_tie_term(spark):
    """Two review-confirmed crash classes: a Long.MIN value used to
    overflow the rangeBetween(…, -1) frame bound arithmetic (the rank
    windows now use a currentRow RANGE + an unordered peer partition);
    and tie_term is published as exact DECIMAL(38,0) — a LONG cast
    would crash the omnibus gate once the pooled Σ(t³−t) passes 2⁶³
    (~2M repeats per value)."""
    from decimal import Decimal

    from pyspark.sql.types import DecimalType

    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        kruskal_wallis,
    )

    df = spark.createDataFrame(
        [("a", -(2**63)), ("a", 5), ("b", 5), ("b", 7)],
        "g string, v long",
    )
    r = kruskal_wallis(df, "g", "v").collect()[0]
    assert r["n_total"] == 4 and r["k_groups"] == 2
    assert r["tie_term"] == Decimal(6)  # one pooled pair: 2^3 - 2
    out_schema = {
        f.name: f.dataType
        for f in kruskal_wallis(df, "g", "v").schema.fields
    }
    assert isinstance(out_schema["tie_term"], DecimalType)


def _py_dunn(data):
    """Python reference mirroring the operator's exact double op
    order: doubled pooled ranks, exact tie term, pairwise z."""
    from collections import Counter

    allv = [v for xs in data.values() for v in xs]
    n = len(allv)
    cnt = Counter(allv)
    r2 = {}
    acc = 0
    for v in sorted(cnt):
        r2[v] = 2 * acc + cnt[v] + 1
        acc += cnt[v]
    tie = sum(t**3 - t for t in cnt.values())
    res = {}
    ga = sorted(data)
    nd = float(n)
    for i in range(len(ga)):
        for j in range(i + 1, len(ga)):
            gi, gj = ga[i], ga[j]
            ni, nj = len(data[gi]), len(data[gj])
            mi = float(sum(r2[x] for x in data[gi])) / (2.0 * float(ni))
            mj = float(sum(r2[x] for x in data[gj])) / (2.0 * float(nj))
            if n < 2 or (n**3 - n) <= tie:
                res[(gi, gj)] = (ni, nj, mi, mj, None, None)
                continue
            var = (
                nd * (nd + 1.0) / 12.0
                - float(tie) / (12.0 * (nd - 1.0))
            ) * (1.0 / float(ni) + 1.0 / float(nj))
            z = (mi - mj) / math.sqrt(var)
            res[(gi, gj)] = (ni, nj, mi, mj, z, _py_norm_p(z))
    return n, tie, res


def test_dunn_matches_python_and_names_the_moved_group(spark):
    """Planted shift in ONE group: Dunn's BH-selected pairs are
    exactly the two involving the shifted group, with z/p matching the
    Python reference bit-for-bit."""
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        dunn_test,
    )

    rng = random.Random(7)
    data = {
        g: [rng.randrange(0, 100) + s for _ in range(150)]
        for g, s in (("a", 0), ("b", 0), ("c", 35))
    }
    rows = [(g, x) for g, xs in data.items() for x in xs]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {
        (r["group_a"], r["group_b"]): r
        for r in dunn_test(df, "g", "v").collect()
    }
    n, tie, want = _py_dunn(data)
    assert set(got) == set(want)
    for pair, (ni, nj, mi, mj, z, p) in want.items():
        r = got[pair]
        assert (r["n_a"], r["n_b"]) == (ni, nj)
        assert r["mean_rank_a"] == _rnd(mi, 6)
        assert r["mean_rank_b"] == _rnd(mj, 6)
        assert r["z"] == _rnd(z, 6)
        assert r["p_value"] == _rnd(p, 9)
    assert {p for p, r in got.items() if r["selected"]} == {
        ("a", "c"),
        ("b", "c"),
    }
    assert all(r["m_tests"] == 3 for r in got.values())


def test_dunn_degenerates_and_outer_groups(spark):
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        dunn_test,
    )

    # all-tied pool: exact N^3-N <= tie guard -> NULL z/p, never
    # selected, not counted toward m (the bh_select NULL-p contract)
    tied = spark.createDataFrame(
        [("a", 5), ("a", 5), ("b", 5)], "g string, v long"
    )
    r = dunn_test(tied, "g", "v").collect()[0]
    assert r["z"] is None and r["p_value"] is None
    assert not r["selected"] and r["p_rank"] is None

    # k < 2 groups: ONE explicit NULL-pair degenerate row (the KW
    # convention), never a silently empty result — ungrouped lone
    # group, ungrouped empty input, and a mixed grouped frame where
    # only the one-group key degenerates
    one = spark.createDataFrame([("a", 1), ("a", 2)], "g string, v long")
    rows1 = dunn_test(one, "g", "v").collect()
    assert len(rows1) == 1
    r1 = rows1[0]
    assert (r1["group_a"], r1["group_b"], r1["n_a"]) == ("a", None, 2)
    assert r1["z"] is None and r1["p_value"] is None
    assert not r1["selected"]
    empty = spark.createDataFrame([], "g string, v long")
    rows0 = dunn_test(empty, "g", "v").collect()
    assert len(rows0) == 1 and rows0[0]["group_a"] is None
    assert not rows0[0]["selected"]
    mixed = spark.createDataFrame(
        [("r1", "a", 1), ("r1", "b", 2), ("r1", "a", 3), ("r1", "b", 5),
         ("r2", "only", 7)],
        "region string, g string, v long",
    )
    got_m = {
        r["region"]: r
        for r in dunn_test(
            mixed, "g", "v", outer_group_cols=["region"]
        ).collect()
    }
    assert got_m["r1"]["group_b"] == "b"  # the real pair survives
    assert (got_m["r2"]["group_a"], got_m["r2"]["group_b"]) == ("only", None)
    assert got_m["r2"]["n_a"] == 1 and got_m["r2"]["p_value"] is None

    # outer groups isolate: the shifted pair selects only in the
    # drifting region
    rng = random.Random(11)
    rows = []
    for region, shift in (("east", 45), ("west", 0)):
        for g, s in (("a", 0), ("b", shift)):
            rows += [
                (region, g, rng.randrange(0, 80) + s) for _ in range(120)
            ]
    df = spark.createDataFrame(rows, "region string, g string, v long")
    got = {
        r["region"]: r
        for r in dunn_test(
            df, "g", "v", outer_group_cols=["region"]
        ).collect()
    }
    assert got["east"]["selected"] and got["east"]["p_value"] < 1e-4
    assert not got["west"]["selected"]

    # NULL group key / value fail loud
    badv = spark.createDataFrame([("a", 1), ("a", None)], "g string, v long")
    with pytest.raises(Exception, match="dunn_test: NULL value"):
        dunn_test(badv, "g", "v").collect()


def test_dunn_reuses_the_kw_rank_fold_verdict_consistency(spark):
    """Omnibus→post-hoc consistency on the same input: when KW
    rejects, at least one Dunn pair selects; when KW retains at a
    loose α, no pair's raw p beats the omnibus signal by orders of
    magnitude (both read the SAME pooled doubled ranks, so a
    contradiction would mean the folds diverged)."""
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        dunn_test,
        kruskal_wallis,
    )

    rng = random.Random(13)
    data = {
        g: [rng.randrange(0, 100) + s for _ in range(130)]
        for g, s in (("a", 0), ("b", 0), ("c", 30), ("d", 0))
    }
    rows = [(g, x) for g, xs in data.items() for x in xs]
    df = spark.createDataFrame(rows, "g string, v long")
    kw = kruskal_wallis(df, "g", "v").collect()[0]
    pairs = dunn_test(df, "g", "v").collect()
    assert kw["p_value"] < 0.05
    sel = {(r["group_a"], r["group_b"]) for r in pairs if r["selected"]}
    # every pair involving the planted group selects; the step-up rule
    # may additionally pull in a borderline null pair whose rank falls
    # under i_max (correct BH behavior, not asserted either way)
    assert {("a", "c"), ("b", "c"), ("c", "d")} <= sel
    # and the planted pairs carry the smallest p-values
    by_p = sorted(pairs, key=lambda r: r["p_value"])
    assert all("c" in (r["group_a"], r["group_b"]) for r in by_p[:3])


def test_dunn_duckdb_oracle_shape_cross_engine(spark):
    """The DuckDB restatement — the identical pooled-doubled-rank
    CTEs as the KW oracle, a pairwise self-join of the O(k)-row group
    frame, the lockstep A&S p, and the BH step-up restated relationally
    — bit-equal on the real per-type event values (the r14 registry
    oracle, pinned ahead of registration)."""
    import duckdb

    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.stats import (
        NORMAL_P_TWO_SIDED_SQL,
    )
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        dunn_test,
    )

    sf = "/root/testdata/sf0.001"
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    got = [tuple(r) for r in dunn_test(e, "event_type", "x").collect()]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS"
        f" SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    p_expr = NORMAL_P_TWO_SIDED_SQL.format(z="z")
    want = con.execute(
        f"""
        WITH vals AS (
          SELECT event_type AS g,
                 CAST(round(value * 100) AS BIGINT) AS v
          FROM events
        ), vc AS (
          SELECT g, v, CAST(count(*) AS BIGINT) AS c
          FROM vals GROUP BY g, v
        ), rk AS (
          SELECT g, c,
                 CAST(coalesce(sum(c) OVER (ORDER BY v RANGE BETWEEN
                      UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS lt,
                 CAST(sum(c) OVER (ORDER BY v RANGE BETWEEN UNBOUNDED
                      PRECEDING AND CURRENT ROW) AS BIGINT) AS le
          FROM vc
        ), rr AS (
          SELECT g, c, (le - lt) AS t,
                 CAST(2 * lt + (le - lt) + 1 AS BIGINT) AS r2
          FROM rk
        ), pg AS (
          SELECT g, CAST(sum(c) AS BIGINT) AS n_g,
                 CAST(sum(CAST(c AS HUGEINT) * r2) AS HUGEINT) AS r2g,
                 CAST(sum(CAST(c AS HUGEINT)
                          * (CAST(t AS HUGEINT) * t - 1)) AS HUGEINT)
                   AS tie_g
          FROM rr GROUP BY g
        ), tot AS (
          SELECT CAST(sum(n_g) AS BIGINT) AS n,
                 CAST(sum(tie_g) AS HUGEINT) AS tie
          FROM pg
        ), pairs AS (
          SELECT a.g AS ga, b.g AS gb, a.n_g AS na, b.n_g AS nb,
                 a.r2g AS ra, b.r2g AS rb
          FROM pg a JOIN pg b ON a.g < b.g
        ), f AS (
          SELECT ga, gb, na, nb, n, tie,
                 CAST(ra AS DOUBLE) / (2.0 * CAST(na AS DOUBLE)) AS ma,
                 CAST(rb AS DOUBLE) / (2.0 * CAST(nb AS DOUBLE)) AS mb,
                 (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 12.0
                  - CAST(tie AS DOUBLE)
                    / (12.0 * (CAST(n AS DOUBLE) - 1.0)))
                 * (1.0 / CAST(na AS DOUBLE)
                    + 1.0 / CAST(nb AS DOUBLE)) AS var
          FROM pairs, tot
        ), zz AS (
          SELECT ga, gb, na, nb, ma, mb,
                 CASE WHEN n >= 2 AND (CAST(n AS HUGEINT) * n * n - n)
                           > tie
                      THEN (ma - mb) / sqrt(var) END AS z
          FROM f
        ), scored AS (
          SELECT ga, gb, na, nb,
                 round(ma, 6) AS mean_rank_a,
                 round(mb, 6) AS mean_rank_b,
                 round(z, 6) AS zr,
                 round({p_expr}, 9) AS p
          FROM zz
        ), nn AS (
          SELECT *,
                 CAST(row_number() OVER (ORDER BY p, ga, gb) AS BIGINT)
                   AS p_rank,
                 CAST(count(*) OVER () AS BIGINT) AS m_tests
          FROM scored WHERE p IS NOT NULL
        ), th AS (
          SELECT *, round(CAST(p_rank AS DOUBLE) * 0.05
                          / CAST(m_tests AS DOUBLE), 9) AS bh_threshold
          FROM nn
        ), im AS (
          SELECT CAST(coalesce(max(CASE WHEN p <= bh_threshold
                                        THEN p_rank END), 0) AS BIGINT)
                   AS imax
          FROM th
        )
        SELECT ga AS group_a, gb AS group_b, na AS n_a, nb AS n_b,
               mean_rank_a, mean_rank_b, zr AS z, p AS p_value,
               p_rank, m_tests, bh_threshold,
               p_rank <= imax AS selected
        FROM th, im
        ORDER BY group_a, group_b
        """
    ).fetchall()
    assert got == [tuple(w) for w in want]


def _py_ab(xs, ys):
    """Python Ansari-Bradley mirroring the operator's doubled block
    scores and quantized double op order."""
    from collections import Counter

    n1, n2 = len(xs), len(ys)
    nn = n1 + n2
    c1 = Counter(xs)
    c2 = Counter(ys)
    h = (nn + 1) // 2
    m = qt = qss = s2tot = 0
    for v in sorted(set(xs) | set(ys)):
        t = c1[v] + c2[v]
        m += t
        a_, b_ = m - t + 1, m
        lo = min(b_, h)
        s2 = (lo + a_) * (lo - a_ + 1) if a_ <= lo else 0
        up = max(a_, h + 1)
        if b_ >= up:
            s2 += (2 * nn + 2 - up - b_) * (b_ - up + 1)
        qt += math.floor(
            float(c1[v]) * float(s2) / (2.0 * float(t)) * 1e9 + 0.5
        )
        qss += math.floor(
            float(s2) * float(s2) / (4.0 * float(t)) * 1e9 + 0.5
        )
        s2tot += s2
    t_stat = qt / 1e9
    abar = float(s2tot) / (2.0 * float(nn))
    e_t = float(n1) * abar
    varsum = qss / 1e9 - float(nn) * abar * abar
    var = float(n1) * float(n2) / (float(nn) * (float(nn) - 1.0)) * varsum
    if n1 == 0 or n2 == 0 or nn < 2 or var <= 0:
        return t_stat, e_t, None, None
    z = (t_stat - e_t) / math.sqrt(var)
    return t_stat, e_t, z, _py_norm_p(z)


def test_ab_matches_python_and_detects_scale_drift(spark):
    """Dispersion leg: same center, 3× the spread → AB pages; same
    distribution → it does not; statistics match the Python reference
    bit-for-bit. Textbook anchor: untied 1..4 pooled scores are
    (1,2,2,1), so an even ref/cur split has E[T] = n₁·6/4."""
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        ansari_bradley,
    )

    rng = random.Random(5)
    xs = [rng.randrange(-50, 51) for _ in range(200)]
    ys = [3 * rng.randrange(-50, 51) for _ in range(180)]
    a, b = _two_dfs(spark, xs, ys)
    r = ansari_bradley(a, b, "v").collect()[0]
    t, e, z, p = _py_ab(xs, ys)
    assert (r["n_ref"], r["n_cur"]) == (200, 180)
    assert r["ab_stat"] == _rnd(t, 6)
    assert r["ab_expected"] == _rnd(e, 6)
    assert r["z"] == _rnd(z, 6)
    assert r["p_value"] == _rnd(p, 9)
    assert r["z"] > 3.0 and r["p_value"] < 1e-4  # wider cur ⇒ ref central

    ys2 = [rng.randrange(-50, 51) for _ in range(180)]
    a2, b2 = _two_dfs(spark, xs, ys2)
    r2 = ansari_bradley(a2, b2, "v").collect()[0]
    assert r2["p_value"] > 0.05

    # the 4-point anchor: scores 1,2,2,1; ref={1,4} takes the tails
    c, d = _two_dfs(spark, [1, 4], [2, 3])
    r3 = ansari_bradley(c, d, "v").collect()[0]
    assert r3["ab_stat"] == 2.0 and r3["ab_expected"] == 3.0


def test_ab_grouped_one_sided_tied_and_null(spark):
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        ansari_bradley,
    )

    rng = random.Random(6)
    rows_r, rows_c, series = [], [], {}
    for g, scale in (("a", 3), ("b", 1)):
        xs = [rng.randrange(-40, 41) for _ in range(120)]
        ys = [scale * rng.randrange(-40, 41) for _ in range(110)]
        series[g] = (xs, ys)
        rows_r += [(g, x) for x in xs]
        rows_c += [(g, y) for y in ys]
    rows_r += [("refonly", 7)]
    ref = spark.createDataFrame(rows_r, "g string, v long")
    cur = spark.createDataFrame(rows_c, "g string, v long")
    got = {
        r["g"]: r
        for r in ansari_bradley(ref, cur, "v", group_cols=["g"]).collect()
    }
    for g, (xs, ys) in series.items():
        t, e, z, p = _py_ab(xs, ys)
        assert got[g]["ab_stat"] == _rnd(t, 6), g
        assert got[g]["z"] == _rnd(z, 6), g
    assert got["a"]["p_value"] < 1e-4  # the scaled group pages
    assert got["b"]["p_value"] > 0.05  # the flat one does not
    assert got["refonly"]["ab_stat"] is None
    assert got["refonly"]["n_cur"] == 0

    # all-tied pool: every score equal -> zero variance -> NULL z/p
    c, d = _two_dfs(spark, [5, 5], [5])
    r = ansari_bradley(c, d, "v").collect()[0]
    assert r["ab_stat"] is not None and r["z"] is None

    bad = spark.createDataFrame([(1,), (None,)], "v long")
    good = spark.createDataFrame([(1,)], "v long")
    with pytest.raises(Exception, match="ansari_bradley: NULL value"):
        ansari_bradley(bad, good, "v").collect()


def test_ab_duckdb_oracle_shape_cross_engine(spark):
    """The DuckDB restatement — identical doubled block-score closed
    forms from the pooled cumulative counts, identical 1e-9-quantized
    terms, the lockstep A&S p — bit-equal on the real order-price era
    split (the r14 registry oracle, pinned ahead of registration)."""
    import duckdb

    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.stats import (
        NORMAL_P_TWO_SIDED_SQL,
    )
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        ansari_bradley,
    )

    sf = "/root/testdata/sf0.001"
    o = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    ref = o.filter(F.col("o_orderdate") < "1998-01-01").select("x")
    cur = o.filter(F.col("o_orderdate") >= "1998-01-01").select("x")
    got = tuple(ansari_bradley(ref, cur, "x").collect()[0])

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS"
        f" SELECT * FROM read_parquet('{sf}/orders.parquet')"
    )
    p_expr = NORMAL_P_TWO_SIDED_SQL.format(z="z")
    want = con.execute(
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
        ), cum AS (
          SELECT v, c1, c2, c1 + c2 AS t,
                 CAST(sum(c1 + c2) OVER (ORDER BY v ROWS BETWEEN
                      UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS m,
                 CAST(sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                      PRECEDING AND CURRENT ROW) AS BIGINT) AS m1
          FROM vc
        ), tot AS (
          SELECT CAST(max(m1) AS BIGINT) AS n1,
                 CAST(max(m) - max(m1) AS BIGINT) AS n2,
                 CAST(max(m) AS BIGINT) AS n
          FROM cum
        ), scored AS (
          SELECT c1, t,
                 (CASE WHEN m - t + 1 <= least(m, (n + 1) // 2)
                       THEN CAST(least(m, (n + 1) // 2) + (m - t + 1)
                                 AS HUGEINT)
                            * (least(m, (n + 1) // 2) - (m - t + 1) + 1)
                       ELSE 0 END
                  + CASE WHEN m >= greatest(m - t + 1, (n + 1) // 2 + 1)
                         THEN CAST(2 * n + 2
                                   - greatest(m - t + 1, (n + 1) // 2 + 1)
                                   - m AS HUGEINT)
                              * (m - greatest(m - t + 1,
                                              (n + 1) // 2 + 1) + 1)
                         ELSE 0 END) AS s2
          FROM cum, tot
        ), agg AS (
          SELECT max(n1) AS n1, max(n2) AS n2,
                 sum(CAST(round(CAST(c1 AS DOUBLE) * CAST(s2 AS DOUBLE)
                                / (2.0 * CAST(t AS DOUBLE))
                                * 1000000000.0) AS HUGEINT)) AS qt,
                 sum(CAST(round(CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                                / (4.0 * CAST(t AS DOUBLE))
                                * 1000000000.0) AS HUGEINT)) AS qss,
                 sum(s2) AS s2tot
          FROM scored, tot
        ), f AS (
          SELECT n1, n2,
                 CAST(qt AS DOUBLE) / 1000000000.0 AS t_stat,
                 CAST(s2tot AS DOUBLE)
                   / (2.0 * (CAST(n1 AS DOUBLE) + n2)) AS abar,
                 CAST(qss AS DOUBLE) / 1000000000.0 AS ss
          FROM agg
        ), zc AS (
          SELECT n1, n2, t_stat,
                 CAST(n1 AS DOUBLE) * abar AS e_t,
                 CAST(n1 AS DOUBLE) * n2
                   / ((CAST(n1 AS DOUBLE) + n2)
                      * ((CAST(n1 AS DOUBLE) + n2) - 1.0))
                   * (ss - (CAST(n1 AS DOUBLE) + n2) * abar * abar)
                   AS var
          FROM f
        ), zz AS (
          SELECT n1, n2, t_stat, e_t,
                 CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 >= 2
                           AND var > 0
                      THEN (t_stat - e_t) / sqrt(var) END AS z
          FROM zc
        )
        SELECT n1 AS n_ref, n2 AS n_cur,
               round(t_stat, 6) AS ab_stat,
               round(e_t, 6) AS ab_expected,
               round(z, 6) AS z,
               round({p_expr}, 9) AS p_value
        FROM zz
        """
    ).fetchall()[0]
    assert got == tuple(want)


def _py_jt(data):
    """Brute-force Jonckheere-Terpstra with the tie-exact variance."""
    from collections import Counter

    ga = sorted(data)
    n_g = {g: len(data[g]) for g in ga}
    nn = sum(n_g.values())
    j2 = 0  # doubled J
    for i in range(len(ga)):
        for j in range(i + 1, len(ga)):
            for x in data[ga[i]]:
                for y in data[ga[j]]:
                    if x < y:
                        j2 += 2
                    elif x == y:
                        j2 += 1
    j = j2 / 2.0
    e = (nn * nn - sum(n * n for n in n_g.values())) / 4.0
    cnt = Counter(v for xs in data.values() for v in xs)
    g1 = sum(n * (n - 1) * (2 * n + 5) for n in n_g.values())
    g2 = sum(n * (n - 1) * (n - 2) for n in n_g.values())
    g3 = sum(n * (n - 1) for n in n_g.values())
    t1 = sum(t * (t - 1) * (2 * t + 5) for t in cnt.values())
    t2 = sum(t * (t - 1) * (t - 2) for t in cnt.values())
    t3 = sum(t * (t - 1) for t in cnt.values())
    nd = float(nn)
    var = (
        float(nn * (nn - 1) * (2 * nn + 5) - g1 - t1) / 72.0
        + float(g2) * float(t2) / (36.0 * nd * (nd - 1.0) * (nd - 2.0))
        + float(g3) * float(t3) / (8.0 * nd * (nd - 1.0))
    )
    if len(data) < 2 or nn < 3 or var <= 0:
        return j, e, None, None
    z = (j - e) / math.sqrt(var)
    return j, e, z, _py_norm_p(z)


def test_jt_matches_python_and_detects_ordered_trend(spark):
    """Ordered-trend leg: values rising monotonically across the
    group sort order page JT (z > 0, tiny p); the same values under a
    shuffled assignment do not; statistics match the brute-force
    Python reference bit-for-bit (ties included)."""
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        jonckheere_terpstra,
    )

    rng = random.Random(23)
    data = {
        g: [rng.randrange(0, 60) + s for _ in range(50)]
        for g, s in (("1_early", 0), ("2_mid", 12), ("3_late", 25))
    }
    rows = [(g, x) for g, xs in data.items() for x in xs]
    df = spark.createDataFrame(rows, "g string, v long")
    r = jonckheere_terpstra(df, "g", "v").collect()[0]
    j, e, z, p = _py_jt(data)
    assert (r["n_total"], r["k_groups"]) == (150, 3)
    assert r["jt_stat"] == _rnd(j, 1)
    assert r["jt_expected"] == _rnd(e, 2)
    assert r["z"] == _rnd(z, 6)
    assert r["p_value"] == _rnd(p, 9)
    assert r["z"] > 3.0 and r["p_value"] < 1e-4

    # same values, group labels shuffled: no ordered trend
    allv = [x for xs in data.values() for x in xs]
    rng.shuffle(allv)
    data2 = {
        "1_early": allv[:50], "2_mid": allv[50:100], "3_late": allv[100:],
    }
    df2 = spark.createDataFrame(
        [(g, x) for g, xs in data2.items() for x in xs],
        "g string, v long",
    )
    r2 = jonckheere_terpstra(df2, "g", "v").collect()[0]
    assert r2["p_value"] == _rnd(_py_jt(data2)[3], 9)
    assert r2["p_value"] > 0.01

    # a DECREASING trend registers with z < 0 (two-sided p symmetric)
    data3 = {g: data[g2] for g, g2 in
             (("1_early", "3_late"), ("2_mid", "2_mid"),
              ("3_late", "1_early"))}
    df3 = spark.createDataFrame(
        [(g, x) for g, xs in data3.items() for x in xs],
        "g string, v long",
    )
    r3 = jonckheere_terpstra(df3, "g", "v").collect()[0]
    assert r3["z"] < -3.0


def test_jt_degenerates_outer_groups_and_null(spark):
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        jonckheere_terpstra,
    )

    # single group / all-tied pool: NULL z/p with counts
    one = spark.createDataFrame([("a", 1), ("a", 2)], "g string, v long")
    r = jonckheere_terpstra(one, "g", "v").collect()[0]
    assert r["k_groups"] == 1 and r["z"] is None
    tied = spark.createDataFrame(
        [("a", 5), ("a", 5), ("b", 5)], "g string, v long"
    )
    r2 = jonckheere_terpstra(tied, "g", "v").collect()[0]
    assert r2["jt_stat"] is not None and r2["z"] is None

    # outer groups isolate: trending region pages, flat one does not
    rng = random.Random(29)
    rows = []
    for region, slope in (("east", 20), ("west", 0)):
        for gi, g in enumerate(("1_a", "2_b", "3_c")):
            rows += [
                (region, g, rng.randrange(0, 50) + slope * gi)
                for _ in range(60)
            ]
    df = spark.createDataFrame(rows, "region string, g string, v long")
    got = {
        r["region"]: r
        for r in jonckheere_terpstra(
            df, "g", "v", outer_group_cols=["region"]
        ).collect()
    }
    assert got["east"]["p_value"] < 1e-4
    assert got["west"]["p_value"] > 0.01

    badv = spark.createDataFrame([("a", 1), ("a", None)], "g string, v long")
    with pytest.raises(Exception, match="jonckheere_terpstra: NULL value"):
        jonckheere_terpstra(badv, "g", "v").collect()


def test_jt_duckdb_oracle_shape_cross_engine(spark):
    """The DuckDB restatement — the identical dense (group × pooled
    distinct values) grid, the same two windows (per-group strict
    cumulative + per-value group-order prefix), exact HUGEINT 2J and
    variance pieces, the lockstep A&S p — bit-equal on the real
    per-type event values (the r15 registry oracle, pinned ahead of
    registration)."""
    import duckdb

    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.stats import (
        NORMAL_P_TWO_SIDED_SQL,
    )
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        jonckheere_terpstra,
    )

    sf = "/root/testdata/sf0.001"
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    got = tuple(jonckheere_terpstra(e, "event_type", "x").collect()[0])

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS"
        f" SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    p_expr = NORMAL_P_TWO_SIDED_SQL.format(z="z")
    want = con.execute(
        f"""
        WITH vals AS (
          SELECT event_type AS g,
                 CAST(round(value * 100) AS BIGINT) AS v
          FROM events
        ), vc AS (
          SELECT g, v, CAST(count(*) AS BIGINT) AS c
          FROM vals GROUP BY g, v
        ), grid AS (
          SELECT dg.g, dv.v
          FROM (SELECT DISTINCT g FROM vc) dg
               CROSS JOIN (SELECT DISTINCT v FROM vc) dv
        ), dense AS (
          SELECT grid.g, grid.v,
                 CAST(coalesce(vc.c, 0) AS BIGINT) AS c
          FROM grid LEFT JOIN vc
               ON grid.g = vc.g AND grid.v = vc.v
        ), mb AS (
          SELECT g, v, c,
                 CAST(coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS m_below
          FROM dense
        ), pre AS (
          SELECT g, v, c,
                 coalesce(sum(CAST(m_below AS HUGEINT)) OVER (
                   PARTITION BY v ORDER BY g ROWS BETWEEN UNBOUNDED
                   PRECEDING AND 1 PRECEDING), 0) AS pm,
                 coalesce(sum(CAST(c AS HUGEINT)) OVER (
                   PARTITION BY v ORDER BY g ROWS BETWEEN UNBOUNDED
                   PRECEDING AND 1 PRECEDING), 0) AS pc
          FROM mb
        ), pg AS (
          SELECT g, CAST(sum(c) AS BIGINT) AS n_g,
                 CAST(sum(CAST(c AS HUGEINT) * (2 * pm + pc))
                      AS HUGEINT) AS j2g
          FROM pre GROUP BY g
        ), gagg AS (
          SELECT CAST(sum(n_g) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(j2g) AS HUGEINT) AS j2,
                 CAST(sum(CAST(n_g AS HUGEINT) * n_g) AS HUGEINT)
                   AS sn2,
                 CAST(sum(CAST(n_g AS HUGEINT) * (n_g - 1)
                          * (2 * n_g + 5)) AS HUGEINT) AS g1,
                 CAST(sum(CAST(n_g AS HUGEINT) * (n_g - 1)
                          * (n_g - 2)) AS HUGEINT) AS g2,
                 CAST(sum(CAST(n_g AS HUGEINT) * (n_g - 1))
                      AS HUGEINT) AS g3
          FROM pg
        ), tv AS (
          SELECT v, CAST(sum(c) AS BIGINT) AS t
          FROM vc GROUP BY v
        ), tagg AS (
          SELECT CAST(count(*) AS BIGINT) AS nv,
                 CAST(sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5))
                      AS HUGEINT) AS t1,
                 CAST(sum(CAST(t AS HUGEINT) * (t - 1) * (t - 2))
                      AS HUGEINT) AS t2,
                 CAST(sum(CAST(t AS HUGEINT) * (t - 1)) AS HUGEINT)
                   AS t3
          FROM tv
        ), f AS (
          SELECT n, k, nv,
                 CAST(j2 AS DOUBLE) / 2.0 AS j,
                 CAST(CAST(n AS HUGEINT) * n - sn2 AS DOUBLE) / 4.0
                   AS e,
                 CAST(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5)
                      - g1 - t1 AS DOUBLE) / 72.0
                 + CAST(g2 AS DOUBLE) * CAST(t2 AS DOUBLE)
                   / (36.0 * CAST(n AS DOUBLE)
                      * (CAST(n AS DOUBLE) - 1.0)
                      * (CAST(n AS DOUBLE) - 2.0))
                 + CAST(g3 AS DOUBLE) * CAST(t3 AS DOUBLE)
                   / (8.0 * CAST(n AS DOUBLE)
                      * (CAST(n AS DOUBLE) - 1.0)) AS var
          FROM gagg, tagg
        ), zz AS (
          SELECT n, k, j, e,
                 CASE WHEN k >= 2 AND n >= 3 AND nv >= 2 AND var > 0
                      THEN (j - e) / sqrt(var) END AS z
          FROM f
        )
        SELECT n AS n_total, k AS k_groups,
               round(j, 1) AS jt_stat, round(e, 2) AS jt_expected,
               round(z, 6) AS z, round({p_expr}, 9) AS p_value
        FROM zz
        """
    ).fetchall()[0]
    assert got == tuple(want)


def _py_chi2_mix(xs, ys):
    """Direct Σ(o−e)²/e chi-square over the 2×k table, mirrored to
    the operator's collapsed quantized form for exact equality."""
    from collections import Counter

    c1 = Counter(xs)
    c2 = Counter(ys)
    n1, n2 = len(xs), len(ys)
    cats = sorted(set(xs) | set(ys))
    q = 0
    for c in cats:
        d = c1[c] * n2 - c2[c] * n1
        t = c1[c] + c2[c]
        q += math.floor(
            float(d) * float(d)
            / (float(n1) * float(n2) * float(t)) * 1e9 + 0.5
        )
    chi2 = q / 1e9
    k = len(cats)
    if n1 == 0 or n2 == 0 or k < 2:
        return chi2, k, None, None
    if k == 2:
        # deg_f = 1: exact χ²₁ tail, z carries √χ² (the Mood path)
        z = math.sqrt(chi2)
        p = _py_norm_p(z)
        # sanity on the collapsed form below still applies
    else:
        dfree = float(k - 1)
        z = (
            (chi2 / dfree) ** (1.0 / 3.0) - (1.0 - 2.0 / (9.0 * dfree))
        ) / math.sqrt(2.0 / (9.0 * dfree))
        np2 = _py_norm_p(z)
        p = np2 / 2.0 if z >= 0 else 1.0 - np2 / 2.0
    # sanity: the collapsed form equals the textbook Σ(o−e)²/e
    direct = 0.0
    nn = n1 + n2
    for c in cats:
        t = c1[c] + c2[c]
        for o, nside in ((c1[c], n1), (c2[c], n2)):
            e = nside * t / nn
            direct += (o - e) ** 2 / e
    assert abs(direct - chi2) < 1e-6 * max(1.0, direct)
    return chi2, k, z, p


def test_chi2_homogeneity_matches_python_and_detects_mix_shift(spark):
    """Categorical drift leg: a planted category-mix shift pages the
    test; the same mix does not; the collapsed d²/(n₁n₂t) form equals
    the textbook Σ(o−e)²/e and the operator matches the reference
    bit-for-bit."""
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        chi2_homogeneity,
    )

    rng = random.Random(31)
    mix_a = ["click"] * 50 + ["view"] * 35 + ["buy"] * 15
    mix_b = ["click"] * 30 + ["view"] * 50 + ["buy"] * 20
    xs = [rng.choice(mix_a) for _ in range(400)]
    ys = [rng.choice(mix_b) for _ in range(350)]
    a = spark.createDataFrame([(x,) for x in xs], "cat string")
    b = spark.createDataFrame([(y,) for y in ys], "cat string")
    r = chi2_homogeneity(a, b, "cat").collect()[0]
    chi2, k, z, p = _py_chi2_mix(xs, ys)
    assert (r["n_ref"], r["n_cur"], r["k_categories"]) == (400, 350, k)
    assert r["chi2"] == _rnd(chi2, 6)
    assert r["z_wh"] == _rnd(z, 6)
    assert r["p_value"] == _rnd(p, 9)
    assert r["p_value"] < 1e-4  # the mix shift registers

    ys2 = [rng.choice(mix_a) for _ in range(350)]
    b2 = spark.createDataFrame([(y,) for y in ys2], "cat string")
    r2 = chi2_homogeneity(a, b2, "cat").collect()[0]
    assert r2["p_value"] == _rnd(_py_chi2_mix(xs, ys2)[3], 9)
    assert r2["p_value"] > 0.01

    # k = 2 (deg_f = 1): the EXACT χ²₁ tail p = 2(1 − Φ(√χ²)), not
    # Wilson-Hilferty (which carries ~5% relative error at df=1 near
    # p = 0.05); z_wh carries √χ², the deviate whose two-sided tail
    # IS the published p (published-consistency rule)
    xs2 = ["hit"] * 60 + ["miss"] * 340
    ys3 = ["hit"] * 85 + ["miss"] * 265
    a2 = spark.createDataFrame([(x,) for x in xs2], "cat string")
    b3 = spark.createDataFrame([(y,) for y in ys3], "cat string")
    r3 = chi2_homogeneity(a2, b3, "cat").collect()[0]
    chi2_2, k2, z2, p2 = _py_chi2_mix(xs2, ys3)
    assert k2 == 2 and r3["deg_f"] == 1
    assert r3["chi2"] == _rnd(chi2_2, 6)
    assert r3["z_wh"] == _rnd(z2, 6)  # √χ², the exact deviate
    assert r3["p_value"] == _rnd(p2, 9)
    assert r3["p_value"] == _rnd(_py_norm_p(math.sqrt(chi2_2)), 9)
    # and WH at df=1 would have disagreed measurably (the fix's point)
    z_wh1 = (
        chi2_2 ** (1.0 / 3.0) - (1.0 - 2.0 / 9.0)
    ) / math.sqrt(2.0 / 9.0)
    p_wh = (
        _py_norm_p(z_wh1) / 2.0
        if z_wh1 >= 0
        else 1.0 - _py_norm_p(z_wh1) / 2.0
    )
    assert abs(p_wh - p2) > 1e-4 * p2


def test_chi2_homogeneity_grouped_degenerates_and_null(spark):
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        chi2_homogeneity,
    )

    rng = random.Random(37)
    rows_r, rows_c = [], []
    for g, shifted in (("east", True), ("west", False)):
        for _ in range(300):
            rows_r.append((g, rng.choice("aab")))
            rows_c.append(
                (g, rng.choice("abb" if shifted else "aab"))
            )
    ref = spark.createDataFrame(rows_r, "g string, cat string")
    cur = spark.createDataFrame(rows_c, "g string, cat string")
    got = {
        r["g"]: r
        for r in chi2_homogeneity(
            ref, cur, "cat", group_cols=["g"]
        ).collect()
    }
    assert got["east"]["p_value"] < 1e-4
    assert got["west"]["p_value"] > 0.01

    # one-sided group: NULL stats with counts
    ref2 = spark.createDataFrame(
        [("only", "a"), ("only", "b")], "g string, cat string"
    )
    cur2 = spark.createDataFrame([], "g string, cat string")
    r = chi2_homogeneity(ref2, cur2, "cat", group_cols=["g"]).collect()[0]
    assert (r["n_ref"], r["n_cur"]) == (2, 0)
    assert r["chi2"] is None and r["p_value"] is None

    # single category: no mix to test
    one = spark.createDataFrame([("a",)], "cat string")
    r2 = chi2_homogeneity(one, one, "cat").collect()[0]
    assert r2["k_categories"] == 1 and r2["chi2"] is None

    # NULL category fails loud
    bad = spark.createDataFrame([("a",), (None,)], "cat string")
    good = spark.createDataFrame([("a",)], "cat string")
    with pytest.raises(Exception, match="chi2_homogeneity"):
        chi2_homogeneity(bad, good, "cat").collect()


def test_chi2_homogeneity_duckdb_oracle_shape_cross_engine(spark):
    """The DuckDB restatement — per-side category counts, the
    identical collapsed quantized d²/(n₁n₂t) terms, the
    Wilson-Hilferty z through the lockstep A&S polynomial — bit-equal
    on the real event-type mix, first half-month vs second (the r14
    registry oracle, pinned ahead of registration)."""
    import duckdb

    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.stats import (
        NORMAL_P_TWO_SIDED_SQL,
    )
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        chi2_homogeneity,
    )

    sf = "/root/testdata/sf0.001"
    e = spark.read.parquet(f"{sf}/events.parquet")
    ref = e.filter(F.col("ts") < "2024-01-16").select("event_type")
    cur = e.filter(F.col("ts") >= "2024-01-16").select("event_type")
    got = tuple(chi2_homogeneity(ref, cur, "event_type").collect()[0])

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS"
        f" SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    p_expr = NORMAL_P_TWO_SIDED_SQL.format(z="z")
    want = con.execute(
        f"""
        WITH sides AS (
          SELECT event_type AS cat,
                 CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                      THEN 1 ELSE 2 END AS s
          FROM events
        ), vc AS (
          SELECT cat,
                 CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1,
                 CAST(sum(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c2
          FROM sides GROUP BY cat
        ), tot AS (
          SELECT CAST(sum(c1) AS BIGINT) AS n1,
                 CAST(sum(c2) AS BIGINT) AS n2,
                 CAST(count(*) AS BIGINT) AS k
          FROM vc
        ), q AS (
          SELECT max(n1) AS n1, max(n2) AS n2, max(k) AS k,
                 sum(CASE WHEN n1 > 0 AND n2 > 0 THEN
                   CAST(round(
                     CAST(CAST(c1 AS HUGEINT) * n2
                          - CAST(c2 AS HUGEINT) * n1 AS DOUBLE)
                     * CAST(CAST(c1 AS HUGEINT) * n2
                            - CAST(c2 AS HUGEINT) * n1 AS DOUBLE)
                     / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                        * CAST(c1 + c2 AS DOUBLE))
                     * 1000000000.0) AS HUGEINT)
                   ELSE 0 END) AS qsum
          FROM vc, tot
        ), f AS (
          SELECT n1, n2, k,
                 CAST(qsum AS DOUBLE) / 1000000000.0 AS chi2
          FROM q
        ), zc AS (
          SELECT n1, n2, k, chi2,
                 CASE WHEN k = 2 THEN sqrt(chi2)
                      ELSE (cbrt(chi2 / CAST(k - 1 AS DOUBLE))
                            - (1.0 - 2.0 / (9.0 * CAST(k - 1 AS DOUBLE))))
                           / sqrt(2.0 / (9.0 * CAST(k - 1 AS DOUBLE)))
                 END AS z
          FROM f
        )
        SELECT n1 AS n_ref, n2 AS n_cur, k AS k_categories,
               round(chi2, 6) AS chi2,
               CAST(k - 1 AS BIGINT) AS deg_f,
               round(z, 6) AS z_wh,
               round(CASE WHEN k = 2 THEN ({p_expr})
                     WHEN z >= 0 THEN ({p_expr}) / 2.0
                     ELSE 1.0 - ({p_expr}) / 2.0 END, 9) AS p_value
        FROM zc
        """
    ).fetchall()[0]
    assert got == tuple(want)


def _py_bm(xs, ys):
    """Python Brunner-Munzel mirroring the operator's exact-integer
    moment sums and double op order."""
    from collections import Counter

    n1, n2 = len(xs), len(ys)
    c1 = Counter(xs)
    c2 = Counter(ys)
    vals = sorted(set(xs) | set(ys))
    m1 = m2 = 0
    w1 = w2 = q1 = q2 = 0
    for v in vals:
        a, b = c1[v], c2[v]
        m1 += a
        m2 += b
        d1_2 = 2 * m2 - b   # 2·(#cur < v) + #cur = v
        d2_2 = 2 * m1 - a
        w1 += a * d1_2
        w2 += b * d2_2
        q1 += a * d1_2 * d1_2
        q2 += b * d2_2 * d2_2
    if n1 == 0 or n2 == 0:
        return None, None, None
    p_hat = w2 / (2.0 * n1 * n2)
    sep = (max(xs) < min(ys)) or (max(ys) < min(xs))
    if n1 < 2 or n2 < 2 or len(vals) < 2 or sep:
        return p_hat, None, None
    s1sq = (q1 - w1 * w1 / n1) / (4.0 * (n1 - 1.0))
    s2sq = (q2 - w2 * w2 / n2) / (4.0 * (n2 - 1.0))
    var = n1 * s1sq + n2 * s2sq
    if not var > 0:
        return p_hat, None, None
    rdiff = w2 / (2.0 * n2) - w1 / (2.0 * n1) + (n2 - n1) / 2.0
    w = n1 * n2 * rdiff / ((n1 + n2) * math.sqrt(var))
    return p_hat, w, _py_norm_p(w)


def test_bm_matches_python_and_handles_unequal_variance(spark):
    """Behrens-Fisher leg: BM matches the python replay bit-for-bit,
    detects a planted location shift under a 5× variance difference,
    and stays quiet when only the SPREAD changed (the case plain MWU
    is mis-specified for — AB owns dispersion, BM owns location)."""
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        brunner_munzel,
    )

    rng = random.Random(41)
    xs = [rng.randrange(0, 40) for _ in range(300)]          # tight
    ys = [rng.randrange(-80, 120) + 45 for _ in range(260)]  # wide+shift
    a = spark.createDataFrame([(x,) for x in xs], "v long")
    b = spark.createDataFrame([(y,) for y in ys], "v long")
    r = brunner_munzel(a, b, "v").collect()[0]
    p_hat, w, p = _py_bm(xs, ys)
    assert (r["n_ref"], r["n_cur"]) == (300, 260)
    assert r["p_hat"] == _rnd(p_hat, 6)
    assert r["bm_stat"] == _rnd(w, 6)
    assert r["p_value"] == _rnd(p, 9)
    assert r["p_value"] < 0.01 and r["p_hat"] > 0.5  # shift registers

    # spread-only change: BM stays quiet (its null is P(X<Y)+½P(=)=½,
    # which a symmetric widening preserves)
    ys2 = [rng.randrange(-80, 120) + 20 for _ in range(300)]
    xs2 = [rng.randrange(-20, 60) + 20 for _ in range(300)]
    r2 = brunner_munzel(
        spark.createDataFrame([(x,) for x in xs2], "v long"),
        spark.createDataFrame([(y,) for y in ys2], "v long"),
        "v",
    ).collect()[0]
    px = _py_bm(xs2, ys2)
    assert r2["p_value"] == _rnd(px[2], 9)
    assert r2["p_value"] > 0.05

    # grouped: the drifting key pages, the flat key does not
    rows_r, rows_c = [], []
    for g, shift in (("east", 30), ("west", 0)):
        rows_r += [(g, rng.randrange(0, 60)) for _ in range(200)]
        rows_c += [
            (g, rng.randrange(-40, 100) + shift) for _ in range(200)
        ]
    got = {
        r["g"]: r
        for r in brunner_munzel(
            spark.createDataFrame(rows_r, "g string, v long"),
            spark.createDataFrame(rows_c, "g string, v long"),
            "v",
            group_cols=["g"],
        ).collect()
    }
    assert got["east"]["p_value"] < 1e-3
    assert got["west"]["p_value"] > 0.01


def test_bm_degenerates_and_null(spark):
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        brunner_munzel,
    )

    def one(xs, ys):
        a = spark.createDataFrame([(x,) for x in xs], "v long")
        b = spark.createDataFrame([(y,) for y in ys], "v long")
        return brunner_munzel(a, b, "v").collect()[0]

    # complete separation: the statistic is unbounded — exact witness
    # forces NULL while p_hat still tells the story (1.0 = cur above)
    r = one([1, 2, 3], [10, 11, 12])
    assert r["p_hat"] == 1.0 and r["bm_stat"] is None
    r = one([10, 11, 12], [1, 2, 3])
    assert r["p_hat"] == 0.0 and r["bm_stat"] is None

    # all-tied pool: p_hat = ½ exactly, NULL statistic
    r = one([5, 5, 5], [5, 5])
    assert r["p_hat"] == 0.5 and r["bm_stat"] is None

    # n < 2 on a side: S² undefined
    r = one([1, 2, 3], [2])
    assert r["p_hat"] is not None and r["bm_stat"] is None

    # one-sided: NULL everything but counts
    empty = spark.createDataFrame([], "v long")
    full = spark.createDataFrame([(1,), (2,)], "v long")
    r = brunner_munzel(full, empty, "v").collect()[0]
    assert (r["n_ref"], r["n_cur"]) == (2, 0)
    assert r["p_hat"] is None and r["p_value"] is None

    # NULL value raises
    bad = spark.createDataFrame([(1,), (None,)], "v long")
    with pytest.raises(Exception, match="brunner_munzel"):
        brunner_munzel(bad, full, "v").collect()


def test_bm_duckdb_oracle_shape_cross_engine(spark):
    """The DuckDB restatement — the identical sided cumulative window,
    exact HUGEINT moment sums, the lockstep double op order and A&S p
    — bit-equal on the real order-price era split (the r15 registry
    oracle, pinned ahead of registration)."""
    import duckdb

    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.stats import (
        NORMAL_P_TWO_SIDED_SQL,
    )
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        brunner_munzel,
    )

    sf = "/root/testdata/sf0.001"
    o = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    ref = o.filter(F.col("o_orderdate") < "1998-01-01").select("x")
    cur = o.filter(F.col("o_orderdate") >= "1998-01-01").select("x")
    got = tuple(brunner_munzel(ref, cur, "x").collect()[0])

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS"
        f" SELECT * FROM read_parquet('{sf}/orders.parquet')"
    )
    p_expr = NORMAL_P_TWO_SIDED_SQL.format(z="w")
    want = con.execute(
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
        ), cum AS (
          SELECT v, c1, c2,
                 CAST(sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                      PRECEDING AND CURRENT ROW) AS BIGINT) AS m1,
                 CAST(sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                      PRECEDING AND CURRENT ROW) AS BIGINT) AS m2
          FROM vc
        ), scored AS (
          SELECT v, c1, c2,
                 CAST(2 * m2 - c2 AS HUGEINT) AS d1_2,
                 CAST(2 * m1 - c1 AS HUGEINT) AS d2_2
          FROM cum
        ), agg AS (
          SELECT CAST(sum(c1) AS BIGINT) AS n1,
                 CAST(sum(c2) AS BIGINT) AS n2,
                 CAST(sum(c1 * d1_2) AS HUGEINT) AS w1,
                 CAST(sum(c2 * d2_2) AS HUGEINT) AS w2,
                 CAST(sum(c1 * d1_2 * d1_2) AS HUGEINT) AS q1,
                 CAST(sum(c2 * d2_2 * d2_2) AS HUGEINT) AS q2,
                 CAST(count(*) AS BIGINT) AS nv,
                 max(CASE WHEN c1 > 0 THEN v END) AS max1,
                 min(CASE WHEN c1 > 0 THEN v END) AS min1,
                 max(CASE WHEN c2 > 0 THEN v END) AS max2,
                 min(CASE WHEN c2 > 0 THEN v END) AS min2
          FROM scored
        ), f AS (
          SELECT n1, n2,
                 CAST(w2 AS DOUBLE)
                   / (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                   AS p_hat,
                 (CAST(q1 AS DOUBLE)
                  - CAST(w1 AS DOUBLE) * CAST(w1 AS DOUBLE)
                    / CAST(n1 AS DOUBLE))
                 / (4.0 * (CAST(n1 AS DOUBLE) - 1.0)) AS s1sq,
                 (CAST(q2 AS DOUBLE)
                  - CAST(w2 AS DOUBLE) * CAST(w2 AS DOUBLE)
                    / CAST(n2 AS DOUBLE))
                 / (4.0 * (CAST(n2 AS DOUBLE) - 1.0)) AS s2sq,
                 CAST(w2 AS DOUBLE) / (2.0 * CAST(n2 AS DOUBLE))
                 - CAST(w1 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE))
                 + (CAST(n2 AS DOUBLE) - CAST(n1 AS DOUBLE)) / 2.0
                   AS rdiff,
                 nv, max1, min1, max2, min2
          FROM agg
        ), zz AS (
          SELECT n1, n2, p_hat,
                 CASE WHEN n1 >= 2 AND n2 >= 2 AND nv >= 2
                           AND NOT (max1 < min2 OR max2 < min1)
                           AND CAST(n1 AS DOUBLE) * s1sq
                               + CAST(n2 AS DOUBLE) * s2sq > 0
                      THEN CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                           * rdiff
                           / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                              * sqrt(CAST(n1 AS DOUBLE) * s1sq
                                     + CAST(n2 AS DOUBLE) * s2sq))
                 END AS w
          FROM f
        )
        SELECT n1 AS n_ref, n2 AS n_cur,
               round(p_hat, 6) AS p_hat,
               round(w, 6) AS bm_stat,
               round({p_expr}, 9) AS p_value
        FROM zz
        """
    ).fetchall()[0]
    assert got == tuple(want)


def _py_medk(data):
    """Python Brown-Mood k-sample median test mirroring the operator's
    pooled lower median, quantized chi2 fold, and tails."""
    pooled = sorted(v for xs in data.values() for v in xs)
    n = len(pooled)
    med = pooled[(n + 1) // 2 - 1]  # smallest v with 2·cum ≥ N
    a = {g: sum(1 for v in xs if v > med) for g, xs in data.items()}
    big_a = sum(a.values())
    k = len(data)
    q = 0
    if 0 < big_a < n:
        for g, xs in data.items():
            d = a[g] * n - len(xs) * big_a
            q += math.floor(
                float(d) * float(d)
                / (float(len(xs)) * float(big_a) * float(n - big_a))
                * 1e9 + 0.5
            )
    chi2 = q / 1e9
    if k < 2 or big_a == 0 or big_a == n:
        return n, k, med, big_a, None, None, None
    if k == 2:
        z = math.sqrt(chi2)
        p = _py_norm_p(z)
    else:
        dfree = float(k - 1)
        z = (
            (chi2 / dfree) ** (1.0 / 3.0) - (1.0 - 2.0 / (9.0 * dfree))
        ) / math.sqrt(2.0 / (9.0 * dfree))
        np2 = _py_norm_p(z)
        p = np2 / 2.0 if z >= 0 else 1.0 - np2 / 2.0
    return n, k, med, big_a, chi2, z, p


def test_medk_matches_python_and_detects_median_shift(spark):
    """k-sample median leg: a planted median step in one group pages
    the omnibus; equal medians with different spreads do not (the
    robustness this test exists for)."""
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        median_test_k,
    )

    rng = random.Random(43)
    data = {
        "a": [rng.randrange(0, 100) for _ in range(150)],
        "b": [rng.randrange(0, 100) for _ in range(140)],
        "c": [rng.randrange(0, 100) + 45 for _ in range(130)],
    }
    rows = [(g, v) for g, xs in data.items() for v in xs]
    df = spark.createDataFrame(rows, "g string, v long")
    r = median_test_k(df, "g", "v").collect()[0]
    n, k, med, big_a, chi2, z, p = _py_medk(data)
    assert (r["n_total"], r["k_groups"], r["median"], r["n_above"]) == (
        n, k, med, big_a,
    )
    assert r["chi2"] == _rnd(chi2, 6)
    assert r["z_wh"] == _rnd(z, 6)
    assert r["p_value"] == _rnd(p, 9)
    assert r["p_value"] < 1e-4

    # same medians, different spreads: quiet
    data2 = {
        "a": [50 + rng.randrange(-5, 6) for _ in range(150)],
        "b": [50 + rng.randrange(-40, 41) for _ in range(150)],
    }
    rows2 = [(g, v) for g, xs in data2.items() for v in xs]
    r2 = median_test_k(
        spark.createDataFrame(rows2, "g string, v long"), "g", "v"
    ).collect()[0]
    assert r2["deg_f"] == 1  # exact tail branch
    assert r2["p_value"] == _rnd(_py_medk(data2)[6], 9)
    assert r2["p_value"] > 0.05


def test_medk_degenerates_outer_groups_and_null(spark):
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        median_test_k,
    )

    # one group: explicit degenerate row with counts
    one = spark.createDataFrame([("a", 1), ("a", 5)], "g string, v long")
    r = median_test_k(one, "g", "v").collect()[0]
    assert r["k_groups"] == 1 and r["chi2"] is None
    assert r["median"] == 1  # lower median of {1, 5}

    # all-tied pool: nobody above the median — degenerate margin
    tied = spark.createDataFrame(
        [("a", 5), ("a", 5), ("b", 5)], "g string, v long"
    )
    r2 = median_test_k(tied, "g", "v").collect()[0]
    assert r2["n_above"] == 0 and r2["chi2"] is None

    # outer groups isolate
    rng = random.Random(47)
    rows = []
    for region, shift in (("east", 60), ("west", 0)):
        for g, s in (("a", 0), ("b", shift)):
            rows += [
                (region, g, rng.randrange(0, 100) + s)
                for _ in range(120)
            ]
    got = {
        r["region"]: r
        for r in median_test_k(
            spark.createDataFrame(rows, "region string, g string, v long"),
            "g", "v", outer_group_cols=["region"],
        ).collect()
    }
    assert got["east"]["p_value"] < 1e-4
    assert got["west"]["p_value"] > 0.01

    # NULL value fails loud
    bad = spark.createDataFrame([("a", 1), ("a", None)], "g string, v long")
    with pytest.raises(Exception, match="median_test_k"):
        median_test_k(bad, "g", "v").collect()


def test_medk_duckdb_oracle_shape_cross_engine(spark):
    """The DuckDB restatement — the identical pooled-lower-median
    window, per-group above counts, quantized d²/(n_g·A·(N−A)) fold
    and the k=2-exact/WH tail — bit-equal on the real per-type event
    values (the r15 registry oracle, pinned ahead of registration)."""
    import duckdb

    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.stats import (
        NORMAL_P_TWO_SIDED_SQL,
    )
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        median_test_k,
    )

    sf = "/root/testdata/sf0.001"
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    got = tuple(median_test_k(e, "event_type", "x").collect()[0])

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS"
        f" SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    p_expr = NORMAL_P_TWO_SIDED_SQL.format(z="z")
    want = con.execute(
        f"""
        WITH vals AS (
          SELECT event_type AS g,
                 CAST(round(value * 100) AS BIGINT) AS v
          FROM events
        ), vc AS (
          SELECT g, v, CAST(count(*) AS BIGINT) AS c
          FROM vals GROUP BY g, v
        ), tv AS (
          SELECT v, CAST(sum(c) AS BIGINT) AS t FROM vc GROUP BY v
        ), cum AS (
          SELECT v,
                 CAST(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                      PRECEDING AND CURRENT ROW) AS BIGINT) AS m,
                 CAST(sum(t) OVER () AS BIGINT) AS n
          FROM tv
        ), med AS (
          SELECT min(v) AS med FROM cum WHERE 2 * m >= n
        ), pg AS (
          SELECT g, CAST(sum(c) AS BIGINT) AS n_g,
                 CAST(coalesce(sum(CASE WHEN v > med THEN c END), 0)
                      AS BIGINT) AS a_g,
                 max(med) AS med
          FROM vc, med GROUP BY g
        ), tot AS (
          SELECT CAST(sum(n_g) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(a_g) AS BIGINT) AS big_a,
                 max(med) AS med
          FROM pg
        ), q AS (
          SELECT max(n) AS n, max(k) AS k, max(big_a) AS big_a,
                 max(tot.med) AS med,
                 sum(CASE WHEN big_a > 0 AND big_a < n THEN
                   CAST(round(
                     CAST(CAST(a_g AS HUGEINT) * n
                          - CAST(n_g AS HUGEINT) * big_a AS DOUBLE)
                     * CAST(CAST(a_g AS HUGEINT) * n
                            - CAST(n_g AS HUGEINT) * big_a AS DOUBLE)
                     / (CAST(n_g AS DOUBLE) * CAST(big_a AS DOUBLE)
                        * CAST(n - big_a AS DOUBLE))
                     * 1000000000.0) AS HUGEINT)
                   ELSE 0 END) AS qsum
          FROM pg, tot
        ), f AS (
          SELECT n, k, med, big_a,
                 CAST(qsum AS DOUBLE) / 1000000000.0 AS chi2
          FROM q
        ), zc AS (
          SELECT n, k, med, big_a, chi2,
                 CASE WHEN k = 2 THEN sqrt(chi2)
                      ELSE (cbrt(chi2 / CAST(k - 1 AS DOUBLE))
                            - (1.0 - 2.0 / (9.0 * CAST(k - 1 AS DOUBLE))))
                           / sqrt(2.0 / (9.0 * CAST(k - 1 AS DOUBLE)))
                 END AS z
          FROM f
        )
        SELECT n AS n_total, k AS k_groups, med AS median,
               big_a AS n_above,
               round(chi2, 6) AS chi2,
               CAST(k - 1 AS BIGINT) AS deg_f,
               round(z, 6) AS z_wh,
               round(CASE WHEN k = 2 THEN ({p_expr})
                     WHEN z >= 0 THEN ({p_expr}) / 2.0
                     ELSE 1.0 - ({p_expr}) / 2.0 END, 9) AS p_value
        FROM zc
        """
    ).fetchall()[0]
    assert got == tuple(want)


def test_grouped_sided_counts_state_serves_per_key_verdicts(spark, tmp_path):
    """The per-key streamed battery: start_streaming_mwu with
    group_cols keys the frozen reference and every folded batch by
    event type; the SAME stored state then serves all seven verdicts
    PER KEY (readers auto-detect the group columns from the state),
    each equal to the grouped batch operator on ref vs the delivered
    union — and the reader's p column feeds bh_select directly (the
    multiplicity rung, streamed). A restart that re-points at an
    UNGROUPED reference fails the __ref_fp gate loud."""
    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.stats import (
        bh_select,
    )
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        ansari_bradley,
        brunner_munzel,
        cramer_von_mises,
        ks_two_sample,
        mann_whitney_u,
        mood_median_test,
        wasserstein_1,
    )
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        read_event_stream,
        read_streaming_two_sample,
        start_streaming_mwu,
    )

    rng = random.Random(59)
    SCHEMA = (
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double"
    )

    def rows_df(rows):
        return spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long,"
            " event_type string, value double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    types = ("click", "view", "buy")
    ref_rows = [
        (10_000 + i, "2024-01-01 00:00:00", 1, g,
         float(rng.randrange(0, 200)))
        for i in range(120)
        for g in types
    ]
    ref_df = rows_df(ref_rows).select(
        "event_type",
        F.round(F.col("value")).cast("long").alias("x"),
    )
    # only "buy" drifts in the delivered batches
    batches = [
        [(b * 1000 + i, "2024-01-02 00:00:00", 2, g,
          float(rng.randrange(0, 200) + (130 if g == "buy" else 0)))
         for i in range(60)
         for g in types]
        for b in range(2)
    ]
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    for chunk in batches:
        rows_df(chunk).coalesce(1).write.mode("append").parquet(inp)
    q = start_streaming_mwu(
        read_event_stream(spark, inp, SCHEMA).select(
            "event_type",
            F.round(F.col("value")).cast("long").alias("x"),
            F.col("ts"),
        ),
        state,
        value_col="x",
        ref=ref_df,
        checkpoint_dir=str(tmp_path / "ckpt"),
        group_cols=["event_type"],
    )
    q.awaitTermination(180)

    cur = rows_df([r for b in batches for r in b]).select(
        "event_type",
        F.round(F.col("value")).cast("long").alias("x"),
    )
    for kind, batch_fn in (
        ("mwu", mann_whitney_u),
        ("ks", ks_two_sample),
        ("w1", wasserstein_1),
        ("cvm", cramer_von_mises),
        ("mood", mood_median_test),
        ("ab", ansari_bradley),
        ("bm", brunner_munzel),
    ):
        got = [
            tuple(r)
            for r in read_streaming_two_sample(spark, state, kind).collect()
        ]
        want = [
            tuple(r)
            for r in batch_fn(
                ref_df, cur, "x", group_cols=["event_type"]
            ).collect()
        ]
        assert got == want, kind
        assert len(got) == 3  # one verdict row per key

    # the drifted key pages, the flat keys do not — and BH rides the
    # reader output directly
    sel = {
        r["event_type"]: r["selected"]
        for r in bh_select(
            read_streaming_two_sample(spark, state, "mwu"),
            "p_value",
            tie_cols=["event_type"],
        ).collect()
    }
    assert sel["buy"] and not sel["click"] and not sel["view"]

    # restart with an UNGROUPED ref: different state shape + ref_fp —
    # must fail loud, not silently fold apples into oranges
    rows_df(
        [(9_999, "2024-01-03 00:00:00", 2, "buy", 5.0)]
    ).coalesce(1).write.mode("append").parquet(inp)
    q2 = start_streaming_mwu(
        read_event_stream(spark, inp, SCHEMA).select(
            "event_type",
            F.round(F.col("value")).cast("long").alias("x"),
            F.col("ts"),
        ),
        state,
        value_col="x",
        ref=ref_df.select("x"),
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    with pytest.raises(Exception):
        q2.awaitTermination(180)


@pytest.fixture(scope="module")
def stored_states(spark, tmp_path_factory):
    """Three small drained sided-counts states — an ungrouped and a
    grouped ``start_streaming_mwu`` state and a ``start_streaming_mix``
    state — with the reference and delivered rows that built them:
    ``{name: (state_dir, ref_rows, cur_rows, group_cols, key)}``."""
    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        read_event_stream,
        start_streaming_mix,
        start_streaming_mwu,
    )

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    rng = random.Random(71)
    types = ("click", "view", "buy")

    def rows(n, day):
        return [
            (i, f"2024-01-0{day} 00:00:00", day, rng.choice(types),
             float(rng.randrange(0, 30)))
            for i in range(n)
        ]

    def frame(rs):
        return spark.createDataFrame(
            rs, schema.replace("ts timestamp", "ts string")
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    x = F.col("value").cast("long").alias("x")
    specs = {
        "mwu": (start_streaming_mwu, "value_col", [], "__v"),
        "mwu_grouped": (start_streaming_mwu, "value_col", ["event_type"], "__v"),
        "mix": (start_streaming_mix, "cat_col", [], "__cat"),
    }
    out = {}
    for name, (start, arg, groups, key) in specs.items():
        root = tmp_path_factory.mktemp(name)
        ref_rows, cur_rows = rows(60, 1), rows(40, 2)
        frame(cur_rows).coalesce(1).write.parquet(str(root / "in"))
        col = [x] if key == "__v" else ["event_type"]
        q = start(
            read_event_stream(spark, str(root / "in"), schema).select(
                *groups, *col, "ts"
            ),
            str(root / "state"),
            **{arg: "x" if key == "__v" else "event_type"},
            ref=frame(ref_rows).select(*groups, *col),
            checkpoint_dir=str(root / "ckpt"),
            **({"group_cols": groups} if groups else {}),
        )
        q.awaitTermination(180)
        out[name] = (str(root / "state"), ref_rows, cur_rows, groups, key)
    return out


@pytest.mark.parametrize("name", ["mwu", "mwu_grouped", "mix"])
def test_stored_state_format_is_pinned(spark, stored_states, name):
    """The stored sided-counts state is an on-disk format: a restart
    reads the state the previous process wrote and gates it on
    ``__ref_fp``. Its columns, their types, its counts and a
    ``__ref_fp`` recomputed here from the reference rows —
    ``bit_xor(xxhash64(group..., key, __c1))``, 0 when empty — are
    pinned, so a drift in ``_sided_counts`` cannot silently fail every
    existing state's restart gate."""
    from collections import Counter

    from pyspark.sql import functions as F

    state, ref_rows, cur_rows, groups, key = stored_states[name]
    df = spark.read.parquet(state)
    kt = "bigint" if key == "__v" else "string"
    assert df.dtypes == [
        *((g, "string") for g in groups),
        (key, kt),
        ("__c1", "bigint"),
        ("__c2", "bigint"),
        ("__batch_id", "int"),
        ("__ref_fp", "bigint"),
    ]

    def key_of(r):
        k = int(r[4]) if key == "__v" else r[3]
        return (r[3], k) if groups else (k,)

    c1, c2 = Counter(map(key_of, ref_rows)), Counter(map(key_of, cur_rows))
    got = {
        tuple(r[:-2]): (r[-2], r[-1])
        for r in df.select(*groups, key, "__c1", "__c2").collect()
    }
    assert got == {k: (c1[k], c2[k]) for k in c1.keys() | c2.keys()}

    ref_counts = spark.createDataFrame(
        [(*k, n) for k, n in c1.items()],
        ", ".join([*(f"{g} string" for g in groups), f"{key} {kt}", "__c1 long"]),
    )
    want_fp = ref_counts.agg(
        F.coalesce(F.bit_xor(F.xxhash64(*groups, key, "__c1")), F.lit(0))
    ).first()[0]
    assert {r[0] for r in df.select("__ref_fp").distinct().collect()} == {
        want_fp
    }
    assert want_fp != 0


def test_mix_state_read_as_a_value_kind_fails_loud(spark, stored_states):
    """A ``start_streaming_mix`` state read as a value kind raises
    ValueError naming its ``__cat`` key (it used to take ``__cat`` for
    a group column and fail in analysis on the missing ``__v``); an
    unknown kind raises listing the valid kinds; chi2 still reads."""
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        read_streaming_two_sample,
    )

    mix = stored_states["mix"][0]
    for kind in ("mwu", "bm"):
        with pytest.raises(ValueError, match="keyed by __cat, not __v"):
            read_streaming_two_sample(spark, mix, kind)
    with pytest.raises(ValueError, match="'psi'.*'ab', 'bm', 'chi2'"):
        read_streaming_two_sample(spark, mix, "psi")
    assert read_streaming_two_sample(spark, mix, "chi2").count() == 1


def test_value_state_read_as_chi2_fails_loud(spark, stored_states):
    """A ``start_streaming_mwu`` state read as chi2 (or as mix shares)
    raises ValueError naming its ``__v`` key; the value kinds still
    read it."""
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        read_streaming_mix_shares,
        read_streaming_two_sample,
    )

    for name in ("mwu", "mwu_grouped"):
        state = stored_states[name][0]
        with pytest.raises(ValueError, match="keyed by __v, not __cat"):
            read_streaming_two_sample(spark, state, "chi2")
        with pytest.raises(ValueError, match="keyed by __v, not __cat"):
            read_streaming_mix_shares(spark, state)
    mwu = stored_states["mwu"][0]
    assert read_streaming_two_sample(spark, mwu, "bm").count() == 1
