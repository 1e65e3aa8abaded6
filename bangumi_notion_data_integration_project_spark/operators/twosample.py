"""Two-sample and k-sample distribution tests — the significance
companions to the PSI drift monitor (PSI says HOW FAR apart two eras
are; these say whether the separation is REAL, and along which axis):
Mann-Whitney U (location, with the ROC-AUC effect size),
Kolmogorov-Smirnov (any shape), Wasserstein-1 (L1 magnitude in value
units), Cramér-von Mises (L2 shape), Mood's median (robust location),
Ansari-Bradley (dispersion), the two-proportion z-test (binary rate),
chi-square homogeneity (categorical mix), and the k-sample rung —
Kruskal-Wallis (omnibus), Dunn (post-hoc pairs), Jonckheere-Terpstra
(ordered trend).

Scale shape (the psi/_ranked_distinct contract): every rank/ECDF
quantity is computed on the DISTINCT-VALUE aggregate — raw rows
reduce map-side in a (group, value, side) count first, so the ordered
windows only ever see O(distinct values) rows at any fact volume.

One counts function, one table: ``_sided_counts`` turns a flagged frame
(1 = reference, 2 = current, NULL = neither) into the
``(group..., __v | __cat, __c1, __c2)`` counts frame, and
``_FROM_COUNTS`` maps each two-sample kind to its formula tail.
``two_sample(kind, df, value_col, side)`` is the one-scan entry
point; each named two-input operator is that call on ``ref ∪ cur``
with a literal side, and the streaming twins store the same frame
and read it back through ``streaming.read_streaming_two_sample``.
The z-test (four counts, not value counts) keeps its own body,
``two_proportion_ztest_split``.

Exactness: average ranks are kept integer by doubling (2·avgrank =
2·prior_total + cnt + 1), the rank sum / U statistic / tie terms are
exact integer sums, the KS numerator max|cum₁·n₂ − cum₂·n₁| is an
exact integer max — each final statistic is ONE double expression of
exact integers, so engines agree bit-for-bit. The MWU z feeds
``stats.normal_p_two_sided`` (the A&S polynomial), which carries the
ln/exp round-at-≤9dp oracle contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_DEC = "decimal(38,0)"


def _checked_side(side: Column, op_name: str) -> Column:
    """Validate a one-scan era flag: 1 (reference), 2 (current) or
    NULL (in neither era — the row is dropped downstream, exactly as
    two disjoint era filters would drop it). Any other value raises
    (fail-loud, the _checked_long convention: a 3 silently counted
    into neither side would corrupt both totals)."""
    return F.when(side.isNull(), F.lit(None).cast("int")).when(
        side.isin(1, 2), side.cast("int")
    ).otherwise(
        F.raise_error(
            F.lit(
                f"{op_name}: side flag must be 1 (reference), 2"
                " (current) or NULL (neither era) — fix the era split"
            )
        )
    )


def _sided_counts(
    df: DataFrame,
    value_col: str,
    side: Column,
    groups: "list[str]",
    op_name: str,
    *,
    categorical: bool = False,
) -> DataFrame:
    """``(group..., __v, __c1, __c2)`` distinct values with per-side
    counts — the one map-side reduction every two-sample tail reads
    (``__cat`` instead of ``__v`` when ``categorical``: the category
    key is checked non-NULL like a group key, never cast). ``side`` is
    a Column over ``df`` evaluating 1 (reference), 2 (current) or NULL
    (neither era — dropped), so one scan of the un-split source feeds
    both sides; the two-input operators pass
    ``ref ∪ cur`` with a literal flag, and the streaming twins build
    their frozen reference (literal 1) and each batch delta (literal
    2) here too. NULL values and NULL group keys raise (the psi
    convention)."""
    from .drift import _checked_keys, _checked_long

    d = df.withColumn("__s", _checked_side(side, op_name)).filter(
        F.col("__s").isNotNull()
    )
    if categorical:
        key = "__cat"
        d = _checked_keys(
            d.select(*groups, F.col(value_col).alias(key), "__s"),
            [*groups, key],
            op_name=op_name,
        )
    else:
        key = "__v"
        if groups:
            d = _checked_keys(d, groups, op_name=op_name)
        d = d.select(
            *groups,
            _checked_long(F.col(value_col), "input", op_name).alias(key),
            "__s",
        )
    return d.groupBy(*groups, key).agg(
        F.sum(F.when(F.col("__s") == 1, 1).otherwise(0))
        .cast("long")
        .alias("__c1"),
        F.sum(F.when(F.col("__s") == 2, 1).otherwise(0))
        .cast("long")
        .alias("__c2"),
    )


def _flagged(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    group_cols: "list[str] | None",
) -> DataFrame:
    """``ref ∪ cur`` projected to ``(group..., value)`` with the literal
    side flag ``__side`` (1 = ref, 2 = cur) — how every two-input
    operator reaches its one-scan form."""
    cols = [*(group_cols or []), value_col]
    return ref.select(*cols, F.lit(1).alias("__side")).unionByName(
        cur.select(*cols, F.lit(2).alias("__side"))
    )


def mann_whitney_u(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    *,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between ``ref`` and ``cur``:

        U₁ = R₁ − n₁(n₁+1)/2          (R₁ = ref's average-rank sum)
        auc = U₁ / (n₁·n₂)            (P(ref value > cur value) + ½ties)
        z = (U₁ − n₁n₂/2 ∓ ½) / sqrt(n₁n₂/12·[(n+1) − Σ(t³−t)/(n(n−1))])

    with the tie-corrected variance and a continuity correction toward
    the mean. Doubled ranks keep everything integer until the final
    expressions: per distinct value, 2·avgrank = 2·prior + cnt + 1
    from ONE cumulative window over the (value, side-counts) aggregate;
    2R₁ accumulates in DECIMAL(38,0). Returns one row per group:
    ``(group..., n_ref, n_cur, u_stat, auc, tie_term, z, p_value)``
    where u_stat is 2·U₁ halved exactly (U₁ can be half-integer under
    ties, so u_stat is reported as a double of the exact 2U₁/2), and
    p_value is the two-sided normal tail via the A&S polynomial
    (round-at-≤9dp oracle contract).

    Degenerates are explicit, never NaN: a group present in only ONE
    input (no two-sample test exists) reports NULL u_stat/auc/z/p with
    its counts — the psi one-sided-group asymmetry made visible rather
    than a 0/0; all-tied inputs report NULL z/p under an EXACT
    integer zero-variance guard ((n+1)n(n−1) = Σ(t³−t), DECIMAL —
    never the rounded double). Overflow bounds: the exact integer work
    tops out at n³ (guard) — fine past 10¹² rows per group — and the
    variance itself is computed in DOUBLE (an integer n⁵ product would
    overflow DECIMAL(38,0) near 4·10⁷ rows; the ols_fit2 det
    precedent). The LONG output cast of tie_term fails loud under ANSI
    if a single value repeats > ~2.1M times in one group."""
    return two_sample(
        "mwu",
        _flagged(ref, cur, value_col, group_cols),
        value_col,
        F.col("__side"),
        group_cols=group_cols,
    )


def _mwu_from_counts(vc: DataFrame, groups: "list[str]") -> DataFrame:
    """MWU formula tail over a ``(group..., __v, __c1, __c2)``
    sided-counts frame (``_FROM_COUNTS["mwu"]``): the batch operators
    and the streaming reader share it, so their statistics can never
    diverge — the ``_psi_from_base`` rule."""
    from .stats import normal_p_two_sided

    if groups:
        w_prior = (
            Window.partitionBy(*groups)
            .orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
    else:
        w_prior = Window.orderBy("__v").rowsBetween(
            Window.unboundedPreceding, -1
        )
    cnt = F.col("__c1") + F.col("__c2")
    prior = F.coalesce(
        F.sum(cnt).over(w_prior).cast("long"), F.lit(0)
    )
    ranked = vc.withColumn(
        "__2r", (F.lit(2) * prior + cnt + 1).cast("long")
    )
    # counts coalesce to 0 so the ungrouped both-empty degenerate
    # reports (0, 0, NULL stats) like two_proportion_ztest, not a row
    # of NULL counts (a global agg of zero rows sums to NULL)
    agg = ranked.groupBy(*groups).agg(
        F.coalesce(F.sum("__c1").cast("long"), F.lit(0))
        .cast("long")
        .alias("n_ref"),
        F.coalesce(F.sum("__c2").cast("long"), F.lit(0))
        .cast("long")
        .alias("n_cur"),
        F.sum(F.col("__c1").cast(_DEC) * F.col("__2r"))
        .cast(_DEC)
        .alias("__2r1"),
        F.coalesce(
            F.sum(cnt.cast(_DEC) * cnt * cnt - cnt).cast(_DEC),
            F.lit(0).cast(_DEC),
        ).alias("tie_term"),  # Σ(t³ − t) over combined tied groups
    )
    n1 = F.col("n_ref").cast(_DEC)
    n = (F.col("n_ref") + F.col("n_cur")).cast(_DEC)
    two_u1 = (F.col("__2r1") - n1 * (n1 + 1)).cast(_DEC)  # 2·U₁ exact
    # one-sided group: no two-sample test exists — NULL stats, not 0/0
    both = (F.col("n_ref") > 0) & (F.col("n_cur") > 0)
    # exact integer zero-variance guard: Var = 0 iff every combined
    # value is tied, i.e. (n+1)n(n−1) == Σ(t³−t) — n³-scaled DECIMAL,
    # safe past 10¹² rows/group (an n⁵ product would not be)
    var_pos = ((n + 1) * n * (n - 1) - F.col("tie_term")) > 0
    n1d = F.col("n_ref").cast("double")
    n2d = F.col("n_cur").cast("double")
    nd = n1d + n2d
    u1 = two_u1.cast("double") / F.lit(2.0)
    auc = two_u1.cast("double") / (F.lit(2.0) * n1d * n2d)
    # tie-corrected Var(U) in DOUBLE (the ols_fit2 det precedent):
    # n₁n₂/12 · [(n+1) − Σ(t³−t)/(n(n−1))]
    var_u = (n1d * n2d / F.lit(12.0)) * (
        (nd + F.lit(1.0))
        - F.col("tie_term").cast("double") / (nd * (nd - F.lit(1.0)))
    )
    mean_u = n1d * n2d / F.lit(2.0)
    # continuity correction toward the mean: shrink |U − mean| by ½
    diff = u1 - mean_u
    z = F.when(
        both & var_pos,
        F.when(diff > 0, (diff - 0.5) / F.sqrt(var_u))
        .when(diff < 0, (diff + 0.5) / F.sqrt(var_u))
        .otherwise(F.lit(0.0)),
    )
    out = agg.select(
        *groups,
        "n_ref",
        "n_cur",
        F.when(both, F.round(u1, 1)).alias("u_stat"),
        F.when(both, F.round(auc, 6)).alias("auc"),
        F.col("tie_term").cast("long").alias("tie_term"),
        F.round(z, 6).alias("z"),
        F.round(normal_p_two_sided(z), 9).alias("p_value"),
    )
    return out.orderBy(*groups) if groups else out


def ks_two_sample(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    *,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic D = sup|F₁ − F₂| with
    the asymptotic p-value:

        D = max over distinct v of |cum₁(v)·n₂ − cum₂(v)·n₁| / (n₁n₂)
        λ = (√nₑ + 0.12 + 0.11/√nₑ)·D,   nₑ = n₁n₂/(n₁+n₂)
        p ≈ 2·Σ_{k=1..16} (−1)^{k−1} e^{−2k²λ²}   for λ ≥ 0.2
        p = 1                                      for λ < 0.2

    The numerator max is an exact integer (both ECDFs step only at
    combined distinct values, so the sup is attained there); D is ONE
    division, and the 16-term Smirnov series is a FIXED unrolled
    expression — identical op order in both engines (truncation error
    e^(−578λ²) < 1e-10 at λ = 0.2). Below λ = 0.2 the alternating
    series needs more terms than any fixed unroll while the true
    Q(λ) > 0.9999997 — so that branch reports 1 exactly, the
    Numerical-Recipes probks convention, and the λ-compare branches
    identically in both engines. ``location`` is the smallest value
    attaining the max (struct-min on the EXACT decimal key —
    deterministic at any scale). Returns one row per group:
    ``(group..., n_ref, n_cur, d_stat, location, p_approx)``; a group
    present in only one input reports NULL stats with its counts (the
    MWU/psi one-sided convention, never a 0/0 NaN)."""
    return two_sample(
        "ks",
        _flagged(ref, cur, value_col, group_cols),
        value_col,
        F.col("__side"),
        group_cols=group_cols,
    )


def _ecdf_base(
    vc: DataFrame, groups: "list[str]", *, lead: bool = False
) -> DataFrame:
    """Shared cumulative-ECDF preamble for the KS/W1/CvM/Mood formula
    tails: per-side cumulative counts over the value order (one window,
    partitioned by the group key when grouped), per-group totals
    (coalesced to 0 so the ungrouped both-empty degenerate keeps
    integer counts — the two_proportion_ztest convention), broadcast
    back onto the distinct-value rows. Returns ``(based, totals)`` —
    based: ``(group..., __v, __c1, __c2, __m1, __m2[, __vnext], n_ref,
    n_cur)``; totals: the O(groups)-row count frame (Mood publishes it
    directly) — carrying the distinct-value-window scale contract ONCE
    for the whole family, the way ``_sided_counts`` centralizes the
    input reduction."""
    if groups:
        w_cum = (
            Window.partitionBy(*groups)
            .orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_lead = Window.partitionBy(*groups).orderBy("__v")
    else:
        w_cum = Window.orderBy("__v").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        w_lead = Window.orderBy("__v")
    cols = [
        *groups,
        "__v",
        "__c1",
        "__c2",
        F.sum("__c1").over(w_cum).cast("long").alias("__m1"),
        F.sum("__c2").over(w_cum).cast("long").alias("__m2"),
    ]
    if lead:
        cols.append(F.lead("__v").over(w_lead).alias("__vnext"))
    cum = vc.select(*cols)
    totals = cum.groupBy(*groups).agg(
        F.coalesce(F.max("__m1"), F.lit(0)).cast("long").alias("n_ref"),
        F.coalesce(F.max("__m2"), F.lit(0)).cast("long").alias("n_cur"),
    )
    if groups:
        based = cum.join(F.broadcast(totals), groups)
    else:
        based = cum.crossJoin(F.broadcast(totals))
    return based, totals


def _ks_from_counts(vc: DataFrame, groups: "list[str]") -> DataFrame:
    """KS formula tail over a sided-counts frame
    (``_FROM_COUNTS["ks"]``)."""
    based, _ = _ecdf_base(vc, groups)
    num = F.abs(
        F.col("__m1").cast(_DEC) * F.col("n_cur")
        - F.col("__m2").cast(_DEC) * F.col("n_ref")
    ).cast(_DEC)
    scored = based.select(
        *groups,
        "n_ref",
        "n_cur",
        "__v",
        num.alias("__num"),
    )
    # coalesce to 0 so the ungrouped both-empty degenerate reports
    # counts like two_proportion_ztest (the MWU fix, same rationale)
    agg = scored.groupBy(*groups).agg(
        F.coalesce(F.max("n_ref"), F.lit(0)).cast("long").alias("n_ref"),
        F.coalesce(F.max("n_cur"), F.lit(0)).cast("long").alias("n_cur"),
        F.max("__num").cast(_DEC).alias("__maxnum"),
        # argmin key stays EXACT decimal — a double cast would collapse
        # numerators differing by 1 above 2^53 and pick a wrong location
        F.min(
            F.struct(
                (-F.col("__num")).cast(_DEC).alias("__neg"),
                F.col("__v").alias("__loc"),
            )
        ).alias("__arg"),
    )
    # one-sided group: D = sup|F1 − F2| is undefined without both
    # samples — NULL stats, not a 0/0 NaN (the MWU/psi convention)
    both = (F.col("n_ref") > 0) & (F.col("n_cur") > 0)
    n1d = F.col("n_ref").cast("double")
    n2d = F.col("n_cur").cast("double")
    d = F.col("__maxnum").cast("double") / (n1d * n2d)
    ne = n1d * n2d / (n1d + n2d)
    lam = (F.sqrt(ne) + F.lit(0.12) + F.lit(0.11) / F.sqrt(ne)) * d
    series = None
    for k in range(1, 17):
        term = (F.lit(1.0) if k % 2 == 1 else F.lit(-1.0)) * F.exp(
            F.lit(-2.0 * k * k) * lam * lam
        )
        series = term if series is None else series + term
    p = F.when(lam < 0.2, F.lit(1.0)).otherwise(
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), F.lit(2.0) * series))
    )
    out = agg.select(
        *groups,
        "n_ref",
        "n_cur",
        F.when(both, F.round(d, 6)).alias("d_stat"),
        F.when(both, F.col("__arg.__loc")).alias("location"),
        F.when(both, F.round(p, 9)).alias("p_approx"),
    )
    return out.orderBy(*groups) if groups else out


def two_proportion_ztest(
    ref: DataFrame,
    cur: DataFrame,
    success_col: str,
    *,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Two-proportion z-test (pooled, with continuity correction) —
    the categorical member of the drift-significance family: MWU/KS
    ask whether a VALUE distribution moved, this asks whether a RATE
    did (conversion, defect, return — any 0/1 column):

        p̂ = (s₁+s₂)/(n₁+n₂)
        z = (p₁ − p₂ ∓ cc) / sqrt(p̂(1−p̂)(1/n₁+1/n₂)),  cc = ½(1/n₁+1/n₂)

    Everything before z is four exact integer counts from ONE
    map-side-combinable conditional aggregate over ``ref ∪ cur`` (the
    only shuffle carries one row per group); z is one double
    expression of those integers and the p-value rides the shared A&S
    polynomial (round-at-≤9dp oracle contract). ``success_col`` must be 0/1 — other values
    raise (fail-loud, the NULL-value convention: a 2 silently summed
    into successes would corrupt the rate). Returns one row per
    group: ``(group..., n_ref, s_ref, n_cur, s_cur, rate_ref,
    rate_cur, z, p_value)``; one-sided groups and all-same pooled
    rates (p̂ ∈ {0,1} ⇒ zero variance) report NULL z/p under exact
    integer guards, while each rate stays populated whenever its own
    side has data."""
    return two_proportion_ztest_split(
        _flagged(ref, cur, success_col, group_cols),
        success_col,
        F.col("__side"),
        group_cols=group_cols,
    )


def _ztest_from_base(base: DataFrame, groups: "list[str]") -> DataFrame:
    """Z-test formula tail over a ``(group..., n_ref, s_ref, n_cur,
    s_cur)`` four-count frame."""
    from .stats import normal_p_two_sided

    n1d = F.col("n_ref").cast("double")
    n2d = F.col("n_cur").cast("double")
    p1 = F.col("s_ref").cast("double") / n1d
    p2 = F.col("s_cur").cast("double") / n2d
    pool = (F.col("s_ref") + F.col("s_cur")).cast("double") / (
        n1d + n2d
    )
    inv = F.lit(1.0) / n1d + F.lit(1.0) / n2d
    sd = F.sqrt(pool * (F.lit(1.0) - pool) * inv)
    cc = F.lit(0.5) * inv
    diff = p1 - p2
    # exact integer guards: both sides present, and the pooled rate is
    # strictly interior (0 < s1+s2 < n1+n2) — otherwise variance is 0
    both = (F.col("n_ref") > 0) & (F.col("n_cur") > 0)
    interior = (
        (F.col("s_ref") + F.col("s_cur")) > 0
    ) & ((F.col("s_ref") + F.col("s_cur")) < (F.col("n_ref") + F.col("n_cur")))
    z = F.when(
        both & interior,
        F.when(diff > cc, (diff - cc) / sd)
        .when(diff < -cc, (diff + cc) / sd)
        .otherwise(F.lit(0.0)),
    )
    out = base.select(
        *groups,
        "n_ref",
        "s_ref",
        "n_cur",
        "s_cur",
        # each rate is defined whenever ITS side has data — a one-sided
        # group (the newly-appearing segment, exactly the row worth
        # looking at) keeps its populated rate and NULLs only the test
        F.when(F.col("n_ref") > 0, F.round(p1, 6)).alias("rate_ref"),
        F.when(F.col("n_cur") > 0, F.round(p2, 6)).alias("rate_cur"),
        F.round(z, 6).alias("z"),
        F.round(normal_p_two_sided(z), 9).alias("p_value"),
    )
    return out.orderBy(*groups) if groups else out


def wasserstein_1(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    *,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Two-sample 1-Wasserstein (earth-mover) distance on an integer
    column — the L1 drift MAGNITUDE in the value's own units (cents
    moved per row), completing the metric family: KS is the sup of
    |F₁−F₂|, Cramér-von Mises its L2, W₁ its L1 scaled by the value
    axis:

        W₁ = ∫ |F₁(v) − F₂(v)| dv
           = Σ over consecutive distinct values |F₁(vᵢ) − F₂(vᵢ)| · (vᵢ₊₁ − vᵢ)

    Unlike PSI, W₁ needs no bucketing choice and carries units a
    dashboard can read ("the typical order moved $14.30"); unlike
    KS/MWU p-values it says how FAR, not how sure. The integer core
    |m₁·n₂ − m₂·n₁| · gap accumulates exactly in DECIMAL(38,0) over
    the DISTINCT-VALUE aggregate (one cumulative window + one lead —
    O(distinct values) windowed rows at any fact volume, the
    _sided_counts contract); W₁ is ONE final division. Returns one row
    per group: ``(group..., n_ref, n_cur, w1)``; one-sided groups
    report NULL w1 with their counts (the psi asymmetry convention);
    both-empty ungrouped inputs report (0, 0, NULL). NULL values
    raise (fail-loud)."""
    return two_sample(
        "w1",
        _flagged(ref, cur, value_col, group_cols),
        value_col,
        F.col("__side"),
        group_cols=group_cols,
    )


def _w1_from_counts(vc: DataFrame, groups: "list[str]") -> DataFrame:
    """W1 formula tail over a sided-counts frame
    (``_FROM_COUNTS["w1"]``)."""
    based, _ = _ecdf_base(vc, groups, lead=True)
    # the last distinct value has no successor — its ECDF gap spans no
    # axis length, so the lead-NULL term is correctly zero. The gap is
    # subtracted in DECIMAL (the KS-numerator pattern): a long
    # subtraction would ARITHMETIC_OVERFLOW on value spans wider than
    # 2^63 instead of accumulating exactly.
    term = (
        F.abs(
            F.col("__m1").cast(_DEC) * F.col("n_cur")
            - F.col("__m2").cast(_DEC) * F.col("n_ref")
        )
        * F.coalesce(
            F.col("__vnext").cast(_DEC) - F.col("__v").cast(_DEC),
            F.lit(0).cast(_DEC),
        )
    ).cast(_DEC)
    agg = based.groupBy(*groups).agg(
        F.coalesce(F.max("n_ref"), F.lit(0)).cast("long").alias("n_ref"),
        F.coalesce(F.max("n_cur"), F.lit(0)).cast("long").alias("n_cur"),
        F.coalesce(
            F.sum(term).cast(_DEC), F.lit(0).cast(_DEC)
        ).alias("__num"),
    )
    both = (F.col("n_ref") > 0) & (F.col("n_cur") > 0)
    w1 = F.col("__num").cast("double") / (
        F.col("n_ref").cast("double") * F.col("n_cur").cast("double")
    )
    out = agg.select(
        *groups,
        "n_ref",
        "n_cur",
        F.when(both, F.round(w1, 6)).alias("w1"),
    )
    return out.orderBy(*groups) if groups else out


def cramer_von_mises(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    *,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Two-sample Cramér-von Mises criterion — the L2 ECDF divergence
    (the integral sibling of KS's sup, more sensitive to distributed
    shape differences than to one sharp gap):

        T = n₁n₂/N² · Σ over all N sample points (F₁(x) − F₂(x))²
          = Σ over distinct v (c₁+c₂)(m₁n₂ − m₂n₁)² / (N²·n₁n₂)

    with Anderson's exact small-sample moments under H₀ for a
    standardized reading:

        E[T]   = 1/6 + 1/(6N)
        Var[T] = (N+1)/(45N²) · (4n₁n₂N − 3(n₁²+n₂²) − 2n₁n₂)/(4n₁n₂)

    The ECDF difference m₁n₂−m₂n₁ is exact DECIMAL(38,0); each
    term's normalized contribution (c₁+c₂)·diff²/(N²n₁n₂) ∈ [0, N/4]
    is ONE double expression of those exact integers, quantized at
    1e-12 and integer-summed so the Σ is ORDER-FREE and identical
    across engines at any scale (the psi/markov-entropy tn trick —
    an exact integer w·diff² sum would overflow DECIMAL(38,0) near
    4·10⁷ rows per side, the documented MWU n⁵ ceiling). Accuracy is
    dominated by the per-term DOUBLE representation once contributions
    exceed 2⁵³/1e12 (absolute error ~term·2⁻⁵² per term, the same
    honest ~N·2⁻⁵² ceiling the KW docstring states; below that scale
    the half-up quantization bias is ≤ 5e-13·distinct-values) — and
    BOTH engines compute the identical quantized value at any scale,
    which is what the oracle hash checks. Returns one row per group:
    ``(group..., n_ref, n_cur, t_stat, t_expected, t_std)`` where
    t_std = (T − E[T])/√Var[T] is the standardized drift score
    (≈ N(0,1)-ish far in the tail but the limiting law is NOT normal —
    compare t_stat against tabulated CvM quantiles for calibrated
    significance, or let the MWU/KS p-values make the call; this
    operator contributes the L2 magnitude reading). One-sided groups
    report NULL stats with counts; NULL values raise."""
    return two_sample(
        "cvm",
        _flagged(ref, cur, value_col, group_cols),
        value_col,
        F.col("__side"),
        group_cols=group_cols,
    )


def _cvm_from_counts(vc: DataFrame, groups: "list[str]") -> DataFrame:
    """CvM formula tail over a sided-counts frame
    (``_FROM_COUNTS["cvm"]``)."""
    based, _ = _ecdf_base(vc, groups)
    # per-term normalized contribution in DOUBLE of the exact DECIMAL
    # ECDF difference, quantized at 1e-12 and integer-summed: order-
    # free under any partitioning, engine-identical, and free of the
    # DECIMAL(38,0) overflow an exact w·diff² sum hits near 4e7 rows
    # per side (see docstring)
    r_n1d = F.col("n_ref").cast("double")
    r_n2d = F.col("n_cur").cast("double")
    r_nd = r_n1d + r_n2d
    diffd = (
        F.col("__m1").cast(_DEC) * F.col("n_cur")
        - F.col("__m2").cast(_DEC) * F.col("n_ref")
    ).cast("double")
    term = (
        (F.col("__c1") + F.col("__c2")).cast("double")
        * diffd
        * diffd
        / (r_nd * r_nd * r_n1d * r_n2d)
    )
    # one-sided groups divide by n₁n₂ = 0 — ANSI would raise before
    # the output guard ever sees the row; their t_stat is NULL anyway
    tn = F.when(
        (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
        F.round(term * F.lit(1000000000000.0)),
    ).otherwise(F.lit(0)).cast(_DEC)
    agg = based.groupBy(*groups).agg(
        F.coalesce(F.max("n_ref"), F.lit(0)).cast("long").alias("n_ref"),
        F.coalesce(F.max("n_cur"), F.lit(0)).cast("long").alias("n_cur"),
        F.coalesce(
            F.sum(tn).cast(_DEC), F.lit(0).cast(_DEC)
        ).alias("__tq"),
    )
    n1d = F.col("n_ref").cast("double")
    n2d = F.col("n_cur").cast("double")
    nd = n1d + n2d
    t = F.col("__tq").cast("double") / F.lit(1000000000000.0)
    et = F.lit(1.0) / 6.0 + F.lit(1.0) / (F.lit(6.0) * nd)
    vart = (
        (nd + F.lit(1.0))
        / (F.lit(45.0) * nd * nd)
        * (
            F.lit(4.0) * n1d * n2d * nd
            - F.lit(3.0) * (n1d * n1d + n2d * n2d)
            - F.lit(2.0) * n1d * n2d
        )
        / (F.lit(4.0) * n1d * n2d)
    )
    both = (F.col("n_ref") > 0) & (F.col("n_cur") > 0)
    # Var is 0 only in sub-2-point degenerates; guard the division
    var_pos = both & (vart > 0)
    out = agg.select(
        *groups,
        "n_ref",
        "n_cur",
        F.when(both, F.round(t, 9)).alias("t_stat"),
        F.when(both, F.round(et, 9)).alias("t_expected"),
        F.when(var_pos, F.round((t - et) / F.sqrt(vart), 6)).alias(
            "t_std"
        ),
    )
    return out.orderBy(*groups) if groups else out


def mood_median_test(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    *,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Mood's median test — did the MEDIAN move: the blunt, maximally
    robust member of the drift-significance family (cares only about
    which side of the pooled median each row lands on, so a handful of
    extreme values cannot move it at all; less powerful than MWU when
    distributions are well-behaved, trustworthy when they are not):

        med = pooled lower median (smallest v with 2·cum ≥ N)
        2×2 table: aᵢ = #side i above med, (nᵢ − aᵢ) = at-or-below
        χ² (Yates) = N·(|a₁(n₂−a₂) − a₂(n₁−a₁)| − N/2)²
                     / (n₁·n₂·A·(N−A)),  A = a₁+a₂
        p = 2(1 − Φ(√χ²))   [χ²₁ tail via the shared A&S polynomial]

    Everything through the table is exact integer work on the
    DISTINCT-VALUE aggregate (the pooled median is one cumulative
    window + a conditional min — the psi_buckets order-statistic
    shape; the Yates numerator stays DECIMAL-exact to ~10¹⁸ rows per
    side, while the denominator is DOUBLE — an exact n₁n₂A(N−A)
    product would overflow DECIMAL(38,0) near 3·10⁹ rows per side);
    χ² is one double expression and p rides
    ``normal_p_two_sided`` (round-at-≤9dp oracle contract). Returns
    one row per group: ``(group..., n_ref, n_cur, median,
    n_ref_above, n_cur_above, chi2, p_value)``. Degenerate marginals
    (nobody above the median, or everybody) zero the denominator —
    NULL chi2/p under an exact integer guard; one-sided groups report
    NULL stats with counts; NULL values raise."""
    return two_sample(
        "mood",
        _flagged(ref, cur, value_col, group_cols),
        value_col,
        F.col("__side"),
        group_cols=group_cols,
    )


def _mood_from_counts(vc: DataFrame, groups: "list[str]") -> DataFrame:
    """Mood formula tail over a sided-counts frame
    (``_FROM_COUNTS["mood"]``)."""
    from .stats import normal_p_two_sided

    based, totals = _ecdf_base(vc, groups)
    # pooled lower median: smallest v whose combined cum count reaches
    # ceil(N/2) ⇔ 2·(m1+m2) ≥ n1+n2 (integer-exact, no division)
    med_rows = based.filter(
        F.lit(2) * (F.col("__m1") + F.col("__m2"))
        >= F.col("n_ref") + F.col("n_cur")
    )
    med = med_rows.groupBy(*groups).agg(
        F.min(
            F.struct(F.col("__v"), F.col("__m1"), F.col("__m2"))
        ).alias("__at_med")
    )
    if groups:
        j = totals.join(med, groups, "left")
    else:
        j = totals.crossJoin(F.broadcast(med))
    a1 = (F.col("n_ref") - F.col("__at_med.__m1")).cast("long")
    a2 = (F.col("n_cur") - F.col("__at_med.__m2")).cast("long")
    base = j.select(
        *groups,
        "n_ref",
        "n_cur",
        F.col("__at_med.__v").alias("median"),
        a1.alias("n_ref_above"),
        a2.alias("n_cur_above"),
    )
    n1 = F.col("n_ref").cast(_DEC)
    n2 = F.col("n_cur").cast(_DEC)
    nn = n1 + n2
    aa1 = F.col("n_ref_above").cast(_DEC)
    aa2 = F.col("n_cur_above").cast(_DEC)
    # exact integer cross-product difference and Yates correction kept
    # in DECIMAL (cross2 ≤ 2·n₁n₂ — safe past 10¹⁸ rows per side);
    # doubled to avoid the N/2 half-integer (the MWU doubled-rank
    # trick): χ² = N·(2|ad−bc| − N)² / (4·n₁n₂A(N−A))
    cross2 = F.lit(2) * F.abs(
        aa1 * (n2 - aa2) - aa2 * (n1 - aa1)
    ).cast(_DEC)
    yates2 = F.greatest(
        (cross2 - nn).cast(_DEC), F.lit(0).cast(_DEC)
    )  # |diff| smaller than the correction clamps to 0, the scipy rule
    both = (F.col("n_ref") > 0) & (F.col("n_cur") > 0)
    # degenerate-marginal guard on exact integers (A = 0 or A = N);
    # the DENOMINATOR itself is computed in DOUBLE — an exact
    # n₁n₂A(N−A) DECIMAL product would overflow (38,0) near 3e9 rows
    # per side (the MWU n⁵/ols_fit2 det precedent)
    at_l = F.col("n_ref_above") + F.col("n_cur_above")
    ok = both & (at_l > 0) & (at_l < F.col("n_ref") + F.col("n_cur"))
    n1d = F.col("n_ref").cast("double")
    n2d = F.col("n_cur").cast("double")
    nnd = n1d + n2d
    atd = at_l.cast("double")
    chi2 = (
        nnd
        * yates2.cast("double")
        * yates2.cast("double")
        / (F.lit(4.0) * (n1d * n2d * atd * (nnd - atd)))
    )
    out = base.select(
        *groups,
        "n_ref",
        "n_cur",
        F.when(both, F.col("median")).alias("median"),
        F.when(both, F.col("n_ref_above")).alias("n_ref_above"),
        F.when(both, F.col("n_cur_above")).alias("n_cur_above"),
        F.when(ok, F.round(chi2, 6)).alias("chi2"),
        F.round(
            normal_p_two_sided(F.when(ok, F.sqrt(chi2))), 9
        ).alias("p_value"),
    )
    return out.orderBy(*groups) if groups else out


def brunner_munzel(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    *,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Brunner-Munzel test — the generalized Wilcoxon for the
    Behrens-Fisher situation: MWU's null is "the distributions are
    EQUAL", so under unequal variances/shapes it can page on a
    dispersion change it was not asked about; BM tests the relevant
    null directly — P(ref < cur) + ½P(=) = ½ — with a variance
    estimated separately per side, staying valid when the two eras
    differ in spread (the exact case a drift dashboard lives in:
    ansari_bradley may fire while the location question still needs
    an answer):

        p̂   = P(X_ref < X_cur) + ½P(=)        (the published effect)
        D₁(v) = #{cur < v} + ½#{cur = v}       (per ref value; D₂ dual)
        S²ᵢ  = Var of Dᵢ over side i's values   (moment form, exact
                                                 integer sums)
        W    = n₁n₂(R̄₂ − R̄₁) / ((n₁+n₂)·√(n₁S₁² + n₂S₂²))
        p    = two-sided normal tail of W

    (the large-sample normal form: the Satterthwaite-t refinement
    matters below ~n = 30 per side and converges to this; at
    warehouse n the two are indistinguishable, and the normal tail is
    the family's cross-engine A&S contract.)

    Scale shape: one cumulative window over the shared DISTINCT-VALUE
    sided-counts aggregate (``_sided_counts`` — the MWU/KS/W1/CvM/
    Mood/AB fold), O(distinct values) windowed rows at any fact
    volume. 2D₁ = 2·cum₂ − c₂ per row is an exact integer; the moment
    sums Σc·2D and Σc·(2D)² are exact DECIMAL(38,0) (≤ 4N³ — safe
    past 10¹¹ rows/side); S² and W are double expressions of them
    (an exact (Σc·2D)² product would overflow near 10⁹ — the MWU
    n⁵/ols_fit2 det precedent). Returns one row per group:
    ``(group..., n_ref, n_cur, p_hat, bm_stat, p_value)``.
    Degenerates are explicit: a one-sided group, n < 2 on either side
    (the S² divisors), an all-tied pool (one distinct value — exact
    integer witness), or COMPLETELY SEPARATED sides (max(ref) <
    min(cur) or vice versa — S₁² = S₂² = 0 exactly, the statistic is
    unbounded; the exact min/max witness forces NULL before the
    rounded doubles can manufacture ±∞) report NULL bm_stat/p with
    counts and p̂. NULL values raise. Streaming: served batch-exact
    from any stored sided-counts state by
    ``streaming.read_streaming_two_sample(spark, dir, "bm")``."""
    return two_sample(
        "bm",
        _flagged(ref, cur, value_col, group_cols),
        value_col,
        F.col("__side"),
        group_cols=group_cols,
    )


def _bm_from_counts(vc: DataFrame, groups: "list[str]") -> DataFrame:
    """Brunner-Munzel formula tail over a sided-counts frame
    (``_FROM_COUNTS["bm"]``)."""
    from .stats import normal_p_two_sided

    based, _ = _ecdf_base(vc, groups)
    # strictly-below + half-ties, doubled to stay integer:
    # 2D₁ = 2·#{cur < v} + #{cur = v} = 2·__m2 − __c2 (dual for D₂)
    d1_2 = (F.lit(2) * F.col("__m2") - F.col("__c2")).cast("long")
    d2_2 = (F.lit(2) * F.col("__m1") - F.col("__c1")).cast("long")
    c1_dec = F.col("__c1").cast(_DEC)
    c2_dec = F.col("__c2").cast(_DEC)
    agg = based.groupBy(*groups).agg(
        F.coalesce(F.max("n_ref"), F.lit(0)).cast("long").alias("n_ref"),
        F.coalesce(F.max("n_cur"), F.lit(0)).cast("long").alias("n_cur"),
        F.coalesce(
            F.sum(c1_dec * d1_2).cast(_DEC), F.lit(0).cast(_DEC)
        ).alias("__w1"),
        F.coalesce(
            F.sum(c2_dec * d2_2).cast(_DEC), F.lit(0).cast(_DEC)
        ).alias("__w2"),
        F.coalesce(
            F.sum(c1_dec * d1_2 * d1_2).cast(_DEC), F.lit(0).cast(_DEC)
        ).alias("__q1"),
        F.coalesce(
            F.sum(c2_dec * d2_2 * d2_2).cast(_DEC), F.lit(0).cast(_DEC)
        ).alias("__q2"),
        # exact degenerate witnesses: pooled distinct-value count and
        # per-side supports for the complete-separation test
        F.count("*").cast("long").alias("__nv"),
        F.max(F.when(F.col("__c1") > 0, F.col("__v"))).alias("__max1"),
        F.min(F.when(F.col("__c1") > 0, F.col("__v"))).alias("__min1"),
        F.max(F.when(F.col("__c2") > 0, F.col("__v"))).alias("__max2"),
        F.min(F.when(F.col("__c2") > 0, F.col("__v"))).alias("__min2"),
    )
    n1d = F.col("n_ref").cast("double")
    n2d = F.col("n_cur").cast("double")
    w1 = F.col("__w1").cast("double")
    w2 = F.col("__w2").cast("double")
    q1 = F.col("__q1").cast("double")
    q2 = F.col("__q2").cast("double")
    both = (F.col("n_ref") > 0) & (F.col("n_cur") > 0)
    # p̂ = K₂/n₁ with K₂ = Σc₂D₂/n₂ = w₂/(2n₂)
    p_hat = w2 / (F.lit(2.0) * n1d * n2d)
    # moment-form per-side variances of D over each side's own values
    s1sq = (q1 - w1 * w1 / n1d) / (F.lit(4.0) * (n1d - F.lit(1.0)))
    s2sq = (q2 - w2 * w2 / n2d) / (F.lit(4.0) * (n2d - F.lit(1.0)))
    # R̄₂ − R̄₁ = w₂/(2n₂) − w₁/(2n₁) + (n₂ − n₁)/2
    rdiff = (
        w2 / (F.lit(2.0) * n2d)
        - w1 / (F.lit(2.0) * n1d)
        + (n2d - n1d) / F.lit(2.0)
    )
    var = n1d * s1sq + n2d * s2sq
    # exact witnesses decide FIRST (the JT integer-guard convention):
    # separation ⇔ the side supports do not overlap. The var > 0 FP
    # belt nests INSIDE the division-free branch so the n < 2
    # degenerates never evaluate the (n − 1) divisors (the AB
    # empty-input ANSI lesson).
    sep = (F.col("__max1") < F.col("__min2")) | (
        F.col("__max2") < F.col("__min1")
    )
    ok_n = both & (F.col("n_ref") >= 2) & (F.col("n_cur") >= 2)
    ok_exact = ok_n & (F.col("__nv") >= 2) & ~sep
    ok = F.coalesce(F.when(ok_exact, var > 0), F.lit(False))
    w = n1d * n2d * rdiff / ((n1d + n2d) * F.sqrt(var))
    out = agg.select(
        *groups,
        "n_ref",
        "n_cur",
        F.when(both, F.round(p_hat, 6)).alias("p_hat"),
        F.when(ok, F.round(w, 6)).alias("bm_stat"),
        F.when(ok, F.round(normal_p_two_sided(w), 9)).alias("p_value"),
    )
    return out.orderBy(*groups) if groups else out


def _kw_value_counts(
    df: DataFrame,
    group_col: str,
    value_col: str,
    outer: "list[str]",
    op_name: str,
) -> DataFrame:
    """Per-(outer..., group, value) count aggregate — the k-sample
    family's map-side reduction (the ``_sided_counts`` analogue) and
    the EXACT frame the streaming KW twin stores as its state. NULL
    group keys and values raise (the psi convention)."""
    from .drift import _checked_keys, _checked_long

    keys = [*outer, group_col]
    d = _checked_keys(df, keys, op_name=op_name)
    return (
        d.select(
            *keys,
            _checked_long(
                F.col(value_col), "input", op_name
            ).alias("__v"),
        )
        .groupBy(*keys, "__v")
        .agg(F.count("*").cast("long").alias("__c"))
    )


def _kw_per_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    outer: "list[str]",
    op_name: str,
) -> DataFrame:
    """Shared pooled-doubled-rank aggregate for the k-sample family —
    one O(k)-row frame per outer key carrying ``(__n_g, __2rg,
    __tie_g, __N)``: group size, exact-integer doubled rank sum
    2R_g, the group's share of the pooled tie term Σ(t³−t), and the
    pooled N. Serves :func:`kruskal_wallis` (the omnibus gate) and
    :func:`dunn_test` (its post-hoc) from the identical rank fold —
    the ``_mwu_from_counts`` rule applied to the k-sample rung.

    Scale shape: pooled doubled ranks come from two RANGE windows
    over the per-(group, value) count aggregate — no join,
    O(k·distinct values) windowed rows at any fact volume — and the
    tie term needs no per-value dedup (Σ_rows c·(t²−1) = Σ_v t³−t
    exactly, since Σ_g c = t)."""
    vc = _kw_value_counts(df, group_col, value_col, outer, op_name)
    return _kw_per_group_from_counts(vc, group_col, outer)


def _kw_per_group_from_counts(
    vc: DataFrame, group_col: str, outer: "list[str]"
) -> DataFrame:
    """The rank fold over a ``(outer..., group, __v, __c)`` count
    frame — split out so the streaming KW twin can serve from its
    stored state through the identical expressions (the
    ``_mwu_from_counts`` rule)."""
    keys = [*outer, group_col]
    if outer:
        w_le = (
            Window.partitionBy(*outer)
            .orderBy("__v")
            .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_peer = Window.partitionBy(*outer, "__v")
    else:
        w_le = Window.orderBy("__v").rangeBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        w_peer = Window.partitionBy("__v")
    # pooled ≤-cumulative via one RANGE frame (currentRow bound — no
    # frame arithmetic, so __v = Long.MIN cannot overflow the way a
    # rangeBetween(…, -1) bound's v + (-1) does under ANSI) and the
    # pooled per-value tie size via an unordered peer partition;
    # strictly-less = le − t. Peers (same __v, other groups) land in
    # the same bucket, so no per-value pre-aggregation or join.
    le = F.sum("__c").over(w_le).cast("long")
    tot = F.sum("__c").over(w_peer).cast("long")
    ranked = vc.select(
        *keys,
        "__c",
        le.alias("__le"),
        tot.alias("__t"),  # pooled tie size at this value
    ).select(
        *keys,
        "__c",
        "__t",
        (F.lit(2) * (F.col("__le") - F.col("__t")) + F.col("__t") + 1)
        .cast("long")
        .alias("__2r"),
    )
    per_g = ranked.groupBy(*outer, group_col).agg(
        F.sum("__c").cast("long").alias("__n_g"),
        F.sum(F.col("__c").cast(_DEC) * F.col("__2r"))
        .cast(_DEC)
        .alias("__2rg"),
        # Σ_rows c·(t²−1) = Σ_v (t³−t): exact pooled tie term with no
        # per-value dedup (Σ_g c = t)
        F.sum(
            F.col("__c").cast(_DEC)
            * (F.col("__t").cast(_DEC) * F.col("__t") - 1)
        )
        .cast(_DEC)
        .alias("__tie_g"),
    )
    # pooled N per outer key stamped onto the O(k)-row group frame
    # FIRST (a window cannot nest inside the aggregate that needs it)
    w_all = Window.partitionBy(*outer) if outer else Window.partitionBy()
    return per_g.withColumn(
        "__N", F.sum("__n_g").over(w_all).cast("long")
    )


def ansari_bradley(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    *,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Ansari-Bradley two-sample scale test — the DISPERSION leg of
    the drift playbook (MWU/Mood ask whether the LOCATION moved, KS/
    CvM whether the SHAPE did, W1/PSI how FAR; this asks whether the
    SPREAD changed — a model's input can keep its median while its
    tails quietly widen, and no other member of the family is built
    to page on that). Rank-based and distribution-free: pooled values
    are scored from both ends inward,

        s(i)  = min(i, N+1−i)            (tie blocks take the block
                                          average score)
        T     = Σ over ref values s̄(v)   (small T ⟺ ref sits in the
                                          tails ⟺ ref MORE dispersed)
        E[T]  = n₁·ā,  ā = Σᵢ s(i) / N
        Var[T]= n₁n₂/(N(N−1)) · (Σ_v t·s̄² − N·ā²)   (tie-exact)
        z     = (T − E)/√Var,  p = 2(1 − Φ(|z|))     [A&S]

    Caveat the dashboard must respect (documented, not hidden): AB
    assumes the two locations are ALIGNED — a large median shift
    masquerades as a scale change; run Mood first, and center per
    side (subtract each side's median) when locations differ.

    Exactness/scale shape (the _sided_counts contract): the doubled
    block score sum 2S over a tie block's rank span [m−t+1, m] has a
    closed form from the pooled cumulative counts — two consecutive-
    integer sums split at the fold point h = ⌊(N+1)/2⌋ — so the whole
    statistic computes on the DISTINCT-VALUE aggregate with ONE
    cumulative window (O(distinct values) windowed rows at any fact
    volume), 2S exact in DECIMAL(38,0), and the rational per-value
    terms c₁·2S/(2t) and (2S)²/(4t) quantized at 1e-9 and integer-
    summed (the CvM/KW tn trick — order-free, engine-identical; the
    per-term double representation error is the documented ~N·2⁻⁵²
    ceiling). Returns one row per group: ``(group..., n_ref, n_cur,
    ab_stat, ab_expected, z, p_value)``; one-sided groups report NULL
    stats with their counts, an all-tied pool (zero score variance)
    reports NULL z/p, NULL values raise (fail-loud). No continuity
    correction (the scipy.stats.ansari normal-approximation
    convention)."""
    return two_sample(
        "ab",
        _flagged(ref, cur, value_col, group_cols),
        value_col,
        F.col("__side"),
        group_cols=group_cols,
    )


def _ab_from_counts(vc: DataFrame, groups: "list[str]") -> DataFrame:
    """Ansari-Bradley formula tail over a sided-counts frame
    (``_FROM_COUNTS["ab"]``)."""
    from .stats import normal_p_two_sided

    based, _ = _ecdf_base(vc, groups)
    t = (F.col("__c1") + F.col("__c2")).cast("long")
    m = (F.col("__m1") + F.col("__m2")).cast("long")
    n_tot = (F.col("n_ref") + F.col("n_cur")).cast("long")
    a = (m - t + F.lit(1)).cast("long")
    b = m
    # fold point: scores rise 1..h then fall back; ⌊(N+1)/2⌋ via
    # shiftright (nonnegative, so it IS the floor division)
    h = F.shiftright(n_tot + F.lit(1), 1)
    lo_hi = F.least(b, h)
    up_lo = F.greatest(a, h + F.lit(1))
    # doubled consecutive-integer sums (always even before doubling,
    # so 2S needs no halving): 2·Σ_{a..lo_hi} i  and
    # 2·Σ_{up_lo..b} (N+1−i)
    s2_lo = F.when(
        a <= lo_hi,
        (lo_hi + a).cast(_DEC) * (lo_hi - a + F.lit(1)),
    ).otherwise(F.lit(0)).cast(_DEC)
    s2_hi = F.when(
        b >= up_lo,
        (F.lit(2) * n_tot + F.lit(2) - up_lo - b).cast(_DEC)
        * (b - up_lo + F.lit(1)),
    ).otherwise(F.lit(0)).cast(_DEC)
    s2 = (s2_lo + s2_hi).cast(_DEC)
    td = t.cast("double")
    s2d = s2.cast("double")
    # per-value rational terms, 1e-9-quantized (order-free sums)
    term_t = F.round(
        F.col("__c1").cast("double") * s2d / (F.lit(2.0) * td)
        * F.lit(1000000000.0)
    ).cast(_DEC)
    term_ss = F.round(
        s2d * s2d / (F.lit(4.0) * td) * F.lit(1000000000.0)
    ).cast(_DEC)
    agg = based.groupBy(*groups).agg(
        F.coalesce(F.max("n_ref"), F.lit(0)).cast("long").alias("n_ref"),
        F.coalesce(F.max("n_cur"), F.lit(0)).cast("long").alias("n_cur"),
        F.coalesce(F.sum(term_t).cast(_DEC), F.lit(0).cast(_DEC))
        .alias("__qt"),
        F.coalesce(F.sum(term_ss).cast(_DEC), F.lit(0).cast(_DEC))
        .alias("__qss"),
        # Σ_v 2S is exactly 2·Σᵢ s(i) — the exact integer total
        F.coalesce(F.sum(s2).cast(_DEC), F.lit(0).cast(_DEC))
        .alias("__s2tot"),
    )
    n1d = F.col("n_ref").cast("double")
    n2d = F.col("n_cur").cast("double")
    nd = n1d + n2d
    t_stat = F.col("__qt").cast("double") / F.lit(1000000000.0)
    abar = F.col("__s2tot").cast("double") / (F.lit(2.0) * nd)
    e_t = n1d * abar
    varsum = (
        F.col("__qss").cast("double") / F.lit(1000000000.0)
        - nd * abar * abar
    )
    var = n1d * n2d / (nd * (nd - F.lit(1.0))) * varsum
    both = (F.col("n_ref") > 0) & (F.col("n_cur") > 0)
    # the var > 0 test must live INSIDE a `both & N ≥ 2` CASE branch:
    # a flat conjunction evaluates var (divisions by nd, nd−1) even
    # for the empty/one-sided rows it is meant to exclude, and ANSI
    # raises DIVIDE_BY_ZERO on N = 0 (the MWU/Mood guards are
    # division-free for the same reason; CASE short-circuits)
    ok = both & (F.col("n_ref") + F.col("n_cur") >= 2)
    z = (t_stat - e_t) / F.sqrt(var)
    out = agg.select(
        *groups,
        "n_ref",
        "n_cur",
        F.when(both, F.round(t_stat, 6)).alias("ab_stat"),
        F.when(both, F.round(e_t, 6)).alias("ab_expected"),
        F.when(ok, F.when(var > 0, F.round(z, 6))).alias("z"),
        F.when(
            ok,
            F.when(var > 0, F.round(normal_p_two_sided(z), 9)),
        ).alias("p_value"),
    )
    return out.orderBy(*groups) if groups else out


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    outer_group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Kruskal-Wallis H — the k-sample generalization of Mann-Whitney
    ("did ANY group's value distribution move"): the omnibus gate a
    dashboard runs BEFORE the per-group battery (grouped MWU → BH), so
    k segments are charged ONE test until something actually differs:

        2·avgrank(v) = 2·#{pooled < v} + #{pooled = v} + 1
        H  = 3/(N(N+1)) · Σ_g (2R_g)²/n_g − 3(N+1)
        C  = 1 − Σ(t³−t)/(N³−N)              (tie correction)
        p ≈ upper χ²_{k−1} tail of H/C via Wilson-Hilferty:
            z = ((H_c/ν)^⅓ − (1 − 2/9ν)) / √(2/9ν),  p = 1 − Φ(z)

    Scale shape: pooled doubled ranks come from two RANGE windows over
    the per-(group, value) count aggregate — no join, O(k·distinct
    values) windowed rows at any fact volume — and the tie term needs
    no per-value dedup (Σ_rows c·(t²−1) = Σ_v t³−t exactly, since
    Σ_g c = t). 2R_g and the tie term are exact integers
    (DECIMAL(38,0)); each group's (2R_g)²/n_g/(N(N+1)) contribution is
    one double expression quantized at 1e-9 and integer-summed (the
    CvM tn trick — order-free, engine-identical). H's classic form
    subtracts two ~N-sized quantities, so its absolute error is
    ~N·2⁻⁵² — negligible below 10¹² rows, documented rather than
    hidden. The Wilson-Hilferty z feeds the shared A&S polynomial:
    p = np/2 for z ≥ 0, else 1 − np/2 (the χ² tail is one-sided).

    Returns one row (per outer group): ``(outer..., n_total, k_groups,
    h_stat, tie_term, h_corrected, deg_f, z_wh, p_value)``. Degenerates
    are explicit: k < 2 groups or an all-tied pool (C ≤ 0 under the
    exact N³−N = Σ(t³−t) integer test) report NULL h/z/p with their
    counts. NULL group keys or values raise (fail-loud).

    With ``outer_group_cols`` every stage keys on the outer group —
    one independent omnibus verdict per outer key."""
    outer = list(outer_group_cols or [])
    per_g = _kw_per_group(df, group_col, value_col, outer, "kruskal_wallis")
    return _kw_from_per_group(per_g, outer)


def _kw_from_per_group(per_g: DataFrame, outer: "list[str]") -> DataFrame:
    """The KW formula tail over the shared per-group rank aggregate —
    serves the batch operator AND ``streaming.read_streaming_kw``
    (one implementation, so the streamed omnibus verdict can never
    diverge from the batch one)."""
    from .stats import normal_p_two_sided

    nd_g = F.col("__N").cast("double")
    # per-group normalized H contribution, quantized (order-free sum)
    agg = per_g.groupBy(*outer).agg(
        F.coalesce(F.max("__N"), F.lit(0)).cast("long").alias("n_total"),
        F.count("*").cast("long").alias("k_groups"),
        # tie_term stays DECIMAL(38,0): the pooled Σ(t³−t) passes 2⁶³
        # around 2M repeats per value across the whole pool — a LONG
        # output cast would crash the omnibus gate exactly at the
        # scale it exists for (the CvM/W1/Mood overflow class; canon
        # strs integral decimals identically to ints, so oracle hashes
        # are unaffected)
        F.coalesce(F.sum("__tie_g").cast(_DEC), F.lit(0).cast(_DEC))
        .alias("tie_term"),
        F.coalesce(
            F.sum(
                F.round(
                    F.col("__2rg").cast("double")
                    * F.col("__2rg").cast("double")
                    / F.col("__n_g").cast("double")
                    / (nd_g * (nd_g + F.lit(1.0)))
                    * F.lit(1000000000.0)
                ).cast(_DEC)
            ).cast(_DEC),
            F.lit(0).cast(_DEC),
        ).alias("__hq"),
    )
    nd = F.col("n_total").cast("double")
    h = (
        F.lit(3.0) * (F.col("__hq").cast("double") / F.lit(1000000000.0))
        - F.lit(3.0) * (nd + F.lit(1.0))
    )
    # exact all-tied test: C ≤ 0 ⟺ N³ − N ≤ Σ(t³−t) (integers)
    n_dec = F.col("n_total").cast(_DEC)
    untied = (n_dec * n_dec * n_dec - n_dec) > F.col(
        "tie_term"
    ).cast(_DEC)
    c_corr = F.lit(1.0) - F.col("tie_term").cast("double") / (
        nd * nd * nd - nd
    )
    ok = (F.col("k_groups") >= 2) & (F.col("n_total") > 0) & untied
    h_c = h / c_corr
    dfree = (F.col("k_groups") - 1).cast("double")
    z = (
        F.cbrt(h_c / dfree)
        - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * dfree))
    ) / F.sqrt(F.lit(2.0) / (F.lit(9.0) * dfree))
    np2 = normal_p_two_sided(z)
    p = F.when(z >= 0, np2 / F.lit(2.0)).otherwise(
        F.lit(1.0) - np2 / F.lit(2.0)
    )
    out = agg.select(
        *outer,
        "n_total",
        "k_groups",
        F.when(ok, F.round(h, 6)).alias("h_stat"),
        "tie_term",
        F.when(ok, F.round(h_c, 6)).alias("h_corrected"),
        (F.col("k_groups") - 1).cast("long").alias("deg_f"),
        F.when(ok, F.round(z, 6)).alias("z_wh"),
        F.when(ok, F.round(p, 9)).alias("p_value"),
    )
    return out.orderBy(*outer) if outer else out


def dunn_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    alpha: float = 0.05,
    outer_group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Dunn's post-hoc test — after :func:`kruskal_wallis` says "SOME
    group moved", this says WHICH: pairwise z-comparisons of mean
    pooled ranks, BH-corrected across the k(k−1)/2 pairs via
    :func:`~..stats.bh_select` (the playbook's omnibus→post-hoc rung:
    raw pairwise MWUs after a KW rejection re-manufacture the
    multiple-testing problem the omnibus existed to prevent, and they
    re-rank every pair; Dunn reuses the ONE pooled ranking KW already
    computed):

        R̄_g  = (2R_g / n_g) / 2            (exact-integer 2R_g)
        σ²ᵢⱼ = (N(N+1)/12 − Σ(t³−t)/(12(N−1))) · (1/nᵢ + 1/nⱼ)
        zᵢⱼ  = (R̄ᵢ − R̄ⱼ) / σᵢⱼ,   p = 2(1 − Φ(|z|))   [A&S]
        then Benjamini-Hochberg at FDR ``alpha`` over all pairs.

    Scale shape: the pooled doubled ranks come from the SAME
    two-RANGE-window fold over the per-(group, value) count aggregate
    as the omnibus (``_kw_per_group`` — O(k·distinct values) windowed
    rows at any fact volume); the pair frame is a broadcast self-join
    of the O(k)-row group aggregate (k(k−1)/2 rows — pairs of GROUPS,
    never of fact rows), and BH's rank window rides that same bounded
    frame. 2R_g and Σ(t³−t) are exact integers (DECIMAL(38,0)); z is
    one double expression of them.

    Returns one row per unordered group pair, ``group_a < group_b``:
    ``(outer..., group_a, group_b, n_a, n_b, mean_rank_a,
    mean_rank_b, z, p_value, p_rank, m_tests, bh_threshold,
    selected)``. Degenerates are explicit: an all-tied pool (σ² = 0
    under the exact integer test N³−N ≤ Σ(t³−t)) or N < 2 reports
    NULL z/p — and NULL p never selects nor counts toward m (the
    bh_select contract); a key with k < 2 groups has no pairs, so it
    emits ONE degenerate row (``group_a`` = the lone group if any,
    ``group_b``/stats NULL, ``selected`` false) instead of silently
    vanishing from the output — the KW explicit-degenerate
    convention. NULL group keys or values raise (fail-loud)."""
    outer = list(outer_group_cols or [])
    per_g = _kw_per_group(df, group_col, value_col, outer, "dunn_test")
    # the pair tail reads the O(k)-row group frame three times (both
    # join sides + the pooled-tie window) — pin it so the rank fold
    # over the fact table runs once (the kendall reuse pattern)
    return _dunn_from_per_group(
        per_g.localCheckpoint(eager=False), group_col, outer, alpha
    )


def _dunn_from_per_group(
    per_g: DataFrame,
    group_col: str,
    outer: "list[str]",
    alpha: float,
) -> DataFrame:
    """The Dunn formula tail over the shared per-group rank aggregate
    — serves the batch operator AND ``streaming.read_streaming_dunn``
    (the k-sample rung's "one fold, two verdicts" rule)."""
    from .stats import bh_select, normal_p_two_sided

    # pooled tie term stamped like __N (same O(k)-row window)
    w_all = Window.partitionBy(*outer) if outer else Window.partitionBy()
    per_g = per_g.withColumn(
        "__tie", F.coalesce(F.sum("__tie_g").over(w_all), F.lit(0)).cast(_DEC)
    )
    a = per_g.select(
        *outer,
        F.col(group_col).alias("group_a"),
        F.col("__n_g").alias("__n_a"),
        F.col("__2rg").alias("__2r_a"),
        F.col("__N").alias("__N"),
        F.col("__tie").alias("__tie"),
    )
    b = per_g.select(
        *[F.col(k).alias(f"__o_{k}") for k in outer],
        F.col(group_col).alias("group_b"),
        F.col("__n_g").alias("__n_b"),
        F.col("__2rg").alias("__2r_b"),
    )
    cond = F.col("group_a") < F.col("group_b")
    for k in outer:
        cond = cond & (F.col(k) == F.col(f"__o_{k}"))
    # pairs of GROUPS: both sides are the O(k)-row aggregate, so the
    # broadcast inequality join is bounded by construction (the
    # aggregate-not-filter crossJoin rule); outer keys equi-match via
    # the renamed right-side copies, dropped after the join
    pairs = a.join(F.broadcast(b), cond).drop(
        *[f"__o_{k}" for k in outer]
    )
    nd = F.col("__N").cast("double")
    mean_a = F.col("__2r_a").cast("double") / (
        F.lit(2.0) * F.col("__n_a").cast("double")
    )
    mean_b = F.col("__2r_b").cast("double") / (
        F.lit(2.0) * F.col("__n_b").cast("double")
    )
    # exact all-tied / tiny-pool guard: σ² > 0 ⟺ N³ − N > Σ(t³−t)
    n_dec = F.col("__N").cast(_DEC)
    ok = (
        (F.col("__N") >= 2)
        & ((n_dec * n_dec * n_dec - n_dec) > F.col("__tie"))
    )
    var = (
        nd * (nd + F.lit(1.0)) / F.lit(12.0)
        - F.col("__tie").cast("double")
        / (F.lit(12.0) * (nd - F.lit(1.0)))
    ) * (
        F.lit(1.0) / F.col("__n_a").cast("double")
        + F.lit(1.0) / F.col("__n_b").cast("double")
    )
    z = (mean_a - mean_b) / F.sqrt(var)
    scored = pairs.select(
        *outer,
        "group_a",
        "group_b",
        F.col("__n_a").cast("long").alias("n_a"),
        F.col("__n_b").cast("long").alias("n_b"),
        F.round(mean_a, 6).alias("mean_rank_a"),
        F.round(mean_b, 6).alias("mean_rank_b"),
        F.when(ok, F.round(z, 6)).alias("z"),
        F.when(ok, F.round(normal_p_two_sided(z), 9)).alias("p_value"),
    )
    out = bh_select(
        scored,
        "p_value",
        alpha=alpha,
        tie_cols=[*outer, "group_a", "group_b"],
    )
    # k < 2 keys produce no pairs — emit one explicit degenerate row
    # per such key (the KW convention; a one-group region must not
    # silently vanish). The frame is the O(k)-row group aggregate
    # again, so the scan+filter is bounded; ungrouped inputs get one
    # global row (including the empty-input case, where the lone
    # group itself is NULL).
    g_type = per_g.schema[group_col].dataType
    lone = per_g.groupBy(*outer).agg(
        F.count("*").cast("long").alias("__k"),
        F.max(group_col).alias("__lone_g"),
        F.max("__n_g").cast("long").alias("__lone_n"),
    ).where(F.col("__k") < 2)
    degen = lone.select(
        *outer,
        F.col("__lone_g").alias("group_a"),
        F.lit(None).cast(g_type).alias("group_b"),
        F.col("__lone_n").alias("n_a"),
        F.lit(None).cast("long").alias("n_b"),
        F.lit(None).cast("double").alias("mean_rank_a"),
        F.lit(None).cast("double").alias("mean_rank_b"),
        F.lit(None).cast("double").alias("z"),
        F.lit(None).cast("double").alias("p_value"),
        F.lit(None).cast("long").alias("p_rank"),
        F.lit(None).cast("long").alias("m_tests"),
        F.lit(None).cast("double").alias("bh_threshold"),
        F.lit(False).alias("selected"),
    )
    out = out.unionByName(degen)
    return out.orderBy(*outer, "group_a", "group_b")


def jonckheere_terpstra(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    outer_group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative k-sample test — the
    TREND member of the k-sample rung ("do values rise MONOTONICALLY
    across the groups in their sort order" — dose-response, era
    buckets, quality tiers): Kruskal-Wallis asks whether ANY group
    differs, Dunn which pairs differ; JT asks the sharper ordered
    question and has far more power when the alternative really is
    monotone (it is the k-sample analogue of Mann-Kendall, as MWU is
    of the sign test). Groups are ordered by the ASCENDING sort order
    of ``group_col`` — encode the intended order in the key (e.g.
    era buckets '1_early' < '2_mid' < '3_late'):

        J    = Σ_{i<j} U_ij = Σ_{i<j} (#{xᵢ < xⱼ} + ½·#{xᵢ = xⱼ})
        E[J] = (N² − Σ n_g²)/4
        Var  = [N(N−1)(2N+5) − Σ_g ... − Σ_t ...]/72 + two tie terms
               (the Hollander-Wolfe tie-exact variance)
        z    = (J − E)/√Var,  p = 2(1 − Φ(|z|))   [A&S]

    Scale shape (the KW contract, one extra dense grid): the pairwise
    sum needs every group's cumulative count at every POOLED distinct
    value, so the count aggregate is densified to the (group ×
    distinct values) grid — O(k·distinct values) rows — and 2J
    collapses to ONE pass with two windows over that grid (per-group
    cumulative over the value order + per-value prefix over the group
    order): no pairwise join, no O(k²) stage.

        2J = Σ_v Σ_g c_g(v) · [ 2·Σ_{h<g} m_h(v⁻) + Σ_{h<g} c_h(v) ]

    where m_h(v⁻) is group h's strictly-below cumulative. 2J, E and
    every variance term are exact integers (DECIMAL(38,0) — the
    N³-scale MWU guard class; the 72/36/8 divisions happen once in
    DOUBLE). Returns one row (per outer group): ``(outer...,
    n_total, k_groups, jt_stat, jt_expected, z, p_value)``;
    degenerates (k < 2, N < 3, or an all-tied pool — one distinct
    pooled value, the exact integer zero-variance witness, never the
    three rounded var terms alone) report NULL z/p with their
    counts; NULL group
    keys or values raise (fail-loud). Streaming: served batch-exact
    from the stored KW state by ``streaming.read_streaming_jt`` —
    one fold, THREE verdicts (KW omnibus, Dunn post-hoc, JT trend)."""
    outer = list(outer_group_cols or [])
    vc = _kw_value_counts(
        df, group_col, value_col, outer, "jonckheere_terpstra"
    )
    # the formula tail reads the count aggregate four times (grid
    # values, grid groups, the dense join, the tie sizes) — pin the
    # O(k·distinct)-row frame so the fact scan happens once (the
    # kendall/setsketch reuse pattern)
    return _jt_from_counts(vc.localCheckpoint(eager=False), group_col, outer)


def _jt_from_counts(
    vc: DataFrame, group_col: str, outer: "list[str]"
) -> DataFrame:
    """JT formula tail over a ``(outer..., group, __v, __c)`` count
    frame — serves the batch operator AND
    ``streaming.read_streaming_jt`` (the k-sample one-fold rule)."""
    from .stats import normal_p_two_sided

    # densify to the (group × pooled distinct values) grid so every
    # group has a cumulative at every pooled value: per outer key,
    # distinct values × distinct groups, left-joined against the
    # observed counts (missing cells are 0). Both sides of the join
    # are aggregates of the SAME O(k·distinct) frame.
    vals = vc.select(*outer, "__v").distinct()
    grps = vc.select(*outer, group_col).distinct()
    if outer:
        grid = vals.join(grps, outer)
    else:
        grid = vals.crossJoin(grps)
    dense = grid.join(vc, [*outer, group_col, "__v"], "left").select(
        *outer,
        group_col,
        "__v",
        F.coalesce(F.col("__c"), F.lit(0)).cast("long").alias("__c"),
    )
    if outer:
        w_cum = (
            Window.partitionBy(*outer, group_col)
            .orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        w_pre = (
            Window.partitionBy(*outer, "__v")
            .orderBy(group_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
    else:
        w_cum = (
            Window.partitionBy(group_col)
            .orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        w_pre = (
            Window.partitionBy("__v")
            .orderBy(group_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
    # m_below: this group's strictly-below cumulative at v;
    # prefix sums across EARLIER groups (group sort order) at this v
    m_below = F.coalesce(
        F.sum("__c").over(w_cum).cast("long"), F.lit(0)
    )
    based = dense.withColumn("__mb", m_below)
    pre_m = F.coalesce(
        F.sum("__mb").over(w_pre).cast(_DEC), F.lit(0).cast(_DEC)
    )
    pre_c = F.coalesce(
        F.sum("__c").over(w_pre).cast(_DEC), F.lit(0).cast(_DEC)
    )
    contrib = (
        F.col("__c").cast(_DEC) * (F.lit(2).cast(_DEC) * pre_m + pre_c)
    ).cast(_DEC)
    scored = based.select(*outer, group_col, "__v", "__c", contrib.alias("__j2"))
    # per-group sizes (for E and the Σ n_g terms) and pooled tie sizes
    per_g = scored.groupBy(*outer, group_col).agg(
        F.sum("__c").cast("long").alias("__n_g"),
        F.sum("__j2").cast(_DEC).alias("__j2g"),
    )
    n_dec = F.col("__n_g").cast(_DEC)
    g_agg = per_g.groupBy(*outer).agg(
        F.coalesce(F.sum("__n_g").cast("long"), F.lit(0)).alias("n_total"),
        F.count("*").cast("long").alias("k_groups"),
        F.coalesce(F.sum("__j2g").cast(_DEC), F.lit(0).cast(_DEC))
        .alias("__2j"),
        F.coalesce(
            F.sum(n_dec * n_dec).cast(_DEC), F.lit(0).cast(_DEC)
        ).alias("__sum_n2"),
        F.coalesce(
            F.sum(n_dec * (n_dec - 1) * (2 * n_dec + 5)).cast(_DEC),
            F.lit(0).cast(_DEC),
        ).alias("__g1"),
        F.coalesce(
            F.sum(n_dec * (n_dec - 1) * (n_dec - 2)).cast(_DEC),
            F.lit(0).cast(_DEC),
        ).alias("__g2"),
        F.coalesce(
            F.sum(n_dec * (n_dec - 1)).cast(_DEC), F.lit(0).cast(_DEC)
        ).alias("__g3"),
    )
    # pooled tie-size terms from the per-value totals (Σ over distinct
    # pooled values of t(t−1)(2t+5), t(t−1)(t−2), t(t−1))
    tv = vc.groupBy(*outer, "__v").agg(
        F.sum("__c").cast("long").alias("__t")
    )
    t_dec = F.col("__t").cast(_DEC)
    t_agg = tv.groupBy(*outer).agg(
        # distinct pooled values — the EXACT zero-variance witness:
        # with k ≥ 2 non-empty groups, Var(J) = 0 ⟺ the pool is one
        # tie block (__nv = 1); the three rounded double var terms
        # only cancel to 0 mathematically, so testing `var > 0` alone
        # could leave a few ulps and publish z=0/p≈1 instead of the
        # documented NULL (the KW/Dunn N³−N integer-guard convention)
        F.count("*").cast("long").alias("__nv"),
        F.coalesce(
            F.sum(t_dec * (t_dec - 1) * (2 * t_dec + 5)).cast(_DEC),
            F.lit(0).cast(_DEC),
        ).alias("__t1"),
        F.coalesce(
            F.sum(t_dec * (t_dec - 1) * (t_dec - 2)).cast(_DEC),
            F.lit(0).cast(_DEC),
        ).alias("__t2"),
        F.coalesce(
            F.sum(t_dec * (t_dec - 1)).cast(_DEC), F.lit(0).cast(_DEC)
        ).alias("__t3"),
    )
    if outer:
        agg = g_agg.join(F.broadcast(t_agg), outer)
    else:
        agg = g_agg.crossJoin(F.broadcast(t_agg))
    nn = F.col("n_total").cast(_DEC)
    # exact integers: 2J, 4E = N² − Σn²; variance pieces
    four_e = (nn * nn - F.col("__sum_n2")).cast(_DEC)
    nd = F.col("n_total").cast("double")
    j_stat = F.col("__2j").cast("double") / F.lit(2.0)
    e_stat = four_e.cast("double") / F.lit(4.0)
    term1 = (
        (nn * (nn - 1) * (2 * nn + 5) - F.col("__g1") - F.col("__t1"))
        .cast("double")
        / F.lit(72.0)
    )
    term2 = (
        F.col("__g2").cast("double") * F.col("__t2").cast("double")
        / (
            F.lit(36.0)
            * nd
            * (nd - F.lit(1.0))
            * (nd - F.lit(2.0))
        )
    )
    term3 = (
        F.col("__g3").cast("double") * F.col("__t3").cast("double")
        / (F.lit(8.0) * nd * (nd - F.lit(1.0)))
    )
    ok_basic = (F.col("k_groups") >= 2) & (F.col("n_total") >= 3)
    var = term1 + term2 + term3
    # exact all-tied guard: __nv ≥ 2 (integer witness), with var > 0
    # kept only as the FP-pathology belt (a mathematically positive
    # var that rounds non-positive must publish NULL, never NaN)
    ok_var = (F.col("__nv") >= 2) & (var > 0)
    z = (j_stat - e_stat) / F.sqrt(var)
    out = agg.select(
        *outer,
        "n_total",
        "k_groups",
        F.when(ok_basic, F.round(j_stat, 1)).alias("jt_stat"),
        F.when(ok_basic, F.round(e_stat, 2)).alias("jt_expected"),
        # the variance tests nest INSIDE the division-free branch so
        # the N<3 degenerates never evaluate term2/term3's divisions
        # (the AB empty-input ANSI lesson)
        F.when(ok_basic, F.when(ok_var, F.round(z, 6))).alias("z"),
        F.when(
            ok_basic,
            F.when(ok_var, F.round(normal_p_two_sided(z), 9)),
        ).alias("p_value"),
    )
    return out.orderBy(*outer) if outer else out


def chi2_homogeneity(
    ref: DataFrame,
    cur: DataFrame,
    cat_col: str,
    *,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Chi-square homogeneity test on a CATEGORICAL column — the
    categorical member of the drift-significance family ("did the
    category MIX shift between the eras, and is it real"):
    ``two_proportion_ztest`` handles a binary rate, this handles the
    k-category composition (event-type mix, language mix, source
    mix), pairing a p-value with the magnitude-only divergence
    readings (JSD/PSI-style shares):

        2×k table of per-side category counts
        χ² = (1/(n₁n₂)) · Σ_c d_c²/t_c,   d_c = c₁n₂ − c₂n₁,
                                           t_c = c₁ + c₂
        (the algebraic collapse of Σ (o−e)²/e over both rows)
        p ≈ upper χ²_{k−1} tail via Wilson-Hilferty (the KW tail)
        for k ≥ 3; for k = 2 (deg_f = 1) the tail is EXACT:
        p = 2(1 − Φ(√χ²)) — the Mood path — because WH carries ~5%
        relative error near p = 0.05 at one degree of freedom

    Scale shape: one map-side conditional count aggregate over the
    category key (O(categories) rows — the z-test cost shape, never
    the fact volume) and a scalar fold. d_c is exact
    DECIMAL(38,0); each category's d²/(n₁n₂t) contribution is one
    double expression of exact integers quantized at 1e-9 and
    integer-summed (the KW tn trick — order-free, engine-identical).
    Returns one row per group: ``(group..., n_ref, n_cur,
    k_categories, chi2, deg_f, z_wh, p_value)``. ``z_wh`` is the
    normal deviate whose tail yields ``p_value``: √χ² when
    deg_f = 1 (exact), the Wilson-Hilferty deviate otherwise — so a
    consumer recomputing p from the published columns never
    contradicts the verdict (the bh_threshold published-consistency
    rule). Degenerates are explicit: a one-sided group or k < 2
    categories reports NULL chi2/z/p with its counts. NULL
    categories raise (fail-loud — a NULL silently pooled into its
    own category would hide an encoding bug)."""
    return two_sample(
        "chi2",
        _flagged(ref, cur, cat_col, group_cols),
        cat_col,
        F.col("__side"),
        group_cols=group_cols,
    )


def _chi2_from_counts(vc: DataFrame, groups: "list[str]") -> DataFrame:
    """Chi-square homogeneity formula tail over a ``(group..., __cat,
    __c1, __c2)`` category sided-counts frame
    (``_FROM_COUNTS["chi2"]``)."""
    from .stats import normal_p_two_sided

    d_dec = (
        F.col("__c1").cast(_DEC) * F.col("__n2")
        - F.col("__c2").cast(_DEC) * F.col("__n1")
    ).cast(_DEC)
    t_d = (F.col("__c1") + F.col("__c2")).cast("double")
    # totals stamped first (the window-inside-aggregate rule), then
    # the quantized per-category fold
    w_all = Window.partitionBy(*groups) if groups else Window.partitionBy()
    based = vc.withColumn(
        "__n1", F.sum("__c1").over(w_all).cast("long")
    ).withColumn("__n2", F.sum("__c2").over(w_all).cast("long"))
    term = F.round(
        d_dec.cast("double") * d_dec.cast("double")
        / (
            F.col("__n1").cast("double")
            * F.col("__n2").cast("double")
            * t_d
        )
        * F.lit(1000000000.0)
    ).cast(_DEC)
    agg = based.groupBy(*groups).agg(
        F.coalesce(F.max("__n1"), F.lit(0)).cast("long").alias("n_ref"),
        F.coalesce(F.max("__n2"), F.lit(0)).cast("long").alias("n_cur"),
        F.count("*").cast("long").alias("k_categories"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("__n1") > 0) & (F.col("__n2") > 0), term
                )
            ).cast(_DEC),
            F.lit(0).cast(_DEC),
        ).alias("__q"),
    )
    both = (F.col("n_ref") > 0) & (F.col("n_cur") > 0)
    ok = both & (F.col("k_categories") >= 2)
    chi2 = F.col("__q").cast("double") / F.lit(1000000000.0)
    dfree = (F.col("k_categories") - 1).cast("double")
    z_wh = (
        F.cbrt(chi2 / dfree)
        - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * dfree))
    ) / F.sqrt(F.lit(2.0) / (F.lit(9.0) * dfree))
    # deg_f = 1: the χ²₁ upper tail is exactly 2(1 − Φ(√χ²)) (the
    # mood_median_test path) — WH is kept only for deg_f ≥ 2 where
    # its error is small (the KW convention)
    z = F.when(F.col("k_categories") == 2, F.sqrt(chi2)).otherwise(z_wh)
    np2 = normal_p_two_sided(z)
    p = F.when(F.col("k_categories") == 2, np2).otherwise(
        F.when(z >= 0, np2 / F.lit(2.0)).otherwise(
            F.lit(1.0) - np2 / F.lit(2.0)
        )
    )
    out = agg.select(
        *groups,
        "n_ref",
        "n_cur",
        "k_categories",
        F.when(ok, F.round(chi2, 6)).alias("chi2"),
        (F.col("k_categories") - 1).cast("long").alias("deg_f"),
        F.when(ok, F.round(z, 6)).alias("z_wh"),
        F.when(ok, F.round(p, 9)).alias("p_value"),
    )
    return out.orderBy(*groups) if groups else out


def median_test_k(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    outer_group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Brown-Mood k-sample median test — did any group's MEDIAN move:
    the k-sample generalization of :func:`mood_median_test` and the
    blunt, maximally robust member of the k-sample battery (only
    which side of the POOLED median each row lands on matters, so a
    handful of extreme values cannot move the verdict; Kruskal-Wallis
    is the powerful sibling when tails behave, this is the trustworthy
    one when they do not):

        med = pooled lower median (smallest v with 2·cum ≥ N,
              the mood_median_test convention)
        2×k table: a_g = #group g above med, n_g − a_g at-or-below
        χ² = Σ_g (a_g·N − n_g·A)² / (n_g·A·(N−A)),  A = Σa_g
        p  = upper χ²_{k−1} tail — Wilson-Hilferty for k ≥ 3,
             EXACT 2(1 − Φ(√χ²)) for k = 2 (the chi2_homogeneity
             convention; for a Yates-corrected two-sample verdict use
             mood_median_test, which this test deliberately does not
             duplicate — the omnibus is uncorrected, the textbook
             Brown-Mood form)

    Scale shape: the pooled median is one cumulative window over the
    per-(outer, value) totals of the per-(group, value) count
    aggregate (``_kw_value_counts`` — the SAME frame the KW/Dunn/JT
    rungs fold over, and the exact state ``start_streaming_kw``
    stores, so the streamed verdict is served for free); a_g is one
    keyed aggregate; each group's (a_g·N − n_g·A)² term is exact
    DECIMAL integers (≤ N² each — safe past 10¹⁸ rows) over a DOUBLE
    denominator, quantized at 1e-9 and integer-summed (the
    chi2_homogeneity fold). Returns one row per outer group:
    ``(outer..., n_total, k_groups, median, n_above, chi2, deg_f,
    z_wh, p_value)`` — ``z_wh`` carries √χ² when deg_f = 1 (the
    deviate whose two-sided tail IS the published p), Wilson-Hilferty
    otherwise. Degenerates are explicit: k < 2 groups or a degenerate
    margin (nobody above the pooled median, or everybody — includes
    the all-tied pool) reports NULL chi2/z/p with counts and the
    median. NULL group keys or values raise. Streaming:
    ``streaming.read_streaming_median_k`` serves this from the stored
    KW state — one fold, FOUR verdicts (KW, Dunn, JT, median)."""
    outer = list(outer_group_cols or [])
    vc = _kw_value_counts(df, group_col, value_col, outer, "median_test_k")
    return _medk_from_counts(vc, group_col, outer)


def _medk_from_counts(
    vc: DataFrame, group_col: str, outer: "list[str]"
) -> DataFrame:
    """Shared Brown-Mood formula tail over a ``(outer..., group, __v,
    __c)`` count frame — serves the batch operator AND
    ``streaming.read_streaming_median_k`` (the k-sample one-fold
    rule)."""
    from .stats import normal_p_two_sided

    # pooled per-value totals + cumulative (outer-partitioned)
    tv = vc.groupBy(*outer, "__v").agg(
        F.sum("__c").cast("long").alias("__t")
    )
    if outer:
        w_cum = (
            Window.partitionBy(*outer)
            .orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_all = Window.partitionBy(*outer)
    else:
        w_cum = Window.orderBy("__v").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        w_all = Window.partitionBy()
    cum = tv.select(
        *outer,
        "__v",
        F.sum("__t").over(w_cum).cast("long").alias("__m"),
        F.sum("__t").over(w_all).cast("long").alias("__n"),
    )
    # pooled lower median: smallest v with 2·cum ≥ N (the
    # mood_median_test convention, integer-exact)
    med = (
        cum.filter(F.lit(2) * F.col("__m") >= F.col("__n"))
        .groupBy(*outer)
        .agg(F.min("__v").alias("__med"))
    )
    if outer:
        joined = vc.join(F.broadcast(med), outer)
    else:
        joined = vc.crossJoin(F.broadcast(med))
    per_g = joined.groupBy(*outer, group_col).agg(
        F.sum("__c").cast("long").alias("__n_g"),
        F.coalesce(
            F.sum(F.when(F.col("__v") > F.col("__med"), F.col("__c"))),
            F.lit(0),
        )
        .cast("long")
        .alias("__a_g"),
        F.max("__med").alias("__med"),
    )
    # totals stamped over the O(k)-row group frame, then the quantized
    # per-group fold (the chi2_homogeneity pattern)
    if outer:
        w_tot = Window.partitionBy(*outer)
    else:
        w_tot = Window.partitionBy()
    based = per_g.withColumn(
        "__N", F.sum("__n_g").over(w_tot).cast("long")
    ).withColumn("__A", F.sum("__a_g").over(w_tot).cast("long"))
    d_dec = (
        F.col("__a_g").cast(_DEC) * F.col("__N")
        - F.col("__n_g").cast(_DEC) * F.col("__A")
    ).cast(_DEC)
    term = F.round(
        d_dec.cast("double")
        * d_dec.cast("double")
        / (
            F.col("__n_g").cast("double")
            * F.col("__A").cast("double")
            * (F.col("__N") - F.col("__A")).cast("double")
        )
        * F.lit(1000000000.0)
    ).cast(_DEC)
    ok_margin = (F.col("__A") > 0) & (F.col("__A") < F.col("__N"))
    agg = based.groupBy(*outer).agg(
        F.coalesce(F.max("__N"), F.lit(0)).cast("long").alias("n_total"),
        F.count("*").cast("long").alias("k_groups"),
        F.max("__med").alias("median"),
        F.coalesce(F.max("__A"), F.lit(0)).cast("long").alias("n_above"),
        F.coalesce(
            F.sum(F.when(ok_margin, term)).cast(_DEC),
            F.lit(0).cast(_DEC),
        ).alias("__q"),
    )
    ok = (
        (F.col("k_groups") >= 2)
        & (F.col("n_above") > 0)
        & (F.col("n_above") < F.col("n_total"))
    )
    chi2 = F.col("__q").cast("double") / F.lit(1000000000.0)
    dfree = (F.col("k_groups") - 1).cast("double")
    z_wh = (
        F.cbrt(chi2 / dfree)
        - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * dfree))
    ) / F.sqrt(F.lit(2.0) / (F.lit(9.0) * dfree))
    z = F.when(F.col("k_groups") == 2, F.sqrt(chi2)).otherwise(z_wh)
    np2 = normal_p_two_sided(z)
    p = F.when(F.col("k_groups") == 2, np2).otherwise(
        F.when(z >= 0, np2 / F.lit(2.0)).otherwise(
            F.lit(1.0) - np2 / F.lit(2.0)
        )
    )
    out = agg.select(
        *outer,
        "n_total",
        "k_groups",
        "median",
        "n_above",
        F.when(ok, F.round(chi2, 6)).alias("chi2"),
        (F.col("k_groups") - 1).cast("long").alias("deg_f"),
        F.when(ok, F.round(z, 6)).alias("z_wh"),
        F.when(ok, F.round(p, 9)).alias("p_value"),
    )
    return out.orderBy(*outer) if outer else out


# each two-sample test's kind → (operator name for fail-loud errors,
# key column of its sided-counts frame, formula tail over that frame)
_FROM_COUNTS = {
    "mwu": ("mann_whitney_u", "__v", _mwu_from_counts),
    "ks": ("ks_two_sample", "__v", _ks_from_counts),
    "w1": ("wasserstein_1", "__v", _w1_from_counts),
    "cvm": ("cramer_von_mises", "__v", _cvm_from_counts),
    "mood": ("mood_median_test", "__v", _mood_from_counts),
    "ab": ("ansari_bradley", "__v", _ab_from_counts),
    "bm": ("brunner_munzel", "__v", _bm_from_counts),
    "chi2": ("chi2_homogeneity", "__cat", _chi2_from_counts),
}


def _from_counts(kind: str, caller: str):
    """``(op_name, key, tail)`` for ``kind``; an unknown kind raises."""
    if kind not in _FROM_COUNTS:
        raise ValueError(
            f"{caller}: unknown kind {kind!r} — expected one of"
            f" {sorted(_FROM_COUNTS)}"
        )
    return _FROM_COUNTS[kind]


def two_sample(
    kind: str,
    df: DataFrame,
    value_col: str,
    side: Column,
    *,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """One-scan form of every two-sample test in ``_FROM_COUNTS``:
    ``side`` flags each row of the un-split ``df`` 1 (reference), 2
    (current) or NULL (neither era — dropped), so the source is read
    once rather than once per era filter. ``kind`` picks the test
    (``"chi2"`` reads ``value_col`` as a category); the output,
    statistics and degenerate conventions are the named two-input
    operator's, which is this call on ``ref ∪ cur``."""
    op_name, key, tail = _from_counts(kind, "two_sample")
    groups = list(group_cols or [])
    vc = _sided_counts(
        df, value_col, side, groups, op_name, categorical=key == "__cat"
    )
    return tail(vc, groups)


def two_proportion_ztest_split(
    df: DataFrame,
    success_col: str,
    side: Column,
    *,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """One-scan form of :func:`two_proportion_ztest`, and its only
    body (the two-input form calls it on ``ref ∪ cur``): the four
    counts come from ONE conditional aggregate over the flagged frame,
    so a lineitem⋈orders join spine feeding both eras runs once. The
    z-test base is four counts per group, not value counts, so it is
    not a ``two_sample`` kind."""
    groups = list(group_cols or [])
    op = "two_proportion_ztest"
    d = df.withColumn("__sd", _checked_side(side, op)).filter(
        F.col("__sd").isNotNull()
    )
    if groups:
        from .drift import _checked_keys

        d = _checked_keys(d, groups, op_name=op)
    s = F.col(success_col)
    # validate the RAW column, not its long-cast (the two-input rule)
    checked = F.when(
        s.isNull() | ~s.isin(0, 1),
        F.raise_error(
            F.lit(
                f"{op}: {success_col} must be 0/1 in the flagged"
                " input — cast or filter explicitly"
            )
        ),
    ).otherwise(s.cast("long"))
    one = F.col("__sd")
    base = (
        d.select(*groups, checked.alias("__sc"), "__sd")
        .groupBy(*groups)
        .agg(
            F.coalesce(
                F.sum(F.when(one == 1, 1).otherwise(0)), F.lit(0)
            ).cast("long").alias("n_ref"),
            F.coalesce(
                F.sum(F.when(one == 1, F.col("__sc")).otherwise(0)),
                F.lit(0),
            ).cast("long").alias("s_ref"),
            F.coalesce(
                F.sum(F.when(one == 2, 1).otherwise(0)), F.lit(0)
            ).cast("long").alias("n_cur"),
            F.coalesce(
                F.sum(F.when(one == 2, F.col("__sc")).otherwise(0)),
                F.lit(0),
            ).cast("long").alias("s_cur"),
        )
    )
    return _ztest_from_base(base, groups)


def _mix_shares(vc: DataFrame, groups: "list[str]") -> DataFrame:
    """Per-category share comparison over a ``(group..., __cat, __c1,
    __c2)`` category sided-counts frame: ``(group..., category,
    n_ref, n_cur, share_ref, share_cur, share_delta)``, unordered —
    serves ``queries.events_mix_shares`` AND
    ``streaming.read_streaming_mix_shares``. One O(categories) window
    stamps the per-side totals; a side with no rows reports NULL
    shares rather than a 0/0."""
    w = Window.partitionBy(*groups) if groups else Window.partitionBy()
    n1 = F.sum("__c1").over(w).cast("long")
    n2 = F.sum("__c2").over(w).cast("long")
    share1 = F.when(
        n1 > 0, F.round(F.col("__c1").cast("double") / n1.cast("double"), 6)
    )
    share2 = F.when(
        n2 > 0, F.round(F.col("__c2").cast("double") / n2.cast("double"), 6)
    )
    return vc.select(
        *groups,
        F.col("__cat").alias("category"),
        F.col("__c1").alias("n_ref"),
        F.col("__c2").alias("n_cur"),
        share1.alias("share_ref"),
        share2.alias("share_cur"),
        F.round(
            F.coalesce(share2, F.lit(0.0)) - F.coalesce(share1, F.lit(0.0)),
            6,
        ).alias("share_delta"),
    )
