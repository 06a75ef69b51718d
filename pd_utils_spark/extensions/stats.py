"""Exact two-sample statistical tests for drift detection and A/B
audits: Kolmogorov–Smirnov, Mann–Whitney U, and Welch's t.

Why here: before retraining on a refreshed corpus (or shipping an
experiment), the question "did this numeric column's distribution
move between snapshot A and snapshot B?" needs an EXACT answer on the
full data, not a sampled one — sampling is exactly what hides tail
drift. All three tests reduce to per-distinct-value counts plus
global running totals, so they run at 100 TB:

- one shuffle to aggregate ``(value) -> (count_a, count_b)`` — the
  massive compression step: shuffle volume is O(distinct values);
- a distributed prefix sum over the value order
  (:func:`pd_utils_spark.plans.prefix.prefix_sum` — range partition +
  local scans + O(#partitions) offset plan, never a single-task
  total-order window);
- one tiny final aggregate.

Exactness note: ``ks_2samp`` / ``mann_whitney_u`` here are the exact
statistics with the standard large-sample (asymptotic) p-value
approximations — the same default SciPy uses beyond small n.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pd_utils_spark.plans.prefix import prefix_agg, prefix_sum

__all__ = [
    "ks_2samp",
    "mann_whitney_u",
    "welch_ttest",
    "poisson_bootstrap_means",
    "poisson_bootstrap_ci",
    "fdr_bh",
    "population_stability_index",
    "caliper_match",
    "kaplan_meier",
    "cuped",
    "conformal_split",
]

# Poisson(1) inverse CDF as fixed 10-dp literals — IDENTICAL text on
# every engine, so the hash-derived bootstrap weights are portable
_POISSON1_CDF = (
    0.3678794412,
    0.7357588823,
    0.9196986029,
    0.9810118431,
    0.9963401532,
    0.9994058152,
    0.9999167589,
    0.9999897508,
    0.9999988748,
)
_U_DENOM = float(1 << 60)  # 60-bit md5 fingerprint -> u in [0, 1)


def _two_sample_counts(
    df: DataFrame, valuecol: str, groupcol: str, a, b
) -> DataFrame:
    """(value, na, nb) per distinct value — the compression pass."""
    v = F.col(valuecol)
    g = F.col(groupcol)
    return (
        df.filter(v.isNotNull() & g.isin([a, b]))
        .groupBy(v.alias("__v__"))
        .agg(
            F.sum((g == a).cast("long")).alias("__na__"),
            F.sum((g == b).cast("long")).alias("__nb__"),
        )
    )


def _kolmogorov_sf(lam: Column, terms: int = 100) -> Column:
    """Two-sided asymptotic KS survival function
    ``Q(lam) = 2 * sum_{k>=1} (-1)^(k-1) exp(-2 k^2 lam^2)`` evaluated
    JVM-side over a literal term sequence (no UDF)."""
    ks = F.sequence(F.lit(1), F.lit(terms))
    series = F.aggregate(
        ks,
        F.lit(0.0),
        lambda acc, k: acc
        + F.when(k % 2 == 1, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.exp(F.lit(-2.0) * (k * k).cast("double") * lam * lam),
    )
    # the alternating series needs ~1/lam terms to converge; below
    # lam=0.05 the true survival is 1 to >1e-10, so take the limit
    # (at lam=0 the truncated series is degenerate: +1-1+1-... = 0)
    return F.when(lam < 0.05, F.lit(1.0)).otherwise(
        F.least(F.greatest(F.lit(2.0) * series, F.lit(0.0)), F.lit(1.0))
    )


def ks_2samp(
    df: DataFrame,
    valuecol: str,
    groupcol: str,
    a,
    b,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov test between the rows where
    ``groupcol == a`` and ``groupcol == b``: one row
    ``(n_a, n_b, d_stat, p_value)`` with
    ``d_stat = sup_x |F_a(x) - F_b(x)|`` computed over EVERY distinct
    value (exact, not binned) and the asymptotic two-sided p-value.

    Scale shape: per-value count agg (one shuffle, output O(distinct
    values)) -> distributed prefix sum over the value order -> one
    max/count aggregate. Nulls in ``valuecol`` are excluded.

    Caches the input of its prefix scans
    (:func:`~pd_utils_spark.plans.prefix.prefix_agg`): call
    ``release_registered("prefix_agg")`` once the result is consumed.
    """
    counts = _two_sample_counts(df, valuecol, groupcol, a, b)
    cum = prefix_sum(counts, "__v__", ["__na__", "__nb__"])
    # totals ride the same frame via a one-row broadcast (no collect)
    tot = counts.agg(
        F.sum("__na__").alias("__ta__"), F.sum("__nb__").alias("__tb__")
    )
    gap = cum.crossJoin(F.broadcast(tot)).select(
        F.abs(
            F.col("__na___cum").cast("double") / F.col("__ta__")
            - F.col("__nb___cum").cast("double") / F.col("__tb__")
        ).alias("__gap__"),
        "__ta__",
        "__tb__",
    )
    agg = gap.groupBy("__ta__", "__tb__").agg(F.max("__gap__").alias("d_stat"))
    na, nb = F.col("__ta__").cast("double"), F.col("__tb__").cast("double")
    en = F.sqrt(na * nb / (na + nb))
    lam = (en + F.lit(0.12) + F.lit(0.11) / en) * F.col("d_stat")
    return agg.select(
        F.col("__ta__").alias("n_a"),
        F.col("__tb__").alias("n_b"),
        "d_stat",
        _kolmogorov_sf(lam).alias("p_value"),
    )


def mann_whitney_u(
    df: DataFrame,
    valuecol: str,
    groupcol: str,
    a,
    b,
) -> DataFrame:
    """Exact two-sample Mann–Whitney U (Wilcoxon rank-sum) test:
    one row ``(n_a, n_b, u_stat, z, p_value)``. ``u_stat`` is the
    U statistic of sample ``a`` with midrank tie handling; ``z`` and
    the two-sided ``p_value`` use the normal approximation WITH the
    standard tie correction (the SciPy large-sample default).

    Rank arithmetic runs on per-distinct-value counts: the average
    rank of a tie group is ``(#earlier values) + (ties + 1) / 2``,
    which needs only the exclusive prefix sum of the combined counts —
    the identical distributed-scan plan as :func:`ks_2samp`, O(distinct
    values) after the first shuffle.

    Caches the input of its prefix scans
    (:func:`~pd_utils_spark.plans.prefix.prefix_agg`): call
    ``release_registered("prefix_agg")`` once the result is consumed.
    """
    counts = _two_sample_counts(df, valuecol, groupcol, a, b).withColumn(
        "__nt__", F.col("__na__") + F.col("__nb__")
    )
    cum = prefix_sum(counts, "__v__", ["__nt__"], inclusive=False)
    tot = counts.agg(
        F.sum("__na__").alias("__ta__"),
        F.sum("__nb__").alias("__tb__"),
        # tie correction term: sum over tie groups of t^3 - t
        F.sum(
            F.pow(F.col("__nt__").cast("double"), 3) - F.col("__nt__").cast("double")
        ).alias("__ties__"),
    )
    avg_rank = F.col("__nt___cum").cast("double") + (
        F.col("__nt__").cast("double") + 1.0
    ) / 2.0
    ra = cum.select(
        (F.col("__na__").cast("double") * avg_rank).alias("__ra__")
    ).agg(F.sum("__ra__").alias("__rsum__"))
    na, nb = F.col("__ta__").cast("double"), F.col("__tb__").cast("double")
    n = na + nb
    u = F.col("__rsum__") - na * (na + 1.0) / 2.0
    mu = na * nb / 2.0
    sigma = F.sqrt(
        (na * nb / 12.0) * ((n + 1.0) - F.col("__ties__") / (n * (n - 1.0)))
    )
    # continuity-corrected z, SciPy 'asymptotic' parity
    z = (u - mu - F.when(u > mu, 0.5).when(u < mu, -0.5).otherwise(0.0)) / sigma
    # two-sided normal sf via erfc: p = erfc(|z| / sqrt(2))
    p = _erfc(F.abs(z) / F.lit(2.0**0.5))
    return (
        ra.crossJoin(F.broadcast(tot))
        .select(
            F.col("__ta__").alias("n_a"),
            F.col("__tb__").alias("n_b"),
            u.alias("u_stat"),
            z.alias("z"),
            F.least(p, F.lit(1.0)).alias("p_value"),
        )
    )


def poisson_bootstrap_means(
    df: DataFrame,
    valuecol: str,
    idcols: str | list[str],
    replicas: int = 200,
    seed: str = "pb",
) -> DataFrame:
    """Poisson-bootstrap replica estimates of the mean of
    ``valuecol``: ``(replica, n_eff, est)`` — one row per replica,
    where every input row participates in replica ``r`` with weight
    ``w ~ Poisson(1)`` (the streaming-scale stand-in for multinomial
    resampling; Chamandy et al., "Estimating Uncertainty for Massive
    Data Streams", Google 2012).

    The weight is NOT random: ``u = md5_60(id ':' r ':' seed) / 2^60``
    pushed through the Poisson(1) inverse CDF (fixed 10-dp literal
    thresholds), so the entire bootstrap is deterministic,
    partition-independent, and replayable by any engine that has md5.

    Scale shape: ONE scan; the replica dimension explodes each row
    ``replicas``-fold MAP-SIDE where partial aggregation immediately
    collapses it — shuffle volume is O(partitions x replicas) rows of
    sufficient statistics, never rows x replicas. This is the point
    of the Poisson bootstrap: no resampling pass per replica.
    """
    if replicas < 2:
        raise ValueError(f"replicas must be >= 2: {replicas}")
    from pd_utils_spark.utils import to_list

    id_l = to_list(idcols)
    if not id_l:
        raise ValueError("idcols is required (deterministic weights key)")
    v = F.col(valuecol)
    rid = F.concat_ws(
        ":", *[F.col(c).cast("string") for c in id_l],
        F.col("__rep__").cast("string"), F.lit(seed),
    )
    u = (
        F.conv(F.substring(F.md5(rid), 1, 15), 16, 10).cast("bigint").cast("double")
        / F.lit(_U_DENOM)
    )
    w = sum(
        (u >= F.lit(t)).cast("int") for t in _POISSON1_CDF
    ).cast("double")
    exploded = (
        df.filter(v.isNotNull())
        .select(v.alias("__v__"), *[F.col(c) for c in id_l])
        .withColumn(
            "__rep__", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1)))
        )
        .withColumn("__w__", w)
    )
    return (
        exploded.groupBy(F.col("__rep__").alias("replica"))
        .agg(
            F.sum("__w__").alias("n_eff"),
            (F.sum(F.col("__w__") * F.col("__v__")) / F.sum("__w__")).alias("est"),
        )
    )


def poisson_bootstrap_ci(
    df: DataFrame,
    valuecol: str,
    idcols: str | list[str],
    replicas: int = 200,
    alpha: float = 0.05,
    seed: str = "pb",
) -> DataFrame:
    """Percentile-bootstrap confidence interval for the mean of
    ``valuecol`` from :func:`poisson_bootstrap_means`: one row
    ``(estimate, ci_lo, ci_hi, n, n_replicas)`` where ``estimate`` is
    the plain full-data mean and the CI is the ``alpha/2`` /
    ``1 - alpha/2`` exact percentile pair of the replica means
    (linear interpolation — a ``replicas``-row sort, trivial).

    The one-pass answer to "what is the uncertainty on this metric at
    100 TB" — no data resampling, no driver-side loop."""
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"alpha must be in (0, 1): {alpha}")
    reps = poisson_bootstrap_means(df, valuecol, idcols, replicas, seed)
    v = F.col(valuecol)
    base = df.filter(v.isNotNull()).agg(
        F.count(v).alias("n"), F.avg(v).alias("estimate")
    )
    qs = reps.agg(
        F.expr(
            f"percentile(est, array({alpha / 2.0}, {1.0 - alpha / 2.0}))"
        ).alias("__q__")
    ).select(
        F.col("__q__")[0].alias("ci_lo"), F.col("__q__")[1].alias("ci_hi")
    )
    return (
        base.crossJoin(F.broadcast(qs))
        .select("estimate", "ci_lo", "ci_hi", "n")
        .withColumn("n_replicas", F.lit(replicas))
    )


def fdr_bh(
    df: DataFrame,
    pcol: str = "p_value",
    out: str = "q_value",
    partitions: int | None = None,
) -> DataFrame:
    """Benjamini–Hochberg FDR correction: every row gains ``out`` =
    the BH adjusted q-value of its ``pcol`` —
    ``q(i) = min_{j >= i} p(j) * n / j`` over the ascending p order,
    capped at 1. Reject "q <= alpha" controls the false discovery
    rate at ``alpha`` across the whole batch of tests — the standard
    guard when a drift screen runs thousands of per-segment tests and
    some WILL look significant by chance.

    Distributed shape (never a single-task total-order window): p
    values compress to per-distinct-value counts; the BH rank of a
    tie group is its INCLUSIVE global cumulative count (all tied
    tests share the ratio at the group's last position); the suffix
    min over ascending p is a prefix min over DESCENDING p — both
    scans run through :func:`pd_utils_spark.plans.prefix.prefix_agg`
    (range partition + parallel local scans + O(#partitions) offsets).
    The distinct-p -> q map joins back on the p value (AQE broadcasts
    it when small). Null p rows pass through with null ``out``.

    Caches the input of its prefix scans
    (:func:`~pd_utils_spark.plans.prefix.prefix_agg`): call
    ``release_registered("prefix_agg")`` once the result is consumed.
    """
    p = F.col(pcol)
    counts = (
        df.filter(p.isNotNull())
        .groupBy(p.alias("__p__"))
        .agg(F.count(F.lit(1)).alias("__c__"))
    )
    ranked = prefix_sum(
        counts, "__p__", "__c__", suffix="_cum", partitions=partitions
    )
    tot = counts.agg(F.sum("__c__").cast("double").alias("__n__"))
    ratio = (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "__p__",
            (F.col("__p__") * F.col("__n__") / F.col("__c___cum")).alias("__r__"),
            (-F.col("__p__")).alias("__negp__"),
        )
    )
    qmap = prefix_agg(
        ratio, "__negp__", "__r__", agg="min", partitions=partitions
    ).select(
        "__p__", F.least(F.col("__r___cummin"), F.lit(1.0)).alias(out)
    )
    return df.join(qmap, df[pcol] == qmap["__p__"], "left").drop("__p__")


def _erfc(x: Column) -> Column:
    """Complementary error function for x >= 0 — Abramowitz & Stegun
    7.1.26 polynomial (|error| <= 1.5e-7), pure column arithmetic so
    the p-value stays JVM-side and engine-portable (the oracle replays
    the identical polynomial)."""
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = (
        F.lit(0.254829592) * t
        - F.lit(0.284496736) * t * t
        + F.lit(1.421413741) * t * t * t
        - F.lit(1.453152027) * t * t * t * t
        + F.lit(1.061405429) * t * t * t * t * t
    )
    return poly * F.exp(-x * x)


def welch_ttest(
    df: DataFrame,
    valuecol: str,
    groupcol: str,
    a,
    b,
) -> DataFrame:
    """Welch's unequal-variance t-test: one row
    ``(n_a, n_b, mean_a, mean_b, t_stat, dof)`` from ONE aggregation
    pass (sufficient statistics only — count/mean/variance per group;
    no second scan, no shuffle beyond the 2-row group agg). The
    Welch–Satterthwaite ``dof`` is returned for the caller's CDF of
    choice; the statistic itself is exact."""
    v = F.col(valuecol)
    g = F.col(groupcol)
    agg = (
        df.filter(v.isNotNull() & g.isin([a, b]))
        .groupBy()
        .agg(
            F.sum((g == a).cast("long")).alias("na"),
            F.sum((g == b).cast("long")).alias("nb"),
            F.avg(F.when(g == a, v)).alias("ma"),
            F.avg(F.when(g == b, v)).alias("mb"),
            F.var_samp(F.when(g == a, v)).alias("va"),
            F.var_samp(F.when(g == b, v)).alias("vb"),
        )
    )
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    sa, sb = F.col("va") / na, F.col("vb") / nb
    t = (F.col("ma") - F.col("mb")) / F.sqrt(sa + sb)
    dof = (sa + sb) * (sa + sb) / (
        sa * sa / (na - 1.0) + sb * sb / (nb - 1.0)
    )
    return agg.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.col("ma").alias("mean_a"),
        F.col("mb").alias("mean_b"),
        t.alias("t_stat"),
        dof.alias("dof"),
    )


def population_stability_index(
    baseline: DataFrame,
    current: DataFrame,
    valuecol: str,
    bins: int = 10,
    smoothing: float = 0.5,
) -> DataFrame:
    """Population Stability Index — the industry-standard "has this
    feature's distribution moved since training" monitor (credit-risk
    model governance; rule of thumb: <0.1 stable, 0.1–0.25 watch,
    >0.25 shifted): bin the BASELINE into ``bins`` exact equal-count
    quantile bins, place the CURRENT sample into those same bins, and
    report per bin ``(bin, hi, n_base, n_cur, p, q, contrib)`` with
    ``contrib = (p - q) * ln(p / q)``; ``PSI = sum(contrib)``.

    ``smoothing`` pseudo-counts are added to BOTH samples' bin counts
    (``p = (n + s) / (N + s*bins)``) so an empty current bin — the
    very signal PSI exists to catch — contributes a large finite term
    instead of infinity.

    Scale shape: the baseline bins come from
    :func:`pd_utils_spark.plans.prefix.exact_ntile` (per-distinct-
    value counts + distributed prefix scan — reproducible under ties
    and re-partitioning); the bin upper edges collapse to a
    ``bins``-element array broadcast as ONE row, and the current
    sample is assigned by counting edges below each value inside a
    column-level fold — the current stream never joins or sorts, one
    O(bins) aggregation per side.

    Caches the input of its prefix scans
    (:func:`~pd_utils_spark.plans.prefix.prefix_agg`): call
    ``release_registered("prefix_agg")`` once the result is consumed.
    """
    if bins < 2:
        raise ValueError(f"bins must be >= 2: {bins}")
    s = float(smoothing)
    if s <= 0:
        raise ValueError(f"smoothing must be > 0: {s}")
    from pd_utils_spark.plans.prefix import exact_ntile

    v = F.col(valuecol)
    binned = exact_ntile(
        baseline.filter(v.isNotNull()).select(v.alias("__v__")),
        "__v__", bins, out="__b__",
    )
    base_counts = binned.groupBy("__b__").agg(
        F.count(F.lit(1)).alias("n_base"), F.max("__v__").alias("__hi__")
    )
    edges_row = base_counts.agg(
        F.sort_array(
            F.collect_list(F.struct("__b__", "__hi__"))
        ).alias("__eb__")
    )
    # count edges strictly below the value, then map that POSITION back
    # to the present bucket LABEL via element_at: under heavy ties
    # exact_ntile can skip bucket ids (e.g. {0, 5, ...}), so the raw
    # position is not the label — joining on it would silently drop
    # current-side mass from the sparse bins
    n_present = F.size(F.col("__eb__"))
    cur_assigned = (
        current.filter(v.isNotNull())
        .select(v.alias("__v__"))
        .crossJoin(F.broadcast(edges_row))
        .select(
            # an all-null/empty baseline yields an empty edge array
            # (n_present = 0): short-circuit to NULL instead of a
            # negative-length slice + element_at(arr, 0) runtime error,
            # so the query degrades to the empty frame it returned
            # before the sparse-bin fix
            F.when(
                n_present > 0,
                F.element_at(
                    F.col("__eb__"),
                    F.least(
                        F.aggregate(
                            # the LAST bin's edge is the baseline max —
                            # values above it still land in the last bin
                            F.slice(
                                F.col("__eb__"),
                                1,
                                F.greatest(n_present - 1, F.lit(0)),
                            ),
                            F.lit(0),
                            lambda acc, e: acc
                            + (F.col("__v__") > e["__hi__"]).cast("int"),
                        ),
                        n_present - 1,
                    )
                    + F.lit(1),
                )["__b__"],
            ).alias("__b__")
        )
    )
    cur_counts = cur_assigned.groupBy("__b__").agg(
        F.count(F.lit(1)).alias("n_cur")
    )
    tot_b = base_counts.agg(F.sum("n_base").cast("double").alias("__tb__"))
    tot_c = cur_counts.agg(F.sum("n_cur").cast("double").alias("__tc__"))
    joined = (
        base_counts.join(cur_counts, "__b__", "left")
        .withColumn("n_cur", F.coalesce(F.col("n_cur"), F.lit(0)))
        .crossJoin(F.broadcast(tot_b))
        .crossJoin(F.broadcast(tot_c))
    )
    p = (F.col("n_base") + F.lit(s)) / (F.col("__tb__") + F.lit(s * bins))
    q = (F.col("n_cur") + F.lit(s)) / (F.col("__tc__") + F.lit(s * bins))
    return joined.select(
        F.col("__b__").alias("bin"),
        F.col("__hi__").alias("hi"),
        "n_base", "n_cur",
        p.alias("p"),
        q.alias("q"),
        ((p - q) * F.log(p / q)).alias("contrib"),
    )


def caliper_match(
    df: DataFrame,
    scorecol: str,
    treatcol: str,
    idcol: str,
    caliper: float,
    byvars: str | list[str] | None = None,
    outcomecol: str | None = None,
) -> DataFrame:
    """Nearest-neighbor matching WITH replacement within a caliper —
    the propensity-score matching step of an observational study: each
    treated row is paired with the control row whose ``scorecol`` is
    closest (either direction) within ``caliper``; distance ties take
    the backward (lower-score) side, remaining ties the lowest control
    id, so the match is deterministic. Treated rows with no control in
    the caliper appear with null control columns (report them — a high
    unmatched rate means the groups don't overlap). Matching is
    with-replacement (a control can serve several treated rows), the
    variant that is order-independent and therefore well-defined in a
    distributed setting; greedy without-replacement matching is
    inherently sequential and intentionally not offered.

    Output: ``(byvars..., treated_id, control_id, score_t, score_c,
    dist[, outcome_t, outcome_c])``. With ``outcomecol``, the ATT
    estimate is ``avg(outcome_t - outcome_c)`` over the matched rows —
    one aggregation away. ``byvars`` match within strata (exact-match
    blocking + score caliper, the textbook combination).

    Scale shape: delegates to the as-of machinery
    (:func:`pd_utils_spark.operators.merge.left_merge_nearest`):
    equi-keys stay in the join, the nearest pick is a rank-1 window
    over the shared (keys, score) partitioning — never an all-pairs
    score join. Stratified calls scale on the strata key; an
    unstratified call partitions on the constant key (fine for the
    usual "scores fit one executor per stratum" case — add blocking
    byvars when they don't).
    """
    if caliper <= 0:
        raise ValueError(f"caliper must be > 0: {caliper}")
    from pd_utils_spark.operators.merge import left_merge_nearest
    from pd_utils_spark.utils import to_list

    by = to_list(byvars)
    t = F.col(treatcol).cast("boolean")
    keys = by or ["__k__"]
    base = df if by else df.withColumn("__k__", F.lit(1))
    tcols = [*keys, F.col(idcol).alias("treated_id"),
             F.col(scorecol).alias("score_t")]
    ccols = [*keys, F.col(idcol).alias("control_id"),
             F.col(scorecol).alias("score_c")]
    if outcomecol is not None:
        tcols.append(F.col(outcomecol).alias("outcome_t"))
        ccols.append(F.col(outcomecol).alias("outcome_c"))
    treated = base.filter(t).select(*tcols)
    control = base.filter(~t).select(*ccols)
    matched = left_merge_nearest(
        treated, control, on=keys,
        left_datevar="score_t", right_datevar="score_c",
        max_offset=float(caliper),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(*keys, "treated_id").orderBy(
        F.asc_nulls_last("control_id")
    )
    out = (
        matched.withColumn("__rk__", F.row_number().over(w))
        .filter(F.col("__rk__") == 1)
        .withColumn("dist", F.abs(F.col("score_t") - F.col("score_c")))
        .drop("__rk__")
    )
    return out.drop("__k__") if not by else out


def kaplan_meier(
    df: DataFrame,
    durationcol: str,
    eventcol: str,
    byvars: str | Sequence[str] | None = None,
    out: str = "survival",
) -> DataFrame:
    """Kaplan–Meier product-limit survival curve, exact, optionally per
    group: one row per (group, distinct duration) with the at-risk
    count, event/censor counts, and the running survival estimate

        S(t) = prod_{t_i <= t} (1 - d_i / n_i).

    ``eventcol`` is 1/true when the duration ended in the event and
    0/false when the observation was censored (still alive / still
    subscribed / churn not observed) — the whole point of KM over a
    naive mean is that censored rows still contribute to the at-risk
    denominator until their exit time.

    Scale shape: the raw rows compress immediately to per-distinct-
    duration counts (ONE shuffle, partial aggregation on the map
    side), so everything after runs on O(#distinct durations) rows.
    With ``byvars`` the running sums/products are per-group window
    scans over that compressed frame; without, the global prefix scan
    (:func:`pd_utils_spark.plans.prefix.prefix_sum` — range partition
    + O(#partitions) offset plan) replaces the single-task total-order
    window, and the product is carried in log space (survival hits an
    exact 0.0 the moment d_i = n_i, tracked by a parallel zero-count
    prefix rather than ln(0)). Grouped survival is a ``product``
    window aggregate — pure IEEE multiplication in duration order, no
    libm round-trip.

    Caches the input of its prefix scans
    (:func:`~pd_utils_spark.plans.prefix.prefix_agg`): call
    ``release_registered("prefix_agg")`` once the result is consumed.
    """
    from pd_utils_spark.utils import to_list
    from pyspark.sql import Window

    by_l = to_list(byvars) if byvars is not None else []
    ev = F.when(F.col(eventcol).cast("int") != 0, 1).otherwise(0)
    counts = (
        df.filter(F.col(durationcol).isNotNull())
        .groupBy(*by_l, F.col(durationcol).alias("t"))
        .agg(
            F.sum(ev).alias("n_event"),
            F.sum(1 - ev).alias("n_censored"),
        )
        .withColumn("__exit__", F.col("n_event") + F.col("n_censored"))
    )
    if by_l:
        w_tot = Window.partitionBy(*by_l)
        w_prev = (
            Window.partitionBy(*by_l)
            .orderBy("t")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        w_cum = (
            Window.partitionBy(*by_l)
            .orderBy("t")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        stepped = counts.withColumn(
            "n_risk",
            F.sum("__exit__").over(w_tot)
            - F.coalesce(F.sum("__exit__").over(w_prev), F.lit(0)),
        ).withColumn(
            "__step__",
            F.lit(1.0) - F.col("n_event") / F.col("n_risk"),
        )
        return (
            stepped.withColumn(out, F.product("__step__").over(w_cum))
            .select(*by_l, "t", "n_risk", "n_event", "n_censored", out)
        )
    total = counts.agg(F.sum("__exit__").alias("__N__"))
    pre = prefix_sum(counts, "t", ["__exit__"], suffix="_cum")
    stepped = (
        pre.join(F.broadcast(total))
        .withColumn(
            "n_risk", F.col("__N__") - F.col("__exit___cum") + F.col("__exit__")
        )
        .withColumn(
            "__ln__",
            F.when(
                F.col("n_event") < F.col("n_risk"),
                F.log(F.lit(1.0) - F.col("n_event") / F.col("n_risk")),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "__zero__",
            F.when(F.col("n_event") == F.col("n_risk"), 1).otherwise(0),
        )
    )
    cum = prefix_sum(stepped, "t", ["__ln__", "__zero__"], suffix="_c")
    return cum.select(
        "t",
        "n_risk",
        "n_event",
        "n_censored",
        F.when(F.col("__zero___c") > 0, F.lit(0.0))
        .otherwise(F.exp(F.col("__ln___c")))
        .alias(out),
    )


def cuped(
    df: DataFrame,
    metriccol: str,
    covariatecol: str,
    variantcol: str,
) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM 2013): adjust the
    experiment metric by the pre-period covariate,

        y_adj = y - theta * (x - mean(x)),   theta = cov(y, x) / var(x)

    with theta and mean(x) POOLED across variants (the standard form —
    per-variant thetas would bias the delta). Returns one row per
    variant: ``(variant, n, mean, mean_adj, var, var_adj,
    var_reduction)`` where the variances are sample variances of the
    raw and adjusted metric and ``var_reduction = 1 - var_adj/var``
    (approximately the squared y–x correlation).

    Scale shape: ONE groupBy(variant) aggregation of the five
    sufficient sums (y, x, y^2, x^2, xy) — partial-agg on the map
    side, nothing per-row crosses the shuffle twice. The pooled sums
    are a second aggregate OF THE TINY per-variant frame (O(#variants)
    rows), broadcast back; var(y - theta x) expands algebraically from
    the same sufficient statistics, so no second scan of the data.
    """
    y, x = F.col(metriccol).cast("double"), F.col(covariatecol).cast("double")
    per = (
        df.filter(y.isNotNull() & x.isNotNull())
        .groupBy(F.col(variantcol).alias("variant"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(y).alias("sy"),
            F.sum(x).alias("sx"),
            F.sum(y * y).alias("syy"),
            F.sum(x * x).alias("sxx"),
            F.sum(y * x).alias("syx"),
        )
    )
    # note the double-underscore pooled names: Spark resolves column
    # references case-insensitively by default, so a pooled "N" would
    # collide with the per-variant "n" after the join
    pooled = per.agg(
        F.sum("n").alias("__nt__"),
        F.sum("sy").alias("__sy__"),
        F.sum("sx").alias("__sx__"),
        F.sum("sxx").alias("__sxx__"),
        F.sum("syx").alias("__syx__"),
    ).select(
        (F.col("__sx__") / F.col("__nt__")).alias("xbar"),
        (
            (F.col("__syx__") - F.col("__sy__") * F.col("__sx__") / F.col("__nt__"))
            / (F.col("__sxx__") - F.col("__sx__") * F.col("__sx__") / F.col("__nt__"))
        ).alias("theta"),
    )
    j = per.join(F.broadcast(pooled))
    n = F.col("n")
    mean_y = F.col("sy") / n
    mean_x = F.col("sx") / n
    var_y = (F.col("syy") - F.col("sy") * mean_y) / (n - 1)
    var_x = (F.col("sxx") - F.col("sx") * mean_x) / (n - 1)
    cov_yx = (F.col("syx") - F.col("sy") * mean_x) / (n - 1)
    th = F.col("theta")
    var_adj = var_y - 2 * th * cov_yx + th * th * var_x
    return j.select(
        "variant",
        "n",
        mean_y.alias("mean"),
        (mean_y - th * (mean_x - F.col("xbar"))).alias("mean_adj"),
        var_y.alias("var"),
        var_adj.alias("var_adj"),
        (F.lit(1.0) - var_adj / var_y).alias("var_reduction"),
        th.alias("theta"),
    )


def conformal_split(
    df: DataFrame,
    valuecol: str,
    predcol: str,
    calibcol: str,
    alpha: float = 0.1,
) -> DataFrame:
    """Split conformal prediction interval: on the calibration rows
    (``calibcol`` truthy) take the k-th smallest absolute residual
    with ``k = ceil((n_calib + 1) * (1 - alpha))`` — the
    finite-sample-valid quantile of Vovk/Lei–Wasserman split
    conformal — then report empirical coverage of ``pred ± q_hat`` on
    the held-out rows. One row out: ``(n_calib, n_test, q_hat,
    coverage, target)`` — ALWAYS one row, including degenerate
    inputs: no calibration rows gives ``n_calib=0`` with null
    ``q_hat``/``coverage`` (no interval exists, so no fake 0.0
    coverage); no test rows gives ``n_test=0`` with null
    ``coverage`` but real ``n_calib``/``q_hat``.

    Scale shape: residuals compress to per-distinct-value counts (one
    shuffle), the k-th order statistic comes from the distributed
    prefix scan over that compressed frame (never a single-task
    rank window), and ``q_hat`` — one row — broadcasts back onto the
    test side for the coverage aggregate. Nothing is collected.

    Caches the input of its prefix scans
    (:func:`~pd_utils_spark.plans.prefix.prefix_agg`): call
    ``release_registered("prefix_agg")`` once the result is consumed.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha!r}")
    r = F.abs(
        F.col(valuecol).cast("double") - F.col(predcol).cast("double")
    )
    base = df.filter(
        F.col(valuecol).isNotNull() & F.col(predcol).isNotNull()
    ).select(F.col(calibcol).cast("boolean").alias("__c__"), r.alias("__r__"))
    calib = base.filter("__c__")
    counts = calib.groupBy("__r__").agg(F.count(F.lit(1)).alias("__n__"))
    cum = prefix_sum(counts, "__r__", ["__n__"], suffix="_cum")
    tot = calib.agg(F.count(F.lit(1)).alias("n_calib"))
    k = F.least(
        F.ceil((F.col("n_calib") + 1) * F.lit(1.0 - alpha)), F.col("n_calib")
    )
    q = (
        cum.join(F.broadcast(tot))
        .filter(F.col("__n___cum") >= k)
        .agg(F.min("__r__").alias("q_hat"))
        .crossJoin(F.broadcast(tot))
    )
    test = base.filter(~F.col("__c__"))
    # aggregate the test side to ONE row before attaching the q row:
    # the single output row survives empty calibration (n_calib=0,
    # null q_hat/coverage) and empty test sets (n_test=0, null
    # coverage) instead of degrading silently — ungrouped aggregates
    # always produce a row, and the boolean cast keeps coverage null
    # (not a fake 0.0) when there is no interval to cover with
    test_agg = test.join(F.broadcast(q.select("q_hat"))).agg(
        F.count(F.lit(1)).alias("n_test"),
        F.avg(
            (F.col("__r__") <= F.col("q_hat")).cast("double")
        ).alias("coverage"),
    )
    return q.crossJoin(F.broadcast(test_agg)).select(
        "n_calib",
        "n_test",
        "q_hat",
        "coverage",
        F.lit(1.0 - alpha).alias("target"),
    )


def eb_rate_shrink(
    df: DataFrame,
    successcol: str,
    trialscol: str,
    out: str = "shrunk_rate",
) -> DataFrame:
    """Empirical-Bayes (beta-binomial) shrinkage of per-entity rates:
    fit a Beta(alpha, beta) prior to the observed rate distribution by
    method of moments, then append

        out = (successes + alpha) / (trials + alpha + beta)

    — the standard fix for "this seller has 1 sale in 1 trial, is
    their conversion rate really 100%?": thin entities shrink hard
    toward the global mean rate, data-rich entities barely move.
    Also appends ``rate`` (raw) and the fitted ``alpha`` / ``beta``
    (identical on every row — a fit audit, cheap because they ride
    the same one-row broadcast).

    Method of moments on the raw rates: with mean ``mu`` and variance
    ``s2`` of ``successes / trials``, ``K = mu*(1-mu)/s2 - 1``,
    ``alpha = mu*K``, ``beta = (1-mu)*K``. Degenerate fits (zero
    variance, or ``s2 >= mu*(1-mu)`` making K non-positive) fall back
    to alpha = beta = 1 (uniform prior). Rows with trials <= 0 pass
    through with null ``out``.

    Scale shape: ONE aggregate over the entity frame for the two
    moments (map-side partial sums), broadcast back as one row; the
    shrinkage itself is a pure column expression. Nothing collected.
    """
    x = F.col(successcol).cast("double")
    n = F.col(trialscol).cast("double")
    rate = F.when(n > 0, x / n)
    base = df.withColumn("__rate__", rate)
    mom = base.filter(F.col("__rate__").isNotNull()).agg(
        F.avg("__rate__").alias("__mu__"),
        F.var_samp("__rate__").alias("__s2__"),
    )
    mu, s2 = F.col("__mu__"), F.col("__s2__")
    k = mu * (F.lit(1.0) - mu) / s2 - F.lit(1.0)
    ok = s2.isNotNull() & (s2 > 0) & (k > 0)
    prior = mom.select(
        F.when(ok, mu * k).otherwise(F.lit(1.0)).alias("alpha"),
        F.when(ok, (F.lit(1.0) - mu) * k).otherwise(F.lit(1.0)).alias("beta"),
    )
    return (
        base.join(F.broadcast(prior))
        .withColumn(
            out,
            F.when(
                n > 0,
                (x + F.col("alpha")) / (n + F.col("alpha") + F.col("beta")),
            ),
        )
        .withColumnRenamed("__rate__", "rate")
    )


def ipw_ate(
    df: DataFrame,
    treatcol: str,
    outcomecol: str,
    stratacol: str | Sequence[str],
) -> DataFrame:
    """Average treatment effect by inverse-propensity weighting with
    STRATIFIED propensity scores: within each stratum the propensity
    is the observed treatment rate ``e_s = n_t / n``, rows are
    weighted ``t/e_s`` (treated) or ``(1-t)/(1-e_s)`` (control), and
    the Horvitz-Thompson ATE plus the classical blocked
    (stratification) estimator come out of ONE stratum-level
    aggregate. The workhorse observational-effect design when the
    confounders are coarse (cohort, source, activity band) — the
    model-free counterpart to :func:`caliper_match` (which matches on
    a continuous score) and :func:`cuped` (which reduces variance in
    a real experiment).

    Strata without overlap (no treated or no control rows — the
    positivity violation) are EXCLUDED and counted in ``n_dropped``;
    both estimators average over the kept strata only. Returns one
    row: ``(n_used, n_dropped, n_strata, ate_ipw, ate_strat)``.

    With stratum-constant propensities the two estimators are
    algebraically equal on balanced data; they diverge exactly when
    weighting inside a stratum matters, so reporting both is the
    standard diagnostic (a large gap flags within-stratum
    imbalance).

    Scale shape: one hash aggregation to the stratum level
    (sufficient statistics only: n, n_t, sum_y_t, sum_y_c), then one
    tiny aggregate over strata — no row-level weights materialized,
    no second scan, nothing collected.
    """
    from pd_utils_spark.utils import to_list

    strata = to_list(stratacol)
    t = F.col(treatcol).cast("int")
    y = F.col(outcomecol).cast("double")
    per = (
        df.filter(t.isNotNull() & y.isNotNull())
        .groupBy(*strata)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(t).alias("nt"),
            F.sum(F.when(t == 1, y).otherwise(0.0)).alias("syt"),
            F.sum(F.when(t == 0, y).otherwise(0.0)).alias("syc"),
        )
    )
    ok = (F.col("nt") > 0) & (F.col("nt") < F.col("n"))
    nn = F.col("n").cast("double")
    e = F.col("nt").cast("double") / nn
    # stratum contribution to the HT sums: sum_i t y / e = syt / e_s
    ipw_term = F.col("syt") / e - F.col("syc") / (F.lit(1.0) - e)
    strat_term = nn * (
        F.col("syt") / F.col("nt").cast("double")
        - F.col("syc") / (nn - F.col("nt").cast("double"))
    )
    return per.groupBy().agg(
        F.coalesce(
            F.sum(F.when(ok, F.col("n"))), F.lit(0).cast("long")
        ).alias("n_used"),
        F.coalesce(
            F.sum(F.when(~ok, F.col("n"))), F.lit(0).cast("long")
        ).alias("n_dropped"),
        F.sum(ok.cast("long")).alias("n_strata"),
        (F.sum(F.when(ok, ipw_term)) / F.sum(F.when(ok, F.col("n")))).alias(
            "ate_ipw"
        ),
        (
            F.sum(F.when(ok, strat_term)) / F.sum(F.when(ok, F.col("n")))
        ).alias("ate_strat"),
    )


def proportion_ci(
    df: DataFrame,
    successcol: str,
    byvars: str | Sequence[str] | None = None,
    z: float = 1.959964,
) -> DataFrame:
    """Wilson score confidence interval for a proportion per group:
    ``(byvars..., n, successes, rate, ci_lo, ci_hi)``. Wilson (not
    Wald) because the corpus case is exactly where Wald breaks:
    rates near 0 or 1 on small slices (rare-language pass rates,
    per-domain violation rates) get intervals that stay inside
    [0, 1] and never collapse to zero width. ``z`` is the normal
    quantile passed directly (default 1.959964 ~ 95%) so the whole
    computation stays closed-form column arithmetic any engine
    replays — no inverse-CDF dependency.

    Scale shape: ONE hash aggregation to the group level; the
    interval is pure arithmetic on (n, successes). Nothing collected.
    """
    from pd_utils_spark.utils import to_list

    s = F.col(successcol).cast("double")
    by = to_list(byvars) if byvars is not None else []
    per = (
        df.filter(s.isNotNull())
        .groupBy(*by)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(s).cast("long").alias("successes"),
        )
    )
    n = F.col("n").cast("double")
    p = F.col("successes").cast("double") / n
    z2 = float(z) * float(z)
    denom = F.lit(1.0) + F.lit(z2) / n
    center = (p + F.lit(z2) / (2.0 * n)) / denom
    half = (
        F.lit(float(z))
        * F.sqrt(p * (1.0 - p) / n + F.lit(z2) / (4.0 * n * n))
        / denom
    )
    return per.select(
        *by,
        "n",
        "successes",
        p.alias("rate"),
        (center - half).alias("ci_lo"),
        (center + half).alias("ci_hi"),
    )
