"""Leakage-aware categorical feature encoding for model-training
pipelines: target (mean) encoding with leave-one-out and smoothed
variants, and frequency encoding.

Why here: high-cardinality categoricals (domain, publisher, seller
id) cannot one-hot at 100 TB; the standard fix is replacing the
category with a statistic of the training target. The naive
per-category mean leaks the row's own label into its feature — the
classic target-leak — so the default here is leave-one-out (each
row's own label subtracted from its category's sum) with optional
prior smoothing toward the global mean for thin categories
(the micro-averaged empirical-Bayes shrinkage popularized by
Micci-Barreca 2001).

Scale shape: every encoder is ONE whole-partition window over the
category key (equivalently one groupBy + broadcast-back join, but the
window avoids materializing the join): the raw rows shuffle once on
the category, sums/counts combine map-side, and the global mean rides
a one-row broadcast. No Python touches rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "target_encode",
    "frequency_encode",
    "quantile_transform",
    "woe_iv",
]


def target_encode(
    df: DataFrame,
    catcol: str,
    targetcol: str,
    method: str = "loo",
    prior_weight: float = 0.0,
    out: str = "encoded",
) -> DataFrame:
    """Append ``out`` = target encoding of ``catcol``.

    - ``method='loo'``: leave-one-out mean
      ``(sum_cat(y) - y) / (n_cat - 1)`` — null for singleton
      categories (no other rows to borrow from). With
      ``prior_weight=w > 0`` the LOO estimate shrinks toward the
      global mean: ``(sum_cat - y + w * mean_all) / (n_cat - 1 + w)``
      (singletons then get exactly ``mean_all``).
    - ``method='mean'``: plain per-category mean — LEAKS the row's
      own label; provided for scoring/inference frames where the
      target column is the PRIOR period's outcome, not the label
      being predicted. Same shrinkage formula with the row's label
      kept in.

    Rows with a null target keep their row but contribute nothing to
    any sum or count; null categories form their own group (standard
    SQL window semantics), which is usually what you want — "missing"
    is a level.
    """
    if method not in ("loo", "mean"):
        raise ValueError(f"method must be 'loo' or 'mean', got {method!r}")
    if prior_weight < 0:
        raise ValueError(f"prior_weight must be >= 0: {prior_weight}")
    y = F.col(targetcol).cast("double")
    w = Window.partitionBy(catcol)
    s = F.sum(y).over(w)
    n = F.count(y).over(w)
    gm = F.broadcast(
        df.agg(F.avg(y).alias("__gm__"))
    )
    pw = F.lit(float(prior_weight))
    if method == "loo":
        own = F.coalesce(y, F.lit(0.0))
        cnt_own = F.when(y.isNotNull(), 1).otherwise(0)
        num = s - own + pw * F.col("__gm__")
        den = n - cnt_own + pw
    else:
        num = s + pw * F.col("__gm__")
        den = n + pw
    enc = F.when(den > 0, num / den)
    return df.join(gm).withColumn(out, enc).drop("__gm__")


def frequency_encode(
    df: DataFrame,
    catcol: str,
    out: str = "freq",
    relative: bool = True,
) -> DataFrame:
    """Append ``out`` = the category's row count (``relative=False``)
    or its fraction of all rows (``relative=True``) — the
    zero-leakage encoding that often carries most of a
    high-cardinality categorical's signal ("how common is this
    domain") without touching the target at all.
    """
    w = Window.partitionBy(catcol)
    n = F.count(F.lit(1)).over(w)
    if not relative:
        return df.withColumn(out, n)
    tot = F.broadcast(df.agg(F.count(F.lit(1)).alias("__tot__")))
    return (
        df.join(tot)
        .withColumn(out, n.cast("double") / F.col("__tot__"))
        .drop("__tot__")
    )


def quantile_transform(
    df: DataFrame,
    valuecol: str,
    byvars=None,
    out: str = "q",
) -> DataFrame:
    """Append ``out`` = the value's quantile position in (0, 1) within
    its group: ``(avg_rank - 0.5) / n`` with AVERAGE ranks for ties
    (tied values share one quantile — required for a deterministic,
    order-free transform). The uniform-output feature transform that
    makes heavy-tailed columns (views, revenue, follower counts)
    comparable across groups and safe for distance-based models;
    feed it through a probit elsewhere for "rank-Gauss".

    Scale shape: with ``byvars`` this is two window passes over the
    group partitioning (rank + group count) after ONE shuffle on the
    group key. Without, the global rank comes from per-distinct-value
    counts through the distributed prefix scan
    (:func:`pd_utils_spark.plans.prefix.prefix_sum`) and joins back on
    the value — never a single-task total-order window. Null values
    pass through with null ``out``.

    Caches the input of its prefix scans
    (:func:`~pd_utils_spark.plans.prefix.prefix_agg`): call
    ``release_registered("prefix_agg")`` once the result is consumed.
    """
    from pd_utils_spark.utils import to_list

    v = F.col(valuecol)
    if byvars is not None:
        by_l = to_list(byvars)
        w = Window.partitionBy(*by_l)
        # average rank = (#strictly smaller) + (ties + 1) / 2, from two
        # rank frames on one partitioning; nulls sort LAST so they
        # cannot shift the ranks of real values
        wo = w.orderBy(F.asc_nulls_last(valuecol))
        rmin = F.rank().over(wo)
        cnt_eq = F.count(F.lit(1)).over(
            Window.partitionBy(*by_l, valuecol)
        )
        n = F.count(v).over(w)
        avg_rank = rmin + (cnt_eq - 1) / 2.0
        return df.withColumn(
            out, F.when(v.isNotNull(), (avg_rank - 0.5) / n)
        )
    from pd_utils_spark.plans.prefix import prefix_sum

    counts = (
        df.filter(v.isNotNull())
        .groupBy(v.alias("__v__"))
        .agg(F.count(F.lit(1)).alias("__c__"))
    )
    cum = prefix_sum(counts, "__v__", ["__c__"], inclusive=False)
    tot = F.broadcast(counts.agg(F.sum("__c__").alias("__n__")))
    qmap = cum.join(tot).select(
        "__v__",
        (
            (F.col("__c___cum") + (F.col("__c__") + 1) / 2.0 - 0.5)
            / F.col("__n__")
        ).alias(out),
    )
    return df.join(qmap, v == F.col("__v__"), "left").drop("__v__")


def woe_iv(
    df: DataFrame,
    featurecol: str,
    labelcol: str,
    smoothing: float = 0.5,
) -> DataFrame:
    """Weight of Evidence and Information Value per category of a
    feature against a binary label — the classic screening statistic
    for categorical predictors (credit scoring's vocabulary, equally
    standard for "does source/language/domain predict quality-pass").
    One row per category:

    ``(category, n, positives, negatives, pos_share, neg_share, woe,
    iv_term, iv)``

    with ``woe = ln(pos_share / neg_share)`` on ``smoothing``-
    (Laplace-) adjusted cell counts (shares use the smoothed totals,
    so they sum to 1 and empty cells stay finite),
    ``iv_term = (pos_share - neg_share) * woe``, and ``iv`` the
    feature-level total repeated on every row (IV < 0.02 = useless,
    > 0.5 = suspiciously strong, by the usual reading).

    Scale shape: ONE hash aggregation to the category level, a
    broadcast one-row total, and a window-free second pass for the
    total IV over the tiny category frame. Nothing row-level after
    the first agg; null categories form their own bucket (they carry
    signal).
    """
    if smoothing < 0:
        raise ValueError(f"smoothing must be >= 0: {smoothing}")
    y = F.col(labelcol).cast("double")
    per = df.filter(y.isNotNull()).groupBy(
        F.col(featurecol).alias("category")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(y).cast("long").alias("positives"),
        F.sum(1.0 - y).cast("long").alias("negatives"),
    )
    k = F.count(F.lit(1))
    tot = per.groupBy().agg(
        (F.sum("positives") + F.lit(smoothing) * k).alias("__tp__"),
        (F.sum("negatives") + F.lit(smoothing) * k).alias("__tn__"),
    )
    ps = (F.col("positives") + F.lit(smoothing)) / F.col("__tp__")
    ns = (F.col("negatives") + F.lit(smoothing)) / F.col("__tn__")
    scored = per.crossJoin(F.broadcast(tot)).select(
        "category", "n", "positives", "negatives",
        ps.alias("pos_share"),
        ns.alias("neg_share"),
        F.log(ps / ns).alias("woe"),
        ((ps - ns) * F.log(ps / ns)).alias("iv_term"),
    )
    iv = scored.groupBy().agg(F.sum("iv_term").alias("iv"))
    return scored.crossJoin(F.broadcast(iv))


def best_split(
    df: DataFrame,
    featurecol: str,
    labelcol: str,
    byvars: str | Sequence[str] | None = None,
) -> DataFrame:
    """Optimal decision-stump threshold per group: the split
    ``feature <= threshold`` minimizing weighted Gini impurity of a
    binary label, per group one row
    ``(byvars..., threshold, n, n_left, gini_before, gini_after,
    gain)`` with ``threshold`` the midpoint between the adjacent
    distinct feature values around the best cut (so held-out rows
    compare against a value the training data cannot collide with).
    The single most informative number about a feature ("at what
    length does quality flip?") and the inner loop of any
    tree/binning routine.

    Scale shape: one hash agg to per-(group, distinct value) label
    counts — the compression step — then ONE window pass of prefix
    sums over the value order inside each group, impurity as pure
    column arithmetic, argmin by row_number on the 9-dp-rounded gain
    (ulp noise must not outrank the threshold tiebreak; the same
    rule ``changepoint_mean_shift`` uses). Groups with a single
    distinct value produce no row.
    """
    from pyspark.sql import Window

    from pd_utils_spark.utils import to_list

    by = to_list(byvars) if byvars is not None else []
    y = F.col(labelcol).cast("double")
    v = F.col(featurecol).cast("double")
    cells = (
        df.filter(v.isNotNull() & y.isNotNull())
        .groupBy(*by, v.alias("__v__"))
        .agg(
            F.count(F.lit(1)).alias("__n__"),
            F.sum(y).alias("__p__"),
        )
    )
    w_cum = (
        Window.partitionBy(*by)
        .orderBy("__v__")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(*by)
    w_next = Window.partitionBy(*by).orderBy("__v__")
    scored = (
        cells.withColumn("__cn__", F.sum("__n__").over(w_cum))
        .withColumn("__cp__", F.sum("__p__").over(w_cum))
        .withColumn("__tn__", F.sum("__n__").over(w_all))
        .withColumn("__tp__", F.sum("__p__").over(w_all))
        .withColumn("__nextv__", F.lead("__v__").over(w_next))
        .filter(F.col("__nextv__").isNotNull())  # no split after the max
    )
    nl = F.col("__cn__").cast("double")
    pl = F.col("__cp__") / nl
    nt = F.col("__tn__").cast("double")
    pt = F.col("__tp__") / nt
    nr = nt - nl
    pr = (F.col("__tp__") - F.col("__cp__")) / nr
    gini_l = 2.0 * pl * (1.0 - pl)
    gini_r = 2.0 * pr * (1.0 - pr)
    gini_b = 2.0 * pt * (1.0 - pt)
    gini_a = (nl / nt) * gini_l + (nr / nt) * gini_r
    cand = scored.select(
        *by,
        ((F.col("__v__") + F.col("__nextv__")) / 2.0).alias("threshold"),
        F.col("__tn__").alias("n"),
        F.col("__cn__").alias("n_left"),
        gini_b.alias("gini_before"),
        gini_a.alias("gini_after"),
        (gini_b - gini_a).alias("gain"),
    )
    w_rank = Window.partitionBy(*by).orderBy(
        F.desc(F.round(F.col("gain"), 9)), F.col("threshold")
    )
    return (
        cand.withColumn("__rk__", F.row_number().over(w_rank))
        .filter(F.col("__rk__") == 1)
        .drop("__rk__")
    )
