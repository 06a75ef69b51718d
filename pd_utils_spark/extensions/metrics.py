"""Model-evaluation metrics over DataFrames — the scoring half of a
training-data pipeline (classifier-based quality filters, dedup
verifiers, language-ID models all need per-slice metrics at corpus
scale). Engine extension: the reference pandas library has no
evaluation surface.

Everything is exact and oracle-checkable: threshold metrics are
conditional aggregates; AUC is the rank-sum (Mann-Whitney U) form with
average ranks for ties — a window + one aggregation, no sorting
collect, no sampling. One shuffle per metric frame.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pd_utils_spark.utils import to_list


def binary_metrics(
    df: DataFrame,
    labelcol: str,
    scorecol: str,
    byvars: str | Sequence[str] | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Per-group binary classification metrics: confusion counts at
    ``threshold`` (``tp/fp/tn/fn``), ``precision``/``recall``/``f1``
    (null when undefined), and exact ``auc``.

    AUC uses the rank-sum identity ``AUC = (R_pos - n_pos(n_pos+1)/2)
    / (n_pos * n_neg)`` with AVERAGE ranks for tied scores (the
    Mann-Whitney convention — matches sklearn's ``roc_auc_score`` on
    ties); null when a group has no positives or no negatives.

    Scale shape: one rank window over (group, score) + one hash
    aggregation — the O(n log n) sort lives inside the window's
    per-partition sort, nothing is collected, and groups evaluate
    independently. Labels may be boolean or 0/1 numeric.
    """
    by = to_list(byvars)
    score = F.col(scorecol).cast("double")
    label = F.col(labelcol).cast("double")

    wg = Window.partitionBy(*by).orderBy(score)
    wt = Window.partitionBy(*(by + [scorecol]))
    # average rank within the group ordering, ties share (min+max)/2
    r_avg = F.rank().over(wg) + (F.count(F.lit(1)).over(wt) - 1) / 2

    ranked = df.select(
        *by,
        label.alias("__y__"),
        score.alias("__s__"),
        r_avg.alias("__r__"),
    )
    pred_pos = F.col("__s__") >= F.lit(float(threshold))
    agg = ranked.groupBy(*by).agg(
        F.sum((pred_pos & (F.col("__y__") == 1)).cast("long")).alias("tp"),
        F.sum((pred_pos & (F.col("__y__") == 0)).cast("long")).alias("fp"),
        F.sum((~pred_pos & (F.col("__y__") == 0)).cast("long")).alias("tn"),
        F.sum((~pred_pos & (F.col("__y__") == 1)).cast("long")).alias("fn"),
        F.sum(F.when(F.col("__y__") == 1, F.col("__r__"))).alias("__rpos__"),
        F.sum((F.col("__y__") == 1).cast("long")).alias("__npos__"),
        F.sum((F.col("__y__") == 0).cast("long")).alias("__nneg__"),
    )
    npos, nneg = F.col("__npos__"), F.col("__nneg__")
    precision = F.when(
        F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))
    )
    recall = F.when(
        F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn"))
    )
    f1 = F.when(
        precision.isNotNull() & recall.isNotNull() & (precision + recall > 0),
        2 * precision * recall / (precision + recall),
    )
    auc = F.when(
        (npos > 0) & (nneg > 0),
        (F.col("__rpos__") - npos * (npos + 1) / 2) / (npos * nneg),
    )
    return agg.select(
        *by,
        "tp",
        "fp",
        "tn",
        "fn",
        precision.alias("precision"),
        recall.alias("recall"),
        f1.alias("f1"),
        auc.alias("auc"),
    )


def regression_metrics(
    df: DataFrame,
    ycol: str,
    predcol: str,
    byvars: str | Sequence[str] | None = None,
) -> DataFrame:
    """Per-group regression metrics: ``n``, ``mae``, ``rmse``, ``r2``
    (null when the group's target variance is zero). ONE aggregation
    pass — R² uses the algebraic identity ``SST = Σy² - n·ȳ²`` so no
    second pass over the data is needed; complements ``reg_by`` (which
    FITS models) with the scoring half."""
    by = to_list(byvars)
    y = F.col(ycol).cast("double")
    p = F.col(predcol).cast("double")
    e = y - p
    agg = df.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.abs(e)).alias("mae"),
        F.sqrt(F.avg(e * e)).alias("rmse"),
        F.sum(e * e).alias("__sse__"),
        F.sum(y * y).alias("__syy__"),
        F.sum(y).alias("__sy__"),
    )
    sst = F.col("__syy__") - F.col("__sy__") * F.col("__sy__") / F.col("n")
    r2 = F.when(sst > 0, 1 - F.col("__sse__") / sst)
    return agg.select(*by, "n", "mae", "rmse", r2.alias("r2"))


def ndcg_at_k(
    df: DataFrame,
    relcol: str,
    scorecol: str,
    qidcol: str = "query_id",
    k: int = 10,
    tiebreak: str | Sequence[str] | None = None,
) -> DataFrame:
    """NDCG@k per query: rank items by predicted ``scorecol``
    (descending, with a deterministic ``tiebreak``), take the top k,
    and compute ``DCG = Σ (2^rel - 1) / log2(rank + 1)`` normalized by
    the ideal DCG (items ranked by true relevance). Null when the
    query has no positive relevance (IDCG = 0). The standard graded
    ranking metric for the similarity/ANN surface (``topk_recall`` is
    its binary cousin).

    Two rank windows sharing one hash-partition exchange on the query
    id + one aggregation; relevance is capped into [0, 62] so the
    ``2^rel`` gain fits a double without overflow surprises.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    by = [qidcol]
    tb = [F.col(c) for c in to_list(tiebreak)]
    rel = F.least(F.greatest(F.col(relcol).cast("double"), F.lit(0.0)), F.lit(62.0))
    gain = F.pow(F.lit(2.0), rel) - 1
    w_pred = Window.partitionBy(*by).orderBy(F.desc(scorecol), *tb)
    w_ideal = Window.partitionBy(*by).orderBy(F.desc(rel), *tb)
    ranked = df.select(
        *by,
        gain.alias("__g__"),
        F.row_number().over(w_pred).alias("__rp__"),
        F.row_number().over(w_ideal).alias("__ri__"),
    )
    disc = lambda r: F.log2(r.cast("double") + 1)
    agg = ranked.groupBy(*by).agg(
        F.sum(
            F.when(F.col("__rp__") <= k, F.col("__g__") / disc(F.col("__rp__")))
        ).alias("__dcg__"),
        F.sum(
            F.when(F.col("__ri__") <= k, F.col("__g__") / disc(F.col("__ri__")))
        ).alias("__idcg__"),
    )
    ndcg = F.when(F.col("__idcg__") > 0, F.col("__dcg__") / F.col("__idcg__"))
    return agg.select(*by, ndcg.alias("ndcg"))


def calibration_table(
    df: DataFrame,
    labelcol: str,
    scorecol: str,
    bins: int = 10,
    byvars: str | Sequence[str] | None = None,
) -> DataFrame:
    """Reliability/calibration table: scores bucketed into ``bins``
    equal-width [0, 1] bins with per-bin count, mean predicted score,
    and empirical positive rate — the input to a calibration curve or
    an ECE computation. One aggregation; scores outside [0, 1] clamp
    into the edge bins so no row silently drops."""
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    by = to_list(byvars)
    s = F.col(scorecol).cast("double")
    b = F.least(
        F.greatest(F.floor(s * bins).cast("int"), F.lit(0)), F.lit(bins - 1)
    )
    return (
        df.select(*by, b.alias("bin"), s.alias("__s__"),
                  F.col(labelcol).cast("double").alias("__y__"))
        .groupBy(*by, "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("__s__").alias("mean_score"),
            F.avg("__y__").alias("positive_rate"),
        )
    )


def multiclass_metrics(
    df: DataFrame,
    labelcol: str,
    predcol: str,
) -> DataFrame:
    """Per-class multiclass metrics from (true, predicted) label
    pairs: one row per class appearing in EITHER column, with
    ``support`` (true count), ``tp``/``fp``/``fn``,
    ``precision``/``recall``/``f1`` (null when undefined — a class
    never predicted has null precision, a class never true has null
    recall), sorted by support descending. Macro/micro averages are
    one trivial aggregate over this output; the per-class view is the
    actionable one (which classes the model confuses).

    Scale shape: ONE hash aggregation over (true, pred) — the
    confusion matrix is at most ``n_classes^2`` tiny rows — and the
    per-class rollup happens on that small frame; the raw predictions
    are scanned once and never shuffled wider than the matrix.
    """
    pairs = (
        df.select(
            F.col(labelcol).alias("__t__"), F.col(predcol).alias("__p__")
        )
        .groupBy("__t__", "__p__")
        .agg(F.count("*").alias("__n__"))
    )
    tp = pairs.filter(F.col("__t__") == F.col("__p__")).select(
        F.col("__t__").alias("class"), F.col("__n__").alias("tp")
    )
    true_tot = pairs.groupBy(F.col("__t__").alias("class")).agg(
        F.sum("__n__").alias("support")
    )
    pred_tot = pairs.groupBy(F.col("__p__").alias("class")).agg(
        F.sum("__n__").alias("n_pred")
    )
    out = (
        true_tot.join(pred_tot, "class", "full")
        .join(tp, "class", "left")
        .select(
            "class",
            F.coalesce("support", F.lit(0)).alias("support"),
            F.coalesce("tp", F.lit(0)).alias("tp"),
            (F.coalesce("n_pred", F.lit(0)) - F.coalesce("tp", F.lit(0))).alias("fp"),
            (F.coalesce("support", F.lit(0)) - F.coalesce("tp", F.lit(0))).alias("fn"),
            F.coalesce("n_pred", F.lit(0)).alias("__np__"),
        )
    )
    prec = F.when(F.col("__np__") > 0, F.col("tp") / F.col("__np__"))
    rec = F.when(F.col("support") > 0, F.col("tp") / F.col("support"))
    f1 = F.when(
        prec.isNotNull() & rec.isNotNull() & ((prec + rec) > 0),
        2 * prec * rec / (prec + rec),
    )
    return (
        out.select(
            "class", "support", "tp", "fp", "fn",
            prec.alias("precision"), rec.alias("recall"), f1.alias("f1"),
        )
        .orderBy(F.desc("support"), "class")
    )


def multiclass_summary(
    df: DataFrame,
    labelcol: str,
    predcol: str,
) -> DataFrame:
    """Macro and micro averages over :func:`multiclass_metrics`: one
    row per averaging mode with accuracy, precision, recall, F1.
    Macro = unweighted mean of per-class metrics over classes with
    support, counting a class's undefined precision/recall/F1 as 0
    (sklearn's ``zero_division=0`` convention); micro = global counts
    (equals accuracy for single-label classification). Same single
    confusion-matrix aggregation as the per-class view — the raw
    predictions are scanned once.
    """
    per = multiclass_metrics(df, labelcol, predcol).filter(
        F.col("support") > 0
    )
    z = lambda c: F.coalesce(F.col(c), F.lit(0.0))
    macro = per.agg(
        F.lit("macro").alias("avg"),
        (F.sum("tp") / F.sum("support")).alias("accuracy"),
        F.avg(z("precision")).alias("precision"),
        F.avg(z("recall")).alias("recall"),
        F.avg(z("f1")).alias("f1"),
    )
    micro = per.agg(
        F.lit("micro").alias("avg"),
        (F.sum("tp") / F.sum("support")).alias("accuracy"),
        (F.sum("tp") / (F.sum("tp") + F.sum("fp"))).alias("precision"),
        (F.sum("tp") / (F.sum("tp") + F.sum("fn"))).alias("recall"),
        (
            2 * F.sum("tp")
            / (2 * F.sum("tp") + F.sum("fp") + F.sum("fn"))
        ).alias("f1"),
    )
    return macro.unionByName(micro)


def uplift_curve(
    df: DataFrame,
    scorecol: str,
    treatcol: str,
    outcomecol: str,
    n_bins: int = 10,
) -> DataFrame:
    """Qini-style uplift evaluation of a targeting score: rank all
    rows by ``scorecol`` DESCENDING into ``n_bins`` exact equal-count
    bins (ties share a bin — :func:`pd_utils_spark.plans.prefix.
    exact_ntile` semantics, so the curve is reproducible), then per
    cumulative prefix of bins report

        uplift = r_t - r_c * n_t / n_c

    (treated responses minus control responses scaled to the treated
    volume — the Qini definition, robust to unequal arm sizes within
    a prefix). One row per bin: ``(bin, n_t, n_c, r_t, r_c, uplift)``
    with cumulative counts; a perfect score front-loads uplift, a
    useless one grows it linearly. Sum of per-bin increments /
    trapezoid the curve for AUUC elsewhere.

    Scale shape: the global descending rank comes from per-distinct-
    score counts through the distributed prefix scan (never a
    single-task window), the per-bin aggregate is one hash agg on
    ``n_bins`` groups, and the cumulative sums are a window over the
    ``n_bins``-row frame — O(rows) work, O(distinct scores) shuffle.

    Caches the input of its prefix scans
    (:func:`~pd_utils_spark.plans.prefix.prefix_agg`): call
    ``release_registered("prefix_agg")`` once the result is consumed.
    """
    from pd_utils_spark.plans.prefix import exact_ntile
    from pyspark.sql import Window

    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1: {n_bins}")
    t = F.col(treatcol).cast("int")
    y = F.col(outcomecol).cast("double")
    # exact_ntile ranks ascending; negate for score-descending bins
    binned = exact_ntile(
        df.withColumn("__neg__", -F.col(scorecol)), "__neg__", n_bins,
        out="bin",
    )
    per = binned.groupBy("bin").agg(
        F.sum(t).alias("__nt__"),
        F.sum(1 - t).alias("__nc__"),
        F.sum(F.when(t == 1, y).otherwise(0.0)).alias("__rt__"),
        F.sum(F.when(t == 0, y).otherwise(0.0)).alias("__rc__"),
    )
    w = (
        Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per.select(
        "bin",
        F.sum("__nt__").over(w).alias("n_t"),
        F.sum("__nc__").over(w).alias("n_c"),
        F.sum("__rt__").over(w).alias("r_t"),
        F.sum("__rc__").over(w).alias("r_c"),
    )
    uplift = F.when(
        F.col("n_c") > 0,
        F.col("r_t") - F.col("r_c") * (F.col("n_t") / F.col("n_c")),
    ).otherwise(F.col("r_t"))
    return cum.withColumn("uplift", uplift)


def lift_table(
    df: DataFrame,
    scorecol: str,
    labelcol: str,
    n_bins: int = 10,
) -> DataFrame:
    """Decile gains/lift table for a binary classifier score — the
    campaign-targeting / quality-filter tuning staple: rank rows by
    ``scorecol`` DESCENDING into ``n_bins`` exact equal-count bins
    (ties share a bin, :func:`pd_utils_spark.plans.prefix.exact_ntile`
    semantics, so the table is reproducible), then per bin report

    ``(bin, n, positives, rate, lift, cum_n, cum_positives,
    capture_rate, cum_lift)``

    where ``lift = rate / base_rate``, ``capture_rate`` is the share
    of ALL positives captured by bins 1..k, and ``cum_lift`` is the
    prefix rate over the base rate. A perfect score captures
    everything in the first bins; lift 1.0 everywhere means the score
    is noise.

    Scale shape: identical to :func:`uplift_curve` — the global
    descending rank is per-distinct-score counts through the
    distributed prefix scan (no single-task window), one hash agg to
    ``n_bins`` rows, cumulative sums on the tiny bin frame, and the
    base rate joined in as a broadcast one-row aggregate.

    Caches the input of its prefix scans
    (:func:`~pd_utils_spark.plans.prefix.prefix_agg`): call
    ``release_registered("prefix_agg")`` once the result is consumed.
    """
    from pd_utils_spark.plans.prefix import exact_ntile

    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1: {n_bins}")
    y = F.col(labelcol).cast("double")
    binned = exact_ntile(
        df.withColumn("__neg__", -F.col(scorecol)), "__neg__", n_bins,
        out="bin",
    )
    per = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(y).cast("long").alias("positives"),
    )
    totals = per.groupBy().agg(
        F.sum("n").alias("__tn__"), F.sum("positives").alias("__tp__")
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        per.crossJoin(F.broadcast(totals))
        .withColumn("cum_n", F.sum("n").over(w))
        .withColumn("cum_positives", F.sum("positives").over(w))
    )
    base = F.col("__tp__").cast("double") / F.col("__tn__").cast("double")
    rate = F.col("positives").cast("double") / F.col("n").cast("double")
    cum_rate = (
        F.col("cum_positives").cast("double") / F.col("cum_n").cast("double")
    )
    return cum.select(
        "bin",
        "n",
        "positives",
        rate.alias("rate"),
        F.when(base > 0, rate / base).alias("lift"),
        "cum_n",
        "cum_positives",
        F.when(
            F.col("__tp__") > 0,
            F.col("cum_positives").cast("double")
            / F.col("__tp__").cast("double"),
        ).alias("capture_rate"),
        F.when(base > 0, cum_rate / base).alias("cum_lift"),
    )


def isotonic_calibration(
    df: DataFrame,
    scorecol: str,
    labelcol: str,
    n_bins: int = 20,
) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration of a classifier
    score against a binary label, fitted on ``n_bins`` exact
    equal-count score bins: one row per bin
    ``(bin, n, positives, mean_score, raw_rate, calibrated)`` where
    ``calibrated`` is the EXACT weighted isotonic-regression (PAV)
    solution on the binned rates via the minimax identity

        fit(i) = max_{j <= i} min_{k >= i} rate(j..k)

    (rate over pooled bins j..k, weighted by bin counts — Robertson
    et al.'s closed form, which equals pool-adjacent-violators
    without the sequential pooling loop). The standard fix for
    over/under-confident quality classifiers; compare raw_rate vs
    calibrated to see where the score inverts.

    Scale shape: the row-level work is one :func:`pd_utils_spark.
    plans.prefix.exact_ntile` pass + one hash agg to ``n_bins`` rows;
    the minimax runs on the TINY bin frame (O(n_bins^3) pairs of a
    ~20-row broadcast frame — constant work, no sequential driver
    loop, and every step replays in any SQL engine). Binned-PAV is
    also the statistically honest form at corpus scale: per-row PAV
    on 10^9 rows overfits the tails the bins smooth out.

    Caches the input of its prefix scans
    (:func:`~pd_utils_spark.plans.prefix.prefix_agg`): call
    ``release_registered("prefix_agg")`` once the result is consumed.
    """
    from pd_utils_spark.plans.prefix import exact_ntile

    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2: {n_bins}")
    y = F.col(labelcol).cast("double")
    binned = exact_ntile(df, scorecol, n_bins, out="bin")
    per = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(y).cast("long").alias("positives"),
        F.avg(F.col(scorecol).cast("double")).alias("mean_score"),
    )
    lo = per.select(
        F.col("bin").alias("__j__"),
        F.col("n").alias("__nj__"),
        F.col("positives").alias("__pj__"),
    )
    hi = per.select(
        F.col("bin").alias("__k__"),
        F.col("n").alias("__nk__"),
        F.col("positives").alias("__pk__"),
    )
    # pooled rate over bins j..k from prefix sums on the tiny frame
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pref = per.select(
        "bin",
        F.sum("n").over(w).alias("__cn__"),
        F.sum("positives").over(w).alias("__cp__"),
    )
    pj = pref.select(
        F.col("bin").alias("__j__"),
        (F.col("__cn__")).alias("__cnj__"),
        (F.col("__cp__")).alias("__cpj__"),
    )
    pk = pref.select(
        F.col("bin").alias("__k__"),
        F.col("__cn__").alias("__cnk__"),
        F.col("__cp__").alias("__cpk__"),
    )
    # rate(j..k) = (cp[k] - cp[j-1]) / (cn[k] - cn[j-1]); the j-1
    # prefix is the inclusive j prefix minus bin j's own cell
    rate = (
        F.broadcast(pj)
        .crossJoin(F.broadcast(pk))
        .filter(F.col("__j__") <= F.col("__k__"))
        .join(F.broadcast(lo), "__j__")
        .select(
            "__j__",
            "__k__",
            (
                (F.col("__cpk__") - F.col("__cpj__") + F.col("__pj__"))
                .cast("double")
                / (F.col("__cnk__") - F.col("__cnj__") + F.col("__nj__"))
                .cast("double")
            ).alias("__r__"),
        )
    )
    idx = per.select(F.col("bin").alias("__i__"))
    inner = (
        F.broadcast(rate)
        .crossJoin(F.broadcast(idx))
        .filter(
            (F.col("__j__") <= F.col("__i__"))
            & (F.col("__k__") >= F.col("__i__"))
        )
        .groupBy("__i__", "__j__")
        .agg(F.min("__r__").alias("__m__"))
    )
    fit = inner.groupBy("__i__").agg(F.max("__m__").alias("calibrated"))
    return (
        per.join(F.broadcast(fit), per["bin"] == fit["__i__"])
        .select(
            "bin",
            "n",
            "positives",
            "mean_score",
            (F.col("positives").cast("double") / F.col("n").cast("double")).alias(
                "raw_rate"
            ),
            "calibrated",
        )
    )


def auc_by_group(
    df: DataFrame,
    labelcol: str,
    scorecol: str,
    byvars: str | Sequence[str],
) -> DataFrame:
    """Exact ROC AUC per slice — the fairness/regression audit form
    of :func:`binary_metrics`'s global AUC: one row
    ``(byvars..., n_pos, n_neg, auc)`` per group, computed by the
    rank-sum (Mann-Whitney) identity with AVERAGE ranks for ties, so
    it is exact on any score distribution. Groups with no positives
    or no negatives report null auc (undefined, not 0.5 — silence
    hides class-collapse bugs).

    Scale shape: one hash agg to per-(group, distinct score) label
    counts — the compression step — then ONE window pass of prefix
    sums inside each group for the midranks and one final group agg.
    Shuffle volume is O(distinct (group, score)); nothing quadratic,
    nothing collected.
    """
    by = to_list(byvars)
    y = F.col(labelcol).cast("double")
    s = F.col(scorecol)
    cells = (
        df.filter(s.isNotNull() & y.isNotNull())
        .groupBy(*by, s.alias("__s__"))
        .agg(
            F.count(F.lit(1)).alias("__n__"),
            F.sum(y).alias("__p__"),
        )
    )
    w_cum = (
        Window.partitionBy(*by)
        .orderBy("__s__")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = cells.withColumn(
        "__before__", F.coalesce(F.sum("__n__").over(w_cum), F.lit(0))
    )
    avg_rank = F.col("__before__").cast("double") + (
        F.col("__n__").cast("double") + 1.0
    ) / 2.0
    agg = ranked.groupBy(*by).agg(
        F.sum("__p__").cast("long").alias("n_pos"),
        (F.sum("__n__") - F.sum("__p__")).cast("long").alias("n_neg"),
        F.sum(F.col("__p__") * avg_rank).alias("__rpos__"),
    )
    np_, nn = F.col("n_pos").cast("double"), F.col("n_neg").cast("double")
    auc = (F.col("__rpos__") - np_ * (np_ + 1.0) / 2.0) / (np_ * nn)
    return agg.select(
        *by,
        "n_pos",
        "n_neg",
        F.when((F.col("n_pos") > 0) & (F.col("n_neg") > 0), auc).alias(
            "auc"
        ),
    )


def fairness_report(
    df: DataFrame,
    groupcol: str,
    labelcol: str,
    predcol: str,
) -> DataFrame:
    """Group-fairness audit of a binary classifier: one row per value
    of ``groupcol`` with ``(n, selection_rate, tpr, fpr,
    parity_gap, tpr_gap, fpr_gap)`` where the gaps are each group's
    rate minus the OVERALL rate — demographic-parity and
    equalized-odds deltas in one frame (release gates routinely
    bound |parity_gap| and |tpr_gap|). Rates with an empty
    denominator (a group with no positives, say) are null and their
    gaps null with them — silence, not a fake 0.

    Scale shape: ONE conditional-aggregation pass to the group level
    plus the same pass re-aggregated to one broadcast overall row —
    no joins on raw rows, nothing collected.
    """
    y = F.col(labelcol).cast("int")
    p = F.col(predcol).cast("int")

    def _aggs():
        return [
            F.count(F.lit(1)).alias("n"),
            F.sum(p).alias("__sel__"),
            F.sum(F.when((y == 1) & (p == 1), 1).otherwise(0)).alias(
                "__tp__"
            ),
            F.sum(F.when(y == 1, 1).otherwise(0)).alias("__pos__"),
            F.sum(F.when((y == 0) & (p == 1), 1).otherwise(0)).alias(
                "__fp__"
            ),
            F.sum(F.when(y == 0, 1).otherwise(0)).alias("__neg__"),
        ]

    base = df.filter(y.isNotNull() & p.isNotNull())
    per = base.groupBy(groupcol).agg(*_aggs())
    overall = base.groupBy().agg(*_aggs())

    def _rates(prefix: str):
        n = F.col(f"{prefix}n").cast("double")
        sel = F.col(f"{prefix}__sel__").cast("double") / n
        tpr = F.when(
            F.col(f"{prefix}__pos__") > 0,
            F.col(f"{prefix}__tp__").cast("double")
            / F.col(f"{prefix}__pos__").cast("double"),
        )
        fpr = F.when(
            F.col(f"{prefix}__neg__") > 0,
            F.col(f"{prefix}__fp__").cast("double")
            / F.col(f"{prefix}__neg__").cast("double"),
        )
        return sel, tpr, fpr

    ov = overall.select(
        F.col("n").alias("o_n"),
        F.col("__sel__").alias("o___sel__"),
        F.col("__tp__").alias("o___tp__"),
        F.col("__pos__").alias("o___pos__"),
        F.col("__fp__").alias("o___fp__"),
        F.col("__neg__").alias("o___neg__"),
    )
    joined = per.crossJoin(F.broadcast(ov))
    sel, tpr, fpr = _rates("")
    osel, otpr, ofpr = _rates("o_")
    return joined.select(
        groupcol,
        "n",
        sel.alias("selection_rate"),
        tpr.alias("tpr"),
        fpr.alias("fpr"),
        (sel - osel).alias("parity_gap"),
        (tpr - otpr).alias("tpr_gap"),
        (fpr - ofpr).alias("fpr_gap"),
    )


def expected_calibration_error(
    df: DataFrame,
    labelcol: str,
    scorecol: str,
    bins: int = 10,
) -> DataFrame:
    """Expected Calibration Error: one row ``(n, ece, mce)`` where
    ``ece = sum_b (n_b / n) * |rate_b - conf_b|`` over
    :func:`calibration_table`'s equal-width bins and ``mce`` is the
    worst bin's gap — THE scalar a quality-classifier gate reads
    (pair with :func:`isotonic_calibration`, which FIXES what ECE
    measures). One cell aggregation + one tiny aggregate.
    """
    table = calibration_table(df, labelcol, scorecol, bins)
    gap = F.abs(F.col("positive_rate") - F.col("mean_score"))
    return table.groupBy().agg(
        F.sum("n").alias("n"),
        (
            F.sum(gap * F.col("n").cast("double"))
            / F.sum(F.col("n").cast("double"))
        ).alias("ece"),
        F.max(gap).alias("mce"),
    )
