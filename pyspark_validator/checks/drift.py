"""Distribution-drift validation between two table snapshots (or two slices).

Reference precedents: CORDS contingency-table chi-square on a sample
(fd/sfd/contingency_table.cpp:45-68) and the PAC verifier's ECDF comparison
(pac/pac_verifier/pac_verifier.h:13-35). We generalize both into per-group
two-sample tests:

  * categorical_drift  -- PSI + two-sample chi-square over value frequencies.
  * numeric_drift      -- PSI + KS D-statistic over a fixed equi-width binning
    (bin edges from the baseline's min/max or caller-provided), i.e. the sketched
    histogram path from the north star: at 10^12 rows the shuffle carries only
    (group, bin) partial counts, never values.

Design: tag each side, union, ONE groupBy((by, value/bin)) with map-side combine,
then a tiny per-group rollup. The final KS cumsum runs over <= num_bins rows per
group -- window over post-aggregation data, not row data.

PSI smoothing: additive alpha (default 0.5) on every cell so empty buckets stay
finite: p = (cnt + alpha) / (n + alpha * k), k = #buckets observed in either side.
Thresholds follow common practice: PSI > 0.2 and KS D > 0.1 flag drift
(FIXTURES.md F4); both are caller-overridable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _collected_edges(row, column: str, what: str) -> tuple[float, float]:
    """Unpack a collected (min, max) row, rejecting empty / all-null input
    with a descriptive error instead of the bare TypeError float(None) raises."""
    if row[0] is None or row[1] is None:
        raise ValueError(
            f"{what}: column {column!r} has no non-null values in the "
            "baseline frame, so bin edges cannot be derived; pass explicit "
            "bin_edges=(lo, hi) or supply a non-empty baseline"
        )
    return float(row[0]), float(row[1])


def _two_sample_counts(
    baseline: DataFrame, current: DataFrame, key: Column, by: list[str]
) -> DataFrame:
    b = baseline.select(*by, key.alias("bucket"), F.lit(1).alias("side"))
    c = current.select(*by, key.alias("bucket"), F.lit(2).alias("side"))
    u = b.unionByName(c)
    return u.groupBy(*by, "bucket").agg(
        F.sum((F.col("side") == 1).cast("long")).alias("cnt_b"),
        F.sum((F.col("side") == 2).cast("long")).alias("cnt_c"),
    )


def _psi_chi2_rollup(
    counts: DataFrame, by: list[str], alpha: float, psi_threshold: float
) -> DataFrame:
    w_tot = counts.groupBy(*by).agg(
        F.sum("cnt_b").alias("n_b"),
        F.sum("cnt_c").alias("n_c"),
        F.count(F.lit(1)).alias("k"),
    )
    j = counts.join(w_tot, on=by) if by else counts.crossJoin(w_tot)
    p_b = (F.col("cnt_b") + F.lit(alpha)) / (F.col("n_b") + F.lit(alpha) * F.col("k"))
    p_c = (F.col("cnt_c") + F.lit(alpha)) / (F.col("n_c") + F.lit(alpha) * F.col("k"))
    psi_term = (p_c - p_b) * F.log(p_c / p_b)
    # two-sample chi-square: expected from pooled proportions
    pooled = (F.col("cnt_b") + F.col("cnt_c")) / (F.col("n_b") + F.col("n_c"))
    e_b = pooled * F.col("n_b")
    e_c = pooled * F.col("n_c")
    chi_term = F.when(
        (e_b > 0) & (e_c > 0),
        F.pow(F.col("cnt_b") - e_b, 2) / e_b + F.pow(F.col("cnt_c") - e_c, 2) / e_c,
    ).otherwise(F.lit(0.0))
    grouped = j.groupBy(*by) if by else j.groupBy()
    out = grouped.agg(
        F.sum(psi_term).alias("psi"),
        F.sum(chi_term).alias("chi2"),
        F.first("n_b").alias("n_b"),
        F.first("n_c").alias("n_c"),
        F.first("k").alias("n_buckets"),
    )
    return out.withColumn("drift_detected", F.col("psi") > psi_threshold)


def categorical_drift(
    baseline: DataFrame,
    current: DataFrame,
    column: str,
    by: list[str] | None = None,
    alpha: float = 0.5,
    psi_threshold: float = 0.2,
) -> DataFrame:
    """PSI + chi-square drift on a categorical column, optionally per group
    (``by`` e.g. ['partition_id']). Output one row per group:
    [by..., psi, chi2, n_b, n_c, n_buckets, drift_detected]."""
    by = by or []
    counts = _two_sample_counts(baseline, current, F.col(column), by)
    return _psi_chi2_rollup(counts, by, alpha, psi_threshold)


def numeric_drift(
    baseline: DataFrame,
    current: DataFrame,
    column: str,
    by: list[str] | None = None,
    num_bins: int = 100,
    bin_edges: tuple[float, float] | None = None,
    alpha: float = 0.5,
    psi_threshold: float = 0.2,
    ks_threshold: float = 0.1,
) -> DataFrame:
    """Histogram-sketched numeric drift: equi-width binning (edges from the
    baseline min/max unless given), PSI over bins + KS D-statistic from the
    binned ECDFs. Output: [by..., psi, chi2, ks_stat, ..., drift_detected]."""
    by = by or []
    if bin_edges is None:
        row = baseline.agg(
            F.min(F.col(column).cast("double")), F.max(F.col(column).cast("double"))
        ).collect()[0]
        lo, hi = _collected_edges(row, column, "numeric_drift")
    else:
        lo, hi = bin_edges
    width = (hi - lo) / num_bins if hi > lo else 1.0
    x = F.col(column).cast("double")
    bucket = F.least(
        F.greatest(F.floor((x - F.lit(lo)) / F.lit(width)), F.lit(-1)),
        F.lit(num_bins),
    )  # clamp under/overflow into sentinel edge bins
    counts = _two_sample_counts(
        baseline.filter(x.isNotNull()), current.filter(x.isNotNull()), bucket, by
    )
    psi = _psi_chi2_rollup(counts, by, alpha, psi_threshold)
    # KS over binned ECDF: cumsum per group ordered by bucket (<= num_bins+2 rows/group)
    # ungrouped: <= num_bins+2 rows total, so one partition is correct and
    # bounded; pmod(bucket, 1) is a constant-0 key Catalyst cannot fold away
    # (a lit() would be pruned, resurfacing the WindowExec warning).
    w = (
        Window.partitionBy(*by).orderBy("bucket")
        if by
        else Window.partitionBy(F.pmod(F.col("bucket"), F.lit(1))).orderBy("bucket")
    )
    tot = counts.groupBy(*by).agg(
        F.sum("cnt_b").alias("tb"), F.sum("cnt_c").alias("tc")
    )
    cum = counts.join(tot, on=by) if by else counts.crossJoin(tot)
    cum = cum.withColumn(
        "ks_term",
        # try_divide: an empty side (tb/tc = 0) contributes a NULL ECDF -> the
        # max-agg yields NULL ks_stat rather than an ANSI DIVIDE_BY_ZERO
        F.abs(
            F.try_divide(F.sum("cnt_b").over(w), F.col("tb"))
            - F.try_divide(F.sum("cnt_c").over(w), F.col("tc"))
        ),
    )
    ks = (cum.groupBy(*by) if by else cum.groupBy()).agg(
        F.max("ks_term").alias("ks_stat")
    )
    out = psi.join(ks, on=by) if by else psi.crossJoin(ks)
    return out.withColumn(
        "drift_detected",
        # null-safe verdict: an empty side makes ks_stat NULL (try_divide
        # above), and NULL | (psi<=thr) would be NULL — silently dropped by
        # boolean filters. An empty side IS a distribution change: flag it.
        F.when(F.col("ks_stat").isNull(), F.lit(True)).otherwise(
            (F.col("psi") > psi_threshold) | (F.col("ks_stat") > ks_threshold)
        ),
    )


def kll_ks_drift(
    baseline: DataFrame,
    current: DataFrame,
    column: str,
    k: int = 200,
    ks_threshold: float = 0.1,
) -> dict:
    """KS drift from two mergeable KLL sketches (sketches.kll_sketch) instead
    of a binned histogram: D = max over support points x of |rank_b(x) -
    rank_c(x)|. No bin-edge choice, one aggregation per side, and the two
    sketches can come from DIFFERENT runs/snapshots (stored images), which
    the histogram path cannot offer. Rank error of the estimate is O(1/k)
    per side.

    Returns {ks_stat, n_b, n_c, drift_detected, sketch_b, sketch_c} -- the
    sketches are returned so callers can persist them for future
    comparisons."""
    from pyspark_validator.sketches import kll_sketch

    sb = kll_sketch(baseline, column, k=k)
    sc = kll_sketch(current, column, k=k)
    return kll_ks_compare(sb, sc, ks_threshold=ks_threshold)


#: KS support resolution: each sketch contributes its quantiles at ranks
#: 0, 1/G, ..., 1. Between adjacent support points either CDF moves by about
#: 1/G at most, far below a k=200 sketch's own rank error.
_KS_GRID = 1024


def kll_ks_compare(sb, sc, ks_threshold: float = 0.1) -> dict:
    """KS comparison of two already-built KLL images (e.g. one loaded from a
    previous run's SketchStore): ``kll_sketch_get_rank_double`` of both
    sketches at the union of their ``_KS_GRID``-step quantiles, in one
    single-row Spark job."""
    if not sb.n or not sc.n:
        return {
            "ks_stat": float("nan"), "n_b": sb.n, "n_c": sc.n,
            "drift_detected": False, "sketch_b": sb, "sketch_c": sc,
        }
    from pyspark_validator.sketches import one_row

    b, c = F.lit(sb.image), F.lit(sc.image)
    # the rank/quantile arguments must be foldable: a literal array, parsed
    # from one string rather than built from _KS_GRID + 1 lit() columns
    grid = F.expr(
        "array(" + ", ".join(f"{i / _KS_GRID!r}D" for i in range(_KS_GRID + 1)) + ")"
    )
    support = F.array_union(
        F.kll_sketch_get_quantile_double(b, grid),
        F.kll_sketch_get_quantile_double(c, grid),
    )
    gap = F.zip_with(
        F.kll_sketch_get_rank_double(b, support),
        F.kll_sketch_get_rank_double(c, support),
        lambda x, y: F.abs(x - y),
    )
    d = float(one_row(F.array_max(gap))[0])
    return {
        "ks_stat": d,
        "n_b": sb.n,
        "n_c": sc.n,
        "drift_detected": bool(d > ks_threshold),
        "sketch_b": sb,
        "sketch_c": sc,
    }


def numeric_baseline(
    df: DataFrame,
    column: str,
    num_bins: int = 20,
    bin_edges: tuple[float, float] | None = None,
) -> dict:
    """Freeze a reference histogram for STREAMING drift monitoring: the same
    equi-width binning as :func:`numeric_drift` (clamped sentinel bins -1 and
    num_bins for under/overflow), collected as a plain dict so it can live in
    a checkpoint manifest and be replayed as literals inside a streaming agg.
    Returns {lo, hi, num_bins, bins: [-1..num_bins], counts, n}."""
    x = F.col(column).cast("double")
    if bin_edges is None:
        row = df.agg(F.min(x), F.max(x)).collect()[0]
        lo, hi = _collected_edges(row, column, "numeric_baseline")
    else:
        lo, hi = bin_edges
    width = (hi - lo) / num_bins if hi > lo else 1.0
    bucket = F.least(
        F.greatest(F.floor((x - F.lit(lo)) / F.lit(width)), F.lit(-1)),
        F.lit(num_bins),
    )
    rows = (
        df.filter(x.isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    got = {int(r["bucket"]): int(r["cnt"]) for r in rows}
    bins = list(range(-1, num_bins + 1))
    counts = [got.get(b, 0) for b in bins]
    return {
        "lo": lo,
        "hi": hi,
        "num_bins": num_bins,
        "bins": bins,
        "counts": counts,
        "n": sum(counts),
    }


def categorical_baseline(
    df: DataFrame, column: str, max_categories: int = 50
) -> dict:
    """Freeze a reference frequency table for streaming categorical drift:
    the top ``max_categories`` values by baseline count, every other value
    (and NULL) pooled into the OTHER bucket. Returns {values, counts,
    other_count, n}; bucket i = values[i], bucket len(values) = OTHER."""
    rows = (
        df.groupBy(F.col(column).cast("string").alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc_nulls_last("v"))
        .limit(max_categories + 1)
        .collect()
    )
    n = df.count()
    kept = [(r["v"], int(r["cnt"])) for r in rows if r["v"] is not None][
        :max_categories
    ]
    values = [v for v, _ in kept]
    counts = [c for _, c in kept]
    return {
        "values": values,
        "counts": counts,
        "other_count": n - sum(counts),
        "n": n,
    }


def embedding_centroid_drift(
    baseline: DataFrame,
    current: DataFrame,
    by: list[str] | None = None,
    vec_col: str = "embedding",
    min_cosine: float = 0.99,
) -> DataFrame:
    """Embedding-space drift between two snapshots: per group, the cosine
    between the two sides' MEAN vectors (plus mean-norm shift). An embedding
    model swap, a feature-pipeline change, or a population shift moves the
    centroid long before per-pair checks notice.

    Scale shape: each side folds to (group x dim) partial sums via ONE
    posexplode + groupBy(by, idx) with map-side combine -- the shuffle
    carries groups x dim rows, never the corpus -- then the two bounded
    frames join on (by, idx) and fold to one row per group. Output:
    [by..., n_b, n_c, centroid_cosine, mean_norm_b, mean_norm_c,
    drift_detected (cosine < min_cosine)].
    """
    by = by or []

    def sums(df: DataFrame, tag: str) -> DataFrame:
        e = df.select(
            *by,
            F.posexplode(F.col(vec_col)).alias("__i", "__v"),
            F.size(F.col(vec_col)).alias("__dim"),
            F.sqrt(
                F.aggregate(
                    F.col(vec_col),
                    F.lit(0.0),
                    lambda a, t: a + t.cast("double") * t.cast("double"),
                )
            ).alias("__nrm"),
        )
        return e.groupBy(*by, "__i").agg(
            F.sum(F.col("__v").cast("double")).alias(f"s_{tag}"),
            # per-(group, idx) the row count and norm sum repeat the per-row
            # values dim times; divide back out at the rollup
            F.count(F.lit(1)).alias(f"n_{tag}"),
            F.sum("__nrm").alias(f"ns_{tag}"),
        )

    j = sums(baseline, "b").join(sums(current, "c"), on=[*by, "__i"], how="full_outer")
    j = j.fillna(0, subset=["s_b", "s_c", "n_b", "n_c", "ns_b", "ns_c"])
    # try_divide: a group present on only ONE side has n=0 there -> null mean,
    # null cosine, null drift flag (a structural appearance/vanish, not a
    # numeric drift verdict; the Spark-4 ANSI divide would throw instead)
    mb = F.try_divide(F.col("s_b"), F.col("n_b"))
    mc = F.try_divide(F.col("s_c"), F.col("n_c"))
    grouped = j.groupBy(*by) if by else j.groupBy()
    out = grouped.agg(
        F.max("n_b").cast("long").alias("n_b"),
        F.max("n_c").cast("long").alias("n_c"),
        F.sum(mb * mc).alias("__dot"),
        F.sqrt(F.sum(mb * mb)).alias("__nb"),
        F.sqrt(F.sum(mc * mc)).alias("__nc"),
        F.try_divide(F.max("ns_b"), F.max("n_b")).alias("mean_norm_b"),
        F.try_divide(F.max("ns_c"), F.max("n_c")).alias("mean_norm_c"),
    )
    cos = F.try_divide(F.col("__dot"), F.col("__nb") * F.col("__nc"))
    return out.select(
        *by,
        "n_b",
        "n_c",
        cos.alias("centroid_cosine"),
        "mean_norm_b",
        "mean_norm_c",
        (cos < F.lit(min_cosine)).alias("drift_detected"),
    )


def js_divergence_drift(
    baseline: DataFrame,
    current: DataFrame,
    column: str,
    by: list[str] | None = None,
    threshold: float = 0.1,
) -> DataFrame:
    """Jensen-Shannon divergence drift on a categorical column (log base 2,
    so JSD is bounded in [0, 1]; JS distance = sqrt(JSD) is a metric).

    Complements PSI/chi2 (categorical_drift): JSD needs NO smoothing -- the
    mixture m = (p+q)/2 is positive wherever either side is -- and is
    symmetric and bounded, so thresholds transfer across columns with very
    different cardinalities (PSI's additive-alpha floor does not).

    Same physical plan as categorical_drift: tag + union + ONE map-side
    combinable groupBy(value); the rollup runs over #distinct-values rows.
    Output one row per group: [by..., jsd, js_distance, n_b, n_c, n_buckets,
    drift_detected].
    """
    by = by or []
    counts = _two_sample_counts(baseline, current, F.col(column), by)
    tot = counts.groupBy(*by).agg(
        F.sum("cnt_b").alias("n_b"),
        F.sum("cnt_c").alias("n_c"),
        F.count(F.lit(1)).alias("k"),
    )
    j = counts.join(tot, on=by) if by else counts.crossJoin(tot)
    p = F.col("cnt_b") / F.col("n_b")
    q = F.col("cnt_c") / F.col("n_c")
    m = (p + q) / 2
    ln2 = F.lit(0.6931471805599453)
    # 0 * log(0/m) := 0 (absent cell contributes nothing on its side)
    term_p = F.when(F.col("cnt_b") > 0, p * F.log(p / m) / ln2).otherwise(F.lit(0.0))
    term_q = F.when(F.col("cnt_c") > 0, q * F.log(q / m) / ln2).otherwise(F.lit(0.0))
    grouped = j.groupBy(*by) if by else j.groupBy()
    out = grouped.agg(
        ((F.sum(term_p) + F.sum(term_q)) / 2).alias("jsd"),
        F.first("n_b").alias("n_b"),
        F.first("n_c").alias("n_c"),
        F.first("k").alias("n_buckets"),
    )
    return out.select(
        *by,
        "jsd",
        F.sqrt(F.greatest(F.col("jsd"), F.lit(0.0))).alias("js_distance"),
        "n_b",
        "n_c",
        "n_buckets",
        (F.col("jsd") > threshold).alias("drift_detected"),
    )


def wasserstein_drift(
    baseline: DataFrame,
    current: DataFrame,
    column: str,
    by: list[str] | None = None,
    num_bins: int = 100,
    bin_edges: tuple[float, float] | None = None,
    threshold: float | None = None,
) -> DataFrame:
    """1-D Wasserstein (earth-mover) drift over the same equi-width histogram
    sketch as numeric_drift: W1 = integral |F_b(x) - F_c(x)| dx, evaluated on
    the binned ECDFs (sum of |CDF gap| * bin width). Where KS reports only the
    WORST cdf gap, W1 integrates ALL of it, so a broad small shift (mean drift
    spread over the range) scores high even when no single gap crosses the KS
    bar.

    Out-of-range sentinel bins (numeric_drift's -1 / num_bins clamps) are
    counted with one bin width -- the sketch's resolution floor, stated here
    because a heavy out-of-edges tail makes W1 a lower bound.

    Output: [by..., wasserstein, wasserstein_norm, n_b, n_c, drift_detected]
    where wasserstein_norm = W1 / (hi - lo) in [0, ~1] for in-range mass.
    ``threshold`` (absolute, same units as the column) gates drift_detected;
    None means informational (always False).
    """
    by = by or []
    if bin_edges is None:
        row = baseline.agg(
            F.min(F.col(column).cast("double")), F.max(F.col(column).cast("double"))
        ).collect()[0]
        lo, hi = _collected_edges(row, column, "wasserstein_drift")
    else:
        lo, hi = bin_edges
    width = (hi - lo) / num_bins if hi > lo else 1.0
    x = F.col(column).cast("double")
    bucket = F.least(
        F.greatest(F.floor((x - F.lit(lo)) / F.lit(width)), F.lit(-1)),
        F.lit(num_bins),
    )
    counts = _two_sample_counts(
        baseline.filter(x.isNotNull()), current.filter(x.isNotNull()), bucket, by
    )
    w = (
        Window.partitionBy(*by).orderBy("bucket")
        if by
        else Window.partitionBy(F.pmod(F.col("bucket"), F.lit(1))).orderBy("bucket")
    )
    tot = counts.groupBy(*by).agg(
        F.sum("cnt_b").alias("tb"), F.sum("cnt_c").alias("tc")
    )
    cum = counts.join(tot, on=by) if by else counts.crossJoin(tot)
    # a CDF gap persists across ABSENT bins until the next observed bucket,
    # so each observed gap is weighted by that span (the last bucket's gap is
    # 0 -- both CDFs reach 1 -- so the null lead contributes nothing).
    cum = cum.withColumn(
        "gap",
        F.abs(
            F.sum("cnt_b").over(w) / F.col("tb") - F.sum("cnt_c").over(w) / F.col("tc")
        ),
    ).withColumn(
        "span",
        F.coalesce(F.lead("bucket").over(w) - F.col("bucket"), F.lit(0)).cast(
            "double"
        ),
    )
    out = (cum.groupBy(*by) if by else cum.groupBy()).agg(
        (F.sum(F.col("gap") * F.col("span")) * F.lit(width)).alias("wasserstein"),
        F.first("tb").alias("n_b"),
        F.first("tc").alias("n_c"),
    )
    gate = (
        F.lit(False)
        if threshold is None
        else F.col("wasserstein") > F.lit(threshold)
    )
    return out.select(
        *by,
        "wasserstein",
        (F.col("wasserstein") / F.lit(hi - lo if hi > lo else 1.0)).alias(
            "wasserstein_norm"
        ),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("n_c").cast("long").alias("n_c"),
        gate.alias("drift_detected"),
    )


def class_balance(
    df: DataFrame,
    column: str,
    expected: dict[str, float],
    max_psi: float = 0.1,
    alpha: float = 0.5,
) -> DataFrame:
    """Categorical balance gate against a GIVEN class distribution -- the
    categorical sibling of the fused histogram_drift member (fixed analytic
    baseline, not two-sample): PSI of the observed class frequencies vs
    ``expected`` (values not listed in ``expected`` pool into an implicit
    '__other__' class with expected mass 1 - sum(expected), eps-clamped).
    The label-shift check for classifier training sets.

    One scan of k+1 conditional sums (pure sums -> the same census shape the
    fused member uses); no groupBy at all -- the class list is given, so the
    census is k fixed aggregate expressions, shuffling one row.

    Smoothing: LISTED classes get the usual additive alpha; the implicit
    '__other__' cell is UNSMOOTHED and contributes 0 when empty -- smoothing
    it against its eps-clamped expectation would inject a phantom
    alpha/n * ln(alpha/(n*eps)) term into every perfectly-clean column
    (~0.56 PSI at n=20), failing conforming data.

    Output (single row): [n, n_other, psi, max_abs_dev, worst_class, holds].
    """
    if not expected:
        raise ValueError("expected must name at least one class")
    if any(p < 0 for p in expected.values()) or sum(expected.values()) > 1 + 1e-9:
        raise ValueError("expected probabilities must be >= 0 and sum to <= 1")
    eps = 1e-12
    other_p = max(1.0 - sum(expected.values()), eps)
    c = F.col(column)
    keys = sorted(expected)
    aggs = [F.sum(c.isNotNull().cast("long")).alias("n")]
    aggs += [
        F.sum((c == k).cast("long")).alias(f"__c_{i}") for i, k in enumerate(keys)
    ]
    g = df.agg(*aggs)
    n = F.col("n").cast("double")
    kk = len(keys)
    obs = [F.col(f"__c_{i}") for i in range(len(keys))]
    other = F.col("n") - sum(obs[1:], obs[0])
    psi = F.lit(0.0)
    devs = []
    for o, q in zip(obs, [max(expected[k], eps) for k in keys]):
        p = (o + F.lit(alpha)) / (n + F.lit(alpha * kk))
        psi = psi + (p - F.lit(q)) * F.log(p / F.lit(q))
        devs.append(F.abs(o / n - F.lit(q)))
    p_o = other / n
    psi = psi + F.when(
        other > 0, (p_o - F.lit(other_p)) * F.log(p_o / F.lit(other_p))
    ).otherwise(F.lit(0.0))
    devs.append(F.abs(p_o - F.lit(other_p)))
    max_dev = F.greatest(*devs) if len(devs) > 1 else devs[0]
    labels = keys + ["__other__"]
    worst = F.lit(labels[0])
    for lbl, d in zip(labels[1:], devs[1:]):
        worst = F.when(d.eqNullSafe(max_dev), F.lit(lbl)).otherwise(worst)
    return g.select(
        F.col("n").cast("bigint").alias("n"),
        other.cast("bigint").alias("n_other"),
        psi.alias("psi"),
        max_dev.alias("max_abs_dev"),
        worst.alias("worst_class"),
        (psi <= F.lit(max_psi)).alias("holds"),
    )


def embedding_dimension_drift(
    baseline: DataFrame,
    current: DataFrame,
    vec_col: str = "embedding",
    max_smd: float = 0.25,
) -> DataFrame:
    """Per-dimension embedding drift: standardized mean difference
    |mean_b - mean_c| / sqrt((var_b + var_c) / 2) for every dimension, rolled
    up to the worst and mean SMD. Catches AXIS-level shifts (a feature
    pipeline zeroing one dimension, quantization bias) that the centroid
    cosine (embedding_centroid_drift) can average away.

    Scale shape: each side folds to per-dim (n, sum, sum-of-squares) via ONE
    posexplode + groupBy(idx) with map-side combine -- the shuffle carries
    dim rows, never the corpus -- then the two dim-sized frames join.

    Output (single row): [n_b, n_c, dim, max_smd_value, worst_dim, mean_smd,
    drift_detected]. Dimensions present on only one side (ragged input) are
    excluded from the rollup but counted in ``dim`` via the union.
    """

    def sums(df: DataFrame, tag: str) -> DataFrame:
        e = df.select(F.posexplode(F.col(vec_col)).alias("idx", "v"))
        v = F.col("v").cast("double")
        return e.groupBy("idx").agg(
            F.count(F.lit(1)).alias(f"n_{tag}"),
            F.sum(v).alias(f"s_{tag}"),
            F.sum(v * v).alias(f"ss_{tag}"),
        )

    j = sums(baseline, "b").join(sums(current, "c"), "idx", "full_outer")
    both = F.col("n_b").isNotNull() & F.col("n_c").isNotNull()
    mb = F.col("s_b") / F.col("n_b")
    mc = F.col("s_c") / F.col("n_c")
    vb = F.col("ss_b") / F.col("n_b") - mb * mb
    vc = F.col("ss_c") / F.col("n_c") - mc * mc
    pooled = F.sqrt(F.greatest((vb + vc) / 2, F.lit(1e-24)))
    smd = F.when(both, F.abs(mb - mc) / pooled)
    out = j.agg(
        F.max("n_b").alias("n_b"),
        F.max("n_c").alias("n_c"),
        F.count(F.lit(1)).alias("dim"),
        F.max(smd).alias("max_smd_value"),
        F.max_by(F.col("idx"), smd).alias("worst_dim"),
        F.avg(smd).alias("mean_smd"),
    )
    return out.select(
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("n_c").cast("bigint").alias("n_c"),
        F.col("dim").cast("bigint").alias("dim"),
        "max_smd_value",
        "worst_dim",
        "mean_smd",
        (F.col("max_smd_value") > F.lit(max_smd)).alias("drift_detected"),
    )


def topk_drift(
    baseline: DataFrame,
    current: DataFrame,
    column: str,
    k: int = 10,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Heavy-hitter drift: compare the two snapshots' top-k value sets --
    set Jaccard, normalized Spearman footrule over the SHARED values'
    ranks, and whether the single most frequent value changed. Catches
    head-of-distribution churn (a new dominant template, a vanished
    bestseller) that aggregate divergences dilute.

    Scale: two censuses (map-side combine) -> each side's top-k via
    orderBy(cnt desc, value).limit(k) (TakeOrderedAndProject, distributed
    heap) -> one full-outer join over <= 2k rows. Rank ties break on value
    asc, deterministic across engines.

    Output (single row): [k_b, k_c, n_shared, jaccard, footrule, top1_b,
    top1_c, top1_same, drift_detected]. footrule = sum |rank_b - rank_c|
    over shared values, divided by the worst case for the shared count
    (NULL when nothing is shared).
    """

    def top(df: DataFrame, tag: str) -> DataFrame:
        cen = (
            df.select(F.col(column).cast("string").alias("val"))
            .filter(F.col("val").isNotNull())
            .groupBy("val")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        head = cen.orderBy(F.col("cnt").desc(), F.col("val")).limit(k)
        w = Window.partitionBy(F.pmod(F.col("cnt"), F.lit(1))).orderBy(
            F.col("cnt").desc(), F.col("val")
        )
        return head.select(
            "val", F.row_number().over(w).alias(f"rank_{tag}")
        )

    j = top(baseline, "b").join(top(current, "c"), "val", "full_outer")
    shared = F.col("rank_b").isNotNull() & F.col("rank_c").isNotNull()
    agg = j.agg(
        F.sum(F.col("rank_b").isNotNull().cast("long")).alias("k_b"),
        F.sum(F.col("rank_c").isNotNull().cast("long")).alias("k_c"),
        F.sum(shared.cast("long")).alias("n_shared"),
        F.sum(
            F.when(shared, F.abs(F.col("rank_b") - F.col("rank_c"))).otherwise(0)
        ).alias("__fr"),
        F.min(F.when(F.col("rank_b") == 1, F.col("val"))).alias("top1_b"),
        F.min(F.when(F.col("rank_c") == 1, F.col("val"))).alias("top1_c"),
    )
    union = F.col("k_b") + F.col("k_c") - F.col("n_shared")
    jac = F.when(union > 0, F.col("n_shared") / union).otherwise(F.lit(1.0))
    # worst-case footrule for s shared items among ranks 1..k (both sides):
    # each displaced by at most (k - 1) -> s * (k - 1); exact-enough
    # normalizer, monotone in disagreement, 0 = identical shared ranks
    fr_norm = F.try_divide(
        F.col("__fr").cast("double"), F.col("n_shared").cast("double") * (k - 1)
    )
    return agg.select(
        "k_b",
        "k_c",
        "n_shared",
        jac.alias("jaccard"),
        fr_norm.alias("footrule"),
        "top1_b",
        "top1_c",
        # eqNullSafe: an empty snapshot leaves top1 NULL, and plain equality
        # would propagate NULL into downstream boolean filters (row dropped);
        # NULL <=> NULL is True (both empty), NULL <=> value is False.
        F.col("top1_b").eqNullSafe(F.col("top1_c")).alias("top1_same"),
        (jac < F.lit(min_jaccard)).alias("drift_detected"),
    )


def change_point_check(
    df: DataFrame,
    order_col: str,
    value_col: str,
    num_bins: int = 100,
    bin_edges: tuple[float, float] | None = None,
    min_shift_smd: float = 0.5,
) -> DataFrame:
    """WHERE did the metric move: binned CUSUM change-point detection (Page
    1954 family) over an ordered axis (event time, file order, version).
    Drift checks say THAT two snapshots differ; this localizes the shift
    point within one ordered table.

    Scale design: the order axis is binned equi-width (edges from min/max
    unless given) and the scan folds to per-bin (cnt, sum, sum-of-squares)
    partials -- ONE map-side-combinable groupBy, shuffle carries num_bins
    rows. The CUSUM scan C_i = cum_sum_i - cum_cnt_i * global_mean runs as a
    window over <= num_bins rows (never row data); the split lands at
    argmax |C_i| (deterministic tie-break: earliest bin).

    Output (single row): [n, n_bins, change_bin, change_point,
    change_fraction, mean_before, mean_after, shift, shift_smd, detected]
    where change_point is the order-axis value at the split boundary,
    change_fraction the row mass before it, and shift_smd the mean shift in
    global-std units (gate: > min_shift_smd).
    """
    x = F.col(order_col).cast("double")
    v = F.col(value_col).cast("double")
    if bin_edges is None:
        row = df.agg(F.min(x), F.max(x)).collect()[0]
        lo, hi = _collected_edges(row, order_col, "change_point_check")
    else:
        lo, hi = bin_edges
    width = (hi - lo) / num_bins if hi > lo else 1.0
    bucket = F.least(
        F.greatest(F.floor((x - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(num_bins - 1),
    )
    bins = (
        df.filter(x.isNotNull() & v.isNotNull())
        .groupBy(bucket.alias("b"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(v).alias("s"),
            F.sum(v * v).alias("ss"),
        )
    )
    w = Window.partitionBy(F.pmod(F.col("b"), F.lit(1))).orderBy("b")
    tot = bins.agg(
        F.sum("cnt").alias("tn"),
        F.sum("s").alias("ts_sum"),
        F.sum("ss").alias("tss"),
    )
    cum = bins.crossJoin(F.broadcast(tot)).select(
        "b",
        "tn",
        "ts_sum",
        "tss",
        F.sum("cnt").over(w).alias("ck"),
        F.sum("s").over(w).alias("cs"),
    )
    # C_i = cs_i - ck_i * (total/n); exclude the last bin (C_B = 0 identity)
    cum = cum.withColumn(
        "cusum", F.col("cs") - F.col("ck") * (F.col("ts_sum") / F.col("tn"))
    ).filter(F.col("ck") < F.col("tn"))
    best = cum.orderBy(
        F.abs(F.col("cusum")).desc(), F.col("b")
    ).limit(1)
    mean_b = F.col("cs") / F.col("ck")
    mean_a = (F.col("ts_sum") - F.col("cs")) / (F.col("tn") - F.col("ck"))
    sd = F.sqrt(
        F.greatest(
            F.col("tss") / F.col("tn")
            - (F.col("ts_sum") / F.col("tn")) * (F.col("ts_sum") / F.col("tn")),
            F.lit(1e-24),
        )
    )
    shift = mean_a - mean_b
    smd = F.abs(shift) / sd
    return best.select(
        F.col("tn").cast("bigint").alias("n"),
        F.lit(num_bins).alias("n_bins"),
        F.col("b").cast("int").alias("change_bin"),
        (F.lit(lo) + (F.col("b") + 1) * F.lit(width)).alias("change_point"),
        (F.col("ck") / F.col("tn")).alias("change_fraction"),
        mean_b.alias("mean_before"),
        mean_a.alias("mean_after"),
        shift.alias("shift"),
        smd.alias("shift_smd"),
        (smd > F.lit(min_shift_smd)).alias("detected"),
    )
