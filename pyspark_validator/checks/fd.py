"""Functional-dependency validation + the AFD error-measure family + PFD.

Reference semantics:
  * FD X->Y holds <=> #clusters(PLI(X)) == #clusters(PLI(X u Y)) where cluster count
    includes singletons (fd_verifier.cpp:55-65, position_list_index.h:97-99) --
    i.e. countDistinct(X) == countDistinct(X,Y).
  * Highlights: per violating X-cluster (size>=2 AND >1 distinct Y):
    num_distinct_rhs = within-cluster distinct-Y count, most_frequent_rhs_proportion
    = within-cluster max Y multiplicity / cluster size
    (stats_calculator.cpp:61-113, highlight.h:11-35).
  * g1-style error = sum over X-clusters of [c(c-1) - sum_y f(f-1)] / (n^2 - n)
    (stats_calculator.cpp:83,96-106).
  * AFD measures g1 / pdep / tau / mu+ / rho: fd/tane/afd_measures.cpp:6-130.
  * PFD per-tuple & per-value: fd/pfd_verifier/pfd_stats_calculator.h:47-90.

Spark design: ONE repartition by LHS, then two chained hash aggregations that both
reuse that partitioning (HashPartitioning(X) satisfies ClusteredDistribution(X,Y)
because X is a subset of the grouping key -> Catalyst inserts no second exchange).
Everything downstream of the (X,Y)-level counts is algebraic, map-side combinable.
Hot LHS keys concentrate in one partition under this plan; for heavily skewed LHS
pass ``repartition_by_lhs=False`` to fall back to two independent shuffles where AQE
handles each.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_validator.canonical import NullMode, null_safe_key


def _aliased_keys(cols: list[str], prefix: str, null_mode: NullMode) -> list[Column]:
    return [
        null_safe_key(F.col(c), null_mode).alias(f"{prefix}{i}")
        for i, c in enumerate(cols)
    ]


def _g1_error() -> Column:
    n = F.col("n_rows")
    return F.when(n > 1, F.col("conflict_pairs") / (n * n - n)).otherwise(F.lit(0.0))


def fd_x_level(xy_counts: DataFrame, x_cols: list[str], ycnt: str = "ycnt") -> DataFrame:
    """Level-2 of an (X, Y)-level count frame, per distinct X (``x_cols``
    lead with partition_id): cluster size cx, distinct-Y count, max Y
    multiplicity, the within-cluster conflicting-ordered-pair count, and the
    entropy partials (sum cxy ln cxy) feeding FI. Shared by FDCheck and
    incremental.IncrementalFD."""
    c = F.col(ycnt)
    return xy_counts.groupBy(*x_cols).agg(
        F.sum(c).alias("cx"),
        F.count(F.lit(1)).alias("n_distinct_y"),
        F.max(c).alias("max_y"),
        F.sum(c * (c - 1)).alias("y_pairs"),
        F.sum(c * F.log(c.cast("double"))).alias("y_ln_sum"),
    )


def fd_rollup(x_level: DataFrame) -> DataFrame:
    """Per-partition verdicts from ``fd_x_level``: holds <=>
    distinct(X)==distinct(X,Y) in the partition <=> no X-cluster with >1
    distinct Y. Also carries the g1 numerator (conflicting ordered pairs)
    and per-partition n for error assembly."""
    viol = F.col("n_distinct_y") > 1
    cx = F.col("cx")
    return (
        x_level.groupBy("partition_id")
        .agg(
            F.sum(cx).alias("n_rows"),
            F.count(F.lit(1)).alias("n_distinct_x"),
            F.sum("n_distinct_y").alias("n_distinct_xy"),
            F.sum(viol.cast("long")).alias("n_error_clusters"),
            F.sum(F.when(viol, cx).otherwise(0)).alias("n_error_rows"),
            F.sum(cx * (cx - 1) - F.col("y_pairs")).alias("conflict_pairs"),
        )
        .withColumn("g1_error", _g1_error())
        .withColumn("holds", F.col("n_error_clusters") == 0)
    )


def afd_rollup(
    xy_counts: DataFrame, x_cols: list[str], y_cols: list[str], ycnt: str = "ycnt"
) -> DataFrame:
    """g1, g2, pdep, tau, mu+, rho, FI for X->Y (afd_measures.cpp:6-130), one
    row, from an (X, Y)-level count frame. Shared by FDCheck and
    incremental.IncrementalFD.

    Closed forms over the (X,Y)-level count vector plus one extra pass over Y:
      pdep(X->Y) = (1/n) sum_xy cxy^2/cx          pdep(Y) = sum_y cy^2 / n^2
      tau  = (pdep_xy - pdep_y)/(1 - pdep_y)       (1 if pdep_y == 1)
      mu+  = max(0, 1-(1-pdep_xy)/(1-pdep_y)*(n-1)/(n-K)), K = #distinct X
      rho  = K / #distinct(X,Y)
      g1   = (sum_x cx(cx-1) - sum_xy cxy(cxy-1)) / (n^2 - n)
    """
    x = fd_x_level(xy_counts, x_cols, ycnt).agg(
        F.sum("cx").alias("n"),
        F.count(F.lit(1)).alias("k_x"),
        F.sum("n_distinct_y").alias("k_xy"),
        F.sum(F.col("cx") * (F.col("cx") - 1) - F.col("y_pairs")).alias(
            "conflict_pairs"
        ),
        # g2 numerator (afd_metric_calculator.cpp:71-87): rows inside
        # X-clusters whose Y is not constant
        F.sum(F.when(F.col("n_distinct_y") > 1, F.col("cx")).otherwise(0)).alias(
            "g2_rows"
        ),
        # entropy partials for FI (afd_metric_calculator.cpp:180-211):
        # H(Y|X) = -(1/n)[sum_xy cxy ln cxy - sum_x cx ln cx]
        F.sum("y_ln_sum").alias("sum_cxy_ln"),
        F.sum(F.col("cx") * F.log(F.col("cx").cast("double"))).alias("sum_cx_ln"),
        # pdep numerator: sum_xy cxy^2/cx = sum_x (y_pairs + cx)/cx since
        # sum_y cxy^2 = sum cxy(cxy-1) + sum cxy -- algebraic, so it folds
        # into THIS agg instead of a second scan of the X-level lineage.
        F.sum((F.col("y_pairs") + F.col("cx")) / F.col("cx")).alias("pdep_num"),
    )
    # Y marginal from the (X,Y)-level counts (cy = sum_x cxy): reuses the
    # already-shuffled xy lineage instead of re-scanning the raw table.
    y_level = (
        xy_counts.groupBy(*y_cols)
        .agg(F.sum(ycnt).alias("cy"))
        .agg(
            F.sum(F.col("cy") * F.col("cy")).alias("sum_cy2"),
            F.sum(F.col("cy") * F.log(F.col("cy").cast("double"))).alias(
                "sum_cy_ln"
            ),
            F.count(F.lit(1)).alias("k_y"),
        )
    )
    j = x.crossJoin(y_level)
    n = F.col("n").cast("double")
    pdep_xy = F.col("pdep_num") / n
    pdep_y = F.col("sum_cy2") / (n * n)
    k_x = F.col("k_x").cast("double")
    tau = F.when(pdep_y == 1.0, F.lit(1.0)).otherwise(
        (pdep_xy - pdep_y) / (F.lit(1.0) - pdep_y)
    )
    mu = F.lit(1.0) - (F.lit(1.0) - pdep_xy) / (F.lit(1.0) - pdep_y) * (n - 1) / (
        n - k_x
    )
    mu_plus = F.when((pdep_y == 1.0) | (k_x == n), F.lit(1.0)).otherwise(
        F.greatest(F.lit(0.0), mu)
    )
    # FI = mutual information / H(Y); 0 when Y has < 2 distinct values
    # (afd_metric_calculator.cpp:180-211). All terms use natural logs.
    h_y = F.log(n) - F.col("sum_cy_ln") / n
    h_y_given_x = -(F.col("sum_cxy_ln") - F.col("sum_cx_ln")) / n
    fi = F.when(F.col("k_y") < 2, F.lit(0.0)).otherwise((h_y - h_y_given_x) / h_y)
    return j.select(
        (F.col("conflict_pairs") / (n * n - n)).alias("g1"),
        (F.col("g2_rows") / n).alias("g2"),
        pdep_xy.alias("pdep"),
        tau.alias("tau"),
        mu_plus.alias("mu_plus"),
        (k_x / F.col("k_xy")).alias("rho"),
        fi.alias("fi"),
        F.col("n").alias("n_rows"),
        F.col("k_x").alias("n_distinct_x"),
        F.col("k_xy").alias("n_distinct_xy"),
    )


@dataclass
class FDCheck:
    """Lazy FD / AFD / PFD check of lhs -> rhs over df."""

    df: DataFrame
    lhs: list[str]
    rhs: list[str]
    num_partitions: int = 64
    null_mode: NullMode = NullMode.EQUAL
    highlight_cap: int = 100
    repartition_by_lhs: bool = True

    def __post_init__(self) -> None:
        if not self.lhs or not self.rhs:
            raise ValueError("fd_check requires non-empty lhs and rhs")

    @cached_property
    def _xy_counts(self) -> DataFrame:
        """Level-1 PLI analog: one row per distinct (X, Y) with multiplicity.

        Equivalent of PLI(X) Intersect PLI(Y) (position_list_index.cpp:131-184) --
        Spark groups by the union key directly; no incremental intersect needed.
        """
        xk = _aliased_keys(self.lhs, "__x", self.null_mode)
        yk = _aliased_keys(self.rhs, "__y", self.null_mode)
        base = self.df.select(
            *xk,
            *yk,
            F.pmod(
                F.xxhash64(*[F.col(c) for c in self.lhs]), F.lit(self.num_partitions)
            )
            .cast("int")
            .alias("partition_id"),
        )
        if self.repartition_by_lhs:
            base = base.repartition(*[f"__x{i}" for i in range(len(self.lhs))])
        return base.groupBy(
            "partition_id",
            *[f"__x{i}" for i in range(len(self.lhs))],
            *[f"__y{i}" for i in range(len(self.rhs))],
        ).agg(F.count(F.lit(1)).alias("ycnt"))

    @cached_property
    def _x_level(self) -> DataFrame:
        return fd_x_level(
            self._xy_counts,
            ["partition_id", *[f"__x{i}" for i in range(len(self.lhs))]],
        )

    def verdicts(self) -> DataFrame:
        """Per-partition verdicts (``fd_rollup``)."""
        return fd_rollup(self._x_level)

    def summary(self) -> DataFrame:
        """Global single-row verdict matching the reference getters
        (bind_fd_verification.cpp:28-32): holds / error / num_error_clusters /
        num_error_rows."""
        return (
            self.verdicts()
            .agg(
                (F.sum("n_error_clusters") == 0).alias("holds"),
                F.sum("n_rows").alias("n_rows"),
                F.sum("n_distinct_x").alias("n_distinct_x"),
                F.sum("n_distinct_xy").alias("n_distinct_xy"),
                F.sum("n_error_clusters").alias("n_error_clusters"),
                F.sum("n_error_rows").alias("n_error_rows"),
                F.sum("conflict_pairs").alias("conflict_pairs"),
            )
            .withColumn("g1_error", _g1_error())
        )

    def _lhs_sort_keys(self, prefix: str = "") -> list[Column]:
        """The reference's typed LHS comparator (stats_calculator.cpp:12-43):
        Empty < Null < value per column, values by natural type order (mixed
        types compare as strings, which Spark's cross-type coercion mirrors
        for the string case). Empty applies to string columns only."""
        keys: list[Column] = []
        for c in self.lhs:
            col = F.col(f"{prefix}{c}")
            dt = self.df.schema[c].dataType.simpleString()
            if dt == "string":
                tier = (
                    F.when(col == "", F.lit(0))
                    .when(col.isNull(), F.lit(1))
                    .otherwise(F.lit(2))
                )
            else:
                tier = F.when(col.isNull(), F.lit(1)).otherwise(F.lit(2))
            keys.extend([tier, col])
        return keys

    def highlights(
        self, sort_by: str = "proportion", ascending: bool = False
    ) -> DataFrame:
        """Violating clusters, capped. Sort modes mirror the reference's four
        highlight orders, each ascending/descending (fd_verifier.cpp:67-105):
        'proportion' (most_frequent_rhs_proportion), 'num' (num_distinct_rhs),
        'size' (cluster_size), 'lhs' (typed Empty < Null < value comparator
        over the LHS values, stats_calculator.cpp:12-43). Default matches the
        reference default SortHighlightsByProportionDescending. Gated: run
        after a failed verdict.

        Output: [partition_id, <lhs values...>, cluster_size, num_distinct_rhs,
        most_frequent_rhs_proportion].
        """
        viol = self._x_level.filter(F.col("n_distinct_y") > 1)
        # join back to recover the raw LHS values for reporting (keys may be
        # null-wrapped structs); null-safe join on the derived key columns.
        xk_names = [f"__x{i}" for i in range(len(self.lhs))]
        raw = self.df.select(
            *_aliased_keys(self.lhs, "__x", self.null_mode),
            *[F.col(c) for c in self.lhs],
        ).dropDuplicates(xk_names)
        cond = None
        for k in xk_names:
            c = F.col(f"v.{k}").eqNullSafe(F.col(f"r.{k}"))
            cond = c if cond is None else cond & c
        out = (
            viol.alias("v")
            .join(raw.alias("r"), on=cond, how="inner")
            .select(
                F.col("v.partition_id").alias("partition_id"),
                *[F.col(f"r.{c}") for c in self.lhs],
                F.col("v.cx").alias("cluster_size"),
                F.col("v.n_distinct_y").alias("num_distinct_rhs"),
                (F.col("v.max_y") / F.col("v.cx")).alias(
                    "most_frequent_rhs_proportion"
                ),
            )
        )
        simple = {
            "proportion": [F.col("most_frequent_rhs_proportion")],
            "num": [F.col("num_distinct_rhs")],
            "size": [F.col("cluster_size")],
        }
        if sort_by in simple:
            keys = simple[sort_by]
        elif sort_by == "lhs":
            keys = self._lhs_sort_keys()
        else:
            raise ValueError(f"unknown highlight sort mode: {sort_by}")
        order = [k.asc() if ascending else k.desc() for k in keys]
        return out.orderBy(*order).limit(self.highlight_cap)

    # ----- AFD measure family ------------------------------------------------
    def afd_measures(self) -> DataFrame:
        """g1, g2, pdep, tau, mu+, rho, FI for X->Y, one row (``afd_rollup``)."""
        return afd_rollup(
            self._xy_counts,
            ["partition_id", *[f"__x{i}" for i in range(len(self.lhs))]],
            [f"__y{i}" for i in range(len(self.rhs))],
        )

    def pfd_measures(self) -> DataFrame:
        """Both PFD errors (pfd_stats_calculator.h:47-90) in ONE aggregation
        pass: per_tuple = 1 - sum_x max_y / n, per_value =
        1 - sum_x (max_y/cx) / K, plus violation counts."""
        agg = self._x_level.agg(
            F.sum("cx").alias("n"),
            F.count(F.lit(1)).alias("k_x"),
            F.sum("max_y").alias("sum_max"),
            F.sum(F.col("max_y") / F.col("cx")).alias("sum_max_ratio"),
            F.sum(
                ((F.col("cx") > 1) & (F.col("max_y") != F.col("cx"))).cast("long")
            ).alias("n_violating_clusters"),
            F.sum(F.col("cx") - F.col("max_y")).alias("n_violating_rows"),
        )
        return agg.select(
            (F.lit(1.0) - F.col("sum_max") / F.col("n")).alias("error_per_tuple"),
            (F.lit(1.0) - F.col("sum_max_ratio") / F.col("k_x")).alias(
                "error_per_value"
            ),
            "n_violating_clusters",
            "n_violating_rows",
            "n",
            "k_x",
        )

    def pfd(self, measure: str = "per_tuple") -> DataFrame:
        """One PFD error by name; both come from the same single-pass agg
        (pfd_measures), so calling this twice only re-runs a tiny projection."""
        if measure not in ("per_tuple", "per_value"):
            raise ValueError(f"unknown PFD measure: {measure}")
        m = self.pfd_measures()
        return m.select(
            F.col(f"error_{measure}").alias("error"),
            "n_violating_clusters",
            "n_violating_rows",
            "n",
            "k_x",
        )


def fd_check(
    df: DataFrame,
    lhs: list[str],
    rhs: list[str],
    num_partitions: int = 64,
    null_mode: NullMode = NullMode.EQUAL,
    highlight_cap: int = 100,
    repartition_by_lhs: bool = True,
) -> FDCheck:
    return FDCheck(
        df=df,
        lhs=list(lhs),
        rhs=list(rhs),
        num_partitions=num_partitions,
        null_mode=null_mode,
        highlight_cap=highlight_cap,
        repartition_by_lhs=repartition_by_lhs,
    )


def afd_measures(
    df: DataFrame, lhs: list[str], rhs: list[str], **kw
) -> DataFrame:
    return fd_check(df, lhs, rhs, **kw).afd_measures()


def pfd_check(
    df: DataFrame, lhs: list[str], rhs: list[str], measure: str = "per_tuple", **kw
) -> DataFrame:
    return fd_check(df, lhs, rhs, **kw).pfd(measure)
