"""Uniqueness (UCC) validation.

Reference semantics (ucc/ucc_verifier/ucc_verifier.cpp:46-59 + ucc_stats_calculator.h:31-73):
  * UCC(cols) holds  <=>  the PLI over cols has no cluster of size >= 2.
  * num_violating_clusters = #clusters with size >= 2
  * num_violating_rows     = sum of their sizes
  * AUCC error             = sum(c * (c-1)) / (n * (n-1))   [n>1; 0-safe]

Spark design (SURVEY.md section 2.7): the PLI build is exactly ``groupBy(cols).count()``
-- ONE hash shuffle keyed by the checked columns. The per-partition verdict rollup
(groupBy(partition_id)) is algebraic, so Catalyst's partial (map-side) aggregation
pre-collapses every task's rows to <= P rows before the second exchange: no skew
regardless of how hot a partition is. Violation collection is a separate, gated pass
(reference precedent: early-exit at fd_verifier.cpp:59-62) that semi-joins only the
violating keys and caps the per-cluster row sample.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_validator.canonical import NullMode, null_safe_key, partition_id_expr


def _key_cols(
    df: DataFrame,
    columns: list[str],
    null_mode: NullMode,
    row_uid: Column | None,
) -> list[Column]:
    return [
        null_safe_key(F.col(c), null_mode, row_uid).alias(f"__k_{i}")
        for i, c in enumerate(columns)
    ]


def _aucc_error() -> Column:
    n = F.col("n_rows")
    return F.when(n > 1, F.col("violating_pairs") / (n * (n - F.lit(1)))).otherwise(
        F.lit(0.0)
    )


def ucc_rollup(counts: DataFrame, cnt: str = "cnt") -> DataFrame:
    """Per-partition UCC verdicts from a cluster-count frame
    ``(partition_id, key..., <cnt>)``: [partition_id, n_rows, n_distinct,
    n_violating_clusters, n_violating_rows, violating_pairs, aucc_error,
    holds]. Shared by UCCCheck and incremental.IncrementalUCC.

    ``violating_pairs`` = sum c*(c-1) (ordered pairs, reference numerator);
    ``aucc_error`` uses the partition-local n. Algebraic aggs only =>
    map-side partial aggregation => skew-immune.
    """
    c = F.col(cnt)
    viol = c > 1
    return (
        counts.groupBy("partition_id")
        .agg(
            F.sum(c).alias("n_rows"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(viol.cast("long")).alias("n_violating_clusters"),
            F.sum(F.when(viol, c).otherwise(0)).alias("n_violating_rows"),
            F.sum(c * (c - 1)).alias("violating_pairs"),
        )
        .withColumn("aucc_error", _aucc_error())
        .withColumn("holds", F.col("n_violating_clusters") == 0)
    )


@dataclass
class UCCCheck:
    """Lazy UCC check over ``df`` on ``columns``.

    All members are lazy DataFrames; nothing executes until the caller acts.
    ``summary()`` / ``verdicts()`` never collect clusters; ``violations()`` is the
    only cluster-materializing path and is capped.
    """

    df: DataFrame
    columns: list[str]
    num_partitions: int = 64
    null_mode: NullMode = NullMode.EQUAL
    partition_key: str | None = None  # defaults to the checked columns themselves
    row_ref: str | None = None  # column identifying rows in violation output
    violation_cap: int = 20
    _keys: list[Column] = field(init=False, repr=False)

    def __post_init__(self) -> None:
        if not self.columns:
            raise ValueError("ucc_check requires at least one column")
        self._keys = _key_cols(self.df, self.columns, self.null_mode, None)

    @cached_property
    def _partition_col(self) -> Column:
        if self.partition_key is not None:
            return partition_id_expr(self.partition_key, self.num_partitions)
        # partition on the checked key itself => every cluster lives wholly in one
        # logical partition => per-partition verdicts are exact, not approximations.
        return F.pmod(
            F.xxhash64(*[F.col(c) for c in self.columns]), F.lit(self.num_partitions)
        ).cast("int")

    @cached_property
    def cluster_counts(self) -> DataFrame:
        """PLI analog: one row per distinct key with its cluster size.

        groupBy(key).count() == PLI::CreateFor (position_list_index.cpp:36-74); we
        keep ALL groups here (singletons included) because n and num-distinct come
        from the same pass; violating clusters are the cnt>1 subset.
        """
        return (
            self.df.select(
                self._partition_col.alias("partition_id"), *self._keys
            )
            .groupBy("partition_id", *[f"__k_{i}" for i in range(len(self.columns))])
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    def verdicts(self) -> DataFrame:
        """Per-partition verdicts from the cluster counts (``ucc_rollup``)."""
        return ucc_rollup(self.cluster_counts)

    def summary(self) -> DataFrame:
        """Global verdict (single row), same fields as the reference's getters:
        ucc_holds / num_violating_clusters / num_violating_rows / aucc_error
        (ucc_stats_calculator.h:47-73)."""
        v = self.verdicts()
        return v.agg(
            (F.sum(F.col("n_violating_clusters")) == 0).alias("holds"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_distinct").alias("n_distinct"),
            F.sum("n_violating_clusters").alias("n_violating_clusters"),
            F.sum("n_violating_rows").alias("n_violating_rows"),
            F.sum("violating_pairs").alias("violating_pairs"),
        ).withColumn("aucc_error", _aucc_error())

    def violations(self) -> DataFrame:
        """Violating clusters with a capped, deterministic row sample.

        Output: [partition_id, <columns...>, cluster_size, sample_rows]. The row
        sample is sorted + sliced to ``violation_cap`` so memory per group is bounded
        at any scale; exact counts always come from ``cluster_size``. Gated: call
        only after a failed verdict (reference early-exit precedent).
        """
        ref_col = self.row_ref or self.columns[0]
        keys = [f"__k_{i}" for i in range(len(self.columns))]
        viol_keys = self.cluster_counts.filter(F.col("cnt") > 1).alias("v")
        tagged = self.df.select(
            self._partition_col.alias("partition_id"),
            *self._keys,
            F.col(ref_col).alias("__ref"),
            *[F.col(c) for c in self.columns],
        ).alias("t")
        # null-safe equality: a NULL-valued cluster (NullMode.EQUAL) must still join
        cond = F.col("t.partition_id") == F.col("v.partition_id")
        for k in keys:
            cond = cond & F.col(f"t.{k}").eqNullSafe(F.col(f"v.{k}"))
        joined = tagged.join(viol_keys, on=cond, how="inner").select(
            "t.partition_id", *[F.col(f"t.{c}") for c in self.columns], "t.__ref", "v.cnt"
        )
        # salted two-phase capped collect (the north star's "salted, skew-aware
        # shuffle"): collect_list is NOT algebraic, so a hot cluster (one key
        # with 10^9 rows) would funnel into a single task's buffer. Phase 1
        # groups by (key, salt) and caps each partial sample; phase 2 merges
        # <= SALT capped arrays and re-caps. Worst-case per-key memory:
        # SALT * cap elements, regardless of cluster size.
        salt_mod = 16
        salted = joined.withColumn(
            "__salt", F.pmod(F.xxhash64("__ref"), F.lit(salt_mod))
        )
        partial = salted.groupBy("partition_id", *self.columns, "__salt").agg(
            F.max("cnt").alias("cnt"),
            F.slice(
                F.sort_array(F.collect_list("__ref")), 1, self.violation_cap
            ).alias("__part"),
        )
        return (
            partial.groupBy("partition_id", *self.columns)
            .agg(
                F.max("cnt").alias("cluster_size"),
                F.slice(
                    F.sort_array(F.flatten(F.collect_list("__part"))),
                    1,
                    self.violation_cap,
                ).alias("sample_rows"),
            )
        )


def ucc_check(
    df: DataFrame,
    columns: list[str],
    num_partitions: int = 64,
    null_mode: NullMode = NullMode.EQUAL,
    partition_key: str | None = None,
    row_ref: str | None = None,
    violation_cap: int = 20,
) -> UCCCheck:
    """Validate a unique column combination. See UCCCheck."""
    return UCCCheck(
        df=df,
        columns=list(columns),
        num_partitions=num_partitions,
        null_mode=null_mode,
        partition_key=partition_key,
        row_ref=row_ref,
        violation_cap=violation_cap,
    )
