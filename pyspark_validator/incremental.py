"""Incremental (dynamic) validation: apply insert/delete delta batches without
recomputing validated partitions.

Reference precedent: DynamicFDVerifier / DynPLI keep a cluster map keyed by value
and apply batch inserts/deletes to it (fd/fd_verifier/dynamic_fd_verifier.h:20-45,
dynamic_position_list_index.h:32-34). The distributed analog keeps the PLI-level
*count state* -- (partition_id, key..., cnt) for UCC, (partition_id, x..., y...,
ycnt) for FD -- as an append-only log of signed counts
(``checkpoint.StateLog``):

  initialize:  one base batch of per-key counts.
  apply_delta: one batch of the delta's signed per-key counts (+1 per insert,
               -1 per delete; one small shuffle). Nothing already stored is
               read or rewritten, so the write cost of a delta is the delta.
  read:        the live batches of the requested partitions only (a
               ``partition_id`` partition filter), merged as ``sum(cnt)`` per
               key; keys whose sum is 0 are gone. Verdicts derive from that
               merge with the same rollups as the batch checks.
  compact:     folds the log into a new base.

Counts are signed and sums commute, so base + deltas equals the count state of
the post-delta table (KLL+-'s argument for signed mergeable updates). Deletes
must reference existing rows: DynPLI's precondition, and the engine does not
re-derive row existence from the aggregated state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_validator.canonical import partition_id_expr
from pyspark_validator.checkpoint import StateLog
from pyspark_validator.checks.fd import afd_rollup, fd_rollup, fd_x_level
from pyspark_validator.checks.ucc import ucc_rollup


class _IncrementalCounts:
    """Per-key count state ``(partition_id, key..., <cnt>)`` under delta
    batches, shared by IncrementalUCC and IncrementalFD. ``partition_cols``
    decide the logical partition, ``key_cols`` the counted key."""

    cnt = "cnt"

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        partition_cols: list[str],
        key_cols: list[str],
        num_partitions: int,
    ):
        self.spark = spark
        self.num_partitions = num_partitions
        self._pcols = partition_cols
        self._kcols = key_cols
        # an empty state has no key values, so its key columns' type is moot
        self.state = StateLog(
            spark,
            state_path,
            T.StructType(
                [
                    T.StructField("partition_id", T.IntegerType()),
                    *[T.StructField(c, T.StringType()) for c in key_cols],
                    T.StructField(self.cnt, T.LongType()),
                ]
            ),
        )

    def _counts(self, df: DataFrame, sign: int) -> DataFrame:
        return df.select(
            partition_id_expr(
                F.struct(*[F.col(c) for c in self._pcols]), self.num_partitions
            ).alias("partition_id"),
            *[F.col(c) for c in self._kcols],
            F.lit(sign).cast("long").alias(self.cnt),
        )

    def _sum(self, signed: DataFrame) -> DataFrame:
        return signed.groupBy("partition_id", *self._kcols).agg(
            F.sum(self.cnt).alias(self.cnt)
        )

    def _fold(self, signed: DataFrame) -> DataFrame:
        return self._sum(signed).where(F.col(self.cnt) > 0)

    def counts(self, partition_ids: list[int] | None = None) -> DataFrame:
        """The merged count state, of ``partition_ids`` only when given."""
        return self._fold(self.state.read(partition_ids))

    def initialize(self, df: DataFrame) -> None:
        self.state.append(self._sum(self._counts(df, 1)), base=True)

    def apply_delta(
        self, inserts: DataFrame | None = None, deletes: DataFrame | None = None
    ) -> DataFrame:
        """Append a delta batch's signed counts; returns the NEW verdicts of
        the touched partitions (untouched partitions keep their recorded
        verdicts)."""
        parts = [
            self._counts(df, sign)
            for df, sign in ((inserts, 1), (deletes, -1))
            if df is not None
        ]
        if not parts:
            raise ValueError("apply_delta needs inserts and/or deletes")
        signed = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        touched = self.state.append(self._sum(signed))
        return self.verdicts(partition_ids=touched)

    def compact(self) -> None:
        """Fold the log into one new base (see ``StateLog.compact``)."""
        self.state.compact(self._fold)


class IncrementalUCC(_IncrementalCounts):
    """Dynamic UCC: maintain per-key cluster counts; verdicts from state only."""

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        columns: list[str],
        num_partitions: int = 64,
    ):
        self.columns = list(columns)
        super().__init__(
            spark, state_path, self.columns, self.columns, num_partitions
        )

    def verdicts(self, partition_ids: list[int] | None = None) -> DataFrame:
        """Per-partition UCC verdicts derived purely from state (same fields as
        UCCCheck.verdicts)."""
        return ucc_rollup(self.counts(partition_ids))


class IncrementalFD(_IncrementalCounts):
    """Dynamic FD: maintain (X, Y)-level counts; verdicts from state only
    (DynamicFDVerifier analog: only touched X-groups are re-judged)."""

    cnt = "ycnt"

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        lhs: list[str],
        rhs: list[str],
        num_partitions: int = 64,
    ):
        self.lhs = list(lhs)
        self.rhs = list(rhs)
        # rhs may overlap lhs (the reference permits e.g. {0,1} -> {1,4});
        # select/group on the unique union
        cols = list(dict.fromkeys(self.lhs + self.rhs))
        super().__init__(spark, state_path, self.lhs, cols, num_partitions)

    def afd_measures(self) -> DataFrame:
        """g1 / pdep / tau / mu+ / rho recomputed from the count state after any
        number of delta batches (DynamicAFD analog: the reference's
        dynamic_verifying_afd example re-reads measures after each batch).
        All marginals derive from the stored (X, Y)-level counts -- no rescan
        of the data."""
        return afd_rollup(self.counts(), ["partition_id", *self.lhs], self.rhs)

    def verdicts(self, partition_ids: list[int] | None = None) -> DataFrame:
        """Per-partition FD verdicts from state (same fields as FDCheck.verdicts)."""
        s = self.counts(partition_ids)
        return fd_rollup(fd_x_level(s, ["partition_id", *self.lhs]))
