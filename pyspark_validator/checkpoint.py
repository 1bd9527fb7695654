"""Checkpoint manifest + resume: a killed validation job continues without
recomputing validated partitions.

Semantic precedent: the reference's dynamic verifiers update results incrementally
instead of recomputing (dynamic_fd_verifier.h:20-45, dynamic_position_list_index.h:32-34).
Our distributed analog is lineage-based: every completed (check_id, snapshot_id,
partition_id) is recorded with its metrics in an append-only parquet manifest
(Iceberg-manifest shaped: on a real deployment this table IS an Iceberg table and
snapshot_id is the source table's snapshot id). Resume reads the manifest once per
run into a driver-side {check_id -> {partition_id -> status}} map (``recorded``:
one filtered collect of P rows per check) and cuts the pending work with a literal
``partition_id IN (...)`` list, so a check with nothing pending costs no Spark job.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("check_id", T.StringType()),
        T.StructField("snapshot_id", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("status", T.StringType()),  # 'ok' | 'violated'
        T.StructField("metrics_json", T.StringType()),
        T.StructField("completed_at", T.DoubleType()),
    ]
)


class CheckpointManager:
    """Append-only per-partition lineage manifest."""

    def __init__(self, spark: SparkSession, path: str, run_id: str | None = None):
        self.spark = spark
        self.path = path
        self.run_id = run_id or uuid.uuid4().hex[:12]

    def manifest(self) -> DataFrame:
        # recursiveFileLookup: appends land in per-write batch subdirectories
        # (see record_verdicts) so concurrent writers never share a path; the
        # reader flattens them (no partition inference -- the manifest has no
        # key=value layout). ignoreCorruptFiles: a writer killed mid-commit
        # can leave a torn part-file; manifest rows are redundant completion
        # facts, so dropping a torn file merely re-queues those partitions on
        # resume -- strictly safer than poisoning every future manifest read
        # (the lazy read would otherwise throw at EXECUTION time, outside
        # this try/except, on every resume forever).
        try:
            return (
                self.spark.read.schema(MANIFEST_SCHEMA)
                .option("recursiveFileLookup", "true")
                .option("ignoreCorruptFiles", "true")
                .parquet(self.path)
            )
        except Exception:
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)

    def completed_partitions(self, check_id: str, snapshot_id: str) -> DataFrame:
        done = self.recorded(snapshot_id, [check_id]).get(check_id, {})
        return self.spark.createDataFrame(
            [(p,) for p in sorted(done)], "partition_id int"
        )

    def recorded(
        self, snapshot_id: str, check_ids: list[str]
    ) -> dict[str, dict[int, str]]:
        """{check_id -> {partition_id -> status}} recorded for one snapshot,
        from one filtered collect of the manifest (one Spark job, no shuffle;
        P rows per check). A partition recorded more than once keeps its
        latest status, the last-wins rule of ``metric_history``; within one
        batch (rows sharing ``completed_at``, e.g. a schema check's one row
        per column, all partition 0) a violated row wins."""
        rows = (
            self.manifest()
            .filter(
                (F.col("snapshot_id") == snapshot_id)
                & F.col("check_id").isin(check_ids)
            )
            .select("check_id", "partition_id", "status", "completed_at")
            .collect()
        )
        out: dict[str, dict[int, str]] = {}
        for r in sorted(rows, key=lambda r: (r.completed_at, r.status == "violated")):
            out.setdefault(r.check_id, {})[r.partition_id] = r.status
        return out

    def filter_pending(
        self,
        df: DataFrame,
        check_id: str,
        snapshot_id: str,
        partition_col: str = "partition_id",
    ) -> DataFrame:
        """Drop rows whose logical partition is already validated for this
        (check, snapshot): a literal NOT IN over the recorded partition ids."""
        done = self.recorded(snapshot_id, [check_id]).get(check_id)
        return df.where(~F.col(partition_col).isin(sorted(done))) if done else df

    def record_verdicts(
        self,
        check_id: str,
        snapshot_id: str,
        verdicts: DataFrame,
        holds_col: str = "holds",
        partition_col: str = "partition_id",
    ) -> None:
        """Append one manifest row per partition verdict; all other verdict
        columns are preserved as a JSON metrics blob (per-check metrics lineage)."""
        metric_cols = [
            c for c in verdicts.columns if c not in (partition_col, holds_col)
        ]
        out = verdicts.select(
            F.lit(self.run_id).alias("run_id"),
            F.lit(check_id).alias("check_id"),
            F.lit(snapshot_id).alias("snapshot_id"),
            F.col(partition_col).cast("int").alias("partition_id"),
            F.when(F.col(holds_col), F.lit("ok")).otherwise(F.lit("violated")).alias(
                "status"
            ),
            F.to_json(F.struct(*[F.col(c) for c in metric_cols])).alias(
                "metrics_json"
            ),
            F.lit(time.time()).alias("completed_at"),
        )
        # Unique batch subdirectory per append instead of mode("append") on
        # the root: two concurrent suite runs (or a cluster retry racing its
        # zombie predecessor) otherwise share one _temporary staging dir, and
        # the first job commit can delete the other's uncommitted task files.
        # Disjoint directories make concurrent appends conflict-free with NO
        # lock: the manifest's merge semantics are pure union (append-only
        # completion facts; metric_history already resolves re-validated
        # partitions by latest completed_at -- documented last-wins). A
        # writer crashing mid-job leaves only its own batch dir's _temporary,
        # which every reader ignores.
        out.write.parquet(f"{self.path}/batch-{uuid.uuid4().hex[:16]}")

    # ---- cross-snapshot monitoring over the recorded lineage ---------------
    #
    # The manifest is already the engine's metrics time-series: one row per
    # (check, snapshot, partition) with every verdict metric in metrics_json.
    # These readers turn that lineage into snapshot-over-snapshot regression
    # detection. Everything here joins P-row frames (per check) -- cost is
    # independent of source-table size at any scale.

    def snapshots(self, check_id: str) -> list[str]:
        """Snapshot ids recorded for a check, oldest first (by completion)."""
        rows = (
            self.manifest()
            .filter(F.col("check_id") == check_id)
            .groupBy("snapshot_id")
            .agg(F.max("completed_at").alias("t"))
            .orderBy("t")
            .collect()
        )
        return [r.snapshot_id for r in rows]

    def metric_history(self, check_id: str, metric: str) -> DataFrame:
        """One row per (snapshot_id, partition_id) with ``metric`` pulled out
        of metrics_json as a double; if a partition was re-validated within a
        snapshot, the latest record wins."""
        from pyspark.sql import Window

        w = Window.partitionBy("snapshot_id", "partition_id").orderBy(
            F.col("completed_at").desc()
        )
        return (
            self.manifest()
            .filter(F.col("check_id") == check_id)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "snapshot_id",
                "partition_id",
                "status",
                F.get_json_object("metrics_json", f"$.{metric}")
                .cast("double")
                .alias(metric),
                "completed_at",
            )
        )

    def metric_regressions(
        self,
        check_id: str,
        metric: str,
        baseline_snapshot: str,
        current_snapshot: str,
        max_rel_change: float = 0.1,
        min_abs_change: float = 0.0,
    ) -> DataFrame:
        """Per-partition drift of a recorded metric between two snapshots.

        A partition regresses when |current - baseline| exceeds BOTH
        ``min_abs_change`` and ``max_rel_change * |baseline|`` (the abs floor
        mutes rel-change noise on near-zero baselines). Partitions present in
        only one snapshot surface with a NULL other side and regressed=true --
        a vanished or newborn partition is itself a signal."""
        h = self.metric_history(check_id, metric)
        base = h.filter(F.col("snapshot_id") == baseline_snapshot).select(
            "partition_id",
            F.col(metric).alias("baseline"),
            F.col("status").alias("baseline_status"),
        )
        cur = h.filter(F.col("snapshot_id") == current_snapshot).select(
            "partition_id",
            F.col(metric).alias("current"),
            F.col("status").alias("current_status"),
        )
        j = base.join(cur, "partition_id", "full_outer")
        abs_change = F.abs(F.col("current") - F.col("baseline"))
        rel_change = F.when(
            F.col("baseline") != 0.0, abs_change / F.abs(F.col("baseline"))
        )
        one_sided = F.col("baseline").isNull() | F.col("current").isNull()
        moved = (abs_change > F.lit(min_abs_change)) & (
            F.coalesce(
                rel_change > F.lit(max_rel_change),
                # zero baseline: any move past the abs floor counts
                F.lit(True),
            )
        )
        status_flip = (
            F.col("baseline_status").isNotNull()
            & F.col("current_status").isNotNull()
            & (F.col("baseline_status") != F.col("current_status"))
        )
        return j.select(
            "partition_id",
            "baseline",
            "current",
            abs_change.alias("abs_change"),
            rel_change.alias("rel_change"),
            "baseline_status",
            "current_status",
            (one_sided | F.coalesce(moved, F.lit(False)) | status_flip).alias(
                "regressed"
            ),
        )


SKETCH_SCHEMA = T.StructType(
    [
        T.StructField("snapshot_id", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("hll", T.BinaryType()),
        T.StructField("cms", T.BinaryType()),
        T.StructField("kll", T.BinaryType()),
        T.StructField("n", T.LongType()),
        T.StructField("n_null", T.LongType()),
        T.StructField("hll_p", T.IntegerType()),
        T.StructField("cms_depth", T.IntegerType()),
        T.StructField("cms_width", T.IntegerType()),
        T.StructField("recorded_at", T.DoubleType()),
    ]
)


class SketchStore:
    """Persist per-snapshot column sketch profiles (sketches.sketch_profile)
    and combine them WITHOUT rescanning old data.

    This closes the north star's sketch lifecycle: profiles are mergeable, so
    the cumulative profile of an append-only table is the merge of its
    per-snapshot sketches -- each new snapshot costs one scan of the DELTA,
    never of history -- and distribution drift between any two snapshots is a
    KS test on their stored KLLs (drift.kll_ks_compare), zero scans."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _frame(self) -> DataFrame:
        # same crash/concurrency contract as CheckpointManager.manifest
        try:
            return (
                self.spark.read.schema(SKETCH_SCHEMA)
                .option("recursiveFileLookup", "true")
                .option("ignoreCorruptFiles", "true")
                .parquet(self.path)
            )
        except Exception:
            return self.spark.createDataFrame([], SKETCH_SCHEMA)

    def record(self, snapshot_id: str, profiles: dict) -> None:
        rows = [
            (
                snapshot_id,
                c,
                s.hll.to_bytes(),
                s.cms.to_bytes(),
                s.kll.to_bytes() if s.kll is not None else None,
                s.n,
                s.n_null,
                s.hll.p,
                s.cms.depth,
                s.cms.width,
                time.time(),
            )
            for c, s in profiles.items()
        ]
        self.spark.createDataFrame(rows, SKETCH_SCHEMA).write.parquet(
            f"{self.path}/batch-{uuid.uuid4().hex[:16]}"
        )

    def load(self, snapshot_id: str) -> dict:
        """dict[column -> ColumnSketches] for one snapshot (latest record per
        column wins)."""
        from pyspark_validator.sketches import CMS, HLL, KLL, ColumnSketches

        import numpy as np

        rows = (
            self._frame()
            .filter(F.col("snapshot_id") == snapshot_id)
            .orderBy("recorded_at")
            .collect()
        )
        out = {}
        for r in rows:  # later records overwrite earlier (orderBy asc)
            out[r.column] = ColumnSketches(
                column=r.column,
                hll=HLL.from_bytes(r.hll, r.hll_p),
                cms=CMS(
                    r.cms_depth,
                    r.cms_width,
                    np.frombuffer(r.cms, dtype=np.int64)
                    .reshape(r.cms_depth, r.cms_width)
                    .copy(),
                    int(r.n) - int(r.n_null),
                ),
                kll=KLL.from_bytes(r.kll) if r.kll is not None else None,
                n=int(r.n),
                n_null=int(r.n_null),
            )
        return out

    def merged(self, snapshot_ids: list[str]) -> dict:
        """Cumulative profile across snapshots by pure sketch algebra: HLL
        register max, CMS table add, KLL merge, exact count sums. For an
        append-only table this equals profiling the union -- at delta cost."""
        from pyspark_validator.sketches import ColumnSketches

        acc: dict = {}
        for sid in snapshot_ids:
            for c, s in self.load(sid).items():
                if c not in acc:
                    acc[c] = s
                else:
                    a = acc[c]
                    acc[c] = ColumnSketches(
                        column=c,
                        hll=a.hll.merge(s.hll),
                        cms=a.cms.merge(s.cms),
                        kll=(
                            a.kll.merge(s.kll)
                            if a.kll is not None and s.kll is not None
                            else a.kll or s.kll
                        ),
                        n=a.n + s.n,
                        n_null=a.n_null + s.n_null,
                    )
        return acc

    def ks_drift(
        self, column: str, snapshot_a: str, snapshot_b: str,
        ks_threshold: float = 0.1,
    ) -> dict:
        """Numeric drift between two recorded snapshots from their stored
        KLLs alone -- no data scan."""
        from pyspark_validator.checks.drift import kll_ks_compare

        a = self.load(snapshot_a).get(column)
        b = self.load(snapshot_b).get(column)
        if a is None or b is None or a.kll is None or b.kll is None:
            raise ValueError(
                f"no stored KLL for {column!r} in both snapshots"
            )
        return kll_ks_compare(a.kll, b.kll, ks_threshold=ks_threshold)
