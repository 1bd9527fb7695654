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

All three stores -- this manifest, ``SketchStore`` and the incremental engines'
state -- are batch logs (``BatchLog``, ``StateLog``): a batch is one Spark write
into a fresh directory, published by the Hadoop job commit and never modified
afterwards, and a read is the union of the committed batches.
"""

from __future__ import annotations

import time
import uuid
from typing import Callable

from pyspark.errors import AnalysisException
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


class BatchLog:
    """Append-only log of parquet batches under one root, on any Hadoop path.

    ``append`` writes one batch into a fresh ``batch-<uuid>`` directory
    instead of ``mode("append")`` on the root: two concurrent writers (or a
    cluster retry racing its zombie predecessor) would otherwise share one
    ``_temporary`` staging dir, and the first job commit can delete the
    other's uncommitted task files. Disjoint directories make concurrent
    appends conflict-free with no lock, and a writer killed mid-job leaves
    only its own batch dir's ``_temporary``, which every reader ignores.

    ``read`` is the union of every batch (``recursiveFileLookup``: the
    batch dirs carry no key=value layout). ``ignoreCorruptFiles``: a writer
    killed mid-commit can leave a torn part-file; the manifest's rows are
    redundant completion facts, so dropping a torn file merely re-queues
    those partitions on resume -- strictly safer than poisoning every future
    read (the lazy read would otherwise throw at execution time, on every
    resume forever). A missing root reads as an empty frame."""

    def __init__(
        self, spark: SparkSession, path: str, schema: T.StructType | None
    ):
        self.spark = spark
        self.path = path
        self.schema = schema

    def _reader(self):
        reader = self.spark.read.option("ignoreCorruptFiles", "true")
        return reader if self.schema is None else reader.schema(self.schema)

    def append(self, df: DataFrame) -> None:
        df.write.parquet(f"{self.path}/batch-{uuid.uuid4().hex[:16]}")

    def read(self) -> DataFrame:
        try:
            return self._reader().option("recursiveFileLookup", "true").parquet(
                self.path
            )
        except Exception:
            return self.spark.createDataFrame([], self.schema)


class StateLog(BatchLog):
    """The incremental engines' state: a ``BatchLog`` whose batches are
    ordered, partitioned by ``partition_id`` and folded on read.

    Layout: ``batch=<seq>-<base|delta>/partition_id=<p>/part-*.parquet``.
    ``seq`` is one more than the highest on disk, so ids sort in commit
    order (one writer per state). A batch is committed once its Hadoop job
    commit wrote ``_SUCCESS``. The state is the newest committed base plus
    the committed batches after it; the caller folds those rows (sums of
    signed counts, merges of partials). ``compact`` writes that fold as a new
    base and only then deletes the batches it supersedes, so a kill at any
    point leaves either the old state or the new one, never a double count.
    ``read(partition_ids)`` is a partition filter on the ``partition_id``
    directories: no other partition's files are opened.

    ``empty`` types a read of a state that holds no data file at all. The
    schema of the last batch written or read is kept, so later reads infer
    nothing."""

    def __init__(self, spark: SparkSession, path: str, empty: T.StructType):
        super().__init__(spark, path, None)
        self.empty = empty

    def _fs_path(self, rel: str):
        """(Hadoop FileSystem, Path) of ``rel`` under the root."""
        path = self.spark._jvm.org.apache.hadoop.fs.Path(f"{self.path}/{rel}")
        return path.getFileSystem(self.spark._jsc.hadoopConfiguration()), path

    def _glob(self, pattern: str) -> list:
        """Hadoop paths under the root matching ``pattern`` (one glob)."""
        fs, path = self._fs_path(pattern)
        return [st.getPath() for st in fs.globStatus(path) or []]

    def _ids(self, committed: bool) -> list[str]:
        """Sorted batch ids on disk; with ``committed`` only those whose job
        commit finished."""
        paths = (
            [p.getParent() for p in self._glob("batch=*/_SUCCESS")]
            if committed
            else self._glob("batch=*")
        )
        return sorted(p.getName().split("=", 1)[1] for p in paths)

    def live_batches(self) -> list[str]:
        """Ids of the newest committed base and of the committed batches
        after it; empty while no base has committed."""
        ids = self._ids(committed=True)
        bases = [i for i in ids if i.endswith("-base")]
        return [i for i in ids if i >= bases[-1]] if bases else []

    def append(self, df: DataFrame, base: bool = False) -> list[int]:
        """Write ``df`` as the next batch (``base``: a full state that
        supersedes every earlier batch); returns the partition ids it holds,
        from one listing of the new directory."""
        ids = self._ids(committed=False)
        seq = int(ids[-1].split("-")[0]) + 1 if ids else 0
        batch = f"batch={seq:012d}-{'base' if base else 'delta'}"
        df.write.partitionBy("partition_id").parquet(f"{self.path}/{batch}")
        self.schema = T.StructType(
            [*df.schema.fields, T.StructField("batch", T.StringType())]
        )
        return sorted(
            int(p.getName().split("=", 1)[1])
            for p in self._glob(f"{batch}/partition_id=*")
        )

    def read(self, partition_ids: list[int] | None = None) -> DataFrame:
        """The live batches' rows, unfolded; only ``partition_ids``' files
        when given."""
        live = self.live_batches()
        if not live:
            raise ValueError(f"no state at {self.path}; call initialize() first")
        try:
            df = self._reader().parquet(self.path)
        except AnalysisException:  # no data file to infer the schema from
            return self.spark.createDataFrame([], self.empty)
        self.schema = df.schema
        df = df.where(F.col("batch").isin(live))
        if partition_ids is not None:
            df = df.where(F.col("partition_id").isin(partition_ids))
        return df.drop("batch")

    def compact(self, fold: Callable[[DataFrame], DataFrame]) -> None:
        """Fold the live batches into a new base (``fold`` maps the unfolded
        rows to the state), then delete every batch before it. A state that
        is only its base writes nothing; one without a base is left as is."""
        live = self.live_batches()
        if len(live) > 1:
            self.append(fold(self.read()), base=True)
            live = self.live_batches()
        for batch in self._ids(committed=False):
            if live and batch < live[0]:
                self._delete(batch)

    def _delete(self, batch: str) -> None:
        fs, path = self._fs_path(f"batch={batch}")
        fs.delete(path, True)


class CheckpointManager:
    """Append-only per-partition lineage manifest."""

    def __init__(self, spark: SparkSession, path: str, run_id: str | None = None):
        self.spark = spark
        self.path = path
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.log = BatchLog(spark, path, MANIFEST_SCHEMA)

    def manifest(self) -> DataFrame:
        return self.log.read()

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
        self.log.append(out)

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
        T.StructField("format", T.IntegerType()),
    ]
)

#: Image format of stored sketches. 2: DataSketches HLL/KLL and Spark
#: CountMinSketch images. Rows without a format hold the numpy images of
#: earlier versions, which no reader decodes.
SKETCH_FORMAT = 2


class SketchStore:
    """Persist per-snapshot column sketch profiles (sketches.sketch_profile)
    and combine them WITHOUT rescanning old data.

    This closes the north star's sketch lifecycle: profiles are mergeable, so
    the cumulative profile of an append-only table is the merge of its
    per-snapshot sketches -- each new snapshot costs one scan of the DELTA,
    never of history -- and distribution drift between any two snapshots is a
    KS test on their stored KLLs (drift.kll_ks_compare), zero scans.

    Every row carries its image ``format``; readers raise ``ValueError``
    naming the snapshots whose latest rows are in another format."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.log = BatchLog(spark, path, SKETCH_SCHEMA)

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
                SKETCH_FORMAT,
            )
            for c, s in profiles.items()
        ]
        self.log.append(self.spark.createDataFrame(rows, SKETCH_SCHEMA))

    def _latest(self, snapshot_ids: list[str], column: str | None = None) -> dict:
        """{(snapshot_id, column) -> ColumnSketches} from the latest record
        of each, in one Spark job."""
        ok = _current_format()
        stored = self.log.read().filter(F.col("snapshot_id").isin(snapshot_ids))
        if column is not None:
            stored = stored.filter(F.col("column") == column)
        rows = stored.select(
            "*",
            # guarded: older rows hold bytes these functions cannot decode
            F.when(ok, F.hll_sketch_estimate("hll")).alias("estimate"),
            F.when(ok, F.kll_sketch_get_n_double("kll")).alias("kll_n"),
            (~ok).alias("stale"),
        ).collect()
        latest = {}
        for r in sorted(rows, key=lambda r: r.recorded_at):
            latest[r.snapshot_id, r.column] = r
        _require_current({s for (s, _), r in latest.items() if r.stale})
        return {k: _column_sketches(r, bytes(r.cms)) for k, r in latest.items()}

    def load(self, snapshot_id: str) -> dict:
        """dict[column -> ColumnSketches] for one snapshot (latest record per
        column wins)."""
        return {c: s for (_, c), s in self._latest([snapshot_id]).items()}

    def merged(self, snapshot_ids: list[str]) -> dict:
        """Cumulative profile across snapshots by pure sketch algebra, in one
        Spark aggregation over the stored rows (latest record per snapshot
        and column): ``hll_union_agg``, ``kll_merge_agg_double`` and exact
        count sums; the Count-Min images add in the JVM
        (``CountMinSketch.mergeInPlace``). For an append-only table this
        equals profiling the union -- at delta cost."""
        from pyspark_validator.sketches import merge_count_min

        stored = self.log.read().filter(F.col("snapshot_id").isin(snapshot_ids))
        ok = _current_format()
        hll = F.hll_union_agg(F.when(ok, F.col("hll")))
        kll = F.kll_merge_agg_double(F.when(ok, F.col("kll")))
        rows = (
            stored.groupBy("snapshot_id", "column")
            .agg(F.max_by(F.struct(*stored.columns), "recorded_at").alias("r"))
            .select("r.*")
            .groupBy("column")
            .agg(
                F.collect_set(F.when(~ok, F.col("snapshot_id"))).alias("stale"),
                hll.alias("hll"),
                F.hll_sketch_estimate(hll).alias("estimate"),
                kll.alias("kll"),
                F.kll_sketch_get_n_double(kll).alias("kll_n"),
                F.collect_list(F.when(ok, F.col("cms"))).alias("cms"),
                F.sum("n").alias("n"),
                F.sum("n_null").alias("n_null"),
                F.max("hll_p").alias("hll_p"),
                F.max("cms_depth").alias("cms_depth"),
                F.max("cms_width").alias("cms_width"),
            )
            .collect()
        )
        _require_current(set().union(*(r.stale for r in rows)))
        return {
            r.column: _column_sketches(r, merge_count_min([bytes(b) for b in r.cms]))
            for r in rows
        }

    def ks_drift(
        self, column: str, snapshot_a: str, snapshot_b: str,
        ks_threshold: float = 0.1,
    ) -> dict:
        """Numeric drift between two recorded snapshots from their stored
        KLLs alone -- no data scan."""
        from pyspark_validator.checks.drift import kll_ks_compare

        stored = self._latest([snapshot_a, snapshot_b], column)
        a = stored.get((snapshot_a, column))
        b = stored.get((snapshot_b, column))
        if a is None or b is None or a.kll is None or b.kll is None:
            raise ValueError(
                f"no stored KLL for {column!r} in both snapshots"
            )
        return kll_ks_compare(a.kll, b.kll, ks_threshold=ks_threshold)


def _current_format():
    """True for stored rows in ``SKETCH_FORMAT``; False (never NULL) else."""
    return F.coalesce(F.col("format") == F.lit(SKETCH_FORMAT), F.lit(False))


def _require_current(stale: set) -> None:
    if stale:
        raise ValueError(
            f"sketch store rows of snapshot(s) {', '.join(sorted(stale))} are "
            f"not in sketch format {SKETCH_FORMAT} (written by an earlier "
            "version); re-profile them with sketch_profile and record them again"
        )


def _column_sketches(r, cms: bytes):
    """One stored or merged row (with its ``estimate`` and ``kll_n``) as
    ``ColumnSketches``."""
    from pyspark_validator.sketches import CmsImage, ColumnSketches, HllImage, KllImage

    n, n_null = int(r.n), int(r.n_null)
    return ColumnSketches(
        column=r.column,
        hll=HllImage(bytes(r.hll), r.hll_p, float(r.estimate)),
        cms=CmsImage(cms, r.cms_depth, r.cms_width, n - n_null),
        kll=KllImage(bytes(r.kll), int(r.kll_n)) if r.kll_n else None,
        n=n,
        n_null=n_null,
    )
