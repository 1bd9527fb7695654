"""Incremental (dynamic) validation: apply insert/delete delta batches without
recomputing validated partitions.

Reference precedent: DynamicFDVerifier / DynPLI keep a cluster map keyed by value
and apply batch inserts/deletes to it (fd/fd_verifier/dynamic_fd_verifier.h:20-45,
dynamic_position_list_index.h:32-34). The distributed analog keeps the PLI-level
*count state* -- (partition_id, key..., cnt) for UCC, (partition_id, x..., y...,
ycnt) for FD -- as a versioned parquet table (an Iceberg table + MERGE INTO on a
real deployment):

  apply_delta:
    1. aggregate the delta batch to per-key +/- counts (one small shuffle),
    2. touched logical partitions = distinct partition_id in the delta (tiny),
    3. MERGE: full-outer sum of delta vs ONLY the touched state partitions;
       untouched state files are carried over BY REFERENCE -- the 10^12-row
       state is never re-read or rewritten for a 10^6-row delta,
    4. verdicts are re-derived for touched partitions only.

Versioning is a per-partition file manifest (the local-fs stand-in for an
Iceberg snapshot): ``manifest_v{n}.json`` maps partition_id -> the version
directory holding its current files. apply_delta writes ONLY the touched
``partition_id=`` directories into ``v{n+1}/`` and the new manifest points
untouched partitions at their existing files, so the write cost of a delta is
O(touched partitions), not O(state). Reads resolve the manifest to an explicit
file list (file-level pruning: ``read(partition_ids=...)`` lists only those
partitions' directories -- stronger than parquet partition pruning, nothing
else is even enumerated).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_validator.canonical import partition_id_expr
from pyspark_validator.checks.fd import afd_rollup, fd_rollup, fd_x_level
from pyspark_validator.checks.ucc import ucc_rollup


class _IncrementalState:
    """Versioned, hash-partitioned count-state table on disk.

    Layout (the local-fs stand-in for an Iceberg table + snapshot manifests):
      _meta.json          current version + the state schema (for empty reads)
      manifest_v{n}.json  {partition_id: "v{k}/partition_id={pid}"} -- version n
                          references each partition's CURRENT directory, which
                          may live in any older version dir (carried by ref)
      v{k}/partition_id={pid}/part-*.parquet

    Data files additionally store the partition id as a ``pid`` data column so a
    manifest-resolved multi-path read keeps the column without relying on
    partition-value inference across version directories.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- version bookkeeping (local-fs JSON; an Iceberg catalog at deployment) --
    def _meta_path(self) -> str:
        return os.path.join(self.path, "_meta.json")

    def _meta(self) -> dict:
        try:
            with open(self._meta_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"version": -1}

    def current_version(self) -> int:
        return self._meta()["version"]

    def _save_meta(self, version: int, schema_json: str) -> None:
        os.makedirs(self.path, exist_ok=True)
        with open(self._meta_path(), "w") as f:
            json.dump(
                {"version": version, "schema": schema_json, "updated_at": time.time()},
                f,
            )

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, f"manifest_v{version}.json")

    def manifest(self, version: int | None = None) -> dict[str, str]:
        v = self.current_version() if version is None else version
        if v < 0:
            raise ValueError(f"no state at {self.path}; call initialize() first")
        with open(self._manifest_path(v)) as f:
            return json.load(f)

    def _vdir(self, version: int) -> str:
        return os.path.join(self.path, f"v{version}")

    def _write_version(self, df: DataFrame, version: int) -> dict[str, str]:
        """Write df's rows partitioned by partition_id under v{version}/ and
        return {pid: relative dir} for the directories actually written."""
        out = self._vdir(version)
        (
            df.withColumn("pid", F.col("partition_id"))
            .write.mode("overwrite")
            .partitionBy("partition_id")
            .parquet(out)
        )
        written: dict[str, str] = {}
        for name in os.listdir(out):
            if name.startswith("partition_id="):
                written[name.split("=", 1)[1]] = f"v{version}/{name}"
        return written

    def write_full(self, df: DataFrame) -> int:
        """Full (re)initialization: write every partition into a new version."""
        v = self.current_version() + 1
        written = self._write_version(df, v)
        with open(self._manifest_path(v), "w") as f:
            json.dump(written, f)
        self._save_meta(v, df.schema.json())
        return v

    def write_delta(self, merged: DataFrame, touched: list[int]) -> int:
        """Write ONLY the touched partitions' new contents; every untouched
        partition keeps its existing files, referenced by the new manifest."""
        v = self.current_version() + 1
        prev = self.manifest()
        written = self._write_version(merged, v)
        new_manifest = {
            pid: rel for pid, rel in prev.items() if int(pid) not in set(touched)
        }
        new_manifest.update(written)  # touched partitions that emptied out drop
        with open(self._manifest_path(v), "w") as f:
            json.dump(new_manifest, f)
        self._save_meta(v, self._meta()["schema"])
        return v

    def vacuum(self, keep_last: int = 1) -> dict[str, int]:
        """Garbage-collect old state versions: retain the newest ``keep_last``
        manifests (snapshots), delete older manifest files plus every
        ``partition_id=`` directory that no retained manifest references.
        Retention is reference-based, not age-based: an untouched partition's
        files may live in an arbitrarily old ``v{k}/`` directory and survive
        as long as a retained manifest points at them -- the same contract as
        Iceberg's expire_snapshots + remove_orphan_files pair, which this
        local-fs layout stands in for. Without periodic vacuuming a
        streaming/delta cadence accumulates a version directory per batch.
        Returns {"manifests_deleted": n, "dirs_deleted": n}.
        """
        import shutil

        cur = self.current_version()
        if cur < 0:
            return {"manifests_deleted": 0, "dirs_deleted": 0}
        keep_last = max(1, keep_last)
        versions = sorted(
            int(f[len("manifest_v") : -len(".json")])
            for f in os.listdir(self.path)
            if f.startswith("manifest_v") and f.endswith(".json")
        )
        retained = versions[-keep_last:]
        live: set[str] = set()
        for v in retained:
            live.update(self.manifest(v).values())
        dirs_deleted = 0
        for name in os.listdir(self.path):
            if not (name.startswith("v") and name[1:].isdigit()):
                continue
            vdir = os.path.join(self.path, name)
            for sub in os.listdir(vdir):
                if not sub.startswith("partition_id="):
                    continue
                if f"{name}/{sub}" not in live:
                    shutil.rmtree(os.path.join(vdir, sub))
                    dirs_deleted += 1
            if not any(
                s.startswith("partition_id=") for s in os.listdir(vdir)
            ):
                shutil.rmtree(vdir)
        manifests_deleted = 0
        for v in versions:
            if v not in retained:
                os.remove(self._manifest_path(v))
                manifests_deleted += 1
        return {
            "manifests_deleted": manifests_deleted,
            "dirs_deleted": dirs_deleted,
        }

    def read(self, partition_ids: list[int] | None = None) -> DataFrame:
        """Manifest-resolved read. With partition_ids, only those partitions'
        directories are listed at all (file-level pruning)."""
        man = self.manifest()
        if partition_ids is not None:
            want = {str(p) for p in partition_ids}
            man = {pid: rel for pid, rel in man.items() if pid in want}
        paths = [os.path.join(self.path, rel) for rel in man.values()]
        if not paths:
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(self._meta()["schema"]))
            return self.spark.createDataFrame([], schema)
        return (
            self.spark.read.parquet(*paths)
            .withColumnRenamed("pid", "partition_id")
        )


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
        self.state = _IncrementalState(spark, state_path)
        self._pcols = partition_cols
        self._kcols = key_cols

    def _keyed(self, df: DataFrame) -> DataFrame:
        return df.select(
            partition_id_expr(
                F.struct(*[F.col(c) for c in self._pcols]), self.num_partitions
            ).alias("partition_id"),
            *[F.col(c) for c in self._kcols],
        )

    def initialize(self, df: DataFrame) -> int:
        counts = (
            self._keyed(df)
            .groupBy("partition_id", *self._kcols)
            .agg(F.count(F.lit(1)).alias(self.cnt))
        )
        return self.state.write_full(counts)

    def apply_delta(
        self, inserts: DataFrame | None = None, deletes: DataFrame | None = None
    ) -> DataFrame:
        """Merge a delta batch into the state; returns the NEW verdicts of the
        touched partitions (untouched partitions keep their recorded verdicts).
        Rows deleted below zero are clamped out (matching DynPLI's precondition
        that deletes reference existing rows)."""
        parts = []
        if inserts is not None:
            parts.append(self._keyed(inserts).withColumn("d", F.lit(1)))
        if deletes is not None:
            parts.append(self._keyed(deletes).withColumn("d", F.lit(-1)))
        if not parts:
            raise ValueError("apply_delta needs inserts and/or deletes")
        delta = parts[0]
        for p in parts[1:]:
            delta = delta.unionByName(p)
        dcounts = delta.groupBy("partition_id", *self._kcols).agg(
            F.sum("d").alias("dcnt")
        )
        touched = [
            r.partition_id
            for r in dcounts.select("partition_id").distinct().collect()
        ]
        # file-level-pruned read of ONLY the touched slice + full-outer merge;
        # untouched partitions are never read -- write_delta carries their
        # files by reference in the new manifest.
        hot = self.state.read(partition_ids=touched)
        on = ["partition_id", *self._kcols]
        merged = (
            hot.join(dcounts, on=on, how="full_outer")
            .select(
                *on,
                (
                    F.coalesce(F.col(self.cnt), F.lit(0))
                    + F.coalesce(F.col("dcnt"), F.lit(0))
                ).alias(self.cnt),
            )
            .filter(F.col(self.cnt) > 0)
        )
        self.state.write_delta(merged, touched)
        return self.verdicts(partition_ids=touched)


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
        return ucc_rollup(self.state.read(partition_ids=partition_ids))


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
        return afd_rollup(self.state.read(), ["partition_id", *self.lhs], self.rhs)

    def verdicts(self, partition_ids: list[int] | None = None) -> DataFrame:
        """Per-partition FD verdicts from state (same fields as FDCheck.verdicts)."""
        s = self.state.read(partition_ids=partition_ids)
        return fd_rollup(fd_x_level(s, ["partition_id", *self.lhs]))
