"""ValidationSuite: load-once / execute-many orchestration with checkpoint/resume.

Mirrors the reference's Algorithm lifecycle (algorithm.cpp:76-96: LoadData once,
Execute re-callable with new params) at suite granularity: ``load`` resolves +
caches the canonical projection; each ``run`` executes a set of named checks
against it, records per-partition verdicts in the checkpoint manifest, and skips
partitions already validated for the same (check, snapshot).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_validator.canonical import CanonicalDocs, canonicalize
from pyspark_validator.checkpoint import CheckpointManager
from pyspark_validator.checks.fd import fd_check
from pyspark_validator.checks.ucc import ucc_check
from pyspark_validator.fused import FUSABLE_KINDS

#: Kinds that give one verdict for the whole table, framed as partition 0.
_WHOLE_TABLE_KINDS = frozenset(
    {"nd", "sfd", "nar", "mfd", "sd", "md", "sketch_profile", "schema",
     "assoc", "reconcile", "precedence", "interval_overlap", "outlier"}
)
#: Aggregation-shaped kinds whose only home is fused.py: ``run`` executes
#: each as a single-member FusedPass keyed by the canonical partition_id.
#: nar and ac also fuse but have their own ``_verdicts_for`` branches.
_FUSED_ONLY_KINDS = FUSABLE_KINDS - {"nar", "ac"}


def _pending(
    recorded: dict[str, dict[int, str]], name: str, universe: range
) -> list[int]:
    done = recorded.get(name, {})
    return [p for p in universe if p not in done]


@dataclass
class CheckSpec:
    """One named check. ``kind`` in {'ucc','fd','ind','nd','mfd','sd','md',
    'ac','nar','sfd','anon','assoc','reconcile','precedence','outlier',
    'interval_overlap','custom'}; ``params`` are forwarded;
    'custom' takes fn(canon_df) -> verdicts DataFrame with a partition_id +
    holds column.

    Scope: whole-table checks (``_WHOLE_TABLE_KINDS``) give one verdict,
    framed as partition 0 for the manifest; every other kind gives one
    verdict per logical partition 0..P-1. With a checkpoint, a check whose
    partitions are all recorded for the snapshot is skipped. Otherwise only
    kinds whose verdict partition is the canonical doc ``partition_id``
    (``ValidationSuite._doc_partitioned``) read just their pending
    partitions; every other kind reads the full frame and keeps its pending
    verdicts."""

    name: str
    kind: str
    params: dict[str, Any] = field(default_factory=dict)
    fn: Callable[[DataFrame], DataFrame] | None = None


class ValidationSuite:
    def __init__(
        self,
        spark: SparkSession,
        docs: DataFrame,
        num_partitions: int = 64,
        checkpoint_path: str | None = None,
        snapshot_id: str = "snapshot-0",
        doc_id_col: str = "doc_id",
        spans_col: str = "spans",
    ):
        self.spark = spark
        self.num_partitions = num_partitions
        self.snapshot_id = snapshot_id
        # the user-facing input schema, before canonicalize adds derived
        # columns -- what a "schema" kind check validates against
        self.input_schema = docs.schema
        self.canon: CanonicalDocs = canonicalize(
            docs,
            num_partitions=num_partitions,
            doc_id_col=doc_id_col,
            spans_col=spans_col,
        )
        self.ckpt = (
            CheckpointManager(spark, checkpoint_path) if checkpoint_path else None
        )
        # check objects holding persisted censuses (AssocCheck/BenfordCheck
        # style); drained by unpersist() so long sessions don't leak blocks
        self._live_checks: list = []

    def _verdicts_for(self, spec: CheckSpec, df: DataFrame) -> DataFrame:
        if spec.kind == "ucc":
            return ucc_check(
                df,
                spec.params["columns"],
                num_partitions=self.num_partitions,
                partition_key=spec.params.get("partition_key", "doc_id"),
            ).verdicts()
        if spec.kind == "fd":
            c = fd_check(
                df,
                spec.params["lhs"],
                spec.params["rhs"],
                num_partitions=self.num_partitions,
            )
            return c.verdicts()
        if spec.kind == "ind":
            from pyspark_validator.checks.ind import ind_check

            rhs_df = spec.params.get("rhs_df")
            if rhs_df is None:
                rhs_df = self.spark.read.parquet(spec.params["rhs_table"])
            return ind_check(
                df, spec.params["lhs"], rhs_df, spec.params["rhs"]
            ).verdicts(num_partitions=self.num_partitions)
        if spec.kind == "nd":
            from pyspark_validator.checks.nd import nd_check

            # single-row verdict framed as partition 0 for the manifest
            return nd_check(
                df,
                spec.params["lhs"],
                spec.params["rhs"],
                weight=spec.params["weight"],
                num_partitions=self.num_partitions,
            ).withColumn("partition_id", F.lit(0))
        if spec.kind == "sfd":
            from pyspark_validator.checks.sfd import sfd_check

            s = sfd_check(
                df,
                spec.params["col_a"],
                spec.params["col_b"],
                **{
                    k: v
                    for k, v in spec.params.items()
                    if k not in ("col_a", "col_b", "expect")
                },
            ).summary()
            # verdict framing: expect 'sfd' (default), 'correlated', or
            # 'independent' -- holds iff the pair matches the expectation
            expect = spec.params.get("expect", "sfd")
            holds = {
                "sfd": F.col("sfd_holds"),
                "correlated": F.col("correlated"),
                "independent": ~F.col("sfd_holds") & ~F.col("correlated"),
            }[expect]
            return s.select(holds.alias("holds"), "*").withColumn(
                "partition_id", F.lit(0)
            )
        if spec.kind in ("ac", "nar"):
            # ac: per-partition verdicts; nar: one verdict framed as partition 0
            if spec.kind == "ac":
                from pyspark_validator.canonical import partition_id_expr
                from pyspark_validator.checks.ac import ac_check

                c = ac_check(
                    df,
                    spec.params["lhs"],
                    spec.params["rhs"],
                    spec.params.get("binop", "+"),
                    weight=spec.params.get("weight", 0.1),
                    bumps_limit=spec.params.get("bumps_limit", 0),
                    num_partitions=self.num_partitions,
                )
                pk = spec.params.get("partition_key", "doc_id")
                exc = c.exceptions(
                    [pk, *spec.params.get("id_cols", [])],
                    ranges=spec.params.get("ranges"),
                )
                # true per-partition verdicts (north-rule shape): every
                # partition reports, exception-bearing ones fail
                pids = df.select(
                    partition_id_expr(pk, self.num_partitions).alias(
                        "partition_id"
                    )
                ).distinct()
                per_part = exc.groupBy(
                    partition_id_expr(pk, self.num_partitions).alias(
                        "partition_id"
                    )
                ).agg(F.count(F.lit(1)).alias("n_exceptions"))
                return (
                    pids.join(per_part, "partition_id", "left")
                    .select(
                        "partition_id",
                        F.coalesce("n_exceptions", F.lit(0)).alias(
                            "n_exceptions"
                        ),
                    )
                    .select(
                        (F.col("n_exceptions") == 0).alias("holds"),
                        "n_exceptions",
                        "partition_id",
                    )
                )
            else:
                from pyspark_validator.checks.nar import nar_check

                s = nar_check(
                    df, spec.params["ante"], spec.params["cons"]
                ).qualities()
                s = s.select(
                    (
                        F.col("confidence")
                        >= F.lit(spec.params.get("min_confidence", 1.0))
                    ).alias("holds"),
                    "*",
                )
            return s.withColumn("partition_id", F.lit(0))
        if spec.kind == "sketch_profile":
            # one-pass HLL+CMS+KLL profile (sketches.sketch_profile);
            # informational verdict, optionally persisted to a SketchStore so
            # later snapshots can merge/drift without rescanning this one
            from pyspark_validator.sketches import sketch_profile

            prof = sketch_profile(
                df,
                spec.params["columns"],
                p=spec.params.get("p", 12),
                fanin=spec.params.get("fanin", 64),
            )
            if spec.params.get("store_path"):
                from pyspark_validator.checkpoint import SketchStore

                SketchStore(self.spark, spec.params["store_path"]).record(
                    self.snapshot_id, prof
                )
            rows = [
                (c, s.n, s.n_null, float(s.distinct_est()))
                for c, s in sorted(prof.items())
            ]
            v = self.spark.createDataFrame(
                rows, "column string, n_rows long, n_null long, distinct_est double"
            ).withColumn("holds", F.lit(True))
            return v.withColumn("partition_id", F.lit(0))
        if spec.kind == "schema":
            # metadata-only (no scan); framed as partition 0 for the manifest
            from pyspark_validator.schema import (
                SchemaSpec,
                _VERDICT_SCHEMA,
                schema_check,
            )

            rows = [
                tuple(d[k] for k in ("column", "status", "expected", "actual", "holds"))
                for d in schema_check(
                    self.input_schema, SchemaSpec.from_dict(spec.params)
                )
            ]
            v = self.spark.createDataFrame(rows, _VERDICT_SCHEMA)
            return v.withColumn("partition_id", F.lit(0))
        if spec.kind == "anon":
            from pyspark_validator.checks.anon import anon_check

            return anon_check(
                df,
                spec.params["quasi_identifiers"],
                k=spec.params.get("k", 2),
                sensitive=spec.params.get("sensitive"),
                l=spec.params.get("l", 2),
                num_partitions=self.num_partitions,
            ).verdicts()
        if spec.kind == "assoc":
            from pyspark_validator.checks.assoc import assoc_check

            # verdict framing: expect 'independent' (default -- these columns
            # should NOT be associated) or 'dependent'; validate before the
            # check is built so a bad spec never lands in _live_checks
            expect = spec.params.get("expect", "independent")
            if expect not in ("independent", "dependent"):
                raise ValueError(
                    f"assoc check {spec.name!r}: expect must be "
                    f"'independent' or 'dependent', got {expect!r}"
                )
            check = assoc_check(
                df,
                spec.params["col_a"],
                spec.params["col_b"],
                alpha=spec.params.get("alpha", 0.05),
            )
            self._live_checks.append(check)  # released by Runner.unpersist()
            s = check.summary()
            holds = (
                ~F.col("dependent")
                if expect == "independent"
                else F.col("dependent")
            )
            return s.select(holds.alias("holds"), "*").withColumn(
                "partition_id", F.lit(0)
            )
        if spec.kind == "reconcile":
            from pyspark_validator.checks.reconcile import reconciliation_check

            child = spec.params.get("child_df")
            if child is None:
                child = self.spark.read.parquet(spec.params["child_table"])
            s = reconciliation_check(
                df,
                child,
                spec.params["parent_keys"],
                spec.params["child_keys"],
                F.expr(spec.params["stored"]),
                F.expr(spec.params["derived_agg"]),
                abs_tol=spec.params.get("abs_tol", 0.0),
                rel_tol=spec.params.get("rel_tol", 0.0),
                expect_children=spec.params.get("expect_children", True),
            ).summary()
            return s.withColumn("partition_id", F.lit(0))
        if spec.kind == "precedence":
            from pyspark_validator.checks.temporal import precedence_check

            s = precedence_check(
                df,
                spec.params["keys"],
                spec.params["ts_col"],
                F.expr(spec.params["antecedent"]),
                F.expr(spec.params["consequent"]),
                strict=spec.params.get("strict", True),
            )
            return s.withColumn("partition_id", F.lit(0))
        if spec.kind == "interval_overlap":
            from pyspark_validator.checks.temporal import interval_overlap_check

            s = interval_overlap_check(
                df,
                spec.params["keys"],
                spec.params["start_col"],
                spec.params["end_col"],
                allow_touching=spec.params.get("allow_touching", True),
            )
            return s.withColumn("partition_id", F.lit(0))
        if spec.kind == "outlier":
            from pyspark_validator.checks.outlier import outlier_check

            s = outlier_check(
                df,
                spec.params["column"],
                method=spec.params.get("method", "iqr"),
                threshold=spec.params.get("threshold"),
                exact=spec.params.get("exact", True),
            ).summary()
            max_frac = spec.params.get("max_outlier_fraction")
            if max_frac is not None:
                s = s.withColumn(
                    "holds",
                    F.coalesce(
                        F.col("outlier_fraction") <= F.lit(max_frac), F.lit(True)
                    ),
                )
            return s.withColumn("partition_id", F.lit(0))
        if spec.kind in ("mfd", "sd", "md"):
            # single-row verdict checks framed as partition 0 for the manifest
            if spec.kind == "mfd":
                from pyspark_validator.checks.mfd import mfd_check

                s = mfd_check(
                    df,
                    spec.params["lhs"],
                    spec.params["rhs"],
                    metric=spec.params.get("metric", "euclidean"),
                    parameter=spec.params.get("parameter", 0.0),
                ).summary()
            elif spec.kind == "sd":
                from pyspark_validator.checks.sd import sd_check

                s = sd_check(
                    df,
                    spec.params["order_col"],
                    spec.params["value_col"],
                    g1=spec.params.get("g1", 0.0),
                    g2=spec.params.get("g2", float("inf")),
                ).summary()
            else:
                from pyspark_validator.checks.md import md_check

                s = md_check(
                    df,
                    spec.params["lhs"],
                    spec.params["rhs"],
                    left_id=spec.params.get("left_id", "doc_id"),
                ).summary()
            return s.withColumn("partition_id", F.lit(0))
        if spec.kind in _FUSED_ONLY_KINDS:
            # agg-shaped kinds whose only home is fused.py: run each as its
            # own single-member pass so they work without "fuse": true too
            from pyspark_validator.fused import FusedPass, member_from_spec

            fp = FusedPass(
                df,
                num_partitions=self.num_partitions,
                partition_col="partition_id",
            )
            routed = member_from_spec(fp, spec.name, spec.kind, spec.params)
            assert routed  # these kinds never fall back
            return fp.verdict(spec.name)
        if spec.kind == "custom":
            assert spec.fn is not None
            return spec.fn(df)
        raise ValueError(f"unknown check kind: {spec.kind}")

    def _universe(self, spec: CheckSpec) -> range:
        """The verdict partitions a complete run of ``spec`` records."""
        if spec.kind in _WHOLE_TABLE_KINDS:
            return range(1)
        return range(self.num_partitions)

    @staticmethod
    def _doc_partitioned(spec: CheckSpec) -> bool:
        """Whether the verdict partition of ``spec`` is the canonical doc
        ``partition_id``, so a resume may cut its input to the pending
        partitions before it runs."""
        if spec.kind == "ucc":
            return spec.params.get("partition_key", "doc_id") == "doc_id"
        if spec.kind == "fd":
            return list(spec.params["lhs"]) == ["doc_id"]
        return spec.kind in _FUSED_ONLY_KINDS

    def _recorded(self, checks: list[CheckSpec]) -> dict[str, dict[int, str]]:
        """One manifest read for the whole run (empty without a checkpoint)."""
        if self.ckpt is None or not checks:
            return {}
        return self.ckpt.recorded(self.snapshot_id, [s.name for s in checks])

    def _empty(self) -> DataFrame:
        """The verdicts of a skipped check: planned without a Spark job."""
        return self.canon.df.select(
            "partition_id", F.lit(True).alias("holds")
        ).where(F.lit(False))

    def _record(self, name: str, verdicts: DataFrame) -> DataFrame:
        if self.ckpt is None:
            return verdicts
        # materialize once so record + return don't recompute
        verdicts = verdicts.localCheckpoint(eager=True)
        self.ckpt.record_verdicts(name, self.snapshot_id, verdicts)
        return verdicts

    def run(self, checks: list[CheckSpec]) -> dict[str, DataFrame]:
        """Execute checks, resuming past completed partitions. Returns the verdict
        DataFrame per check (only the partitions computed in THIS run).

        The manifest is read once per call. A check with every partition of
        its scope recorded is skipped: it is not built and records nothing,
        and its result is an empty frame with only the ``partition_id`` and
        ``holds`` columns, not the check's full verdict schema. A check with some partitions
        recorded keeps only its pending verdicts, and reads only its pending
        partitions when its verdict partition is the doc partition (see
        ``CheckSpec``)."""
        return self._run(checks, self._recorded(checks))

    def _run(
        self, checks: list[CheckSpec], recorded: dict[str, dict[int, str]]
    ) -> dict[str, DataFrame]:
        results: dict[str, DataFrame] = {}
        for spec in checks:
            universe = self._universe(spec)
            pending = _pending(recorded, spec.name, universe)
            if not pending:
                results[spec.name] = self._empty()
                continue
            df = self.canon.df
            keep = None
            if len(pending) < len(universe):
                keep = F.col("partition_id").isin(pending)
                if self._doc_partitioned(spec):
                    df = df.where(keep)
            verdicts = self._verdicts_for(spec, df)
            if keep is not None:
                verdicts = verdicts.where(keep)
            results[spec.name] = self._record(spec.name, verdicts)
        return results

    def run_fused(self, checks: list[CheckSpec]) -> dict[str, DataFrame]:
        """Like ``run``, but every aggregation-shaped check shares ONE scan +
        ONE P-row shuffle (fused.py); non-fusable kinds fall back to the
        per-check path. Fused checks report TRUE per-partition verdicts
        (the north-rule shape) instead of the partition-0 framing ``run``
        uses for single-row checks.

        Resume composes: the manifest is read once and shared with the
        fallback ``run``. A check recorded for every partition is skipped
        before it is routed; the fused pass runs only when a member has
        something pending, scans only partitions pending for at least one
        member, and each member records only its own pending verdicts."""
        from pyspark_validator.fused import FusedPass, member_from_spec

        recorded = self._recorded(checks)
        every = range(self.num_partitions)
        fp = FusedPass(
            self.canon.df,
            num_partitions=self.num_partitions,
            partition_col="partition_id",
        )
        results: dict[str, DataFrame] = {}
        fused: dict[str, list[int]] = {}
        rest: list[CheckSpec] = []
        for spec in checks:
            todo = _pending(recorded, spec.name, every)
            if not todo:
                results[spec.name] = self._empty()
            elif member_from_spec(fp, spec.name, spec.kind, spec.params):
                fused[spec.name] = todo
            else:
                rest.append(spec)
        results.update(self._run(rest, recorded))
        scan = sorted(set().union(*fused.values()))
        if fused and len(scan) < len(every):
            # safe to swap the frame post-registration: member exprs are
            # unbound F.col references, resolved when grouped() runs
            fp.df = fp.df.where(F.col("partition_id").isin(scan))
        for name, todo in fused.items():
            v = fp.verdict(name)
            if len(todo) < len(every):
                v = v.where(F.col("partition_id").isin(todo))
            results[name] = self._record(name, v)
        return {spec.name: results[spec.name] for spec in checks}

    def unpersist(self) -> None:
        self.canon.unpersist()
        for check in self._live_checks:
            check.unpersist()
        self._live_checks.clear()
