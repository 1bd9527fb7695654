"""ValidationSuite: load-once / execute-many orchestration with checkpoint/resume.

Mirrors the reference's Algorithm lifecycle (algorithm.cpp:76-96: LoadData once,
Execute re-callable with new params) at suite granularity: ``load`` resolves +
caches the canonical projection; each ``run`` executes a set of named checks
against it, records per-partition verdicts in the checkpoint manifest, and skips
partitions already validated for the same (check, snapshot).

Every check kind is one ``KINDS`` entry (the reference's algorithm_types.h
enum<->type table): its scope, its standalone builder, its fused builder, and
whether a resume may cut its input to the pending partitions.
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
from pyspark_validator.fused import FusedPass


@dataclass
class CheckSpec:
    """One named check: ``kind`` is a ``KINDS`` key and ``params`` are that
    kind's builder arguments. 'custom' takes fn(canon_df) -> verdicts
    DataFrame with a partition_id + holds column.

    Scope: a whole-table kind gives one verdict, recorded as partition 0;
    every other kind gives one verdict per logical partition 0..P-1. The
    scope and the verdict schema of a kind do not depend on the entry point.
    With a checkpoint, a check whose partitions are all recorded for the
    snapshot is skipped. Otherwise only kinds whose verdict partition is the
    canonical doc ``partition_id`` (fused kinds, and UCC/FD keyed by
    ``doc_id``) read just their pending partitions; every other kind reads
    the full frame and keeps its pending verdicts."""

    name: str
    kind: str
    params: dict[str, Any] = field(default_factory=dict)
    fn: Callable[[DataFrame], DataFrame] | None = None


# ---- standalone builders: (suite, spec, frame) -> verdicts --------------------
# A whole-table builder returns its one-row verdict unframed; the runner adds
# partition_id = 0.


def _ucc(s: "ValidationSuite", spec: CheckSpec, df: DataFrame) -> DataFrame:
    p = spec.params
    return ucc_check(
        df,
        p["columns"],
        num_partitions=s.num_partitions,
        partition_key=p.get("partition_key", "doc_id"),
    ).verdicts()


def _fd(s: "ValidationSuite", spec: CheckSpec, df: DataFrame) -> DataFrame:
    p = spec.params
    return fd_check(df, p["lhs"], p["rhs"], num_partitions=s.num_partitions).verdicts()


def _ind(s: "ValidationSuite", spec: CheckSpec, df: DataFrame) -> DataFrame:
    from pyspark_validator.checks.ind import ind_check

    p = spec.params
    rhs_df = p.get("rhs_df")
    if rhs_df is None:
        rhs_df = s.spark.read.parquet(p["rhs_table"])
    return ind_check(df, p["lhs"], rhs_df, p["rhs"]).verdicts(
        num_partitions=s.num_partitions
    )


def _ac(s: "ValidationSuite", spec: CheckSpec, df: DataFrame) -> DataFrame:
    from pyspark_validator.canonical import partition_id_expr
    from pyspark_validator.checks.ac import ac_check

    p = spec.params
    c = ac_check(
        df,
        p["lhs"],
        p["rhs"],
        p.get("binop", "+"),
        weight=p.get("weight", 0.1),
        bumps_limit=p.get("bumps_limit", 0),
        num_partitions=s.num_partitions,
    )
    pk = p.get("partition_key", "doc_id")
    exc = c.exceptions([pk, *p.get("id_cols", [])], ranges=p.get("ranges"))
    # true per-partition verdicts (north-rule shape): every partition
    # reports, exception-bearing ones fail
    pid = partition_id_expr(pk, s.num_partitions).alias("partition_id")
    per_part = exc.groupBy(pid).agg(F.count(F.lit(1)).alias("n_exceptions"))
    n_exc = F.coalesce("n_exceptions", F.lit(0))
    return (
        df.select(pid)
        .distinct()
        .join(per_part, "partition_id", "left")
        .select((n_exc == 0).alias("holds"), n_exc.alias("n_exceptions"), "partition_id")
    )


def _fuse_ac(fp: FusedPass, name: str, lhs, rhs, binop="+", ranges=None, **_):
    return fp.add_ac(name, lhs, rhs, binop, [tuple(r) for r in ranges])


def _fuses_ac(p: dict) -> bool:
    """A standing range list over the doc partition fuses; discovering the
    ranges (the clustering job in checks/ac.py) or keying verdicts by another
    column does not."""
    return p.get("ranges") is not None and p.get("partition_key", "doc_id") == "doc_id"


def _anon(s: "ValidationSuite", spec: CheckSpec, df: DataFrame) -> DataFrame:
    from pyspark_validator.checks.anon import anon_check

    p = spec.params
    return anon_check(
        df,
        p["quasi_identifiers"],
        k=p.get("k", 2),
        sensitive=p.get("sensitive"),
        l=p.get("l", 2),
        num_partitions=s.num_partitions,
    ).verdicts()


def _custom(s: "ValidationSuite", spec: CheckSpec, df: DataFrame) -> DataFrame:
    if spec.fn is None:
        raise ValueError(f"custom check {spec.name!r} needs fn")
    return spec.fn(df)


def _nd(s: "ValidationSuite", spec: CheckSpec, df: DataFrame) -> DataFrame:
    from pyspark_validator.checks.nd import nd_check

    p = spec.params
    return nd_check(
        df, p["lhs"], p["rhs"], weight=p["weight"], num_partitions=s.num_partitions
    )


def _sfd(s: "ValidationSuite", spec: CheckSpec, df: DataFrame) -> DataFrame:
    from pyspark_validator.checks.sfd import sfd_check

    p = dict(spec.params)
    # verdict framing: expect 'sfd' (default), 'correlated', or
    # 'independent' -- holds iff the pair matches the expectation
    expect = p.pop("expect", "sfd")
    holds = {
        "sfd": F.col("sfd_holds"),
        "correlated": F.col("correlated"),
        "independent": ~F.col("sfd_holds") & ~F.col("correlated"),
    }[expect]
    summary = sfd_check(df, p.pop("col_a"), p.pop("col_b"), **p).summary()
    return summary.select(holds.alias("holds"), "*")


def _nar(s: "ValidationSuite", spec: CheckSpec, df: DataFrame) -> DataFrame:
    from pyspark_validator.checks.nar import nar_check

    p = spec.params
    q = nar_check(df, p["ante"], p["cons"], p.get("feature_count")).qualities()
    holds = F.col("confidence") >= F.lit(p.get("min_confidence", 1.0))
    return q.select(holds.alias("holds"), "*")


def _mfd(s: "ValidationSuite", spec: CheckSpec, df: DataFrame) -> DataFrame:
    from pyspark_validator.checks.mfd import mfd_check

    p = spec.params
    return mfd_check(
        df,
        p["lhs"],
        p["rhs"],
        metric=p.get("metric", "euclidean"),
        parameter=p.get("parameter", 0.0),
    ).summary()


def _sd(s: "ValidationSuite", spec: CheckSpec, df: DataFrame) -> DataFrame:
    from pyspark_validator.checks.sd import sd_check

    p = spec.params
    return sd_check(
        df,
        p["order_col"],
        p["value_col"],
        g1=p.get("g1", 0.0),
        g2=p.get("g2", float("inf")),
    ).summary()


def _md(s: "ValidationSuite", spec: CheckSpec, df: DataFrame) -> DataFrame:
    from pyspark_validator.checks.md import md_check

    p = spec.params
    return md_check(
        df, p["lhs"], p["rhs"], left_id=p.get("left_id", "doc_id")
    ).summary()


def _sketch_profile(s: "ValidationSuite", spec: CheckSpec, df: DataFrame) -> DataFrame:
    # one-pass HLL+CMS+KLL profile (sketches.sketch_profile); informational
    # verdict, optionally persisted to a SketchStore so later snapshots can
    # merge/drift without rescanning this one
    from pyspark_validator.sketches import sketch_profile

    p = spec.params
    prof = sketch_profile(df, p["columns"], p=p.get("p", 12))
    if p.get("store_path"):
        from pyspark_validator.checkpoint import SketchStore

        SketchStore(s.spark, p["store_path"]).record(s.snapshot_id, prof)
    rows = [
        (c, sk.n, sk.n_null, float(sk.distinct_est()))
        for c, sk in sorted(prof.items())
    ]
    return s.spark.createDataFrame(
        rows, "column string, n_rows long, n_null long, distinct_est double"
    ).withColumn("holds", F.lit(True))


def _schema(s: "ValidationSuite", spec: CheckSpec, df: DataFrame) -> DataFrame:
    # metadata-only (no scan) against the user-facing input schema
    from pyspark_validator.schema import SchemaSpec, _VERDICT_SCHEMA, schema_check

    rows = [
        tuple(d[k] for k in ("column", "status", "expected", "actual", "holds"))
        for d in schema_check(s.input_schema, SchemaSpec.from_dict(spec.params))
    ]
    return s.spark.createDataFrame(rows, _VERDICT_SCHEMA)


def _assoc(s: "ValidationSuite", spec: CheckSpec, df: DataFrame) -> DataFrame:
    from pyspark_validator.checks.assoc import assoc_check

    p = spec.params
    # verdict framing: expect 'independent' (default -- these columns
    # should NOT be associated) or 'dependent'; validate before the
    # check is built so a bad spec never lands in _live_checks
    expect = p.get("expect", "independent")
    if expect not in ("independent", "dependent"):
        raise ValueError(
            f"assoc check {spec.name!r}: expect must be "
            f"'independent' or 'dependent', got {expect!r}"
        )
    check = assoc_check(df, p["col_a"], p["col_b"], alpha=p.get("alpha", 0.05))
    s._live_checks.append(check)  # released by unpersist()
    holds = ~F.col("dependent") if expect == "independent" else F.col("dependent")
    return check.summary().select(holds.alias("holds"), "*")


def _reconcile(s: "ValidationSuite", spec: CheckSpec, df: DataFrame) -> DataFrame:
    from pyspark_validator.checks.reconcile import reconciliation_check

    p = spec.params
    child = p.get("child_df")
    if child is None:
        child = s.spark.read.parquet(p["child_table"])
    return reconciliation_check(
        df,
        child,
        p["parent_keys"],
        p["child_keys"],
        F.expr(p["stored"]),
        F.expr(p["derived_agg"]),
        abs_tol=p.get("abs_tol", 0.0),
        rel_tol=p.get("rel_tol", 0.0),
        expect_children=p.get("expect_children", True),
    ).summary()


def _precedence(s: "ValidationSuite", spec: CheckSpec, df: DataFrame) -> DataFrame:
    from pyspark_validator.checks.temporal import precedence_check

    p = spec.params
    return precedence_check(
        df,
        p["keys"],
        p["ts_col"],
        F.expr(p["antecedent"]),
        F.expr(p["consequent"]),
        strict=p.get("strict", True),
    )


def _interval_overlap(s: "ValidationSuite", spec: CheckSpec, df: DataFrame) -> DataFrame:
    from pyspark_validator.checks.temporal import interval_overlap_check

    p = spec.params
    return interval_overlap_check(
        df,
        p["keys"],
        p["start_col"],
        p["end_col"],
        allow_touching=p.get("allow_touching", True),
    )


def _outlier(s: "ValidationSuite", spec: CheckSpec, df: DataFrame) -> DataFrame:
    from pyspark_validator.checks.outlier import outlier_check

    p = spec.params
    summary = outlier_check(
        df,
        p["column"],
        method=p.get("method", "iqr"),
        threshold=p.get("threshold"),
        exact=p.get("exact", True),
    ).summary()
    max_frac = p.get("max_outlier_fraction")
    if max_frac is None:
        return summary
    return summary.withColumn(
        "holds",
        F.coalesce(F.col("outlier_fraction") <= F.lit(max_frac), F.lit(True)),
    )


@dataclass(frozen=True)
class Kind:
    """How the runner executes one check kind.

    ``whole_table``: one verdict for the whole frame, recorded as partition
    0 (universe ``{0}``); otherwise one verdict per logical partition
    (universe ``range(P)``). ``fuse(pass, name, **params)`` registers the
    check in the run's shared FusedPass whenever ``fuses(params)``; else
    ``build(suite, spec, frame)`` returns its verdicts. ``doc_partitioned``
    (standalone builds only): the verdict partition is the canonical doc
    ``partition_id``, so a resume may cut the frame to the pending partitions
    before the build. Fused members always are, and whole-table kinds never."""

    build: Callable[["ValidationSuite", CheckSpec, DataFrame], DataFrame] | None = None
    fuse: Callable[..., FusedPass] | None = None
    whole_table: bool = False
    fuses: Callable[[dict], bool] = lambda p: True
    doc_partitioned: Callable[[dict], bool] = lambda p: False


#: Aggregation-shaped kinds: each is one FusedPass member (``add_<kind>``,
#: whose signature holds the param defaults) and has no standalone builder.
_FUSED = (
    "row_predicate", "completeness", "numeric_profile", "histogram_drift",
    "distinct", "type_conformance", "span_integrity", "pii_budget", "benford",
    "class_balance", "token_budget", "media_context", "interleaved_quality",
)

KINDS: dict[str, Kind] = {
    "ucc": Kind(
        _ucc, doc_partitioned=lambda p: p.get("partition_key", "doc_id") == "doc_id"
    ),
    "fd": Kind(_fd, doc_partitioned=lambda p: list(p["lhs"]) == ["doc_id"]),
    "ind": Kind(_ind),
    "ac": Kind(_ac, fuse=_fuse_ac, fuses=_fuses_ac),
    "anon": Kind(_anon),
    "custom": Kind(_custom),
    **{k: Kind(fuse=getattr(FusedPass, f"add_{k}")) for k in _FUSED},
    "nd": Kind(_nd, whole_table=True),
    "sfd": Kind(_sfd, whole_table=True),
    "nar": Kind(_nar, whole_table=True),
    "mfd": Kind(_mfd, whole_table=True),
    "sd": Kind(_sd, whole_table=True),
    "md": Kind(_md, whole_table=True),
    "sketch_profile": Kind(_sketch_profile, whole_table=True),
    "schema": Kind(_schema, whole_table=True),
    "assoc": Kind(_assoc, whole_table=True),
    "reconcile": Kind(_reconcile, whole_table=True),
    "precedence": Kind(_precedence, whole_table=True),
    "interval_overlap": Kind(_interval_overlap, whole_table=True),
    "outlier": Kind(_outlier, whole_table=True),
}


def _only(df: DataFrame, pending: list[int], universe: range) -> DataFrame:
    """``df`` cut to the pending partitions (unchanged when all are pending)."""
    if len(pending) == len(universe):
        return df
    return df.where(F.col("partition_id").isin(pending))


class _CheckpointedFrame:
    """Releases the blocks behind a local checkpoint, which
    ``DataFrame.unpersist`` does not reach: they belong to the RDD under the
    frame's ``LogicalRDD`` plan, not to a cached plan."""

    def __init__(self, df: DataFrame):
        self._rdd = df._jdf.logicalPlan().rdd()

    def unpersist(self) -> None:
        self._rdd.unpersist(False)


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
        # objects holding persisted frames (a run's FusedPass, AssocCheck
        # style censuses, recorded verdicts); drained by unpersist() so long
        # sessions don't leak
        self._live_checks: list = []

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
        # a lazy local checkpoint: the manifest write fills it, so record +
        # return cost one job and don't recompute. persist() would cost two
        # (AQE materializes a cached table as its own stage) and would add a
        # cached plan that every later query's planning is matched against.
        verdicts = verdicts.localCheckpoint(eager=False)
        self._live_checks.append(_CheckpointedFrame(verdicts))
        self.ckpt.record_verdicts(name, self.snapshot_id, verdicts)
        return verdicts

    def run(self, checks: list[CheckSpec]) -> dict[str, DataFrame]:
        """Execute checks, resuming past completed partitions. Returns the verdict
        DataFrame per check (only the partitions computed in THIS run).

        Every kind is looked up in ``KINDS`` before any Spark work, and an
        unknown kind raises ``ValueError``. The manifest is read once per
        call. A check with every partition of its scope recorded is skipped:
        it is not built and records nothing, and its result is an empty
        frame with only the ``partition_id`` and ``holds`` columns, not the
        check's full verdict schema. Fusable checks share ONE scan + ONE
        P-row shuffle (fused.py) that reads only the partitions pending for
        at least one of them; every other check runs standalone. A check
        with some partitions recorded keeps only its pending verdicts (see
        ``CheckSpec`` for which kinds also read only their pending
        partitions)."""
        unknown = sorted({s.kind for s in checks} - KINDS.keys())
        if unknown:
            raise ValueError(
                f"unknown check kind(s) {', '.join(unknown)}; "
                f"known kinds: {', '.join(sorted(KINDS))}"
            )
        recorded = self._recorded(checks)
        every = range(self.num_partitions)
        fp = FusedPass(
            self.canon.df,
            num_partitions=self.num_partitions,
            partition_col="partition_id",
        )
        results: dict[str, DataFrame] = {}
        fused: dict[str, list[int]] = {}
        standalone: list[tuple[CheckSpec, Kind, list[int], range]] = []
        for spec in checks:
            kind = KINDS[spec.kind]
            universe = range(1) if kind.whole_table else every
            done = recorded.get(spec.name, {})
            pending = [p for p in universe if p not in done]
            if not pending:
                results[spec.name] = self._empty()
            elif kind.fuse is not None and kind.fuses(spec.params):
                kind.fuse(fp, spec.name, **spec.params)
                fused[spec.name] = pending
            else:
                standalone.append((spec, kind, pending, universe))
        for spec, kind, pending, universe in standalone:
            df = self.canon.df
            if kind.doc_partitioned(spec.params):
                df = _only(df, pending, universe)
            verdicts = kind.build(self, spec, df)
            if kind.whole_table:
                verdicts = verdicts.withColumn("partition_id", F.lit(0))
            results[spec.name] = self._record(
                spec.name, _only(verdicts, pending, universe)
            )
        if fused:
            self._live_checks.append(fp)
            # safe to swap the frame post-registration: member exprs are
            # unbound F.col references, resolved when grouped() runs
            fp.df = _only(fp.df, sorted(set().union(*fused.values())), every)
            for name, pending in fused.items():
                results[name] = self._record(
                    name, _only(fp.verdict(name), pending, every)
                )
        return {spec.name: results[spec.name] for spec in checks}

    #: Same as ``run``: whether a check fuses is a property of its kind.
    #: Kept by name for callers that still call it.
    run_fused = run

    def unpersist(self) -> None:
        self.canon.unpersist()
        for check in self._live_checks:
            check.unpersist()
        self._live_checks.clear()
