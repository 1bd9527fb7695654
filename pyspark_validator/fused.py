"""Fused single-scan multi-check execution.

At 10^12 documents the dominant cost of a validation suite is the table scan
itself: running k aggregation-shaped checks as k Spark jobs reads the table k
times (the suite-level cache in ``runner.py`` hides this at sandbox scale, but
a 100 TB table does not fit in cluster memory). Every check whose per-partition
verdict is an *algebraic aggregate* -- conditional counts, sums, min/max,
moments, fixed-bin histograms -- can instead contribute expressions to ONE

    df.groupBy(partition_id).agg(<every check's expressions>)

so k checks cost one scan plus one map-side-combinable shuffle whose payload is
P rows regardless of table size. Each check's per-partition verdict frame is
then a projection of the same tiny grouped result.

Fusable check families (each mirrors the semantics of its standalone module,
which remains the single source of truth for the un-fused path):

- ``nar``          -- NAR qualities per partition + CalcQualities-parity global
                      rollup (checks/nar.py; reference nar/nar.cpp). API
                      only: the suite runner's ``nar`` kind is one
                      whole-table verdict, built standalone.
- ``ac``           -- exception counts against a standing range list
                      (checks/ac.py exceptions(); reference ac_algorithm.h:19-33).
- ``row_predicate``-- "no row violates <conditions>" in the NAR condition form.
- ``completeness`` -- null-fraction bound per column.
- ``numeric_profile`` -- n/nulls/min/max/mean/std per partition (informational).
- ``histogram_drift`` -- fixed-bin histogram vs a given baseline distribution,
                      PSI-gated per partition (checks/drift.py conventions).
- ``distinct``     -- approximate distinct count / uniqueness-ratio gate over
                      a column set via a mergeable HLL sketch (JVM
                      hll_sketch_agg; the sketch itself is the incremental
                      state, unioned across deltas).
- ``type_conformance`` -- non-null values must try_cast to a declared type
                      (schema.py layer 2).
- ``benford``      -- Benford first-digit conformance, MAD-gated per
                      partition (checks/benford.py; the 9-digit census is
                      pure sums).
- ``span_integrity``-- the input-hint span-sequence invariant (known kinds,
                      text/media payload presence, strictly increasing
                      offsets) counted per partition (schema.py layer 3).

Not fusable here (and why): exact UCC/FD/IND shuffle BY THE CANDIDATE KEY, not
by partition_id -- their shuffle is the computation and cannot share this pass
(``distinct`` above is the approximate escape hatch);
SD/OC need total order; MFD/DD/DC are pairwise. Those stay standalone jobs.

The suite runner fuses a check when its ``runner.KINDS`` entry has a fused
builder. Checkpoint/resume composes: the runner scans only partitions pending
for at least one fused check and post-filters each check's verdicts to its own
pending set (runner.py), so resume semantics are identical to the per-check
path while preserving the one-scan property.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_validator.canonical import partition_id_expr
from pyspark_validator.checks.ac import _res_expr
from pyspark_validator.checks.nar import _fits


@dataclass
class _Member:
    """One fused check: its aggregate expressions (all uniquely aliased with
    the ``<name>__`` prefix), how each partial combines with another partial
    of the same partition (``merges``: alias -> 'sum'|'min'|'max' -- every
    fused aggregate is algebraically mergeable, which is what makes the
    incremental path below possible), and the projection that derives the
    per-partition verdict frame from the shared grouped result."""

    name: str
    exprs: list[Column]
    merges: dict[str, str]
    finish: Callable[[DataFrame], DataFrame]
    # Aggregation compatibility group. grouped() runs ONE physical
    # aggregation per distinct group and joins the P-row results on
    # partition_id, because two member families measurably poison each
    # other when their expressions share one aggregation pass:
    #  * "sketch" (add_distinct's HLL): a TypedImperativeAggregate demotes
    #    the whole aggregation from whole-stage-codegen HashAggregate to
    #    interpreted ObjectHashAggregate, taxing every other member's row
    #    expressions. Its companion scan column-prunes to the key column.
    #  * "regex" (add_pii_budget): alternating its java.util.regex pattern
    #    family with the BPE-lambda members' pattern in one hot loop is a
    #    4-6x multiplicative slowdown in EVERY execution mode (codegen on,
    #    off, fully interpreted -- measured at 2M docs: pii 27 s solo,
    #    token_budget 28 s solo, 135-173 s in one aggregation; the same
    #    pair is additive when the patterns coincide), i.e. JIT profile
    #    pollution at the shared regex interpreter call sites, not a plan
    #    defect. Its companion scan column-prunes to the text column.
    # "main" members (span folds, sums, casts, histograms) fuse freely --
    # measured strictly cheaper than standalone (tb+iq: 27 s fused vs 56 s
    # standalone at 2M docs). See BASELINE.md round-5 validation-tier soak.
    group: str = "main"


def _ident(name: str) -> str:
    if not name or not all(c.isalnum() or c == "_" for c in name):
        raise ValueError(f"check name must be identifier-like, got {name!r}")
    return name


class FusedPass:
    """Accumulate aggregation-shaped checks, execute them in one scan.

    ``partition_col`` names an existing canonical partition-id column (the
    suite path); otherwise the id is derived as pmod(xxhash64(partition_key), P)
    -- deterministic across parallelism levels, like every verdict in this
    engine.
    """

    def __init__(
        self,
        df: DataFrame,
        num_partitions: int = 64,
        partition_key: str = "doc_id",
        partition_col: str | None = None,
    ):
        self.df = df
        self.num_partitions = num_partitions
        self._pid = (
            F.col(partition_col)
            if partition_col is not None
            else partition_id_expr(partition_key, num_partitions)
        )
        self._members: dict[str, _Member] = {}
        self._rollups: dict[str, float] = {}
        self._grouped: DataFrame | None = None

    # ---- registration -----------------------------------------------------

    def _add(self, m: _Member) -> "FusedPass":
        if self._grouped is not None:
            raise RuntimeError("pass already executed; build a new FusedPass")
        if m.name in self._members:
            raise ValueError(f"duplicate check name {m.name!r}")
        self._members[m.name] = m
        return self

    def add_nar(
        self,
        name: str,
        ante: dict[str, object],
        cons: dict[str, object],
        min_confidence: float = 1.0,
        feature_count: int | None = None,
    ) -> "FusedPass":
        """Per-partition NAR qualities. ``holds`` is vacuously true for a
        partition with no antecedent-fitting rows; ``rollup(name)`` reproduces
        NARCheck.qualities() exactly (CalcQualities zero guards included)."""
        n = _ident(name)
        if not ante or not cons:
            raise ValueError("degenerate NAR (empty ante/cons) is not fusable")
        fits_ante = _fits(self.df, ante)
        fits_both = fits_ante & _fits(self.df, cons)
        n_features = feature_count or len(self.df.columns)
        inclusion = (len(ante) + len(cons)) / n_features
        exprs = [
            F.count(F.lit(1)).alias(f"{n}__n_rows"),
            F.sum(fits_ante.cast("long")).alias(f"{n}__n_fit_ante"),
            F.sum(fits_both.cast("long")).alias(f"{n}__n_fit_both"),
        ]

        def finish(g: DataFrame) -> DataFrame:
            n_rows = F.col(f"{n}__n_rows")
            n_ante = F.col(f"{n}__n_fit_ante")
            n_both = F.col(f"{n}__n_fit_both")
            zero = (n_ante == 0) | (n_both == 0)
            support = F.when(zero, 0.0).otherwise(n_both / n_rows)
            confidence = F.when(zero, 0.0).otherwise(n_both / n_ante)
            fitness = F.when(zero, 0.0).otherwise(
                (n_both / n_ante + n_both / n_rows + F.lit(inclusion)) / 3.0
            )
            return g.select(
                "partition_id",
                ((n_ante == 0) | (confidence >= F.lit(min_confidence))).alias(
                    "holds"
                ),
                n_rows.alias("n_rows"),
                n_ante.alias("n_fit_ante"),
                n_both.alias("n_fit_both"),
                support.alias("support"),
                confidence.alias("confidence"),
                fitness.alias("fitness"),
            )

        self._rollups[n] = inclusion
        merges = {f"{n}__n_rows": "sum", f"{n}__n_fit_ante": "sum",
                  f"{n}__n_fit_both": "sum"}
        return self._add(_Member(n, exprs, merges, finish))

    def add_ac(
        self,
        name: str,
        lhs: str,
        rhs: str,
        binop: str,
        ranges: list[tuple[float, float]],
    ) -> "FusedPass":
        """Exception count against a standing AC range list (borders
        inclusive, ValueBelongsToRanges parity; null/zero-div operands are
        skipped exactly as checks/ac.py does)."""
        n = _ident(name)
        res, valid = _res_expr(self.df, lhs, rhs, binop)
        if ranges:
            inside = None
            for lo, hi in ranges:
                term = (res >= F.lit(float(lo))) & (res <= F.lit(float(hi)))
                inside = term if inside is None else (inside | term)
        else:
            inside = F.lit(False)
        exc = (valid & ~inside).cast("long")
        exprs = [
            F.sum(valid.cast("long")).alias(f"{n}__n_valid"),
            F.sum(exc).alias(f"{n}__n_exceptions"),
        ]

        def finish(g: DataFrame) -> DataFrame:
            return g.select(
                "partition_id",
                (F.col(f"{n}__n_exceptions") == 0).alias("holds"),
                F.col(f"{n}__n_valid").alias("n_valid"),
                F.col(f"{n}__n_exceptions").alias("n_exceptions"),
            )

        merges = {f"{n}__n_valid": "sum", f"{n}__n_exceptions": "sum"}
        return self._add(_Member(n, exprs, merges, finish))

    def add_row_predicate(
        self, name: str, conditions: dict[str, object]
    ) -> "FusedPass":
        """holds iff every row in the partition fits ``conditions`` (NAR
        condition forms: (lo, hi) / category list / {"between"} / {"in"})."""
        n = _ident(name)
        viol = (~_fits(self.df, conditions)).cast("long")
        exprs = [
            F.count(F.lit(1)).alias(f"{n}__n_rows"),
            F.sum(viol).alias(f"{n}__n_violations"),
        ]

        def finish(g: DataFrame) -> DataFrame:
            return g.select(
                "partition_id",
                (F.col(f"{n}__n_violations") == 0).alias("holds"),
                F.col(f"{n}__n_rows").alias("n_rows"),
                F.col(f"{n}__n_violations").alias("n_violations"),
            )

        merges = {f"{n}__n_rows": "sum", f"{n}__n_violations": "sum"}
        return self._add(_Member(n, exprs, merges, finish))

    def add_completeness(
        self, name: str, column: str, max_null_fraction: float = 0.0
    ) -> "FusedPass":
        n = _ident(name)
        isnull = F.col(column).isNull().cast("long")
        exprs = [
            F.count(F.lit(1)).alias(f"{n}__n_rows"),
            F.sum(isnull).alias(f"{n}__n_null"),
        ]

        def finish(g: DataFrame) -> DataFrame:
            frac = F.col(f"{n}__n_null") / F.col(f"{n}__n_rows")
            return g.select(
                "partition_id",
                (frac <= F.lit(max_null_fraction)).alias("holds"),
                F.col(f"{n}__n_rows").alias("n_rows"),
                F.col(f"{n}__n_null").alias("n_null"),
                frac.alias("null_fraction"),
            )

        merges = {f"{n}__n_rows": "sum", f"{n}__n_null": "sum"}
        return self._add(_Member(n, exprs, merges, finish))

    def add_pii_budget(
        self,
        name: str,
        text_col: str = "text",
        max_doc_fraction: float = 0.0,
        kinds: list[str] | None = None,
    ) -> "FusedPass":
        """PII budget gate: a partition holds iff at most ``max_doc_fraction``
        of its documents contain any PII match (pipelines/text.py patterns,
        applied in the same strip order as pii_signals so an IP's octets never
        double-count as a phone). Pure-sum partials: folds deltas AND retracts
        deletes through IncrementalFused. Emits per-kind match totals for the
        metrics time-series."""
        from pyspark_validator.pipelines.text import _PII_ORDER, PII_PATTERNS

        n = _ident(name)
        use = [k for k in _PII_ORDER if kinds is None or k in kinds]
        if not use:
            raise ValueError("kinds filtered every PII pattern away")
        t = F.coalesce(F.col(text_col), F.lit(""))
        counts: dict[str, Column] = {}
        stripped = t
        for kind in _PII_ORDER:
            pat = PII_PATTERNS[kind]
            if kind in use:
                counts[kind] = F.regexp_count(stripped, F.lit(pat))
            stripped = F.regexp_replace(stripped, pat, " ")
        any_pii = sum(counts.values(), F.lit(0)) > 0
        exprs = [
            F.count(F.lit(1)).alias(f"{n}__n_rows"),
            F.sum(any_pii.cast("long")).alias(f"{n}__n_pii_docs"),
            *[
                F.sum(c.cast("long")).alias(f"{n}__n_{kind}")
                for kind, c in counts.items()
            ],
        ]

        def finish(g: DataFrame) -> DataFrame:
            n_rows = F.col(f"{n}__n_rows")
            n_docs = F.col(f"{n}__n_pii_docs")
            return g.select(
                "partition_id",
                (n_docs <= F.lit(max_doc_fraction) * n_rows).alias("holds"),
                n_rows.alias("n_rows"),
                n_docs.alias("n_pii_docs"),
                (n_docs / n_rows).alias("pii_doc_fraction"),
                *[F.col(f"{n}__n_{kind}").alias(f"n_{kind}") for kind in counts],
            )

        merges = {f"{n}__n_rows": "sum", f"{n}__n_pii_docs": "sum"}
        merges.update({f"{n}__n_{kind}": "sum" for kind in counts})
        # own aggregation group: the pii pattern family measurably poisons
        # (and is poisoned by) the BPE-lambda members when they share one
        # pass -- see _Member.group
        return self._add(_Member(n, exprs, merges, finish, group="regex"))

    def add_token_budget(
        self,
        name: str,
        spans_col: str = "spans",
        media_token_cost: int = 256,
        max_tokens: int | None = None,
    ) -> "FusedPass":
        """Multimodal token accounting on the interleaved shape
        (pipelines/interleaved.py::span_token_costs as pure-sum partials):
        per partition the doc count, text-token total, media-span total and
        combined cost (text + media_token_cost per media span). ``holds``
        gates the partition's combined cost against ``max_tokens`` (None =
        informational, always holds). Folds deltas AND retracts deletes
        through IncrementalFused, so the corpus token budget stays live at
        delta cost."""
        from pyspark_validator.pipelines.interleaved import token_cost_columns

        n = _ident(name)
        text_toks, n_media = token_cost_columns(spans_col)
        exprs = [
            F.count(F.lit(1)).alias(f"{n}__n_docs"),
            F.sum(text_toks).alias(f"{n}__n_text_tokens"),
            F.sum(n_media).alias(f"{n}__n_media_spans"),
        ]

        def finish(g: DataFrame) -> DataFrame:
            text = F.col(f"{n}__n_text_tokens")
            media = F.col(f"{n}__n_media_spans")
            total = (text + media * F.lit(media_token_cost)).cast("bigint")
            holds = (
                F.lit(True) if max_tokens is None else total <= F.lit(max_tokens)
            )
            return g.select(
                "partition_id",
                holds.alias("holds"),
                F.col(f"{n}__n_docs").alias("n_docs"),
                text.alias("n_text_tokens"),
                media.alias("n_media_spans"),
                total.alias("n_tokens"),
            )

        merges = {
            f"{n}__n_docs": "sum",
            f"{n}__n_text_tokens": "sum",
            f"{n}__n_media_spans": "sum",
        }
        return self._add(_Member(n, exprs, merges, finish))

    def add_media_context(
        self,
        name: str,
        spans_col: str = "spans",
        min_caption_ratio: float | None = None,
    ) -> "FusedPass":
        """Caption-adjacency accounting on the interleaved shape
        (pipelines/interleaved.py::media_context_summary as pure-sum
        partials): per partition the media-span total and how many have an
        offset-adjacent text span. ``holds`` gates the partition's caption
        ratio against ``min_caption_ratio`` (None = informational; a
        partition with zero media always holds). Unlike media_context this
        avoids per-index array gets (which an agg expr cannot barrier away
        from CollapseProject re-inlining): adjacency comes from zip_with of
        the is-text array against its two shifts -- a constant THREE
        evaluations of the ordered array per row, independent of span count.
        Folds deltas AND retracts deletes through IncrementalFused."""
        from .pipelines.interleaved import media_context_count_cols

        n_ = _ident(name)
        n_media_doc, n_cap_doc = media_context_count_cols(spans_col)
        exprs = [
            F.sum(n_media_doc).alias(f"{n_}__n_media"),
            F.sum(n_cap_doc).alias(f"{n_}__n_captioned"),
        ]

        def finish(g: DataFrame) -> DataFrame:
            media = F.col(f"{n_}__n_media")
            cap = F.col(f"{n_}__n_captioned")
            ratio = F.try_divide(cap, media)
            holds = (
                F.lit(True)
                if min_caption_ratio is None
                else (media == 0) | (ratio >= F.lit(min_caption_ratio))
            )
            return g.select(
                "partition_id",
                holds.alias("holds"),
                media.alias("n_media"),
                cap.alias("n_captioned"),
                (media - cap).alias("n_isolated"),
                ratio.alias("caption_ratio"),
            )

        merges = {f"{n_}__n_media": "sum", f"{n_}__n_captioned": "sum"}
        return self._add(_Member(n_, exprs, merges, finish))

    def add_interleaved_quality(
        self,
        name: str,
        spans_col: str = "spans",
        max_media: int = 32,
        max_media_run: int = 3,
        min_text_tokens: int = 8,
        max_flagged_fraction: float = 0.0,
    ) -> "FusedPass":
        """Document-level multimodal quality gate as a per-partition verdict
        (pipelines/interleaved.py::interleaved_quality_gate aggregated):
        per partition the doc count and how many docs trip each flag (media
        budget / image-wall run / low text). ``holds`` gates the partition's
        flagged fraction against ``max_flagged_fraction``. All partials are
        pure sums of per-row exprs with constant ordered-array evaluations
        (the run length is one array fold), so the member folds deltas AND
        retracts deletes through IncrementalFused."""
        from .pipelines.interleaved import token_cost_columns, _ordered_spans

        n_ = _ident(name)
        text_toks, n_media = token_cost_columns(spans_col)
        sp = _ordered_spans(spans_col)
        run = F.aggregate(
            F.transform(sp, lambda s: s["media_ref"].isNotNull()),
            F.struct(F.lit(0).alias("cur"), F.lit(0).alias("best")),
            lambda acc, m: F.struct(
                F.when(m, acc["cur"] + 1).otherwise(F.lit(0)).alias("cur"),
                F.greatest(
                    acc["best"], F.when(m, acc["cur"] + 1).otherwise(F.lit(0))
                ).alias("best"),
            ),
            lambda acc: acc["best"],
        )
        f_budget = n_media > max_media
        f_run = run > max_media_run
        f_text = text_toks < min_text_tokens
        exprs = [
            F.count(F.lit(1)).alias(f"{n_}__n_docs"),
            F.sum(f_budget.cast("long")).alias(f"{n_}__n_media_budget"),
            F.sum(f_run.cast("long")).alias(f"{n_}__n_media_run"),
            F.sum(f_text.cast("long")).alias(f"{n_}__n_low_text"),
            F.sum((f_budget | f_run | f_text).cast("long")).alias(
                f"{n_}__n_flagged"
            ),
        ]

        def finish(g: DataFrame) -> DataFrame:
            docs = F.col(f"{n_}__n_docs")
            flagged = F.col(f"{n_}__n_flagged")
            frac = F.try_divide(flagged, docs)
            return g.select(
                "partition_id",
                (F.coalesce(frac, F.lit(0.0)) <= F.lit(max_flagged_fraction)).alias(
                    "holds"
                ),
                docs.alias("n_docs"),
                flagged.alias("n_flagged"),
                F.col(f"{n_}__n_media_budget").alias("n_media_budget"),
                F.col(f"{n_}__n_media_run").alias("n_media_run"),
                F.col(f"{n_}__n_low_text").alias("n_low_text"),
                frac.alias("flagged_fraction"),
            )

        merges = {
            f"{n_}__n_docs": "sum",
            f"{n_}__n_media_budget": "sum",
            f"{n_}__n_media_run": "sum",
            f"{n_}__n_low_text": "sum",
            f"{n_}__n_flagged": "sum",
        }
        return self._add(_Member(n_, exprs, merges, finish))

    def add_type_conformance(
        self,
        name: str,
        column: str,
        dtype: str,
        max_violation_fraction: float = 0.0,
    ) -> "FusedPass":
        """Data-level schema conformance: non-null values of ``column`` must
        ``try_cast`` cleanly to ``dtype`` (schema.py layer 2 -- the scan-cost
        companion to the metadata-only schema_check). A NULL value is not a
        conformance violation; completeness is its own member."""
        n = _ident(name)
        c = F.col(column)
        bad = (c.isNotNull() & c.try_cast(dtype).isNull()).cast("long")
        exprs = [
            F.sum(c.isNotNull().cast("long")).alias(f"{n}__n_checked"),
            F.sum(bad).alias(f"{n}__n_bad"),
        ]

        def finish(g: DataFrame) -> DataFrame:
            n_checked = F.col(f"{n}__n_checked")
            n_bad = F.col(f"{n}__n_bad")
            return g.select(
                "partition_id",
                (n_bad <= F.lit(max_violation_fraction) * n_checked).alias(
                    "holds"
                ),
                n_checked.alias("n_checked"),
                n_bad.alias("n_bad"),
            )

        merges = {f"{n}__n_checked": "sum", f"{n}__n_bad": "sum"}
        return self._add(_Member(n, exprs, merges, finish))

    def add_span_integrity(
        self,
        name: str,
        spans_col: str = "spans",
        kinds: tuple[str, ...] | list[str] = None,
    ) -> "FusedPass":
        """Input-hint invariant on the interleaved span sequence (schema.py
        layer 3): known kinds, text spans carry text, media spans carry
        media_ref, offsets present/non-negative/strictly increasing. Counts
        violating documents per rule; ``schema.span_integrity_violations``
        yields the corresponding violation rows."""
        from pyspark_validator.schema import (
            DEFAULT_SPAN_KINDS,
            span_violation_flags,
        )

        n = _ident(name)
        flags = span_violation_flags(
            spans_col, tuple(kinds) if kinds else DEFAULT_SPAN_KINDS
        )
        exprs = [F.count(F.lit(1)).alias(f"{n}__n_docs")] + [
            F.sum(fcol.cast("long")).alias(f"{n}__{fname}_violations")
            for fname, fcol in sorted(flags.items())
        ]
        names = sorted(flags)

        def finish(g: DataFrame) -> DataFrame:
            viols = [F.col(f"{n}__{fname}_violations") for fname in names]
            total = viols[0]
            for v in viols[1:]:
                total = total + v
            return g.select(
                "partition_id",
                (total == 0).alias("holds"),
                F.col(f"{n}__n_docs").alias("n_docs"),
                *[
                    F.col(f"{n}__{fname}_violations").alias(
                        f"{fname}_violations"
                    )
                    for fname in names
                ],
            )

        merges = {f"{n}__n_docs": "sum"}
        merges.update({f"{n}__{fname}_violations": "sum" for fname in names})
        return self._add(_Member(n, exprs, merges, finish))

    def add_numeric_profile(self, name: str, column: str) -> "FusedPass":
        """Informational per-partition profile (holds is always true); the
        full DataStats surface lives in checks/stats.py -- this is the fused
        subset that is cheap to carry on every scan."""
        n = _ident(name)
        c = F.col(column).cast("double")
        exprs = [
            F.count(F.lit(1)).alias(f"{n}__n_rows"),
            F.sum(F.col(column).isNull().cast("long")).alias(f"{n}__n_null"),
            F.min(c).alias(f"{n}__min"),
            F.max(c).alias(f"{n}__max"),
            F.sum(c).alias(f"{n}__sum"),
            F.sum(c * c).alias(f"{n}__sum_sq"),
        ]

        def finish(g: DataFrame) -> DataFrame:
            cnt = (F.col(f"{n}__n_rows") - F.col(f"{n}__n_null")).cast("double")
            # all-null partition -> NULL mean/std, not NaN
            mean = F.when(cnt > 0, F.col(f"{n}__sum") / cnt)
            var = F.when(cnt > 0, F.col(f"{n}__sum_sq") / cnt - mean * mean)
            return g.select(
                "partition_id",
                F.lit(True).alias("holds"),
                F.col(f"{n}__n_rows").alias("n_rows"),
                F.col(f"{n}__n_null").alias("n_null"),
                F.col(f"{n}__min").alias("min"),
                F.col(f"{n}__max").alias("max"),
                mean.alias("mean"),
                F.sqrt(F.greatest(var, F.lit(0.0))).alias("std"),
            )

        merges = {f"{n}__n_rows": "sum", f"{n}__n_null": "sum",
                  f"{n}__min": "min", f"{n}__max": "max",
                  f"{n}__sum": "sum", f"{n}__sum_sq": "sum"}
        return self._add(_Member(n, exprs, merges, finish))

    def add_distinct(
        self,
        name: str,
        columns: str | list[str],
        min_ratio: float | None = None,
        lg_k: int = 12,
    ) -> "FusedPass":
        """Per-partition approximate distinct count over a column set, carried
        as a mergeable Apache DataSketches HLL sketch (JVM hll_sketch_agg,
        ~2^lg_k bytes of state per partition). Exact UCC stays in
        checks/ucc.py -- its shuffle by the candidate key IS the computation
        and cannot share this pass. This member trades bounded error
        (~1.04/sqrt(2^lg_k) relative) for sharing the single scan AND for
        algebraic merging across deltas (hll_union_agg), which an exact
        distinct count fundamentally cannot do -- so an AUCC-style uniqueness
        gate can ride the incremental/streaming path.

        ``holds`` = distinct_est / n_rows >= min_ratio when ``min_ratio`` is
        given (nulls count as values, the UCC null==null convention);
        informational otherwise. Estimates from the merged (incremental) path
        can differ from a single-pass sketch within the same error envelope --
        sketch mode promotion is history-dependent -- so treat distinct_est as
        an estimate, never an exact count.
        """
        n = _ident(name)
        cols = [columns] if isinstance(columns, str) else list(columns)
        # null-marker interleave: hash fns skip null fields, so (a, NULL) and
        # (NULL, a) would otherwise collide across positions
        parts = [x for c in cols for x in (F.col(c).isNull().cast("int"), F.col(c))]
        key = F.xxhash64(*parts)
        exprs = [
            F.count(F.lit(1)).alias(f"{n}__n_rows"),
            F.hll_sketch_agg(key, lg_k).alias(f"{n}__hll"),
        ]

        def finish(g: DataFrame) -> DataFrame:
            est = F.hll_sketch_estimate(F.col(f"{n}__hll"))
            ratio = est.cast("double") / F.col(f"{n}__n_rows")
            holds = (
                F.lit(True)
                if min_ratio is None
                else (ratio >= F.lit(float(min_ratio)))
            )
            return g.select(
                "partition_id",
                holds.alias("holds"),
                F.col(f"{n}__n_rows").alias("n_rows"),
                est.alias("distinct_est"),
                ratio.alias("distinct_ratio"),
            )

        merges = {f"{n}__n_rows": "sum", f"{n}__hll": "hll_union"}
        return self._add(_Member(n, exprs, merges, finish, group="sketch"))

    def add_histogram_drift(
        self,
        name: str,
        column: str,
        bin_edges: list[float],
        baseline_probs: list[float],
        max_psi: float = 0.1,
        alpha: float = 0.5,
    ) -> "FusedPass":
        """Fixed-bin histogram vs a GIVEN baseline distribution, PSI-gated
        per partition (checks/drift.py smoothing conventions: Laplace alpha on
        the observed side; the baseline is epsilon-clamped). Bins are
        [e_i, e_{i+1}) with the last bin closed; values outside the edges land
        in the boundary bins (baseline-histogram convention)."""
        n = _ident(name)
        k = len(bin_edges) - 1
        if k < 1 or len(baseline_probs) != k:
            raise ValueError("need len(bin_edges) == len(baseline_probs) + 1")
        c = F.col(column).cast("double")
        exprs = [F.sum(c.isNotNull().cast("long")).alias(f"{n}__n")]
        for i in range(k):
            lo = (c >= F.lit(bin_edges[i])) if i > 0 else F.lit(True)
            hi = (c < F.lit(bin_edges[i + 1])) if i < k - 1 else F.lit(True)
            exprs.append(
                F.sum((c.isNotNull() & lo & hi).cast("long")).alias(f"{n}__b{i}")
            )
        eps = 1e-12
        q = [max(p, eps) for p in baseline_probs]

        def finish(g: DataFrame) -> DataFrame:
            nn = F.col(f"{n}__n").cast("double")
            psi = F.lit(0.0)
            for i in range(k):
                p = (F.col(f"{n}__b{i}") + F.lit(alpha)) / (
                    nn + F.lit(alpha * k)
                )
                psi = psi + (p - F.lit(q[i])) * F.log(p / F.lit(q[i]))
            return g.select(
                "partition_id",
                (psi <= F.lit(max_psi)).alias("holds"),
                F.col(f"{n}__n").alias("n"),
                psi.alias("psi"),
            )

        merges = {f"{n}__n": "sum", **{f"{n}__b{i}": "sum" for i in range(k)}}
        return self._add(_Member(n, exprs, merges, finish))

    def add_benford(
        self,
        name: str,
        column: str,
        mad_gate: str = "acceptable",
    ) -> "FusedPass":
        """Benford first-digit conformance per partition (checks/benford.py
        semantics, first digit only). The 9-digit census is pure sums, so the
        member folds deltas AND retracts deletes through IncrementalFused --
        a live fabrication/unit-mixup alarm per partition. ``holds`` gates
        the partition MAD at the Nigrini band chosen by ``mad_gate``;
        rollup_benford(name) gives the global verdict from the same partials.
        """
        from pyspark_validator.checks.benford import (
            _MAD_BANDS,
            benford_expected,
            first_digit_expr,
        )

        n = _ident(name)
        if mad_gate not in ("close", "acceptable", "marginal"):
            raise ValueError("mad_gate must be close|acceptable|marginal")
        d = first_digit_expr(F.col(column), 1)
        exprs = [F.sum(d.isNotNull().cast("long")).alias(f"{n}__n")]
        exprs += [
            F.sum((d == i).cast("long")).alias(f"{n}__d{i}") for i in range(1, 10)
        ]
        p_exp = benford_expected(1)
        close, acceptable, marginal = _MAD_BANDS[1]
        gate = {"close": close, "acceptable": acceptable, "marginal": marginal}[
            mad_gate
        ]

        def _mad(g_n: Column) -> Column:
            terms = [
                F.abs(F.col(f"{n}__d{i}") / g_n - F.lit(p_exp[i]))
                for i in range(1, 10)
            ]
            return sum(terms[1:], terms[0]) / F.lit(9.0)

        def finish(g: DataFrame) -> DataFrame:
            nn = F.col(f"{n}__n").cast("double")
            mad = F.when(nn > 0, _mad(nn))
            return g.select(
                "partition_id",
                # empty partition: vacuously holds (no digits to test)
                F.coalesce(mad <= F.lit(gate), F.lit(True)).alias("holds"),
                F.col(f"{n}__n").alias("n"),
                mad.alias("mad"),
            )

        merges = {f"{n}__n": "sum"}
        merges.update({f"{n}__d{i}": "sum" for i in range(1, 10)})
        self._rollups[n] = gate
        return self._add(_Member(n, exprs, merges, finish))

    def add_class_balance(
        self,
        name: str,
        column: str,
        expected: dict[str, float],
        max_psi: float = 0.1,
        alpha: float = 0.5,
    ) -> "FusedPass":
        """Categorical balance gate vs a GIVEN class distribution per
        partition (checks/drift.py::class_balance semantics -- the label-shift
        check): k+1 conditional sums (classes + implicit '__other__'), pure
        sums so it folds deltas AND retracts deletes through
        IncrementalFused."""
        n = _ident(name)
        if not expected:
            raise ValueError("expected must name at least one class")
        eps = 1e-12
        other_p = max(1.0 - sum(expected.values()), eps)
        keys = sorted(expected)
        c = F.col(column)
        exprs = [F.sum(c.isNotNull().cast("long")).alias(f"{n}__n")]
        exprs += [
            F.sum((c == k).cast("long")).alias(f"{n}__c{i}")
            for i, k in enumerate(keys)
        ]
        q = [max(expected[k], eps) for k in keys]
        kk = len(keys)

        def finish(g: DataFrame) -> DataFrame:
            nn = F.col(f"{n}__n").cast("double")
            obs = [F.col(f"{n}__c{i}") for i in range(len(keys))]
            other = F.col(f"{n}__n") - sum(obs[1:], obs[0])
            psi = F.lit(0.0)
            for o, qi in zip(obs, q):
                p = (o + F.lit(alpha)) / (nn + F.lit(alpha * kk))
                psi = psi + (p - F.lit(qi)) * F.log(p / F.lit(qi))
            # '__other__' unsmoothed, 0 when empty (class_balance semantics)
            p_o = other / nn
            psi = psi + F.when(
                other > 0,
                (p_o - F.lit(other_p)) * F.log(p_o / F.lit(other_p)),
            ).otherwise(F.lit(0.0))
            psi = F.when(nn > 0, psi)  # empty partition: no verdict basis
            return g.select(
                "partition_id",
                F.coalesce(psi <= F.lit(max_psi), F.lit(True)).alias("holds"),
                F.col(f"{n}__n").alias("n"),
                psi.alias("psi"),
            )

        merges = {f"{n}__n": "sum"}
        merges.update({f"{n}__c{i}": "sum" for i in range(len(keys))})
        return self._add(_Member(n, exprs, merges, finish))

    # ---- execution --------------------------------------------------------

    def grouped(self) -> DataFrame:
        """The shared P-row aggregate: one full-width scan, one map-side-
        combinable shuffle of P rows. Persisted -- every verdict slice and
        rollup reads these P rows.

        Members whose expression families measurably poison a shared pass
        (the HLL sketch's ObjectHashAggregate demotion; the pii pattern
        family's multiplicative regex interference with the BPE-lambda
        members -- both measured, see ``_Member.group`` and BASELINE.md
        round-5) are aggregated in thin COMPANION passes joined back on
        partition_id, each column-pruned to its own inputs. The one-scan
        story degrades to one full-width scan plus at most two thin
        single-column scans, and every "main" member keeps whole-stage
        codegen and a JIT-monomorphic hot loop."""
        if self._grouped is None:
            self._grouped = self._aggregate(self.df).persist()
        return self._grouped

    def _aggregate(self, df: DataFrame) -> DataFrame:
        """The members' partial aggregation over ``df`` (shared by
        ``grouped()`` and the incremental delta fold): one physical
        aggregation per distinct ``_Member.group`` (see the dataclass note
        for the two measured poison pairs that make grouping necessary),
        joined on partition_id and reordered to the unsplit schema so
        verdict slices, rollups, and the incremental fold never see the
        difference."""
        if not self._members:
            raise ValueError("no checks registered")
        members = list(self._members.values())
        key = self._pid.alias("partition_id")
        groups: dict[str, list[_Member]] = {}
        for m in members:
            groups.setdefault(m.group, []).append(m)
        if len(groups) == 1:
            return df.groupBy(key).agg(*[e for m in members for e in m.exprs])
        # schema of the unsplit aggregate (analysis only, no job): the join
        # result is reordered to match it exactly.
        order = df.groupBy(key).agg(
            *[e for m in members for e in m.exprs]
        ).columns
        frames = [
            df.groupBy(key).agg(*[e for m in ms for e in m.exprs])
            for ms in groups.values()
        ]
        out = frames[0]
        for f in frames[1:]:
            out = out.join(f, "partition_id")
        return out.select(*order)

    def verdict(self, name: str) -> DataFrame:
        return self._members[name].finish(self.grouped())

    def verdicts(self) -> dict[str, DataFrame]:
        g = self.grouped()
        return {n: m.finish(g) for n, m in self._members.items()}

    def rollup_nar(self, name: str) -> DataFrame:
        """Global NAR qualities from the per-partition partials -- identical
        to NARCheck.qualities() on the same rule (counts are algebraically
        mergeable, so fusing loses nothing)."""
        inclusion = self._rollups[name]
        n = name
        agg = self.grouped().agg(
            F.sum(f"{n}__n_rows").alias("n_rows"),
            F.sum(f"{n}__n_fit_ante").alias("n_fit_ante"),
            F.sum(f"{n}__n_fit_both").alias("n_fit_both"),
        )
        support = F.col("n_fit_both") / F.col("n_rows")
        zero = (F.col("n_fit_ante") == 0) | (F.col("n_fit_both") == 0)
        confidence = F.col("n_fit_both") / F.col("n_fit_ante")
        fitness = (confidence + support + F.lit(inclusion)) / F.lit(3.0)
        return agg.select(
            "n_rows",
            "n_fit_ante",
            "n_fit_both",
            F.when(zero, 0.0).otherwise(support).alias("support"),
            F.when(zero, 0.0).otherwise(confidence).alias("confidence"),
            F.when(zero, 0.0).otherwise(fitness).alias("fitness"),
        )

    def rollup_benford(self, name: str) -> DataFrame:
        """Global Benford verdict from a ``benford`` member's partials:
        identical to checks/benford.py summary() MAD/holds on the same column
        (digit counts are pure sums, so fusing loses nothing)."""
        from pyspark_validator.checks.benford import benford_expected

        gate = self._rollups[name]
        n = name
        p_exp = benford_expected(1)
        agg = self.grouped().agg(
            F.sum(f"{n}__n").alias("n"),
            *[F.sum(f"{n}__d{i}").alias(f"d{i}") for i in range(1, 10)],
        )
        nn = F.col("n").cast("double")
        terms = [
            F.abs(F.col(f"d{i}") / nn - F.lit(p_exp[i])) for i in range(1, 10)
        ]
        mad = sum(terms[1:], terms[0]) / F.lit(9.0)
        return agg.select(
            "n",
            mad.alias("mad"),
            (mad <= F.lit(gate)).alias("holds"),
        )

    def rollup_distinct(self, name: str) -> DataFrame:
        """Global distinct estimate from a ``distinct`` member: union the P
        partition sketches (a P-row agg -- the whole point of carrying a
        mergeable sketch instead of a count)."""
        m = self._members[name]
        if f"{name}__hll" not in m.merges:
            raise ValueError(f"{name!r} is not a distinct member")
        return self.grouped().agg(
            F.sum(f"{name}__n_rows").alias("n_rows"),
            F.hll_sketch_estimate(F.hll_union_agg(f"{name}__hll")).alias(
                "distinct_est"
            ),
        )

    def unpersist(self) -> None:
        if self._grouped is not None:
            self._grouped.unpersist()


class IncrementalFused:
    """Incremental maintenance of a FusedPass's grouped partials.

    Because every fused aggregate is algebraically mergeable (sum/min/max --
    see ``_Member.merges``), an append-only delta's partials fold into the
    stored per-partition state: verdicts over a 10^12-row table refresh at
    DELTA cost, rescanning nothing. State is the same append-only log as
    incremental.py (``checkpoint.StateLog``): ``initialize`` appends the base
    partials, ``apply_delta`` appends only the delta's partials, and a read
    merges the live batches of the requested partitions with
    ``_merge_exprs()``; ``compact`` folds the log into a new base.

    Deletions are supported exactly where the algebra allows: members whose
    partials merge purely by ``sum`` (nar, ac, row_predicate, completeness,
    histogram_drift, type_conformance, span_integrity) retract by appending a
    NEGATED delete-partial; min/max
    (numeric_profile) and HLL sketches (distinct) are not retractable, so
    ``apply_delta(deletes=...)`` refuses when such a member is registered --
    the same insert-focused posture as the reference's dynamic verifiers
    (dynamic_position_list_index.h:32-34), made explicit per member. Deletes
    must reference previously inserted rows (DynPLI's precondition); the
    engine does not re-derive row existence from the aggregated state.
    """

    def __init__(self, fp: FusedPass, state_path: str):
        from pyspark_validator.checkpoint import StateLog

        self.fp = fp
        self.state = StateLog(
            fp.df.sparkSession, state_path, self._partial(fp.df).schema
        )

    def _partial(self, df: DataFrame) -> DataFrame:
        return self.fp._aggregate(df)

    def initialize(self, df: DataFrame | None = None) -> None:
        """Full pass over the base table (the one unavoidable scan)."""
        base = df if df is not None else self.fp.df
        self.state.append(self._partial(base), base=True)

    def _merge_exprs(self) -> list[Column]:
        fns = {"sum": F.sum, "min": F.min, "max": F.max,
               "hll_union": F.hll_union_agg}
        return [
            fns[op](alias).alias(alias)
            for m in self.fp._members.values()
            for alias, op in m.merges.items()
        ]

    def _fold(self, partials: DataFrame) -> DataFrame:
        return partials.groupBy("partition_id").agg(*self._merge_exprs())

    def apply_delta(
        self,
        inserts: DataFrame | None = None,
        deletes: DataFrame | None = None,
    ) -> list[int]:
        """Append a delta batch's partials (one agg job over the delta;
        nothing stored is read or rewritten). Returns the touched partition
        ids (pass them to ``verdicts`` for the refreshed slice)."""
        if inserts is None and deletes is None:
            raise ValueError("apply_delta needs inserts and/or deletes")
        if deletes is not None:
            bad = [
                m.name
                for m in self.fp._members.values()
                if any(op != "sum" for op in m.merges.values())
            ]
            if bad:
                raise ValueError(
                    "deletes need every member's partials to be retractable "
                    f"(all-'sum' merges); non-retractable members: {bad}"
                )
        parts = []
        if inserts is not None:
            parts.append(self._partial(inserts))
        if deletes is not None:
            d = self._partial(deletes)
            parts.append(
                d.select(
                    "partition_id",
                    *[
                        (-F.col(c)).alias(c)
                        for c in d.columns
                        if c != "partition_id"
                    ],
                )
            )
        partial = parts[0]
        for p in parts[1:]:
            partial = partial.unionByName(p)
        return self.state.append(partial)

    def compact(self) -> None:
        """Fold the log into one new base (see ``StateLog.compact``)."""
        self.state.compact(self._fold)

    def grouped(self, partition_ids: list[int] | None = None) -> DataFrame:
        return self._fold(self.state.read(partition_ids))

    def verdict(
        self, name: str, partition_ids: list[int] | None = None
    ) -> DataFrame:
        return self.fp._members[name].finish(self.grouped(partition_ids))

    def verdicts(
        self, partition_ids: list[int] | None = None
    ) -> dict[str, DataFrame]:
        g = self.grouped(partition_ids)
        return {n: m.finish(g) for n, m in self.fp._members.items()}
