"""Streaming validation: continuous constraint checking over a document stream.

The reference has no streaming operators; its dynamic verifiers (batch
insert/delete deltas, dynamic_fd_verifier.h:20-45) are the semantic precedent --
see SURVEY.md section 2.8. This module lifts the incremental count-state engine
(incremental.py) into Structured Streaming two ways:

  * ``attach_incremental`` -- readStream -> foreachBatch(apply_delta): every
    micro-batch is an insert delta appended to the state log as one batch of
    signed counts, and per-partition verdicts for TOUCHED partitions are
    handed to a verdict callback.
    This is exactly the "dynamic verifier" loop, with Spark's checkpointLocation
    giving exactly-once batch replay on restart.
  * ``streaming_violation_counts`` -- a pure Structured Streaming aggregation:
    windowed duplicate-key counts with a watermark (late data handled by Spark's
    state store), for dashboards that want live violation pressure rather than
    exact global verdicts.
  * ``streaming_rule_qualities`` -- windowed NAR support/confidence
    monitoring (checks/nar.py semantics) for "is this invariant degrading"
    dashboards.
  * ``attach_incremental_fused`` -- the same foreachBatch loop over a
    fused.IncrementalFused engine: EVERY member check of a FusedPass (NAR, AC,
    completeness, numeric profile, drift, ...) stays live over the stream for
    one delta-sized agg job per micro-batch, and the callback receives the
    touched-partition slice of each member's verdicts.
  * ``streaming_dedup`` -- exact content dedup on a stream via
    ``dropDuplicatesWithinWatermark`` over the batch pipeline's 8-byte
    normalized-content key; state bounded by rate x watermark horizon.
  * ``streaming_quality_gate`` -- the batch quality gate as a stateless
    streaming filter (pure per-row JVM exprs, no state, no watermark).
  * ``streaming_numeric_drift`` / ``streaming_categorical_drift`` -- per-window
    PSI (+ chi-square, + binned-ECDF KS for numeric) against a FROZEN baseline
    histogram/frequency table (checks/drift.py::numeric_baseline /
    categorical_baseline): the north star's sketched-histogram drift path on a
    live stream. One stateful windowed agg holds the whole histogram as
    num_bins+2 conditional sums (one state row per window, no raw values);
    the test statistics are stateless expressions over that row and match the
    batch checks/drift.py rollup exactly on equal data.
  * ``streaming_gap_check`` -- a CUSTOM STATEFUL operator via
    applyInPandasWithState: the per-key sequential-dependency gap check
    (checks/sd.py single-scan semantics) continued ACROSS micro-batches by
    keeping each key's last (order, value) in the state store. Not expressible
    as a windowed agg -- the transition depends on the previous row however
    long ago it arrived.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from pyspark_validator.incremental import IncrementalFD, IncrementalUCC


def attach_incremental(
    stream: DataFrame,
    engine: IncrementalUCC | IncrementalFD,
    checkpoint_location: str,
    on_batch_verdicts: Callable[[DataFrame, int], None] | None = None,
) -> DataStreamWriter:
    """Wire a streaming DataFrame of inserts into an incremental engine.

    Returns the un-started DataStreamWriter so callers pick the trigger
    (``.trigger(availableNow=True)`` for backfill, processingTime for live).
    ``on_batch_verdicts(verdicts_df, batch_id)`` receives the touched-partition
    verdicts after each batch merge.
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if not engine.state.live_batches():
            engine.initialize(batch_df)
            verdicts = engine.verdicts()
        else:
            verdicts = engine.apply_delta(inserts=batch_df)
        if on_batch_verdicts is not None:
            on_batch_verdicts(verdicts, batch_id)

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_location)
        .outputMode("update")
    )


def attach_incremental_fused(
    stream: DataFrame,
    engine: "IncrementalFused",  # noqa: F821 -- imported lazily below
    checkpoint_location: str,
    on_batch_verdicts: Callable[[dict[str, DataFrame], int], None] | None = None,
) -> DataStreamWriter:
    """Wire a streaming DataFrame of inserts into a fused incremental engine.

    Each micro-batch folds into the shared per-partition state with ONE
    delta-sized agg job (fused.IncrementalFused.apply_delta), so k member
    checks are maintained for the cost of one scan of the batch.
    ``on_batch_verdicts({name: verdicts_df}, batch_id)`` receives every
    member's verdicts restricted to the partitions the batch touched (the
    full slice on the initializing batch).
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if not engine.state.live_batches():
            engine.initialize(batch_df)
            touched = None  # every stored partition is from this batch
        else:
            touched = engine.apply_delta(batch_df)
            if not touched:
                return
        if on_batch_verdicts is not None:
            on_batch_verdicts(engine.verdicts(touched), batch_id)

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_location)
        .outputMode("update")
    )


def streaming_gap_check(
    stream: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    g1: float = 0.0,
    g2: float = float("inf"),
) -> DataFrame:
    """Per-key streaming SD gap check (custom stateful operator).

    Each key's rows are consumed in ``order_col`` order within a batch and
    stitched to the key's last row from ANY previous batch via the state
    store; every adjacent gap outside [g1, g2] emits a violation row
    (kind 'deletion' for delta < g1 -- which also covers out-of-order
    arrivals -- and 'insertion' for delta > g2, the same single-scan
    classification as checks/sd.py violations()). State per key is four
    scalars, so the state store stays O(#keys) regardless of stream length.

    Returns the transformed streaming DataFrame; write it with outputMode
    'append'.
    """
    import pandas as pd  # noqa: PLC0415 -- worker-side import kept local
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    key_fields = [stream.schema[c] for c in key_cols]
    out_schema = StructType(
        key_fields
        + [
            StructField("left_o", DoubleType()),
            StructField("right_o", DoubleType()),
            StructField("val_left", DoubleType()),
            StructField("val_right", DoubleType()),
            StructField("delta", DoubleType()),
            StructField("kind", StringType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_o", DoubleType()),
            StructField("last_v", DoubleType()),
            StructField("n_seen", LongType()),
            StructField("n_violations", LongType()),
        ]
    )
    g1_f, g2_f = float(g1), float(g2)

    def check(key: tuple, pdfs, state: GroupState):
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(order_col, kind="mergesort")
        if state.exists:
            last_o, last_v, n_seen, n_viol = state.get
        else:
            last_o = last_v = None
            n_seen = n_viol = 0
        out = []
        for o, v in zip(
            rows[order_col].astype("float64"), rows[value_col].astype("float64")
        ):
            if last_o is not None:
                delta = v - last_v
                kind = (
                    "deletion"
                    if delta < g1_f
                    else ("insertion" if delta > g2_f else None)
                )
                if kind is not None:
                    out.append(
                        key + (last_o, o, last_v, v, delta, kind)
                    )
            last_o, last_v = float(o), float(v)
            n_seen += 1
        n_viol += len(out)
        state.update((last_o, last_v, n_seen, n_viol))
        yield pd.DataFrame(out, columns=[f.name for f in out_schema.fields])

    return (
        stream.groupBy(*key_cols)
        .applyInPandasWithState(
            check, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


def streaming_violation_counts(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Windowed duplicate pressure: per (window, key) occurrence counts > 1.

    Pure Structured Streaming stateful aggregation -- watermarked, so late rows
    within ``watermark`` still land in their window and older state is evicted.
    Emit mode is the caller's choice; 'update' shows counts as they grow.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("w"), *key_cols)
        .agg(F.count(F.lit(1)).alias("occurrences"))
        .filter(F.col("occurrences") > 1)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *key_cols,
            "occurrences",
        )
    )


def streaming_rule_qualities(
    stream: DataFrame,
    ante: dict,
    cons: dict,
    ts_col: str,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Windowed NAR rule monitoring: per-window support/confidence of a rule
    (checks/nar.py semantics) over a document stream -- live "is this
    invariant degrading" pressure, the streaming analog of NARCheck.

    Pure watermarked aggregation (conditional sums are map-side combinable in
    the state store); confidence is null for windows with no antecedent rows.
    """
    from pyspark_validator.checks.nar import _fits

    fits_ante = _fits(stream, ante)
    fits_both = fits_ante & _fits(stream, cons)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(fits_ante.cast("long")).alias("n_fit_ante"),
            F.sum(fits_both.cast("long")).alias("n_fit_both"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_rows",
            "n_fit_ante",
            "n_fit_both",
            (F.col("n_fit_both") / F.col("n_rows")).alias("support"),
            F.when(
                F.col("n_fit_ante") > 0,
                F.col("n_fit_both") / F.col("n_fit_ante"),
            ).alias("confidence"),
        )
    )


def streaming_dedup(
    stream: DataFrame,
    text_col: str = "text",
    event_time_col: str = "ts",
    watermark: str = "10 minutes",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Streaming exact dedup: drop re-arrivals of the same content.

    The dedup key defaults to ``xxhash64(lower(trim(text)))`` -- the same
    normalized-content key as the batch exact dedup
    (pipelines/dedup.py::exact_duplicates) -- so the state store keeps ONE
    8-byte key per distinct document, never the text.
    ``dropDuplicatesWithinWatermark`` evicts a key once the watermark passes
    its arrival time, so state is bounded by rate x watermark horizon; plain
    ``dropDuplicates`` on a stream would grow state forever.  Pass
    ``key_cols`` to dedup on explicit columns instead (no derived key).
    """
    if key_cols is None:
        from pyspark_validator.pipelines.text import normalize_text

        stream = stream.withColumn(
            "_content_key", F.xxhash64(normalize_text(F.col(text_col)))
        )
        key_cols = ["_content_key"]
    return stream.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def streaming_session_stats(
    stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-(user, session) stats over a live event stream via Spark's NATIVE
    session windows (``F.session_window``): state is one OPEN window per
    active user, merged as events arrive; the watermark closes a session
    ``watermark`` after its last event and emits exactly one final row — the
    streaming counterpart of ``pipelines/sessions.py::session_stats``.

    Boundary note (pinned by the batch-parity test): ``session_window``
    merges an event strictly inside prev + gap (a gap EQUAL to ``gap``
    breaks), while the batch ``sessionize`` breaks only on gap > threshold —
    the two agree on any stream without exact-boundary gaps (measure zero
    for microsecond event times).  Also works on a static DataFrame (Spark
    supports session windows in batch), which is how the parity law is
    tested without a state store."""
    w = stream.withWatermark(ts_col, watermark) if stream.isStreaming else stream
    return (
        w.groupBy(
            F.session_window(F.col(ts_col), gap).alias("sw"), F.col(user_col)
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
        .select(
            user_col,
            "session_start",
            "session_end",
            F.col("n_events").cast("bigint").alias("n_events"),
            (
                (
                    F.unix_micros(F.col("session_end").cast("timestamp"))
                    - F.unix_micros(F.col("session_start").cast("timestamp"))
                )
                / F.lit(1_000_000.0)
            ).alias("duration_sec"),
        )
    )


def streaming_decontaminate(
    stream: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 8,
    keep_contaminated: bool = False,
) -> DataFrame:
    """Benchmark decontamination as a STATELESS stream gate: per incoming doc,
    count its word n-gram instances whose xxhash64 is in the benchmark's
    distinct gram-hash set (pipelines/curation.py::contamination_gram_hashes)
    and drop contaminated docs (or keep + flag with
    ``keep_contaminated=True``).

    The batch :func:`~pyspark_validator.pipelines.curation.decontaminate`
    explodes grams and joins — on a stream the regrouping would be a stateful
    aggregation, so the gate instead tests membership per row: one
    Arrow-batched pandas UDF doing ``np.searchsorted`` against the sorted
    benchmark hash array (bounded driver artifact — eval suites are KBs-MBs).
    Zero state, no watermark, no shuffle; counts match the batch check
    bit-for-bit (same tokenization, same hashes — pinned by the parity test).
    Works on static frames too (how parity is tested)."""
    from pyspark.sql.functions import pandas_udf

    from pyspark_validator.pipelines.curation import contamination_gram_hashes

    bench = contamination_gram_hashes(benchmark, text_col, n)

    @pandas_udf("long")
    def _member_count(grams: pd.Series) -> pd.Series:
        if len(grams) == 0:
            return pd.Series([], dtype="int64")
        lens = np.array([len(g) for g in grams], dtype=np.int64)
        if len(bench) == 0 or lens.sum() == 0:
            return pd.Series(np.zeros(len(grams), dtype=np.int64))
        flat = np.concatenate(
            [np.asarray(g, dtype=np.int64) for g in grams if len(g)]
        )
        pos = np.searchsorted(bench, flat)
        pos[pos == len(bench)] = 0
        hit = (bench[pos] == flat).astype(np.int64)
        # segment sums over only the non-empty docs, then scatter back
        nz = lens > 0
        starts = np.concatenate([[0], np.cumsum(lens[nz])[:-1]])
        per_doc = np.zeros(len(grams), dtype=np.int64)
        per_doc[nz] = np.add.reduceat(hit, starts)
        return pd.Series(per_doc)

    # Generate barrier: materialize the words array once per row — without it
    # CollapseProject re-inlines the regex split once PER GRAM (the measured
    # 20x _exploded_grams pathology; same fix, explode of a 1-element array)
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    with_w = stream.withColumn("_w", F.explode(F.array(words)))
    idx = F.when(
        F.size("_w") >= n, F.sequence(F.lit(1), F.size("_w") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    gram_hashes = F.transform(
        idx, lambda i: F.xxhash64(F.array_join(F.slice("_w", i, n), " "))
    )
    out = (
        with_w.withColumn("n_contaminated_grams", _member_count(gram_hashes))
        .withColumn("contaminated", F.col("n_contaminated_grams") > 0)
        .drop("_w")
    )
    return out if keep_contaminated else out.filter(~F.col("contaminated"))


def streaming_contamination_fraction(
    stream: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 8,
    min_frac: float = 0.7,
    keep_contaminated: bool = False,
) -> DataFrame:
    """Coverage-fraction decontamination (the PaLM-style rule of
    pipelines/curation.py::contamination_fraction) as a STATELESS stream gate:
    per incoming doc, the MAX over benchmark items of (distinct item grams
    found in the doc) / (distinct item grams); drop docs with max coverage >=
    ``min_frac`` (or keep + flag with ``keep_contaminated=True``).

    The batch check joins exploded grams -- stateful on a stream -- so the
    gate tests per row against the driver-side per-item gram index
    (curation.py::contamination_item_gram_index): one Arrow-batched pandas UDF
    that (1) dedups each doc's gram hashes (lexsort mask, no per-doc python),
    (2) range-expands searchsorted hits into (doc, item) pairs -- each pair
    occurrence IS one distinct shared gram because both sides are distinct --
    and (3) folds per-(doc, item) counts into a per-doc max via
    ``np.maximum.at``. Zero state, no watermark, no shuffle; fractions match
    the batch check bit-for-bit (parity-pinned). Works on static frames too.

    Adds ``max_benchmark_coverage`` (0.0 when the doc shares no gram) and
    ``contaminated``.
    """
    from pyspark.sql.functions import pandas_udf

    from pyspark_validator.pipelines.curation import contamination_item_gram_index

    keys, items, sizes = contamination_item_gram_index(
        benchmark, text_col=text_col, n=n
    )
    n_items = int(sizes.size)

    @pandas_udf("double")
    def _max_cov(grams: pd.Series) -> pd.Series:
        m = len(grams)
        if m == 0:
            return pd.Series([], dtype="float64")
        acc = np.zeros(m, dtype=np.float64)
        lens = np.array([len(g) for g in grams], dtype=np.int64)
        if keys.size == 0 or lens.sum() == 0:
            return pd.Series(acc)
        doc_idx = np.repeat(np.arange(m, dtype=np.int64), lens)
        flat = np.concatenate(
            [np.asarray(g, dtype=np.int64) for g in grams if len(g)]
        )
        # distinct (doc, gram): sort by (doc, gram), mask repeats
        order = np.lexsort((flat, doc_idx))
        d, f = doc_idx[order], flat[order]
        first = np.ones(d.size, dtype=bool)
        first[1:] = (d[1:] != d[:-1]) | (f[1:] != f[:-1])
        d, f = d[first], f[first]
        left = np.searchsorted(keys, f, side="left")
        right = np.searchsorted(keys, f, side="right")
        cnt = right - left
        tot = int(cnt.sum())
        if tot:
            starts = np.cumsum(cnt) - cnt
            expand = np.repeat(left, cnt) + (
                np.arange(tot, dtype=np.int64) - np.repeat(starts, cnt)
            )
            pair = np.repeat(d, cnt) * n_items + items[expand]
            uniq, c = np.unique(pair, return_counts=True)
            np.maximum.at(acc, uniq // n_items, c / sizes[uniq % n_items])
        return pd.Series(acc)

    # Generate barrier: materialize the words array once per row (the
    # CollapseProject re-split pathology; same fix as streaming_decontaminate)
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    with_w = stream.withColumn("_w", F.explode(F.array(words)))
    idx = F.when(
        F.size("_w") >= n, F.sequence(F.lit(1), F.size("_w") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    gram_hashes = F.transform(
        idx, lambda i: F.xxhash64(F.array_join(F.slice("_w", i, n), " "))
    )
    out = (
        with_w.withColumn("max_benchmark_coverage", _max_cov(gram_hashes))
        .withColumn(
            "contaminated", F.col("max_benchmark_coverage") >= F.lit(min_frac)
        )
        .drop("_w")
    )
    return out if keep_contaminated else out.filter(~F.col("contaminated"))


def streaming_quality_gate(
    stream: DataFrame, text_col: str = "text", min_quality: float = 0.3
) -> DataFrame:
    """Stateless quality filter for a document stream.

    ``pipelines/text.py::quality_score`` is pure per-row JVM expressions, so
    it composes with Structured Streaming with zero state and no watermark --
    this wrapper exists to pin that property with a test (and to give the
    stream the same gate semantics as the batch pipeline).
    """
    from pyspark_validator.pipelines.text import quality_score

    return quality_score(stream, text_col=text_col).where(
        F.col("quality") >= min_quality
    )


def _streaming_hist_drift(
    stream: DataFrame,
    bucket,
    ts_col: str,
    base_counts: list[int],
    window_duration: str,
    watermark: str,
    alpha: float,
    psi_threshold: float,
    ks_threshold: float | None,
) -> DataFrame:
    """Shared windowed-histogram drift core: ONE stateful windowed agg builds
    the whole per-window histogram as len(base_counts) conditional sums (the
    simhash-style wide-agg pattern -- map-side combinable, state is one row
    per window), then PSI / chi-square / (optionally) binned-ECDF KS are pure
    stateless expressions over that row, mirroring checks/drift.py's
    _psi_chi2_rollup smoothing exactly (k = buckets observed in either side;
    absent-in-both buckets contribute no PSI/chi2 term)."""
    m = len(base_counts)
    n_b = sum(base_counts)
    if n_b <= 0:
        raise ValueError("baseline histogram is empty")
    hist = (
        stream.select(F.col(ts_col).alias("__ts"), bucket.alias("__b"))
        .where(F.col("__b").isNotNull())
        .withWatermark("__ts", watermark)
        .groupBy(F.window(F.col("__ts"), window_duration).alias("w"))
        .agg(
            *[
                F.sum((F.col("__b") == F.lit(i)).cast("long")).alias(f"c_{i}")
                for i in range(m)
            ]
        )
    )
    c = [F.coalesce(F.col(f"c_{i}"), F.lit(0)) for i in range(m)]
    b = [F.lit(int(x)) for x in base_counts]
    n_c = c[0]
    for x in c[1:]:
        n_c = n_c + x
    seen = [(c[i] + b[i]) > 0 for i in range(m)]
    k = F.lit(0)
    for s in seen:
        k = k + s.cast("int")
    psi = F.lit(0.0)
    chi2 = F.lit(0.0)
    for i in range(m):
        p_b = (b[i] + F.lit(alpha)) / (F.lit(float(n_b)) + F.lit(alpha) * k)
        p_c = (c[i] + F.lit(alpha)) / (n_c.cast("double") + F.lit(alpha) * k)
        psi = psi + F.when(seen[i], (p_c - p_b) * F.log(p_c / p_b)).otherwise(
            F.lit(0.0)
        )
        pooled = (b[i] + c[i]) / (F.lit(float(n_b)) + n_c)
        e_b, e_c = pooled * F.lit(float(n_b)), pooled * n_c
        chi2 = chi2 + F.when(
            seen[i],
            F.pow(b[i] - e_b, F.lit(2.0)) / e_b
            + F.pow(c[i] - e_c, F.lit(2.0)) / e_c,
        ).otherwise(F.lit(0.0))
    cols = [
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        n_c.alias("n_c"),
        k.alias("n_buckets"),
        psi.alias("psi"),
        chi2.alias("chi2"),
    ]
    flag = psi > F.lit(psi_threshold)
    if ks_threshold is not None:
        cum_b, cum_c, terms = 0, F.lit(0).cast("long"), []
        for i in range(m):
            cum_b += int(base_counts[i])
            cum_c = cum_c + c[i]
            terms.append(
                F.abs(
                    F.lit(cum_b / n_b) - cum_c.cast("double") / n_c
                )
            )
        ks = F.greatest(*terms) if len(terms) > 1 else terms[0]
        cols.append(ks.alias("ks_stat"))
        flag = flag | (ks > F.lit(ks_threshold))
    return hist.select(*cols, flag.alias("drift_detected"))


def streaming_numeric_drift(
    stream: DataFrame,
    column: str,
    ts_col: str,
    baseline: dict,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
    alpha: float = 0.5,
    psi_threshold: float = 0.2,
    ks_threshold: float = 0.1,
) -> DataFrame:
    """Per-window numeric drift against a FROZEN baseline histogram
    (checks/drift.py::numeric_baseline): the north star's sketched-histogram
    drift path lifted onto Structured Streaming. Binning is byte-identical to
    the batch numeric_drift (equi-width over [lo, hi], sentinel bins for
    under/overflow, NULLs dropped), so a window whose data equals the batch
    'current' slice reports the same psi/chi2/ks_stat as the batch check.

    State per window is ONE row of num_bins+2 counters -- no raw values are
    retained, late rows inside ``watermark`` still land in their window, and
    the emitted row per closed window carries psi + chi2 + binned-ECDF KS +
    drift_detected. Output modes: append (after watermark) / update /
    complete all work; the agg is a plain windowed groupBy."""
    lo, hi, nb = baseline["lo"], baseline["hi"], baseline["num_bins"]
    width = (hi - lo) / nb if hi > lo else 1.0
    x = F.col(column).cast("double")
    bucket0 = F.least(
        F.greatest(F.floor((x - F.lit(lo)) / F.lit(width)), F.lit(-1)),
        F.lit(nb),
    )
    # shift [-1 .. nb] -> [0 .. nb+1] to index the count list
    bucket = F.when(x.isNotNull(), bucket0 + F.lit(1))
    return _streaming_hist_drift(
        stream,
        bucket,
        ts_col,
        [int(v) for v in baseline["counts"]],
        window_duration,
        watermark,
        alpha,
        psi_threshold,
        ks_threshold,
    )


def streaming_categorical_drift(
    stream: DataFrame,
    column: str,
    ts_col: str,
    baseline: dict,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
    alpha: float = 0.5,
    psi_threshold: float = 0.2,
) -> DataFrame:
    """Per-window categorical drift against a FROZEN frequency table
    (checks/drift.py::categorical_baseline): values outside the baseline's
    top-k vocabulary (and NULL) pool into the OTHER bucket, so the streaming
    state stays bounded regardless of live cardinality -- the fixed-vocab
    variant of the batch categorical_drift. PSI + chi-square per window; no
    KS (categories are unordered)."""
    values = baseline["values"]
    lookup = F.create_map(
        *[e for i, v in enumerate(values) for e in (F.lit(v), F.lit(i))]
    )
    bucket = F.coalesce(
        lookup[F.col(column).cast("string")], F.lit(len(values))
    )
    return _streaming_hist_drift(
        stream,
        bucket,
        ts_col,
        [int(v) for v in baseline["counts"]] + [int(baseline["other_count"])],
        window_duration,
        watermark,
        alpha,
        psi_threshold,
        None,
    )


def streaming_span_gate(
    stream: DataFrame,
    spans_col: str = "spans",
) -> DataFrame:
    """Stateless span-integrity gate for a stream of interleaved documents:
    adds ``span_ok`` plus the four per-document violation flags from
    ``schema.span_violation_flags`` (bad kind, text-span without text,
    media-span without media_ref, offset disorder). Every flag is a pure
    per-row JVM expression, so this composes with Structured Streaming with
    ZERO state and no watermark -- route ``span_ok`` downstream / quarantine
    exactly like the batch ``schema.quarantine_by_integrity`` split (same
    flag exprs, so batch/stream verdicts agree bit-for-bit)."""
    from pyspark_validator.schema import _any_violation, span_violation_flags

    flags = span_violation_flags(spans_col)
    out = stream
    for name, col in flags.items():
        out = out.withColumn(f"viol_{name}", col)
    return out.withColumn("span_ok", ~_any_violation(flags))


def streaming_layout_gate(
    stream: DataFrame,
    bloom,
    num_bits: int,
    num_hashes: int = 7,
    spans_col: str = "spans",
    len_bucket: int = 16,
    out_col: str = "banned_layout",
) -> DataFrame:
    """Stateless template-quarantine gate for a stream of interleaved
    documents: flags each doc whose STRUCTURAL fingerprint
    (``pipelines/interleaved.py::layout_fingerprint``) may match the standing
    banned-template Bloom filter -- built offline from ``layout_clusters``
    output via ``bloom_words(clusters, key_col="layout_key", ...)``. The
    content never matters: a spam template refilled with fresh words still
    trips the gate. Zero state, no watermark, no shuffle, no false negatives
    (the gate shares the builder's JVM position exprs); flagged docs go to a
    batch resolver, unflagged ones need nothing."""
    from pyspark_validator.pipelines.bloom import bloom_gate
    from pyspark_validator.pipelines.interleaved import layout_fingerprint

    keyed = layout_fingerprint(
        stream, spans_col=spans_col, len_bucket=len_bucket, out_col="__layout",
        key_col="__lk",
    )
    return bloom_gate(
        keyed, bloom, num_bits, num_hashes, key_col="__lk", out_col=out_col
    ).drop("__layout", "__lk")


def streaming_quality_gate_interleaved(
    stream: DataFrame,
    spans_col: str = "spans",
    max_media: int = 32,
    max_media_run: int = 3,
    min_text_tokens: int = 8,
    media_token_cost: int = 256,
) -> DataFrame:
    """Stateless document-level multimodal quality gate for a stream of
    interleaved documents: the MMC4/OBELICS rules from
    ``pipelines/interleaved.py::interleaved_quality_gate`` (media budget,
    image-wall run length, minimum text mass) applied per micro-batch row.
    Every signal is a per-row JVM expression behind one Generate, so this
    composes with Structured Streaming with ZERO state and no watermark, and
    batch/stream verdicts agree bit-for-bit (same exprs). Route ``keep``
    downstream; the flag columns say why a doc was dropped."""
    from .pipelines.interleaved import interleaved_quality_gate

    return interleaved_quality_gate(
        stream,
        spans_col=spans_col,
        max_media=max_media,
        max_media_run=max_media_run,
        min_text_tokens=min_text_tokens,
        media_token_cost=media_token_cost,
    )


def streaming_media_context_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
    spans_col: str = "spans",
) -> DataFrame:
    """Windowed caption-health monitor for a stream of interleaved documents:
    per event-time window, docs / media spans / captioned media counts and
    the caption ratio -- a live crawler-regression alarm (an extractor that
    starts dropping alt-text shows up as a falling ratio within a window or
    two). The per-row counts are the constant-evaluation exprs from
    ``media_context_count_cols``, so the only state is the standard windowed
    sum agg under the watermark."""
    from .pipelines.interleaved import media_context_count_cols

    n_media_doc, n_cap_doc = media_context_count_cols(spans_col)
    t = F.col(ts_col)
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(t, window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_media_doc).alias("n_media"),
            F.sum(n_cap_doc).alias("n_captioned"),
        )
    )
    return agg.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "n_docs",
        "n_media",
        "n_captioned",
        F.try_divide(F.col("n_captioned"), F.col("n_media")).alias(
            "caption_ratio"
        ),
    )


def streaming_bloom_gate(
    stream: DataFrame,
    bloom,
    num_bits: int,
    num_hashes: int = 7,
    text_col: str = "text",
    out_col: str = "maybe_seen",
) -> DataFrame:
    """Stateless streaming membership gate against the standing corpus Bloom
    filter (``pipelines/bloom.py``): flags each streamed document as
    maybe-seen (true duplicate or ~fpp false positive) vs definitely-new.
    The exact batch path anti-joins suspects against the hash index; on a
    stream that join would be stateful, so the gate emits the FLAG and a
    downstream batch job (or foreachBatch) resolves suspects -- rows flagged
    False need no resolution at all (no false negatives: the gate shares the
    builder's JVM position exprs). Zero state, no watermark, no shuffle."""
    from pyspark_validator.pipelines.bloom import bloom_gate, content_fp

    keyed = stream.withColumn("__fp", content_fp(F.col(text_col)))
    return bloom_gate(
        keyed, bloom, num_bits, num_hashes, key_col="__fp", out_col=out_col
    ).drop("__fp")


def streaming_class_balance(
    stream: DataFrame,
    column: str,
    ts_col: str,
    expected: dict,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
    max_psi: float = 0.1,
    alpha: float = 0.5,
) -> DataFrame:
    """Per-event-time-window class-balance monitor vs a GIVEN class
    distribution (checks/drift.py::class_balance semantics, the label-shift
    alarm): k+1 conditional sums per window -- state is one row of longs per
    open window regardless of stream rate, values outside ``expected`` pool
    into '__other__'. Complements streaming_categorical_drift (which
    compares against a frozen OBSERVED census; this compares against an
    ANALYTIC target, e.g. the training mixture spec)."""
    if not expected:
        raise ValueError("expected must name at least one class")
    eps = 1e-12
    other_p = max(1.0 - sum(expected.values()), eps)
    keys = sorted(expected)
    q = [max(expected[kk_], eps) for kk_ in keys]
    kk = len(keys)
    c = F.col(column)
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_duration).alias("w"))
        .agg(
            F.sum(c.isNotNull().cast("long")).alias("n"),
            *[
                F.sum((c == kname).cast("long")).alias(f"__c{i}")
                for i, kname in enumerate(keys)
            ],
        )
    )
    n = F.col("n").cast("double")
    obs = [F.col(f"__c{i}") for i in range(len(keys))]
    other = F.col("n") - sum(obs[1:], obs[0])
    psi = F.lit(0.0)
    for o, qi in zip(obs, q):
        p = (o + F.lit(alpha)) / (n + F.lit(alpha * kk))
        psi = psi + (p - F.lit(qi)) * F.log(p / F.lit(qi))
    # '__other__' unsmoothed, 0 when empty (class_balance semantics)
    p_o = other / n
    psi = psi + F.when(
        other > 0, (p_o - F.lit(other_p)) * F.log(p_o / F.lit(other_p))
    ).otherwise(F.lit(0.0))
    psi = F.when(n > 0, psi)
    return agg.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.col("n"),
        other.cast("bigint").alias("n_other"),
        psi.alias("psi"),
        F.coalesce(psi <= F.lit(max_psi), F.lit(True)).alias("holds"),
    )
