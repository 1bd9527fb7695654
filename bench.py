#!/usr/bin/env python
"""Benchmark harness for the pyspark_validator engine.

Default mode (what the driver runs): executes the headline validation queries
at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``, each query ``$SPARK_GRAFT_REPS`` (default 3)
times in one warm session (steady-state: per-query min + spread), and prints
ONE JSON line::

    {"metric": "...", "value": <total of per-query mins>, "unit": "sec",
     "queries": {"q": min_sec, ...}, "queries_spread": {"q": rel, ...},
     "reps": 3, "first_rep_total": sec, "sf": 0.1, "docs_per_sec": N, ...}

Scaling mode (``python bench.py --scaling [low high]``): re-runs the heavy
validation suite in two fresh subprocesses at two parallelism levels (default
local[1] vs local[4]) on the SAME input and reports throughput at both plus
the scaling efficiency (speedup / core-ratio) — the sandbox stand-in for the
north rule's N-vs-4N-executor criterion (no real cluster available here).

Single-level worker mode (used internally by --scaling):
``python bench.py --scale-worker <cpus> <repeat>`` prints one JSON line with
the heavy-suite wall time at local[<cpus>].
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


HEADLINE = [
    "ucc_lineitem_pk",
    "ucc_docs_doc_id",
    "fd_docs_span_seq",
    "fd_highlights_orders",
    "afd_measures_orders",
    "pfd_lineitem",
    "ind_orders_customer",
    "nd_orders",
    "stats_numeric_lineitem",
    "stats_string_customer",
    "entropy_gini_events",
    "drift_categorical_events",
    "drift_numeric_events",
    "drift_docs_kind",
    "text_token_counts",
    "text_language_id",
    "text_quality",
    "dedup_exact_planted",
    "minhash_lsh_planted",
    "dedup_delta_minhash",
    "simhash_planted",
    "similarity_brute_topk",
    "similarity_ivf_topk",
    "embedding_cosine_dups",
    "stats_deviation_lineitem",
    "pac_events_value",
    "mfd_quantity_orderkey",
    "sd_events_gap",
    "aod_ofd_orders",
    "cfd_orders_priority",
    "ar_events_click_view",
    "dd_part_price_size",
    "dc_orders_price_inversion",
    "cind_orders_customer_open",
    # round 2 additions
    "md_nation_name",
    "md_orders_customer",
    "stats_string_extras",
    "stats_char_customer",
    "ac_ranges_lineitem",
    "ac_exceptions_lineitem",
    "nar_orders_priority",
    "sfd_orders_priority_status",
    "text_line_filter",
    "semantic_dedup_planted",
    # round 2 session 3: fused single-scan multi-check pass
    "fused_suite_orders",
    "fused_distinct_customer",
    # round 2 session 4: schema validation surface (metadata diff is
    # scan-free; the two data-level layers ride the fused member path)
    "schema_verdict_docs",
    "span_integrity_planted",
    "type_conformance_lang",
    "media_ref_integrity_planted",
    # one-pass HLL+CMS+KLL profile (one native aggregation for 3 cols in ONE
    # scan -- the separate builders would pay ~3 scans per column) +
    # real-codec payload conformance
    "sketch_profile_lineitem",
    "media_conformance_planted",
    # round 2 session 5: AOD removal-set witness rows (union semantics) +
    # Gopher repetition gates + PII detection/redaction
    "aod_removal_rows_orders",
    "text_repetition_docs",
    "text_pii_planted",
    # round 2 session 6: pairs -> clusters (iterative large-star/small-star CC)
    "cc_clusters_planted",
    "cc_keep_best_planted",
    # round 2 session 6: training-data curation tier
    "curation_decontam_planted",
    "curation_pack_docs",
    # round 2 session 7: lattice level-2 discovery (TANE/Mind benchmark analogs)
    "discovery_fds_orders",
    "discovery_afds_orders",
    "discovery_ainds_keys",
    "discovery_uccs_lineitem",
    "curation_domain_cap_docs",
    "discovery_binary_inds_keys",
    # round 2 session 8: rule mining over (user, day) event sessions
    "discovery_ars_events",
    # round 2 session 9: FDFirst CFD discovery over a planted near-FD
    "discovery_cfds_orders",
    # round 2 session 10: FASTOD set-based OD discovery (level <= 2 slice)
    "discovery_ods_lineitem",
    # round 2 session 11: PFDTane probabilistic-FD + Split DD discovery
    "discovery_pfds_orders",
    "discovery_dds_lineitem",
    "discovery_mds_orders",
    "discovery_list_ods_orders",
    "discovery_cinds_orders",
    "discovery_nary_inds_orders",
    # round 2 session 13: TANE AFD-measure mining (pdep walk)
    "discovery_afds_tane_orders",
    # round 2 session 16: sorted-neighborhood dedup blocking + prefix-filtered
    # exact Jaccard join (PPJoin-family candidate pruning)
    "dedup_snm_docs",
    "prefix_jaccard_planted",
    "curation_decontam_fuzzy",
    "curation_decontam_semantic",
    # round 2 session 17: delta-vs-corpus dedup, keep-best, sessionization
    "sessionize_events",
    # round 2 session 18: k-NN join + embedding-column conformance +
    # cross-document duplicate spans
    "knn_join_embeddings",
    "embedding_conformance_planted",
    "embedding_violations_planted",
    "dedup_dup_spans_docs",
    "dedup_dup_span_stats_docs",
    "dedup_delta_dup_spans_docs",
    # round 2 session 19: unigram-LM perplexity scoring + containment dedup
    "text_lm_quality",
    "containment_planted",
    "curation_contam_fraction",
    "curation_chunk_docs",
    # round 2 session 19 (late): DSIR importance resampling + line dedup
    "curation_dsir_docs",
    "dedup_lines_docs",
    # round 2 session 20: Bloom delta gate, clustered SemDeDup, shuffle
    # shards, BM25 + RRF retrieval
    "dedup_delta_bloom_docs",
    "semantic_dedup_ivf_planted",
    "curation_shuffle_shards",
    "retrieval_bm25_docs",
    "retrieval_rrf_docs",
    "span_transitions_docs",
    "media_census_docs",
    "spans_flatten_docs",
    "span_structure_drift_docs",
    "curation_temperature_docs",
    "curation_token_budget_docs",
    "drift_embedding_centroid",
    "dedup_spans_boilerplate_docs",
    "dedup_layout_docs",
    "interleaved_token_costs",
    "curation_split_leakage",
    "curation_chunk_manifest",
    "layout_diversity_docs",
    "interleaved_chunk_docs",
    "drift_layout_docs",
    "media_context_docs",
    "interleaved_quality_docs",
    "caption_pairs_docs",
    "normalize_interleaved_docs",
    "drift_media_census_docs",
    "media_context_census_docs",
    "spans_flatten_sentinels",
    # round 2 session 23: privacy (k-anonymity/l-diversity), Benford
    # conformance, exact association measures, JS/Wasserstein drift, Zipf fit
    "kanon_customer",
    "benford_lineitem",
    "assoc_orders",
    "drift_js_events",
    "drift_wasserstein_events",
    "zipf_docs",
    "format_conformance_customer",
    "null_patterns_events",
    "drift_vocab_docs",
    "precedence_events",
    "interval_overlap_orders",
    "reconcile_orders_lineitem",
    "class_balance_events",
    "caption_consistency_docs",
    "drift_topk_events",
    "drift_embedding_dims",
    "outliers_events_value",
    "embedding_outliers_topk",
    "change_point_events",
]


def _get_spark(cpus: str | None = None):
    from pyspark_validator.session import get_spark

    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    n = os.cpu_count() if cpus == "*" else int(cpus)
    return get_spark(
        app_name="pyspark-validator-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(n),
    )


def _fs_bytes_read(spark) -> int:
    """Cumulative bytes read through Hadoop FileSystem streams in this JVM --
    the truthful scan-amplification counter (plan text hides the cache-fill
    parquet scan inside InMemoryRelation, so counting plan nodes under-reports
    persisted pipelines)."""
    total = 0
    it = spark.sparkContext._jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics().iterator()
    while it.hasNext():
        total += it.next().getBytesRead()
    return total


def _fused_compare(spark, sf_dir: str, rep: int, materialize: str | None = None) -> dict:
    """The engine's second bench axis: the SAME 15 aggregation-shaped checks
    (one per FusedPass member family) timed as 15 independent single-member
    passes (one corpus scan each -- how separately-invoked checks execute)
    versus ONE FusedPass (one scan + one P-row shuffle for all of them).
    ``rep`` amplifies the documents table in-memory with distinct doc ids so
    the scan dominates; the frame is NOT cached, deliberately -- scan sharing
    is exactly what is being measured. Scan counts are read from the executed
    plans ('Scan parquet' nodes, initial-plan section stripped)."""
    from pyspark.sql import functions as F

    from pyspark_validator.fused import FusedPass

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    reps = F.explode(F.sequence(F.lit(0), F.lit(max(rep, 1) - 1)))
    n_chunks = F.greatest(
        F.ceil(F.length("text") / F.lit(64.0)).cast("int"), F.lit(1)
    )
    is_img = lambda i: F.pmod(F.col("__src") + i, F.lit(7)) == 0  # noqa: E731
    span = lambda i: F.when(  # noqa: E731
        is_img(i),
        F.struct(
            F.lit("image").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.concat(F.lit("m"), ((F.col("__src") * 31 + i) % 100000).cast("string")).alias("media_ref"),
            (i * 64).cast("int").alias("offset"),
        ),
    ).otherwise(
        F.struct(
            F.lit("text").alias("kind"),
            F.substring(F.col("text"), i * 64 + 1, 64).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            (i * 64).cast("int").alias("offset"),
        )
    )
    frame = (
        d.select(F.col("doc_id").alias("__src"), "text", "lang", "n_chars")
        .withColumn("__r", reps)
        .select(
            F.concat_ws("#", F.col("__src").cast("string"), F.col("__r").cast("string")).alias("doc_id"),
            "__src",
            "text",
            "lang",
            "n_chars",
            F.col("n_chars").cast("string").alias("n_chars_s"),
            F.transform(F.sequence(F.lit(0), n_chunks - 1), span).alias("spans"),
        )
    )
    if materialize:
        # scan-dominated variant: write the amplified frame to parquet and
        # bench against the MATERIALIZED table, so "one scan per check vs one
        # scan total" is a real-IO difference, not an in-memory replay
        frame.write.mode("overwrite").parquet(materialize)
        frame = spark.read.parquet(materialize)
    n_rows = frame.count()  # warm JVM + parquet footers

    edges = [0.0, 100.0, 200.0, 400.0, 800.0, 1600.0]
    probs = [0.2] * 5
    members: list[tuple[str, object]] = [
        ("nar", lambda p, n: p.add_nar(n, ante={"lang": ["en"]}, cons={"n_chars": (0.0, 1e7)}, min_confidence=0.1)),
        ("ac", lambda p, n: p.add_ac(n, "n_chars", "n_chars", "+", [(0.0, 1e7)])),
        ("row_predicate", lambda p, n: p.add_row_predicate(n, {"n_chars": (0.0, 1e7)})),
        ("completeness", lambda p, n: p.add_completeness(n, "text")),
        ("numeric_profile", lambda p, n: p.add_numeric_profile(n, "n_chars")),
        ("distinct", lambda p, n: p.add_distinct(n, "doc_id")),
        ("type_conformance", lambda p, n: p.add_type_conformance(n, "n_chars_s", "bigint")),
        ("span_integrity", lambda p, n: p.add_span_integrity(n)),
        ("pii_budget", lambda p, n: p.add_pii_budget(n, text_col="text", max_doc_fraction=1.0)),
        ("benford", lambda p, n: p.add_benford(n, "n_chars")),
        ("class_balance", lambda p, n: p.add_class_balance(n, "lang", expected={"en": 0.6, "zh": 0.2})),
        ("token_budget", lambda p, n: p.add_token_budget(n)),
        ("media_context", lambda p, n: p.add_media_context(n)),
        ("interleaved_quality", lambda p, n: p.add_interleaved_quality(n)),
        ("histogram_drift", lambda p, n: p.add_histogram_drift(n, "n_chars", edges, probs)),
    ]

    standalone: dict[str, float] = {}
    b0 = _fs_bytes_read(spark)
    for kind, add in members:
        fp = FusedPass(frame, num_partitions=32)
        add(fp, f"s_{kind}")
        t0 = time.perf_counter()
        fp.verdict(f"s_{kind}").count()
        standalone[kind] = round(time.perf_counter() - t0, 3)
        fp.unpersist()
    standalone_bytes = _fs_bytes_read(spark) - b0

    fp = FusedPass(frame, num_partitions=32)
    for kind, add in members:
        add(fp, f"f_{kind}")
    b1 = _fs_bytes_read(spark)
    t0 = time.perf_counter()
    for kind, _ in members:
        fp.verdict(f"f_{kind}").count()
    fused_sec = round(time.perf_counter() - t0, 3)
    fused_bytes = _fs_bytes_read(spark) - b1
    fp.unpersist()

    total = round(sum(standalone.values()), 3)
    return {
        "checks": len(members),
        "rep": rep,
        "n_rows": n_rows,
        "standalone_sec": total,
        "fused_sec": fused_sec,
        "speedup": round(total / fused_sec, 2) if fused_sec else None,
        # bytes actually read from the parquet source: standalone pays one
        # full scan PER CHECK (cache filled and dropped each pass), the fused
        # pass pays ~one scan total -- the scan-amplification ratio IS the
        # fused path's scale story
        "standalone_src_bytes": standalone_bytes,
        "fused_src_bytes": fused_bytes,
        "scan_amplification": (
            round(standalone_bytes / fused_bytes, 1) if fused_bytes else None
        ),
        "standalone_per_check": standalone,
    }


def run_headline() -> None:
    """Steady-state headline: each query runs ``$SPARK_GRAFT_REPS`` times
    (default 3) in ONE warm session; per-query time = min of reps, with the
    relative spread (max-min)/min reported alongside. Rationale: single-shot
    timings on this shared VM drift 30-90% with host-neighbor load (measured
    r1->r2 on byte-identical code), so only the min is regression-attributable;
    the spread says how noisy the host was during THIS run. ``first_rep_total``
    preserves cross-round comparability with the old single-shot protocol.
    Set SPARK_GRAFT_REPS=1 for the legacy single-shot behavior."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entry_mod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_REPS", "3")))
    spark = _get_spark()
    qs = entry_mod.queries()
    # Warm the JVM + parquet footers so per-query times reflect the plans,
    # not one-time session startup.
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    times: dict[str, float] = {}
    spreads: dict[str, float] = {}
    first_rep: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
        times[name] = round(min(samples), 3)
        first_rep[name] = round(samples[0], 3)
        spreads[name] = round((max(samples) - min(samples)) / min(samples), 3)
    # docs/sec north metric: rows of the interleaved view validated by the
    # doc-shaped checks (ucc_docs + fd_docs + drift_docs) per second spent in them.
    docs_rows = entry_mod._docs_spans(spark, sf_dir).count()
    doc_checks = ["ucc_docs_doc_id", "fd_docs_span_seq", "drift_docs_kind"]
    doc_sec = sum(times[q] for q in doc_checks)
    total = round(sum(times.values()), 3)
    out = {
        "metric": "headline validation suite wall time (steady-state min of reps)",
        "value": total,
        "unit": "sec",
        "queries": times,
        "queries_spread": spreads,
        "reps": reps,
        "first_rep_total": round(sum(first_rep.values()), 3),
        "median_spread": round(statistics.median(spreads.values()), 3),
        "sf": _sf_from_dir(sf_dir),
        "validated_docs_per_sec": round(3 * docs_rows / doc_sec, 1) if doc_sec else None,
        "n_docs": docs_rows,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    }
    # fused-vs-standalone second axis (SPARK_GRAFT_FUSED_REP=0 disables;
    # default amplifies documents 40x in-memory so the scan dominates)
    fused_rep = int(os.environ.get("SPARK_GRAFT_FUSED_REP", "40"))
    if fused_rep > 0:
        out["fused"] = _fused_compare(
            spark, sf_dir, fused_rep,
            # scan-dominated variant against a materialized parquet copy
            materialize=os.environ.get("SPARK_GRAFT_FUSED_MATERIALIZE") or None,
        )
    spark.stop()
    print(json.dumps(out))


# ---------------------------------------------------------------------------
# scaling mode: same heavy input, two parallelism levels


def _heavy_suite(spark, sf_dir: str) -> tuple[float, int]:
    """CPU-bound validation pass over an amplified interleaved-doc view.

    The view multiplies each source document REP times with distinct doc_ids
    (deterministic, seedless) so the job is dominated by shuffle/agg compute
    rather than fixed session overhead — the regime where executor-count
    scaling is meaningful.
    """
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from pyspark_validator.canonical import span_key_expr
    from pyspark_validator.checks.fd import fd_check
    from pyspark_validator.checks.ucc import ucc_check

    rep = int(os.environ.get("SPARK_GRAFT_SCALE_REP", "1600"))
    ds = (
        entry_mod._docs_spans(spark, sf_dir)
        .withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(rep - 1))))
        .withColumn("doc_id", F.concat_ws("#", "doc_id", F.col("r").cast("string")))
        .drop("r")
        # the source is ONE tiny parquet file: without a repartition the whole
        # amplified derivation would run in a single task and no parallelism
        # level could help. 64 partitions keeps every level busy while holding
        # the task-launch count down (local mode schedules tasks through one
        # DAGScheduler thread -- too many tiny tasks becomes the serial floor).
        .repartition(64)
        .persist()
    )
    n_docs = ds.count()  # materialize the cached input (load phase, untimed)
    t0 = time.perf_counter()
    ucc_check(ds, ["doc_id"], num_partitions=64).summary().collect()
    # span_key (xxhash64 of the canonical span string) is the documented
    # at-scale shuffle key (canonical.py): the 1 KB span_seq string is built
    # map-side but only 8 bytes shuffle.
    dse = ds.withColumn("span_key", span_key_expr("spans"))
    fd_check(dse, ["doc_id"], ["span_key"], num_partitions=64).summary().collect()
    elapsed = time.perf_counter() - t0
    ds.unpersist()
    return elapsed, n_docs


def run_scale_worker(cpus: str, repeat: int) -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _get_spark(cpus)
    best, n_docs = None, 0
    for _ in range(repeat):
        elapsed, n_docs = _heavy_suite(spark, sf_dir)
        best = elapsed if best is None else min(best, elapsed)
    spark.stop()
    print(json.dumps({"cpus": int(cpus), "sec": round(best, 3), "n_docs": n_docs}))


def membw_probe(workers: int, mb: int = 512, repeats: int = 8) -> float:
    """Aggregate memory-copy bandwidth (GB/s) with ``workers`` concurrent
    numpy memcpy loops (numpy copies release the GIL, so threads stress the
    host's real bandwidth). This pins the HOST's ceiling independently of
    Spark: if plain memcpy only scales Kx from 1 to 4 workers, no
    bandwidth-bound shuffle job can scale better on this VM that day, and a
    sub-0.8 Spark efficiency is a host artifact, not an engine property."""
    import threading

    import numpy as np

    src = [np.ones(mb * 1024 * 1024 // 8, dtype=np.int64) for _ in range(workers)]
    dst = [np.zeros_like(s) for s in src]  # zeros: pre-faulted, no first-touch cost
    best = 0.0
    for _ in range(3):
        barrier = threading.Barrier(workers + 1)

        def work(i):
            barrier.wait()
            for _ in range(repeats):
                np.copyto(dst[i], src[i])
            barrier.wait()

        threads = [threading.Thread(target=work, args=(i,)) for i in range(workers)]
        for t in threads:
            t.start()
        barrier.wait()
        t0 = time.perf_counter()
        barrier.wait()
        elapsed = time.perf_counter() - t0
        for t in threads:
            t.join()
        # copy reads + writes mb each pass
        best = max(best, workers * repeats * 2 * mb / 1024 / elapsed)
    return best


def run_scaling(low: int = 1, high: int = 4, repeats: int = 3) -> None:
    """N-vs-4N evidence run. Defaults local[1] vs local[4]: this sandbox is one
    Firecracker VM whose MEMORY BANDWIDTH saturates somewhere between ~4 and
    ~16 concurrent shuffle threads depending on host-neighbor load (threads
    share one host's bandwidth; real 4N-executor clusters multiply bandwidth
    with nodes), so the honest regime where thread-scaling models
    executor-scaling is BELOW the knee: 1->4 stayed clean on every probe
    (0.97+ in both rounds), while 2->8 measured 0.97 on a quiet day and ~0.75
    on a contended one. Pass explicit levels to measure other spans. See
    BASELINE.md."""
    results = {}
    for cpus in (low, high):
        env = {**os.environ, "SPARK_GRAFT_CPUS": str(cpus)}
        env.setdefault("SPARK_DRIVER_MEMORY", "24g")
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--scale-worker", str(cpus), str(repeats)],
            capture_output=True,
            text=True,
            env=env,
        )
        line = [ln for ln in p.stdout.splitlines() if ln.startswith("{")][-1]
        results[cpus] = json.loads(line)
    t_lo, t_hi = results[low]["sec"], results[high]["sec"]
    n = results[high]["n_docs"]
    speedup = t_lo / t_hi
    eff = speedup / (high / low)
    out = {
        "metric": f"scaling efficiency local[{low}] -> local[{high}] (UCC+FD heavy suite)",
        "value": round(eff, 3),
        "unit": "efficiency",
        "n_docs": n,
        f"sec_local{low}": t_lo,
        f"sec_local{high}": t_hi,
        f"docs_per_sec_local{low}": round(2 * n / t_lo, 1),
        f"docs_per_sec_local{high}": round(2 * n / t_hi, 1),
        "speedup": round(speedup, 3),
        "core_ratio": high / low,
    }
    # pin the host's bandwidth ceiling AT MEASUREMENT TIME: the Spark job
    # cannot out-scale a plain memcpy on a bandwidth-saturated shared host
    bw_lo, bw_hi = membw_probe(low), membw_probe(high)
    out["membw_gbps_1w"] = round(bw_lo, 1)
    out[f"membw_gbps_{high}w"] = round(bw_hi, 1)
    out["membw_scaling"] = round(bw_hi / bw_lo / (high / low), 3)
    print(json.dumps(out))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--scaling":
        low = int(sys.argv[2]) if len(sys.argv) > 2 else 1
        high = int(sys.argv[3]) if len(sys.argv) > 3 else 4
        reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3
        run_scaling(low, high, reps)
    elif len(sys.argv) > 1 and sys.argv[1] == "--scale-worker":
        run_scale_worker(sys.argv[2], int(sys.argv[3]))
    else:
        run_headline()
