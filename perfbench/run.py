#!/usr/bin/env python3
"""Benchmark of the validation engine on generated interleaved documents.

    python3 perfbench/run.py --workload gate --seed 1 --seconds 35 --trace 0

Run from the repository root. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Everything the
run writes lives under ``.perfbench_work/`` in the current directory. See
perfbench/README.md for the workloads, metrics and method.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from probes import (  # noqa: E402
    RssSampler,
    StatusStore,
    Tracer,
    descendants,
    dir_stats,
    fs_bytes_read,
    process_start_epoch,
)

CORES = 4
#: Logical partitions of every verdict (the engine's default).
PARTITIONS = 64
#: Per-operation limit; an operation over it is cancelled and counted failed.
OP_TIMEOUT_S = 60.0
#: Whole-run limit: past it the run kills its processes and exits with 3.
RUN_TIMEOUT_S = 170.0

#: Generated input per workload (see gen.workload_data).
WORKLOADS = {
    "gate": {"docs": 20000, "files": 4, "batches": 3, "batch_docs": 16},
    "skew": {"docs": 15000, "files": 4, "batches": 3, "batch_docs": 16},
}

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "violations_s": "s",
    "rerun_s": "s",
    "resume_s": "s",
    "peak_rss_mb": "MB",
}


class Ops:
    """Counts attempted and failed operations; cancels Spark jobs of an
    operation that overruns ``OP_TIMEOUT_S``."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.spark = None

    def run(self, name: str, fn, *a, **kw):
        self.attempted += 1
        timer = None
        if self.spark is not None:
            timer = threading.Timer(OP_TIMEOUT_S, self.spark.sparkContext.cancelAllJobs)
            timer.start()
        t0 = time.perf_counter()
        try:
            out = fn(*a, **kw)
            print(f"perfbench: {name} {time.perf_counter() - t0:.3f} s", file=sys.stderr)
            return out
        except Exception:
            self.failed += 1
            print(f"perfbench: operation {name} failed", file=sys.stderr)
            traceback.print_exc()
            return None
        finally:
            if timer is not None:
                timer.cancel()


class Check:
    """Disagreements between the engine and the planted truth."""

    def __init__(self):
        self.mismatches = 0
        self.notes: list[str] = []

    def sets(self, what: str, got, want) -> None:
        got, want = set(got), set(want)
        bad = len(got ^ want)
        if bad:
            self.mismatches += bad
            self.notes.append(
                f"{what}: {bad} differ (missing {sorted(want - got)[:3]}, "
                f"extra {sorted(got - want)[:3]})"
            )

    def true(self, what: str, ok: bool) -> None:
        if not ok:
            self.mismatches += 1
            self.notes.append(what)


# ---------------------------------------------------------------------------
# session


def start_session(work: str, master: str):
    """SparkSession with the engine shipped to Python workers as the
    deterministic zip from scripts/package.py (the spark-submit --py-files
    artifact); ready once a Python worker has imported the engine."""
    import importlib.util

    import pyspark_validator as pv

    spec = importlib.util.spec_from_file_location(
        "perfbench_package", os.path.join(ROOT, "scripts", "package.py")
    )
    package = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(package)
    zip_path = os.path.join(work, "pyspark_validator.zip")
    package.build_zip(os.path.join(ROOT, "pyspark_validator"), zip_path)
    spark = pv.get_spark(
        app_name="perfbench",
        master=master,
        shuffle_partitions=CORES,
        extra_conf={
            "spark.submit.pyFiles": zip_path,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    def probe(_):
        import pyspark_validator  # noqa: F401  (fails unless shipped)

        return 1

    n = spark.sparkContext.parallelize(range(CORES), CORES).map(probe).sum()
    if n != CORES:
        raise RuntimeError("engine not importable on Python workers")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then its JVM (which exits when its stdin closes), and
    wait for the JVM to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def watchdog() -> threading.Timer:
    """Kill every child process and exit with code 3 once the run has
    taken RUN_TIMEOUT_S; the caller cancels it when the run ends."""

    def fire():
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S:.0f} s", file=sys.stderr)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        os._exit(3)

    t = threading.Timer(RUN_TIMEOUT_S, fire)
    t.daemon = True
    t.start()
    return t


# ---------------------------------------------------------------------------
# truth -> expected per-partition verdicts


def expected_partitions(spark, keys: dict[str, list[str]]) -> dict[str, set[int]]:
    """Map each key list through the engine's own partition-id expression
    (pmod(xxhash64(key), P)); the truth itself never depends on hashing."""
    from pyspark.sql import functions as F

    from pyspark_validator.canonical import partition_id_expr

    pairs = [F.struct(F.lit(n).alias("name"), F.lit(k).alias("key"))
             for n, ks in keys.items() for k in ks]
    got: dict[str, set[int]] = {name: set() for name in keys}
    if not pairs:
        return got
    rows = (
        spark.range(1)
        .select(F.explode(F.array(*pairs)).alias("p"))
        .select("p.name", partition_id_expr("p.key", PARTITIONS).alias("pid"))
        .collect()
    )
    for r in rows:
        got[r.name].add(r.pid)
    return got


def media_refs(df):
    """The IND left side: media_ref of every media span that carries one."""
    from pyspark.sql import functions as F

    s = F.explode("spans").alias("s")
    return (
        df.select(s)
        .where((F.col("s.kind") != "text") & F.col("s.media_ref").isNotNull())
        .select(F.col("s.media_ref").alias("media_ref"))
    )


# ---------------------------------------------------------------------------
# the workload


#: Checks in the order the runner records them; a resume starts after the
#: first two ("killed between checks").
CHECKS = ["ucc_doc_id", "fd_doc_span", "ind_media", "span_integrity"]
SKETCH_COLUMNS = ["n_spans", "total_text_len", "n_media_spans"]


class Bench:
    """One run: the checkpointed suite over the snapshot, its violation
    rows, a rerun over the complete manifest and a resume after a kill
    between checks. A traced run adds incremental state built on the
    snapshot and a closed-loop stream of append batches from one writer
    (some with deletes), each followed by a verdict read of the touched
    partitions."""

    def __init__(self, spark, work: str, truth: dict, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.data = f"{work}/data"
        self.truth = truth
        self.tracer = tracer
        self.ops = Ops()
        self.ops.spark = spark
        self.check = Check()
        self.stats = StatusStore(spark, CORES) if tracer.enabled else None
        self.samples: dict[str, list] = {}
        self.layer: dict[str, float] = {}
        self.media = spark.read.parquet(f"{self.data}/media")
        self.baseline = spark.read.parquet(f"{self.data}/baseline")

    def add(self, name: str, value) -> None:
        self.samples.setdefault(name, []).append(value)

    def phase(self, name: str, fn, *a):
        """Time one operation; harvest its Spark counters when tracing."""
        if self.tracer.enabled:
            self.stats.mark()
        t0 = time.perf_counter()
        with self.tracer.span(f"phase.{name}"):
            out = self.ops.run(name, fn, *a)
        s = time.perf_counter() - t0
        if self.tracer.enabled:
            for k, v in self.stats.harvest(s).items():
                self.layer[f"{k}.{name}"] = v
        return out, s

    # ---- expected verdicts from the truth --------------------------------

    def expectations(self) -> None:
        """Expected (partition_id, holds) per check. Every snapshot holds
        far more docs and media refs than PARTITIONS, so every partition
        has rows; a partition fails exactly when it holds a violating key."""
        snap, final = self.truth["snapshot"], self.truth["final"]
        p = expected_partitions(
            self.spark,
            {
                "ucc": list(snap["ucc"]),
                "fd": snap["fd"],
                "span": [d for d, _ in snap["span"]],
                "dangling": snap["dangling"],
                "final_ucc": list(final["ucc"]),
                "final_fd": final["fd"],
                "final_span": [d for d, _ in final["span"]],
            },
        )
        every = set(range(PARTITIONS))

        def verdicts(failing: set) -> set:
            return {(q, q not in failing) for q in every}

        self.want = {
            "ucc_doc_id": verdicts(p["ucc"]),
            "fd_doc_span": verdicts(p["fd"]),
            "ind_media": verdicts(p["dangling"]),
            "span_integrity": verdicts(p["span"]),
        }
        self.want_delta = {
            "ucc": verdicts(p["final_ucc"]),
            "fd": verdicts(p["final_fd"]),
            "span_integrity": verdicts(p["final_span"]),
            "token_budget": verdicts(set()),
        }

    # ---- batch suite ------------------------------------------------------

    def specs(self):
        from pyspark_validator.checks.ind import ind_check
        from pyspark_validator.runner import CheckSpec

        media = self.media
        return [
            CheckSpec("ucc_doc_id", "ucc", {"columns": ["doc_id"]}),
            CheckSpec("fd_doc_span", "fd", {"lhs": ["doc_id"], "rhs": ["span_key"]}),
            CheckSpec(
                "ind_media",
                "custom",
                fn=lambda df: ind_check(
                    media_refs(df), ["media_ref"], media, ["media_ref"]
                ).verdicts(num_partitions=PARTITIONS),
            ),
            CheckSpec("span_integrity", "span_integrity"),
        ]

    def run_suite(self, ckpt: str):
        """Per-partition checks through the checkpointing runner; returns the
        suite and the verdict rows each check computed in this run."""
        from pyspark_validator.runner import ValidationSuite

        docs = self.spark.read.parquet(f"{self.data}/docs")
        suite = ValidationSuite(
            self.spark, docs, num_partitions=PARTITIONS, checkpoint_path=ckpt,
            snapshot_id="snapshot-1",
        )
        results = suite.run_fused(self.specs())
        return suite, {name: df.count() for name, df in results.items()}

    def drift_and_sketches(self, canon, store_path: str) -> dict:
        """Whole-snapshot checks: drift against the baseline snapshot and the
        sketch profile. They run through their own API, not the runner: the
        runner frames single-row checks as partition 0, which a rerun would
        recompute every time."""
        from pyspark.sql import functions as F

        from pyspark_validator.checkpoint import SketchStore
        from pyspark_validator.checks.drift import categorical_drift
        from pyspark_validator.sketches import sketch_profile

        def kinds(df):
            return df.select(F.explode("spans.kind").alias("kind"))

        with self.tracer.span("checks.drift.s"):
            cat = categorical_drift(kinds(self.baseline), kinds(canon), "kind").collect()[0]
        with self.tracer.span("sketches.profile_s"):
            prof = sketch_profile(canon, SKETCH_COLUMNS)
        SketchStore(self.spark, store_path).record("snapshot-1", prof)
        return {"cat": cat, "prof": prof}

    def suite_phase(self, ckpt: str, store: str):
        suite, rows = self.run_suite(ckpt)
        return suite, rows, self.drift_and_sketches(suite.canon.df, store)

    def sketch_store(self, store_path: str) -> None:
        """Cross-snapshot sketch algebra from the store alone: the merged
        profile of baseline + snapshot and their KS drift, with no scan."""
        from pyspark_validator.checkpoint import SketchStore

        store = SketchStore(self.spark, store_path)
        with self.tracer.span("sketches.merge_s"):
            merged = store.merged(["baseline", "snapshot-1"])
            ks = store.ks_drift("n_spans", "baseline", "snapshot-1")
        t = self.truth["snapshot"]
        self.check.true("sketch KS drift verdict", bool(ks["drift_detected"]) == t["drift"])
        self.check.true(
            "merged sketch row count",
            merged["n_spans"].n == t["n_docs"] + t["n_baseline"],
        )

    def violations(self, canon) -> dict:
        from pyspark_validator.checks.fd import fd_check
        from pyspark_validator.checks.ind import ind_check
        from pyspark_validator.checks.ucc import ucc_check
        from pyspark_validator.schema import span_integrity_violations

        out = {}
        with self.tracer.span("checks.ucc.violations_s"):
            out["ucc"] = ucc_check(
                canon, ["doc_id"], num_partitions=PARTITIONS, partition_key="doc_id",
                row_ref="span_seq",
            ).violations().collect()
        with self.tracer.span("checks.fd.highlights_s"):
            out["fd"] = fd_check(
                canon, ["doc_id"], ["span_key"], num_partitions=PARTITIONS,
                highlight_cap=1 << 20,
            ).highlights().collect()
        with self.tracer.span("schema.span_violations_s"):
            out["span"] = span_integrity_violations(canon, num_partitions=PARTITIONS).collect()
        with self.tracer.span("checks.ind.violations_s"):
            out["ind"] = ind_check(
                media_refs(canon), ["media_ref"], self.media, ["media_ref"],
                violation_cap=1 << 20,
            ).violations().collect()
        return out

    def verify_manifest(self, ckpt: str, what: str) -> None:
        """Recorded verdicts, read from the manifest files with pyarrow."""
        import pyarrow.dataset as ds

        t = ds.dataset(ckpt, format="parquet").to_table(
            columns=["check_id", "partition_id", "status"]
        ).to_pydict()
        got: dict[str, set] = {name: set() for name in self.want}
        for c, pid, status in zip(t["check_id"], t["partition_id"], t["status"]):
            got.setdefault(c, set()).add((pid, status == "ok"))
        for name, want in self.want.items():
            self.check.sets(f"{what} {name} verdicts", got[name], want)

    def verify_violations(self, v: dict) -> None:
        t = self.truth["snapshot"]
        self.check.sets(
            "ucc violation rows",
            {(r.doc_id, r.cluster_size) for r in v["ucc"]},
            set(t["ucc"].items()),
        )
        self.check.sets("fd highlight rows", {r.doc_id for r in v["fd"]}, t["fd"])
        self.check.sets(
            "span violation rows",
            {(r.doc_id, r.reason) for r in v["span"]},
            {tuple(x) for x in t["span"]},
        )
        self.check.sets("ind violation rows", {r.media_ref for r in v["ind"]}, t["dangling"])

    def verify_drift(self, d: dict) -> None:
        t = self.truth["snapshot"]
        self.check.true("categorical drift verdict", bool(d["cat"].drift_detected) == t["drift"])
        self.check.true("sketch profile row count", d["prof"]["n_spans"].n == t["n_docs"])

    def oracle_slice(self, canon) -> None:
        """The engine against the pandas oracle on a small slice: the first
        generated docs plus every planted duplicate and span violation."""
        from pyspark.sql import functions as F

        from pyspark_validator.checks.fd import fd_check
        from pyspark_validator.checks.ind import ind_check
        from pyspark_validator.checks.ucc import ucc_check
        from pyspark_validator.oracle.pandas_oracle import fd_oracle, ind_oracle, ucc_oracle

        t = self.truth["snapshot"]
        ids = sorted(set(t["head_ids"]) | set(t["ucc"]) | {d for d, _ in t["span"]})
        sl = canon.where(F.col("doc_id").isin(ids))
        pdf = sl.select("doc_id", "span_seq").toPandas()
        refs = media_refs(sl)
        rpdf = refs.toPandas()
        mpdf = self.media.toPandas()
        u = ucc_check(sl, ["doc_id"], num_partitions=PARTITIONS).summary().collect()[0]
        f = fd_check(sl, ["doc_id"], ["span_seq"], num_partitions=PARTITIONS).summary().collect()[0]
        i = ind_check(refs, ["media_ref"], self.media, ["media_ref"]).summary().collect()[0]
        uo = ucc_oracle(pdf, ["doc_id"])
        fo = fd_oracle(pdf, ["doc_id"], ["span_seq"])
        io = ind_oracle(rpdf, ["media_ref"], mpdf, ["media_ref"])
        self.check.true("oracle ucc", (u.n_violating_clusters, u.n_violating_rows) == (uo.num_violating_clusters, uo.num_violating_rows))
        self.check.true("oracle fd", (f.n_error_clusters, f.n_error_rows) == (fo.num_error_clusters, fo.num_error_rows))
        self.check.true("oracle ind", (i.n_violating_clusters, i.n_violating_rows) == (io.num_violating_clusters, io.num_violating_rows))

    # ---- incremental --------------------------------------------------------

    def canon(self, path: str):
        from pyspark_validator.canonical import canonicalize

        return canonicalize(
            self.spark.read.parquet(path), num_partitions=PARTITIONS, cache=False
        ).df

    def delta_init(self, state: str) -> dict:
        from pyspark_validator.fused import FusedPass, IncrementalFused
        from pyspark_validator.incremental import IncrementalFD, IncrementalUCC

        base = self.canon(f"{self.data}/docs")
        ucc = IncrementalUCC(self.spark, f"{state}/ucc", ["doc_id"], PARTITIONS)
        fd = IncrementalFD(self.spark, f"{state}/fd", ["doc_id"], ["span_key"], PARTITIONS)
        fp = FusedPass(base, num_partitions=PARTITIONS, partition_col="partition_id")
        fp.add_span_integrity("span_integrity")
        fp.add_token_budget("token_budget")
        fused = IncrementalFused(fp, f"{state}/fused")
        ucc.initialize(base)
        fd.initialize(base)
        fused.initialize(base)
        return {"ucc": ucc, "fd": fd, "fused": fused}

    def delta_batch(self, st: dict, batch: str) -> set:
        """One append batch through the three incremental states, then the
        touched partitions' verdicts; returns the touched partitions."""
        ins = self.canon(f"{batch}/inserts")
        dels = self.canon(f"{batch}/deletes") if os.path.isdir(f"{batch}/deletes") else None
        u = st["ucc"].apply_delta(ins, dels).collect()
        f = st["fd"].apply_delta(ins, dels).collect()
        touched = st["fused"].apply_delta(ins, dels)
        for v in st["fused"].verdicts(touched).values():
            v.collect()
        return {r.partition_id for r in u} | {r.partition_id for r in f} | set(touched)

    def verify_delta(self, st: dict) -> None:
        got = {
            "ucc": st["ucc"].verdicts().collect(),
            "fd": st["fd"].verdicts().collect(),
            "span_integrity": st["fused"].verdict("span_integrity").collect(),
            "token_budget": st["fused"].verdict("token_budget").collect(),
        }
        for name, rows in got.items():
            self.check.sets(
                f"delta {name} verdicts",
                {(r.partition_id, r.holds) for r in rows},
                self.want_delta[name],
            )

    # ---- the run ------------------------------------------------------------

    def measure(self) -> None:
        """The measured phases. A traced run adds the pandas-oracle slice,
        the sketch-store algebra and the incremental stream."""
        from pyspark_validator.canonical import canonicalize
        from pyspark_validator.checkpoint import SketchStore
        from pyspark_validator.sketches import sketch_profile

        traced = self.tracer.enabled
        self.expectations()
        store = f"{self.work}/sketches"
        if traced:
            SketchStore(self.spark, store).record(
                "baseline",
                sketch_profile(canonicalize(self.baseline, cache=False).df, SKETCH_COLUMNS),
            )
        ck = f"{self.work}/ckpt"
        b0 = fs_bytes_read(self.spark)
        r, s = self.phase("suite", self.suite_phase, ck, store)
        self.layer["canonical.bytes_read"] = fs_bytes_read(self.spark) - b0
        self.add("docs_per_s", self.truth["snapshot"]["n_docs"] / s)
        if r is None:
            return
        suite, _, drift = r
        self.verify_manifest(ck, "suite")
        self.verify_drift(drift)
        self.layer["checkpoint.manifest_files"], self.layer["checkpoint.manifest_bytes"] = dir_stats(ck)

        self.violations_phase(suite.canon.df)
        if traced:
            self.ops.run("oracle_slice", self.oracle_slice, suite.canon.df)
            self.ops.run("sketch_store", self.sketch_store, store)

        r, s = self.phase("rerun", self.run_suite, ck)
        self.add("rerun_s", s)
        if r is not None:
            recomputed = sum(r[1].values())
            self.layer["checkpoint.recomputed_partitions.rerun"] = recomputed
            self.check.true(f"rerun recomputed {recomputed} partitions", recomputed == 0)
            r[0].unpersist()

        self.resume(ck)
        # a second violations pass: the phase is short, and the mean of two
        # passes, one early and one late in the run, narrows its spread
        self.violations_phase(suite.canon.df)
        suite.unpersist()
        if traced:
            self.delta()

    def violations_phase(self, canon) -> None:
        v, s = self.phase("violations", self.violations, canon)
        self.add("violations_s", s)
        if v is not None:
            self.verify_violations(v)

    def resume(self, ck: str) -> None:
        half = set(CHECKS[:2])
        ckr = f"{self.work}/ckpt-resume"
        copy_first_checks(ck, ckr, half)
        r, s = self.phase("resume", self.run_suite, ckr)
        self.add("resume_s", s)
        if r is not None:
            pending = sum(len(self.want[n]) for n in CHECKS if n not in half)
            recomputed = sum(r[1].values())
            self.layer["checkpoint.recomputed_partitions.resume"] = recomputed
            self.layer["checkpoint.pending_partitions.resume"] = pending
            self.check.true(
                f"resume recomputed {recomputed} of {pending} pending partitions",
                recomputed == pending,
            )
            self.verify_manifest(ckr, "resume")
            r[0].unpersist()

    def delta(self) -> None:
        state = f"{self.work}/state"
        st, s = self.phase("delta_init", self.delta_init, state)
        self.add("delta_init_s", s)
        if st is None:
            return
        written = in_bytes = 0
        for b in range(self.truth["batches"]):
            batch = f"{self.data}/batch-{b:03d}"
            before = dir_stats(state)[1]
            touched, s = self.phase("delta_batch", self.delta_batch, st, batch)
            self.add("delta_s", s)
            if touched is not None:
                self.add("touched", len(touched))
            written += dir_stats(state)[1] - before
            in_bytes += dir_stats(batch)[1]
        self.layer["incremental.write_amp"] = written / in_bytes
        self.layer["incremental.state_files"] = dir_stats(state)[0]
        self.ops.run("verify_delta", self.verify_delta, st)


def copy_first_checks(src: str, dst: str, names: set[str]) -> None:
    """A manifest "killed between checks": only the batches of ``names``."""
    import pyarrow.parquet as pq

    os.makedirs(dst)
    for b in sorted(os.listdir(src)):
        ids = set(pq.read_table(f"{src}/{b}", columns=["check_id"]).column(0).to_pylist())
        if ids and ids <= names:
            shutil.copytree(f"{src}/{b}", f"{dst}/{b}")


# ---------------------------------------------------------------------------
# traced runs: spans around public engine entry points, scaling, overhead


def install_tracing(tracer: Tracer) -> None:
    """Rebind public engine entry points (in this process) to spanned
    versions. A lazy result is materialised inside its span."""
    from pyspark_validator import checkpoint, fused, incremental, runner
    from pyspark_validator.checks import fd, ind, ucc

    def forced(df):
        return df.localCheckpoint(eager=True)

    def forced_canon(c):
        if c.df.is_cached:
            c.df.count()
        return c

    def forced_grouped(g):
        g.count()
        plan = g._jdf.queryExecution().executedPlan().toString().splitlines()
        if "fused.agg_passes" not in tracer.counts:  # the suite's pass
            tracer.count(
                "fused.agg_passes",
                sum("Aggregate(" in line and "partial_" in line for line in plan),
            )
        return g

    def counted(name):
        def f(out):
            tracer.count(name, 1)
            return out
        return f

    tracer.wrap(runner, "canonicalize", "canonical.load_s", forced_canon)
    tracer.wrap(runner.ValidationSuite, "run_fused", "runner.run_fused")
    tracer.wrap(runner.ValidationSuite, "run", "runner.run")
    tracer.wrap(fused.FusedPass, "grouped", "fused.grouped_s", forced_grouped)
    tracer.wrap(ucc.UCCCheck, "verdicts", "checks.ucc.verdicts_s", forced)
    tracer.wrap(fd.FDCheck, "verdicts", "checks.fd.verdicts_s", forced)
    tracer.wrap(ind.INDCheck, "verdicts", "checks.ind.verdicts_s", forced)
    tracer.wrap(checkpoint.CheckpointManager, "record_verdicts", "checkpoint.record_s",
                counted("checkpoint.record_calls"))
    tracer.wrap(checkpoint.CheckpointManager, "filter_pending", "checkpoint.filter_s")
    tracer.wrap(checkpoint.CheckpointManager, "manifest", "checkpoint.filter_s")
    for cls in (incremental.IncrementalUCC, incremental.IncrementalFD, fused.IncrementalFused):
        tracer.wrap(cls, "initialize", "incremental.init_s")
    for cls in (incremental.IncrementalUCC, incremental.IncrementalFD):
        tracer.wrap(cls, "apply_delta", "incremental.apply_s", forced)
    tracer.wrap(fused.IncrementalFused, "apply_delta", "fused.inc_apply_s")


def scaling_eff(bench: Bench, work: str) -> float:
    """Docs/s of one fused pass (span integrity + token budget) over the
    snapshot at local[4] (warm, at the end of the run), over 4x its docs/s
    at local[1] on a restarted context."""
    from pyspark_validator.canonical import canonicalize
    from pyspark_validator.fused import FusedPass

    def tput(spark) -> float:
        t0 = time.perf_counter()
        docs = canonicalize(
            spark.read.parquet(f"{bench.data}/docs"), num_partitions=PARTITIONS, cache=False
        ).df
        fp = FusedPass(docs, num_partitions=PARTITIONS, partition_col="partition_id")
        fp.add_span_integrity("span_integrity")
        fp.add_token_budget("token_budget")
        fp.grouped().count()
        fp.unpersist()
        return 1.0 / (time.perf_counter() - t0)

    t4 = tput(bench.spark)
    bench.spark.stop()
    bench.spark = bench.ops.spark = start_session(work, "local[1]")
    return t4 / (CORES * tput(bench.spark))


#: Per-layer metrics of a traced run, with units. Timings are self times.
PER_LAYER = {
    "session.start_s": "s",
    "canonical.load_s": "s",
    "canonical.bytes_read": "bytes",
    "fused.grouped_s": "s",
    "fused.agg_passes": "count",
    "checks.ucc.verdicts_s": "s",
    "checks.fd.verdicts_s": "s",
    "checks.ind.verdicts_s": "s",
    "checks.ucc.violations_s": "s",
    "checks.fd.highlights_s": "s",
    "schema.span_violations_s": "s",
    "checks.ind.violations_s": "s",
    "checks.drift.s": "s",
    "sketches.profile_s": "s",
    "sketches.merge_s": "s",
    "checkpoint.record_s": "s",
    "checkpoint.record_calls": "count",
    "checkpoint.filter_s": "s",
    "checkpoint.manifest_files": "count",
    "checkpoint.manifest_bytes": "bytes",
    "checkpoint.recomputed_partitions.rerun": "count",
    "checkpoint.recomputed_partitions.resume": "count",
    "checkpoint.pending_partitions.resume": "count",
    "runner.self_s": "s",
    "incremental.init_s": "s",
    "incremental.apply_s": "s",
    "fused.inc_apply_s": "s",
    "incremental.touched_partitions": "count",
    "incremental.write_amp": "ratio",
    "incremental.state_files": "count",
    "delta.init_s": "s",
    "delta.batch_p50_s": "s",
    "delta.batch_max_s": "s",
    **{
        f"spark.{k}.{p}": u
        for p in ("suite", "rerun", "resume", "delta_batch")
        for k, u in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                     ("input_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
                     ("task_skew", "ratio"),
                     ("busy_ratio", "ratio"))
    },
    "scaling_eff": "ratio",
    "trace.rerun_untraced_s": "s",
    "trace.rerun_traced_s": "s",
    "trace.overhead_s": "s",
}


def per_layer(bench: Bench, tracer: Tracer, session_s: float, work: str) -> dict:
    """Self time per layer span, counters, the tracing overhead (the rerun
    phase twice more, untraced then traced) and the scaling efficiency."""
    tot = tracer.totals()
    out = dict(bench.layer)
    out["session.start_s"] = session_s
    for name, t in tot.items():
        if not name.startswith(("phase.", "runner.")):
            out[name] = t["self_s"]
    out["runner.self_s"] = sum(t["self_s"] for n, t in tot.items() if n.startswith("runner."))
    out["checkpoint.record_calls"] = tracer.counts.get("checkpoint.record_calls", 0)
    out["fused.agg_passes"] = tracer.counts.get("fused.agg_passes", 0)
    lat = bench.samples.get("delta_s", [])
    out["delta.init_s"] = median(bench.samples.get("delta_init_s"))
    out["delta.batch_p50_s"] = median(lat)
    out["delta.batch_max_s"] = max(lat) if lat else None
    out["incremental.touched_partitions"] = median(bench.samples.get("touched", []))
    tracer.enabled = False
    _, out["trace.rerun_untraced_s"] = timed(bench.run_suite, f"{work}/ckpt")
    tracer.enabled = True
    _, out["trace.rerun_traced_s"] = timed(bench.run_suite, f"{work}/ckpt")
    out["trace.overhead_s"] = out["trace.rerun_traced_s"] - out["trace.rerun_untraced_s"]
    tracer.enabled = False
    out["scaling_eff"] = bench.ops.run("scaling", scaling_eff, bench, work)
    return {k: out.get(k) for k in PER_LAYER}


def timed(fn, *a):
    t0 = time.perf_counter()
    out = fn(*a)
    return out, time.perf_counter() - t0


def median(xs):
    return statistics.median(xs) if xs else None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_proc = process_start_epoch()
    dog = watchdog()
    sys.path.insert(0, ROOT)
    try:
        import pyspark_validator  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    import gen

    t_imported = time.time()
    work = os.path.join(os.getcwd(), ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = f"{work}/tmp"
    # JVM temp files under the work directory; no hsperfdata file in /tmp
    for var, opts in (
        ("SPARK_SUBMIT_OPTS", f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"),
        ("SPARK_LAUNCHER_OPTS", "-XX:-UsePerfData"),
    ):
        os.environ[var] = f"{os.environ.get(var, '')} {opts}".strip()
    os.environ.pop("PYTHONPATH", None)  # workers get the engine from the zip only
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    truth = gen.workload_data(
        gen.Generator(args.seed), f"{work}/data", skew=args.workload == "skew",
        **WORKLOADS[args.workload],
    )

    tracer = Tracer(bool(args.trace), f"{args.workload}-{args.seed}")
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = start_session(work, f"local[{CORES}]")
        session_s = time.perf_counter() - t0
        setup_s = (t_imported - t_proc) + session_s
        if args.trace:
            install_tracing(tracer)
        bench = Bench(spark, work, truth, tracer)
        t_measure = time.perf_counter()
        bench.measure()
        measured_s = time.perf_counter() - t_measure
        layer = per_layer(bench, tracer, session_s, work) if args.trace else None
        stop_session(bench.spark)
    dog.cancel()
    ops, check = bench.ops, bench.check
    print(
        f"perfbench: {args.workload} seed {args.seed}: set-up {setup_s:.1f} s, "
        f"measured {measured_s:.1f} s, verdict_mismatches={check.mismatches}, "
        f"failed_ops={ops.failed}/{ops.attempted}",
        file=sys.stderr,
    )
    for note in check.notes[:20]:
        print(f"perfbench: mismatch: {note}", file=sys.stderr)
    if args.trace:
        with open(f"{work}/spans.json", "w") as f:
            json.dump(tracer.spans, f)
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer.items()}
        print(json.dumps(tracer.totals(), indent=None), file=sys.stderr)
    else:
        s = bench.samples
        values = {
            "setup_s": setup_s,
            "docs_per_s": median(s.get("docs_per_s")),
            "violations_s": median(s.get("violations_s")),
            "rerun_s": median(s.get("rerun_s")),
            "resume_s": median(s.get("resume_s")),
            "peak_rss_mb": rss.peak_mb,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    complete = all(m["value"] is not None for m in metrics.values())
    print(json.dumps({
        "correct": check.mismatches == 0 and complete,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
