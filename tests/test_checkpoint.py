"""Checkpoint/resume: kill-and-continue without recomputing validated partitions."""

import pytest
from pyspark.sql import functions as F

from pyspark_validator.checkpoint import CheckpointManager
from pyspark_validator.oracle import fixtures
from pyspark_validator.runner import CheckSpec, ValidationSuite


def test_filter_pending_and_record(spark, tmp_path):
    path = str(tmp_path / "manifest")
    ckpt = CheckpointManager(spark, path)
    df = spark.range(100).select(
        (F.col("id") % 10).cast("int").alias("partition_id"), F.col("id")
    )
    # nothing recorded -> everything pending
    assert ckpt.filter_pending(df, "c1", "s1").count() == 100
    # record verdicts for partitions 0..4
    verdicts = spark.createDataFrame(
        [(p, True, 10) for p in range(5)], ["partition_id", "holds", "n_rows"]
    )
    ckpt.record_verdicts("c1", "s1", verdicts)
    assert ckpt.filter_pending(df, "c1", "s1").count() == 50
    # different check / snapshot unaffected
    assert ckpt.filter_pending(df, "c2", "s1").count() == 100
    assert ckpt.filter_pending(df, "c1", "s2").count() == 100
    # manifest carries metrics lineage
    m = ckpt.manifest().filter(F.col("check_id") == "c1").collect()
    assert len(m) == 5
    assert all(r.status == "ok" for r in m)
    assert '"n_rows":10' in m[0].metrics_json


def test_suite_kill_and_continue(spark, tmp_path):
    """Run a suite, then re-run with the same manifest: second run computes 0
    partitions (all resumed)."""
    path = str(tmp_path / "manifest2")
    docs = fixtures.docs_spark_df(spark, 300)
    suite = ValidationSuite(
        spark, docs, num_partitions=8, checkpoint_path=path, snapshot_id="snapA"
    )
    checks = [
        CheckSpec(name="ucc_doc_id", kind="ucc", params={"columns": ["doc_id"]}),
        CheckSpec(name="fd_doc_spans", kind="fd", params={"lhs": ["doc_id"], "rhs": ["span_key"]}),
    ]
    first = suite.run(checks)
    assert first["ucc_doc_id"].count() == 8  # all 8 partitions computed
    # simulate a restart: new suite, same manifest
    suite2 = ValidationSuite(
        spark, docs, num_partitions=8, checkpoint_path=path, snapshot_id="snapA"
    )
    second = suite2.run(checks)
    assert second["ucc_doc_id"].count() == 0  # nothing recomputed
    # but a new snapshot recomputes everything
    suite3 = ValidationSuite(
        spark, docs, num_partitions=8, checkpoint_path=path, snapshot_id="snapB"
    )
    third = suite3.run(checks)
    assert third["ucc_doc_id"].count() == 8
    suite.unpersist(); suite2.unpersist(); suite3.unpersist()


def test_partial_then_resume(spark, tmp_path):
    """Record half the partitions (simulated kill), resume computes only the rest,
    and the union matches a clean full run."""
    path = str(tmp_path / "manifest3")
    ckpt = CheckpointManager(spark, path)
    docs = fixtures.docs_spark_df(spark, 300)
    from pyspark_validator.canonical import canonicalize
    from pyspark_validator.checks.ucc import ucc_check

    canon = canonicalize(docs, num_partitions=8, cache=False)
    full = ucc_check(
        canon.df, ["doc_id"], num_partitions=8, partition_key="doc_id"
    ).verdicts()
    done_half = full.filter(F.col("partition_id") < 4)
    ckpt.record_verdicts("ucc", "s", done_half)
    pending_df = ckpt.filter_pending(canon.df, "ucc", "s")
    resumed = ucc_check(
        pending_df, ["doc_id"], num_partitions=8, partition_key="doc_id"
    ).verdicts()
    got = sorted(
        [tuple(r) for r in resumed.collect()] + [tuple(r) for r in done_half.collect()]
    )
    exp = sorted(tuple(r) for r in full.collect())
    assert got == exp


def test_suite_single_row_check_kinds(spark, tmp_path):
    """nd-style partition-0 framing extends to mfd / sd / md specs."""
    from pyspark.sql import functions as F

    from pyspark_validator.checks.md import ColumnMatch

    docs = spark.createDataFrame(
        [(f"d{i}", [("text", f"span {i % 3}", None, 0)]) for i in range(30)],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    suite = ValidationSuite(spark, docs, num_partitions=4)
    # derived numeric column for mfd/sd over the canonical frame
    res = suite.run(
        [
            CheckSpec(
                name="mfd_len",
                kind="custom",
                fn=lambda df: __import__(
                    "pyspark_validator.checks.mfd", fromlist=["mfd_check"]
                )
                .mfd_check(
                    df.withColumn("ln", F.length("span_seq")),
                    ["span_key"], ["ln"], metric="euclidean", parameter=100.0,
                )
                .summary()
                .withColumn("partition_id", F.lit(0)),
            ),
            CheckSpec(
                name="md_spanseq",
                kind="md",
                params={
                    "lhs": [ColumnMatch("equality", "span_seq", "span_seq", 1.0)],
                    "rhs": ColumnMatch("equality", "span_key", "span_key", 1.0),
                    "left_id": "doc_id",
                },
            ),
        ]
    )
    assert res["mfd_len"].collect()[0].holds
    # identical span_seq => identical span_key: the MD must hold
    assert res["md_spanseq"].collect()[0].holds
    # sd spec over an ordered numeric view
    ev = spark.createDataFrame(
        [(f"e{i}", [("text", "x", None, 0)]) for i in range(5)],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    s2 = ValidationSuite(spark, ev, num_partitions=2)
    out = s2.run(
        [
            CheckSpec(
                name="sd_key",
                kind="sd",
                params={"order_col": "span_key", "value_col": "span_key",
                        "g1": 0.0, "g2": float("inf")},
            )
        ]
    )
    assert "holds" in out["sd_key"].columns


def _verdicts(spark, rows):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("partition_id", T.IntegerType()),
            T.StructField("holds", T.BooleanType()),
            T.StructField("n_violations", T.LongType()),
            T.StructField("null_fraction", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_metric_history_and_regressions(spark, tmp_path):
    """The manifest doubles as a metrics time-series: snapshot-over-snapshot
    per-partition regression detection from the recorded lineage alone."""
    from pyspark_validator.checkpoint import CheckpointManager

    ck = CheckpointManager(spark, str(tmp_path / "m"))
    ck.record_verdicts(
        "comp", "snap-1",
        _verdicts(spark, [(0, True, 0, 0.00), (1, True, 2, 0.01), (2, True, 0, 0.00)]),
    )
    ck.record_verdicts(
        "comp", "snap-2",
        _verdicts(
            spark,
            [
                (0, True, 0, 0.00),    # unchanged
                (1, False, 90, 0.45),  # metric jumped AND status flipped
                (3, True, 0, 0.00),    # new partition (2 vanished)
            ],
        ),
    )

    assert ck.snapshots("comp") == ["snap-1", "snap-2"]

    h = ck.metric_history("comp", "null_fraction")
    assert h.count() == 6
    row = h.filter(
        (F.col("snapshot_id") == "snap-2") & (F.col("partition_id") == 1)
    ).collect()[0]
    assert row.null_fraction == 0.45 and row.status == "violated"

    r = {
        x.partition_id: x
        for x in ck.metric_regressions(
            "comp", "null_fraction", "snap-1", "snap-2", max_rel_change=0.5
        ).collect()
    }
    assert set(r) == {0, 1, 2, 3}
    assert not r[0].regressed
    assert r[1].regressed and r[1].current_status == "violated"
    assert r[2].regressed and r[2].current is None   # vanished partition
    assert r[3].regressed and r[3].baseline is None  # newborn partition


def test_metric_regressions_abs_floor_and_rerun(spark, tmp_path):
    """min_abs_change mutes relative noise on near-zero baselines, and a
    re-validated partition's LATEST record wins within a snapshot."""
    import time as _time

    from pyspark_validator.checkpoint import CheckpointManager

    ck = CheckpointManager(spark, str(tmp_path / "m"))
    ck.record_verdicts(
        "comp", "s1", _verdicts(spark, [(0, True, 0, 0.0001)])
    )
    _time.sleep(0.01)
    # re-run of partition 0 in s1 supersedes the first record
    ck.record_verdicts(
        "comp", "s1", _verdicts(spark, [(0, True, 0, 0.0002)])
    )
    ck.record_verdicts(
        "comp", "s2", _verdicts(spark, [(0, True, 0, 0.0004)])
    )
    # 2x relative jump, but under the abs floor -> not a regression
    out = ck.metric_regressions(
        "comp", "null_fraction", "s1", "s2",
        max_rel_change=0.5, min_abs_change=0.01,
    ).collect()[0]
    assert out.baseline == 0.0002 and out.current == 0.0004
    assert not out.regressed
    # no floor -> the same jump regresses
    out2 = ck.metric_regressions(
        "comp", "null_fraction", "s1", "s2", max_rel_change=0.5
    ).collect()[0]
    assert out2.regressed


def test_sketch_store_roundtrip_merge_and_drift(spark, tmp_path):
    """Per-snapshot sketch profiles persist, reload byte-identically, merge
    by pure algebra into the union profile, and answer KS drift with zero
    data scans."""
    import numpy as np

    from pyspark_validator.checkpoint import SketchStore
    from pyspark_validator.sketches import sketch_profile

    s1 = spark.range(0, 1500).selectExpr(
        "id as k", "cast(id as double) as x"
    ).repartition(4)
    # shifted distribution + new keys in snapshot 2
    s2 = spark.range(1500, 3000).selectExpr(
        "id as k", "cast(id * 10 as double) as x"
    ).repartition(4)

    store = SketchStore(spark, str(tmp_path / "sketches"))
    p1 = sketch_profile(s1, ["k", "x"], fanin=4)
    p2 = sketch_profile(s2, ["k", "x"], fanin=4)
    store.record("snap-1", p1)
    store.record("snap-2", p2)

    # roundtrip: registers byte-identical
    back = store.load("snap-1")
    assert set(back) == {"k", "x"}
    assert np.array_equal(back["k"].hll.registers, p1["k"].hll.registers)
    assert np.array_equal(back["k"].cms.table, p1["k"].cms.table)
    assert back["x"].kll.n == p1["x"].kll.n

    # merged == profile of the union (HLL/CMS exactly; counts exactly)
    union_prof = sketch_profile(s1.unionByName(s2), ["k", "x"], fanin=4)
    m = store.merged(["snap-1", "snap-2"])
    assert m["k"].n == 3000 and m["k"].n_null == 0
    assert np.array_equal(m["k"].hll.registers, union_prof["k"].hll.registers)
    assert np.array_equal(m["k"].cms.table, union_prof["k"].cms.table)
    # KLL merge: same mass, quantiles within envelope
    assert m["x"].kll.n == union_prof["x"].kll.n
    got = m["x"].quantiles([0.5])[0]
    want = union_prof["x"].quantiles([0.5])[0]
    assert got == pytest.approx(want, rel=0.1)

    # drift between snapshots from stored sketches alone
    d = store.ks_drift("x", "snap-1", "snap-2")
    assert d["drift_detected"] and d["ks_stat"] > 0.9
    with pytest.raises(ValueError):
        store.ks_drift("k", "snap-1", "missing-snap")


def test_suite_sketch_profile_kind(spark, tmp_path):
    """The 'sketch_profile' check kind: informational verdict + persisted
    sketches a later snapshot can merge with."""
    from pyspark_validator.checkpoint import SketchStore
    from pyspark_validator.runner import CheckSpec, ValidationSuite

    docs = spark.createDataFrame(
        [(f"d{i}", float(i % 11)) for i in range(300)], ["doc_id", "score"]
    )
    suite = ValidationSuite(
        spark, docs, num_partitions=4, snapshot_id="s1"
    )
    store_path = str(tmp_path / "sk")
    out = suite.run(
        [
            CheckSpec(
                name="prof",
                kind="sketch_profile",
                params={"columns": ["doc_id", "score"], "store_path": store_path,
                        "fanin": 4},
            )
        ]
    )
    rows = {r.column: r for r in out["prof"].collect()}
    assert rows["doc_id"].n_rows == 300 and rows["doc_id"].n_null == 0
    assert abs(rows["score"].distinct_est - 11) <= 1
    stored = SketchStore(spark, store_path).load("s1")
    assert set(stored) == {"doc_id", "score"}
    assert stored["score"].kll is not None
    suite.unpersist()


# ---------------------------------------------------------------------------
# Failure injection: crashed writers and concurrent suite runs. A cluster
# retry WILL race its zombie predecessor and a killed job WILL leave torn
# files -- the manifest must degrade to recomputation, never to a poisoned
# read or lost completion facts.
# ---------------------------------------------------------------------------


def test_manifest_tolerates_torn_append(spark, tmp_path):
    """A writer killed mid-commit leaves a truncated/garbage part-file in the
    manifest dir. Every later manifest() read must still return the intact
    batches (the torn batch's partitions simply re-queue on resume)."""
    import os

    path = str(tmp_path / "manifest_torn")
    ckpt = CheckpointManager(spark, path)
    verdicts = spark.createDataFrame(
        [(p, True, 10) for p in range(5)], ["partition_id", "holds", "n_rows"]
    )
    ckpt.record_verdicts("c1", "s1", verdicts)
    # torn append: a visible part-file with a garbage footer + a zero-byte
    # file (crash at create) inside its own batch dir
    torn = tmp_path / "manifest_torn" / "batch-deadbeefdeadbeef"
    os.makedirs(torn)
    (torn / "part-00000-torn-c000.snappy.parquet").write_bytes(b"\x00" * 512)
    (torn / "part-00001-torn-c000.snappy.parquet").write_bytes(b"")
    rows = ckpt.manifest().collect()
    assert len(rows) == 5 and all(r.check_id == "c1" for r in rows)
    df = spark.range(100).select(
        (F.col("id") % 10).cast("int").alias("partition_id"), F.col("id")
    )
    assert ckpt.filter_pending(df, "c1", "s1").count() == 50
    # and appends keep working after the torn batch exists
    ckpt.record_verdicts("c1", "s1", verdicts.withColumn(
        "partition_id", F.col("partition_id") + 5
    ))
    assert ckpt.filter_pending(df, "c1", "s1").count() == 0


def test_manifest_ignores_crashed_writer_staging(spark, tmp_path):
    """An uncommitted _temporary staging tree (writer SIGKILLed before job
    commit) must be invisible to readers."""
    import os

    path = str(tmp_path / "manifest_stage")
    ckpt = CheckpointManager(spark, path)
    ckpt.record_verdicts(
        "c1",
        "s1",
        spark.createDataFrame([(0, True, 1)], ["partition_id", "holds", "n_rows"]),
    )
    stage = (
        tmp_path / "manifest_stage" / "batch-zombie" / "_temporary" / "0"
        / "_temporary" / "attempt_x" 
    )
    os.makedirs(stage)
    # an intact-looking parquet payload under _temporary must STILL be ignored
    spark.createDataFrame(
        [("r", "cX", "sX", 99, "ok", "{}", 0.0)],
        ["run_id", "check_id", "snapshot_id", "partition_id", "status",
         "metrics_json", "completed_at"],
    ).toPandas().to_parquet(str(stage / "part-00000.parquet"))
    rows = ckpt.manifest().collect()
    assert len(rows) == 1 and rows[0].check_id == "c1"


def test_concurrent_suite_runs_union_without_clobbering(spark, tmp_path):
    """Two suite runs sharing one manifest dir: every append lands in its own
    batch directory (the mechanism that makes a real concurrent race safe --
    writers never share a staging path), completion facts UNION, and
    re-validated partitions resolve last-wins by completed_at in
    metric_history (the documented merge semantics)."""
    import glob
    import os

    path = str(tmp_path / "manifest_conc")
    a = CheckpointManager(spark, path, run_id="run_a")
    b = CheckpointManager(spark, path, run_id="run_b")
    # interleaved appends from both writers, overlapping partition 2
    a.record_verdicts("c1", "s1", spark.createDataFrame(
        [(0, True, 1), (1, True, 1), (2, True, 1)],
        ["partition_id", "holds", "n_rows"],
    ))
    b.record_verdicts("c1", "s1", spark.createDataFrame(
        [(2, False, 99), (3, True, 1)], ["partition_id", "holds", "n_rows"]
    ))
    a.record_verdicts("c1", "s1", spark.createDataFrame(
        [(4, True, 1)], ["partition_id", "holds", "n_rows"]
    ))
    # disjoint batch dirs: one per append, no files at the root
    batches = glob.glob(f"{path}/batch-*")
    assert len(batches) == 3
    assert not glob.glob(f"{path}/*.parquet")
    assert all(
        f.startswith("_") or f.startswith(".") or f.endswith(".parquet") or f.endswith(".crc")
        for bd in batches for f in os.listdir(bd)
    )
    # union: all 5 partitions completed; the overlap kept BOTH facts
    assert a.completed_partitions("c1", "s1").count() == 5
    assert b.manifest().count() == 6
    # last-wins: partition 2's latest record (run_b, violated) decides
    hist = {
        r.partition_id: r
        for r in a.metric_history("c1", "n_rows").collect()
    }
    assert hist[2].status == "violated" and hist[2].n_rows == 99.0
    # resume from EITHER manager sees the union
    df = spark.range(50).select(
        (F.col("id") % 5).cast("int").alias("partition_id"), F.col("id")
    )
    assert b.filter_pending(df, "c1", "s1").count() == 0


# ---------------------------------------------------------------------------
# Scope-correct verdicts and zero-work reruns. A whole-table check is one
# verdict over the whole frame: a rerun must skip it, never recompute it on a
# frame emptied of its already-recorded partitions. A per-partition check
# whose verdict partition is not the doc partition (IND keys by hash(ref))
# runs on the full frame and keeps only its pending partitions.
# ---------------------------------------------------------------------------


def _batches(path: str) -> list[str]:
    import glob

    return sorted(glob.glob(f"{path}/batch-*"))


def test_rerun_keeps_whole_table_nar_verdict(spark, tmp_path):
    """A NAR rule violated only by partition-0 docs: the rerun skips the
    recorded whole-table verdict instead of re-recording holds=True."""
    from pyspark_validator.canonical import partition_id_expr

    docs = spark.range(400).select(
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("doc_id"),
        F.lit("F").alias("status"),
    )
    docs = docs.withColumn(
        "a",
        F.when(partition_id_expr("doc_id", 8) == 0, F.lit(100.0)).otherwise(1.0),
    )
    path = str(tmp_path / "m")
    nar = CheckSpec(
        name="nar_a",
        kind="nar",
        params={
            "ante": {"status": {"in": ["F"]}},
            "cons": {"a": {"between": [0.0, 10.0]}},
        },
    )

    def suite():
        return ValidationSuite(
            spark, docs, num_partitions=8, checkpoint_path=path, snapshot_id="s"
        )

    s1 = suite()
    first = s1.run([nar])["nar_a"].collect()
    assert len(first) == 1 and not first[0].holds and first[0].confidence < 1.0
    s2 = suite()
    assert s2.run([nar])["nar_a"].count() == 0
    hist = s2.ckpt.metric_history("nar_a", "confidence").collect()
    assert [(r.partition_id, r.status) for r in hist] == [(0, "violated")]
    assert s2.ckpt.manifest().count() == 1
    s1.unpersist()
    s2.unpersist()


def test_partial_resume_ind_reads_full_frame(spark, tmp_path):
    """IND verdict partitions are keyed by hash(ref), not by doc partition:
    a resume must read the whole frame and record only the pending verdict
    partitions, each with the counts a clean run gives."""
    from pyspark_validator.checks.ind import ind_check

    docs = spark.range(200).select(
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("doc_id"),
        (F.col("id") % 50).alias("fk"),
    )
    dim = spark.range(45).select(F.col("id").alias("pk"))
    path = str(tmp_path / "m")
    full_df = ind_check(docs, ["fk"], dim, ["pk"]).verdicts(num_partitions=8)
    full = {r.partition_id: tuple(r) for r in full_df.collect()}
    assert set(full) == set(range(8))
    ckpt = CheckpointManager(spark, path)
    ckpt.record_verdicts("ind_fk", "s", full_df.where(F.col("partition_id") < 4))
    suite = ValidationSuite(
        spark, docs, num_partitions=8, checkpoint_path=path, snapshot_id="s"
    )
    spec = CheckSpec(
        name="ind_fk", kind="ind", params={"lhs": ["fk"], "rhs": ["pk"], "rhs_df": dim}
    )
    got = {r.partition_id: tuple(r) for r in suite.run([spec])["ind_fk"].collect()}
    assert got == {p: full[p] for p in range(4, 8)}
    recorded = sorted(r.partition_id for r in ckpt.manifest().collect())
    assert recorded == list(range(8))  # 0-3 not re-recorded
    suite.unpersist()


def test_rerun_sketch_profile_adds_no_store_batch(spark, tmp_path):
    from pyspark_validator.checkpoint import SketchStore

    docs = spark.createDataFrame(
        [(f"d{i}", float(i % 11)) for i in range(300)], ["doc_id", "score"]
    )
    store_path = str(tmp_path / "sk")
    spec = CheckSpec(
        name="prof",
        kind="sketch_profile",
        params={"columns": ["score"], "store_path": store_path, "fanin": 4},
    )
    for _ in range(2):
        suite = ValidationSuite(
            spark, docs, num_partitions=4, snapshot_id="s1",
            checkpoint_path=str(tmp_path / "m"),
        )
        suite.run([spec])
        suite.unpersist()
    assert len(_batches(store_path)) == 1
    assert len(_batches(str(tmp_path / "m"))) == 1
    assert set(SketchStore(spark, store_path).load("s1")) == {"score"}


@pytest.mark.parametrize("fused", [False, True])
def test_rerun_over_complete_manifest_is_one_job(spark, tmp_path, fused):
    """A rerun over a complete manifest reads the manifest once (one Spark
    job) and writes no manifest batch."""
    docs = fixtures.docs_spark_df(spark, 300)
    path = str(tmp_path / "m")
    checks = [
        CheckSpec(name="ucc_doc_id", kind="ucc", params={"columns": ["doc_id"]}),
        CheckSpec(name="spans_ok", kind="span_integrity"),
    ]

    def run(suite):
        return suite.run_fused(checks) if fused else suite.run(checks)

    first = ValidationSuite(spark, docs, num_partitions=8, checkpoint_path=path)
    assert {n: v.count() for n, v in run(first).items()} == {
        "ucc_doc_id": 8, "spans_ok": 8,
    }
    batches = _batches(path)
    assert len(batches) == 2  # one batch per check
    rerun = ValidationSuite(spark, docs, num_partitions=8, checkpoint_path=path)
    sc = spark.sparkContext
    grp = f"rerun_audit_{fused}"
    sc.setJobGroup(grp, "audit")
    try:
        out = run(rerun)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(grp)) == 1
    assert {n: v.count() for n, v in out.items()} == {"ucc_doc_id": 0, "spans_ok": 0}
    assert _batches(path) == batches
    first.unpersist()
    rerun.unpersist()


def test_fused_pass_on_fresh_checkpoint_has_no_join(spark, tmp_path, monkeypatch):
    from pyspark_validator.fused import FusedPass

    plans = []
    grouped = FusedPass.grouped

    def spy(self):
        g = grouped(self)
        plans.append(g._jdf.queryExecution().executedPlan().toString())
        return g

    monkeypatch.setattr(FusedPass, "grouped", spy)
    suite = ValidationSuite(
        spark, fixtures.docs_spark_df(spark, 300), num_partitions=8,
        checkpoint_path=str(tmp_path / "m"),
    )
    suite.run_fused(
        [
            CheckSpec(name="spans_ok", kind="span_integrity"),
            CheckSpec(name="n_ok", kind="completeness", params={"column": "doc_id"}),
        ]
    )
    assert plans and all("Join" not in p for p in plans)
    suite.unpersist()


def test_whole_table_kinds_match_verdict_framing(spark):
    """``_WHOLE_TABLE_KINDS`` must name exactly the kinds whose verdicts are
    all partition 0: a whole-table kind left out would get the universe
    range(P), never complete, and be recomputed on every rerun."""
    from pyspark_validator.checks.md import ColumnMatch
    from pyspark_validator.runner import _FUSED_ONLY_KINDS, _WHOLE_TABLE_KINDS

    docs = spark.range(64).select(
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("doc_id"),
        (F.col("id") % 5).cast("string").alias("grp"),
        F.when(F.col("id") % 2 == 0, "F").otherwise("G").alias("status"),
        (F.col("id") % 50).alias("fk"),
        F.col("id").cast("int").alias("ts"),
        (F.col("id") % 10).cast("double").alias("a"),
        (F.col("id") % 10 + 2).cast("double").alias("b"),
    )
    whole = {
        "nd": {"lhs": ["grp"], "rhs": ["fk"], "weight": 20},
        "sfd": {"col_a": "a", "col_b": "b"},
        "nar": {"ante": {"status": {"in": ["F"]}},
                "cons": {"a": {"between": [0.0, 9.0]}}},
        "mfd": {"lhs": ["grp"], "rhs": ["a"], "parameter": 100.0},
        "sd": {"order_col": "ts", "value_col": "a"},
        "md": {"lhs": [ColumnMatch("equality", "grp", "grp", 1.0)],
               "rhs": ColumnMatch("equality", "status", "status", 1.0)},
        "sketch_profile": {"columns": ["a"], "fanin": 4},
        "schema": {"columns": [{"name": "doc_id", "dtype": "string"}]},
        "assoc": {"col_a": "grp", "col_b": "status"},
        "reconcile": {"child_df": docs.select("doc_id", "a"),
                      "parent_keys": ["doc_id"], "child_keys": ["doc_id"],
                      "stored": "a", "derived_agg": "sum(a)"},
        "precedence": {"keys": ["grp"], "ts_col": "ts",
                       "antecedent": "status = 'F'",
                       "consequent": "status = 'G'"},
        "interval_overlap": {"keys": ["grp"], "start_col": "a", "end_col": "b"},
        "outlier": {"column": "a"},
    }
    per_partition = {
        "ucc": {"columns": ["doc_id"]},
        "fd": {"lhs": ["doc_id"], "rhs": ["grp"]},
        "ind": {"lhs": ["fk"], "rhs": ["fk"], "rhs_df": docs},
        "ac": {"lhs": "b", "rhs": "a", "binop": "-", "ranges": [[0.0, 9.0]]},
        "anon": {"quasi_identifiers": ["grp"], "k": 2},
        "completeness": {"column": "doc_id"},
    }
    assert set(whole) == _WHOLE_TABLE_KINDS
    assert not _FUSED_ONLY_KINDS & _WHOLE_TABLE_KINDS
    suite = ValidationSuite(spark, docs, num_partitions=4)
    specs = [
        CheckSpec(name=k, kind=k, params=p)
        for k, p in {**whole, **per_partition}.items()
    ]
    got = {
        name: {r.partition_id for r in v.select("partition_id").collect()}
        for name, v in suite.run(specs).items()
    }
    for k in whole:
        assert got[k] == {0}, k
    for k in per_partition:
        assert len(got[k]) > 1, k
    suite.unpersist()
