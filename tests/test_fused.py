"""Fused single-scan multi-check pass (fused.py) + runner/CLI integration.

Correctness law: fusing must change NOTHING about each check's semantics --
every fused verdict is cross-checked against the standalone module that owns
the semantics (checks/nar.py, checks/ac.py) or a direct computation.
Scale law: k fused checks = ONE scan + ONE shuffle (plan-audited).
"""

import json
import re

import pytest
from pyspark.sql import functions as F

from pyspark_validator.fused import FusedPass
from pyspark_validator.runner import CheckSpec, ValidationSuite


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _count(plan: str, node: str) -> int:
    return len(re.findall(rf"^\(\d+\) {node}", plan, re.M))


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet("/root/testdata/sf0.001/orders.parquet")


@pytest.fixture(scope="module")
def fused(orders):
    p = (
        FusedPass(orders, num_partitions=8, partition_key="o_orderkey")
        .add_nar(
            "nar_f",
            ante={"o_orderstatus": ["F"]},
            cons={"o_totalprice": (0.0, 1e9)},
            min_confidence=1.0,
        )
        .add_ac(
            "ac_key_price",
            "o_orderkey",
            "o_orderkey",
            "+",
            ranges=[(0.0, 1e7)],
        )
        .add_row_predicate(
            "pred_status", {"o_orderstatus": ["F", "O", "P"]}
        )
        .add_completeness("null_prio", "o_orderpriority", max_null_fraction=0.0)
        .add_numeric_profile("prof_price", "o_totalprice")
        .add_distinct("uniq_key", "o_orderkey", min_ratio=1.0)
        .add_histogram_drift(
            "drift_price",
            "o_totalprice",
            bin_edges=[0.0, 100_000.0, 200_000.0, 600_000.0],
            baseline_probs=[0.4, 0.35, 0.25],
            max_psi=10.0,  # generous: gate exercises the formula, not the data
        )
    )
    yield p
    p.unpersist()


def test_fused_nar_rollup_equals_standalone(orders, fused):
    from pyspark_validator.checks.nar import nar_check

    direct = nar_check(
        orders, {"o_orderstatus": ["F"]}, {"o_totalprice": (0.0, 1e9)}
    ).qualities().collect()[0]
    rolled = fused.rollup_nar("nar_f").collect()[0]
    assert rolled.n_rows == direct.n_rows
    assert rolled.n_fit_ante == direct.n_fit_ante
    assert rolled.n_fit_both == direct.n_fit_both
    assert rolled.support == pytest.approx(direct.support)
    assert rolled.confidence == pytest.approx(direct.confidence)
    assert rolled.fitness == pytest.approx(direct.fitness)


def test_fused_ac_equals_standalone_exceptions(orders, fused):
    from pyspark_validator.checks.ac import ac_check

    exc = ac_check(orders, "o_orderkey", "o_orderkey", "+", num_partitions=8).exceptions(
        ["o_orderkey"], ranges=[(0.0, 1e7)]
    )
    n_direct = exc.count()
    v = fused.verdict("ac_key_price")
    total = v.agg(F.sum("n_exceptions")).collect()[0][0]
    assert total == n_direct
    # per-partition exactness: recompute one partition's count directly
    row = v.orderBy(F.desc("n_exceptions")).first()
    pid_direct = exc.withColumn(
        "pid", F.pmod(F.xxhash64("o_orderkey"), F.lit(8)).cast("int")
    ).filter(F.col("pid") == row.partition_id).count()
    assert row.n_exceptions == pid_direct
    assert (row.n_exceptions == 0) == row.holds


def test_fused_row_predicate_and_completeness(orders, fused):
    n = orders.count()
    pred = fused.verdict("pred_status")
    assert pred.agg(F.sum("n_rows")).collect()[0][0] == n
    assert all(r.holds and r.n_violations == 0 for r in pred.collect())
    comp = fused.verdict("null_prio")
    n_null = orders.filter(F.col("o_orderpriority").isNull()).count()
    assert comp.agg(F.sum("n_null")).collect()[0][0] == n_null


def test_fused_numeric_profile_matches_global(orders, fused):
    prof = fused.verdict("prof_price")
    g = orders.agg(
        F.min("o_totalprice"), F.max("o_totalprice"), F.sum("o_totalprice")
    ).collect()[0]
    rows = prof.collect()
    assert min(r.min for r in rows) == pytest.approx(g[0])
    assert max(r.max for r in rows) == pytest.approx(g[1])
    # per-partition means recombine to the global mean
    tot = sum(r.mean * (r.n_rows - r.n_null) for r in rows)
    assert tot == pytest.approx(g[2], rel=1e-9)
    assert all(r.std >= 0 for r in rows)


def test_fused_histogram_drift_psi_formula(orders, fused):
    import math

    row = fused.verdict("drift_price").orderBy("partition_id").first()
    pid = F.pmod(F.xxhash64("o_orderkey"), F.lit(8)).cast("int")
    part = orders.withColumn("pid", pid).filter(F.col("pid") == row.partition_id)
    edges = [0.0, 100_000.0, 200_000.0, 600_000.0]
    q = [0.4, 0.35, 0.25]
    vals = [r[0] for r in part.select("o_totalprice").collect() if r[0] is not None]
    counts = [0, 0, 0]
    for v in vals:
        if v < edges[1]:
            counts[0] += 1
        elif v < edges[2]:
            counts[1] += 1
        else:
            counts[2] += 1
    alpha, k = 0.5, 3
    psi = sum(
        ((c + alpha) / (len(vals) + alpha * k) - qq)
        * math.log(((c + alpha) / (len(vals) + alpha * k)) / qq)
        for c, qq in zip(counts, q)
    )
    assert row.n == len(vals)
    assert row.psi == pytest.approx(psi, rel=1e-9)


def test_fused_plan_one_scan_one_shuffle(spark, orders, fused):
    """The scale claim: seven checks, ONE full-width parquet scan for every
    algebraic member under whole-stage-codegen HashAggregate, plus ONE thin
    column-pruned companion scan isolating the HLL sketch member (a
    TypedImperativeAggregate would otherwise demote the whole aggregation to
    interpreted ObjectHashAggregate — measured 2.1x slower at 8M docs,
    BASELINE.md round-5). No Python eval anywhere."""
    spark.catalog.clearCache()
    p = _plan(fused.grouped())
    assert _count(p, "Scan parquet") == 2
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # the algebraic members keep the codegen HashAggregate path; the object
    # path appears exactly once per agg level (partial+final) for the sketch
    # (_count anchors on the node header, so "HashAggregate" does not
    # also match the Object variant)
    assert _count(p, "HashAggregate") == 2
    assert _count(p, "ObjectHashAggregate") == 2
    schemas = [l for l in p.splitlines() if "ReadSchema" in l]
    assert len(schemas) == 2
    for schema in schemas:
        assert "o_comment" not in schema  # pruned: no check touches it
    # the companion scan reads ONLY the sketch input / partition key column
    assert min(schemas, key=len).strip().endswith("struct<o_orderkey:bigint>")


def test_fused_plan_regex_group_isolated(spark, orders):
    """A pii member gets its OWN aggregation pass (the regex-interference
    poison pair, _Member.group): with sketch + regex + main members the plan
    carries three scans, and the regex companion is column-pruned to the
    text column + partition key."""
    spark.catalog.clearCache()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fp = (
        FusedPass(docs, num_partitions=8)
        .add_benford("ben", "n_chars")
        .add_distinct("uniq", "doc_id")
        .add_pii_budget("pii", text_col="text", max_doc_fraction=1.0)
    )
    p = _plan(fp.grouped())
    assert _count(p, "Scan parquet") == 3
    schemas = sorted(
        (l.split("ReadSchema:")[1].strip() for l in p.splitlines() if "ReadSchema" in l),
        key=len,
    )
    assert schemas[0] == "struct<doc_id:bigint>"  # sketch companion
    assert schemas[1] == "struct<doc_id:bigint,text:string>"  # regex companion
    fp.unpersist()


def test_fused_plan_all_algebraic_single_scan(spark, orders):
    """Without a sketch member the original one-scan/one-exchange shape must
    survive — no companion pass, no join, pure HashAggregate."""
    spark.catalog.clearCache()
    fp = (
        FusedPass(orders, num_partitions=8, partition_key="o_orderkey")
        .add_completeness("null_prio", "o_orderpriority", max_null_fraction=0.0)
        .add_numeric_profile("prof_price", "o_totalprice")
    )
    p = _plan(fp.grouped())
    assert _count(p, "Scan parquet") == 1
    assert _count(p, "Exchange") == 1
    assert _count(p, "ObjectHashAggregate") == 0
    fp.unpersist()


def test_run_fused_matches_run_and_resumes(spark, orders, tmp_path):
    """runner.run_fused: nar keeps its whole-table verdict (partition 0,
    equal to NARCheck.qualities() on the suite frame), fused kinds record
    per-partition lineage, and a resumed run recomputes nothing."""
    from pyspark_validator.checks.nar import nar_check

    checks = [
        CheckSpec(
            name="nar_f",
            kind="nar",
            params={
                "ante": {"o_orderstatus": {"in": ["F"]}},
                "cons": {"o_totalprice": {"between": [0.0, 1e9]}},
                "min_confidence": 1.0,
            },
        ),
        CheckSpec(
            name="comp_prio",
            kind="completeness",
            params={"column": "o_orderpriority"},
        ),
        # non-fusable kind exercises the fallback routing
        CheckSpec(name="ucc_key", kind="ucc", params={"columns": ["doc_id"]}),
    ]
    ck = str(tmp_path / "manifest")
    suite = ValidationSuite(
        spark,
        orders,
        num_partitions=8,
        checkpoint_path=ck,
        doc_id_col="o_orderkey",
    )
    res = suite.run_fused(checks)
    assert set(res) == {"nar_f", "comp_prio", "ucc_key"}
    nar_rows = res["nar_f"].collect()
    want = nar_check(
        suite.canon.df, checks[0].params["ante"], checks[0].params["cons"]
    ).qualities().collect()[0]
    assert len(nar_rows) == 1 and nar_rows[0].partition_id == 0
    assert nar_rows[0].holds and want.confidence == 1.0
    for field_name, value in want.asDict().items():
        assert getattr(nar_rows[0], field_name) == pytest.approx(value), field_name
    assert res["comp_prio"].count() == 8
    assert all(r.holds for r in res["comp_prio"].collect())
    # resume: all partitions recorded -> second run computes zero rows
    suite2 = ValidationSuite(
        spark,
        orders,
        num_partitions=8,
        checkpoint_path=ck,
        doc_id_col="o_orderkey",
    )
    res2 = suite2.run_fused(checks)
    assert res2["nar_f"].count() == 0
    assert res2["comp_prio"].count() == 0
    suite.unpersist()
    suite2.unpersist()


def _fp_for(df):
    return (
        FusedPass(df, num_partitions=8, partition_key="o_orderkey")
        .add_nar(
            "nar_f",
            ante={"o_orderstatus": ["F"]},
            cons={"o_totalprice": (1000.0, 400000.0)},
            min_confidence=0.9,
        )
        .add_completeness("comp_prio", "o_orderpriority")
        .add_numeric_profile("prof_price", "o_totalprice")
        .add_distinct("uniq_key", "o_orderkey", min_ratio=1.0)
        .add_histogram_drift(
            "drift_price",
            "o_totalprice",
            bin_edges=[0.0, 150_000.0, 600_000.0],
            baseline_probs=[0.5, 0.5],
            max_psi=10.0,
        )
    )


def test_incremental_fused_equals_batch(spark, orders, tmp_path):
    """IncrementalFused law: initialize(base) + apply_delta(d1) +
    apply_delta(d2) == one batch FusedPass over base ∪ d1 ∪ d2, for every
    member kind (sum, min, max merges all exercised); a delta adds only its
    own batch, holding only the touched partition, and every existing state
    file stays byte-identical."""
    import os

    from pyspark_validator.fused import IncrementalFused

    base = orders.filter(F.col("o_orderkey") % 3 == 0)
    d1 = orders.filter(F.col("o_orderkey") % 3 == 1)
    # d2 touches exactly ONE logical partition
    one_key = orders.filter(F.col("o_orderkey") % 3 == 2).select(
        F.min("o_orderkey")
    ).collect()[0][0]
    d2 = orders.filter(F.col("o_orderkey") == one_key)

    root = str(tmp_path / "state")
    inc = IncrementalFused(_fp_for(base), root)
    inc.initialize()
    inc.apply_delta(d1)

    def files():
        out = {}
        for d, _, names in os.walk(root):
            for n in names:
                with open(os.path.join(d, n), "rb") as f:
                    out[os.path.relpath(os.path.join(d, n), root)] = f.read()
        return out

    before = files()
    touched = inc.apply_delta(d2)
    after = files()
    touched_pid = (
        d2.select(
            F.pmod(F.xxhash64("o_orderkey"), F.lit(8)).cast("int").alias("p")
        )
        .collect()[0]
        .p
    )
    assert touched == [touched_pid]
    assert {p: after[p] for p in before} == before  # existing files unchanged
    added = set(after) - set(before)
    [batch] = {p.split(os.sep)[0] for p in added}  # one new batch
    assert {os.path.dirname(p) for p in added} == {
        batch,
        os.path.join(batch, f"partition_id={touched_pid}"),
    }

    full = _fp_for(base.unionByName(d1).unionByName(d2))
    for name in ("nar_f", "comp_prio", "prof_price", "uniq_key", "drift_price"):
        got = {r.partition_id: r for r in inc.verdict(name).collect()}
        want = {r.partition_id: r for r in full.verdict(name).collect()}
        assert set(got) == set(want)
        for pid, w in want.items():
            g = got[pid]
            for field in w.asDict():
                gv, wv = getattr(g, field), getattr(w, field)
                if field.startswith("distinct_"):
                    # HLL union == single-pass sketch only up to the sketch's
                    # error envelope (mode promotion differs), not bit-exactly
                    assert gv == pytest.approx(wv, rel=0.02), (name, pid, field)
                elif isinstance(wv, float):
                    assert gv == pytest.approx(wv, rel=1e-9), (name, pid, field)
                else:
                    assert gv == wv, (name, pid, field)
    full.unpersist()


def test_cli_fuse_flag(spark, tmp_path, capsys):
    """A spec that still carries the retired "fuse" key runs unchanged."""
    from pyspark_validator.__main__ import main
    from pyspark_validator.canonical import canonicalize
    from pyspark_validator.checks.nar import nar_check

    spec = {
        "table": "/root/testdata/sf0.001/orders.parquet",
        "num_partitions": 4,
        "doc_id_col": "o_orderkey",
        "output": f"{tmp_path}/out",
        "fuse": True,
        "checks": [
            {
                "name": "nar_f",
                "kind": "nar",
                "params": {
                    "ante": {"o_orderstatus": {"in": ["F"]}},
                    "cons": {"o_totalprice": {"between": [0.0, 1e9]}},
                },
            },
            {
                "name": "prof_price",
                "kind": "numeric_profile",
                "params": {"column": "o_totalprice"},
            },
        ],
    }
    sp = tmp_path / "spec.json"
    sp.write_text(json.dumps(spec))
    assert main(["--spec", str(sp)]) == 0
    out = {
        json.loads(l)["check"]: json.loads(l)
        for l in capsys.readouterr().out.strip().splitlines()
    }
    # nar is whole-table whatever the spec says about fusing: one verdict,
    # equal to NARCheck.qualities() on the frame the suite validates
    assert out["nar_f"]["holds"] and out["nar_f"]["partitions"] == 1
    assert out["prof_price"]["partitions"] == 4
    (got,) = spark.read.parquet(f"{tmp_path}/out/nar_f").collect()
    canon = canonicalize(
        spark.read.parquet(spec["table"]), num_partitions=4, doc_id_col="o_orderkey"
    )
    rule = spec["checks"][0]["params"]
    (want,) = nar_check(canon.df, rule["ante"], rule["cons"]).qualities().collect()
    canon.unpersist()
    assert got.partition_id == 0 and got.holds
    for field_name, value in want.asDict().items():
        assert getattr(got, field_name) == pytest.approx(value), field_name


def test_fused_distinct_tracks_exact_counts(spark, orders, fused):
    """HLL member vs exact per-partition distinct counts: within the sketch's
    error envelope (lg_k=12 -> well under 2% at these cardinalities), and
    min_ratio=1.0 holds on a unique key."""
    pid = F.pmod(F.xxhash64("o_orderkey"), F.lit(8)).cast("int")
    exact = {
        r.partition_id: r.d
        for r in orders.groupBy(pid.alias("partition_id"))
        .agg(F.count_distinct("o_orderkey").alias("d"))
        .collect()
    }
    got = fused.verdict("uniq_key").collect()
    assert {r.partition_id for r in got} == set(exact)
    for r in got:
        assert r.holds  # o_orderkey unique -> ratio 1.0 (sketch-exact here)
        assert r.distinct_est == pytest.approx(exact[r.partition_id], rel=0.02)


def test_fused_distinct_null_markers_and_gate(spark):
    """Nulls count as values (UCC null==null convention), the null-marker
    interleave keeps (a, NULL) != (NULL, a), and min_ratio gates holds."""
    df = spark.createDataFrame(
        [("a", None), (None, "a"), ("a", None), ("b", "b")],
        ["x", "y"],
    )
    fp = (
        FusedPass(df, num_partitions=1, partition_key="x")
        .add_distinct("d_xy", ["x", "y"], min_ratio=1.0)
        .add_distinct("d_info", ["x", "y"])
    )
    gated = fp.verdict("d_xy").collect()[0]
    info = fp.verdict("d_info").collect()[0]
    # 3 distinct combos out of 4 rows: ("a",NULL) x2, (NULL,"a"), ("b","b")
    assert gated.distinct_est == 3 and info.distinct_est == 3
    assert not gated.holds  # 3/4 < 1.0
    assert info.holds  # informational: always true
    fp.unpersist()


def test_runner_distinct_kind_standalone(spark, orders):
    suite = ValidationSuite(
        spark, orders, num_partitions=8, doc_id_col="o_orderkey"
    )
    res = suite.run(
        [
            CheckSpec(
                name="uniq_orderkey",
                kind="distinct",
                # canonicalize() renamed o_orderkey -> doc_id
                params={"columns": ["doc_id"], "min_ratio": 1.0},
            )
        ]
    )
    rows = res["uniq_orderkey"].collect()
    assert len(rows) == 8 and all(r.holds for r in rows)
    assert sum(r.n_rows for r in rows) == orders.count()


def test_incremental_fused_deletes_retract_sum_members(spark, orders, tmp_path):
    """apply_delta(deletes=...) retracts all-'sum' members to exactly the
    batch answer over (base minus deleted), and refuses when a
    non-retractable member (min/max/HLL) is registered."""
    from pyspark_validator.fused import FusedPass, IncrementalFused

    def sum_only(df):
        return (
            FusedPass(df, num_partitions=8, partition_key="o_orderkey")
            .add_nar(
                "nar_f",
                ante={"o_orderstatus": ["F"]},
                cons={"o_totalprice": (1000.0, 400000.0)},
                min_confidence=0.9,
            )
            .add_completeness("comp_prio", "o_orderpriority")
            .add_row_predicate("pred", {"o_totalprice": (0.0, 500000.0)})
        )

    gone = orders.filter(F.col("o_orderkey") % 11 == 0)
    kept = orders.filter(F.col("o_orderkey") % 11 != 0)

    inc = IncrementalFused(sum_only(orders), str(tmp_path / "s1"))
    inc.initialize()
    touched = inc.apply_delta(deletes=gone)
    assert touched  # the deletes hit some partitions
    for name in ("nar_f", "comp_prio", "pred"):
        got = {r.partition_id: r for r in inc.verdict(name).collect()}
        want = {r.partition_id: r for r in sum_only(kept).verdict(name).collect()}
        for pid, w in want.items():
            g = got[pid]
            for field in w.asDict():
                gv, wv = getattr(g, field), getattr(w, field)
                if isinstance(wv, float):
                    assert gv == pytest.approx(wv, rel=1e-9), (name, pid, field)
                else:
                    assert gv == wv, (name, pid, field)
        # partitions fully emptied by deletes may remain as zero-count rows;
        # every partition still present in the batch answer must agree above
        for pid in set(got) - set(want):
            assert got[pid].n_rows == 0

    # mixed insert+delete in one call
    back = gone.limit(5)
    t2 = inc.apply_delta(inserts=back, deletes=back)
    assert t2  # net zero, but those partitions were rewritten
    for name in ("comp_prio",):
        got = {r.partition_id: r.n_rows for r in inc.verdict(name).collect()}
        want = {
            r.partition_id: r.n_rows for r in sum_only(kept).verdict(name).collect()
        }
        for pid, n in want.items():
            assert got[pid] == n

    # non-retractable member -> explicit refusal
    inc2 = IncrementalFused(
        FusedPass(orders, num_partitions=8, partition_key="o_orderkey")
        .add_completeness("c", "o_orderpriority")
        .add_numeric_profile("p", "o_totalprice"),
        str(tmp_path / "s2"),
    )
    inc2.initialize()
    with pytest.raises(ValueError, match="non-retractable.*'p'"):
        inc2.apply_delta(deletes=orders.limit(3))
    with pytest.raises(ValueError, match="inserts and/or deletes"):
        inc2.apply_delta()


def test_fused_rollup_distinct_global_estimate(spark, orders, fused):
    row = fused.rollup_distinct("uniq_key").collect()[0]
    exact = orders.select(F.count_distinct("o_orderkey")).collect()[0][0]
    assert row.n_rows == orders.count()
    assert row.distinct_est == pytest.approx(exact, rel=0.02)
    with pytest.raises(ValueError, match="not a distinct member"):
        fused.rollup_distinct("prof_price")


def test_runner_agg_kinds_standalone_without_fuse(spark, orders):
    """completeness / numeric_profile / row_predicate / histogram_drift specs
    work through plain run() (no "fuse": true) via single-member passes."""
    suite = ValidationSuite(
        spark, orders, num_partitions=8, doc_id_col="o_orderkey"
    )
    res = suite.run(
        [
            CheckSpec(
                name="comp",
                kind="completeness",
                params={"column": "o_orderpriority"},
            ),
            CheckSpec(
                name="prof", kind="numeric_profile", params={"column": "o_totalprice"}
            ),
            CheckSpec(
                name="pred",
                kind="row_predicate",
                params={"conditions": {"o_orderstatus": {"in": ["F", "O", "P"]}}},
            ),
            CheckSpec(
                name="drift",
                kind="histogram_drift",
                params={
                    "column": "o_totalprice",
                    "bin_edges": [0.0, 150000.0, 600000.0],
                    "baseline_probs": [0.5, 0.5],
                    "max_psi": 10.0,
                },
            ),
        ]
    )
    assert set(res) == {"comp", "prof", "pred", "drift"}
    for name, v in res.items():
        rows = v.collect()
        assert len(rows) == 8, name
        assert {r.partition_id for r in rows} == set(range(8)), name
    assert all(r.holds for r in res["pred"].collect())


def test_fused_pii_budget_member(spark, tmp_path):
    """add_pii_budget: verdicts equal the standalone pii_signals rollup, and
    the pure-sum partials fold deltas AND retract deletes exactly."""
    from pyspark_validator.fused import FusedPass, IncrementalFused
    from pyspark_validator.pipelines.text import pii_signals

    rows = [
        (i, "clean doc number %d" % i) for i in range(20)
    ] + [
        (100, "mail a@b.io now"),
        (101, "visit https://x.io and http://y.io"),
        (102, "from 10.0.0.1"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def fp(d):
        return FusedPass(d, num_partitions=8, partition_key="doc_id").add_pii_budget(
            "pii", max_doc_fraction=0.1
        )

    verdicts = fp(df).verdicts()["pii"]
    agg = verdicts.agg(
        F.sum("n_rows").alias("n"),
        F.sum("n_pii_docs").alias("docs"),
        F.sum("n_url").alias("url"),
        F.sum("n_email").alias("email"),
        F.sum("n_ipv4").alias("ipv4"),
        F.sum("n_phone").alias("phone"),
    ).collect()[0]
    direct = pii_signals(df).agg(
        F.sum((F.col("n_url") + F.col("n_email") + F.col("n_ipv4") + F.col("n_phone") > 0).cast("long")),
        F.sum("n_url"), F.sum("n_email"), F.sum("n_ipv4"), F.sum("n_phone"),
    ).collect()[0]
    assert (agg.n, agg.docs) == (23, direct[0]) and agg.docs == 3
    assert (agg.url, agg.email, agg.ipv4, agg.phone) == tuple(direct[1:])
    # 3/23 > 0.1 -> at least one partition must fail
    assert verdicts.filter(~F.col("holds")).count() >= 1

    # incremental: base + delta, then retract the delta == base
    base = df.filter(F.col("doc_id") < 100)
    delta = df.filter(F.col("doc_id") >= 100)
    inc = IncrementalFused(fp(base), str(tmp_path / "pii_state"))
    inc.initialize()
    inc.apply_delta(inserts=delta)
    after_ins = inc.verdicts()["pii"].agg(F.sum("n_pii_docs")).collect()[0][0]
    assert after_ins == 3
    inc.apply_delta(deletes=delta)
    after_del = inc.verdicts()["pii"].agg(
        F.sum("n_pii_docs"), F.sum("n_rows")
    ).collect()[0]
    assert (after_del[0], after_del[1]) == (0, 20)


def test_fused_token_budget_member(spark, tmp_path):
    """add_token_budget: totals equal the standalone span_token_costs rollup;
    pure-sum partials fold deltas AND retract deletes exactly; max_tokens
    gates the combined cost."""
    from pyspark_validator.fused import FusedPass, IncrementalFused
    from pyspark_validator.pipelines.interleaved import span_token_costs

    schema = (
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )

    def sp(kind, text, ref, off):
        return {"kind": kind, "text": text, "media_ref": ref, "offset": off}

    rows = [
        (f"d{i}", [sp("text", "five words of plain text", None, 0),
                   sp("image", None, f"media://image/{i}", 50)])
        for i in range(12)
    ] + [("empty", [])]
    df = spark.createDataFrame(rows, schema)

    def fp(d, max_tokens=None):
        return FusedPass(d, num_partitions=4, partition_key="doc_id").add_token_budget(
            "tok", media_token_cost=10, max_tokens=max_tokens
        )

    v = fp(df).verdicts()["tok"]
    agg = v.agg(
        F.sum("n_docs"), F.sum("n_text_tokens"), F.sum("n_media_spans"), F.sum("n_tokens")
    ).collect()[0]
    direct = span_token_costs(df, media_token_cost=10).agg(
        F.count(F.lit(1)), F.sum("n_text_tokens"), F.sum("n_media_spans"), F.sum("n_tokens")
    ).collect()[0]
    assert tuple(agg) == tuple(direct) == (13, 60, 12, 180)
    assert v.filter(~F.col("holds")).count() == 0  # informational mode

    # gate: with max_tokens=10 some partition must exceed
    v2 = fp(df, max_tokens=10).verdicts()["tok"]
    assert v2.filter(~F.col("holds")).count() >= 1

    # incremental fold + retract
    base = df.filter(F.col("doc_id") < "d6")
    delta = df.filter(F.col("doc_id") >= "d6")
    inc = IncrementalFused(fp(base), str(tmp_path / "tok_state"))
    inc.initialize()
    inc.apply_delta(inserts=delta)
    assert inc.verdicts()["tok"].agg(F.sum("n_tokens")).collect()[0][0] == 180
    inc.apply_delta(deletes=delta)
    after = inc.verdicts()["tok"].agg(
        F.sum("n_tokens"), F.sum("n_docs")
    ).collect()[0]
    base_direct = span_token_costs(base, media_token_cost=10).agg(
        F.sum("n_tokens"), F.count(F.lit(1))
    ).collect()[0]
    assert tuple(after) == tuple(base_direct)


def test_runner_budget_kinds_standalone(spark):
    """pii_budget and token_budget specs work through plain run() (no
    "fuse": true) via single-member passes."""
    from pyspark_validator.runner import CheckSpec, ValidationSuite

    schema = (
        "doc_id string, spans array<struct<kind:string,"
        "text:string,media_ref:string,offset:int>>"
    )
    rows = [
        (
            f"d{i}",
            [{"kind": "text", "text": "plain words here", "media_ref": None,
              "offset": 0}],
        )
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, schema)
    suite = ValidationSuite(spark, df, num_partitions=4, doc_id_col="doc_id")
    res = suite.run(
        [
            CheckSpec(
                name="tok",
                kind="token_budget",
                params={"media_token_cost": 7, "max_tokens": 1000},
            ),
        ]
    )
    tok = res["tok"].collect()
    assert sum(r.n_tokens for r in tok) == 24  # 3 tokens x 8 docs, no media
    assert all(r.holds for r in tok)

    # pii_budget rides the FLAT-table path (canonicalize passes text through)
    flat = spark.createDataFrame(
        [(f"d{i}", "plain words here") for i in range(7)]
        + [("d9", "mail a@b.io now")],
        "doc_id string, text string",
    )
    suite2 = ValidationSuite(spark, flat, num_partitions=4, doc_id_col="doc_id")
    res2 = suite2.run(
        [CheckSpec(name="pii", kind="pii_budget", params={})]
    )
    pii = res2["pii"].collect()
    assert sum(r.n_pii_docs for r in pii) == 1
    assert any(not r.holds for r in pii)  # default max_doc_fraction=0.0


def test_fused_media_context_member(spark, tmp_path):
    """add_media_context: totals equal the standalone media_context_summary;
    pure-sum partials fold deltas AND retract deletes; min_caption_ratio
    gates the partition ratio (zero-media partitions always hold)."""
    from pyspark_validator.fused import FusedPass, IncrementalFused
    from pyspark_validator.pipelines.interleaved import media_context_summary

    schema = (
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )

    def sp(kind, text, ref, off):
        return {"kind": kind, "text": text, "media_ref": ref, "offset": off}

    rows = (
        [
            (f"cap{i}", [sp("text", "caption", None, 0),
                         sp("image", None, f"media://image/{i}", 64)])
            for i in range(6)
        ]
        + [(f"iso{i}", [sp("image", None, f"media://image/x{i}", 0)]) for i in range(3)]
        + [
            # image-image run: first captioned on the left, second isolated
            ("run0", [sp("text", "t", None, 0),
                      sp("image", None, "media://image/a", 64),
                      sp("image", None, "media://image/b", 128)]),
            ("empty", []),
            ("textonly", [sp("text", "no media", None, 0)]),
        ]
    )
    df = spark.createDataFrame(rows, schema)

    def fp(d, min_ratio=None):
        return FusedPass(d, num_partitions=4, partition_key="doc_id").add_media_context(
            "cap", min_caption_ratio=min_ratio
        )

    v = fp(df).verdicts()["cap"]
    agg = v.agg(F.sum("n_media"), F.sum("n_captioned"), F.sum("n_isolated")).collect()[0]
    direct = media_context_summary(df).collect()[0]
    assert tuple(agg) == (
        direct["n_media"], direct["n_captioned"], direct["n_isolated"]
    ) == (11, 7, 4)
    assert v.filter(~F.col("holds")).count() == 0  # informational

    # gate: requiring a perfect ratio must fail any partition with an
    # isolated media span, and only those
    v2 = fp(df, min_ratio=1.0).verdicts()["cap"]
    bad = {r["partition_id"] for r in v2.filter(~F.col("holds")).collect()}
    with_iso = {
        r["partition_id"] for r in v2.filter(F.col("n_isolated") > 0).collect()
    }
    assert bad == with_iso and bad

    # incremental fold + retract
    iso = df.filter(F.col("doc_id").startswith("iso"))
    base = df.subtract(iso)
    inc = IncrementalFused(fp(base), str(tmp_path / "cap_state"))
    inc.initialize()
    inc.apply_delta(inserts=iso)
    assert inc.verdicts()["cap"].agg(F.sum("n_isolated")).collect()[0][0] == 4
    inc.apply_delta(deletes=iso)
    after = inc.verdicts()["cap"].agg(
        F.sum("n_media"), F.sum("n_captioned")
    ).collect()[0]
    assert tuple(after) == (8, 7)


def test_runner_media_context_kind_standalone(spark):
    from pyspark_validator.runner import CheckSpec, ValidationSuite

    schema = (
        "doc_id string, spans array<struct<kind:string,"
        "text:string,media_ref:string,offset:int>>"
    )
    rows = [
        (f"d{i}", [{"kind": "text", "text": "cap", "media_ref": None, "offset": 0},
                   {"kind": "image", "text": None,
                    "media_ref": f"media://image/{i}", "offset": 64}])
        for i in range(7)
    ] + [("lone", [{"kind": "image", "text": None,
                    "media_ref": "media://image/z", "offset": 0}])]
    df = spark.createDataFrame(rows, schema)
    suite = ValidationSuite(spark, df, num_partitions=4, doc_id_col="doc_id")
    res = suite.run(
        [CheckSpec(name="cap", kind="media_context",
                   params={"min_caption_ratio": 1.0})]
    )
    v = res["cap"].collect()
    assert sum(r.n_media for r in v) == 8
    assert sum(r.n_isolated for r in v) == 1
    assert sum(0 if r.holds else 1 for r in v) == 1


def test_fused_interleaved_quality_member(spark, tmp_path):
    """add_interleaved_quality: per-partition flag sums equal the standalone
    gate's flag counts; max_flagged_fraction gates; deltas fold + retract."""
    from pyspark_validator.fused import FusedPass, IncrementalFused
    from pyspark_validator.pipelines.interleaved import interleaved_quality_gate

    schema = (
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )

    def sp(kind, text, ref, off):
        return {"kind": kind, "text": text, "media_ref": ref, "offset": off}

    rows = (
        [
            (f"ok{i}", [sp("text", "enough plain words to pass easily", None, 0),
                        sp("image", None, f"m://{i}", 64)])
            for i in range(9)
        ]
        + [("wall", [sp("text", "enough plain words to pass easily", None, 0)]
                    + [sp("image", None, f"m://w{i}", 64 * (i + 1))
                       for i in range(4)])]
        + [("thin", [sp("text", "hi", None, 0)])]
    )
    df = spark.createDataFrame(rows, schema)

    def fp(d, frac=0.0):
        return FusedPass(
            d, num_partitions=4, partition_key="doc_id"
        ).add_interleaved_quality(
            "q", max_media=8, max_media_run=3, min_text_tokens=3,
            max_flagged_fraction=frac,
        )

    v = fp(df).verdicts()["q"]
    agg = v.agg(
        F.sum("n_docs"), F.sum("n_flagged"), F.sum("n_media_run"),
        F.sum("n_low_text"), F.sum("n_media_budget"),
    ).collect()[0]
    direct = interleaved_quality_gate(
        df, max_media=8, max_media_run=3, min_text_tokens=3
    ).agg(
        F.count(F.lit(1)), F.sum((~F.col("keep")).cast("long")),
        F.sum(F.col("flag_media_run").cast("long")),
        F.sum(F.col("flag_low_text").cast("long")),
        F.sum(F.col("flag_media_budget").cast("long")),
    ).collect()[0]
    assert tuple(agg) == tuple(direct) == (11, 2, 1, 1, 0)

    bad = v.filter(~F.col("holds"))
    assert bad.count() >= 1  # the partitions holding wall/thin fail at 0.0
    assert fp(df, frac=1.0).verdicts()["q"].filter(~F.col("holds")).count() == 0

    # incremental fold + retract of the flagged docs
    flagged = df.filter(F.col("doc_id").isin("wall", "thin"))
    base = df.subtract(flagged)
    inc = IncrementalFused(fp(base), str(tmp_path / "q_state"))
    inc.initialize()
    inc.apply_delta(inserts=flagged)
    assert inc.verdicts()["q"].agg(F.sum("n_flagged")).collect()[0][0] == 2
    inc.apply_delta(deletes=flagged)
    after = inc.verdicts()["q"].agg(
        F.sum("n_docs"), F.sum("n_flagged")
    ).collect()[0]
    assert tuple(after) == (9, 0)


def test_runner_interleaved_quality_kind_standalone(spark):
    from pyspark_validator.runner import CheckSpec, ValidationSuite

    schema = (
        "doc_id string, spans array<struct<kind:string,"
        "text:string,media_ref:string,offset:int>>"
    )
    rows = [
        (f"d{i}", [{"kind": "text", "text": "three plain words", "media_ref": None,
                    "offset": 0}])
        for i in range(6)
    ] + [("bare", [])]
    df = spark.createDataFrame(rows, schema)
    suite = ValidationSuite(spark, df, num_partitions=4, doc_id_col="doc_id")
    res = suite.run(
        [CheckSpec(name="q", kind="interleaved_quality",
                   params={"min_text_tokens": 2})]
    )
    v = res["q"].collect()
    assert sum(r.n_docs for r in v) == 7
    assert sum(r.n_flagged for r in v) == 1  # the empty doc
    assert sum(0 if r.holds else 1 for r in v) == 1


def test_fusable_kinds_route_through_the_registry(spark):
    """runner.KINDS is the single source of truth for which kinds fuse:
    every entry with a fused builder must register one FusedPass member from
    minimally-valid params, and every other kind has no fused builder. Pins
    the fusable set against routing drift (round-2 bug: 5 routed kinds were
    missing from the exported frozenset)."""
    from pyspark_validator.runner import KINDS

    schema = (
        "doc_id string, text string, grp string, val double, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    df = spark.createDataFrame(
        [("d1", "hello world", "a", 12.5,
          [{"kind": "text", "text": "hi", "media_ref": None, "offset": 0}])],
        schema,
    )
    minimal_params = {
        "ac": {"lhs": "val", "rhs": "val", "ranges": [(0.0, 100.0)]},
        "row_predicate": {"conditions": {"grp": ["a"]}},
        "completeness": {"column": "text"},
        "numeric_profile": {"column": "val"},
        "distinct": {"columns": "doc_id"},
        "type_conformance": {"column": "text", "dtype": "string"},
        "span_integrity": {},
        "pii_budget": {},
        "token_budget": {},
        "media_context": {},
        "interleaved_quality": {},
        "benford": {"column": "val"},
        "class_balance": {"column": "grp", "expected": {"a": 1.0}},
        "histogram_drift": {
            "column": "val",
            "bin_edges": [0.0, 10.0, 20.0],
            "baseline_probs": [0.5, 0.5],
        },
    }
    assert set(minimal_params) == {k for k, v in KINDS.items() if v.fuse is not None}
    for kind, params in minimal_params.items():
        fp = FusedPass(df, num_partitions=2, partition_key="doc_id")
        assert KINDS[kind].fuses(params), kind
        KINDS[kind].fuse(fp, f"m_{kind}", **params)
        assert list(fp._members) == [f"m_{kind}"], kind
    # every kind is buildable one way or the other; fused-only kinds are
    # per-partition and always fuse
    for kind, entry in KINDS.items():
        assert entry.build is not None or entry.fuse is not None, kind
        if entry.build is None:
            assert not entry.whole_table and entry.fuses({}), kind
    # nar is one whole-table verdict, never a per-partition fused member
    assert KINDS["nar"].whole_table and KINDS["nar"].fuse is None
    assert KINDS["ucc"].fuse is None
    # ac without a standing range list must first DISCOVER its ranges, and
    # ac keyed by another column reports that column's partitions: neither
    # fuses
    ac = minimal_params["ac"]
    assert not KINDS["ac"].fuses({"lhs": "val", "rhs": "val"})
    assert not KINDS["ac"].fuses({**ac, "partition_key": "grp"})
    assert KINDS["ac"].fuses({**ac, "partition_key": "doc_id"})