"""Drift checks: PSI/chi2/KS vs numpy reference implementations, plus the F4
planted-drift scenario (half the partitions shifted -> exactly those flagged)."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from pyspark_validator.checks.drift import categorical_drift, numeric_drift


def _psi(cnt_b, cnt_c, alpha=0.5):
    cnt_b, cnt_c = np.asarray(cnt_b, float), np.asarray(cnt_c, float)
    k = len(cnt_b)
    pb = (cnt_b + alpha) / (cnt_b.sum() + alpha * k)
    pc = (cnt_c + alpha) / (cnt_c.sum() + alpha * k)
    return float(((pc - pb) * np.log(pc / pb)).sum())


def test_categorical_psi_exact(spark):
    b = spark.createDataFrame([("a",)] * 70 + [("b",)] * 20 + [("c",)] * 10, ["k"])
    c = spark.createDataFrame([("a",)] * 40 + [("b",)] * 40 + [("c",)] * 20, ["k"])
    r = categorical_drift(b, c, "k").collect()[0]
    exp = _psi([70, 20, 10], [40, 40, 20])
    assert r.psi == pytest.approx(exp, rel=1e-9)
    assert r.n_b == 100 and r.n_c == 100 and r.n_buckets == 3
    assert bool(r.drift_detected) == (exp > 0.2)
    # identical distributions -> psi ~ 0
    r0 = categorical_drift(b, b, "k").collect()[0]
    assert r0.psi == pytest.approx(0.0, abs=1e-12)
    assert not r0.drift_detected


def test_categorical_chi2(spark):
    b = spark.createDataFrame([("a",)] * 50 + [("b",)] * 50, ["k"])
    c = spark.createDataFrame([("a",)] * 80 + [("b",)] * 20, ["k"])
    r = categorical_drift(b, c, "k").collect()[0]
    # two-sample chi2 with pooled expectations
    o = np.array([[50, 50], [80, 20]], float)
    pooled = o.sum(0) / o.sum()
    e = np.outer(o.sum(1), pooled)
    exp = (((o - e) ** 2) / e).sum()
    assert r.chi2 == pytest.approx(exp, rel=1e-9)


def test_numeric_drift_ks(spark):
    rng = np.random.RandomState(7)
    b = rng.normal(0, 1, 4000)
    c = rng.normal(0.8, 1, 4000)  # clear shift
    bdf = spark.createDataFrame(pd.DataFrame({"x": b}))
    cdf = spark.createDataFrame(pd.DataFrame({"x": c}))
    r = numeric_drift(bdf, cdf, "x", num_bins=50).collect()[0]
    # true KS for N(0,1) vs N(0.8,1) is ~0.31; binned estimate within coarse tolerance
    assert 0.2 < r.ks_stat < 0.45
    assert r.drift_detected
    r0 = numeric_drift(bdf, bdf, "x", num_bins=50).collect()[0]
    assert r0.ks_stat == pytest.approx(0.0, abs=1e-12)
    assert not r0.drift_detected


def test_per_partition_drift_planted(spark):
    """F4 shape: partitions >= P/2 get a shifted distribution; exactly those must
    flag drift."""
    P = 8
    rng = np.random.RandomState(11)
    n = 6000
    pid = rng.randint(0, P, n)
    base = rng.normal(0, 1, n)
    cur = np.where(pid >= P // 2, rng.normal(1.5, 1, n), rng.normal(0, 1, n))
    bdf = spark.createDataFrame(pd.DataFrame({"partition_id": pid, "x": base}))
    cdf = spark.createDataFrame(pd.DataFrame({"partition_id": pid, "x": cur}))
    rows = numeric_drift(
        bdf, cdf, "x", by=["partition_id"], num_bins=40, bin_edges=(-5.0, 6.0)
    ).collect()
    flagged = {r.partition_id for r in rows if r.drift_detected}
    assert flagged == {p for p in range(P // 2, P)}


def test_kll_ks_drift_matches_exact_ks(spark):
    """Sketch-based KS tracks the exact two-sample KS within the O(1/k)
    rank-error budget, and detects a genuine shift."""
    from pyspark_validator.checks.drift import kll_ks_drift

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    b = ev.filter("event_id % 2 = 0")
    c = ev.filter("event_id % 2 = 1")
    same = kll_ks_drift(b, c, "value", k=200)
    # same distribution -> tiny D, no drift
    assert same["ks_stat"] < 0.08 and not same["drift_detected"]

    shifted = c.selectExpr("event_id", "value + 120.0 AS value")
    drift = kll_ks_drift(b, shifted, "value", k=200)
    assert drift["drift_detected"] and drift["ks_stat"] > 0.15
    # cross-run comparison path: persist/reload one side
    from pyspark_validator.checks.drift import kll_ks_compare
    from pyspark_validator.sketches import KllImage

    reloaded = KllImage.from_bytes(drift["sketch_b"].to_bytes())
    again = kll_ks_compare(reloaded, drift["sketch_c"])
    assert abs(again["ks_stat"] - drift["ks_stat"]) < 1e-12


def test_embedding_centroid_drift(spark):
    import numpy as np

    from pyspark_validator.checks.drift import embedding_centroid_drift

    rng = np.random.RandomState(11)
    base_m = rng.randn(60, 6)
    schema = "vec_id bigint, src string, embedding array<float>"

    def frame(m, src):
        return spark.createDataFrame(
            [(i, src, [float(x) for x in m[i]]) for i in range(len(m))], schema
        )

    # identical snapshots: cosine exactly ~1, no drift
    b = frame(base_m, "a")
    same = embedding_centroid_drift(b, frame(base_m, "a"), by=["src"]).collect()[0]
    assert same["centroid_cosine"] == pytest.approx(1.0, abs=1e-12)
    assert not same["drift_detected"]
    assert same["n_b"] == same["n_c"] == 60

    # numpy oracle on a shifted current side
    cur_m = base_m + np.array([2.0, 0, 0, 0, 0, 0])
    got = embedding_centroid_drift(b, frame(cur_m, "a"), by=["src"]).collect()[0]
    f32 = lambda m: m.astype(np.float32).astype(np.float64)  # noqa: E731
    cb, cc = f32(base_m).mean(0), f32(cur_m).mean(0)
    want = float(cb @ cc / (np.linalg.norm(cb) * np.linalg.norm(cc)))
    assert got["centroid_cosine"] == pytest.approx(want, abs=1e-9)
    assert got["mean_norm_b"] == pytest.approx(
        float(np.sqrt((f32(base_m) ** 2).sum(1)).mean()), abs=1e-9
    )
    assert got["drift_detected"]

    # a group present on one side only: null cosine, null flag
    two = b.unionByName(frame(base_m, "only_b").filter("vec_id < 5"))
    rows = {
        r["src"]: r
        for r in embedding_centroid_drift(two, frame(base_m, "a"), by=["src"]).collect()
    }
    assert rows["only_b"]["centroid_cosine"] is None
    assert rows["only_b"]["n_c"] == 0


def test_empty_baseline_raises_descriptive_valueerror(spark):
    """Edge-derivation sites must reject empty / all-null baselines with a
    ValueError naming the column, not TypeError float(None)."""
    from pyspark_validator.checks.drift import (
        change_point_check,
        numeric_baseline,
        wasserstein_drift,
    )

    empty = spark.createDataFrame([], "x double")
    allnull = spark.createDataFrame([(None,), (None,)], "x double")
    cur = spark.createDataFrame([(1.0,), (2.0,)], ["x"])
    for base in (empty, allnull):
        with pytest.raises(ValueError, match="'x'"):
            numeric_drift(base, cur, "x")
        with pytest.raises(ValueError, match="'x'"):
            wasserstein_drift(base, cur, "x")
        with pytest.raises(ValueError, match="numeric_baseline"):
            numeric_baseline(base, "x")
    with pytest.raises(ValueError, match="change_point_check"):
        change_point_check(empty.withColumnRenamed("x", "t").withColumn(
            "v", F.lit(1.0)), "t", "v")
    # explicit bin_edges bypass the derivation and still work on empty input
    out = numeric_drift(empty, cur, "x", bin_edges=(0.0, 10.0)).collect()
    assert len(out) == 1


def test_numeric_drift_empty_current_side_verdict_not_null(spark):
    """An empty CURRENT side makes ks_stat NULL (try_divide ECDF); the
    drift_detected verdict must still be a real boolean (True -- an empty
    side IS a distribution change), never NULL: NULL would silently drop
    the row in downstream boolean filters."""
    base = spark.createDataFrame([(float(i),) for i in range(20)], ["x"])
    empty = spark.createDataFrame([], "x double")
    r = numeric_drift(base, empty, "x").collect()[0]
    assert r["ks_stat"] is None
    assert r["drift_detected"] is True
    # non-empty sides keep the ordinary thresholded verdict
    same = numeric_drift(base, base, "x").collect()[0]
    assert same["drift_detected"] is False
    # grouped: only the group with an empty current side force-flags
    base_g = base.withColumn("g", F.when(F.col("x") < 10, "a").otherwise("b"))
    cur_g = base_g.filter(F.col("g") == "a")
    rows = {r["g"]: r for r in numeric_drift(base_g, cur_g, "x", by=["g"]).collect()}
    assert rows["b"]["drift_detected"] is True
    assert rows["a"]["drift_detected"] is False


def test_topk_drift_empty_side_top1_same_not_null(spark):
    """top1_same must be a real boolean (eqNullSafe), never NULL, when a
    snapshot is empty -- NULL would silently drop rows in boolean filters."""
    from pyspark_validator.checks.drift import topk_drift

    df = spark.createDataFrame([("a",)] * 3 + [("b",)], ["c"])
    empty = spark.createDataFrame([], "c string")
    r = topk_drift(df, empty, "c", k=3).collect()[0]
    assert r["top1_same"] is False
    both_empty = topk_drift(empty, empty, "c", k=3).collect()[0]
    assert both_empty["top1_same"] is True
