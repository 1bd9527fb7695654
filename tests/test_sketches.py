"""Sketch layer: FAIDA HLL accuracy/mergeability/register-inclusion, native
Count-Min and KLL images, and the one-aggregation column profile."""

import numpy as np
import pytest

from pyspark_validator.sketches import HLL, cms_sketch, hll_inclusion, hll_sketch


def test_hll_cardinality(spark):
    n = 20000
    df = spark.range(n).selectExpr("cast(id as string) as v")
    h = hll_sketch(df, ["v"], p=12)
    assert h.cardinality() == pytest.approx(n, rel=0.05)


def test_hll_merge_equals_union(spark):
    a = spark.range(0, 5000).selectExpr("cast(id as string) as v")
    b = spark.range(2500, 7500).selectExpr("cast(id as string) as v")
    ha, hb = hll_sketch(a, ["v"], p=12), hll_sketch(b, ["v"], p=12)
    hu = hll_sketch(a.union(b), ["v"], p=12)
    assert np.array_equal(ha.merge(hb).registers, hu.registers)
    assert ha.merge(hb).cardinality() == pytest.approx(7500, rel=0.05)


def test_hll_register_inclusion(spark):
    sub = spark.range(0, 3000).selectExpr("cast(id as string) as v")
    sup = spark.range(0, 10000).selectExpr("cast(id as string) as v")
    disj = spark.range(50000, 53000).selectExpr("cast(id as string) as v")
    assert hll_inclusion(sub, ["v"], sup, ["v"])["plausible"]
    assert hll_inclusion(disj, ["v"], sup, ["v"])["refuted"]


def test_hll_serialization_roundtrip(spark):
    df = spark.range(1000).selectExpr("cast(id as string) as v")
    h = hll_sketch(df, ["v"], p=10)
    h2 = HLL.from_bytes(h.to_bytes(), 10)
    assert np.array_equal(h.registers, h2.registers)


def test_cms_estimates(spark):
    import pandas as pd

    vals = ["hot"] * 5000 + ["warm"] * 500 + [f"cold{i}" for i in range(500)]
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    c = cms_sketch(df, ["v"], depth=5, width=4096)
    assert c.n == len(vals)
    from pyspark.sql import functions as F

    hashes = (
        df.select(F.xxhash64("v").alias("h"))
        .where(F.col("v").isin("hot", "warm"))
        .distinct()
        .collect()
    )
    # CMS overestimates only; error bound ~ n/width
    ests = c.estimate_hashes(np.array([r.h for r in hashes], dtype=np.int64))
    assert all(e >= 500 for e in ests)
    assert max(ests) >= 5000
    assert max(ests) <= 5000 + 2 * len(vals) // 4096 + 10
    # the native image has exactly the requested depth x width
    jcms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(c.to_bytes())
    assert (jcms.depth(), jcms.width()) == (5, 4096)


# ---------------------------------------------------------------------------
# KLL quantile sketch


def test_kll_accuracy_and_roundtrip(spark):
    import numpy as np
    import pandas as pd

    from pyspark_validator.sketches import KllImage, kll_sketch

    rng = np.random.RandomState(7)
    data = rng.normal(100, 15, 200_000)
    df = spark.createDataFrame(pd.DataFrame({"v": data})).repartition(40)
    sk = kll_sketch(df, "v", k=200)
    assert sk.n == len(data)
    assert len(sk.to_bytes()) < 5 * 200 * 8  # O(k) space: < 5k retained doubles
    qs = [0.01, 0.25, 0.5, 0.75, 0.99]
    for q, est in zip(qs, sk.quantiles(qs)):
        assert abs((data <= est).mean() - q) < 0.02  # rank error << 1/k bound
    r = KllImage.from_bytes(sk.to_bytes())
    assert r.n == sk.n and r.quantiles([0.5]) == sk.quantiles([0.5])


def test_kll_merge_matches_single_sketch(spark, tmp_path):
    """Seven per-snapshot KLLs (k=128) merged by the SketchStore keep the
    single-sketch rank error over their union."""
    import numpy as np
    import pandas as pd

    from pyspark_validator.checkpoint import SketchStore
    from pyspark_validator.sketches import sketch_profile

    rng = np.random.RandomState(11)
    data = rng.exponential(10, 100_000)
    parts = np.array_split(data, 7)
    store = SketchStore(spark, str(tmp_path / "sketches"))
    for i, p in enumerate(parts):
        part = spark.createDataFrame(pd.DataFrame({"x": p}))
        store.record(f"s{i}", sketch_profile(part, ["x"], kll_k=128))
    merged = store.merged([f"s{i}" for i in range(len(parts))])["x"].kll
    assert merged.n == len(data)
    qs = [0.1, 0.5, 0.9]
    for q, est in zip(qs, merged.quantiles(qs)):
        assert abs((data <= est).mean() - q) < 0.03


def test_kll_sketch_spark_builder(spark):
    from pyspark_validator.sketches import kll_sketch

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sk = kll_sketch(ev, "value", k=200)
    exact = sorted(
        r.value for r in ev.select("value").dropna().collect()
    )
    assert sk.n == len(exact)
    for q, est in zip((0.25, 0.5, 0.75), sk.quantiles([0.25, 0.5, 0.75])):
        # rank of the estimate within the exact data
        import bisect

        rank = bisect.bisect_right(exact, est) / len(exact)
        assert abs(rank - q) < 0.03


# ---------------------------------------------------------------------------
# one-pass multi-column sketch profile


def test_sketch_profile_one_pass_matches_exact(spark):
    import numpy as np

    from pyspark_validator.sketches import hll_sketch, sketch_profile

    rows = [
        (i % 37, f"cat_{i % 5}" if i % 10 else None, float(i)) for i in range(2000)
    ]
    df = spark.createDataFrame(rows, ["k", "cat", "x"]).repartition(8)
    prof = sketch_profile(df, ["k", "cat", "x"])

    assert set(prof) == {"k", "cat", "x"}
    # exact counts
    assert prof["k"].n == 2000 and prof["k"].n_null == 0
    assert prof["cat"].n_null == 200
    # HLL: small-range regime is near-exact, and the native estimate must
    # agree with the standalone register-exposed builder's
    assert prof["k"].distinct_est() == pytest.approx(37, abs=1)
    solo = hll_sketch(df.where("k is not null"), ["k"])
    assert prof["k"].distinct_est() == pytest.approx(solo.cardinality(), abs=1)
    # KLL quantiles vs numpy (k=200 over n=2000 -> tight)
    xs = np.array([r[2] for r in rows])
    q = prof["x"].quantiles([0.25, 0.5, 0.75])
    for got, want in zip(q, np.percentile(xs, [25, 50, 75])):
        assert got == pytest.approx(want, rel=0.05)
    # non-numeric column carries no KLL
    assert prof["cat"].kll is None
    # CMS point estimates: upper bounds that are exact for these cardinalities
    hh = prof["cat"].heavy_hitter_counts(spark, [f"cat_{i}" for i in range(5)])
    assert hh["cat_1"] == 400          # i%5==1 is never i%10==0 -> no nulls
    assert hh["cat_0"] == 200          # half of i%5==0 are the planted nulls
    assert all(v >= 200 for v in hh.values())


def test_sketch_profile_kll_only_for_double_castable_types(spark):
    """Timestamps and decimals get a KLL; an interval or timestamp_ntz
    column (no cast to double) is profiled without one instead of failing."""
    from pyspark_validator.sketches import sketch_profile

    df = spark.sql(
        "SELECT make_dt_interval(0, 0, 0, id) AS iv,"
        " CAST(TIMESTAMP'2024-01-01 00:00:00' AS TIMESTAMP_NTZ) AS tsn,"
        " TIMESTAMP'2024-01-01 00:00:00' + make_dt_interval(0, 0, 0, id) AS ts,"
        " CAST(id AS DECIMAL(10, 2)) AS dec FROM range(10)"
    )
    prof = sketch_profile(df, ["iv", "tsn", "ts", "dec"])
    assert {c: prof[c].kll is not None for c in prof} == {
        "iv": False, "tsn": False, "ts": True, "dec": True,
    }
    assert prof["iv"].distinct_est() == 10 and prof["tsn"].distinct_est() == 1


def test_sketch_profile_plan_one_scan_no_python(spark, tmp_path):
    """The profile is one JVM aggregation: one scan of the input and no
    Python evaluation node in the executed plan."""
    import re

    from pyspark_validator.sketches import _profile_aggregate

    path = str(tmp_path / "t.parquet")
    spark.range(0, 1000, 1, 4).selectExpr(
        "id as k", "cast(id % 7 as string) as cat"
    ).write.parquet(path)
    df = spark.read.parquet(path)

    agg = _profile_aggregate(df, ["k", "cat"], p=12, kll_k=200, cms_depth=5, cms_width=8192)
    agg.collect()
    p = agg._sc._jvm.PythonSQLUtils.explainString(
        agg._jdf.queryExecution(), "formatted"
    )
    # the final plan's tree; the AQE "Initial Plan" section repeats every node
    final = p.split("Initial Plan")[0]
    assert "isFinalPlan=true" in p or "Final Plan" in final
    assert len(re.findall(r"\bScan parquet\b", final)) == 1
    assert not re.search(
        r"MapInPandas|FlatMapGroupsInPandas|ArrowEvalPython|BatchEvalPython", p
    )


def test_hll_column_sketches_one_pass_matches_per_column(spark):
    """hll_column_sketches: per-column registers from ONE scan equal the
    per-column hll_sketch ones (same hashes, same registers), and NULL
    cells are excluded rather than aliased to xxhash64(NULL)."""
    import pandas as pd

    from pyspark_validator.sketches import hll_column_sketches, hll_sketch

    pdf = pd.DataFrame(
        {
            "a": ["x", "y", "z", None, "x"],
            "b": [1, 2, 2, 3, None],
        }
    )
    df = spark.createDataFrame(pdf)
    multi = hll_column_sketches(df, p=10)
    assert multi["a"].registers.tobytes() == hll_sketch(
        df.filter(df.a.isNotNull()), ["a"], p=10
    ).registers.tobytes()
    assert multi["b"].registers.tobytes() == hll_sketch(
        df.filter(df.b.isNotNull()), ["b"], p=10
    ).registers.tobytes()


def test_faida_facade_matches_exact_on_ind_fixtures(spark):
    """compat.Faida (faida/hll_data.h register inclusion): on the shipped
    ind_datasets fixtures the sketch verdicts equal the exact miners --
    the same expectation the reference's test_faida.cpp encodes at its
    test accuracy -- including both Mind binary INDs at arity 2."""
    import pandas as pd

    from pyspark_validator import compat
    from pyspark_validator.discovery import mine_unary_inds

    P = "/root/reference/examples/datasets/ind_datasets"
    tables = {
        n: spark.createDataFrame(pd.read_csv(f"{P}/{n}.csv"))
        for n in ("orders", "customers", "products")
    }
    f = compat.Faida(spark)
    f._tables = tables
    f.execute(max_arity=2)
    got = sorted(str(i) for i in f.get_inds())
    exact = sorted(f"{a} -> {b}" for a, b in mine_unary_inds(tables))
    assert [s for s in got if "," not in s] == exact
    assert [s for s in got if "," in s] == [
        "orders.id, orders.product -> products.id, products.name",
        "products.id, products.name -> orders.id, orders.product",
    ]


import pytest as _pytest

_FAIDA_EXPECTED = {
    "TestWide2.csv": [((2,), (0,)), ((3,), (1,)), ((2, 3), (0, 1))],
    "Planets.csv": [
        ((0,), (1,)), ((1,), (0,)), ((2,), (3,)), ((3,), (2,)),
        ((1, 3), (0, 2)), ((0, 2), (1, 3)), ((0, 3), (1, 2)),
        ((1, 2), (0, 3)),
    ],
    "Test-3ary-inds.csv": [
        ((2,), (5,)), ((3,), (0,)), ((4,), (1,)), ((5,), (2,)),
        ((3, 4), (0, 1)), ((4, 5), (1, 2)), ((3, 5), (0, 2)),
        ((3, 4, 5), (0, 1, 2)),
    ],
}


@_pytest.mark.parametrize("name", sorted(_FAIDA_EXPECTED))
def test_faida_nary_equality_golden(spark, name):
    """test_faida.cpp EqualityTest: FAIDA's sketch verdicts must coincide
    with the exact kINDEqualityTestConfigs sets on the shipped fixtures --
    here through the SKETCH path end to end (register-inclusion unary seed
    + GenNext lattice with combined-tuple sketch verification)."""
    from pyspark_validator import compat

    df = spark.read.csv(
        f"/root/reference/test_input_data/ind_data/{name}",
        header=False, inferSchema=False,
    )
    idx = {c: i for i, c in enumerate(df.columns)}
    f = compat.Faida(spark)
    f._tables = {"t": df}
    f.execute(max_arity=3)

    def side(s):
        return tuple(idx[c.split(".", 1)[1]] for c in s.split(", "))

    got = sorted((side(i.get_lhs()), side(i.get_rhs())) for i in f.get_inds())
    assert got == sorted(_FAIDA_EXPECTED[name])


def test_faida_two_tables_golden(spark):
    """test_faida.cpp TestTwoTables: 47 INDs over the two_tables fixtures
    at arity <= 4, including the reciprocal 4-ary pair first[0,1,2,3] <->
    second[0,1,3,4]."""
    from pyspark_validator import compat

    P = "/root/reference/test_input_data/ind_data/two_tables"
    f = compat.Faida(spark)
    f._tables = {
        "first": spark.read.csv(f"{P}/first.csv", header=False),
        "second": spark.read.csv(f"{P}/second.csv", header=False),
    }
    f.execute(max_arity=4)
    names = {str(i) for i in f.get_inds()}
    assert len(names) == 47
    assert (
        "first._c0, first._c1, first._c2, first._c3 -> "
        "second._c0, second._c1, second._c3, second._c4" in names
    )
    assert (
        "second._c0, second._c1, second._c3, second._c4 -> "
        "first._c0, first._c1, first._c2, first._c3" in names
    )
