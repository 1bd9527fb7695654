"""Property-based cross-validation: on random small tables, Spark verdicts must
equal a direct pandas computation of the reference formulas (ucc_verifier.cpp,
fd_verifier.cpp, afd_measures.cpp). Extends the reference's golden-value test
style with randomized coverage (the reference has none -- SURVEY.md section 5)."""

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark_validator.checks.fd import fd_check
from pyspark_validator.checks.ucc import ucc_check

# random tables: 1-30 rows, two low-cardinality string columns (forces clusters)
rows_strategy = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c", "d"]),
        st.sampled_from(["x", "y", "z"]),
    ),
    min_size=1,
    max_size=30,
)

_SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(rows=rows_strategy)
@settings(**_SETTINGS)
def test_ucc_matches_pandas_oracle(spark, rows):
    df = spark.createDataFrame(rows, ["k", "v"])
    s = ucc_check(df, ["k"], num_partitions=4).summary().collect()[0]
    pdf = pd.DataFrame(rows, columns=["k", "v"])
    sizes = pdf.groupby("k").size()
    n = len(pdf)
    viol = sizes[sizes > 1]
    assert s.n_rows == n
    assert s.n_distinct == len(sizes)
    assert s.n_violating_clusters == len(viol)
    assert s.n_violating_rows == int(viol.sum())
    assert s.violating_pairs == int((sizes * (sizes - 1)).sum())
    expected_err = (
        float((sizes * (sizes - 1)).sum()) / (n * (n - 1)) if n > 1 else 0.0
    )
    assert float(s.aucc_error) == pytest.approx(expected_err)
    assert s.holds == (len(viol) == 0)


@given(rows=rows_strategy)
@settings(**_SETTINGS)
def test_fd_matches_pandas_oracle(spark, rows):
    df = spark.createDataFrame(rows, ["k", "v"])
    s = fd_check(df, ["k"], ["v"], num_partitions=4).summary().collect()[0]
    pdf = pd.DataFrame(rows, columns=["k", "v"])
    n = len(pdf)
    x_sizes = pdf.groupby("k").size()
    xy_sizes = pdf.groupby(["k", "v"]).size()
    ndy = pdf.groupby("k")["v"].nunique()
    conflict = int(
        (x_sizes * (x_sizes - 1)).sum() - (xy_sizes * (xy_sizes - 1)).sum()
    )
    assert s.n_rows == n
    assert s.n_distinct_x == len(x_sizes)
    assert s.n_distinct_xy == len(xy_sizes)
    assert s.n_error_clusters == int((ndy > 1).sum())
    assert s.conflict_pairs == conflict
    expected_g1 = conflict / (n * n - n) if n > 1 else 0.0
    assert float(s.g1_error) == pytest.approx(expected_g1)
    assert s.holds == (len(x_sizes) == len(xy_sizes))


# ---------------------------------------------------------------------------
# MD: blocking soundness + brute-force oracle


def _md_pandas_oracle(rows, lhs_b, rhs_b):
    """Direct ordered-pair evaluation of MD
    [levenshtein(s) >= lhs_b] -> [equality(g) >= rhs_b]."""

    def lev(a, b):
        if not a and not b:
            return 1.0
        if not a or not b:
            return 0.0
        m, n = len(a), len(b)
        prev = list(range(n + 1))
        for i in range(1, m + 1):
            cur = [i] + [0] * n
            for j in range(1, n + 1):
                cur[j] = min(
                    prev[j] + 1, cur[j - 1] + 1,
                    prev[j - 1] + (a[i - 1] != b[j - 1]),
                )
            prev = cur
        return (max(m, n) - prev[n]) / max(m, n)

    matched = viol = 0
    min_sim = None
    for i, (sa, ga) in enumerate(rows):
        for j, (sb, gb) in enumerate(rows):
            if lev(sa, sb) >= lhs_b:
                matched += 1
                sim = 1.0 if ga == gb else 0.0
                min_sim = sim if min_sim is None else min(min_sim, sim)
                if sim < rhs_b:
                    viol += 1
    return matched, viol, min_sim


md_rows_strategy = st.lists(
    st.tuples(
        st.text(alphabet="abc", min_size=0, max_size=5),
        st.sampled_from(["g1", "g2"]),
    ),
    min_size=1,
    max_size=12,
)


@given(rows=md_rows_strategy, lhs_b=st.sampled_from([0.3, 0.5, 0.8, 1.0]))
@settings(**_SETTINGS)
def test_md_blocking_is_sound(spark, rows, lhs_b):
    """The length-band blocking must produce EXACTLY the brute-force
    ordered-pair result for any data and boundary -- a lost candidate pair
    would show up as a lower matched/violation count."""
    from pyspark_validator.checks.md import ColumnMatch, md_check

    df = spark.createDataFrame(
        [(i, s, g) for i, (s, g) in enumerate(rows)], ["id", "s", "g"]
    )
    got = (
        md_check(
            df,
            [ColumnMatch("levenshtein", "s", "s", lhs_b)],
            ColumnMatch("equality", "g", "g", 1.0),
            left_id="id",
        )
        .summary()
        .collect()[0]
    )
    matched, viol, min_sim = _md_pandas_oracle(rows, lhs_b, 1.0)
    assert got.n_matching_pairs == matched
    assert got.n_violating_pairs == viol
    expected_boundary = min(1.0, min_sim) if min_sim is not None else 1.0
    assert abs(got.true_rhs_boundary - expected_boundary) < 1e-12


# ---------------------------------------------------------------------------
# SD: the optimal DP lower-bounds the greedy scan and agrees with brute force


def _sd_brute_ops(values, g1, g2):
    """Exponential-time exact minimum (subsequence enumeration) for tiny n:
    keep a subset in order, pay deletions for dropped rows and the minimal
    insertions for each kept gap; invalid gaps forbid the subsequence."""
    import itertools
    import math

    n = len(values)
    best = n  # delete everything but (at most) one element costs n-1 <= n
    if n:
        best = n - 1
    for r in range(1, n + 1):
        for keep in itertools.combinations(range(n), r):
            cost = n - r
            ok = True
            for a, b in zip(keep, keep[1:]):
                d = values[b] - values[a]
                if d < 0:
                    ok = False
                    break
                if math.isinf(g2):
                    steps = 1 if d >= g1 else -1
                else:
                    steps = max(math.ceil(d / g2), 1)
                    if steps * g1 > d + 1e-12:
                        steps = -1
                if steps == -1:
                    ok = False
                    break
                cost += steps - 1
            if ok:
                best = min(best, cost)
    return best


sd_values_strategy = st.lists(
    st.integers(min_value=0, max_value=12), min_size=1, max_size=7
)


@given(vals=sd_values_strategy, g=st.sampled_from([(0.0, 3.0), (2.0, 4.0), (1.0, float("inf"))]))
@settings(**_SETTINGS)
def test_sd_optimal_matches_bruteforce(spark, vals, g):
    from pyspark_validator.checks.sd import _optimal_ops

    g1, g2 = g
    svals = sorted(float(v) for v in vals)
    ops, dels, ins = _optimal_ops(svals, g1, g2)
    assert ops == _sd_brute_ops(svals, g1, g2)
    # reconstruct consistency: ops counted by the violation path
    assert ops == len(dels) + sum(mi for _, _, mi, _ in ins)


@given(vals=sd_values_strategy)
@settings(**_SETTINGS)
def test_sd_holds_verdict_exact_vs_optimal(spark, vals):
    """The cheap per-gap score and the exact DP agree EXACTLY on the holds
    verdict (score 0 <=> min ops 0); the counts themselves may differ when
    deletions cascade ([1,4,0,1] under [1,3]: score 1, true minimum 2), which
    is documented in checks/sd.py -- so only the verdict is asserted here."""
    from pyspark_validator.checks.sd import sd_check

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], ["o", "v"]
    )
    c = sd_check(df, "o", "v", g1=1.0, g2=3.0)
    greedy = c.summary().collect()[0].ops
    opt = c.optimal().collect()[0].ops
    assert (greedy == 0) == (opt == 0)


@given(vals=st.lists(st.integers(min_value=0, max_value=40), min_size=2, max_size=10, unique=True))
@settings(**_SETTINGS)
def test_sd_insertion_only_greedy_upper_bounds_optimal(spark, vals):
    """With every gap >= g1 (sorted distinct ints, g1=1) the per-gap repair is
    insertion-only and insertions never affect neighboring gaps, so the score
    is a FEASIBLE repair and must upper-bound the exact minimum."""
    from pyspark_validator.checks.sd import sd_check

    svals = sorted(vals)
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(svals)], ["o", "v"]
    )
    c = sd_check(df, "o", "v", g1=1.0, g2=3.0)
    greedy = c.summary().collect()[0].ops
    opt = c.optimal().collect()[0].ops
    assert opt <= greedy


# ---------------------------------------------------------------------------
# MFD: approx bound sandwich (r <= true diameter <= 2r)


@given(
    vals=st.lists(st.text(alphabet="ab", min_size=0, max_size=6), min_size=2, max_size=8)
)
@settings(**_SETTINGS)
def test_mfd_approx_bounds_sandwich_true_diameter(spark, vals):
    from pyspark_validator.checks.mfd import mfd_check

    df = spark.createDataFrame([(1, v) for v in vals], ["k", "s"])
    exact = (
        mfd_check(df, ["k"], ["s"], metric="levenshtein", parameter=0.0, algo="brute")
        .diameters.collect()[0]
    )
    approx = (
        mfd_check(df, ["k"], ["s"], metric="levenshtein", parameter=0.0, algo="approx")
        .diameters.collect()[0]
    )
    # diameter_lb = pivot radius r, diameter = 2r: r <= true <= 2r
    assert approx.diameter_lb <= exact.diameter + 1e-9
    assert exact.diameter <= approx.diameter + 1e-9


# ---------------------------------------------------------------------------
# AC: distributed gap clustering vs a direct python reference
# (ConstructDisjunctiveRanges, ac_algorithm.cpp)


def _reference_ranges(results, weight):
    vals = sorted(results)
    if len(results) < 2:
        return []
    if weight == 1.0:
        return [(vals[0], vals[-1])]
    delta = (vals[-1] - vals[0]) * (weight / (1.0 - weight))
    ranges, lo, prev = [], vals[0], vals[0]
    for v in vals[1:]:
        if v - prev > delta:
            ranges.append((lo, prev))
            lo = v
        prev = v
    ranges.append((lo, prev))
    return ranges


ac_rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=-50, max_value=50),
        st.integers(min_value=-50, max_value=50),
    ),
    min_size=0,
    max_size=40,
)


@given(rows=ac_rows_strategy, weight=st.sampled_from([0.05, 0.1, 0.3, 1.0]))
@settings(**_SETTINGS)
def test_ac_ranges_match_python_reference(spark, rows, weight):
    from pyspark_validator.checks.ac import ac_check

    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in rows] or [(None, None)],
        "a double, b double",
    )
    check = ac_check(df, "a", "b", "+", weight=weight, num_partitions=4)
    got = [(r["lo"], r["hi"]) for r in check.ranges().orderBy("lo").collect()]
    expected = _reference_ranges([a + b for a, b in rows], weight)
    assert [x for p in got for x in p] == pytest.approx(
        [x for p in expected for x in p]
    )
    # full-data ranges admit no exceptions (BHUNT invariant) -- except the
    # degenerate <2-row case, where the reference emits no ranges at all and
    # every row is therefore outside them
    if len(rows) >= 2:
        assert check.exceptions(["a"]).count() == 0


@given(rows=ac_rows_strategy, weight=st.sampled_from([0.05, 0.2]))
@settings(**_SETTINGS)
def test_ac_cluster_gap_invariants(spark, rows, weight):
    """Every within-range neighbour gap <= delta; every between-range gap >
    delta -- the defining property of the clustering, independent of the
    reference implementation."""
    from pyspark_validator.checks.ac import ac_check

    results = sorted({float(a + b) for a, b in rows})
    if len(rows) < 2:
        return
    delta = (max(results) - min(results)) * (weight / (1.0 - weight))
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in rows], "a double, b double"
    )
    ranges = [
        (r["lo"], r["hi"])
        for r in ac_check(df, "a", "b", "+", weight=weight, num_partitions=4)
        .ranges()
        .orderBy("lo")
        .collect()
    ]
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert lo_next - hi_prev > delta
    for lo, hi in ranges:
        inside = [v for v in results if lo <= v <= hi]
        for x, y in zip(inside, inside[1:]):
            assert y - x <= delta


# ---------------------------------------------------------------------------
# NAR: qualities vs direct pandas computation (nar.cpp CalcQualities)


@given(
    rows=st.lists(
        st.tuples(st.sampled_from("abc"), st.integers(min_value=0, max_value=9)),
        min_size=1,
        max_size=25,
    ),
    lo=st.integers(min_value=0, max_value=5),
    width=st.integers(min_value=0, max_value=5),
)
@settings(**_SETTINGS)
def test_nar_matches_pandas_oracle(spark, rows, lo, width):
    from pyspark_validator.checks.nar import nar_check

    df = spark.createDataFrame(rows, "cat string, x long")
    q = nar_check(df, {"cat": ["a", "b"]}, {"x": (lo, lo + width)}).qualities().collect()[0]
    pdf = pd.DataFrame(rows, columns=["cat", "x"])
    ante = pdf["cat"].isin(["a", "b"])
    both = ante & pdf["x"].between(lo, lo + width)
    n, na, nb = len(pdf), int(ante.sum()), int(both.sum())
    assert (q.n_rows, q.n_fit_ante, q.n_fit_both) == (n, na, nb)
    if na == 0 or nb == 0:
        assert (q.support, q.confidence, q.fitness) == (0.0, 0.0, 0.0)
    else:
        assert q.support == pytest.approx(nb / n)
        assert q.confidence == pytest.approx(nb / na)
        assert q.fitness == pytest.approx((nb / na + nb / n + 2 / 2) / 3)


# ---------------------------------------------------------------------------
# SFD: chi2/zero-cells vs direct pandas contingency (small alphabets => both
# columns take the skewed full-value path, so the contingency is the raw
# crosstab and the comparison is exact)


@given(
    rows=st.lists(
        st.tuples(st.sampled_from("abcd"), st.sampled_from("xyz")),
        min_size=2,
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_sfd_chi2_matches_pandas_oracle(spark, rows):
    from pyspark_validator.checks.sfd import sfd_check

    df = spark.createDataFrame(rows, "a string, b string")
    s = sfd_check(df, "a", "b", min_cardinality=0.999).summary().collect()[0]
    pdf = pd.DataFrame(rows, columns=["a", "b"])
    ct = pd.crosstab(pdf["a"], pdf["b"])
    n = ct.values.sum()
    ni = ct.values.sum(axis=1, keepdims=True)
    nj = ct.values.sum(axis=0, keepdims=True)
    e = ni * nj / n
    chi2 = float((((ct.values - e) ** 2) / e).sum())
    d1, d2 = ct.shape if s.det == "a" else ct.shape[::-1]
    assert (s.d1, s.d2) == (d1, d2)
    assert s.n_zero_cells == int((ct.values == 0).sum())
    assert s.chi2 == pytest.approx(chi2, rel=1e-9)


# ---------------------------------------------------------------------------
# Incremental UCC: random delta sequences vs full batch recompute


@given(
    base=st.lists(st.integers(min_value=0, max_value=15), min_size=1, max_size=25),
    deltas=st.lists(
        st.tuples(
            st.lists(st.integers(min_value=0, max_value=15), max_size=4),  # inserts
            st.lists(st.integers(min_value=0, max_value=15), max_size=3),  # delete keys
        ),
        min_size=1,
        max_size=3,
    ),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_incremental_ucc_random_deltas_match_batch(spark, tmp_path_factory, base, deltas):
    """After ANY sequence of insert/delete batches, the incremental verdicts
    must equal a from-scratch batch recompute on the equivalent multiset.
    Deletes reference existing rows (DynPLI's precondition, the engine's
    contract): a drawn delete of a key with no row left is not sent."""
    from collections import Counter

    from pyspark_validator.incremental import IncrementalUCC

    path = str(tmp_path_factory.mktemp("inc_prop"))
    inc = IncrementalUCC(spark, path, ["k"], num_partitions=4)
    inc.initialize(spark.createDataFrame([(k,) for k in base], "k long"))
    counts = Counter(base)
    for ins, drawn in deltas:
        counts.update(ins)
        dels = []
        for k in drawn:
            if counts[k] > 0:
                counts[k] -= 1
                dels.append(k)
        kw = {}
        if ins:
            kw["inserts"] = spark.createDataFrame([(k,) for k in ins], "k long")
        if dels:
            kw["deletes"] = spark.createDataFrame([(k,) for k in dels], "k long")
        if not kw:
            continue
        inc.apply_delta(**kw)
    post = [(k,) for k, c in counts.items() for _ in range(c)]
    if not post:
        assert inc.verdicts().count() == 0
        return
    full = ucc_check(
        spark.createDataFrame(post, "k long"), ["k"], num_partitions=4
    ).verdicts()
    cols = ["partition_id", "holds", "n_rows", "n_violating_clusters"]
    a = sorted(tuple(r[c] for c in cols) for r in inc.verdicts().collect())
    b = sorted(tuple(r[c] for c in cols) for r in full.collect())
    assert a == b


# ---------------------------------------------------------------------------
# span-sequence integrity (schema.py): fused counts vs direct python oracle

span_strategy = st.lists(
    st.tuples(
        st.sampled_from(["text", "image", "audio", "bogus", None]),
        st.sampled_from(["payload", None]),
        st.sampled_from(["media://m/1", None]),
        st.sampled_from([0, 1, 5, 64, -1, None]),
    ),
    min_size=0,
    max_size=4,
)
docs_strategy = st.lists(span_strategy, min_size=1, max_size=12)

_KINDS = ("text", "image", "audio", "video")


def _py_flags(spans):
    if spans is None:
        return {"kind": False, "text_null": False, "media_null": False, "order": True}
    kind = any(s[0] is None or s[0] not in _KINDS for s in spans)
    text_null = any(s[0] == "text" and s[1] is None for s in spans)
    media_null = any(
        s[0] is not None and s[0] != "text" and s[2] is None for s in spans
    )
    bad_off = any(s[3] is None or s[3] < 0 for s in spans)
    disorder = any(
        a[3] is not None and b[3] is not None and b[3] <= a[3]
        for a, b in zip(spans, spans[1:])
    )
    return {
        "kind": kind,
        "text_null": text_null,
        "media_null": media_null,
        "order": bad_off or disorder,
    }


@given(docs=docs_strategy)
@settings(**_SETTINGS)
def test_span_integrity_matches_python_oracle(spark, docs):
    from pyspark.sql import types as T

    from pyspark_validator.fused import FusedPass

    schema = T.StructType.fromDDL(
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )
    rows = [(f"d{i}", s) for i, s in enumerate(docs)]
    df = spark.createDataFrame(rows, schema)
    fp = FusedPass(df, num_partitions=4, partition_key="doc_id").add_span_integrity("si")
    v = fp.verdict("si").collect()
    got = {
        "kind": sum(r.kind_violations for r in v),
        "text_null": sum(r.text_null_violations for r in v),
        "media_null": sum(r.media_null_violations for r in v),
        "order": sum(r.order_violations for r in v),
    }
    flags = [_py_flags(s) for s in docs]
    want = {k: sum(f[k] for f in flags) for k in got}
    assert got == want
    assert sum(r.n_docs for r in v) == len(docs)


_words_st = st.lists(
    st.sampled_from(["a", "b", "cc", "ddd", "e"]), min_size=0, max_size=24
)


@settings(**_SETTINGS)
@given(docs=st.lists(_words_st, min_size=1, max_size=6))
def test_repetition_signals_match_python_oracle(spark, docs):
    """Law: top-2-gram coverage and dup-5-gram fraction equal a direct python
    computation (mode with lexicographic-min tie-break, like the engine)."""
    from collections import Counter

    from pyspark_validator.pipelines.text import repetition_signals

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: r
        for r in repetition_signals(df, top_n=2, dup_n=5).collect()
    }
    for i, ws in enumerate(docs):
        # engine splits the trimmed text: an empty doc becomes ['']
        eff = ws if ws else [""]
        grams2 = [" ".join(eff[j : j + 2]) for j in range(len(eff) - 1)]
        grams5 = [" ".join(eff[j : j + 5]) for j in range(len(eff) - 4)]
        ns = sum(len(w) for w in eff)
        if grams2:
            cnt = Counter(grams2)
            best_c = max(cnt.values())
            best_g = min(g for g, c in cnt.items() if c == best_c)
            exp_top = best_c * len(best_g.replace(" ", "")) / ns if ns else 0.0
            assert got[i].top_ngram == best_g
        else:
            exp_top = 0.0
        assert got[i].top_ngram_char_frac == pytest.approx(exp_top)
        exp_dup5 = (
            (len(grams5) - len(set(grams5))) / len(grams5) if grams5 else 0.0
        )
        assert got[i].dup_ngram_frac == pytest.approx(exp_dup5)


@settings(**_SETTINGS)
@given(
    parts=st.lists(
        st.sampled_from(
            [
                "plain words here",
                "x@y.io",
                "https://ex.com/p",
                "10.0.0.1",
                "+1 555 123 4567",
            ]
        ),
        min_size=0,
        max_size=5,
    )
)
def test_pii_counts_match_python_oracle(spark, parts):
    """Law: PII counts equal python re on the same strip chain."""
    import re

    from pyspark_validator.pipelines.text import (
        _PII_ORDER,
        PII_PATTERNS,
        pii_signals,
    )

    text = " | ".join(parts)
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    got = pii_signals(df).collect()[0]
    t = text
    for kind in _PII_ORDER:
        exp = len(re.findall(PII_PATTERNS[kind], t))
        assert got[f"n_{kind}"] == exp, (kind, t)
        t = re.sub(PII_PATTERNS[kind], " ", t)


# ---------------------------------------------------------------------------
# curation laws (pipelines/curation.py)

word_st = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"])
doc_st = st.lists(word_st, min_size=0, max_size=14).map(" ".join)


@settings(**_SETTINGS)
@given(
    texts=st.lists(doc_st, min_size=1, max_size=12),
    bench=st.lists(doc_st, min_size=1, max_size=4),
    n=st.sampled_from([2, 3, 5]),
)
def test_decontaminate_matches_python_oracle(spark, texts, bench, n):
    """Law: n_contaminated_grams equals a direct python n-gram count, for both
    the hashed and string gram join."""
    from pyspark_validator.pipelines.curation import decontaminate

    train_df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    bench_df = spark.createDataFrame(list(enumerate(bench)), ["doc_id", "text"])

    def grams(t):
        w = t.lower().split()
        return [" ".join(w[i : i + n]) for i in range(len(w) - n + 1)]

    bset = {g for b in bench for g in grams(b)}
    expected = {i: sum(g in bset for g in grams(t)) for i, t in enumerate(texts)}
    for hashed in (True, False):
        got = {
            r.doc_id: r.n_contaminated_grams
            for r in decontaminate(train_df, bench_df, n=n, hash_grams=hashed).collect()
        }
        assert got == expected, (hashed, texts, bench)


@settings(**_SETTINGS)
@given(
    toks=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=25),
    chunk=st.sampled_from([1, 7, 16]),
    bins=st.sampled_from([1, 3]),
)
def test_pack_sequences_matches_stream_oracle(spark, toks, chunk, bins):
    """Law: packing equals the sequential per-bin stream; tokens conserve and
    offsets stay inside the chunk."""
    from pyspark.sql import functions as F

    from pyspark_validator.pipelines.curation import pack_sequences

    rows = list(enumerate(toks))
    df = spark.createDataFrame(rows, ["doc_id", "ntok"])
    got = {
        r.doc_id: (r.pack_bin, r.chunk_id, r.chunk_offset)
        for r in pack_sequences(
            df,
            token_col="ntok",
            chunk_tokens=chunk,
            num_bins=bins,
            bin_col=F.col("doc_id") % bins,
        ).collect()
    }
    cum = {b: 0 for b in range(bins)}
    for i, t in rows:
        b = i % bins
        before = cum[b]
        assert got[i] == (b, before // chunk, before % chunk), (toks, chunk, bins)
        assert 0 <= got[i][2] < chunk
        cum[b] = before + t


@settings(**_SETTINGS)
@given(
    ids=st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=40, unique=True),
    fr=st.sampled_from([{"a": 0.3, "b": 0.7}, {"t": 0.05, "v": 0.05, "tr": 0.9}]),
)
def test_hash_split_partitions_ids_exhaustively(spark, ids, fr):
    """Law: every id lands in exactly one declared split, and the assignment
    equals the md5-threshold python oracle."""
    import hashlib

    from pyspark_validator.pipelines.curation import hash_split, hex_threshold

    df = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    got = dict(hash_split(df, fractions=fr, salt="law").select("doc_id", "split").collect())
    names = list(fr)
    for i in ids:
        p = hashlib.md5(f"{i}|law".encode()).hexdigest()[:12]
        exp = names[-1]
        cum = 0.0
        for name in names[:-1]:
            cum += fr[name]
            if p < hex_threshold(cum):
                exp = name
                break
        assert got[i] == exp


# ---------------------------------------------------------------------------
# Lattice discovery law: mine_fds / mine_afds(g1) on random tables equal the
# brute-force definitions (TANE criterion + subset minimality)
# ---------------------------------------------------------------------------
lattice_rows_strategy = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", None]),
        st.sampled_from(["x", "y"]),
        st.integers(min_value=0, max_value=2),
    ),
    min_size=2,
    max_size=25,
)


def _brute_lattice(rows, cols, err_fn, budget, max_lhs=2):
    from itertools import combinations as _comb

    out = []
    for rhs in cols:
        subsets = [()]
        for size in range(1, max_lhs + 1):
            subsets += list(_comb([c for c in cols if c != rhs], size))
        for lhs in subsets:
            if err_fn(lhs, rhs) <= budget and not any(
                err_fn(sub, rhs) <= budget
                for size in range(len(lhs))
                for sub in _comb(lhs, size)
            ):
                out.append((tuple(lhs), rhs))
    return sorted(out)


@given(rows=lattice_rows_strategy)
@settings(**_SETTINGS)
def test_mine_fds_law(spark, rows):
    from pyspark_validator.discovery import mine_fds

    cols = ["p", "q", "r"]
    df = spark.createDataFrame(rows, "p string, q string, r int")

    def exact_err(lhs, rhs):
        seen = {}
        for r in rows:
            k = tuple(r[cols.index(c)] for c in lhs)
            v = r[cols.index(rhs)]
            if k in seen and seen[k] != v:
                return 1.0
            seen[k] = v
        return 0.0

    assert [
        (l, r) for l, r in mine_fds(df, cols)
    ] == _brute_lattice(rows, cols, exact_err, 0.0)


@given(
    rows=lattice_rows_strategy,
    budget=st.sampled_from([0.0, 0.05, 0.2, 0.5]),
)
@settings(**_SETTINGS)
def test_mine_afds_g1_law(spark, rows, budget):
    from collections import Counter

    from pyspark_validator.discovery import mine_afds

    cols = ["p", "q", "r"]
    df = spark.createDataFrame(rows, "p string, q string, r int")
    n = len(rows)

    def g1(lhs, rhs):
        if n <= 1:
            return 0.0
        xy = Counter(
            (tuple(r[cols.index(c)] for c in lhs), r[cols.index(rhs)])
            for r in rows
        )
        x = Counter()
        for (k, _), c in xy.items():
            x[k] += c
        conflict = sum(c * (c - 1) for c in x.values()) - sum(
            c * (c - 1) for c in xy.values()
        )
        return conflict / (n * n - n)

    mined = mine_afds(df, cols, max_error=budget)
    assert [(l, r) for l, r, _ in mined] == _brute_lattice(rows, cols, g1, budget)
    for lhs, rhs, e in mined:
        assert abs(e - g1(lhs, rhs)) < 1e-12


lattice4_rows_strategy = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", None]),
        st.sampled_from(["x", "y"]),
        st.integers(min_value=0, max_value=1),
        st.integers(min_value=0, max_value=2),
    ),
    min_size=2,
    max_size=20,
)


@given(rows=lattice4_rows_strategy)
@settings(**_SETTINGS)
def test_mine_fds_depth3_law(spark, rows):
    """Arbitrary-depth lattice walk: on 4 columns at max_lhs=3 the level-wise
    apriori + key/internal-FD pruning must reproduce brute-force TANE
    minimality exactly (NULL a value)."""
    from pyspark_validator.discovery import mine_fds

    cols = ["p", "q", "r", "s"]
    df = spark.createDataFrame(rows, "p string, q string, r int, s int")

    def exact_err(lhs, rhs):
        seen = {}
        for r in rows:
            k = tuple(r[cols.index(c)] for c in lhs)
            v = r[cols.index(rhs)]
            if k in seen and seen[k] != v:
                return 1.0
            seen[k] = v
        return 0.0

    assert [
        (l, r) for l, r in mine_fds(df, cols, max_lhs=3)
    ] == _brute_lattice(rows, cols, exact_err, 0.0, max_lhs=3)


@given(
    rows=lattice4_rows_strategy,
    budget=st.sampled_from([0.0, 0.05, 0.3]),
)
@settings(**_SETTINGS)
def test_mine_afds_g1_depth3_law(spark, rows, budget):
    from collections import Counter

    from pyspark_validator.discovery import mine_afds

    cols = ["p", "q", "r", "s"]
    df = spark.createDataFrame(rows, "p string, q string, r int, s int")
    n = len(rows)
    if n < 2:
        return

    def g1(lhs, rhs):
        xy = Counter(
            (tuple(r[cols.index(c)] for c in lhs), r[cols.index(rhs)])
            for r in rows
        )
        x = Counter()
        for (k, _), c in xy.items():
            x[k] += c
        conflict = sum(c * (c - 1) for c in x.values()) - sum(
            c * (c - 1) for c in xy.values()
        )
        return conflict / (n * n - n)

    mined = mine_afds(df, cols, max_error=budget, max_lhs=3)
    assert [(l, r) for l, r, _ in mined] == _brute_lattice(
        rows, cols, g1, budget, max_lhs=3
    )


# --- session-20 pipeline properties -----------------------------------------

_corpus_strategy = st.lists(
    st.text(alphabet="ab X", min_size=0, max_size=12),
    min_size=1,
    max_size=20,
)


@given(corpus_texts=_corpus_strategy, delta_texts=_corpus_strategy)
@settings(**_SETTINGS)
def test_bloom_gated_dedup_equals_anti_join(spark, corpus_texts, delta_texts):
    from pyspark_validator.pipelines.bloom import (
        bloom_array,
        bloom_words,
        content_hash_index,
        delta_new_rows,
    )

    corpus = spark.createDataFrame(
        list(enumerate(corpus_texts)), "doc_id bigint, text string"
    )
    delta = spark.createDataFrame(
        [(i + 1000, t) for i, t in enumerate(delta_texts)],
        "doc_id bigint, text string",
    )
    idx = content_hash_index(corpus)
    # deliberately tiny filter: false positives guaranteed on many draws
    m, k = 128, 3
    arr = bloom_array(bloom_words(idx, num_bits=m, num_hashes=k), m)
    gated = sorted(
        r["doc_id"]
        for r in delta_new_rows(delta, idx, bloom=arr, num_bits=m, num_hashes=k).collect()
    )
    plain = sorted(r["doc_id"] for r in delta_new_rows(delta, idx).collect())
    assert gated == plain
    # python oracle: normalized-text membership
    import re

    def norm(t):
        return re.sub(r"\s+", " ", t.lower()).strip()

    seen = {norm(t) for t in corpus_texts}
    want = sorted(
        i + 1000 for i, t in enumerate(delta_texts) if norm(t) not in seen
    )
    assert plain == want


@given(
    ids=st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=25, unique=True),
    seed=st.sampled_from(["", "ep1", "zz"]),
    n_shards=st.sampled_from([1, 3, 8]),
)
@settings(**_SETTINGS)
def test_shuffle_shards_hashlib_property(spark, ids, seed, n_shards):
    import hashlib

    from pyspark_validator.pipelines.curation import shuffle_shards

    df = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    got = {
        r["doc_id"]: (r["shuffle_key"], r["shard_id"])
        for r in shuffle_shards(df, n_shards=n_shards, seed=seed).collect()
    }
    for i in ids:
        key = hashlib.md5(f"{i}|{seed}".encode()).hexdigest()
        assert got[i] == (key, int(key[:8], 16) % n_shards)


_spans_strategy = st.lists(  # per doc: list of (kind, offset) pairs
    st.lists(
        st.tuples(st.sampled_from(["text", "image", "audio"]), st.integers(0, 500)),
        min_size=0,
        max_size=6,
    ),
    min_size=1,
    max_size=8,
)


@given(docs=_spans_strategy)
@settings(**_SETTINGS)
def test_span_transitions_python_oracle(spark, docs):
    from collections import Counter

    from pyspark_validator.pipelines.interleaved import span_kind_transitions

    rows = [
        (
            f"d{i}",
            [
                {"kind": k, "text": "t" if k == "text" else None,
                 "media_ref": None if k == "text" else "m", "offset": off}
                for k, off in spans
            ],
        )
        for i, spans in enumerate(docs)
    ]
    schema = (
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )
    df = spark.createDataFrame(rows, schema)
    got = {
        (r["src"], r["dst"]): r["n_transitions"]
        for r in span_kind_transitions(df).collect()
    }
    want = Counter()
    for spans in docs:
        # python oracle mirrors array_sort on (offset, kind, text, media_ref):
        # ties on offset break by kind, then text (None sorts FIRST in Spark
        # asc null-first inside array_sort? -- avoid relying on it: sort key
        # (offset, kind) is enough because text/media are kind-determined)
        ks = [k for k, _ in sorted(spans, key=lambda p: (p[1], p[0]))]
        seq = ["BOS"] + ks + ["EOS"]
        for a, b in zip(seq, seq[1:]):
            want[(a, b)] += 1
    assert got == dict(want)


# --- normalize_interleaved vs a direct python fold -------------------------

span_strategy = st.lists(
    st.tuples(
        st.sampled_from(["text", "image"]),
        st.sampled_from(["w", "xy", "", None]),
        st.sampled_from(["m://1", "m://2", None]),
        st.integers(min_value=0, max_value=9),
    ),
    min_size=0,
    max_size=8,
    # the input-hint invariant: offsets are unique (strictly increasing once
    # sorted); on ties Spark's array_sort tie-breaks on the other struct
    # fields while python's sorted is stable, so ties are out of contract
    unique_by=lambda s: s[3],
)


def _normalize_python(spans):
    """Direct replay: offset-sort (stable), drop degenerates, merge adjacent
    text runs. A span is media iff media_ref is not None."""
    ordered = sorted(spans, key=lambda s: s[3])
    kept = [
        s for s in ordered if s[2] is not None or (s[1] is not None and len(s[1]) > 0)
    ]
    out = []
    for k, t, m, o in kept:
        if out and out[-1][2] is None and m is None:
            pk, pt, _, po = out[-1]
            out[-1] = (pk, " ".join(x for x in (pt, t) if x is not None), None, po)
        else:
            out.append((k, t, m, o))
    return ordered, kept, out


@given(spans=span_strategy)
@settings(**_SETTINGS)
def test_normalize_interleaved_matches_python_and_is_idempotent(spark, spans):
    from pyspark_validator.pipelines.interleaved import normalize_interleaved

    schema = (
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )
    df = spark.createDataFrame(
        [("d", [dict(kind=k, text=t, media_ref=m, offset=o) for k, t, m, o in spans])],
        schema,
    )
    got = normalize_interleaved(df).collect()[0]
    ordered, kept, want = _normalize_python(spans)
    assert [
        (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in got["spans"]
    ] == want
    assert got["n_dropped_spans"] == len(ordered) - len(kept)
    assert got["n_merged_spans"] == len(kept) - len(want)

    # idempotence: a normalized doc is a fixed point
    again = normalize_interleaved(
        normalize_interleaved(df).select("doc_id", "spans")
    ).collect()[0]
    assert [
        (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in again["spans"]
    ] == want
    assert again["n_dropped_spans"] == 0 and again["n_merged_spans"] == 0
