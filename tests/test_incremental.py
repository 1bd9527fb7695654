"""Incremental (dynamic) validation tests: delta batches must produce verdicts
identical to a full recompute over the post-delta table (the cross-validation
rule the reference applies between dynamic and static verifiers), must write
only the delta, and must survive a kill at any point of an append or a
compaction."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from pyspark_validator.checks.fd import fd_check
from pyspark_validator.checks.ucc import ucc_check
from pyspark_validator.incremental import IncrementalFD, IncrementalUCC


def _sorted_rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


VERDICT_COLS = [
    "partition_id",
    "n_rows",
    "n_distinct",
    "n_violating_clusters",
    "n_violating_rows",
    "violating_pairs",
    "holds",
]


def test_incremental_ucc_matches_full_recompute(spark, tmp_path):
    base = spark.createDataFrame([(i,) for i in range(100)], ["k"])
    inc = IncrementalUCC(spark, str(tmp_path / "ucc"), ["k"], num_partitions=8)
    inc.initialize(base)
    # baseline: unique -> all partitions hold
    v0 = inc.verdicts()
    assert all(r.holds for r in v0.collect())

    # delta: insert dup of 7, a fresh 200, delete 50
    ins = spark.createDataFrame([(7,), (200,)], ["k"])
    dele = spark.createDataFrame([(50,)], ["k"])
    touched = inc.apply_delta(inserts=ins, deletes=dele)
    # touched partitions only
    t_pids = {r.partition_id for r in touched.collect()}
    assert 0 < len(t_pids) <= 3

    # full recompute oracle on the post-delta table
    post = base.filter(F.col("k") != 50).unionByName(ins)
    full = ucc_check(post, ["k"], num_partitions=8).verdicts()
    assert _sorted_rows(inc.verdicts(), VERDICT_COLS) == _sorted_rows(
        full, VERDICT_COLS
    )
    # the duplicate is detected
    s = inc.verdicts().agg(F.sum("n_violating_clusters").alias("v")).collect()[0]
    assert s.v == 1


def test_incremental_ucc_delta_then_fix(spark, tmp_path):
    base = spark.createDataFrame([(i,) for i in range(50)], ["k"])
    inc = IncrementalUCC(spark, str(tmp_path / "ucc2"), ["k"], num_partitions=4)
    inc.initialize(base)
    inc.apply_delta(inserts=spark.createDataFrame([(3,)], ["k"]))
    assert not all(r.holds for r in inc.verdicts().collect())
    # deleting one copy of the dup restores uniqueness everywhere
    inc.apply_delta(deletes=spark.createDataFrame([(3,)], ["k"]))
    assert all(r.holds for r in inc.verdicts().collect())
    live = inc.state.live_batches()
    assert [b.rsplit("-", 1)[1] for b in live] == ["base", "delta", "delta"]


FD_VERDICT_COLS = [
    "partition_id",
    "n_rows",
    "n_distinct_x",
    "n_distinct_xy",
    "n_error_clusters",
    "n_error_rows",
    "conflict_pairs",
    "holds",
]


def test_incremental_fd_matches_full_recompute(spark, tmp_path):
    base = spark.createDataFrame(
        [(i, i % 10, f"y{i % 10}") for i in range(100)], ["rid", "x", "y"]
    ).drop("rid")
    inc = IncrementalFD(spark, str(tmp_path / "fd"), ["x"], ["y"], num_partitions=8)
    inc.initialize(base)
    assert all(r.holds for r in inc.verdicts().collect())

    # break the FD for x=3 with a conflicting y; also delete one (5, y5) row
    ins = spark.createDataFrame([(3, "OTHER")], ["x", "y"])
    dele = spark.createDataFrame([(5, "y5")], ["x", "y"])
    inc.apply_delta(inserts=ins, deletes=dele)

    post = base.filter(~((F.col("x") == 5) & F.monotonically_increasing_id().isin([])))
    # build post table explicitly: remove ONE (5, y5) row
    rows = [(i % 10, f"y{i % 10}") for i in range(100)]
    rows.remove((5, "y5"))
    rows.append((3, "OTHER"))
    post = spark.createDataFrame(rows, ["x", "y"])
    full = fd_check(post, ["x"], ["y"], num_partitions=8).verdicts()
    assert _sorted_rows(inc.verdicts(), FD_VERDICT_COLS) == _sorted_rows(
        full, FD_VERDICT_COLS
    )


def test_incremental_requires_init(spark, tmp_path):
    inc = IncrementalUCC(spark, str(tmp_path / "none"), ["k"])
    with pytest.raises(ValueError, match="initialize"):
        inc.verdicts()


def test_incremental_fd_afd_measures_track_static(spark, tmp_path):
    """DynamicAFD analog: after delta batches, measures from state must equal a
    static afd_measures() over the post-delta table (the reference's
    dynamic_verifying_afd workflow)."""
    from pyspark_validator.checks.fd import fd_check as static_fd

    rows = [(i % 7, f"y{i % 3}") for i in range(60)]
    base = spark.createDataFrame(rows, ["x", "y"])
    inc = IncrementalFD(spark, str(tmp_path / "afd"), ["x"], ["y"], num_partitions=4)
    inc.initialize(base)
    inc.apply_delta(
        inserts=spark.createDataFrame([(1, "zz"), (2, "y0")], ["x", "y"]),
        deletes=spark.createDataFrame([(3, "y0")], ["x", "y"]),
    )
    post_rows = rows + [(1, "zz"), (2, "y0")]
    post_rows.remove((3, "y0"))
    post = spark.createDataFrame(post_rows, ["x", "y"])
    got = inc.afd_measures().collect()[0]
    exp = static_fd(post, ["x"], ["y"], num_partitions=4).afd_measures().collect()[0]
    for f in ["g1", "g2", "pdep", "tau", "mu_plus", "rho", "fi"]:
        assert float(got[f]) == pytest.approx(float(exp[f])), f
    assert (got.n_rows, got.n_distinct_x, got.n_distinct_xy) == (
        exp.n_rows,
        exp.n_distinct_x,
        exp.n_distinct_xy,
    )


def _files(root):
    """{relative path: (mtime, bytes)} of every file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = (os.path.getmtime(p), f.read())
    return out


def _batches(root):
    return sorted(n for n in os.listdir(root) if n.startswith("batch="))


def test_incremental_delta_rewrites_only_touched_partitions(spark, tmp_path):
    """The scale claim of the incremental engine: a delta adds only its own
    batch, holding only the touched partition_id= directories; every
    pre-existing state file stays byte-identical, and a touched-partition
    read opens only that partition's files (a partition filter)."""
    base = spark.createDataFrame([(i,) for i in range(200)], ["k"])
    root = str(tmp_path / "nrw")
    inc = IncrementalUCC(spark, root, ["k"], num_partitions=8)
    inc.initialize(base)
    [base_batch] = _batches(root)
    pdirs = [n for n in os.listdir(os.path.join(root, base_batch)) if "=" in n]
    assert len(pdirs) == 8
    before = _files(root)

    touched_df = inc.apply_delta(inserts=spark.createDataFrame([(7,)], ["k"]))
    touched = {r.partition_id for r in touched_df.collect()}
    assert len(touched) == 1

    after = _files(root)
    assert {p: after[p] for p in before} == before
    added = {p.split(os.sep)[0] for p in set(after) - set(before)}
    [batch] = added
    assert batch.startswith("batch=") and batch.endswith("-delta")
    pdirs = [n for n in os.listdir(os.path.join(root, batch)) if "=" in n]
    assert pdirs == [f"partition_id={p}" for p in touched]

    plan = (
        inc.state.read(sorted(touched))._jdf.queryExecution().executedPlan().toString()
    )
    [scan] = [line for line in plan.splitlines() if "FileScan" in line]
    assert "PartitionFilters: [" in scan
    assert "partition_id" in scan.split("PartitionFilters: [", 1)[1]

    # verdicts across batches still match a full recompute
    post = base.unionByName(spark.createDataFrame([(7,)], ["k"]))
    full = ucc_check(post, ["k"], num_partitions=8).verdicts()
    assert _sorted_rows(inc.verdicts(), VERDICT_COLS) == _sorted_rows(
        full, VERDICT_COLS
    )


def test_incremental_delete_all_rows_of_partition(spark, tmp_path):
    """A touched partition whose rows all delete out drops from the merged
    state and from verdicts (the zero-sum edge of the merge on read)."""
    base = spark.createDataFrame([(1,), (2,)], ["k"])
    inc = IncrementalUCC(spark, str(tmp_path / "empt"), ["k"], num_partitions=4)
    inc.initialize(base)
    n0 = inc.verdicts().count()
    inc.apply_delta(deletes=spark.createDataFrame([(1,)], ["k"]))
    assert inc.verdicts().count() == n0 - 1
    assert inc.verdicts().agg(F.sum("n_rows").alias("s")).collect()[0].s == 1


def test_state_vacuum_reference_based(spark, tmp_path):
    """compact() folds the log into one new base: verdicts are unchanged,
    only the new base remains on disk, later deltas append after it, and
    compacting an empty (never initialized) state does nothing."""
    root = str(tmp_path / "s")
    eng = IncrementalUCC(spark, root, ["k"], num_partitions=4)
    eng.initialize(spark.createDataFrame([(i,) for i in range(20)], ["k"]))
    for i in range(3):  # each delta touches a subset of partitions
        eng.apply_delta(inserts=spark.createDataFrame([(100 + i,)], ["k"]))
    eng.apply_delta(deletes=spark.createDataFrame([(5,)], ["k"]))
    before = eng.verdicts().orderBy("partition_id").collect()
    assert len(_batches(root)) == 5

    eng.compact()
    [base] = _batches(root)
    assert base.endswith("-base")
    assert eng.state.live_batches() == [base.split("=", 1)[1]]
    assert eng.verdicts().orderBy("partition_id").collect() == before
    eng.compact()  # already compact: nothing written or deleted
    assert _batches(root) == [base]

    eng.apply_delta(inserts=spark.createDataFrame([(200,)], ["k"]))
    assert len(eng.state.live_batches()) == 2
    post = [(i,) for i in range(20) if i != 5] + [(100,), (101,), (102,), (200,)]
    full = ucc_check(spark.createDataFrame(post, ["k"]), ["k"], num_partitions=4)
    assert _sorted_rows(eng.verdicts(), VERDICT_COLS) == _sorted_rows(
        full.verdicts(), VERDICT_COLS
    )

    empty = IncrementalUCC(spark, str(tmp_path / "none"), ["k"], num_partitions=4)
    empty.compact()
    assert not os.path.exists(tmp_path / "none")


# ---- kill safety: each case is built on disk, or by making the delete step
# raise; verdicts() must equal the uninterrupted state's and a static check
# on the post-delta table.

KILL_BASE = [(i % 30, f"y{i % 30 % 4}") for i in range(90)]
KILL_INSERTS = [(3, "OTHER"), (40, "y0"), (41, "y1")]
KILL_DELETES = [(5, "y1"), (7, "y3")]


@pytest.fixture(scope="module")
def kill_want(spark):
    """Static ``ucc_check``/``fd_check`` verdicts of the post-delta table."""
    post_rows = KILL_BASE + KILL_INSERTS
    for r in KILL_DELETES:
        post_rows.remove(r)
    post = spark.createDataFrame(post_rows, ["x", "y"])
    return {
        "ucc": _sorted_rows(ucc_check(post, ["x"], num_partitions=4).verdicts(), VERDICT_COLS),
        "fd": _sorted_rows(
            fd_check(post, ["x"], ["y"], num_partitions=4).verdicts(), FD_VERDICT_COLS
        ),
    }


def _killable_engines(spark, root):
    """An IncrementalUCC and an IncrementalFD after one insert+delete delta."""
    base = spark.createDataFrame(KILL_BASE, ["x", "y"])
    ins = spark.createDataFrame(KILL_INSERTS, ["x", "y"])
    dels = spark.createDataFrame(KILL_DELETES, ["x", "y"])
    ucc = IncrementalUCC(spark, f"{root}/ucc", ["x"], num_partitions=4)
    fd = IncrementalFD(spark, f"{root}/fd", ["x"], ["y"], num_partitions=4)
    for eng in (ucc, fd):
        eng.initialize(base)
        eng.apply_delta(inserts=ins, deletes=dels)
    return {"ucc": ucc, "fd": fd}


def _assert_verdicts(engines, want):
    assert _sorted_rows(engines["ucc"].verdicts(), VERDICT_COLS) == want["ucc"]
    assert _sorted_rows(engines["fd"].verdicts(), FD_VERDICT_COLS) == want["fd"]
    assert want["ucc"] and not all(r[-1] for r in want["ucc"] + want["fd"])


def test_kill_during_delta_leaves_only_temporary(spark, tmp_path, kill_want):
    """A delta killed before its job commit leaves a batch directory that
    holds only ``_temporary`` (with a task file in it): it is not read."""
    engines, want = _killable_engines(spark, str(tmp_path)), kill_want
    for name, eng in engines.items():
        root = eng.state.path
        [delta] = [b for b in _batches(root) if b.endswith("-delta")]
        seq = int(delta.split("=", 1)[1].split("-")[0]) + 1
        staged = os.path.join(root, f"batch={seq:012d}-delta", "_temporary", "0")
        shutil.copytree(os.path.join(root, delta), staged)
        assert len(eng.state.live_batches()) == 2
    _assert_verdicts(engines, want)
    # the next delta goes after the killed one and is read
    for eng in engines.values():
        eng.apply_delta(inserts=spark.createDataFrame([(50, "y0")], ["x", "y"]))
        eng.apply_delta(deletes=spark.createDataFrame([(50, "y0")], ["x", "y"]))
    _assert_verdicts(engines, want)


def test_kill_before_compaction_base_commits(spark, tmp_path, kill_want):
    """A compaction killed inside its base's job commit: some of the base's
    partitions are in place, but without ``_SUCCESS`` the old base and
    deltas stay the state."""
    engines, want = _killable_engines(spark, str(tmp_path)), kill_want
    for eng in engines.values():
        eng.state.append(eng._fold(eng.state.read()), base=True)
        base = os.path.join(eng.state.path, _batches(eng.state.path)[-1])
        os.remove(os.path.join(base, "_SUCCESS"))
        pdirs = sorted(n for n in os.listdir(base) if n.startswith("partition_id="))
        shutil.rmtree(os.path.join(base, pdirs[0]))
        assert len(eng.state.live_batches()) == 2
    _assert_verdicts(engines, want)
    for eng in engines.values():  # a later compaction supersedes it all
        eng.compact()
        assert len(_batches(eng.state.path)) == 1
    _assert_verdicts(engines, want)


def test_kill_after_compaction_base_commits(spark, tmp_path, monkeypatch, kill_want):
    """A compaction killed after its base committed and before the
    superseded batches were deleted: the new base alone is read; the next
    compaction deletes the leftovers."""
    from pyspark_validator.checkpoint import StateLog

    engines, want = _killable_engines(spark, str(tmp_path)), kill_want

    def killed(self, batch):
        raise RuntimeError("killed before the delete")

    with monkeypatch.context() as m:
        m.setattr(StateLog, "_delete", killed)
        for eng in engines.values():
            with pytest.raises(RuntimeError, match="killed"):
                eng.compact()
            assert len(_batches(eng.state.path)) == 3
            assert len(eng.state.live_batches()) == 1
    _assert_verdicts(engines, want)
    for eng in engines.values():
        eng.compact()
        assert len(_batches(eng.state.path)) == 1
    _assert_verdicts(engines, want)
