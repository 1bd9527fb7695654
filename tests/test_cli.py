"""spark-submit CLI (python -m pyspark_validator) regression test: run a suite
spec end-to-end in-process, assert exit codes and resume behavior."""

import json

from pyspark_validator.__main__ import main


def test_cli_suite_run_and_resume(spark, tmp_path, capsys):
    docs = spark.createDataFrame(
        [(f"doc_{i:04d}", f"seq_{i % 40}") for i in range(50)],
        ["doc_id", "span_seq"],
    )
    src = tmp_path / "docs.parquet"
    docs.write.parquet(str(src))
    spec = {
        "table": str(src),
        "num_partitions": 8,
        "checkpoint_path": str(tmp_path / "manifest"),
        "snapshot_id": "snap-t",
        "checks": [
            {"name": "ucc", "kind": "ucc", "params": {"columns": ["doc_id"]}},
            {
                "name": "fd",
                "kind": "fd",
                "params": {"lhs": ["doc_id"], "rhs": ["span_seq"]},
            },
        ],
    }
    spec_path = tmp_path / "spec.json"
    spec_path.write_text(json.dumps(spec))

    # doc_ids are unique and each maps to one span_seq -> all checks hold
    rc = main(["--spec", str(spec_path)])
    assert rc == 0
    out = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert {o["check"] for o in out} == {"ucc", "fd"}
    assert all(o["holds"] for o in out)
    assert all(o["partitions"] > 0 for o in out)

    # resume: same snapshot -> nothing recomputed
    rc2 = main(["--spec", str(spec_path)])
    assert rc2 == 0
    out2 = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert all(o["partitions"] == 0 for o in out2)


def test_cli_violations_exit_code(spark, tmp_path, capsys):
    docs = spark.createDataFrame(
        [("dup", "a"), ("dup", "b"), ("x", "c")], ["doc_id", "span_seq"]
    )
    src = tmp_path / "docs2.parquet"
    docs.write.parquet(str(src))
    spec = {
        "table": str(src),
        "num_partitions": 4,
        "checkpoint_path": str(tmp_path / "manifest"),
        "checks": [{"name": "ucc", "kind": "ucc", "params": {"columns": ["doc_id"]}}],
    }
    spec_path = tmp_path / "spec2.json"
    spec_path.write_text(json.dumps(spec))
    rc = main(["--spec", str(spec_path)])
    assert rc == 3  # violations found
    capsys.readouterr()
    # a retried run recomputes nothing, yet still fails on the recorded verdicts
    rc2 = main(["--spec", str(spec_path)])
    assert rc2 == 3
    out = json.loads(capsys.readouterr().out.strip().splitlines()[0])
    assert out["partitions"] == 0 and not out["holds"]
    assert out["violated_partitions"] == 1


def test_cli_checkpointed_schema_violation_exit_code(spark, tmp_path, capsys):
    """A schema check records one manifest row per column, all as partition 0
    in one batch: a violated column must fail the gate even when an ok column
    is recorded after it, on the first run and on the rerun."""
    src = tmp_path / "docs3.parquet"
    spark.createDataFrame([("d1", "a")], ["doc_id", "span_seq"]).write.parquet(
        str(src)
    )
    spec = {
        "table": str(src),
        "num_partitions": 4,
        "checkpoint_path": str(tmp_path / "manifest"),
        "output": str(tmp_path / "verdicts"),
        "checks": [
            {
                "name": "shape",
                "kind": "schema",
                "params": {
                    "columns": [
                        {"name": "license", "dtype": "string"},
                        {"name": "doc_id", "dtype": "string"},
                        {"name": "span_seq", "dtype": "string"},
                    ]
                },
            }
        ],
    }
    spec_path = tmp_path / "spec3.json"
    spec_path.write_text(json.dumps(spec))
    for _ in range(2):
        assert main(["--spec", str(spec_path)]) == 3
        out = json.loads(capsys.readouterr().out.strip().splitlines()[0])
        assert not out["holds"] and out["violated_partitions"] == 1
    # the rerun computed nothing, so it kept the first run's verdict output
    kept = spark.read.parquet(str(tmp_path / "verdicts" / "shape"))
    assert {r.column: r.holds for r in kept.collect()} == {
        "license": False, "doc_id": True, "span_seq": True,
    }


def test_report_sink(spark, tmp_path):
    from pyspark_validator.checks.ucc import ucc_check
    from pyspark_validator.report import write_report

    good = spark.createDataFrame([(i,) for i in range(20)], ["k"])
    bad = spark.createDataFrame([(1,), (1,), (2,)], ["k"])
    results = {
        "ucc_good": ucc_check(good, ["k"], num_partitions=4).verdicts(),
        "ucc_bad": ucc_check(bad, ["k"], num_partitions=4).verdicts(),
    }
    summary = write_report(results, str(tmp_path / "report"))
    assert not summary["holds"]
    assert summary["checks"]["ucc_good"]["holds"]
    assert not summary["checks"]["ucc_bad"]["holds"]
    assert (tmp_path / "report.json").exists()
    md = (tmp_path / "report.md").read_text()
    assert "VIOLATED" in md and "ucc_good" in md


def test_cli_ind_and_nd_kinds(spark, tmp_path, capsys):
    docs = spark.createDataFrame(
        [(f"d{i}", i % 10, f"g{i % 5}") for i in range(50)], ["doc_id", "fk", "grp"]
    )
    dim = spark.createDataFrame([(i,) for i in range(10)], ["pk"])
    src, dimp = tmp_path / "t.parquet", tmp_path / "dim.parquet"
    docs.write.parquet(str(src))
    dim.write.parquet(str(dimp))
    spec = {
        "table": str(src),
        "num_partitions": 4,
        "checks": [
            {
                "name": "fk_ind",
                "kind": "ind",
                "params": {"lhs": ["fk"], "rhs": ["pk"], "rhs_table": str(dimp)},
            },
            {
                "name": "nd_grp",
                "kind": "nd",
                "params": {"lhs": ["grp"], "rhs": ["fk"], "weight": 2},
            },
        ],
    }
    p = tmp_path / "s.json"
    p.write_text(json.dumps(spec))
    rc = main(["--spec", str(p)])
    out = {json.loads(l)["check"]: json.loads(l) for l in capsys.readouterr().out.strip().splitlines()}
    assert out["fk_ind"]["holds"]  # fk in 0..9 subseteq pk 0..9
    assert out["nd_grp"]["holds"]  # each grp g_k maps to fks {k, k+5}: ND(2) holds
    assert rc == 0


def test_cli_round2_kinds_from_json(spark, tmp_path, capsys):
    """ac / nar / sfd kinds are drivable from a pure-JSON spec (ranges as
    nested lists, NAR conditions via the between/in dict forms)."""
    docs = spark.createDataFrame(
        [(f"doc_{i:04d}", float(i % 10), float((i % 10) * 2), "FGH"[i % 3])
         for i in range(60)],
        ["doc_id", "a", "b", "status"],
    )
    src = tmp_path / "flat.parquet"
    docs.write.parquet(str(src))
    spec = {
        "table": str(src),
        "num_partitions": 4,
        "checks": [
            {"name": "ac_b_minus_a", "kind": "ac",
             "params": {"lhs": "b", "rhs": "a", "binop": "-",
                        "ranges": [[0.0, 9.0]]}},
            {"name": "nar_status_a", "kind": "nar",
             "params": {"ante": {"status": {"in": ["F", "G"]}},
                        "cons": {"a": {"between": [0.0, 9.0]}},
                        "min_confidence": 1.0}},
            {"name": "sfd_a_b", "kind": "sfd",
             "params": {"col_a": "a", "col_b": "b", "expect": "sfd"}},
        ],
    }
    spec_path = tmp_path / "spec2.json"
    spec_path.write_text(json.dumps(spec))
    rc = main(["--spec", str(spec_path)])
    assert rc == 0
    out = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    by_name = {o["check"]: o for o in out}
    assert by_name["ac_b_minus_a"]["holds"]        # b - a = a in [0, 9]
    assert by_name["nar_status_a"]["holds"]        # cons always fits
    assert by_name["sfd_a_b"]["holds"]             # b = 2a exactly


def test_cli_flat_table_custom_id_column(spark, tmp_path, capsys):
    """A flat table whose row id is not named doc_id is drivable via the
    spec-level doc_id_col knob (the spark-submit path a TPC-H-shaped user hits)."""
    rows = spark.createDataFrame(
        [(1000 + i, "F" if i % 2 else "O", float(i) * 1.5) for i in range(40)],
        ["o_orderkey", "o_orderstatus", "o_totalprice"],
    )
    src = tmp_path / "orders_flat.parquet"
    rows.write.parquet(str(src))
    spec = {
        "table": str(src),
        "num_partitions": 4,
        "doc_id_col": "o_orderkey",
        "checks": [
            {"name": "ucc_orderkey", "kind": "ucc", "params": {"columns": ["doc_id"]}},
            {"name": "nar_prio", "kind": "nar",
             "params": {"ante": {"o_orderstatus": {"in": ["F"]}},
                        "cons": {"o_totalprice": {"between": [0.0, 1e9]}},
                        "min_confidence": 1.0}},
        ],
    }
    spec_path = tmp_path / "spec_flat.json"
    spec_path.write_text(json.dumps(spec))
    rc = main(["--spec", str(spec_path)])
    assert rc == 0
    out = {json.loads(l)["check"]: json.loads(l) for l in capsys.readouterr().out.strip().splitlines()}
    assert out["ucc_orderkey"]["holds"]
    assert out["nar_prio"]["holds"]


def test_cli_quarantine_routing(spark, tmp_path, capsys):
    """The spec's quarantine knob writes clean/quarantined parquet splits."""
    from pyspark.sql import types as T

    schema = T.StructType.fromDDL(
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )
    docs = spark.createDataFrame(
        [
            ("good", [("text", "a", None, 0)]),
            ("bad", [("text", None, None, 0)]),
        ],
        schema,
    )
    src = tmp_path / "docs.parquet"
    docs.write.parquet(str(src))
    spec = {
        "table": str(src),
        "num_partitions": 4,
        "quarantine": {"output": str(tmp_path / "gate")},
        "checks": [
            {"name": "si", "kind": "span_integrity", "params": {}},
        ],
    }
    spec_path = tmp_path / "spec.json"
    spec_path.write_text(json.dumps(spec))

    rc = main(["--spec", str(spec_path)])
    assert rc == 3  # the bad doc violates the span-integrity check
    out = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    gate = next(o["quarantine"] for o in out if "quarantine" in o)
    assert gate == {"clean": 1, "quarantined": 1}
    clean = spark.read.parquet(str(tmp_path / "gate" / "clean")).collect()
    assert [r.doc_id for r in clean] == ["good"]
    bad = spark.read.parquet(str(tmp_path / "gate" / "quarantined")).collect()
    assert [r.doc_id for r in bad] == ["bad"]
