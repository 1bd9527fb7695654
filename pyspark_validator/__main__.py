"""spark-submit entry point: run a validation suite from a JSON spec.

Cluster usage (north rule: spark-submit --py-files on a multi-executor cluster):

    cd /path/to/repo && zip -r /tmp/pyspark_validator.zip pyspark_validator
    spark-submit --py-files /tmp/pyspark_validator.zip \
        --conf spark.sql.shuffle.partitions=2048 \
        run_suite.py --spec suite.json          # run_suite.py = this module's body

or locally:  python -m pyspark_validator --spec suite.json

Spec format (JSON):
{
  "table": "/path/to/docs.parquet",      # or an Iceberg table ref via "format"
  "format": "parquet",                   # "parquet" | "iceberg"
  "num_partitions": 256,
  "checkpoint_path": "/path/to/manifest",  # optional -> resume support
  "snapshot_id": "snap-001",
  "output": "/path/to/verdicts",           # verdict parquet dir (optional)
  "quarantine": {"output": "/path"},       # optional: route docs by span
                                           # integrity -> <output>/clean + /quarantined
                                           # parquet (schema.quarantine_by_integrity);
                                           # optional "kinds": ["text", ...]
  "checks": [
    {"name": "ucc_doc_id", "kind": "ucc", "params": {"columns": ["doc_id"]}},
    {"name": "fd_doc_spans", "kind": "fd",
     "params": {"lhs": ["doc_id"], "rhs": ["span_seq"]}}
  ]
}

Check kinds (runner.KINDS):
  per partition: ucc fd ind ac anon custom (python callable, API only), and
    the aggregation-shaped row_predicate completeness numeric_profile
    histogram_drift distinct type_conformance span_integrity pii_budget
    benford class_balance token_budget media_context interleaved_quality,
    which share one scan (fused.py) together with an ac check that has
    "ranges" and the default "partition_key" doc_id;
  whole table (one verdict, partition 0): nd sfd nar mfd sd md assoc
    reconcile precedence interval_overlap outlier, schema (metadata-only
    expected-vs-actual StructType diff, params = SchemaSpec.from_dict form)
    and sketch_profile (HLL+CMS+KLL per column in one native aggregation;
    params = {"columns": [...], "p": optional HLL lgConfigK (default 12),
    "store_path": optional SketchStore dir}).

Each check prints one JSON line; "partitions" counts the verdicts computed in
this run. With a checkpoint_path, "violated_partitions", "holds" and the exit
code (3 on any violation) come from every verdict recorded for the snapshot,
so a rerun that recomputes nothing still fails a violated gate, and leaves
the "output" verdicts of a check it skipped as the earlier run wrote them.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark_validator.runner import CheckSpec, ValidationSuite
from pyspark_validator.session import get_spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="pyspark_validator")
    ap.add_argument("--spec", required=True, help="path to the JSON suite spec")
    ap.add_argument(
        "--master", default=None, help="override master (default: spark-submit's)"
    )
    args = ap.parse_args(argv)

    with open(args.spec) as f:
        spec = json.load(f)

    spark = get_spark(app_name="pyspark-validator-suite", master=args.master)
    reader = spark.read
    if spec.get("format", "parquet") == "iceberg":
        docs = spark.table(spec["table"])
    else:
        docs = reader.parquet(spec["table"])

    suite = ValidationSuite(
        spark,
        docs,
        num_partitions=int(spec.get("num_partitions", 64)),
        checkpoint_path=spec.get("checkpoint_path"),
        snapshot_id=spec.get("snapshot_id", "snapshot-0"),
        # flat tables name their row id here (docs tables default to doc_id)
        doc_id_col=spec.get("doc_id_col", "doc_id"),
        spans_col=spec.get("spans_col", "spans"),
    )
    checks = [
        CheckSpec(name=c["name"], kind=c["kind"], params=c.get("params", {}))
        for c in spec["checks"]
    ]
    results = suite.run(checks)
    # with a checkpoint, the gate is every verdict recorded for the snapshot,
    # not just the partitions this run computed: a retried job that resumes
    # past a violated partition must still fail
    statuses = (
        suite.ckpt.recorded(suite.snapshot_id, list(results))
        if suite.ckpt is not None
        else None
    )
    exit_code = 0
    for name, verdicts in results.items():
        rows = verdicts.collect()
        if statuses is None:
            n_viol = sum(0 if r.holds else 1 for r in rows)
        else:
            n_viol = sum(s == "violated" for s in statuses.get(name, {}).values())
        print(
            json.dumps(
                {
                    "check": name,
                    # computed in this run
                    "partitions": len(rows),
                    "violated_partitions": n_viol,
                    "holds": n_viol == 0,
                }
            )
        )
        if n_viol:
            exit_code = 3
        # a check that computed nothing keeps the previous run's output
        if spec.get("output") and (rows or statuses is None):
            verdicts.write.mode("overwrite").parquet(f"{spec['output']}/{name}")
    q = spec.get("quarantine")
    if q:
        from pyspark_validator.schema import quarantine_by_integrity

        kw = {"spans_col": spec.get("spans_col", "spans")}
        if q.get("kinds"):
            kw["kinds"] = tuple(q["kinds"])
        clean, bad = quarantine_by_integrity(docs, **kw)
        clean.write.mode("overwrite").parquet(f"{q['output']}/clean")
        bad.write.mode("overwrite").parquet(f"{q['output']}/quarantined")
        n_clean = spark.read.parquet(f"{q['output']}/clean").count()
        n_bad = spark.read.parquet(f"{q['output']}/quarantined").count()
        print(json.dumps({"quarantine": {"clean": n_clean, "quarantined": n_bad}}))
    suite.unpersist()
    return exit_code


if __name__ == "__main__":
    sys.exit(main())
