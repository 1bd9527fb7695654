"""Continuous validation over a document stream — the dynamic-verifier loop
(reference: DynamicFDVerifier) lifted onto Structured Streaming.

Each micro-batch of arriving docs is merged into the incremental UCC state;
per-batch verdicts for the touched partitions stream out, and the final state
answers global verdicts at any time. Uses a file source + availableNow trigger
so the demo is self-contained; swap in Kafka/rate sources unchanged.

Run:  python examples/streaming_validation.py
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import pyspark_validator as pv
from pyspark_validator.incremental import IncrementalUCC
from pyspark_validator.streaming import attach_incremental, streaming_violation_counts

spark = pv.get_spark(app_name="stream-validate", master="local[4]", shuffle_partitions=8)

src = tempfile.mkdtemp(prefix="stream_src_")
state = tempfile.mkdtemp(prefix="stream_state_")
ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")

# batch 1: clean docs; batch 2: re-sends doc_0007 (a duplicate) + new docs
spark.createDataFrame(
    [(f"doc_{i:04d}",) for i in range(100)], ["doc_id"]
).write.parquet(os.path.join(src, "b0.parquet"))
spark.createDataFrame(
    [("doc_0007",), ("doc_0100",), ("doc_0101",)], ["doc_id"]
).write.parquet(os.path.join(src, "b1.parquet"))

stream = spark.readStream.schema("doc_id string").parquet(src + "/*")
engine = IncrementalUCC(spark, state, ["doc_id"], num_partitions=16)

def on_batch(verdicts, batch_id):
    bad = verdicts.filter(~F.col("holds")).count()
    print(f"batch {batch_id}: {verdicts.count()} partitions touched, {bad} violated")

q = (
    attach_incremental(stream, engine, ckpt, on_batch_verdicts=on_batch)
    .trigger(availableNow=True)
    .start()
)
q.awaitTermination(300)

total = engine.verdicts().agg(
    F.sum("n_rows").alias("rows"), F.sum("n_violating_clusters").alias("viol")
).collect()[0]
print(f"final state: {total.rows} docs validated, {total.viol} duplicate cluster(s)")
print("violating partitions:")
engine.verdicts().filter(~F.col("holds")).show()

# ---- a whole SUITE of agg-shaped checks live on the same stream ------------
# (fused engine: one delta-sized agg per micro-batch maintains k checks;
# a periodic compact() folds the state's batch-per-micro-batch log into one
# base)
from pyspark_validator.fused import FusedPass, IncrementalFused
from pyspark_validator.streaming import attach_incremental_fused

docs = spark.createDataFrame([("seed", 1.0)], ["doc_id", "score"]).limit(0)
fp = (
    FusedPass(docs, num_partitions=16, partition_key="doc_id")
    .add_completeness("score_nonnull", "score")
    .add_numeric_profile("score_profile", "score")
    .add_distinct("doc_id_uniq", "doc_id", min_ratio=0.95)
)
spark.createDataFrame(
    [(f"doc_{i:04d}", float(i % 7)) for i in range(80)], ["doc_id", "score"]
).write.parquet(os.path.join(src := tempfile.mkdtemp(prefix="fstream_"), "b0.parquet"))
spark.createDataFrame(
    [("doc_0007", 3.0), ("doc_0100", None)], ["doc_id", "score"]
).write.parquet(os.path.join(src, "b1.parquet"))

feng = IncrementalFused(fp, tempfile.mkdtemp(prefix="fstate_"))
fq = (
    attach_incremental_fused(
        spark.readStream.schema("doc_id string, score double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*"),
        feng,
        tempfile.mkdtemp(prefix="fckpt_"),
        on_batch_verdicts=lambda vs, bid: print(
            f"fused batch {bid}: "
            + ", ".join(f"{n}={v.count()}p" for n, v in vs.items())
        ),
    )
    .trigger(availableNow=True)
    .start()
)
fq.awaitTermination(300)
feng.compact()  # one base; the superseded batches are deleted
print("fused final (uniqueness gate at 0.95):")
feng.verdict("doc_id_uniq").orderBy("partition_id").show(4)

# --- windowed drift against a frozen baseline histogram --------------------
# freeze once (batch), monitor forever (stream): the per-window state is one
# row of num_bins+2 counters, never raw values.
from pyspark.sql import functions as F

from pyspark_validator.checks.drift import numeric_baseline
from pyspark_validator.streaming import streaming_numeric_drift

hist_src = tempfile.mkdtemp(prefix="drift_src_")
base_df = spark.createDataFrame([(float(i % 10),) for i in range(500)], ["score"])
baseline = numeric_baseline(base_df, "score", num_bins=10)
rows = [("2026-01-01 00:00:%02d" % (i % 60), float(i % 10)) for i in range(120)]
rows += [("2026-01-01 00:01:%02d" % (i % 60), 9.0) for i in range(120)]  # collapsed
spark.createDataFrame(rows, ["ts_s", "score"]).select(
    F.col("ts_s").cast("timestamp").alias("ts"), "score"
).write.parquet(os.path.join(hist_src, "p.parquet"))
dq = (
    streaming_numeric_drift(
        spark.readStream.schema("ts timestamp, score double").parquet(hist_src + "/*"),
        "score",
        "ts",
        baseline,
        "1 minute",
    )
    .writeStream.format("memory")
    .queryName("drift_demo")
    .outputMode("complete")
    .trigger(availableNow=True)
    .start()
)
dq.awaitTermination(300)
print("windowed drift vs frozen baseline (second window collapsed to 9.0):")
spark.sql(
    "SELECT window_start, n_c, round(psi, 3) AS psi, round(ks_stat, 3) AS ks,"
    " drift_detected FROM drift_demo ORDER BY window_start"
).show(truncate=False)

spark.stop()
