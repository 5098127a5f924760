"""Micro-bench: copy-on-write vs merge-on-read MERGE in steady state.

The scale question the merge-on-read target answers: once buckets are
large, what does ONE small incremental batch cost to WRITE, and what does
the read-side fold cost before/after compaction? The copy-on-write
bucketed target pays O(touched-bucket data) per batch; the merge-on-read
target pays O(net change rows) per batch and defers the fold to reads,
bounded by ``compact``.

Protocol: build a base of BASE_ROWS keys through each target, apply ROUNDS
small net batches (BATCH_KEYS clustered updates each, byte-identical nets
for both targets), and report per-batch merge wall seconds; then time a
full read BEFORE compaction (fold over the whole chain — worst case), the
compaction itself, and a full read AFTER (fast-path base scan). Both
targets are asserted to end at identical row/edit counts.

Run: python tools/bench_mor_merge.py [BASE_ROWS] [BATCH_KEYS] [ROUNDS]
Prints one JSON line.
"""

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS
from mysql_cdc_spark.pipeline.mor import MergeOnReadBucketedTarget
from mysql_cdc_spark.pipeline.target import BucketedParquetMergeTarget
from mysql_cdc_spark.session import get_spark


def rows_for_ids(ids_df, text_prefix=""):
    """Deterministic transcript row per id (same formula for base and nets,
    so an update's after-image is reproducible without a join)."""
    return ids_df.select(
        F.concat(F.lit("conv-"), (F.col("id") / 16).cast("long").cast("string")).alias("conv_id"),
        (F.col("id") % 16).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(
            F.lit(text_prefix), F.lit("text-"), F.col("id").cast("string"),
            F.lit(" "), F.repeat(F.lit("x"), 180),
        ).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
    )


def as_net(df, op):
    return df.select(
        "conv_id", "turn_idx", F.lit(op).alias("op"),
        *[F.col(c).alias(f"after_{c}") for c, _, _ in TRANSCRIPTS.columns],
    )


def batch_ids(spark, n_rows, batch_keys, rnd):
    """Clustered key pick: each batch edits a contiguous window of ids —
    the realistic CDC shape (a batch touches a bounded set of active
    conversations), and the shape bucket pruning is designed for."""
    start = (rnd * 7919 * batch_keys) % n_rows
    return spark.range(batch_keys).select(
        ((F.col("id") + start) % n_rows).alias("id")
    )


def run(target, spark, n_rows, rounds, nets):
    v = target.merge(spark, as_net(rows_for_ids(spark.range(n_rows)), "insert"), 0)
    walls = []
    for rnd in range(rounds):
        t0 = time.time()
        v = target.merge(spark, nets[rnd], v)
        walls.append(time.time() - t0)
    return v, walls


def timed_count(df):
    t0 = time.time()
    n = df.count()
    return n, time.time() - t0


def main():
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    batch_keys = int(sys.argv[2]) if len(sys.argv) > 2 else 1_600
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("bench-mor-merge", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus) * 2)
    work = tempfile.mkdtemp(prefix="mor_bench_")
    nets = []
    for rnd in range(rounds):
        p = os.path.join(work, f"net_{rnd}")
        as_net(rows_for_ids(batch_ids(spark, n_rows, batch_keys, rnd),
                            text_prefix=f"edit-{rnd}-"), "update").write.parquet(p)
        nets.append(spark.read.parquet(p))

    buckets = 256
    out = {"base_rows": n_rows, "batch_keys": batch_keys, "rounds": rounds,
           "buckets": buckets, "bucket_cols": ["conv_id"], "cpus": int(cpus)}
    counts = {}

    cow = BucketedParquetMergeTarget(
        os.path.join(work, "cow"), TRANSCRIPTS, buckets=buckets,
        bucket_cols=("conv_id",),
    )
    v, walls = run(cow, spark, n_rows, rounds, nets)
    final = cow.read(spark, v)
    rows, read_s = timed_count(final)
    assert rows == n_rows, ("cow", rows)
    counts["cow"] = final.filter(F.col("text").startswith("edit-")).count()
    out["cow"] = {"per_batch_s": [round(w, 2) for w in walls],
                  "mean_batch_s": round(sum(walls) / len(walls), 2),
                  "full_read_s": round(read_s, 2),
                  "edited_rows": counts["cow"]}

    mor = MergeOnReadBucketedTarget(
        os.path.join(work, "mor"), TRANSCRIPTS, buckets=buckets,
        bucket_cols=("conv_id",),
    )
    v, walls = run(mor, spark, n_rows, rounds, nets)
    pre = mor.read(spark, v)
    rows, pre_read_s = timed_count(pre)
    assert rows == n_rows, ("mor", rows)
    counts["mor"] = pre.filter(F.col("text").startswith("edit-")).count()
    t0 = time.time()
    v2 = mor.compact(spark, v, min_deltas=1)
    compact_s = time.time() - t0
    post = mor.read(spark, v2)
    rows2, post_read_s = timed_count(post)
    assert rows2 == n_rows, ("mor-post-compact", rows2)
    out["mor"] = {"per_batch_s": [round(w, 2) for w in walls],
                  "mean_batch_s": round(sum(walls) / len(walls), 2),
                  "full_read_pre_compact_s": round(pre_read_s, 2),
                  "compact_s": round(compact_s, 2),
                  "full_read_post_compact_s": round(post_read_s, 2),
                  "edited_rows": counts["mor"]}
    assert counts["cow"] == counts["mor"], counts
    a, b = out["cow"]["mean_batch_s"], out["mor"]["mean_batch_s"]
    out["merge_speedup"] = round(a / b, 2) if b else None
    print(json.dumps(out))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
