"""Micro-bench: ordered copy-on-write vs ordered merge-on-read — the
streaming apply tier's per-trigger cost at steady state.

Same protocol as bench_mor_merge.py (base of BASE_ROWS keys, ROUNDS
small clustered update batches, byte-identical nets, final-state
equality asserted) with the ORDER-AWARE sinks: nets carry the
(gtid_seq, pos, row_in_event) order tuple, the CoW sink resolves the
outrank guard at write (touched-bucket rewrite per trigger), the MoR
sink appends deltas and resolves at read.

Run: python tools/bench_ordered_mor.py [BASE_ROWS] [BATCH_KEYS] [ROUNDS]
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

from bench_mor_merge import batch_ids, rows_for_ids
from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS
from mysql_cdc_spark.pipeline.mor import OrderedMergeOnReadTarget
from mysql_cdc_spark.pipeline.target import OrderedBucketedMergeTarget
from mysql_cdc_spark.session import get_spark


def as_ordered_net(df, op, seq_base):
    """Net rows with an order tuple: gtid_seq = seq_base + id so later
    rounds outrank earlier ones (the in-order steady-state shape)."""
    return df.select(
        "conv_id", "turn_idx", F.lit(op).alias("op"),
        *[F.col(c).alias(f"after_{c}") for c, _, _ in TRANSCRIPTS.columns],
    ).withColumns({
        "gtid_seq": F.lit(seq_base) + F.monotonically_increasing_id() % 1_000_000,
        "pos": F.lit(4),
        "row_in_event": F.lit(0),
    })


def run(target, spark, n_rows, rounds, nets):
    v = target.merge(
        spark, as_ordered_net(rows_for_ids(spark.range(n_rows)), "insert", 0), 0
    )
    walls = []
    for rnd in range(rounds):
        t0 = time.time()
        v = target.merge(spark, nets[rnd], v)
        walls.append(time.time() - t0)
    return v, walls


def main():
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    batch_keys = int(sys.argv[2]) if len(sys.argv) > 2 else 1_600
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("bench-ordered-mor", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus) * 2)
    work = tempfile.mkdtemp(prefix="omor_bench_")
    nets = []
    for rnd in range(rounds):
        p = os.path.join(work, f"net_{rnd}")
        as_ordered_net(
            rows_for_ids(batch_ids(spark, n_rows, batch_keys, rnd),
                         text_prefix=f"edit-{rnd}-"),
            "update", (rnd + 1) * 10_000_000,
        ).write.parquet(p)
        nets.append(spark.read.parquet(p))

    buckets = 256
    out = {"base_rows": n_rows, "batch_keys": batch_keys, "rounds": rounds,
           "buckets": buckets, "bucket_cols": ["conv_id"], "cpus": int(cpus)}
    counts = {}

    cow = OrderedBucketedMergeTarget(
        os.path.join(work, "cow"), TRANSCRIPTS, buckets=buckets,
        bucket_cols=("conv_id",),
    )
    v, walls = run(cow, spark, n_rows, rounds, nets)
    final = cow.read(spark, v)
    rows = final.count()
    assert rows == n_rows, ("ordered-cow", rows)
    counts["cow"] = final.filter(F.col("text").startswith("edit-")).count()
    out["ordered_cow"] = {"per_batch_s": [round(w, 2) for w in walls],
                          "mean_batch_s": round(sum(walls) / len(walls), 2)}

    mor = OrderedMergeOnReadTarget(
        os.path.join(work, "mor"), TRANSCRIPTS, buckets=buckets,
        bucket_cols=("conv_id",),
    )
    v, walls = run(mor, spark, n_rows, rounds, nets)
    t0 = time.time()
    pre = mor.read(spark, v)
    rows = pre.count()
    pre_read_s = time.time() - t0
    assert rows == n_rows, ("ordered-mor", rows)
    counts["mor"] = pre.filter(F.col("text").startswith("edit-")).count()
    t0 = time.time()
    v2 = mor.compact(spark, v, min_deltas=1)
    compact_s = time.time() - t0
    t0 = time.time()
    post_rows = mor.read(spark, v2).count()
    post_read_s = time.time() - t0
    assert post_rows == n_rows
    out["ordered_mor"] = {"per_batch_s": [round(w, 2) for w in walls],
                          "mean_batch_s": round(sum(walls) / len(walls), 2),
                          "full_read_pre_compact_s": round(pre_read_s, 2),
                          "compact_s": round(compact_s, 2),
                          "full_read_post_compact_s": round(post_read_s, 2)}
    assert counts["cow"] == counts["mor"], counts
    a = out["ordered_cow"]["mean_batch_s"]
    b = out["ordered_mor"]["mean_batch_s"]
    out["merge_speedup"] = round(a / b, 2) if b else None
    print(json.dumps(out))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
