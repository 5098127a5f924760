"""Micro-bench: merge-on-read READ cost vs delta-chain length.

The read-amplification question behind the auto-compact default
(mor.DEFAULT_AUTO_COMPACT): ``read`` folds base ∪ deltas per key at
EVERY read, so an unmaintained store's read latency grows with the
chain. This bench builds a base of BASE_ROWS keys, then appends CHAIN
small delta batches (BATCH_KEYS clustered updates each), timing a full
``read(...).count()`` at several chain lengths — once with compaction
disabled (the unbounded worst case) and once replaying the same batches
with the default auto-compact policy applied at the target level (fold
whenever any bucket's chain reaches the threshold), which is what the
batch ``Replayer`` / streaming apply tier now do unless opted out.

Run: python tools/bench_mor_chain.py [BASE_ROWS] [BATCH_KEYS] [CHAIN]
Prints one JSON line: read seconds per sampled chain length, plus the
bounded run's numbers at the same write counts.
"""

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench_mor_merge import as_net, batch_ids, rows_for_ids
from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS
from mysql_cdc_spark.pipeline.mor import (
    DEFAULT_AUTO_COMPACT,
    MergeOnReadBucketedTarget,
)
from mysql_cdc_spark.session import get_spark


def timed_read(target, spark, version):
    t0 = time.time()
    n = target.read(spark, version).count()
    return time.time() - t0, n


def main():
    base_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    batch_keys = int(sys.argv[2]) if len(sys.argv) > 2 else 500
    chain = int(sys.argv[3]) if len(sys.argv) > 3 else 64
    spark = get_spark("bench_mor_chain")
    samples = sorted({1, 4, 8, 16, 32, chain} & set(range(1, chain + 1)))

    out = {"base_rows": base_rows, "batch_keys": batch_keys}

    for mode in ("unbounded", "auto_compact"):
        work = tempfile.mkdtemp(prefix=f"mor_chain_{mode}_")
        tgt = MergeOnReadBucketedTarget(work, TRANSCRIPTS, buckets=32)
        v = tgt.merge(
            spark, as_net(rows_for_ids(spark.range(base_rows)), "insert"), 0
        )
        reads = {}
        max_chain_seen = 0
        for i in range(1, chain + 1):
            ids = batch_ids(spark, base_rows, batch_keys, i)
            v = tgt.merge(spark, as_net(rows_for_ids(ids), "update"), v)
            if mode == "auto_compact":
                stats = tgt.delta_stats(v)
                if any(n >= DEFAULT_AUTO_COMPACT for n in stats.values()):
                    v = tgt.compact(spark, v, min_deltas=DEFAULT_AUTO_COMPACT)
            stats = tgt.delta_stats(v)
            max_chain_seen = max(max_chain_seen, max(stats.values(), default=0))
            if i in samples:
                sec, n = timed_read(tgt, spark, v)
                assert n == base_rows
                reads[i] = round(sec, 3)
        out[mode] = {"read_sec_at_chain": reads, "max_chain": max_chain_seen}
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
