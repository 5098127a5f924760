"""Decode tasks: segments packed by size into one task per core, fed from
the JVM.

Pins (a) the packing rule (every segment once, at most ``k`` tasks,
largest segments first, rotation order inside a task), (b) the plan
shape — a Range source, no Python RDD stage, ``min(segments, cores)``
tasks — (c) that a packed decode yields the rows and ``SegmentStats``
of a one-task-per-segment decode, and (d) that a decode task on the
vectorized path never imports pandas.
"""

from __future__ import annotations

import os
import random
import subprocess
import sys
import textwrap

import pandas as pd

from mysql_cdc_spark.binlog.decoder import (
    SegmentStats,
    _segment_sort_key,
    decode_binlog_dir,
    pack_segments,
)
from mysql_cdc_spark.fixtures import generate_changelog, write_binlog_files
from mysql_cdc_spark.pipeline.replay import Replayer


def _key(path):
    return _segment_sort_key(os.path.basename(path))


def test_pack_segments():
    rng = random.Random(7)
    # digit rollover (999999 -> 1000000) and empty segments included
    names = [f"/b/mysql-bin.{i}" for i in range(999990, 1000010)]
    sizes = {p: rng.choice([0, 1, 10, 1000, 5000]) for p in names}
    for k in (1, 3, 7, len(names)):
        bins = pack_segments(sizes, k)
        assert sorted(p for b in bins for p in b) == sorted(names)
        assert len(bins) == k and all(bins)
        for b in bins:
            assert b == sorted(b, key=_key)
        loads = [sum(sizes[p] for p in b) for b in bins]
        assert loads == sorted(loads, reverse=True)
        # largest first: the k largest segments land in distinct tasks
        largest = sorted(names, key=lambda p: -sizes[p])[:k]
        assert len({i for i, b in enumerate(bins) for p in largest if p in b}) == k
        # longest-processing-time bound
        assert loads[0] <= sum(sizes.values()) / k + max(sizes.values())
    assert pack_segments({}, 0) == []


def _binlog(tmp_path, n_files):
    txns = generate_changelog(
        n_conversations=24, max_turns=4, n_extra_ops=60, seed=13,
        duplicate_txns=3,
    )
    outdir = str(tmp_path / "binlog")
    write_binlog_files(txns, outdir, txns_per_file=max(1, len(txns) // n_files))
    return outdir


def test_decode_plan_is_fed_from_the_jvm(spark, tmp_path):
    """No ``ExistingRDD`` (a parallelized Python list) feeds the decode,
    and one decode job runs ``min(segments, cores)`` tasks."""
    outdir = _binlog(tmp_path, 8)
    names = sorted(os.listdir(outdir), key=_segment_sort_key)
    cores = spark.sparkContext.defaultParallelism
    assert len(names) > cores
    sc = spark.sparkContext
    for glob, n in ((None, len(names)), ("{%s,%s}" % tuple(names[:2]), 2)):
        df = decode_binlog_dir(spark, outdir, path_filter=glob)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan and "Range" in plan
        group = f"decode-{n}"
        sc.setJobGroup(group, group)
        try:
            df.write.format("noop").mode("overwrite").save()
            tasks = [
                sc.statusTracker().getStageInfo(s).numTasks
                for j in sc.statusTracker().getJobIdsForGroup(group)
                for s in sc.statusTracker().getJobInfo(j).stageIds
            ]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert tasks == [min(n, cores)]


def test_packed_decode_matches_one_task_per_segment(spark, tmp_path):
    """More segments than cores, under a mid-stream resume: the packed
    decode keeps the rows and reports the ledger facts that decoding each
    segment in its own task does."""
    outdir = _binlog(tmp_path, 8)
    rep = Replayer(spark, outdir, str(tmp_path / "store"))
    files = rep.pending_files()
    rep.run_batch(files[:3])
    covered = rep.ledger.covered_gtid_set().to_intervals()
    max_file, max_pos = rep.ledger.resume_position()
    acc = SegmentStats.accumulator(spark)
    order = ["src_file", "pos", "row_in_event"]

    def decode(path_filter, names):
        stats = SegmentStats(acc, covered, max_file, max_pos)
        rows = decode_binlog_dir(
            spark, outdir, before_values="keys", path_filter=path_filter,
            stats=stats,
        ).toPandas()
        return rows, stats.collect(names)

    packed, packed_stats = decode(None, files)
    one = [decode(f, [f]) for f in files]
    single = pd.concat([r for r, _ in one], ignore_index=True)
    assert len(files) > spark.sparkContext.defaultParallelism
    # the resume position drops every row of the segments before it
    assert len(packed) > 0 and not packed["src_file"].isin(files[:2]).any()
    pd.testing.assert_frame_equal(
        packed.sort_values(order, ignore_index=True),
        single.sort_values(order, ignore_index=True),
    )
    assert packed_stats == (
        [r for _, s in one for r in s[0]],
        [t for _, s in one for t in s[1]],
        {k: v for _, s in one for k, v in s[2].items()},
    )


def test_decode_task_never_imports_pandas(tmp_path):
    """What a decode worker runs on a UTF-8 segment, in a fresh
    interpreter: the decoder modules, ``segment_decoder`` and
    ``SegmentStats.applied``. None of it loads pandas, so a Python worker
    on the vectorized path holds only numpy and pyarrow."""
    outdir = _binlog(tmp_path, 2)
    path = os.path.join(outdir, sorted(os.listdir(outdir), key=_segment_sort_key)[0])
    probe = textwrap.dedent(f"""
        import os, sys
        from mysql_cdc_spark.binlog import decoder, vector
        from mysql_cdc_spark.binlog.decoder import (
            TRANSCRIPTS, SegmentStats, segment_decoder,
        )

        class Acc:  # the accumulator's executor-side surface
            value = {{}}

            def add(self, v):
                self.value.update(v)

        path = {path!r}
        name = os.path.basename(path)
        content = open(path, "rb").read()
        batches, scalar = segment_decoder(TRANSCRIPTS)(name, content)
        stats = SegmentStats(Acc(), [], "", 0)
        rows = sum(len(b) for b in stats.applied(
            name, content, batches, TRANSCRIPTS, scalar))
        assert not scalar and rows > 0, (scalar, rows)
        assert stats.acc.value[name][0], "no ledger facts reported"
        print("pandas" in sys.modules)
    """)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root}
    out = subprocess.run(
        [sys.executable, "-c", probe], env=env, capture_output=True,
        text=True, check=True,
    )
    assert out.stdout.strip() == "False"

