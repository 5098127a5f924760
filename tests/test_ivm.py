"""Incremental view maintenance (``pipeline/ivm.MaterializedAggView``).

The invariant: after any refresh schedule (every batch, lazily once, or
resumed after a crash), the maintained aggregate equals a full GROUP BY
recompute over the state it claims to reflect — bit-for-bit, because the
test measures are integer-typed (float folds are order-sensitive and the
module docs say so).
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from mysql_cdc_spark.fixtures import generate_changelog, write_binlog_files
from mysql_cdc_spark.pipeline.ivm import MaterializedAggView
from mysql_cdc_spark.pipeline.replay import Replayer
from mysql_cdc_spark.pipeline.target import BucketedParquetMergeTarget

MEASURES = {"total_chars": "length(text)", "n_tools": "if(tool is null, 0, 1)"}


def _pdf(df) -> pd.DataFrame:
    return df.toPandas().sort_values("role").reset_index(drop=True)


@pytest.fixture(scope="module")
def binlog_dir(tmp_path_factory):
    txns = generate_changelog(
        n_conversations=30,
        max_turns=6,
        n_extra_ops=120,
        seed=23,
        duplicate_txns=3,
        evolve_after_frac=0.5,
    )
    outdir = str(tmp_path_factory.mktemp("binlog_ivm"))
    write_binlog_files(txns, outdir, txns_per_file=30)
    return outdir


def test_refresh_every_batch_equals_recompute(spark, binlog_dir, tmp_path):
    rep = Replayer(spark, binlog_dir, str(tmp_path / "store"))
    view = MaterializedAggView(str(tmp_path / "view"), ["role"], MEASURES)
    versions = []
    for f in rep.pending_files():
        rep.run_batch([f])
        v = rep.ledger.current_snapshot_version()
        view.refresh(spark, rep.target, v)
        versions.append(v)
    assert len(versions) >= 3
    got = _pdf(view.read(spark))
    want = _pdf(view.recompute(spark, rep.target, versions[-1]))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # integer measures: byte-equal, not approximately equal
    assert got["total_chars"].tolist() == want["total_chars"].tolist()
    assert got["n_rows"].tolist() == want["n_rows"].tolist()


def test_lazy_single_refresh_equals_per_batch(spark, binlog_dir, tmp_path):
    rep = Replayer(spark, binlog_dir, str(tmp_path / "store"))
    rep.replay(files_per_batch=1)
    v = rep.ledger.current_snapshot_version()
    view = MaterializedAggView(str(tmp_path / "view"), ["role"], MEASURES)
    view.refresh(spark, rep.target)  # one fold across every batch
    got = _pdf(view.read(spark))
    want = _pdf(view.recompute(spark, rep.target, v))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_refresh_is_idempotent_when_fresh(spark, binlog_dir, tmp_path):
    rep = Replayer(spark, binlog_dir, str(tmp_path / "store"))
    rep.replay()
    view = MaterializedAggView(str(tmp_path / "view"), ["role"], MEASURES)
    v1 = view.refresh(spark, rep.target)
    v2 = view.refresh(spark, rep.target)  # nothing new → no new version
    assert v2 == v1
    assert view._meta()["view_version"] == v1


def test_crash_orphan_is_overwritten(spark, binlog_dir, tmp_path):
    rep = Replayer(spark, binlog_dir, str(tmp_path / "store"))
    batches = rep.pending_files()
    rep.run_batch(batches[:2])
    view = MaterializedAggView(str(tmp_path / "view"), ["role"], MEASURES)
    view.refresh(spark, rep.target)
    # simulate a refresh that wrote data but crashed before meta commit
    orphan = view._data_path(view._meta()["view_version"] + 1)
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "garbage"), "w") as f:
        f.write("torn write")
    rep.run_batch(batches[2:])
    view.refresh(spark, rep.target)
    got = _pdf(view.read(spark))
    want = _pdf(
        view.recompute(spark, rep.target, rep.ledger.current_snapshot_version())
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_group_migration_is_exercised_and_correct(spark, binlog_dir, tmp_path):
    """The fixture's update ops rewrite ``role`` — an update must move its
    contribution between groups, not just adjust one."""
    rep = Replayer(spark, binlog_dir, str(tmp_path / "store"))
    rep.replay(files_per_batch=1)
    ids = [e.batch_id for e in rep.ledger.entries()]
    migrations = 0
    for b_from, b_to in zip(ids, ids[1:]):
        feed = rep.target.read_changes(
            spark,
            next(e.snapshot_version for e in rep.ledger.entries() if e.batch_id == b_from),
            next(e.snapshot_version for e in rep.ledger.entries() if e.batch_id == b_to),
            images="both",
        )
        migrations += feed.filter(
            (feed.change_type == "update") & ~feed.old_role.eqNullSafe(feed.new_role)
        ).count()
    assert migrations > 0, "fixture produced no cross-group updates"


def test_replayer_auto_refreshes_views(spark, binlog_dir, tmp_path):
    view = MaterializedAggView(str(tmp_path / "view"), ["role"], MEASURES)
    rep = Replayer(spark, binlog_dir, str(tmp_path / "store"), views=[view])
    rep.replay(files_per_batch=1)
    # the view was folded batch-by-batch as part of the pipeline
    assert view._meta()["target_version"] == rep.ledger.current_snapshot_version()
    got = _pdf(view.read(spark))
    want = _pdf(
        view.recompute(spark, rep.target, rep.ledger.current_snapshot_version())
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_bucketed_lookup_reads_one_bucket(spark, binlog_dir, tmp_path):
    rep = Replayer(
        spark,
        binlog_dir,
        str(tmp_path / "store"),
        target=BucketedParquetMergeTarget(str(tmp_path / "store"), buckets=64),
    )
    rep.replay()
    v = rep.ledger.current_snapshot_version()
    some = rep.read_state().select("conv_id", "turn_idx").limit(3).collect()
    keys = [{"conv_id": r["conv_id"], "turn_idx": r["turn_idx"]} for r in some]
    got = rep.target.lookup(spark, v, keys).toPandas()
    assert len(got) == len(keys)
    assert {(r["conv_id"], r["turn_idx"]) for r in some} == set(
        zip(got["conv_id"], got["turn_idx"])
    )
    # a missing key returns nothing (and still scans only its bucket)
    none = rep.target.lookup(
        spark, v, [{"conv_id": "no-such-conv", "turn_idx": 999}]
    )
    assert none.count() == 0
    assert rep.target.lookup(spark, v, []).count() == 0


def test_bucketed_target_view(spark, binlog_dir, tmp_path):
    rep = Replayer(
        spark,
        binlog_dir,
        str(tmp_path / "store"),
        target=BucketedParquetMergeTarget(str(tmp_path / "store"), buckets=32),
    )
    rep.replay(files_per_batch=1)
    view = MaterializedAggView(str(tmp_path / "view"), ["role"], MEASURES)
    view.refresh(spark, rep.target)
    got = _pdf(view.read(spark))
    want = _pdf(
        view.recompute(spark, rep.target, rep.ledger.current_snapshot_version())
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_snapshot_chunk_refreshes_registered_views(spark, binlog_dir, tmp_path):
    """An incremental-snapshot chunk commits like any maintenance batch: a
    registered view folds the chunk's rows at the chunk commit, not at
    the next stream batch."""
    from datetime import datetime

    view = MaterializedAggView(str(tmp_path / "view"), ["role"], MEASURES)
    rep = Replayer(spark, binlog_dir, str(tmp_path / "store"), views=[view])
    rep.run_batch(rep.pending_files()[:1])
    chunk = spark.createDataFrame(
        [(f"chunk-{i}", 0, "user", "backfilled", None, datetime(2024, 1, 1))
         for i in range(3)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    rep.snapshot_chunk(chunk, rep.backfill_watermark(), chunk_id=0)
    assert rep.ledger.last().metrics["backfill_rows"] == 3
    got = _pdf(view.read(spark))
    want = _pdf(
        view.recompute(spark, rep.target, rep.ledger.current_snapshot_version())
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
