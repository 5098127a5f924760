"""Snapshot-then-stream bootstrap (Replayer.bootstrap): seed the target
from a consistent base-table snapshot at a known position, then catch up
from the binlog — the initial-load half the reference leaves to user code
(README.md:61). Equality bar: bootstrap-at-P + replay-after-P must land on
the exact final state of a full from-scratch replay."""

from __future__ import annotations

import pytest

from mysql_cdc_spark.fixtures import generate_changelog, write_binlog_files
from mysql_cdc_spark.pipeline.replay import Replayer
from mysql_cdc_spark.pipeline.start import FromGtid, FromPosition
from mysql_cdc_spark.pipeline.target import OrderedBucketedMergeTarget


@pytest.fixture(scope="module")
def stream(tmp_path_factory):
    # duplicate_txns: redelivered old transactions at later positions —
    # the case that forces bootstrap to seed covered GTIDs, not just the
    # file position (a position predicate cannot drop them)
    txns = generate_changelog(
        n_conversations=20, max_turns=5, n_extra_ops=60, seed=31,
        duplicate_txns=4, evolve_after_frac=0.5,
    )
    outdir = str(tmp_path_factory.mktemp("binlog"))
    write_binlog_files(txns, outdir, txns_per_file=15)
    return txns, outdir


@pytest.fixture(scope="module")
def full_state(spark, stream, tmp_path_factory):
    """Final table state of a plain full replay — the equality oracle."""
    _, outdir = stream
    rep = Replayer(spark, outdir, str(tmp_path_factory.mktemp("full")))
    rep.replay(files_per_batch=1)
    return rep.read_state().orderBy("conv_id", "turn_idx").toPandas()


@pytest.fixture(scope="module")
def half(spark, stream, tmp_path_factory):
    """Replay only the first half of the segments — its state is the
    'consistent snapshot' and its ledger the snapshot position."""
    _, outdir = stream
    rep = Replayer(spark, outdir, str(tmp_path_factory.mktemp("half")))
    files = rep.pending_files()
    k = max(1, len(files) // 2)
    assert k < len(files), "fixture must span multiple segments"
    rep.run_batch(files[:k])
    entry = rep.ledger.last()
    base = rep.read_state().toPandas()
    return base, entry


def _state(rep):
    return rep.read_state().orderBy("conv_id", "turn_idx").toPandas()


def test_bootstrap_from_position_matches_full_replay(
    spark, stream, half, full_state, tmp_path
):
    _, outdir = stream
    base_pd, entry = half
    rep = Replayer(spark, outdir, str(tmp_path / "s"))
    version = rep.bootstrap(
        spark.createDataFrame(base_pd),
        at=FromPosition(entry.max_file, entry.max_pos),
    )
    assert version == 1
    # seeded state == the snapshot, before any replay
    seeded = _state(rep)
    assert len(seeded) == len(base_pd)
    # catch-up replay applies exactly the post-snapshot suffix
    res = rep.replay(files_per_batch=1)
    assert res.events > 0
    got = _state(rep)
    assert got.reset_index(drop=True).equals(full_state.reset_index(drop=True))


def test_bootstrap_from_gtid_overlap_is_idempotent(
    spark, stream, half, full_state, tmp_path
):
    """FromGtid carries no file position, so every segment is re-read and
    the covered first half is dropped by the GTID anti-join — the overlap
    path a re-dumped binlog directory exercises."""
    _, outdir = stream
    base_pd, entry = half
    rep = Replayer(spark, outdir, str(tmp_path / "s"))
    rep.bootstrap(spark.createDataFrame(base_pd), at=FromGtid(entry.gtid_set_text))
    rep.replay(files_per_batch=1)
    got = _state(rep)
    assert got.reset_index(drop=True).equals(full_state.reset_index(drop=True))


def test_bootstrap_ordered_target(spark, stream, half, full_state, tmp_path):
    """Order-aware target: bootstrap rows carry order tuple 0, so every
    real event outranks them and the catch-up lands on the same state."""
    _, outdir = stream
    base_pd, entry = half
    store = str(tmp_path / "s")
    rep = Replayer(
        spark, outdir, store, target=OrderedBucketedMergeTarget(store, buckets=2)
    )
    rep.bootstrap(
        spark.createDataFrame(base_pd),
        at=FromPosition(entry.max_file, entry.max_pos),
    )
    rep.replay(files_per_batch=1)
    got = _state(rep)
    assert got.reset_index(drop=True).equals(full_state.reset_index(drop=True))


def test_bootstrap_requires_fresh_store(spark, stream, half, tmp_path):
    _, outdir = stream
    base_pd, entry = half
    rep = Replayer(spark, outdir, str(tmp_path / "s"))
    rep.bootstrap(
        spark.createDataFrame(base_pd),
        at=FromPosition(entry.max_file, entry.max_pos),
    )
    with pytest.raises(ValueError, match="fresh store"):
        rep.bootstrap(
            spark.createDataFrame(base_pd),
            at=FromPosition(entry.max_file, entry.max_pos),
        )


def test_bootstrap_ledger_metrics(spark, stream, half, tmp_path):
    _, outdir = stream
    base_pd, entry = half
    rep = Replayer(spark, outdir, str(tmp_path / "s"))
    rep.bootstrap(
        spark.createDataFrame(base_pd),
        at=FromPosition(entry.max_file, entry.max_pos),
    )
    e = rep.ledger.last()
    assert e.batch_id == 0
    assert e.snapshot_version == 1
    assert e.max_file == entry.max_file and e.max_pos == entry.max_pos
    assert e.metrics["bootstrap_rows"] == len(base_pd)
    assert e.metrics["start_strategy"] == "FromPosition"


def test_time_travel_reads(spark, stream, tmp_path):
    """read_state(version) / state_at_batch(b): every ledger commit point
    stays readable while its snapshot is retained."""
    _, outdir = stream
    rep = Replayer(spark, outdir, str(tmp_path / "s"))
    res = rep.replay(files_per_batch=1)
    n_batches = len(res.batches)
    assert n_batches >= 2
    counts = [
        rep.state_at_batch(e.batch_id).count() for e in rep.ledger.entries()
    ]
    # states at successive commits are monotone non-shrinking here only in
    # event coverage, not necessarily rows (deletes) — but the LAST one
    # must equal the current state, and version-1 must differ from it
    assert rep.state_at_batch(rep.ledger.last().batch_id).count() == (
        rep.read_state().count()
    )
    assert rep.read_state(version=1).count() == counts[0]
    with pytest.raises(KeyError):
        rep.state_at_batch(10_000)
