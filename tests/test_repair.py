"""Checksum-localized repair (Replayer.checksum / Replayer.repair):
drift detection via portable digests, minimal-net reconciliation, and
ledger/commit semantics."""

import pandas as pd
import pytest

from mysql_cdc_spark.fixtures import (
    apply_changelog_oracle,
    generate_changelog,
    write_binlog_files,
)
from mysql_cdc_spark.pipeline.integrity import chunked_checksum, diff_chunks
from mysql_cdc_spark.pipeline.replay import Replayer

COLS = ["conv_id", "turn_idx", "role", "text", "ts", "tool"]
N_CHUNKS = 8


@pytest.fixture(scope="module")
def rig(spark, tmp_path_factory):
    work = tmp_path_factory.mktemp("repair")
    txns = generate_changelog(
        n_conversations=12, n_extra_ops=30, seed=23, duplicate_txns=2
    )
    write_binlog_files(txns, str(work / "binlog"), txns_per_file=20)
    rep = Replayer(spark, str(work / "binlog"), str(work / "store"))
    rep.replay()
    oracle = apply_changelog_oracle(txns)
    return rep, oracle


def _truth_df(spark, oracle_pdf):
    pdf = oracle_pdf.copy()
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="ms", utc=True).dt.tz_localize(None)
    return spark.createDataFrame(pdf[COLS])


def test_checksum_matches_independent_oracle(spark, rig):
    rep, oracle = rig
    truth = _truth_df(spark, oracle)
    a = rep.checksum(n_chunks=N_CHUNKS).toPandas().sort_values("chunk_id")
    spec_cols = [c for c, _, _ in rep.target.spec.columns]
    b = (
        chunked_checksum(truth, "conv_id", spec_cols, N_CHUNKS)
        .toPandas()
        .sort_values("chunk_id")
    )
    pd.testing.assert_frame_equal(
        a.reset_index(drop=True), b.reset_index(drop=True)
    )


def test_repair_reconciles_only_drifted_chunks(spark, rig):
    rep, oracle = rig
    spec_cols = [c for c, _, _ in rep.target.spec.columns]
    # drift the TRUTH away from the store: one mutated text, one extra
    # row, one removed row — the store must be repaired to match it
    drifted = oracle.copy()
    drifted.loc[drifted.index[5], "text"] = "corrected upstream"
    extra = drifted.iloc[[1]].copy()
    extra["turn_idx"] = 9_999
    drifted = pd.concat([drifted.iloc[1:], extra], ignore_index=True)
    truth = _truth_df(spark, drifted)

    store_digest = rep.checksum(n_chunks=N_CHUNKS)
    truth_digest = chunked_checksum(truth, "conv_id", spec_cols, N_CHUNKS)
    bad = diff_chunks(store_digest, truth_digest)
    bad_ids = [r["chunk_id"] for r in bad.collect()]
    assert 0 < len(bad_ids) < N_CHUNKS  # drift localized, not global

    v0 = rep.ledger.current_snapshot_version()
    v1 = rep.repair(truth, chunk_ids=bad_ids, n_chunks=N_CHUNKS)
    assert v1 == v0 + 1

    # store now equals truth everywhere (drifted chunks fixed, others kept)
    after = rep.checksum(n_chunks=N_CHUNKS)
    assert diff_chunks(after, truth_digest).count() == 0
    state = (
        rep.read_state()
        .orderBy("conv_id", "turn_idx")
        .toPandas()[["conv_id", "turn_idx", "text"]]
    )
    want = drifted.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert state["text"].tolist() == want["text"].tolist()

    # ledger records the maintenance commit with the chunk list
    entry = rep.ledger.last()
    assert entry.metrics["maintenance"] == "repair"
    assert sorted(entry.metrics["chunks"]) == sorted(int(c) for c in bad_ids)
    assert entry.metrics["rows_fixed"] == 3


def test_repair_noop_when_consistent(spark, rig):
    rep, oracle = rig
    v0 = rep.ledger.current_snapshot_version()
    # post-repair state == the drifted truth from the previous test; use
    # the live state itself as truth → no drift, no commit
    truth = rep.read_state().select(
        *[c for c, _, _ in rep.target.spec.columns]
    )
    assert rep.repair(truth) == v0


def test_repair_refuses_streaming_targets(spark, tmp_path):
    from mysql_cdc_spark.pipeline.target import OrderedBucketedMergeTarget

    rep = Replayer(
        spark,
        str(tmp_path / "nobinlog"),
        str(tmp_path / "store"),
        target=OrderedBucketedMergeTarget(str(tmp_path / "store"), buckets=2),
    )
    with pytest.raises(TypeError, match="snapshot-semantics"):
        rep.repair(rep.spark.range(1).selectExpr("'x' conv_id"))
