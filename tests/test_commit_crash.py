"""A crash inside an appending commit, for every bucketed family.

The commit of a bucket write lands data first, then ``deletes.json``,
then the manifest rename (``_write_meta``), and the pipeline's commit
point is the ledger append after it. A crash after the data and delete
file but before the manifest leaves an orphan snapshot that no reader
sees; a fresh ``Replayer`` then retries the batch over it. For the plain,
ordered and SCD2 history stores, the retry must end where an
uninterrupted run ends: the state (or history) equals the sequential
oracle, history holds no duplicate ``(key, valid_from)``, and the
ledger covers the same GTID set.
"""

import os

import pandas as pd
import pytest

from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS, decode_binlog_dir
from mysql_cdc_spark.fixtures import (
    apply_changelog_oracle,
    generate_changelog,
    write_binlog_files,
)
from mysql_cdc_spark.pipeline.order import (
    gate_complete_transactions,
    scd2_history,
    with_change_key,
)
from mysql_cdc_spark.pipeline.replay import Replayer
from mysql_cdc_spark.pipeline.scd2 import Scd2HistoryStore
from mysql_cdc_spark.pipeline.target import (
    BucketedParquetMergeTarget,
    OrderedBucketedMergeTarget,
    latest_committed_version,
)

KEYS = ["conv_id", "turn_idx"]
FROM = ["valid_from_gtid_seq", "valid_from_pos", "valid_from_row_in_event"]


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """A small changelog, its oracle state and the GTID set an
    uninterrupted replay covers."""
    txns = generate_changelog(
        n_conversations=20, max_turns=5, n_extra_ops=80, seed=31,
        duplicate_txns=2,
    )
    root = tmp_path_factory.mktemp("crash")
    binlog = str(root / "binlog")
    write_binlog_files(txns, binlog, txns_per_file=15)
    clean = Replayer(spark, binlog, str(root / "clean"))
    clean.replay(files_per_batch=1)
    return binlog, apply_changelog_oracle(txns), str(clean.ledger.covered_gtid_set())


def _replayer(spark, binlog, root, family):
    store = os.path.join(root, "store")
    if family == "scd2":
        history = Scd2HistoryStore(os.path.join(root, "hist"), TRANSCRIPTS, buckets=4)
        return Replayer(spark, binlog, store, history=history)
    cls = OrderedBucketedMergeTarget if family == "ordered" else BucketedParquetMergeTarget
    return Replayer(spark, binlog, store, target=cls(store, TRANSCRIPTS, buckets=4))


class Crash(RuntimeError):
    pass


@pytest.mark.parametrize("family", ["default", "ordered", "scd2"])
def test_crash_before_manifest_rename_retries_clean(
    spark, corpus, tmp_path, monkeypatch, family
):
    binlog, oracle, covered = corpus
    crashed = []
    write_meta = BucketedParquetMergeTarget._write_meta

    def crash_once(self, version, manifest):
        snap = self.snapshot_path(version)
        if (
            not crashed
            and isinstance(self, Scd2HistoryStore) == (family == "scd2")
            and os.path.exists(os.path.join(snap, "deletes.json"))
        ):
            crashed.append((self.store_dir, version))
            raise Crash(f"crash before the manifest of v{version}")
        return write_meta(self, version, manifest)

    monkeypatch.setattr(BucketedParquetMergeTarget, "_write_meta", crash_once)
    with pytest.raises(Crash):
        _replayer(spark, binlog, str(tmp_path), family).replay(files_per_batch=1)
    (store_dir, version), = crashed
    # the orphan holds the appended data and its delete file, no manifest
    snap = os.path.join(store_dir, "snapshots", f"v{version:08d}")
    assert os.path.isdir(os.path.join(snap, "data"))
    assert os.path.exists(os.path.join(snap, "deletes.json"))
    assert not os.path.exists(os.path.join(snap, "manifest.json"))
    assert latest_committed_version(store_dir) == version - 1

    rep = _replayer(spark, binlog, str(tmp_path), family)
    rep.replay(files_per_batch=1)
    assert str(rep.ledger.covered_gtid_set()) == covered
    state = rep.read_state().orderBy(*KEYS).toPandas()
    assert state["text"].tolist() == oracle["text"].tolist()
    assert state["tool"].fillna("-").tolist() == oracle["tool"].fillna("-").tolist()
    if family != "scd2":
        return
    hist = rep.history.read_history(spark).toPandas()
    assert not hist.duplicated([*KEYS, *FROM]).any()
    changes = with_change_key(
        gate_complete_transactions(decode_binlog_dir(spark, binlog, TRANSCRIPTS)),
        KEYS,
    )
    oneshot = scd2_history(
        changes, KEYS, dedup_cols=rep.history.dedup_cols
    ).toPandas()
    cols = sorted(hist.columns)
    order = [*KEYS, "version"]
    got = hist[cols].sort_values(order).reset_index(drop=True)
    want = oneshot[cols].sort_values(order).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
