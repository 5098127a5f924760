"""Replayer.purge_keys: right-to-be-forgotten over state, history, and
retained files.

Pins (a) the purged keys leave current state on both snapshot sink
families (copy-on-write and merge-on-read), (b) PHYSICAL erasure — after
``erase=True`` no parquet file retained anywhere under the store (or the
history store) holds a purged row, checked by reading every retained
file back, (c) the SCD2 history sink drops every version row for the
keys, (d) redelivered duplicates of old transactions do not resurrect a
purged key (GTID anti-join), (e) ``erase=False`` defers: old snapshots
keep the rows for time travel until routine gc, (f) maintenance-batch
bookkeeping (ledger entry, no-op short-circuit, ordered-target refusal).
"""

import glob
import os

import pandas as pd
import pyarrow.parquet as pq
import pytest

from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS
from mysql_cdc_spark.fixtures import (
    apply_changelog_oracle,
    generate_changelog,
    write_binlog_files,
)
from mysql_cdc_spark.pipeline.replay import Replayer
from mysql_cdc_spark.pipeline.scd2 import Scd2HistoryStore
from mysql_cdc_spark.pipeline.target import (
    BucketedParquetMergeTarget,
    OrderedBucketedMergeTarget,
)

PURGED = ["conv-00003", "conv-00007"]
PREDICATE = "conv_id IN ('conv-00003', 'conv-00007')"


def _retained_conv_ids(store_dir: str) -> set:
    """Every conv_id value readable from any retained parquet file under
    the store — the physical-erasure check (value-level, so parquet
    compression can't hide a hit)."""
    out = set()
    for path in glob.glob(
        os.path.join(store_dir, "**", "*.parquet"), recursive=True
    ):
        t = pq.read_table(path)
        for col in ("conv_id",):
            if col in t.column_names:
                out.update(t.column(col).to_pylist())
    return out


@pytest.fixture(scope="module")
def changelog(tmp_path_factory):
    txns = generate_changelog(
        n_conversations=20,
        max_turns=6,
        n_extra_ops=80,
        seed=17,
        evolve_after_frac=0.5,
        duplicate_txns=4,
    )
    outdir = str(tmp_path_factory.mktemp("binlog_purge"))
    write_binlog_files(txns, outdir, txns_per_file=30)
    return txns, outdir, apply_changelog_oracle(txns)


def _expected_after_purge(oracle: pd.DataFrame) -> pd.DataFrame:
    return (
        oracle[~oracle["conv_id"].isin(PURGED)]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def _state(rep: Replayer) -> pd.DataFrame:
    return (
        rep.read_state()
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )


class TestCopyOnWrite:
    def test_purge_state_and_files(self, spark, changelog, tmp_path):
        _, outdir, oracle = changelog
        store = str(tmp_path / "cow")
        rep = Replayer(spark, outdir, store)
        rep.replay(files_per_batch=2)
        assert any(c in _state(rep)["conv_id"].tolist() for c in PURGED)
        v = rep.purge_keys(PREDICATE)
        state = _state(rep)
        expected = _expected_after_purge(oracle)
        assert state["conv_id"].tolist() == expected["conv_id"].tolist()
        assert state["text"].tolist() == expected["text"].tolist()
        retained = _retained_conv_ids(store)
        assert not (retained & set(PURGED)), "purged rows survive in files"
        entry = rep.ledger.last()
        assert entry.snapshot_version == v
        assert entry.metrics["maintenance"] == "purge"
        assert entry.metrics["rows_purged"] > 0

    def test_redelivery_does_not_resurrect(self, spark, changelog, tmp_path):
        _, outdir, oracle = changelog
        store = str(tmp_path / "redel")
        rep = Replayer(spark, outdir, store)
        rep.replay(files_per_batch=2)
        rep.purge_keys(PREDICATE)
        # re-apply the last covered file: every event in it is an exact
        # redelivery — the GTID anti-join must suppress all of it
        files = rep.pending_files()
        assert files  # high-water file stays pending by design
        rep.run_batch(files[-1:])
        state = _state(rep)
        assert not set(state["conv_id"]) & set(PURGED)
        expected = _expected_after_purge(oracle)
        assert state["text"].tolist() == expected["text"].tolist()

    def test_noop_predicate_keeps_version_and_ledger(
        self, spark, changelog, tmp_path
    ):
        _, outdir, _ = changelog
        store = str(tmp_path / "noop")
        rep = Replayer(spark, outdir, store)
        rep.replay(files_per_batch=2)
        v = rep.ledger.current_snapshot_version()
        n = len(list(rep.ledger.entries()))
        assert rep.purge_keys("conv_id = 'no-such-conversation'") == v
        assert len(list(rep.ledger.entries())) == n

    def test_erase_false_defers(self, spark, changelog, tmp_path):
        _, outdir, _ = changelog
        store = str(tmp_path / "defer")
        rep = Replayer(spark, outdir, store)
        rep.replay(files_per_batch=2)
        v_before = rep.ledger.current_snapshot_version()
        rep.purge_keys(PREDICATE, erase=False)
        assert not set(_state(rep)["conv_id"]) & set(PURGED)
        # time travel intact: the pre-purge snapshot still shows the rows
        old = rep.target.read(spark, v_before).toPandas()
        assert set(old["conv_id"]) & set(PURGED)

    def test_ordered_target_refused(self, spark, changelog, tmp_path):
        _, outdir, _ = changelog
        store = str(tmp_path / "ord")
        rep = Replayer(
            spark, outdir, store,
            target=OrderedBucketedMergeTarget(store, TRANSCRIPTS, buckets=2),
        )
        with pytest.raises(TypeError, match="tombstones"):
            rep.purge_keys(PREDICATE)


class TestMergeOnRead:
    def test_purge_compacts_touched_buckets(self, spark, changelog, tmp_path):
        """Over appended chains a position delete would leave the rows in
        a listed file — the purge must rewrite the touched buckets so no
        retained data file keeps the rows."""
        _, outdir, oracle = changelog
        store = str(tmp_path / "mor")
        tgt = BucketedParquetMergeTarget(store, TRANSCRIPTS, buckets=4)
        rep = Replayer(spark, outdir, store, target=tgt)
        rep.replay(files_per_batch=1)
        assert any(
            (e.metrics or {}).get("buckets_appended") for e in rep.ledger.entries()
        )
        rep.purge_keys(PREDICATE)
        state = _state(rep)
        expected = _expected_after_purge(oracle)
        assert state["conv_id"].tolist() == expected["conv_id"].tolist()
        assert state["text"].tolist() == expected["text"].tolist()
        retained = _retained_conv_ids(store)
        assert not (retained & set(PURGED)), "purged rows survive in files"


class TestHistory:
    def test_history_rows_and_files_erased(self, spark, changelog, tmp_path):
        _, outdir, _ = changelog
        store = str(tmp_path / "hist")
        hstore = str(tmp_path / "hist_scd2")
        hist = Scd2HistoryStore(hstore, TRANSCRIPTS, buckets=8)
        rep = Replayer(spark, outdir, store, history=hist)
        rep.replay(files_per_batch=2)
        pre = hist.read_history(spark).toPandas()
        assert set(pre["conv_id"]) & set(PURGED)  # history held the rows
        rep.purge_keys(PREDICATE)
        post = hist.read_history(spark).toPandas()
        assert not set(post["conv_id"]) & set(PURGED)
        # untouched keys' history is intact
        keep = set(pre["conv_id"]) - set(PURGED)
        assert set(post["conv_id"]) == keep
        n_keep_rows = len(pre[~pre["conv_id"].isin(PURGED)])
        assert len(post) == n_keep_rows
        assert not (_retained_conv_ids(hstore) & set(PURGED))
