"""Scd2HistoryStore appending with position deletes.

Pins (a) history equality between an appending store and a rewrite-only
one (chain cap shrunk to 1) across a full multi-batch replay with
redelivered duplicates and mid-stream schema evolution, (b) the append
property — an appending bucket gets only the batch's fresh rows and one
closed image per stored row it closes, whose position it deletes, never
rewriting stored history, (c) compaction preserves history and clears
chains (run through Replayer.compact so both the state and history
stores compact on one maintenance call), (d) idempotent batch replay
onto appended chains, and (e) the purge path erases a key's history
rows and files.
"""

import glob
import os
import shutil

import pandas as pd
import pyarrow.parquet as pq
import pytest

from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS
from mysql_cdc_spark.fixtures import (
    generate_changelog,
    write_binlog_files,
)
import mysql_cdc_spark.pipeline.target as target_mod
from mysql_cdc_spark.pipeline.replay import Replayer
from mysql_cdc_spark.pipeline.scd2 import Scd2HistoryStore
from mysql_cdc_spark.pipeline.target import write_decision

SORT = ["conv_id", "turn_idx", "version"]


@pytest.fixture(scope="module")
def changelog(tmp_path_factory):
    txns = generate_changelog(
        n_conversations=25,
        max_turns=6,
        n_extra_ops=100,
        seed=19,
        evolve_after_frac=0.5,
        duplicate_txns=4,
        delete_ratio=0.1,
    )
    outdir = str(tmp_path_factory.mktemp("binlog_scd2mor"))
    write_binlog_files(txns, outdir, txns_per_file=30)
    return txns, outdir


@pytest.fixture(scope="module")
def replayed(spark, changelog, tmp_path_factory):
    """One appending replay of the changelog (a batch per file) with an
    8-bucket history (``<root>/s`` state, ``<root>/h`` history); the
    tests that only read or compact such stores take a copy of them
    (``_replayed``)."""
    root = tmp_path_factory.mktemp("replayed")
    h = Scd2HistoryStore(str(root / "h"), TRANSCRIPTS, buckets=8)
    Replayer(spark, changelog[1], str(root / "s"), history=h).replay(
        files_per_batch=1
    )
    return root


def _replayed(spark, changelog, replayed, dest) -> tuple:
    """(Replayer, history store) over a copy of the ``replayed`` stores
    at ``dest``."""
    shutil.copytree(replayed, dest)
    h = Scd2HistoryStore(str(dest / "h"), TRANSCRIPTS, buckets=8)
    return Replayer(spark, changelog[1], str(dest / "s"), history=h), h


def _decisions(h) -> list:
    """The write decision of every history commit after the first."""
    v = h.current_version()
    return [write_decision(h.store_dir, i - 1, i) for i in range(2, v + 1)]


def _hist_pdf(store, spark) -> pd.DataFrame:
    return (
        store.read_history(spark)
        .toPandas()
        .sort_values(SORT)
        .reset_index(drop=True)
    )


class TestEquality:
    def test_history_matches_cow_store(
        self, spark, changelog, replayed, tmp_path, monkeypatch
    ):
        """An appending history equals one whose chain cap of 1 makes
        every commit rewrite its buckets."""
        _, outdir = changelog
        cow_h = Scd2HistoryStore(str(tmp_path / "cow_h"), TRANSCRIPTS, buckets=8)
        cow = Replayer(spark, outdir, str(tmp_path / "cow"), history=cow_h)
        with monkeypatch.context() as m:
            m.setattr(target_mod, "DEFAULT_AUTO_COMPACT", 1)
            cow.replay(files_per_batch=1)
        _, mor_h = _replayed(spark, changelog, replayed, tmp_path / "mor")
        assert sum(d["buckets_appended"] for d in _decisions(cow_h)) == 0
        assert sum(d["buckets_appended"] for d in _decisions(mor_h)) > 0
        assert sum(d["positions_deleted"] for d in _decisions(mor_h)) > 0
        a, b = _hist_pdf(cow_h, spark), _hist_pdf(mor_h, spark)
        pd.testing.assert_frame_equal(a, b)
        assert len(b) > 0
        assert (~b["is_current"]).any()  # real closes happened

    def test_batch_replay_idempotent(self, spark, changelog, tmp_path):
        """The crash window between the history commit and the ledger
        append: the last batch applied again, onto the chains it
        appended, changes nothing."""
        _, outdir = changelog
        h = Scd2HistoryStore(str(tmp_path / "h"), TRANSCRIPTS, buckets=8)
        rep = Replayer(spark, outdir, str(tmp_path / "s"), history=h)
        files = rep.pending_files()
        for f in files[:3]:
            rep.run_batch([f])
        assert _decisions(h)[-1]["buckets_appended"] > 0
        before = _hist_pdf(h, spark)
        # crash-window replay: the same decoded batch applied again
        from mysql_cdc_spark.binlog.decoder import decode_binlog_dir
        from mysql_cdc_spark.pipeline.order import (
            gate_complete_transactions,
            with_change_key,
        )

        changes = with_change_key(
            gate_complete_transactions(
                decode_binlog_dir(
                    spark, outdir, TRANSCRIPTS, path_filter=files[2]
                )
            ),
            list(TRANSCRIPTS.primary_key),
        )
        h.apply_batch(spark, changes, h.current_version())
        after = _hist_pdf(h, spark)
        pd.testing.assert_frame_equal(before, after)


class TestAppendProperty:
    def test_apply_writes_only_deltas(self, spark, changelog, replayed, tmp_path):
        """In every commit, each appended bucket keeps its older dirs,
        and its new dir holds exactly its fresh rows plus one closed
        image per position it deletes: live rows grow by written rows
        minus deleted positions."""
        _, h = _replayed(spark, changelog, replayed, tmp_path / "copy")
        n_appended = 0
        for v in range(2, h.current_version() + 1):
            old, new = h._load_manifest(v - 1), h._load_manifest(v)
            appended = {
                b for b, e in new.items()
                if isinstance(e, dict) and b in old and old[b] != e
                and e["data"][: len(h._chain(old[b])["data"])]
                == h._chain(old[b])["data"]
            }
            if not appended:
                continue
            n_appended += len(appended)
            written = sum(
                new[b]["rows"][-1] for b in appended
                if len(new[b]["data"]) > len(h._chain(old[b])["data"])
            )
            deleted = sum(
                new[b]["deleted"] - h._chain(old[b])["deleted"] for b in appended
            )
            grew = (
                h.read(spark, v, appended).count()
                - h.read(spark, v - 1, appended).count()
            )
            assert grew == written - deleted, f"history v{v}"
        assert n_appended > 0


class TestMaintenance:
    def test_replayer_compact_folds_both_stores(
        self, spark, changelog, replayed, tmp_path
    ):
        rep, h = _replayed(spark, changelog, replayed, tmp_path / "copy")
        before = _hist_pdf(h, spark)
        assert any(
            isinstance(e, dict) for e in h._load_manifest(h.current_version()).values()
        )
        v = rep.compact(min_deltas=1)
        for store_, version in ((h, h.current_version()), (rep.target, v)):
            assert all(
                isinstance(e, str) for e in store_._load_manifest(version).values()
            )
        after = _hist_pdf(h, spark)
        pd.testing.assert_frame_equal(before, after)

    def test_purge_erases_history_rows_and_files(self, spark, changelog, tmp_path):
        _, outdir = changelog
        hdir = str(tmp_path / "h")
        h = Scd2HistoryStore(hdir, TRANSCRIPTS, buckets=8)
        rep = Replayer(spark, outdir, str(tmp_path / "s"), history=h)
        rep.replay(files_per_batch=2)
        pre = _hist_pdf(h, spark)
        victim = pre["conv_id"].iloc[0]
        rep.purge_keys(f"conv_id = '{victim}'")
        post = _hist_pdf(h, spark)
        assert victim not in set(post["conv_id"])
        assert set(post["conv_id"]) == set(pre["conv_id"]) - {victim}
        retained = set()
        for path in glob.glob(os.path.join(hdir, "**", "*.parquet"), recursive=True):
            t = pq.read_table(path)
            if "conv_id" in t.column_names:
                retained.update(t.column("conv_id").to_pylist())
        assert victim not in retained
