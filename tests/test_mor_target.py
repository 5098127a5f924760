"""MergeOnReadBucketedTarget: delta-append MERGE with read-time fold.

Pins (a) state equality with the copy-on-write targets across full
replays (full + MINIMAL row images, deletes, mid-stream schema
evolution, resume), (b) the merge-on-read property itself — a merge
writes ONLY delta files (no base rewrite; untouched buckets carried by
manifest reference), (c) compaction — fold deltas into fresh base,
state unchanged, chains cleared, fast-path reads after, (d) rebucket
over a live delta chain, (e) manifest-aware GC keeps every base and
delta a live manifest references, (f) truncate as a metadata-only
fence.
"""

import json
import os

import pandas as pd
import pytest

from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS
from mysql_cdc_spark.fixtures import (
    apply_changelog_oracle,
    generate_changelog,
    write_binlog_files,
)
from mysql_cdc_spark.pipeline.mor import MergeOnReadBucketedTarget
from mysql_cdc_spark.pipeline.replay import Replayer
from mysql_cdc_spark.pipeline.target import BucketedParquetMergeTarget


def _state_pdf(rep: Replayer) -> pd.DataFrame:
    return (
        rep.read_state()
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def changelog(tmp_path_factory):
    txns = generate_changelog(
        n_conversations=30,
        max_turns=6,
        n_extra_ops=120,
        seed=11,
        hot_conversations=2,
        hot_share=0.5,
        evolve_after_frac=0.5,
        duplicate_txns=4,
    )
    outdir = str(tmp_path_factory.mktemp("binlog_mor"))
    write_binlog_files(txns, outdir, txns_per_file=30)
    return txns, outdir, apply_changelog_oracle(txns)


def _mor(store: str, buckets: int = 8) -> MergeOnReadBucketedTarget:
    return MergeOnReadBucketedTarget(store, TRANSCRIPTS, buckets=buckets)


class TestEquality:
    def test_full_replay_matches_cow_target_and_oracle(
        self, spark, changelog, tmp_path
    ):
        _, outdir, oracle = changelog
        cow_store = str(tmp_path / "cow")
        cow = Replayer(spark, outdir, cow_store)
        mor_store = str(tmp_path / "mor")
        mor = Replayer(spark, outdir, mor_store, target=_mor(mor_store))
        cow.replay(files_per_batch=1)
        mor.replay(files_per_batch=1)
        a, b = _state_pdf(cow), _state_pdf(mor)
        pd.testing.assert_frame_equal(a, b)
        assert b["text"].tolist() == oracle["text"].tolist()
        assert b["tool"].fillna("-").tolist() == oracle["tool"].fillna("-").tolist()

    def test_minimal_row_image_matches_cow(self, spark, tmp_path):
        """MINIMAL images: updates carry only PK + changed columns — the
        read-time fold must apply per-COLUMN carried bits, not whole
        images (an uncarried column falls through to the last
        contribution that did carry it)."""
        txns = generate_changelog(
            n_conversations=20, max_turns=5, n_extra_ops=80, seed=13,
            evolve_after_frac=0.5,
        )
        outdir = str(tmp_path / "binlog_min")
        write_binlog_files(txns, outdir, txns_per_file=25, row_image="minimal")
        cow = Replayer(spark, outdir, str(tmp_path / "cmin"), row_image="minimal")
        mstore = str(tmp_path / "mmin")
        mor = Replayer(
            spark, outdir, mstore, row_image="minimal", target=_mor(mstore)
        )
        cow.replay(files_per_batch=1)
        mor.replay(files_per_batch=1)
        pd.testing.assert_frame_equal(_state_pdf(cow), _state_pdf(mor))

    def test_resume_mid_stream(self, spark, changelog, tmp_path):
        _, outdir, oracle = changelog
        store = str(tmp_path / "resume")
        r1 = Replayer(spark, outdir, store, target=_mor(store))
        files = r1.pending_files()
        assert len(files) >= 2
        r1.run_batch(files[:1])  # then "crash"
        r2 = Replayer(spark, outdir, store, target=_mor(store))
        r2.replay(files_per_batch=1)
        assert _state_pdf(r2)["text"].tolist() == oracle["text"].tolist()

    def test_delete_then_reinsert_across_batches(self, spark, tmp_path):
        """A key deleted in one batch and re-inserted in a later one: the
        delete fence must void older contributions but not the newer
        insert."""
        from mysql_cdc_spark.fixtures import Op, Txn, _row

        txns = [
            Txn(seq=1, ops=[Op("insert", None, _row("c1", 0, "user", "v1", 1000))]),
            Txn(seq=2, ops=[Op("delete", _row("c1", 0, "user", "v1", 1000), None)]),
            Txn(seq=3, ops=[Op("insert", None, _row("c1", 0, "user", "v3", 3000))]),
        ]
        outdir = str(tmp_path / "binlog_dri")
        write_binlog_files(txns, outdir, txns_per_file=1)
        store = str(tmp_path / "dri")
        rep = Replayer(spark, outdir, store, target=_mor(store))
        rep.replay(files_per_batch=1)
        state = _state_pdf(rep)
        assert state["text"].tolist() == ["v3"]

    def test_delete_ends_as_absent_row(self, spark, tmp_path):
        from mysql_cdc_spark.fixtures import Op, Txn, _row

        txns = [
            Txn(seq=1, ops=[Op("insert", None, _row("c1", 0, "user", "v1", 1000))]),
            Txn(seq=2, ops=[Op("insert", None, _row("c2", 0, "user", "v2", 1500))]),
            Txn(seq=3, ops=[Op("delete", _row("c1", 0, "user", "v1", 1000), None)]),
        ]
        outdir = str(tmp_path / "binlog_del")
        write_binlog_files(txns, outdir, txns_per_file=1)
        store = str(tmp_path / "del")
        rep = Replayer(spark, outdir, store, target=_mor(store))
        rep.replay(files_per_batch=1)
        state = _state_pdf(rep)
        assert state["conv_id"].tolist() == ["c2"]


class TestMergeOnReadProperty:
    def test_merge_writes_only_deltas(self, spark, changelog, tmp_path):
        """After the first batch establishes state, later merges must not
        rewrite any base data: every snapshot dir beyond v1 contains only
        a delta/ dir, and each bucket's base pointer is unchanged."""
        _, outdir, _ = changelog
        store = str(tmp_path / "prop")
        tgt = _mor(store)
        rep = Replayer(spark, outdir, store, target=tgt)
        rep.replay(files_per_batch=1)
        last = rep.ledger.last().snapshot_version
        assert last >= 3
        snaps_root = os.path.join(store, "snapshots")
        for v in range(1, last + 1):
            snap = os.path.join(snaps_root, f"v{v:08d}")
            assert not os.path.exists(os.path.join(snap, "data")), (
                f"v{v} rewrote base data — not merge-on-read"
            )
        # base pointers never move across merge-only versions (no base yet
        # at all here: the chain starts from an empty table, so every
        # entry's base is None and all state lives in deltas)
        with open(os.path.join(snaps_root, f"v{last:08d}", "manifest.json")) as f:
            man = json.load(f)
        assert all(e["base"] is None for e in man.values())
        assert sum(len(e["deltas"]) for e in man.values()) > 0

    def test_untouched_buckets_carried_by_reference(self, spark, tmp_path):
        """A second batch touching one conversation must append a delta to
        only that conversation's bucket; every other bucket's entry is
        byte-identical to the previous manifest."""
        from mysql_cdc_spark.fixtures import Op, Txn, _row

        txns1 = [
            Txn(seq=s, ops=[Op("insert", None, _row(f"c{s}", 0, "user", f"v{s}", s * 100))])
            for s in range(1, 17)
        ]
        txns2 = [Txn(seq=17, ops=[Op(
            "update", _row("c1", 0, "user", "v1", 100),
            _row("c1", 0, "user", "v1b", 1700),
        )])]
        outdir = str(tmp_path / "binlog_carry")
        write_binlog_files(txns1 + txns2, outdir, txns_per_file=16)
        store = str(tmp_path / "carry")
        tgt = _mor(store)
        rep = Replayer(spark, outdir, store, target=tgt)
        rep.replay(files_per_batch=1)
        m1 = tgt._load_manifest(1)
        m2 = tgt._load_manifest(2)
        changed = [b for b in set(m1) | set(m2) if m1.get(b) != m2.get(b)]
        assert len(changed) == 1
        b = changed[0]
        assert m2[b]["deltas"][: len(m1[b]["deltas"])] == m1[b]["deltas"]
        assert len(m2[b]["deltas"]) == len(m1[b]["deltas"]) + 1

    def test_fast_path_after_compact(self, spark, changelog, tmp_path):
        """compact() folds every chain; the post-compact read must not
        contain the fold (no delta scan, no aggregate) — plan check via
        the absence of delta paths in the read's file sources."""
        _, outdir, oracle = changelog
        store = str(tmp_path / "fast")
        tgt = _mor(store)
        rep = Replayer(spark, outdir, store, target=tgt)
        rep.replay(files_per_batch=1)
        v = rep.ledger.last().snapshot_version
        v2 = tgt.compact(spark, v, min_deltas=1)
        assert v2 == v + 1
        assert all(n == 0 for n in tgt.delta_stats(v2).values())
        plan = tgt.read(spark, v2)._jdf.queryExecution().executedPlan().toString()
        assert "max_by" not in plan
        state = (
            tgt.read(spark, v2)
            .orderBy("conv_id", "turn_idx")
            .toPandas()
            .reset_index(drop=True)
        )
        assert state["text"].tolist() == oracle["text"].tolist()


class TestCompact:
    def test_compact_preserves_state_and_prunes(self, spark, changelog, tmp_path):
        _, outdir, _ = changelog
        store = str(tmp_path / "cmp")
        tgt = _mor(store)
        rep = Replayer(spark, outdir, store, target=tgt)
        rep.replay(files_per_batch=1)
        v = rep.ledger.last().snapshot_version
        before = (
            tgt.read(spark, v)
            .orderBy("conv_id", "turn_idx")
            .toPandas()
            .reset_index(drop=True)
        )
        v2 = tgt.compact(spark, v, min_deltas=1)
        after = (
            tgt.read(spark, v2)
            .orderBy("conv_id", "turn_idx")
            .toPandas()
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(before, after)
        # old version still time-travel readable (not GC'd yet)
        old = (
            tgt.read(spark, v)
            .orderBy("conv_id", "turn_idx")
            .toPandas()
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(before, old)

    def test_compact_threshold_and_selection(self, spark, tmp_path):
        """min_deltas above every chain length → no-op (same version, no
        empty commit); bucket_ids restricts the rewrite."""
        from mysql_cdc_spark.fixtures import Op, Txn, _row

        txns = [
            Txn(seq=s, ops=[Op("insert", None, _row(f"c{s}", 0, "user", f"v{s}", s * 100))])
            for s in range(1, 9)
        ]
        outdir = str(tmp_path / "binlog_thr")
        write_binlog_files(txns, outdir, txns_per_file=4)
        store = str(tmp_path / "thr")
        tgt = _mor(store, buckets=4)
        rep = Replayer(spark, outdir, store, target=tgt)
        rep.replay(files_per_batch=1)
        v = rep.ledger.last().snapshot_version
        assert tgt.compact(spark, v, min_deltas=99) == v
        chains = tgt.delta_stats(v)
        one = next(b for b, n in chains.items() if n > 0)
        v2 = tgt.compact(spark, v, min_deltas=1, bucket_ids={one})
        stats = tgt.delta_stats(v2)
        assert stats[one] == 0
        assert any(n > 0 for b, n in stats.items() if b != one)

    def test_merge_after_compact_continues_chain(self, spark, tmp_path):
        from mysql_cdc_spark.fixtures import Op, Txn, _row

        txns1 = [Txn(seq=1, ops=[Op("insert", None, _row("c1", 0, "user", "v1", 100))])]
        outdir1 = str(tmp_path / "b1")
        write_binlog_files(txns1, outdir1, txns_per_file=1)
        store = str(tmp_path / "cont")
        tgt = _mor(store, buckets=2)
        rep = Replayer(spark, outdir1, store, target=tgt)
        rep.replay()
        v = rep.ledger.last().snapshot_version
        v2 = tgt.compact(spark, v, min_deltas=1)
        # manual ledger-less continuation: merge directly on the target
        from pyspark.sql import functions as F

        net = spark.createDataFrame(
            pd.DataFrame(
                [{"conv_id": "c1", "turn_idx": 0, "op": "update",
                  "after_role": "user", "after_text": "v2",
                  "after_tool": None, "after_ts_ms": 200}]
            )
        ).select(
            "conv_id", "turn_idx", "op", "after_role", "after_text",
            "after_tool",
            F.timestamp_millis(F.col("after_ts_ms")).alias("after_ts"),
        )
        v3 = tgt.merge(spark, net, v2)
        state = tgt.read(spark, v3).toPandas()
        assert state["text"].tolist() == ["v2"]


class TestReplayerIntegration:
    def test_compact_mid_replay_is_ledger_coordinated(
        self, spark, changelog, tmp_path
    ):
        """Replayer.compact() must advance the ledger's snapshot version so
        the NEXT merge builds on the compacted snapshot instead of
        overwriting it (the crash-safe maintenance-batch pattern rebucket
        uses); the final state still matches the oracle."""
        _, outdir, oracle = changelog
        store = str(tmp_path / "midc")
        tgt = _mor(store)
        rep = Replayer(spark, outdir, store, target=tgt)
        files = rep.pending_files()
        half = max(1, len(files) // 2)
        rep.run_batch(files[:half])
        v_before = rep.ledger.current_snapshot_version()
        v_c = rep.compact(min_deltas=1)
        assert v_c == v_before + 1
        assert rep.ledger.current_snapshot_version() == v_c
        entry = rep.ledger.last()
        assert entry.metrics.get("maintenance") == "compact"
        rep.replay(files_per_batch=1)
        state = _state_pdf(rep)
        assert state["text"].tolist() == oracle["text"].tolist()
        assert state["tool"].fillna("-").tolist() == oracle["tool"].fillna("-").tolist()

    def test_compact_noop_writes_no_ledger_entry(self, spark, changelog, tmp_path):
        _, outdir, _ = changelog
        store = str(tmp_path / "noop")
        tgt = _mor(store)
        rep = Replayer(spark, outdir, store, target=tgt)
        rep.replay(files_per_batch=1)
        n_entries = len(list(rep.ledger.entries()))
        v = rep.compact(min_deltas=99)
        assert v == rep.ledger.current_snapshot_version()
        assert len(list(rep.ledger.entries())) == n_entries

    def test_compact_requires_mor_target(self, spark, changelog, tmp_path):
        _, outdir, _ = changelog
        store = str(tmp_path / "cowc")
        rep = Replayer(
            spark, outdir, store,
            target=BucketedParquetMergeTarget(store, TRANSCRIPTS, buckets=4),
        )
        with pytest.raises(TypeError, match="compact"):
            rep.compact()


class TestMaintenance:
    def test_rebucket_over_live_chain(self, spark, changelog, tmp_path):
        _, outdir, oracle = changelog
        store = str(tmp_path / "rbk")
        tgt = _mor(store, buckets=4)
        rep = Replayer(spark, outdir, store, target=tgt)
        rep.replay(files_per_batch=1)
        v = rep.ledger.last().snapshot_version
        v2 = tgt.rebucket(spark, 16, v)
        state = (
            tgt.read(spark, v2)
            .orderBy("conv_id", "turn_idx")
            .toPandas()
            .reset_index(drop=True)
        )
        assert state["text"].tolist() == oracle["text"].tolist()
        assert all(n == 0 for n in tgt.delta_stats(v2).values())
        assert tgt._load_layout(v2) == (16, ("conv_id", "turn_idx"))

    def test_gc_keeps_referenced_deltas(self, spark, changelog, tmp_path):
        """GC must keep every snapshot dir a kept manifest references for
        base OR delta data — early delta files live under early snapshot
        dirs but stay live until compaction folds them."""
        _, outdir, oracle = changelog
        store = str(tmp_path / "gc")
        tgt = _mor(store)
        rep = Replayer(spark, outdir, store, target=tgt)
        rep.replay(files_per_batch=1)
        tgt.gc(keep_latest=1)
        state = _state_pdf(rep)
        assert state["text"].tolist() == oracle["text"].tolist()

    def test_gc_drops_orphans_after_compact(self, spark, changelog, tmp_path):
        _, outdir, oracle = changelog
        store = str(tmp_path / "gc2")
        tgt = _mor(store)
        rep = Replayer(spark, outdir, store, target=tgt)
        rep.replay(files_per_batch=1)
        v = rep.ledger.last().snapshot_version
        v2 = tgt.compact(spark, v, min_deltas=1)
        tgt.gc(keep_latest=1)
        snaps = sorted(os.listdir(os.path.join(store, "snapshots")))
        assert snaps == [f"v{v2:08d}"]  # nothing else referenced anymore
        state = (
            tgt.read(spark, v2)
            .orderBy("conv_id", "turn_idx")
            .toPandas()
            .reset_index(drop=True)
        )
        assert state["text"].tolist() == oracle["text"].tolist()

    def test_truncate_is_metadata_only_fence(self, spark, changelog, tmp_path):
        _, outdir, _ = changelog
        store = str(tmp_path / "trunc")
        tgt = _mor(store)
        rep = Replayer(spark, outdir, store, target=tgt)
        rep.replay(files_per_batch=1)
        v = rep.ledger.last().snapshot_version
        v2 = tgt.truncate(spark, v)
        snap = tgt.snapshot_path(v2)
        assert sorted(os.listdir(snap)) == ["bucketing.json", "manifest.json"]
        assert tgt.read(spark, v2).count() == 0
        assert tgt.read(spark, v).count() > 0  # time travel intact


class TestAutoCompact:
    def test_replay_bounds_chains(self, spark, changelog, tmp_path):
        """Replayer(auto_compact=N): after every batch any chain at length
        >= N folds, so the post-replay store never carries a chain longer
        than N-1 deltas on top of the last fold; state still matches the
        oracle and the ledger records the maintenance batches."""
        _, outdir, oracle = changelog
        store = str(tmp_path / "auto")
        tgt = _mor(store)
        rep = Replayer(
            spark, outdir, store, target=tgt, auto_compact=2,
        )
        rep.replay(files_per_batch=1)
        stats = tgt.delta_stats(rep.ledger.current_snapshot_version())
        assert max(stats.values(), default=0) < 2
        kinds = [
            (e.metrics or {}).get("maintenance") for e in rep.ledger.entries()
        ]
        assert "compact" in kinds
        state = _state_pdf(rep)
        assert state["text"].tolist() == oracle["text"].tolist()

    def test_requires_mor_target(self, spark, changelog, tmp_path):
        _, outdir, _ = changelog
        with pytest.raises(TypeError, match="auto_compact"):
            Replayer(
                spark, outdir, str(tmp_path / "cow"), auto_compact=2,
            )

    def test_default_on_for_mor_targets(self, spark, changelog, tmp_path):
        """Auto-compact is opt-OUT on merge-on-read targets: an
        unmaintained store's read fold grows with chain length
        (BENCH.md), so the bounded-chain policy is the
        default; auto_compact=0 disables, CoW targets stay None."""
        from mysql_cdc_spark.pipeline.mor import DEFAULT_AUTO_COMPACT

        _, outdir, _ = changelog
        rep = Replayer(
            spark, outdir, str(tmp_path / "d1"),
            target=_mor(str(tmp_path / "d1")),
        )
        assert rep.auto_compact == DEFAULT_AUTO_COMPACT
        rep0 = Replayer(
            spark, outdir, str(tmp_path / "d2"),
            target=_mor(str(tmp_path / "d2")), auto_compact=0,
        )
        assert rep0.auto_compact is None
        cow = Replayer(spark, outdir, str(tmp_path / "d3"))
        assert cow.auto_compact is None

    def test_default_policy_bounds_replay_chains(
        self, spark, changelog, tmp_path, monkeypatch
    ):
        """With no auto_compact argument at all, a one-file-per-batch
        replay must keep every chain under the default threshold
        (shrunk here so the fixture-sized corpus crosses it)."""
        import mysql_cdc_spark.pipeline.mor as mor_mod

        monkeypatch.setattr(mor_mod, "DEFAULT_AUTO_COMPACT", 2)
        _, outdir, oracle = changelog
        store = str(tmp_path / "dflt")
        tgt = _mor(store)
        rep = Replayer(spark, outdir, store, target=tgt)
        assert rep.auto_compact == 2
        rep.replay(files_per_batch=1)
        stats = tgt.delta_stats(rep.ledger.current_snapshot_version())
        assert max(stats.values(), default=0) < 2
        state = _state_pdf(rep)
        assert state["text"].tolist() == oracle["text"].tolist()


class TestCrashSafety:
    def test_torn_snapshot_is_invisible_and_overwritten(self, spark, tmp_path):
        """A crash after the delta write but before the manifest leaves a
        snapshot dir without a manifest: readers never see it (the
        manifest is the internal commit point) and the retry's merge
        overwrites it cleanly."""
        from mysql_cdc_spark.fixtures import Op, Txn, _row

        txns = [Txn(seq=1, ops=[Op("insert", None, _row("c1", 0, "user", "v1", 100))])]
        outdir = str(tmp_path / "b")
        write_binlog_files(txns, outdir, txns_per_file=1)
        store = str(tmp_path / "torn")
        tgt = _mor(store, buckets=2)
        rep = Replayer(spark, outdir, store, target=tgt)
        rep.replay()
        v = rep.ledger.current_snapshot_version()
        # simulate the torn v+1: data on disk, no manifest
        torn = tgt.snapshot_path(v + 1)
        os.makedirs(os.path.join(torn, "delta", "_bucket=0"), exist_ok=True)
        with open(os.path.join(torn, "delta", "_bucket=0", "junk"), "w") as f:
            f.write("torn")
        # reads at the committed version are unaffected
        assert tgt.read(spark, v).count() == 1
        # the retry merge claims v+1, removing the orphan
        import pandas as pd
        from pyspark.sql import functions as F

        net = spark.createDataFrame(
            pd.DataFrame([{"conv_id": "c2", "turn_idx": 0, "op": "insert",
                           "after_role": "user", "after_text": "v2",
                           "after_tool": None, "after_ts_ms": 200}])
        ).select(
            "conv_id", "turn_idx", "op", "after_role", "after_text",
            "after_tool",
            F.timestamp_millis(F.col("after_ts_ms")).alias("after_ts"),
        )
        v2 = tgt.merge(spark, net, v)
        assert v2 == v + 1
        assert not os.path.exists(
            os.path.join(torn, "delta", "_bucket=0", "junk")
        )
        assert tgt.read(spark, v2).count() == 2


class TestDerivedConsumers:
    """The read-side machinery built on snapshot diffs — change feed,
    incremental views, flashback — must work identically over the
    merge-on-read layout (its manifest diff marks a bucket changed when
    a delta lands OR a compact repoints the base)."""

    def test_incremental_view_over_mor(self, spark, changelog, tmp_path):
        from mysql_cdc_spark.pipeline.ivm import MaterializedAggView

        _, outdir, _ = changelog
        store = str(tmp_path / "ivm")
        tgt = _mor(store)
        view = MaterializedAggView(
            str(tmp_path / "view"), ["role"],
            {"chars": "length(text)"},
        )
        rep = Replayer(spark, outdir, store, target=tgt, views=[view])
        rep.replay(files_per_batch=1)
        rep.compact(min_deltas=1)  # maintenance refresh must be a no-op fold
        got = (
            view.read(spark)
            .toPandas()
            .sort_values("role")
            .reset_index(drop=True)
        )
        state = rep.read_state().toPandas()
        import pandas as pd

        expect = (
            state.assign(chars=state["text"].str.len())
            .groupby("role")
            .agg(n_rows=("role", "size"), chars=("chars", "sum"))
            .reset_index()
            .sort_values("role")
            .reset_index(drop=True)
        )
        assert got["role"].tolist() == expect["role"].tolist()
        assert got["n_rows"].tolist() == expect["n_rows"].tolist()
        assert got["chars"].astype("int64").tolist() == expect["chars"].astype("int64").tolist()

    def test_change_feed_over_mor(self, spark, changelog, tmp_path):
        """read_changes between two committed batches on the MoR store
        equals the brute-force diff of the two states."""
        _, outdir, _ = changelog
        store = str(tmp_path / "cdf")
        tgt = _mor(store)
        rep = Replayer(spark, outdir, store, target=tgt)
        rep.replay(files_per_batch=1)
        entries = list(rep.ledger.entries())
        assert len(entries) >= 3
        b_from, b_to = entries[0].batch_id, entries[-1].batch_id
        feed = rep.read_changes(from_batch=b_from, to_batch=b_to).toPandas()
        from mysql_cdc_spark.pipeline.target import snapshot_diff

        brute = snapshot_diff(
            tgt.read(spark, entries[0].snapshot_version),
            tgt.read(spark, entries[-1].snapshot_version),
            tgt.spec,
        ).toPandas()
        key = ["conv_id", "turn_idx", "change_type"]
        a = feed.sort_values(key).reset_index(drop=True)
        b = brute.sort_values(key).reset_index(drop=True)
        import pandas as pd

        pd.testing.assert_frame_equal(a, b)
        assert len(a) > 0

    def test_flashback_over_mor(self, spark, changelog, tmp_path):
        """Point-in-time rewind on the MoR store: flashback to the first
        batch's commit must equal the state that batch produced."""
        _, outdir, _ = changelog
        store = str(tmp_path / "fb")
        tgt = _mor(store)
        rep = Replayer(spark, outdir, store, target=tgt)
        rep.replay(files_per_batch=1)
        first = next(iter(rep.ledger.entries()))
        want = (
            tgt.read(spark, first.snapshot_version)
            .orderBy("conv_id", "turn_idx")
            .toPandas()
            .reset_index(drop=True)
        )
        rep.flashback(first.batch_id)
        got = _state_pdf(rep)
        import pandas as pd

        pd.testing.assert_frame_equal(got, want)


class TestStoreConversion:
    def test_cow_store_continues_as_mor(self, spark, changelog, tmp_path):
        """A store written by the copy-on-write target can be adopted by
        the MoR target mid-history (the str-entry manifest conversion):
        subsequent merges append deltas over the adopted base and the
        fold treats the base as seq-0 — final state equals a pure-CoW
        continuation."""
        _, outdir, oracle = changelog
        store = str(tmp_path / "conv")
        cow_rep = Replayer(
            spark, outdir, store,
            target=BucketedParquetMergeTarget(store, TRANSCRIPTS, buckets=8),
        )
        files = cow_rep.pending_files()
        half = max(1, len(files) // 2)
        cow_rep.run_batch(files[:half])
        # adopt: same store, merge-on-read target (explicit — autodetect
        # keeps CoW for CoW-shaped manifests)
        mor_rep = Replayer(spark, outdir, store, target=_mor(store))
        mor_rep.replay(files_per_batch=1)
        state = _state_pdf(mor_rep)
        assert state["text"].tolist() == oracle["text"].tolist()
        assert state["tool"].fillna("-").tolist() == oracle["tool"].fillna("-").tolist()
