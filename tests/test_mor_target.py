"""The default store's merge-on-read side: position-delete appends,
``compact`` and the retired ``mor`` stamp.

Pins (a) state equality between an appending replay and a rewrite-only
one (chain cap shrunk to 1) across full replays (full + MINIMAL row
images, deletes, mid-stream schema evolution, resume), (b) the append
property itself — an appending merge writes only the batch's rows and
leaves the chain's older dirs in place (untouched buckets carried by
manifest reference), (c) compaction — chains rewritten into plain dirs,
state unchanged, no position filter after, (d) rebucket over a live
chain, (e) manifest-aware GC keeps every dir and delete file a live
manifest references, (f) truncate as a metadata-only fence, (g) the
chain cap bounds every replay's chains with no maintenance call, and
(h) a store stamped ``mor`` continues as this store.
"""

import json
import os
import shutil

import pandas as pd
import pytest

from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS
from mysql_cdc_spark.fixtures import (
    apply_changelog_oracle,
    generate_changelog,
    write_binlog_files,
)
import mysql_cdc_spark.pipeline.target as target_mod
from mysql_cdc_spark.pipeline.replay import Replayer
from mysql_cdc_spark.pipeline.target import (
    DEFAULT_AUTO_COMPACT,
    BucketedParquetMergeTarget,
    IcebergMergeTarget,
    open_store,
)


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


def _mor(store: str, buckets: int = 8) -> BucketedParquetMergeTarget:
    return BucketedParquetMergeTarget(store, TRANSCRIPTS, buckets=buckets)


@pytest.fixture(scope="module")
def replayed(spark, changelog, tmp_path_factory):
    """One appending replay of the changelog (a batch per file) into an
    8-bucket store; the tests that only read, compact, gc or rewind such
    a store take a copy of it (``_replayed``)."""
    _, outdir, _ = changelog
    store = str(tmp_path_factory.mktemp("replayed") / "store")
    Replayer(spark, outdir, store, target=_mor(store)).replay(files_per_batch=1)
    return store


def _replayed(spark, changelog, replayed, dest: str) -> tuple:
    """(Replayer, target) over a copy of the ``replayed`` store at ``dest``."""
    shutil.copytree(replayed, dest)
    tgt = _mor(dest)
    return Replayer(spark, changelog[1], dest, target=tgt), tgt


def _appends(rep: Replayer) -> tuple:
    """(buckets appended, positions deleted) over the ledger's entries."""
    ms = [e.metrics for e in rep.ledger.entries()]
    return (
        sum(m.get("buckets_appended", 0) for m in ms),
        sum(m.get("positions_deleted", 0) for m in ms),
    )


NET_SCHEMA = (
    "conv_id string, turn_idx int, op string, after_role string, "
    "after_text string, after_tool string, after_ts timestamp"
)


def _inserts(spark, keys):
    return spark.createDataFrame(
        [(c, 0, "insert", "user", c, None, None) for c in keys], NET_SCHEMA
    )


class TestEquality:
    def test_full_replay_matches_cow_target_and_oracle(
        self, spark, changelog, replayed, tmp_path, monkeypatch
    ):
        """An appending replay equals a replay whose chain cap of 1 makes
        every merge rewrite, and the oracle."""
        _, outdir, oracle = changelog
        cow_store = str(tmp_path / "cow")
        cow = Replayer(spark, outdir, cow_store)
        mor, _ = _replayed(spark, changelog, replayed, str(tmp_path / "mor"))
        with monkeypatch.context() as m:
            m.setattr(target_mod, "DEFAULT_AUTO_COMPACT", 1)
            cow.replay(files_per_batch=1)
        assert _appends(cow) == (0, 0)
        assert all(n > 0 for n in _appends(mor))
        a, b = _state_pdf(cow), _state_pdf(mor)
        pd.testing.assert_frame_equal(a, b)
        assert b["text"].tolist() == oracle["text"].tolist()
        assert b["tool"].fillna("-").tolist() == oracle["tool"].fillna("-").tolist()

    def test_minimal_row_image_matches_cow(self, spark, tmp_path):
        """MINIMAL images: updates carry only PK + changed columns — the
        per-column merge (which always rewrites) must keep an uncarried
        column's stored value, whatever the store's bucket count."""
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
        delete must void the older image but not the newer insert."""
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
    def test_merge_writes_only_deltas(self, spark, changelog, replayed, tmp_path):
        """An appending merge leaves the chain's older dirs in place and
        adds at most one dir, written under its own snapshot."""
        rep, tgt = _replayed(spark, changelog, replayed, str(tmp_path / "prop"))
        last = rep.ledger.last().snapshot_version
        assert last >= 3
        n_appends = 0
        for v in range(2, last + 1):
            old, new = tgt._load_manifest(v - 1), tgt._load_manifest(v)
            for b, e in new.items():
                if not isinstance(e, dict) or old.get(b) in (None, e):
                    continue
                was = tgt._chain(old[b])["data"]
                if e["data"][: len(was)] != was:
                    continue  # rewritten, then appended to later
                n_appends += 1
                added = e["data"][len(was):]
                assert len(added) <= 1
                assert all(f"v{v:08d}" in d for d in added)
        assert n_appends > 0

    def test_untouched_buckets_carried_by_reference(self, spark, tmp_path):
        """A second batch touching one conversation must append to only
        that conversation's bucket; every other bucket's entry is
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
        tgt = _mor(store, buckets=2)
        rep = Replayer(spark, outdir, store, target=tgt)
        rep.replay(files_per_batch=1)
        m1 = tgt._load_manifest(1)
        m2 = tgt._load_manifest(2)
        changed = [b for b in set(m1) | set(m2) if m1.get(b) != m2.get(b)]
        assert len(changed) == 1
        b = changed[0]
        assert m2[b]["data"][:1] == [m1[b]]
        assert len(m2[b]["data"]) == 2 and m2[b]["deleted"] == 1

    def test_fast_path_after_compact(self, spark, changelog, replayed, tmp_path):
        """compact() rewrites every chain; the post-compact read is a
        plain scan — no position filter in its plan."""
        oracle = changelog[2]
        rep, tgt = _replayed(spark, changelog, replayed, str(tmp_path / "fast"))
        v = rep.ledger.last().snapshot_version
        assert any(isinstance(e, dict) for e in tgt._load_manifest(v).values())
        v2 = tgt.compact(spark, v, min_deltas=1)
        assert v2 == v + 1
        assert all(isinstance(e, str) for e in tgt._load_manifest(v2).values())
        plan = tgt.read(spark, v2)._jdf.queryExecution().executedPlan().toString()
        assert "row_index" not in plan
        state = (
            tgt.read(spark, v2)
            .orderBy("conv_id", "turn_idx")
            .toPandas()
            .reset_index(drop=True)
        )
        assert state["text"].tolist() == oracle["text"].tolist()


class TestCompact:
    def test_compact_preserves_state_and_prunes(
        self, spark, changelog, replayed, tmp_path
    ):
        rep, tgt = _replayed(spark, changelog, replayed, str(tmp_path / "cmp"))
        v = rep.ledger.last().snapshot_version
        before = (
            tgt.read(spark, v)
            .orderBy("conv_id", "turn_idx")
            .toPandas()
            .reset_index(drop=True)
        )
        v2 = tgt.compact(spark, v, min_deltas=1)
        assert v2 == v + 1
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
        """Insert-only appends (no deleted positions): min_deltas above
        every chain's appended dirs → no-op (same version, no empty
        commit); min_deltas at the longest chain rewrites only the chains
        that long."""
        tgt = _mor(str(tmp_path / "thr"), buckets=4)
        v = tgt.merge(spark, _inserts(spark, [f"s{i:03d}" for i in range(200)]), 0)
        for i in range(8):
            v = tgt.merge(spark, _inserts(spark, [f"c{i}"]), v)
        chains = {
            b: len(e["data"]) - 1
            for b, e in tgt._load_manifest(v).items() if isinstance(e, dict)
        }
        assert len(chains) >= 2
        assert tgt.compact(spark, v, min_deltas=max(chains.values()) + 1) == v
        top = max(chains.values())
        assert min(chains.values()) < top
        v2 = tgt.compact(spark, v, min_deltas=top)
        m2 = tgt._load_manifest(v2)
        assert all(
            isinstance(m2[b], str) == (n == top) for b, n in chains.items()
        )
        assert tgt.read(spark, v2).count() == 208

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
        for f in files[:half]:  # one segment a batch, so later ones append
            rep.run_batch([f])
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

    def test_compact_noop_writes_no_ledger_entry(
        self, spark, changelog, replayed, tmp_path
    ):
        """Once every chain is rewritten, a second compact is a no-op."""
        rep, _ = _replayed(spark, changelog, replayed, str(tmp_path / "noop"))
        rep.compact()
        n_entries = len(list(rep.ledger.entries()))
        v = rep.compact(min_deltas=1)
        assert v == rep.ledger.current_snapshot_version()
        assert len(list(rep.ledger.entries())) == n_entries

    def test_compact_requires_mor_target(self, spark, changelog, tmp_path):
        """A sink that commits inside its own engine has no chains."""
        _, outdir, _ = changelog
        rep = Replayer(
            spark, outdir, str(tmp_path / "ice"),
            target=IcebergMergeTarget("cdc.db.t", TRANSCRIPTS),
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
        assert any(isinstance(e, dict) for e in tgt._load_manifest(v).values())
        v2 = tgt.rebucket(spark, 16, v)
        state = (
            tgt.read(spark, v2)
            .orderBy("conv_id", "turn_idx")
            .toPandas()
            .reset_index(drop=True)
        )
        assert state["text"].tolist() == oracle["text"].tolist()
        assert all(isinstance(e, str) for e in tgt._load_manifest(v2).values())
        assert tgt._load_layout(v2) == (16, ("conv_id", "turn_idx"))

    def test_gc_keeps_referenced_deltas(self, spark, changelog, replayed, tmp_path):
        """GC must keep every dir and delete file a kept manifest
        references — a chain's older dirs live under early snapshot dirs
        but stay live until a rewrite or compact replaces them."""
        oracle = changelog[2]
        rep, tgt = _replayed(spark, changelog, replayed, str(tmp_path / "gc"))
        tgt.gc(keep_latest=1)
        state = _state_pdf(rep)
        assert state["text"].tolist() == oracle["text"].tolist()

    def test_gc_drops_orphans_after_compact(
        self, spark, changelog, replayed, tmp_path
    ):
        oracle = changelog[2]
        store = str(tmp_path / "gc2")
        rep, tgt = _replayed(spark, changelog, replayed, store)
        v = rep.ledger.last().snapshot_version
        v2 = tgt.compact(spark, v, min_deltas=1)
        tgt.gc(keep_latest=1)
        root = os.path.join(store, "snapshots")
        # only v2 and the snapshots its plain entries point into remain,
        # and no delete file (no chain is left)
        refs = {p.split(os.sep)[1] for p in tgt._manifest_refs(v2)}
        assert set(os.listdir(root)) == refs | {f"v{v2:08d}"}
        assert not any(
            os.path.exists(os.path.join(root, n, "deletes.json"))
            for n in os.listdir(root)
        )
        state = (
            tgt.read(spark, v2)
            .orderBy("conv_id", "turn_idx")
            .toPandas()
            .reset_index(drop=True)
        )
        assert state["text"].tolist() == oracle["text"].tolist()

    def test_truncate_is_metadata_only_fence(
        self, spark, changelog, replayed, tmp_path
    ):
        rep, tgt = _replayed(spark, changelog, replayed, str(tmp_path / "trunc"))
        v = rep.ledger.last().snapshot_version
        v2 = tgt.truncate(spark, v)
        snap = tgt.snapshot_path(v2)
        assert sorted(os.listdir(snap)) == ["bucketing.json", "manifest.json"]
        assert tgt.read(spark, v2).count() == 0
        assert tgt.read(spark, v).count() > 0  # time travel intact


class TestAutoCompact:
    def test_replay_bounds_chains(self, spark, changelog, tmp_path, monkeypatch):
        """With the chain cap shrunk to 2, every merge rewrites a bucket
        whose chain reached it: no entry's snapshot holds a longer chain,
        buckets still append, and no maintenance batch is needed."""
        monkeypatch.setattr(target_mod, "DEFAULT_AUTO_COMPACT", 2)
        _, outdir, oracle = changelog
        store = str(tmp_path / "auto")
        rep = Replayer(spark, outdir, store, target=_mor(store))
        rep.replay(files_per_batch=1)
        entries = list(rep.ledger.entries())
        assert max(e.metrics["max_chain"] for e in entries) <= 2
        assert _appends(rep)[0] > 0
        assert not any(e.metrics.get("maintenance") for e in entries)
        state = _state_pdf(rep)
        assert state["text"].tolist() == oracle["text"].tolist()

    def test_default_policy_bounds_replay_chains(self, spark, changelog, tmp_path):
        """With no maintenance call at all, a one-file-per-batch replay
        keeps every chain within the default cap."""
        _, outdir, oracle = changelog
        store = str(tmp_path / "dflt")
        rep = Replayer(spark, outdir, store)
        rep.replay(files_per_batch=1)
        entries = list(rep.ledger.entries())
        assert max(e.metrics["max_chain"] for e in entries) <= DEFAULT_AUTO_COMPACT
        assert _appends(rep)[0] > 0
        state = _state_pdf(rep)
        assert state["text"].tolist() == oracle["text"].tolist()


class TestCrashSafety:
    def test_torn_snapshot_is_invisible_and_overwritten(self, spark, tmp_path):
        """A crash after the data write but before the manifest leaves a
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
        os.makedirs(os.path.join(torn, "data", "_bucket=0"), exist_ok=True)
        with open(os.path.join(torn, "data", "_bucket=0", "junk"), "w") as f:
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
            os.path.join(torn, "data", "_bucket=0", "junk")
        )
        assert tgt.read(spark, v2).count() == 2


class TestDerivedConsumers:
    """The read-side machinery built on snapshot diffs — change feed,
    incremental views, flashback — must work identically over appended
    chains (a manifest diff marks a bucket changed when its chain grows
    OR a compact repoints it)."""

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
        assert _appends(rep)[0] > 0
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

    def test_change_feed_over_mor(self, spark, changelog, replayed, tmp_path):
        """read_changes between two committed batches over appended
        chains equals the brute-force diff of the two states."""
        rep, tgt = _replayed(spark, changelog, replayed, str(tmp_path / "cdf"))
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

    def test_flashback_over_mor(self, spark, changelog, replayed, tmp_path):
        """Point-in-time rewind over appended chains: flashback to the
        first batch's commit must equal the state that batch produced."""
        rep, tgt = _replayed(spark, changelog, replayed, str(tmp_path / "fb"))
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
        """A store of the retired merge-on-read family — stamp ``mor``,
        compacted entries ``{"base": p, "deltas": []}`` — opens as the
        default store, reads each entry as its base dir, continues to the
        oracle and re-stamps on its first commit. An entry with equality
        deltas raises, naming the retired layout."""
        _, outdir, oracle = changelog
        store = str(tmp_path / "conv")
        cow_rep = Replayer(spark, outdir, store, target=_mor(store))
        files = cow_rep.pending_files()
        half = max(1, len(files) // 2)
        cow_rep.run_batch(files[:half])
        v = cow_rep.ledger.current_snapshot_version()
        manifest = os.path.join(store, "snapshots", f"v{v:08d}", "manifest.json")
        with open(manifest) as f:
            entries = json.load(f)
        assert all(isinstance(e, str) for e in entries.values())
        with open(manifest, "w") as f:
            json.dump({b: {"base": e, "deltas": []} for b, e in entries.items()}, f)
        with open(os.path.join(store, "target_family.json"), "w") as f:
            json.dump({"family": "mor"}, f)

        assert type(open_store(store, TRANSCRIPTS)) is BucketedParquetMergeTarget
        mor_rep = Replayer(spark, outdir, store)
        assert type(mor_rep.target) is BucketedParquetMergeTarget
        mor_rep.replay(files_per_batch=1)
        state = _state_pdf(mor_rep)
        assert state["text"].tolist() == oracle["text"].tolist()
        assert state["tool"].fillna("-").tolist() == oracle["tool"].fillna("-").tolist()
        with open(os.path.join(store, "target_family.json")) as f:
            assert json.load(f)["family"] == "bucketed_cow"

        b = next(iter(entries))
        with open(manifest, "w") as f:
            json.dump({b: {"base": entries[b], "deltas": [entries[b]]}}, f)
        with pytest.raises(ValueError, match="retired merge-on-read"):
            mor_rep.target.read(spark, v)
