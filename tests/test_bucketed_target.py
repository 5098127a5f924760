"""BucketedParquetMergeTarget: bucket-pruned copy-on-write MERGE.

Pins (a) state equality with the default Replayer target and the
sequential oracle across a complete replay (full + MINIMAL row images,
deletes, schema evolution, resume), (b) the pruning property itself — a batch's snapshot directory
contains ONLY the buckets its net change touched, untouched buckets are
carried by manifest reference — and (c) manifest-aware GC.
"""

import json
import os

from datetime import datetime

import pandas as pd
import pytest

from pyspark.sql import functions as F

from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS
from mysql_cdc_spark.fixtures import (
    apply_changelog_oracle,
    generate_changelog,
    write_binlog_files,
)
from mysql_cdc_spark.pipeline.replay import Replayer
from mysql_cdc_spark.pipeline.target import (
    BucketedParquetMergeTarget,
    IcebergMergeTarget,
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
    outdir = str(tmp_path_factory.mktemp("binlog_bkt"))
    write_binlog_files(txns, outdir, txns_per_file=30)
    return txns, outdir, apply_changelog_oracle(txns)


def _bucketed(store: str, buckets: int = 8) -> BucketedParquetMergeTarget:
    return BucketedParquetMergeTarget(store, TRANSCRIPTS, buckets=buckets)


def _entry_paths(entry) -> list:
    """Store-relative paths a manifest entry references: a rewritten
    bucket's one dir, or an appended bucket's data dirs and delete files."""
    if isinstance(entry, str):
        return [entry]
    return entry["data"] + entry["deletes"]


class TestEquality:
    def test_full_replay_matches_plain_target_and_oracle(
        self, spark, changelog, tmp_path
    ):
        _, outdir, oracle = changelog
        plain = Replayer(spark, outdir, str(tmp_path / "plain"))
        bkt_store = str(tmp_path / "bkt")
        bkt = Replayer(spark, outdir, bkt_store, target=_bucketed(bkt_store))
        plain.replay(files_per_batch=1)
        bkt.replay(files_per_batch=1)
        a, b = _state_pdf(plain), _state_pdf(bkt)
        pd.testing.assert_frame_equal(a, b)
        assert b["conv_id"].tolist() == oracle["conv_id"].tolist()
        assert b["text"].tolist() == oracle["text"].tolist()
        assert b["tool"].fillna("-").tolist() == oracle["tool"].fillna("-").tolist()

    def test_minimal_row_image_replay_matches_plain(self, spark, tmp_path):
        txns = generate_changelog(
            n_conversations=20, max_turns=5, n_extra_ops=80, seed=13,
            evolve_after_frac=0.5,
        )
        outdir = str(tmp_path / "binlog_min")
        write_binlog_files(txns, outdir, txns_per_file=25, row_image="minimal")
        plain = Replayer(spark, outdir, str(tmp_path / "pmin"), row_image="minimal")
        bstore = str(tmp_path / "bmin")
        bkt = Replayer(
            spark, outdir, bstore, row_image="minimal", target=_bucketed(bstore)
        )
        plain.replay(files_per_batch=1)
        bkt.replay(files_per_batch=1)
        pd.testing.assert_frame_equal(_state_pdf(plain), _state_pdf(bkt))

    def test_conv_level_bucketing_matches_plain(self, spark, changelog, tmp_path):
        """bucket_cols=("conv_id",) (the Iceberg DDL convention) must give
        the same state; a conversation's turns co-locate in one bucket."""
        _, outdir, oracle = changelog
        store = str(tmp_path / "convbkt")
        tgt = BucketedParquetMergeTarget(
            store, TRANSCRIPTS, buckets=8, bucket_cols=("conv_id",)
        )
        rep = Replayer(spark, outdir, store, target=tgt)
        rep.replay(files_per_batch=1)
        state = _state_pdf(rep)
        assert state["text"].tolist() == oracle["text"].tolist()

    def test_bucket_cols_must_be_primary_key(self):
        with pytest.raises(ValueError, match="primary-key"):
            BucketedParquetMergeTarget("/tmp/x", TRANSCRIPTS, bucket_cols=("text",))

    def test_resume_mid_stream(self, spark, changelog, tmp_path):
        _, outdir, oracle = changelog
        store = str(tmp_path / "resume")
        r1 = Replayer(spark, outdir, store, target=_bucketed(store))
        files = r1.pending_files()
        assert len(files) >= 2
        r1.run_batch(files[:1])  # then "crash"
        r2 = Replayer(spark, outdir, store, target=_bucketed(store))
        r2.replay(files_per_batch=1)
        state = _state_pdf(r2)
        assert state["text"].tolist() == oracle["text"].tolist()


class TestPruning:
    def test_wide_scan_lists_on_the_driver(self, spark, tmp_path):
        """A scan over more than 32 bucket dirs (the default threshold of
        Spark's parallel file listing) lists them on the driver: one
        ``read().count()`` runs no listing job."""
        tgt = _bucketed(str(tmp_path / "wide"), buckets=40)
        ts = datetime(2024, 1, 1)
        net = spark.createDataFrame(
            [(f"c{i}", 0, "insert", f"c{i}", 0, "user", "t", None, ts)
             for i in range(400)],
            "conv_id string, turn_idx int, op string, after_conv_id string, "
            "after_turn_idx int, after_role string, after_text string, "
            "after_tool string, after_ts timestamp",
        )
        v = tgt.merge(spark, net, 0)
        assert len(set(tgt._load_manifest(v).values())) == 40
        sc = spark.sparkContext
        sc.setJobGroup("wide-read", "wide-read")
        try:
            n = tgt.read(spark, v).count()
            jobs = len(sc.statusTracker().getJobIdsForGroup("wide-read"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the count's scan and its final aggregate; a listing job makes 3
        assert n == 400 and jobs <= 2

    def test_batch_rewrites_only_touched_buckets(self, spark, changelog, tmp_path):
        _, outdir, _ = changelog
        store = str(tmp_path / "prune")
        tgt = _bucketed(store, buckets=8)
        rep = Replayer(spark, outdir, store, target=tgt)
        rep.replay()  # version 1: full load (all buckets written)
        v1 = rep.ledger.current_snapshot_version()
        man1 = tgt._load_manifest(v1)
        assert set(man1) == set(range(8))  # every bucket live after load

        # hand-apply a net touching exactly one key
        state = tgt.read(spark, v1)
        row = state.orderBy("conv_id", "turn_idx").first()
        net = state.limit(0).select(
            "conv_id", "turn_idx",
            F.lit("update").alias("op"),
            *[F.col(c).alias(f"after_{c}") for c, _, _ in TRANSCRIPTS.columns],
        )
        one = spark.createDataFrame(
            [(row["conv_id"], row["turn_idx"], "update",
              row["conv_id"], row["turn_idx"], row["role"], "EDITED",
              row["tool"], row["ts"])],
            net.schema,
        )
        v2 = tgt.merge(spark, one, v1)
        man2 = tgt._load_manifest(v2)
        # exactly one bucket written (rewritten or appended to), and only
        # its entry names v2's files
        changed = [b for b in man2 if man2[b] != man1.get(b)]
        assert len(changed) == 1 and set(man2) == set(man1)
        assert [
            b for b, e in man2.items()
            if any(f"v{v2:08d}" in p for p in _entry_paths(e))
        ] == changed
        carried = {b: e for b, e in man2.items() if b not in changed}
        assert carried == {b: e for b, e in man1.items() if b in carried}
        # physical check: the v2 data dir holds a single bucket partition
        data_dir = os.path.join(tgt.snapshot_path(v2), "data")
        bucket_dirs = [d for d in os.listdir(data_dir) if d.startswith("_bucket=")]
        assert len(bucket_dirs) == 1
        # and the edit landed
        got = (
            tgt.read(spark, v2)
            .filter(
                (F.col("conv_id") == row["conv_id"])
                & (F.col("turn_idx") == row["turn_idx"])
            )
            .first()
        )
        assert got["text"] == "EDITED"
        assert tgt.read(spark, v2).count() == state.count()

    def test_delete_can_empty_a_bucket(self, spark, tmp_path):
        store = str(tmp_path / "del")
        tgt = _bucketed(store, buckets=2)
        rows = [(f"c{i}", 0, "user", f"t{i}", None, None) for i in range(8)]
        base = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )
        net0 = base.select(
            "conv_id", "turn_idx", F.lit("insert").alias("op"),
            *[F.col(c).alias(f"after_{c}") for c, _, _ in TRANSCRIPTS.columns],
        )
        v1 = tgt.merge(spark, net0, 0)
        man1 = tgt._load_manifest(v1)
        # delete every key of one live bucket
        some_bucket = sorted(man1)[0]
        doomed = base.withColumn("_b", tgt._bucket_expr()).filter(
            F.col("_b") == some_bucket
        )
        assert doomed.count() > 0
        net1 = doomed.select(
            "conv_id", "turn_idx", F.lit("delete").alias("op"),
            *[F.col(c).alias(f"after_{c}") for c, _, _ in TRANSCRIPTS.columns],
        )
        v2 = tgt.merge(spark, net1, v1)
        man2 = tgt._load_manifest(v2)
        assert some_bucket not in man2  # bucket emptied → dropped from manifest
        assert tgt.read(spark, v2).count() == 8 - doomed.count()


class TestGc:
    def test_gc_keeps_referenced_versions(self, spark, changelog, tmp_path):
        _, outdir, oracle = changelog
        store = str(tmp_path / "gc")
        tgt = _bucketed(store)
        rep = Replayer(spark, outdir, store, target=tgt)
        rep.replay(files_per_batch=1)
        v = rep.ledger.current_snapshot_version()
        assert v >= 2
        before = _state_pdf(rep)
        tgt.gc(keep_latest=1)
        root = os.path.join(store, "snapshots")
        kept = sorted(os.listdir(root))
        # versions referenced by the latest manifest survive the GC
        with open(os.path.join(root, f"v{v:08d}", "manifest.json")) as f:
            refs = {
                os.path.normpath(p).split(os.sep)[1]
                for e in json.load(f).values()
                for p in _entry_paths(e)
            }
        assert refs <= set(kept)
        pd.testing.assert_frame_equal(_state_pdf(rep), before)

    def test_replayer_gc_keep_bounds_store(self, spark, changelog, tmp_path):
        """gc_keep wired through Replayer: retention runs after every
        committed batch, the store holds only the newest gc_keep
        versions (plus manifest-referenced ones), state still equals
        the oracle, and the change feed over retained versions works."""
        _, outdir, oracle = changelog
        store = str(tmp_path / "auto_gc")
        tgt = _bucketed(store)
        rep = Replayer(spark, outdir, store, target=tgt, gc_keep=2)
        rep.replay(files_per_batch=1)
        v = rep.ledger.current_snapshot_version()
        assert v >= 3  # enough batches that gc had something to drop
        got = _state_pdf(rep)
        assert got["text"].tolist() == oracle["text"].tolist()
        root = os.path.join(store, "snapshots")
        kept = sorted(os.listdir(root))
        newest = {f"v{v:08d}", f"v{v - 1:08d}"}
        refs = set()
        for kept_v in (v, v - 1):
            with open(
                os.path.join(root, f"v{kept_v:08d}", "manifest.json")
            ) as f:
                refs |= {
                    os.path.normpath(p).split(os.sep)[1]
                    for e in json.load(f).values()
                    for p in _entry_paths(e)
                }
        assert set(kept) == newest | refs
        # change feed between the two retained versions still reads
        assert tgt.read_changes(spark, v - 1, v).count() >= 0
        # resume on the gc'd store is a clean no-op (the planner may
        # re-probe the tail segment for appended bytes; no events apply)
        rep2 = Replayer(spark, outdir, store, target=_bucketed(store), gc_keep=2)
        res = rep2.replay()
        assert res.events == 0
        pd.testing.assert_frame_equal(_state_pdf(rep2), got)

    def test_gc_keep_floor_validation(self, spark, tmp_path):
        from mysql_cdc_spark.pipeline.ivm import MaterializedAggView

        with pytest.raises(ValueError, match="gc_keep must be >= 2"):
            Replayer(spark, str(tmp_path / "b"), str(tmp_path / "s"), gc_keep=1)
        view = MaterializedAggView(
            str(tmp_path / "view"), group_cols=["role"],
            measures={"n_chars": "length(text)"},
        )
        with pytest.raises(ValueError, match="gc_keep must be >= 3"):
            Replayer(
                spark, str(tmp_path / "b"), str(tmp_path / "s2"),
                views=[view], gc_keep=2,
            )


class TestLayoutPersistence:
    """The bucket layout is per-snapshot metadata: a resume must merge
    with the layout the store was WRITTEN with, never with whatever the
    new session's constructor happened to choose (the Replayer default
    tracks defaultParallelism, so moving a store between cluster sizes —
    the north rule's N vs 4N — used to re-hash net keys into different
    buckets than the stored rows and leave duplicates)."""

    def test_resume_with_different_bucket_count_matches_oracle(
        self, spark, changelog, tmp_path
    ):
        import glob
        import shutil

        _, outdir, oracle = changelog
        files = sorted(glob.glob(os.path.join(outdir, "*")))
        half_dir = str(tmp_path / "binlog_half")
        os.makedirs(half_dir)
        for f in files[: len(files) // 2]:
            shutil.copy(f, half_dir)
        store = str(tmp_path / "resize")
        r1 = Replayer(spark, half_dir, store, target=_bucketed(store, buckets=32))
        r1.replay(files_per_batch=1)
        for f in files[len(files) // 2:]:
            shutil.copy(f, half_dir)
        # resume as if on a smaller cluster: constructor asks for 8 buckets,
        # but the store was written with 32 — the persisted layout must win
        r2 = Replayer(spark, half_dir, store, target=_bucketed(store, buckets=8))
        r2.replay(files_per_batch=1)
        assert r2.target.buckets == 32  # adopted, not the constructor's 8
        got = _state_pdf(r2)
        assert got["text"].tolist() == oracle["text"].tolist()
        dupes = got.groupby(["conv_id", "turn_idx"]).size()
        assert int((dupes > 1).sum()) == 0

    def test_rebucket_rewrites_layout_and_preserves_state(
        self, spark, changelog, tmp_path
    ):
        _, outdir, oracle = changelog
        store = str(tmp_path / "grow")
        rep = Replayer(spark, outdir, store, target=_bucketed(store, buckets=4))
        rep.replay(files_per_batch=2)
        v_before = rep.ledger.current_snapshot_version()
        before = _state_pdf(rep)
        new_v = rep.rebucket(16)
        assert new_v == v_before + 1
        # layout metadata committed with the snapshot
        with open(
            os.path.join(store, "snapshots", f"v{new_v:08d}", "bucketing.json")
        ) as f:
            layout = json.load(f)
        assert layout["buckets"] == 16
        # state identical, ledger read-mark unchanged, resume is a no-op
        pd.testing.assert_frame_equal(_state_pdf(rep), before)
        assert rep.ledger.last().metrics.get("maintenance") == "rebucket"
        rep2 = Replayer(spark, outdir, store, target=_bucketed(store))
        assert rep2.replay().events == 0
        # every live manifest bucket id fits the new layout
        with open(
            os.path.join(store, "snapshots", f"v{new_v:08d}", "manifest.json")
        ) as f:
            assert all(0 <= int(b) < 16 for b in json.load(f))
        # time travel to the pre-rebucket version still reads the old layout
        old = (
            rep2.read_state(version=v_before)
            .orderBy("conv_id", "turn_idx")
            .toPandas()
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(old, before)

    def test_rebucket_requires_bucketed_target(self, spark, changelog, tmp_path):
        _, outdir, _ = changelog
        store = str(tmp_path / "plainreb")
        rep = Replayer(
            spark, outdir, store,
            target=IcebergMergeTarget("cdc.db.transcripts", TRANSCRIPTS),
        )
        with pytest.raises(TypeError, match="rebucket"):
            rep.rebucket(8)
