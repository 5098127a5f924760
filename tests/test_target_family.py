"""Persisted target-family stamping (``target_family.json``).

A store must be REOPENED with the target family that wrote it; sniffing
manifest value shapes / parquet schemas cannot distinguish every case
(the canonical hole: a truncated merge-on-read store's empty ``{}``
manifest looks exactly like copy-on-write). Each family stamps the store
at commit time (last committing family wins — adoption re-stamps) and
``target.open_store`` — behind ``Replayer._detect_target`` and
``read_stream_state`` — dispatches on the stamp, falling back to the
layout sniff only for pre-stamp stores.
"""

import json
import os
import shutil
from datetime import datetime

import pytest

from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS, TableSpec
from mysql_cdc_spark.pipeline.mor import (
    MergeOnReadBucketedTarget,
    OrderedMergeOnReadTarget,
)
from mysql_cdc_spark.pipeline.replay import Replayer
from mysql_cdc_spark.pipeline.target import (
    BucketedParquetMergeTarget,
    OrderedBucketedMergeTarget,
    load_target_family,
    open_store,
    target_class_for_family,
)

TS = datetime(2024, 1, 1)

NET_SCHEMA = (
    "conv_id string, turn_idx int, op string, after_role string, "
    "after_text string, after_tool string, after_ts timestamp, "
    "gtid_seq long, pos long, row_in_event int"
)


def _net(spark, rows):
    return spark.createDataFrame(rows, NET_SCHEMA)


def _row(text="t", seq=1):
    return ("c", 0, "insert", "user", text, None, TS, seq, seq * 10, 0)


def test_first_commit_stamps_family(spark, tmp_path):
    for cls, family in [
        (BucketedParquetMergeTarget, "bucketed_cow"),
        (OrderedBucketedMergeTarget, "ordered_bucketed_cow"),
        (MergeOnReadBucketedTarget, "mor"),
        (OrderedMergeOnReadTarget, "ordered_mor"),
    ]:
        store = str(tmp_path / family)
        tgt = cls(store, TRANSCRIPTS, buckets=4)
        tgt.merge(spark, _net(spark, [_row()]), 0)
        assert load_target_family(store) == family
        assert target_class_for_family(family) is cls


def test_stamp_is_stable_for_same_family(spark, tmp_path):
    store = str(tmp_path / "st")
    tgt = MergeOnReadBucketedTarget(store, TRANSCRIPTS, buckets=4)
    v = tgt.merge(spark, _net(spark, [_row()]), 0)
    tgt.merge(spark, _net(spark, [_row("u", 2)]), v)
    assert load_target_family(store) == "mor"


def test_adoption_restamps_to_the_committing_family(spark, tmp_path):
    """A CoW-started store ADOPTED by a merge-on-read target (the
    documented str-entry manifest conversion) must re-stamp on the MoR
    commit — last committing family owns the store — so a later resume
    without explicit target= reopens it through the MoR loader (a stale
    CoW stamp would read the dict-valued manifest as paths)."""
    store = str(tmp_path / "st")
    cow = BucketedParquetMergeTarget(store, TRANSCRIPTS, buckets=4)
    v = cow.merge(spark, _net(spark, [_row("base", 1)]), 0)
    assert load_target_family(store) == "bucketed_cow"
    mor = MergeOnReadBucketedTarget(store, TRANSCRIPTS, buckets=4)
    v2 = mor.merge(spark, _net(spark, [_row("delta", 2)]), v)
    assert load_target_family(store) == "mor"
    picked = Replayer._detect_target(store, TRANSCRIPTS, spark)
    assert type(picked) is MergeOnReadBucketedTarget
    assert picked.read(spark, v2).toPandas()["text"].tolist() == ["delta"]


def test_truncated_mor_store_resumes_as_mor(spark, tmp_path):
    """The sniffing hole the stamp closes: an empty {} MoR manifest is
    indistinguishable from CoW by shape, so a truncated MoR store resumed
    without explicit target= used to continue as copy-on-write, breaking
    time travel over the earlier dict-manifest snapshots."""
    store = str(tmp_path / "st")
    tgt = MergeOnReadBucketedTarget(store, TRANSCRIPTS, buckets=4)
    v = tgt.merge(spark, _net(spark, [_row()]), 0)
    # metadata-only truncate: a fresh empty manifest commit
    tgt._write_meta(v + 1, {})
    with open(tgt._manifest_path(v + 1)) as f:
        assert json.load(f) == {}
    picked = Replayer._detect_target(store, TRANSCRIPTS, spark)
    assert type(picked) is MergeOnReadBucketedTarget
    # and the pre-truncate snapshot stays time-travel-readable
    assert picked.read(spark, v).count() == 1


def test_detect_prefers_stamp_over_sniff(spark, tmp_path):
    store = str(tmp_path / "st")
    tgt = OrderedMergeOnReadTarget(store, TRANSCRIPTS, buckets=4)
    tgt.merge(spark, _net(spark, [_row()]), 0)
    picked = Replayer._detect_target(store, TRANSCRIPTS, spark)
    assert type(picked) is OrderedMergeOnReadTarget


def test_legacy_store_without_stamp_still_sniffs(spark, tmp_path):
    """Stores written before stamping existed carry no marker — the
    layout sniff must still resolve them."""
    store = str(tmp_path / "st")
    tgt = MergeOnReadBucketedTarget(store, TRANSCRIPTS, buckets=4)
    tgt.merge(spark, _net(spark, [_row()]), 0)
    os.remove(os.path.join(store, "target_family.json"))
    picked = Replayer._detect_target(store, TRANSCRIPTS, spark)
    assert type(picked) is MergeOnReadBucketedTarget


def test_read_stream_state_dispatches_on_stamp(spark, tmp_path):
    from mysql_cdc_spark.streaming.stream import read_stream_state

    store = str(tmp_path / "st")
    tgt = OrderedMergeOnReadTarget(store, TRANSCRIPTS, buckets=4)
    v = tgt.merge(spark, _net(spark, [_row("hello", 5)]), 0)
    # mirror the stream layout: snapshots under <store>/snapshots/vNNNNNNNN
    got = read_stream_state(spark, store)
    assert got.count() == 1
    assert got.toPandas()["text"].tolist() == ["hello"]
    # truncate to an empty manifest: stamp keeps the MoR loader
    tgt._write_meta(v + 1, {})
    assert read_stream_state(spark, store).count() == 0


STATE_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)


def _layout_buckets(tgt, version: int) -> int:
    with open(os.path.join(tgt.snapshot_path(version), "bucketing.json")) as f:
        return json.load(f)["buckets"]


def test_legacy_unbucketed_stores_open_and_continue(spark, tmp_path):
    """Stores of the retired unbucketed layouts (families ``cow`` and
    ``ordered_cow``): each snapshot is a bare keyed parquet directory the
    Spark committer marked with ``_SUCCESS``, no manifest. The opener reads
    them through the bucketed classes (one unpruned bucket), and a further
    merge rewrites that state into the constructor's bucket layout."""
    live = [("a", 0, "user", "A0", None, TS), ("b", 0, "user", "B0", None, TS)]

    cow = str(tmp_path / "cow")
    snap = os.path.join(cow, "snapshots", "v00000001")
    spark.createDataFrame(live, STATE_SCHEMA).write.parquet(snap)
    with open(os.path.join(cow, "target_family.json"), "w") as f:
        json.dump({"family": "cow"}, f)
    tgt = open_store(cow, TRANSCRIPTS)
    assert type(tgt) is BucketedParquetMergeTarget
    assert sorted(r["text"] for r in tgt.read(spark, 1).collect()) == ["A0", "B0"]
    v = tgt.merge(spark, _net(spark, [("a", 0, "update", "user", "A1", None, TS, 2, 20, 0)]), 1)
    got = sorted((r["conv_id"], r["text"]) for r in tgt.read(spark, v).collect())
    assert got == [("a", "A1"), ("b", "B0")]
    assert _layout_buckets(tgt, v) == 64  # the constructor default
    assert type(Replayer._detect_target(cow, TRANSCRIPTS, spark)) is BucketedParquetMergeTarget

    # ordered form: order tuples plus a tombstone for key c
    ordered = str(tmp_path / "ordered_cow")
    snap = os.path.join(ordered, "snapshots", "v00000001")
    rows = [r + (5, 50, 0, False) for r in live] + [
        ("c", 0, None, None, None, None, 9, 90, 0, True)
    ]
    spark.createDataFrame(
        rows,
        STATE_SCHEMA + ", _ord_gtid_seq long, _ord_pos long, "
        "_ord_row_in_event long, _deleted boolean",
    ).write.parquet(snap)
    with open(os.path.join(ordered, "target_family.json"), "w") as f:
        json.dump({"family": "ordered_cow"}, f)
    tgt = open_store(ordered, TRANSCRIPTS)
    assert type(tgt) is OrderedBucketedMergeTarget
    assert sorted(r["text"] for r in tgt.read(spark, 1).collect()) == ["A0", "B0"]
    v = tgt.merge(
        spark,
        _net(spark, [
            ("a", 0, "update", "user", "A1", None, TS, 7, 70, 0),  # outranks
            ("b", 0, "update", "user", "OLD", None, TS, 3, 30, 0),  # loses
            ("c", 0, "insert", "user", "ZOMBIE", None, TS, 8, 80, 0),  # below tombstone
        ]),
        1,
    )
    got = sorted((r["conv_id"], r["text"]) for r in tgt.read(spark, v).collect())
    assert got == [("a", "A1"), ("b", "B0")]
    assert _layout_buckets(tgt, v) == 64
    # unstamped, the one sniff finds the order columns in the bare directory
    os.remove(os.path.join(ordered, "target_family.json"))
    shutil.rmtree(tgt.snapshot_path(v))
    assert type(open_store(ordered, TRANSCRIPTS)) is OrderedBucketedMergeTarget


def test_open_store_is_none_for_fresh_or_torn_only_store(tmp_path):
    store = str(tmp_path / "st")
    assert open_store(store, TRANSCRIPTS) is None
    os.makedirs(os.path.join(store, "snapshots", "v00000001", "data", "_bucket=0"))
    assert open_store(store, TRANSCRIPTS) is None


# the schema before an additive evolution added ``tool``
NARROW = TableSpec(
    database=TRANSCRIPTS.database,
    table=TRANSCRIPTS.table,
    columns=tuple(c for c in TRANSCRIPTS.columns if c[0] != "tool"),
    primary_key=TRANSCRIPTS.primary_key,
)


@pytest.mark.parametrize(
    "cls",
    [
        BucketedParquetMergeTarget,
        OrderedBucketedMergeTarget,
        MergeOnReadBucketedTarget,
        OrderedMergeOnReadTarget,
    ],
)
def test_store_written_before_a_column_reads_through_the_wider_spec(
    spark, tmp_path, cls
):
    """Every family reads files written before ``tool`` existed through
    its declared stored schema: the missing column reads as NULL, a
    tombstone stays deleted, and a merge-on-read delta still outranks the
    base it was written over."""
    store = str(tmp_path / "st")
    narrow = cls(store, NARROW, buckets=4)
    narrow_net = NET_SCHEMA.replace("after_tool string, ", "")

    def merge(tgt, schema, rows, v):
        return tgt.merge(spark, spark.createDataFrame(rows, schema), v)

    v = merge(narrow, narrow_net, [
        (f"k{i}", 0, "insert", "user", f"t{i}", TS, 1, 10 + i, 0)
        for i in range(8)
    ], 0)
    if hasattr(narrow, "compact"):  # narrow base files under the deltas
        v = narrow.compact(spark, v)
    v = merge(narrow, narrow_net, [
        ("k1", 0, "update", "user", "t1b", TS, 2, 20, 0),
        ("k2", 0, "delete", None, None, None, 2, 21, 0),
    ], v)

    wide = cls(store, TRANSCRIPTS, buckets=4)
    ordered = hasattr(wide, "order_cols")
    net = [
        ("k0", 0, "update", "user", "t0b", "grep", TS, 3, 30, 0),
        ("k8", 0, "insert", "user", "t8", "ls", TS, 3, 31, 0),
    ]
    if ordered:  # a redelivered insert ranked below k2's tombstone
        net.append(("k2", 0, "insert", "user", "zombie", None, TS, 1, 12, 0))
    untouched = set(wide._load_manifest(v)) - set(
        wide._touched_buckets(_net(spark, net))
    )
    assert untouched  # some buckets keep their narrow files by reference
    v = merge(wide, NET_SCHEMA, net, v)

    got = {
        r["conv_id"]: (r["text"], r["tool"])
        for r in wide.read(spark, v).collect()
    }
    want = {f"k{i}": (f"t{i}", None) for i in range(3, 8)}
    want.update(k0=("t0b", "grep"), k1=("t1b", None), k8=("t8", "ls"))
    assert got == want
    if ordered:
        full = {r["conv_id"]: r for r in wide.read_with_order(spark, v).collect()}
        assert full["k2"]["_deleted"] and full["k2"]["_ord_gtid_seq"] == 2
