"""Persisted target-family stamping (``target_family.json``), and the
encoding every family writes its store files in.

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
from mysql_cdc_spark.fixtures import (
    apply_changelog_oracle,
    generate_changelog,
    write_binlog_files,
)
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


# ------------------------------------------------------------ file encoding


def _file_formats(paths) -> set:
    """(codec, ts physical type, ts converted type) of every column chunk
    of every parquet file under ``paths``, from the footers."""
    import pyarrow.parquet as pq

    out = set()
    for top in paths:
        for root, _dirs, names in os.walk(top):
            for n in names:
                if not n.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(root, n)).metadata
                ts = md.schema.column(md.schema.names.index("ts"))
                for rg in range(md.num_row_groups):
                    for c in range(md.num_columns):
                        out.add((
                            md.row_group(rg).column(c).compression,
                            ts.physical_type,
                            ts.converted_type,
                        ))
    return out


NEW_FORMAT = {("ZSTD", "INT64", "TIMESTAMP_MICROS")}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, n))
        for root, _dirs, names in os.walk(path)
        for n in names
    )


def _bucket_dirs(path: str) -> list:
    return [
        root for root, _dirs, _names in os.walk(path)
        if os.path.basename(root).startswith("_bucket=")
    ]


@pytest.fixture(scope="module")
def two_segments(tmp_path_factory):
    txns = generate_changelog(
        n_conversations=8, max_turns=4, n_extra_ops=30, seed=7
    )
    outdir = str(tmp_path_factory.mktemp("binlog_format"))
    write_binlog_files(txns, outdir, txns_per_file=(len(txns) + 1) // 2)
    assert len(os.listdir(outdir)) == 2
    return outdir, apply_changelog_oracle(txns)


@pytest.mark.parametrize(
    "cls",
    [
        BucketedParquetMergeTarget,
        OrderedBucketedMergeTarget,
        MergeOnReadBucketedTarget,
    ],
)
def test_every_store_write_is_zstd_with_micros_ts(spark, two_segments, tmp_path, cls):
    """A two-batch replay (base, then a delta on merge-on-read) and a
    maintenance rewrite (``compact`` on merge-on-read, ``rebucket``
    otherwise): every file under ``snapshots/`` is zstd with ``ts`` as
    INT64 TIMESTAMP_MICROS, and each ledger entry records the bytes and
    bucket dirs of the snapshot dirs it created."""
    outdir, oracle = two_segments
    store = str(tmp_path / "st")
    rep = Replayer(spark, outdir, store, target=cls(store, TRANSCRIPTS, buckets=4))
    assert len(rep.replay(files_per_batch=1).batches) == 2
    if hasattr(rep.target, "compact"):
        assert any(e["deltas"] for e in rep.target._load_manifest(2).values())
        rep.compact()
    else:
        rep.rebucket(2)

    got = rep.read_state().orderBy("conv_id", "turn_idx").toPandas()
    assert got["text"].tolist() == oracle["text"].tolist()
    assert got["ts"].tolist() == oracle["ts"].tolist()
    assert _file_formats([os.path.join(store, "snapshots")]) == NEW_FORMAT

    entries = rep.ledger.entries()
    assert [e.snapshot_version for e in entries] == [1, 2, 3]
    for e in entries:
        snap = rep.target.snapshot_path(e.snapshot_version)
        assert e.metrics["bytes_written"] == _dir_bytes(snap) > 0
        assert e.metrics["buckets_written"] == len(_bucket_dirs(snap)) > 0


def test_snappy_int96_store_merges_under_the_new_writer(spark, tmp_path):
    """A store whose files were written with Spark's default encoding
    (snappy pages, INT96 ``ts``) needs no migration: a merge rewrites the
    buckets it touches in the new encoding, keeps the others by reference,
    and the mixed store reads back microsecond-exact."""
    store = str(tmp_path / "st")
    tgt = BucketedParquetMergeTarget(store, TRANSCRIPTS, buckets=4)

    def ts(i):
        return datetime(2024, 1, 1, 12, 0, i, 100_001 + 7 * i)

    v1 = tgt.merge(spark, _net(spark, [
        (f"k{i}", 0, "insert", "user", f"t{i}", None, ts(i), 1, 10 + i, 0)
        for i in range(8)
    ]), 0)
    old = {
        "spark.sql.parquet.compression.codec": "snappy",
        "spark.sql.parquet.outputTimestampType": "INT96",
    }
    saved = {k: spark.conf.get(k) for k in old}
    for k, val in old.items():
        spark.conf.set(k, val)
    try:
        for d in _bucket_dirs(tgt.snapshot_path(v1)):
            spark.read.parquet(d).write.parquet(d + ".old")
            shutil.rmtree(d)
            os.rename(d + ".old", d)
    finally:
        for k, val in saved.items():
            spark.conf.set(k, val)
    assert {f[:2] for f in _file_formats([tgt.snapshot_path(v1)])} == {
        ("SNAPPY", "INT96")
    }

    net = [
        ("k1", 0, "update", "user", "t1b", "grep", ts(41), 2, 20, 0),
        ("k8", 0, "insert", "user", "t8", None, ts(8), 2, 21, 0),
    ]
    untouched = set(tgt._load_manifest(v1)) - set(
        tgt._touched_buckets(_net(spark, net))
    )
    assert untouched
    v2 = tgt.merge(spark, _net(spark, net), v1)

    got = {
        r["conv_id"]: (r["text"], r["tool"], r["ts"])
        for r in tgt.read(spark, v2).collect()
    }
    want = {f"k{i}": (f"t{i}", None, ts(i)) for i in range(9)}
    want["k1"] = ("t1b", "grep", ts(41))
    assert got == want
    assert _file_formats([tgt.snapshot_path(v2)]) == NEW_FORMAT
    manifest = tgt._load_manifest(v2)
    assert {f[:2] for f in _file_formats(
        [os.path.join(store, manifest[b]) for b in untouched]
    )} == {("SNAPPY", "INT96")}


def test_int96_session_still_writes_micros(spark, tmp_path):
    """The bucket write and the view write set ``ts`` to INT64
    TIMESTAMP_MICROS for themselves: under a session that asks for INT96
    both write micros, and the session reads INT96 again afterwards."""
    from mysql_cdc_spark.pipeline.ivm import MaterializedAggView

    key = "spark.sql.parquet.outputTimestampType"
    store = str(tmp_path / "st")
    tgt = BucketedParquetMergeTarget(store, TRANSCRIPTS, buckets=2)
    view = MaterializedAggView(
        str(tmp_path / "view"), group_cols=["ts"],
        measures={"n_chars": "length(text)"},
    )
    saved = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        v = tgt.merge(spark, _net(spark, [
            (f"k{i}", 0, "insert", "user", f"t{i}", None, TS, 1, 10 + i, 0)
            for i in range(4)
        ]), 0)
        view.refresh(spark, tgt, v)
        assert spark.conf.get(key) == "INT96"
    finally:
        spark.conf.set(key, saved)
    formats = _file_formats([store, str(tmp_path / "view")])
    assert {f[1:] for f in formats} == {("INT64", "TIMESTAMP_MICROS")}
    assert {r["ts"] for r in tgt.read(spark, v).collect()} == {TS}
