"""Dead-letter quarantine (``on_decode_error='quarantine'``): an
undecodable ROW event must not wedge the pipeline — its rows are skipped,
a dead-letter record lands under <store>/quarantine/, the rest of the
stream (including the rest of the same transaction) still applies, and
the ledger advances past it. Debezium's
``event.processing.failure.handling.mode`` analog; the default ('fail')
keeps the reference's stop-on-error semantics (binlog_reader.rs stops on
any malformed frame).

Semantics pinned here: replay of a poisoned corpus under quarantine
equals replay of the same corpus with the poisoned event's operations
absent — event-grain loss, transaction-grain atomicity elsewhere.
"""

import glob
import os

import pandas as pd
import pytest

from mysql_cdc_spark.binlog.constants import EVENT_HEADER_SIZE
from mysql_cdc_spark.binlog.reader import BinlogFileReader
from mysql_cdc_spark.fixtures import generate_changelog, write_binlog_files
from mysql_cdc_spark.pipeline.replay import Replayer


def _gen_txns():
    return generate_changelog(
        n_conversations=12,
        max_turns=6,
        n_extra_ops=60,
        seed=11,
        evolve_after_frac=None,
        duplicate_txns=0,
    )


def _find_single_run_txn(txns):
    """A mid-stream txn whose ops are all one kind — written as exactly ONE
    rows event (fixtures flush same-kind runs together), so corrupting that
    event removes precisely this txn's operations."""
    for t in txns[len(txns) // 2 :]:
        kinds = {op.kind for op in t.ops}
        if len(kinds) == 1 and t.ops:
            return t
    raise AssertionError("fixture produced no single-run txn")


def _locate_event(binlog_dir, gtid_seq, kind):
    """(file, pos, event_length) of the rows event of the txn with
    ``gtid_seq`` — located on the CLEAN corpus where decode works."""
    for path in sorted(glob.glob(os.path.join(binlog_dir, "*"))):
        with open(path, "rb") as f:
            content = f.read()
        cur_seq = None
        for header, pos, k, event in BinlogFileReader(
            content, os.path.basename(path)
        ):
            if k in ("mysql_gtid", "mariadb_gtid"):
                cur_seq = (
                    event.get("transaction_id") or event.get("sequence")
                )
            elif k == kind and cur_seq == gtid_seq:
                return path, pos, header[3]
    raise AssertionError(f"event for txn {gtid_seq} not found")


def _corrupt(path, pos, event_length):
    """Overwrite the event's row data with 0xFF, keeping the 19-byte
    header (frame chain stays walkable) and the first 10 payload bytes
    (table_id + flags + v2 extra-data length) intact."""
    with open(path, "r+b") as f:
        start = pos + EVENT_HEADER_SIZE + 10
        end = pos + event_length - 4  # leave the (unverified) CRC32 alone
        assert end > start
        f.seek(start)
        f.write(b"\xff" * (end - start))


_KIND_OF = {"insert": "write_rows", "update": "update_rows", "delete": "delete_rows"}


@pytest.fixture(scope="module")
def poisoned(tmp_path_factory):
    txns = _gen_txns()
    target_txn = _find_single_run_txn(txns)
    ev_kind = _KIND_OF[target_txn.ops[0].kind]

    dir_a = str(tmp_path_factory.mktemp("binlog_poisoned"))
    write_binlog_files(txns, dir_a, txns_per_file=25)
    path, pos, elen = _locate_event(dir_a, target_txn.seq, ev_kind)
    _corrupt(path, pos, elen)

    # the same stream with the poisoned event's operations absent — what
    # quarantine replay must reconstruct
    dir_b = str(tmp_path_factory.mktemp("binlog_expected"))
    write_binlog_files(
        [t for t in txns if t.seq != target_txn.seq], dir_b, txns_per_file=25
    )
    return {
        "dir_a": dir_a,
        "dir_b": dir_b,
        "txn": target_txn,
        "src_file": os.path.basename(path),
        "pos": pos,
    }


def _state_pdf(rep):
    return (
        rep.read_state()
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )


def test_default_fail_raises(spark, poisoned, tmp_path):
    rep = Replayer(spark, poisoned["dir_a"], str(tmp_path / "s"), salt_buckets=2)
    with pytest.raises(Exception):
        rep.replay()


def test_quarantine_replays_rest(spark, poisoned, tmp_path):
    store_a = str(tmp_path / "a")
    store_b = str(tmp_path / "b")
    rep_a = Replayer(
        spark, poisoned["dir_a"], store_a, salt_buckets=2,
        on_decode_error="quarantine",
    )
    rep_a.replay()
    rep_b = Replayer(spark, poisoned["dir_b"], store_b, salt_buckets=2)
    rep_b.replay()

    got = _state_pdf(rep_a)
    want = _state_pdf(rep_b)
    assert len(got) == len(want)
    for col in ["conv_id", "turn_idx", "role", "text"]:
        assert got[col].tolist() == want[col].tolist(), f"column {col}"

    # dead-letter record: exact position + enclosing GTID for re-drive
    q = rep_a.read_quarantine().toPandas()
    assert len(q) == 1
    assert q.loc[0, "src_file"] == poisoned["src_file"]
    assert int(q.loc[0, "pos"]) == poisoned["pos"]
    assert int(q.loc[0, "gtid_seq"]) == poisoned["txn"].seq
    assert q.loc[0, "error"]

    # the poisoned txn applied NO rows, so its GTID is deliberately NOT
    # covered: after an upstream fix re-emits the transaction (at a later
    # position), the covered-set anti-join lets its rows through and the
    # re-drive applies them. (A txn that applied SOME events before one
    # was quarantined IS covered by its surviving rows — re-driving that
    # shape needs a position-scoped re-decode instead; the dead-letter
    # record carries the exact (file, pos) for it.) The read high-water
    # mark still advances past the poisoned bytes — replay is not wedged.
    covered = rep_a.ledger.covered_gtid_set()
    src = str(q.loc[0, "gtid_source"])
    assert not covered.contains(src, poisoned["txn"].seq)
    max_file, max_pos = rep_a.ledger.max_position()
    assert (max_file, max_pos) >= (poisoned["src_file"], poisoned["pos"])

    # idempotence: a fresh resume over the same store sees nothing new
    before = len(rep_a.ledger.entries())
    rep_a2 = Replayer(
        spark, poisoned["dir_a"], store_a, salt_buckets=2,
        on_decode_error="quarantine",
    )
    rep_a2.replay()
    got2 = _state_pdf(rep_a2)
    assert got2[["conv_id", "turn_idx", "text"]].equals(
        got[["conv_id", "turn_idx", "text"]]
    )
    assert len(rep_a2.read_quarantine().toPandas()) == 1
    assert len(rep_a2.ledger.entries()) >= before  # no state regression


def test_quarantine_scalar_path(spark, poisoned, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_CDC_SCALAR_DECODE", "1")
    store = str(tmp_path / "s")
    rep = Replayer(
        spark, poisoned["dir_a"], store, salt_buckets=2,
        on_decode_error="quarantine",
    )
    rep.replay()
    q = rep.read_quarantine().toPandas()
    assert len(q) == 1 and int(q.loc[0, "pos"]) == poisoned["pos"]


def test_rejects_unknown_policy(spark, poisoned, tmp_path):
    with pytest.raises(ValueError):
        Replayer(
            spark, poisoned["dir_a"], str(tmp_path / "x"),
            on_decode_error="ignore",
        )


def test_structural_corruption_still_fails(spark, tmp_path):
    """A corrupt TABLE_MAP is not quarantinable — decoding past it would
    silently mis-associate every row after it."""
    txns = _gen_txns()
    d = str(tmp_path / "binlog")
    write_binlog_files(txns, d, txns_per_file=25)
    path = sorted(glob.glob(os.path.join(d, "*")))[0]
    with open(path, "rb") as f:
        content = f.read()
    tm = None
    for header, pos, k, event in BinlogFileReader(content, "x"):
        if k == "table_map":
            tm = (pos, header[3])
            break
    assert tm is not None
    _corrupt(path, tm[0], tm[1])
    rep = Replayer(
        spark, d, str(tmp_path / "s"), salt_buckets=2,
        on_decode_error="quarantine",
    )
    with pytest.raises(Exception):
        rep.replay()


def test_redrive_after_upstream_fix(spark, tmp_path):
    """DLQ reprocessing: fix the bytes in place, redrive_quarantine()
    re-applies exactly the dead events through the outrank guard, clears
    the records, covers the gtids, and converges to the clean-replay
    oracle."""
    from mysql_cdc_spark.fixtures import apply_changelog_oracle
    from mysql_cdc_spark.pipeline.target import OrderedBucketedMergeTarget

    txns = _gen_txns()
    t = _find_single_run_txn(txns)
    kind = _KIND_OF[t.ops[0].kind]
    d = str(tmp_path / "binlog")
    write_binlog_files(txns, d, txns_per_file=25)
    path, pos, elen = _locate_event(d, t.seq, kind)
    with open(path, "rb") as f:
        clean = f.read()
    _corrupt(path, pos, elen)

    store = str(tmp_path / "store")
    rep = Replayer(
        spark, d, store, salt_buckets=2,
        target=OrderedBucketedMergeTarget(store, buckets=8),
        on_decode_error="quarantine",
    )
    rep.replay()
    assert rep.read_quarantine().count() == 1

    # bytes still broken: redrive stays pending, record survives
    assert rep.redrive_quarantine() == 0
    assert rep.read_quarantine().count() == 1

    # upstream fix lands in place
    with open(path, "wb") as f:
        f.write(clean)
    n = rep.redrive_quarantine()
    assert n == len(t.ops)
    assert rep.read_quarantine().count() == 0

    got = _state_pdf(rep)
    want = apply_changelog_oracle(txns)
    assert got["text"].tolist() == want["text"].tolist()

    # the re-driven txn's gtid is covered now; nothing left to redrive
    last = rep.ledger.last()
    assert last.metrics.get("redrive") is True
    # the entry records a batch entry's write facts
    for key in (
        "net_rows", "merge_s", "bytes_written", "buckets_written",
        "buckets_rewritten", "buckets_appended", "positions_deleted",
        "max_chain",
    ):
        assert key in last.metrics, key
    assert last.metrics["net_rows"] == len({tuple((o.after or o.before)[:2]) for o in t.ops})
    assert last.metrics["bytes_written"] > 0 and last.metrics["buckets_written"] > 0
    covered = rep.ledger.covered_gtid_set()
    src = [s for s in covered.uuid_sets][0]
    assert covered.contains(src, t.seq)
    assert rep.redrive_quarantine() == 0

    # and a fresh resume applies nothing new (exactly-once holds)
    rep2 = Replayer(
        spark, d, store, salt_buckets=2,
        target=OrderedBucketedMergeTarget(store, buckets=8),
        on_decode_error="quarantine",
    )
    rep2.replay()
    assert _state_pdf(rep2)["text"].tolist() == want["text"].tolist()


def test_redrive_requires_ordered_target(spark, poisoned, tmp_path):
    rep = Replayer(
        spark, poisoned["dir_a"], str(tmp_path / "s"), salt_buckets=2,
        on_decode_error="quarantine",
    )
    rep.replay()
    with pytest.raises(TypeError):
        rep.redrive_quarantine()


def test_redrive_refuses_scd2_history(spark, tmp_path):
    """An SCD2 history closes each stored current row with a batch's
    first event per key, so it cannot take a re-driven (out-of-order)
    event: redrive raises before it decodes anything — the record names
    a segment that does not exist, so any decode would fail otherwise."""
    from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS
    from mysql_cdc_spark.pipeline.scd2 import Scd2HistoryStore
    from mysql_cdc_spark.pipeline.target import OrderedBucketedMergeTarget

    store = str(tmp_path / "s")
    os.makedirs(tmp_path / "binlog")
    rep = Replayer(
        spark, str(tmp_path / "binlog"), store,
        target=OrderedBucketedMergeTarget(store, buckets=2),
        history=Scd2HistoryStore(str(tmp_path / "h"), TRANSCRIPTS, buckets=2),
        on_decode_error="quarantine",
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(store, "quarantine"))
    pq.write_table(
        pa.table({
            "src_file": ["binlog.000099"],
            "pos": pa.array([4], pa.int64()),
            "event_type": pa.array([30], pa.int32()),
            "payload_len": pa.array([64], pa.int32()),
            "gtid_source": pa.array([None], pa.string()),
            "gtid_seq": pa.array([None], pa.int64()),
            "error": ["corrupt rows event"],
        }),
        os.path.join(store, "quarantine", "binlog.000099.parquet"),
    )
    assert rep.read_quarantine().count() == 1
    with pytest.raises(TypeError, match="SCD2 history"):
        rep.redrive_quarantine()


@pytest.mark.parametrize("writer", ["redrive", "frames"])
def test_writer_applies_column_defaults(spark, tmp_path, writer):
    """A row logged before an instant ``ADD COLUMN ... DEFAULT`` reads
    the default through every writer, as it does through ``run_batch``:
    re-driven from quarantine, and streamed from the frame source."""
    import dataclasses

    from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS
    from mysql_cdc_spark.binlog.frames import split_segment_frames
    from mysql_cdc_spark.fixtures import Op, Txn, _row
    from mysql_cdc_spark.pipeline.target import OrderedBucketedMergeTarget
    from mysql_cdc_spark.streaming.stream import (
        read_stream_state,
        stream_apply_frames,
    )

    spec = dataclasses.replace(TRANSCRIPTS, defaults=(("tool", "'none'"),))
    txns = [
        Txn(seq=1, ops=[Op("insert", None, _row("a", 0, "user", "x" * 40, 1_000))]),
        Txn(seq=2, ops=[Op("insert", None, _row("b", 0, "user", "y" * 40, 2_000))]),
        Txn(seq=3, evolved=True, ops=[Op(
            "insert", None,
            _row("c", 0, "user", "z", 3_000, tool="search", evolved=True),
        )]),
    ]
    d = str(tmp_path / "binlog")
    paths = write_binlog_files(txns, d, txns_per_file=10)
    store = str(tmp_path / "store")
    target = OrderedBucketedMergeTarget(store, spec, buckets=2)
    if writer == "redrive":
        path, pos, elen = _locate_event(d, 2, "write_rows")
        with open(path, "rb") as f:
            clean = f.read()
        _corrupt(path, pos, elen)
        rep = Replayer(
            spark, d, store, spec=spec, target=target,
            on_decode_error="quarantine",
        )
        rep.replay()
        with open(path, "wb") as f:
            f.write(clean)
        assert rep.redrive_quarantine() == 1
        state = rep.read_state()
    else:
        rows = []
        for p in paths:
            with open(p, "rb") as f:
                rows += [
                    (os.path.basename(p), off, bytearray(frame))
                    for off, frame in split_segment_frames(f.read())
                ]
        frames_dir = str(tmp_path / "frames")
        spark.createDataFrame(
            rows, "stream string, offset long, frame binary"
        ).coalesce(1).write.parquet(frames_dir)
        stream_apply_frames(
            spark, frames_dir, store, spec=spec, target=target
        ).awaitTermination(180)
        state = read_stream_state(spark, store, spec)
    got = {r["conv_id"]: r["tool"] for r in state.collect()}
    assert got == {"a": "none", "b": "none", "c": "search"}
