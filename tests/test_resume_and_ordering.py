"""Regression tests for the round-1 review findings (ADVICE.md):

1. Position resume predicate applied unconditionally — a FromPosition seed
   must never be bypassed once the GTID ledger becomes non-empty
   (pre-seed transactions carry GTIDs the ledger never covered; only the
   monotone (file, pos) predicate can exclude them on a seed-segment
   re-read).
2. FromEnd on a MariaDB stream seeds the GtidSet from MARIADB_GTID events.
3. Integer signedness reinterpretation only when the SIGNEDNESS metadata
   section is present (reference decodes raw unsigned; MINIMAL row
   metadata omits the section).
4. Streaming apply is order-aware across triggers (an out-of-order older
   changelog file cannot regress state).
5. Segment ordering/comparison by numeric suffix (digit growth:
   binlog.999999 → binlog.1000000).
"""

from __future__ import annotations

import os

from datetime import datetime

import pandas as pd
import pytest

from mysql_cdc_spark.binlog.constants import ColumnType
from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS, _segment_sort_key
from mysql_cdc_spark.binlog.encoder import BinlogWriter
from mysql_cdc_spark.binlog.reader import BinlogFileReader
from mysql_cdc_spark.fixtures import (
    apply_changelog_oracle,
    generate_changelog,
    write_binlog_files,
)
from mysql_cdc_spark.pipeline.replay import Replayer
from mysql_cdc_spark.pipeline.start import FromEnd, FromPosition
from mysql_cdc_spark.pipeline.target import OrderedBucketedMergeTarget


def _state_pdf(rep: Replayer) -> pd.DataFrame:
    return (
        rep.read_state().orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    )


def _assert_texts_equal(state: pd.DataFrame, oracle: pd.DataFrame):
    assert len(state) == len(oracle)
    assert state["text"].tolist() == oracle["text"].tolist()


def _pos_after_k_txns(path: str, k: int) -> int:
    """Byte position just after the k-th committed transaction (its XID)."""
    with open(path, "rb") as f:
        content = f.read()
    seen = 0
    for header, _pos, kind, _event in BinlogFileReader(content, os.path.basename(path)):
        if kind == "xid":
            seen += 1
            if seen == k:
                return header[4]  # next_event_position
    raise AssertionError(f"fewer than {k} transactions in {path}")


class TestPositionResume:
    def test_from_position_mid_file_seed_survives_reread(self, spark, tmp_path):
        """ADVICE #1: after a mid-file FromPosition seed, a re-read of the
        seed segment once GTIDs are committed must NOT replay pre-seed
        transactions (they are not in the covered GtidSet; only the
        unconditional position predicate excludes them)."""
        txns = generate_changelog(
            n_conversations=12, max_turns=4, n_extra_ops=30, seed=5,
            duplicate_txns=0, evolve_after_frac=0.5,
        )
        outdir = str(tmp_path / "binlog")
        paths = write_binlog_files(txns, outdir, txns_per_file=14)
        assert len(paths) >= 2
        k = 5
        seed_pos = _pos_after_k_txns(paths[0], k)
        store = str(tmp_path / "store")
        rep = Replayer(
            spark, outdir, store,
            start=FromPosition(os.path.basename(paths[0]), seed_pos),
        )
        rep.replay(files_per_batch=1)
        want = apply_changelog_oracle(txns[k:])
        _assert_texts_equal(_state_pdf(rep), want)

        # adversarial seed-segment re-read with a now-populated GtidSet:
        # without the unconditional position predicate the pre-seed
        # transactions pass the anti-join and regress merged state
        res = rep.run_batch([os.path.basename(paths[0])])
        assert res.events == 0
        _assert_texts_equal(_state_pdf(rep), want)

    def test_mariadb_from_end_seeds_gtids(self, spark, tmp_path):
        """ADVICE #2: FromEnd on a MariaDB stream must seed the GtidSet from
        MARIADB_GTID events (not rely on the position seed alone)."""
        txns = generate_changelog(
            n_conversations=8, max_turns=4, n_extra_ops=10, seed=9,
        )
        mydir = str(tmp_path / "binlog")
        write_binlog_files(txns, mydir, txns_per_file=10, provider="mariadb")
        rep = Replayer(spark, mydir, str(tmp_path / "store"), start=FromEnd())
        assert rep.replay().events == 0
        covered = rep.ledger.covered_gtid_set()
        assert "0-1" in covered.uuid_sets  # domain 0, server 1
        max_seq = max(t.seq for t in txns)
        assert str(covered) == f"0-1:1-{max_seq}"

        # new mariadb transactions arriving later replay normally
        extra = generate_changelog(n_conversations=3, max_turns=3, n_extra_ops=0, seed=11)
        for t in extra:
            t.seq += max_seq
        write_binlog_files(
            extra, mydir, txns_per_file=10, file_prefix="zz-binlog", provider="mariadb"
        )
        res = rep.replay()
        assert res.events == sum(len(t.ops) for t in extra)
        _assert_texts_equal(_state_pdf(rep), apply_changelog_oracle(extra))


class TestSignedness:
    def _decode_single_row(self, writer: BinlogWriter):
        content = writer.getvalue()
        for _h, _pos, kind, event in BinlogFileReader(content, "b.000001"):
            if kind == "write_rows":
                return event["rows"][0]
        raise AssertionError("no write_rows event decoded")

    def test_no_signedness_section_keeps_raw_unsigned(self):
        """ADVICE #3: binlog_row_metadata=MINIMAL omits SIGNEDNESS; the
        decoder must keep raw unsigned like the reference
        (row_parser.rs:137-141), not guess two's-complement."""
        ctypes, cmeta = [ColumnType.LONG], [0]
        w = BinlogWriter("b.000001")
        w.write_table_map(1, "db", "t", ctypes, cmeta, [False])
        w.write_rows(1, ctypes, cmeta, [[0xFFFFFFFF]])
        assert self._decode_single_row(w) == [0xFFFFFFFF]

    def test_signedness_section_drives_reinterpretation(self):
        ctypes, cmeta = [ColumnType.LONG, ColumnType.LONG], [0, 0]
        w = BinlogWriter("b.000001")
        # first column signed (bit clear), second unsigned (bit set)
        w.write_table_map(
            1, "db", "t", ctypes, cmeta, [False, False],
            signedness=[False, True],
        )
        w.write_rows(1, ctypes, cmeta, [[0xFFFFFFFF, 0xFFFFFFFF]])
        assert self._decode_single_row(w) == [-1, 0xFFFFFFFF]


class TestOrderedTarget:
    NET_SCHEMA = (
        "conv_id string, turn_idx int, op string, after_role string, "
        "after_text string, after_tool string, after_ts timestamp, "
        "gtid_seq long, pos long, row_in_event int"
    )

    def _net(self, spark, rows):
        return spark.createDataFrame(rows, self.NET_SCHEMA)

    def test_out_of_order_merge_keeps_newer(self, spark, tmp_path):
        """ADVICE #4: an older changelog file arriving in a later trigger
        must not regress state; an older delete must not remove a newer
        row; a newer delete must."""
        tgt = OrderedBucketedMergeTarget(str(tmp_path / "st"), TRANSCRIPTS, buckets=2)
        ts = datetime(2024, 1, 1)
        v1 = tgt.merge(
            spark, self._net(spark, [("c", 0, "update", "user", "NEW", None, ts, 10, 100, 0)]), 0
        )
        # older image arrives later → must lose
        v2 = tgt.merge(
            spark, self._net(spark, [("c", 0, "insert", "user", "OLD", None, ts, 5, 50, 0)]), v1
        )
        got = tgt.read(spark, v2).toPandas()
        assert got["text"].tolist() == ["NEW"]
        # older delete must not remove the newer row
        v3 = tgt.merge(
            spark, self._net(spark, [("c", 0, "delete", None, None, None, None, 7, 70, 0)]), v2
        )
        assert tgt.read(spark, v3).count() == 1
        # newer delete removes it
        v4 = tgt.merge(
            spark, self._net(spark, [("c", 0, "delete", None, None, None, None, 20, 200, 0)]), v3
        )
        assert tgt.read(spark, v4).count() == 0

    def test_equal_rank_redelivery_is_idempotent(self, spark, tmp_path):
        tgt = OrderedBucketedMergeTarget(str(tmp_path / "st"), TRANSCRIPTS, buckets=2)
        ts = datetime(2024, 1, 1)
        row = ("c", 1, "update", "user", "SAME", None, ts, 10, 100, 0)
        v1 = tgt.merge(spark, self._net(spark, [row]), 0)
        v2 = tgt.merge(spark, self._net(spark, [row]), v1)
        got = tgt.read(spark, v2).toPandas()
        assert got["text"].tolist() == ["SAME"]


class TestSegmentOrdering:
    def test_sort_key_handles_digit_growth(self):
        assert _segment_sort_key("mysql-bin.999999") < _segment_sort_key("mysql-bin.1000000")
        assert _segment_sort_key("a.2") < _segment_sort_key("a.10")
        # suffix-less names keep a stable total order
        assert _segment_sort_key("plain") == ("plain", -1)

    def test_resume_across_digit_rollover(self, spark, tmp_path):
        """ADVICE #5: a segment numbered with one more digit than the
        checkpointed max_file must stay pending (lexicographic comparison
        would silently skip it forever)."""
        txns = generate_changelog(n_conversations=10, max_turns=4, n_extra_ops=20, seed=13)
        outdir = str(tmp_path / "binlog")
        per = (len(txns) + 1) // 2
        paths = write_binlog_files(txns, outdir, txns_per_file=per)
        assert len(paths) == 2
        os.rename(paths[0], os.path.join(outdir, "binlog.999999"))
        os.rename(paths[1], os.path.join(outdir, "binlog.1000000"))

        rep = Replayer(spark, outdir, str(tmp_path / "store"))
        assert rep.pending_files() == ["binlog.999999", "binlog.1000000"]
        rep.run_batch(["binlog.999999"])
        assert "binlog.1000000" in rep.pending_files()
        rep.replay(files_per_batch=1)
        _assert_texts_equal(_state_pdf(rep), apply_changelog_oracle(txns))


class TestStatsMergeFilterParity:
    """The decode task's applied-row rule (``SegmentStats.applied``: xid
    gate, covered-GTID filter, resume position, in numpy), seen through
    the lineage ``run_batch`` commits, must agree event-for-event with the
    Spark reference filters (``gate_complete_transactions``,
    ``filter_covered_gtids``, ``_after_position_predicate``) — the rule
    decides both the merged rows and the ledger counts, and run_batch
    commits an empty batch without merging on the strength of empty
    stats."""

    def _spark_side_counts(self, spark, rep, outdir):
        from pyspark.sql import functions as F

        from mysql_cdc_spark.binlog.decoder import decode_binlog_dir
        from mysql_cdc_spark.pipeline.order import (
            filter_covered_gtids,
            gate_complete_transactions,
        )
        from mysql_cdc_spark.pipeline.replay import _after_position_predicate

        covered = rep.ledger.covered_gtid_set()
        max_file, max_pos = rep.ledger.max_position()
        changes = gate_complete_transactions(decode_binlog_dir(spark, outdir))
        if covered.uuid_sets:
            intervals = spark.createDataFrame(
                covered.to_intervals(), "uuid string, start long, end long"
            )
            changes = filter_covered_gtids(changes, intervals)
        if max_file:
            changes = changes.filter(_after_position_predicate(max_file, max_pos))
        return {
            r["src_file"]: r["n"]
            for r in changes.groupBy("src_file").agg(F.count("*").alias("n")).collect()
        }

    @staticmethod
    def _lineage_counts(entry):
        out: dict = {}
        for r in entry.partition_lineage:
            out[r["src_file"]] = out.get(r["src_file"], 0) + r["events"]
        return {k: v for k, v in out.items() if v}

    def test_partial_and_empty_batches_agree(self, spark, tmp_path):
        txns = generate_changelog(
            n_conversations=10, max_turns=4, n_extra_ops=25, seed=21,
            duplicate_txns=2,
        )
        outdir = str(tmp_path / "binlog")
        write_binlog_files(txns, outdir, txns_per_file=10)
        rep = Replayer(spark, outdir, str(tmp_path / "store"))
        files = rep.pending_files()
        assert len(files) >= 3
        rep.run_batch(files[:2])

        # mid-stream checkpoint: the committed lineage of the remainder
        # batch must count exactly what the Spark-side filters keep
        want = self._spark_side_counts(spark, rep, outdir)
        assert want
        rep.run_batch(files)
        assert self._lineage_counts(rep.ledger.last()) == want

        # fully replayed: both sides must see an empty batch
        assert self._spark_side_counts(spark, rep, outdir) == {}
        n_entries = len(rep.ledger.entries())
        empty = rep.run_batch(files)
        assert empty.events == 0 and empty.lineage == []
        assert all(
            e.metrics["events"] == 0 and not e.partition_lineage
            for e in rep.ledger.entries()[n_entries:]
        )
        _assert_texts_equal(_state_pdf(rep), apply_changelog_oracle(txns))


def test_resumed_batch_job_count(spark, tmp_path):
    """Spark jobs a resumed one-segment batch, an empty batch and a state
    read run: the decode tasks apply the gate, covered-GTID and position
    rules, so no job checks the interval set and no broadcast anti-join
    runs; store scans read through the declared schema, so none merges
    parquet footers."""
    txns = generate_changelog(
        n_conversations=40, max_turns=6, n_extra_ops=200, seed=5,
        duplicate_txns=3,
    )
    outdir = str(tmp_path / "binlog")
    write_binlog_files(txns, outdir, txns_per_file=40)
    rep = Replayer(spark, outdir, str(tmp_path / "store"))
    files = rep.pending_files()
    rep.run_batch(files[:-2])
    sc = spark.sparkContext
    jobs = {}
    for tag, run in (
        ("batch", lambda: rep.run_batch([files[-2]]).events),
        ("empty", lambda: rep.run_batch([files[-1]]).events),
        ("read", lambda: rep.read_state().count()),
    ):
        sc.setJobGroup(tag, tag)
        try:
            jobs[tag] = (run(), len(sc.statusTracker().getJobIdsForGroup(tag)))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs["batch"][0] > 0 and jobs["empty"][0] == 0
    # the decode+LWW count (it also observes the touched buckets), the
    # position lookup of the buckets the merge appends to and the merge
    # write, with the Spark internals they trigger; 12 and 6 with the
    # Spark-side filters, 10 while each store scan merged the parquet
    # footers, and 6 and 2 with a touched-bucket collect of its own
    assert jobs["batch"][1] <= 6
    assert jobs["empty"][1] <= 2
    # the scan plans from the declared stored schema: no footer job
    assert jobs["read"][1] <= 2
    _assert_texts_equal(_state_pdf(rep), apply_changelog_oracle(txns))


class TestRemoteFsListing:
    """Segment listing + reads work through pyarrow.fs URIs (the
    object-store deployment path) — file:// stands in for s3://hdfs://."""

    def test_decode_via_file_uri(self, spark, tmp_path):
        from mysql_cdc_spark.binlog.decoder import (
            _list_segments,
            decode_binlog_dir,
            list_dir_entries,
        )

        txns = generate_changelog(n_conversations=6, max_turns=3, n_extra_ops=8, seed=3)
        outdir = str(tmp_path / "binlog")
        write_binlog_files(txns, outdir, txns_per_file=10)
        uri = "file://" + outdir

        assert sorted(list_dir_entries(uri)) == sorted(os.listdir(outdir))
        assert [os.path.basename(p) for p in _list_segments(uri)] == \
            [os.path.basename(p) for p in _list_segments(outdir)]

        n_local = decode_binlog_dir(spark, outdir).count()
        n_uri = decode_binlog_dir(spark, uri).count()
        assert n_uri == n_local > 0

    def test_tombstone_gc(self, spark, tmp_path):
        """prune_tombstones drops only tombstones below the redelivery
        low-watermark; live rows and newer tombstones survive."""
        tgt = OrderedBucketedMergeTarget(str(tmp_path / "st"), TRANSCRIPTS, buckets=2)
        ts = datetime(2024, 1, 1)
        net = spark.createDataFrame(
            [
                ("a", 0, "update", "user", "LIVE", None, ts, 10, 100, 0),
                ("b", 0, "delete", None, None, None, None, 5, 50, 0),
                ("c", 0, "delete", None, None, None, None, 40, 400, 0),
                # gtid-less stream: NULL leading order value — no watermark
                # to compare against, must never be GC'd (a dropped
                # tombstone would let a redelivered old insert resurrect)
                ("d", 0, "delete", None, None, None, None, None, 60, 0),
            ],
            TestOrderedTarget.NET_SCHEMA,
        )
        v = tgt.merge(spark, net, 0)
        full = tgt.read_with_order(spark, v)
        assert full.count() == 4 and tgt.read(spark, v).count() == 1
        v2 = tgt.prune_tombstones(spark, v, min_live_order=20)
        remaining = tgt.read_with_order(spark, v2).toPandas()
        # tombstone b (seq 5 < 20) gone; tombstone c (seq 40) and the
        # NULL-ordered tombstone d kept
        assert sorted(remaining["conv_id"]) == ["a", "c", "d"]
        assert tgt.read(spark, v2).count() == 1
