"""WL#12168 partition extra-row-info — opt-in partition provenance.

MySQL 8.0.16+ writes the PART extra-row-info TLV into every v2 row event
on a partitioned table: the partition the rows landed in, plus (UPDATE
only) the partition they left when a changed partition key migrates the
row. The reference skips the whole extra block (row_parser.rs:85-88);
here both decode paths surface it behind ``attach_partition_id=True`` —
vectorized as fixed-offset numpy gathers, scalar from the typed parse —
as nullable ``partition_id`` / ``source_partition_id`` columns.
"""

import pandas as pd
import pytest

from mysql_cdc_spark.binlog.constants import EventType
from mysql_cdc_spark.binlog.decoder import (
    _FileDecoder,
    change_event_schema,
    decode_binlog_dir,
)
from mysql_cdc_spark.binlog.encoder import BinlogWriter
from mysql_cdc_spark.binlog.vector import decode_segment_fast
from mysql_cdc_spark.fixtures import (
    COLUMN_TYPES,
    PRE_COLUMNS,
    SOURCE_UUID,
    TABLE_ID_PRE,
    transcripts_pre_spec,
)
from decoded import to_pandas

CTYPES = [COLUMN_TYPES[c][0] for c in PRE_COLUMNS]
CMETA = [COLUMN_TYPES[c][1] for c in PRE_COLUMNS]
SPEC = transcripts_pre_spec()


def _table_map(w, ts):
    w.write_table_map(
        TABLE_ID_PRE, "chat", "transcripts", CTYPES, CMETA,
        nullability=[False] * 5, column_names=PRE_COLUMNS,
        simple_primary_keys=[0, 1], signedness=[False], timestamp=ts,
    )


def _stream() -> bytes:
    """One txn: insert into p7, update migrating p7→p3, delete from p3,
    plus one insert WITHOUT the TLV (non-partitioned shape → NULLs)."""
    w = BinlogWriter("binlog.000001")
    w.write_mysql_gtid(SOURCE_UUID, 1, timestamp=1001)
    w.write_query("BEGIN", database="chat", timestamp=1001)
    _table_map(w, 1001)
    w.write_rows(
        TABLE_ID_PRE, CTYPES, CMETA,
        [["a", 0, "user", "born in p7", 1001]],
        timestamp=1001, partition_id=7,
    )
    _table_map(w, 1001)
    w.write_update_rows(
        TABLE_ID_PRE, CTYPES, CMETA,
        [(["a", 0, "user", "born in p7", 1001],
          ["a", 0, "user", "moved to p3", 1002])],
        timestamp=1001, partition_id=3, source_partition_id=7,
    )
    _table_map(w, 1001)
    w.write_rows(
        TABLE_ID_PRE, CTYPES, CMETA,
        [["a", 0, "user", "moved to p3", 1002]],
        event_type=EventType.MYSQL_DELETE_ROWS_V2,
        timestamp=1001, partition_id=3,
    )
    _table_map(w, 1001)
    w.write_rows(
        TABLE_ID_PRE, CTYPES, CMETA,
        [["b", 0, "user", "no TLV", 1003]],
        timestamp=1001,
    )
    w.write_xid(1, timestamp=1001)
    return w.getvalue()


def _norm(df: pd.DataFrame) -> list[tuple]:
    out = []
    for _, r in df.sort_values(["pos", "row_in_event"]).iterrows():
        out.append((
            r["op"],
            None if pd.isna(r["partition_id"]) else int(r["partition_id"]),
            None if pd.isna(r["source_partition_id"])
            else int(r["source_partition_id"]),
        ))
    return out


EXPECT = [
    ("insert", 7, None),
    ("update", 3, 7),
    ("delete", 3, None),
    ("insert", None, None),
]


class TestPartitionInfo:
    def test_fast_path(self):
        frames = decode_segment_fast(
            _stream(), "binlog.000001", SPEC, attach_partition_id=True
        )
        assert frames is not None
        df = to_pandas(frames)
        assert _norm(df) == EXPECT

    def test_scalar_path(self):
        dec = _FileDecoder(SPEC, attach_partition_id=True)
        df = to_pandas(dec.decode_file("binlog.000001", _stream()))
        assert _norm(df) == EXPECT

    def test_scalar_partition_without_origin(self):
        # slot-indexed flush: opting into a later tuple slot without the
        # earlier origin_query one must not shift column consumption
        dec = _FileDecoder(SPEC, attach_partition_id=True)
        df = to_pandas(dec.decode_file("binlog.000001", _stream()))
        assert "origin_query" not in df.columns
        assert df["after_text"].iloc[0] == "born in p7"

    def test_off_by_default(self):
        fast = to_pandas(decode_segment_fast(_stream(), "binlog.000001", SPEC))
        assert "partition_id" not in fast.columns
        slow = to_pandas(_FileDecoder(SPEC).decode_file("binlog.000001", _stream()))
        assert "partition_id" not in slow.columns
        assert "partition_id" not in change_event_schema(SPEC).fieldNames()
        assert change_event_schema(
            SPEC, attach_partition_id=True
        ).fieldNames()[-2:] == ["partition_id", "source_partition_id"]

    def test_both_optins_compose(self):
        dec = _FileDecoder(
            SPEC, attach_origin_query=True, attach_partition_id=True
        )
        df = to_pandas(dec.decode_file("binlog.000001", _stream()))
        assert list(df.columns[-3:]) == [
            "origin_query", "partition_id", "source_partition_id"
        ]
        assert _norm(df) == EXPECT

    def test_partitioned_corpus_provenance(self, spark, tmp_path):
        """fixtures.write_binlog_files(partitions=N) splits statement
        runs per consecutive partition (the server's WL#12168 write
        shape) and every decoded row's provenance equals the partition
        function over its own logical images — the pytest twin of the
        partition_provenance harness oracle."""
        from mysql_cdc_spark.fixtures import (
            _partition_of,
            changelog_to_pandas,
            generate_changelog,
            write_binlog_files,
        )

        txns = generate_changelog(
            n_conversations=6, max_turns=4, n_extra_ops=25, seed=13,
            duplicate_txns=1,
        )
        d = tmp_path / "binlog"
        write_binlog_files(txns, str(d), txns_per_file=10, partitions=8)
        from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS

        df = decode_binlog_dir(
            spark, str(d), spec=TRANSCRIPTS, attach_partition_id=True
        ).toPandas()
        log = changelog_to_pandas(txns)
        got = sorted(
            (
                int(r["gtid_seq"]),
                r["after_conv_id"] or r["before_conv_id"],
                int(r["after_turn_idx"] if pd.notna(r["after_turn_idx"])
                    else r["before_turn_idx"]),
                r["op"],
                int(r["partition_id"]),
                None if pd.isna(r["source_partition_id"])
                else int(r["source_partition_id"]),
            )
            for _, r in df.iterrows()
        )
        want = sorted(
            (
                int(r["seq"]), r["conv_id"], int(r["turn_idx"]), r["kind"],
                _partition_of(
                    r["before_text"] if r["kind"] == "delete" else r["text"],
                    8,
                ),
                _partition_of(r["before_text"], 8)
                if r["kind"] == "update" else None,
            )
            for _, r in log.iterrows()
        )
        assert got == want
        # migrations actually occur in the corpus (discriminating fixture)
        upd = df[df["op"] == "update"]
        assert (upd["partition_id"] != upd["source_partition_id"]).any()

    def test_distributed_decode(self, spark, tmp_path):
        d = tmp_path / "binlog"
        d.mkdir()
        (d / "binlog.000001").write_bytes(_stream())
        df = decode_binlog_dir(
            spark, str(d), spec=SPEC, attach_partition_id=True
        ).toPandas()
        assert _norm(df) == EXPECT
        # scalar fallback through the same entrypoint
        df2 = decode_binlog_dir(
            spark, str(d), spec=SPEC, attach_partition_id=True,
            vectorized=False,
        ).toPandas()
        assert _norm(df2) == EXPECT
