"""INCIDENT_EVENT (type 26, LOST_EVENTS) — binlog/reader.py parse_incident.

Beyond-reference safety: the reference's event_type.rs skips code 26
entirely, so a LOST_EVENTS marker — the server's own "events may be
missing here" signal — would flow through silently. A MySQL replica
stops with ER_REPLICA_INCIDENT at this point; these tests pin the same
stop-don't-skip policy on both decode paths, with (file, pos) in the
error so an operator can re-snapshot or restart past it deliberately.
"""

import pytest

from mysql_cdc_spark.binlog.decoder import _FileDecoder
from mysql_cdc_spark.binlog.encoder import BinlogWriter
from mysql_cdc_spark.binlog.reader import (
    BinlogFileReader,
    BinlogIncidentError,
    parse_incident,
)
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


def _txn(w, seq, conv, text):
    w.write_mysql_gtid(SOURCE_UUID, seq, timestamp=1000 + seq)
    w.write_query("BEGIN", database="chat", timestamp=1000 + seq)
    w.write_table_map(
        TABLE_ID_PRE, "chat", "transcripts", CTYPES, CMETA,
        nullability=[False] * 5, column_names=PRE_COLUMNS,
        simple_primary_keys=[0, 1], signedness=[False],
        timestamp=1000 + seq,
    )
    w.write_rows(
        TABLE_ID_PRE, CTYPES, CMETA,
        [[conv, 0, "user", text, 1000 + seq]], timestamp=1000 + seq,
    )
    w.write_xid(seq, timestamp=1000 + seq)


def _stream(incident_number=1, message="lost events on master"):
    w = BinlogWriter("binlog.000001")
    _txn(w, 1, "c1", "before-incident")
    w.write_incident(incident_number, message, timestamp=1500)
    _txn(w, 2, "c2", "after-incident")
    return w.getvalue()


class TestParse:
    def test_roundtrip(self):
        content = _stream(1, "disk full on master")
        events = {k: ev for _h, _p, k, ev in BinlogFileReader(content, "f")}
        assert events["incident"] == {
            "incident_number": 1,
            "message": "disk full on master",
        }

    def test_empty_message(self):
        w = BinlogWriter("binlog.000001")
        w.write_incident(1, "")
        events = [
            ev for _h, _p, k, ev in BinlogFileReader(w.getvalue(), "f")
            if k == "incident"
        ]
        assert events == [{"incident_number": 1, "message": ""}]

    def test_parse_unit(self):
        assert parse_incident(b"\x01\x00\x02hi") == {
            "incident_number": 1, "message": "hi",
        }
        # bare post-header (no message body) is legal
        assert parse_incident(b"\x00\x00") == {
            "incident_number": 0, "message": "",
        }


class TestDecodeStops:
    def test_scalar_raises_with_position(self):
        content = _stream()
        dec = _FileDecoder(SPEC)
        with pytest.raises(BinlogIncidentError) as ei:
            list(dec.decode_file("binlog.000001", content))
        err = ei.value
        assert err.src_file == "binlog.000001"
        assert err.incident_number == 1
        assert err.message == "lost events on master"
        assert content[err.pos + 4] == 26  # pos is the frame's own offset

    def test_vectorized_raises_with_position(self):
        content = _stream()
        with pytest.raises(BinlogIncidentError) as ei:
            decode_segment_fast(content, "binlog.000001", SPEC)
        err = ei.value
        assert err.src_file == "binlog.000001"
        assert content[err.pos + 4] == 26

    def test_paths_agree_on_position(self):
        content = _stream()
        with pytest.raises(BinlogIncidentError) as fast:
            decode_segment_fast(content, "binlog.000001", SPEC)
        with pytest.raises(BinlogIncidentError) as slow:
            list(_FileDecoder(SPEC).decode_file("binlog.000001", content))
        assert fast.value.pos == slow.value.pos

    def test_incident_none_is_ignored(self):
        # INCIDENT_NONE (number 0) carries no loss signal — decode proceeds
        content = _stream(incident_number=0, message="")
        fast = decode_segment_fast(content, "binlog.000001", SPEC)
        rows = to_pandas(fast)
        assert sorted(rows["after_conv_id"]) == ["c1", "c2"]
        slow = to_pandas(_FileDecoder(SPEC).decode_file("binlog.000001", content))
        assert sorted(slow["after_conv_id"]) == ["c1", "c2"]


class TestStartEncryption:
    """MariaDB encrypt_binlog=ON — decode must refuse at the
    START_ENCRYPTION marker (type 164) instead of reading ciphertext."""

    def _stream(self):
        from mysql_cdc_spark.binlog.encoder import BinlogWriter as W

        w = W("binlog.000001")
        _txn(w, 1, "c1", "plaintext prefix")
        w.write_start_encryption(key_version=3)
        _txn(w, 2, "c2", "would be ciphertext")
        return w.getvalue()

    def test_scalar_raises(self):
        from mysql_cdc_spark.binlog.reader import BinlogEncryptionError

        with pytest.raises(BinlogEncryptionError) as ei:
            list(_FileDecoder(SPEC).decode_file("binlog.000001", self._stream()))
        assert ei.value.key_version == 3
        assert "decrypted stream" in str(ei.value)

    def test_vectorized_raises(self):
        from mysql_cdc_spark.binlog.reader import BinlogEncryptionError

        with pytest.raises(BinlogEncryptionError) as ei:
            decode_segment_fast(self._stream(), "binlog.000001", SPEC)
        assert ei.value.src_file == "binlog.000001"
        assert ei.value.key_version == 3

    def test_parse_unit(self):
        from mysql_cdc_spark.binlog.reader import parse_start_encryption

        got = parse_start_encryption(b"\x01\x07\x00\x00\x00" + b"\xab" * 12)
        assert got == {"scheme": 1, "key_version": 7, "nonce": b"\xab" * 12}


class TestHeartbeatV2:
    """HEARTBEAT_LOG_EVENT_V2 (type 41, MySQL 8.0.26+) — TLV filename +
    position; dispatched as the same 'heartbeat' kind as v1 so the tail's
    keepalive path is version-agnostic."""

    def test_parse_tlv(self):
        from mysql_cdc_spark.binlog.reader import parse_heartbeat_v2

        name = b"binlog.000042"
        payload = (
            bytes([0, len(name)]) + name
            + bytes([1, 8]) + (987654).to_bytes(8, "little")
        )
        assert parse_heartbeat_v2(payload) == {
            "binlog_filename": "binlog.000042",
            "binlog_position": 987654,
        }

    def test_dispatch_and_no_row_output(self):
        from mysql_cdc_spark.binlog.constants import EventType
        from mysql_cdc_spark.binlog.encoder import BinlogWriter as W

        w = W("binlog.000001")
        _txn(w, 1, "c1", "hello")
        name = b"binlog.000001"
        w._append_event(
            EventType.MYSQL_HEARTBEAT_V2,
            bytes([0, len(name)]) + name
            + bytes([1, 8]) + (4096).to_bytes(8, "little"),
        )
        content = w.getvalue()
        kinds = {k: ev for _h, _p, k, ev in BinlogFileReader(content, "f")}
        assert kinds["heartbeat"]["binlog_position"] == 4096
        fast = to_pandas(decode_segment_fast(content, "binlog.000001", SPEC))
        slow = to_pandas(_FileDecoder(SPEC).decode_file("binlog.000001", content))
        assert len(fast) == len(slow) == 1  # heartbeat contributes no rows
