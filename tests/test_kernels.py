"""Decode-kernel golden tests — byte vectors copied from the reference's
inline unit tests so our numpy/Python kernels are byte-exact.

Sources:
- decimal: /root/reference/src/events/row_events/decimal.rs:85-177
- actual string type: /root/reference/src/events/row_events/actual_string_type.rs:28-65
- prev-gtids event: /root/reference/src/providers/mysql/events/prev_gtids_event.rs:42-61
- uservar event: /root/reference/src/events/uservar_event.rs:64-87
- temporal/bitmap/len-enc semantics: col_parser.rs / extensions.rs
"""

import struct

import numpy as np
import pytest

from mysql_cdc_spark.binlog import kernels as K
from mysql_cdc_spark.binlog.constants import ColumnType


def _decimal_case(payload):
    buf = bytes(payload)
    metadata = struct.unpack_from("<H", buf, 0)[0]
    value, _ = K.parse_decimal(buf, 2, metadata)
    return value, metadata


class TestDecimal:
    def test_parse_positive_number(self):
        payload = [
            65, 10, 129, 13, 251, 56, 210, 6, 176, 139, 229, 33, 200, 92, 19, 0, 16,
            248, 159, 19, 239, 59, 244, 39, 205, 127, 73, 59, 2, 55, 215, 2,
        ]
        value, _ = _decimal_case(payload)
        assert value == "1234567890112233445566778899001112223334445556667778889.9900011112"

    def test_parse_negative_number(self):
        payload = [
            65, 10, 126, 242, 4, 199, 45, 249, 79, 116, 26, 222, 55, 163, 236, 255,
            239, 7, 96, 236, 16, 196, 11, 216, 50, 128, 182, 196, 253, 200, 40, 253,
        ]
        value, _ = _decimal_case(payload)
        assert value == "-1234567890112233445566778899001112223334445556667778889.9900011112"

    def test_parse_with_starting_zeros_ignored(self):
        payload = [
            65, 10, 128, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
            0, 118, 178, 73, 59, 2, 55, 215, 2,
        ]
        value, _ = _decimal_case(payload)
        assert value == "7778889.9900011112"

    def test_parse_with_integral_zero(self):
        payload = [
            65, 10, 128, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
            0, 0, 0, 0, 59, 2, 55, 215, 2,
        ]
        value, _ = _decimal_case(payload)
        assert value == "0.9900011112"

    def test_compressed_fractional_starting_zeros_preserved(self):
        payload = [
            60, 15, 128, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 2, 13, 152, 244, 39, 205,
            127, 73, 7, 91, 205, 21, 0, 26, 44,
        ]
        value, _ = _decimal_case(payload)
        assert value == "34445556667778889.123456789006700"

    def test_parse_integer(self):
        payload = [
            60, 0, 128, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 2, 13,
            152, 244, 39, 205, 127, 73,
        ]
        value, _ = _decimal_case(payload)
        assert value == "34445556667778889"

    @pytest.mark.parametrize(
        "text,precision,scale",
        [
            ("1234567890112233445566778899001112223334445556667778889.9900011112", 65, 10),
            ("-1234567890112233445566778899001112223334445556667778889.9900011112", 65, 10),
            ("7778889.9900011112", 65, 10),
            ("0.9900011112", 65, 10),
            ("34445556667778889.123456789006700", 60, 15),
            ("34445556667778889", 60, 0),
            ("-0.000000001", 20, 9),
            ("0", 10, 0),
        ],
    )
    def test_encode_decode_roundtrip(self, text, precision, scale):
        raw = K.encode_decimal(text, precision, scale)
        assert len(raw) == K.decimal_binary_size(precision, scale)
        metadata = precision | (scale << 8)
        value, off = K.parse_decimal(raw, 0, metadata)
        assert off == len(raw)
        expected = text if text != "-0.000000001" else "-0.000000001"
        assert value == expected


class TestActualStringType:
    def test_char(self):
        # char(200): metadata 52768 → String, 800 (200 * utf8mb4)
        ct, md = K.get_actual_string_type(ColumnType.STRING, 52768)
        assert ct == ColumnType.STRING
        assert md == 800

    def test_enum(self):
        ct, md = K.get_actual_string_type(ColumnType.STRING, 63233)
        assert ct == ColumnType.ENUM
        assert md == 1

    def test_set(self):
        ct, md = K.get_actual_string_type(ColumnType.STRING, 63489)
        assert ct == ColumnType.SET
        assert md == 1


class TestPrevGtids:
    def test_parse_event_returns_gtid_set(self):
        payload = bytes(
            [
                2, 0, 0, 0, 0, 0, 0, 0, 181, 205, 22, 36, 95, 48, 17, 228, 180, 233,
                16, 81, 114, 27, 210, 65, 1, 0, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0,
                0, 241, 15, 108, 0, 0, 0, 0, 0, 187, 66, 29, 38, 95, 48, 17, 228, 180,
                233, 216, 157, 103, 43, 46, 248, 1, 0, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0,
                0, 0, 0, 0, 209, 97, 119, 0, 0, 0, 0, 0,
            ]
        )
        gtid_set = K.parse_prev_gtids(payload)
        assert str(gtid_set) == (
            "b5cd1624-5f30-11e4-b4e9-1051721bd241:1-7081968,"
            "bb421d26-5f30-11e4-b4e9-d89d672b2ef8:1-7823824"
        )


class TestUserVar:
    def test_parse_user_var_event(self):
        payload = bytes(
            [
                0x03, 0x00, 0x00, 0x00, 0x66, 0x6F, 0x6F, 0x00, 0x00, 0x21, 0x00,
                0x00, 0x00, 0x03, 0x00, 0x00, 0x00, 0x62, 0x61, 0x72, 0x6B, 0x3D,
                0xD9, 0x7D,
            ]
        )
        name, value = K.parse_uservar(payload)
        assert name == "foo"
        assert value is not None
        var_type, collation, text, _flags = value
        assert var_type == 0
        assert collation == 33
        assert text == "bar"


class TestLenEnc:
    @pytest.mark.parametrize("value", [0, 1, 250, 251, 65535, 65536, 16777215, 16777216, 2**40])
    def test_roundtrip(self, value):
        raw = K.write_len_enc_num(value)
        out, off = K.read_len_enc_num(raw, 0)
        assert out == value
        assert off == len(raw)

    def test_null_marker_raises(self):
        with pytest.raises(ValueError, match="cannot be NULL"):
            K.read_len_enc_num(b"\xfb", 0)


class TestBitmaps:
    def test_little_endian_matches_reference_semantics(self):
        # extensions.rs:100-117: bit y of byte i lands at index i*8+y
        buf = bytes([0b00000101, 0b00000010])
        bits, off = K.read_bitmap_little_endian(buf, 0, 10)
        assert off == 2
        assert list(bits) == [True, False, True, False, False, False, False, False, False, True]

    def test_big_endian_matches_reference_semantics(self):
        # extensions.rs:119-137: byte i contributes indices (nbytes-i-1)*8+y
        buf = bytes([0b00000010, 0b00000101])
        bits, off = K.read_bitmap_big_endian(buf, 0, 10)
        assert off == 2
        assert list(bits) == [True, False, True, False, False, False, False, False, False, True]

    def test_pack_unpack_roundtrip(self):
        pattern = [True, False, True, True, False, False, True, False, True, True, False]
        raw = K.pack_bitmap_little_endian(pattern)
        bits, _ = K.read_bitmap_little_endian(raw, 0, len(pattern))
        assert list(bits) == pattern


class TestTemporal:
    def test_parse_year(self):
        assert K.parse_year(bytes([123]), 0)[0] == 2023

    def test_parse_date(self):
        # 2024-02-29: value = 2024<<9 | 2<<5 | 29
        packed = (2024 << 9) | (2 << 5) | 29
        (y, m, d), off = K.parse_date(packed.to_bytes(3, "little"), 0)
        assert (y, m, d) == (2024, 2, 29)
        assert off == 3

    def test_parse_time_positive(self):
        # 13:14:15 → 131415 decimal-packed
        raw = (131415).to_bytes(3, "little")
        (h, mi, s, ms), _ = K.parse_time(raw, 0)
        assert (h, mi, s, ms) == (13, 14, 15, 0)

    def test_parse_time_negative_unsupported(self):
        raw = (-131415 & 0xFFFFFF).to_bytes(3, "little")
        with pytest.raises(ValueError, match="negative TIME"):
            K.parse_time(raw, 0)

    def test_parse_time2_negative_unsupported(self):
        # sign bit (bit 23) cleared → negative → error (col_parser.rs:75-84)
        raw = (0).to_bytes(3, "big")
        with pytest.raises(ValueError, match="negative TIME"):
            K.parse_time2(raw, 0, 0)

    def test_parse_time2(self):
        packed = (1 << 23) | (13 << 12) | (14 << 6) | 15
        raw = packed.to_bytes(3, "big") + bytes([0x01])  # fsp=2 → 1 byte, raw=1 → 10000 micros
        (h, mi, s, ms), off = K.parse_time2(raw, 0, 2)
        assert (h, mi, s, ms) == (13, 14, 15, 10)
        assert off == 4

    def test_parse_datetime(self):
        value = 20240229131415
        raw = struct.pack("<Q", value)
        parts, _ = K.parse_date_time(raw, 0)
        assert parts == (2024, 2, 29, 13, 14, 15, 0)

    def test_parse_datetime2(self):
        packed = (1 << 39) | ((2024 * 13 + 2) << 22) | (29 << 17) | (13 << 12) | (14 << 6) | 15
        raw = packed.to_bytes(5, "big")
        parts, _ = K.parse_date_time2(raw, 0, 0)
        assert parts == (2024, 2, 29, 13, 14, 15, 0)

    def test_parse_timestamp(self):
        raw = struct.pack("<I", 1700000000)
        millis, _ = K.parse_timestamp(raw, 0)
        assert millis == 1700000000 * 1000

    def test_parse_timestamp2_with_fraction(self):
        # fsp=6 → 3 bytes, micros stored raw
        raw = struct.pack(">I", 1700000000) + (123456).to_bytes(3, "big")
        millis, off = K.parse_timestamp2(raw, 0, 6)
        assert millis == 1700000000 * 1000 + 123
        assert off == 7

    def test_fractional_scaling(self):
        # fsp=2 → 1 byte scaled by 100^2 (col_parser.rs:160-168)
        val, _ = K.parse_fractional_part(bytes([7]), 0, 2)
        assert val == 7 * 100**2


def test_decode_file_multi_flush_no_row_loss():
    """Regression: rows after the first Arrow-batch flush were lost (the
    emit path aliased self.out across _flush_batch's rebind)."""
    from mysql_cdc_spark.binlog.decoder import _FileDecoder, TRANSCRIPTS
    from mysql_cdc_spark.fixtures import (
        count_change_events,
        generate_changelog,
        write_binlog_files,
    )
    import tempfile, os

    txns = generate_changelog(
        n_conversations=200, max_turns=6, n_extra_ops=300, seed=3
    )
    with tempfile.TemporaryDirectory() as tmp:
        paths = write_binlog_files(txns, tmp, txns_per_file=10_000)
        with open(paths[0], "rb") as f:
            content = f.read()
        dec = _FileDecoder(TRANSCRIPTS)
        # batch_rows far below the event count forces many flushes
        frames = list(dec.decode_file(paths[0], content, batch_rows=64))
        total = sum(len(fr) for fr in frames)
        assert total == count_change_events(txns)
        assert all(len(fr) > 0 for fr in frames)


class TestSignedness:
    """SIGNEDNESS metadata application (table_metadata.rs:14,137-141):
    reference decodes unsigned raw; our typed rows reinterpret signed ints
    via two's complement (SURVEY.md §7 hard-part 4)."""

    def _table(self, signedness):
        from mysql_cdc_spark.binlog.constants import ColumnType
        return {
            "column_types": [ColumnType.TINY, ColumnType.LONG, ColumnType.VARCHAR],
            "column_metadata": [0, 0, 64],
            "signedness": signedness,
        }

    def _row_bytes(self):
        import struct
        # null bitmap (1 byte, none null) + tiny 0xFF + long 0xFFFFFFFE + 'ab'
        return b"\x00" + b"\xff" + struct.pack("<I", 0xFFFFFFFE) + b"\x02ab"

    def test_signed_reinterpretation(self):
        from mysql_cdc_spark.binlog.reader import parse_row
        row, _ = parse_row(self._row_bytes(), 0, self._table([False, False]), [True]*3, 3)
        assert row == [-1, -2, "ab"]

    def test_unsigned_stays_raw(self):
        from mysql_cdc_spark.binlog.reader import parse_row
        row, _ = parse_row(self._row_bytes(), 0, self._table([True, True]), [True]*3, 3)
        assert row == [255, 0xFFFFFFFE, "ab"]

    def test_mixed_and_default(self):
        from mysql_cdc_spark.binlog.reader import parse_row
        row, _ = parse_row(self._row_bytes(), 0, self._table([True, False]), [True]*3, 3)
        assert row == [255, -2, "ab"]
        # no metadata (binlog_row_metadata=MINIMAL) → raw unsigned like the
        # reference (row_parser.rs:137-141); guessing signed would corrupt
        # unsigned values ≥ 2^(w-1)
        row, _ = parse_row(self._row_bytes(), 0, self._table(None), [True]*3, 3)
        assert row == [255, 0xFFFFFFFE, "ab"]
