"""Byte-level decode kernels (scalar-function layer, SURVEY.md §2.8 F1-F8).

Each kernel re-implements the exact decode semantics of the reference's Rust
functions (cited per kernel) as offset-based functions over ``bytes`` —
designed to be called inside Arrow-batched ``mapInArrow`` decode tasks, with
numpy used for the bitmap-heavy paths. The golden byte fixtures from the
reference's inline unit tests pin byte-exactness (see tests/test_kernels.py).

Conventions: every ``parse_*(buf, off, ...)`` returns ``(value, new_off)``.
"""

from __future__ import annotations

import struct
from typing import Optional

import numpy as np

from ..gtid import GtidSet, Interval, Uuid, UuidSet

# ---------------------------------------------------------------------------
# F1 — length-encoded integer; extensions.rs:78-97
# ---------------------------------------------------------------------------


def read_len_enc_num(buf: bytes, off: int) -> tuple[int, int]:
    first = buf[off]
    if first < 0xFB:
        return first, off + 1
    if first == 0xFB:
        raise ValueError("Length encoded integer cannot be NULL.")
    if first == 0xFC:
        return struct.unpack_from("<H", buf, off + 1)[0], off + 3
    if first == 0xFD:
        return int.from_bytes(buf[off + 1 : off + 4], "little"), off + 4
    if first == 0xFE:
        return struct.unpack_from("<Q", buf, off + 1)[0], off + 9
    raise ValueError(f"Unexpected length-encoded integer: {first}")


def write_len_enc_num(value: int) -> bytes:
    """Inverse of read_len_enc_num, for the fixture encoder."""
    if value < 0xFB:
        return bytes([value])
    if value <= 0xFFFF:
        return b"\xfc" + struct.pack("<H", value)
    if value <= 0xFFFFFF:
        return b"\xfd" + value.to_bytes(3, "little")
    return b"\xfe" + struct.pack("<Q", value)


# ---------------------------------------------------------------------------
# F2 — string reads; extensions.rs:46-71
# ---------------------------------------------------------------------------


def read_string(buf: bytes, off: int, size: int) -> tuple[str, int]:
    return bytes(buf[off : off + size]).decode("utf-8"), off + size


def read_null_term_string(buf: bytes, off: int) -> tuple[str, int]:
    end = off
    n = len(buf)
    while end < n and buf[end] != 0:
        end += 1
    return bytes(buf[off:end]).decode("utf-8"), end + 1


def read_len_enc_str(buf: bytes, off: int) -> tuple[str, int]:
    length, off = read_len_enc_num(buf, off)
    return read_string(buf, off, length)


# ---------------------------------------------------------------------------
# F3/F4 — bitmaps; extensions.rs:100-137, table_metadata.rs:182-201
# ---------------------------------------------------------------------------


def read_bitmap_little_endian(buf: bytes, off: int, bits: int):
    """LE bit order within LE byte order; extensions.rs:100-117.

    Fast path for ≤16 bits (the per-row null bitmap of typical tables is a
    byte or two — numpy round-trips cost more than they save there)."""
    nbytes = (bits + 7) // 8
    if bits <= 16:
        v = int.from_bytes(buf[off : off + nbytes], "little")
        return [(v >> i) & 1 == 1 for i in range(bits)], off + nbytes
    raw = np.frombuffer(buf, dtype=np.uint8, count=nbytes, offset=off)
    unpacked = np.unpackbits(raw, bitorder="little")[:bits]
    return unpacked.astype(bool), off + nbytes


def read_bitmap_big_endian(buf: bytes, off: int, bits: int) -> tuple[np.ndarray, int]:
    """LE bit order within BE byte order; extensions.rs:119-137."""
    nbytes = (bits + 7) // 8
    raw = np.frombuffer(buf, dtype=np.uint8, count=nbytes, offset=off)
    # byte i contributes bit-index base ((nbytes-i-1)*8 + y); i.e. reverse
    # the byte order, then unpack little-endian bitwise.
    unpacked = np.unpackbits(raw[::-1], bitorder="little")[:bits]
    return unpacked.astype(bool), off + nbytes


def pack_bitmap_little_endian(bits: list[bool]) -> bytes:
    arr = np.array(bits, dtype=np.uint8)
    return np.packbits(arr, bitorder="little").tobytes()


def pack_bitmap_big_endian(bits: list[bool]) -> bytes:
    """Exact inverse of read_bitmap_big_endian (the 'reverted' bitmap of
    table_metadata.rs:182-201) — used by the fixture encoder for the
    SIGNEDNESS metadata section."""
    arr = np.array(bits, dtype=np.uint8)
    return np.packbits(arr, bitorder="little")[::-1].tobytes()


# ---------------------------------------------------------------------------
# F5 — NEWDECIMAL; decimal.rs:10-83
# ---------------------------------------------------------------------------

DIGITS_PER_INT = 9
COMPRESSED_BYTES = [0, 1, 1, 2, 2, 3, 3, 4, 4, 4]


def decimal_binary_size(precision: int, scale: int) -> int:
    integral = precision - scale
    unc_i, comp_i = divmod(integral, DIGITS_PER_INT)
    unc_f, comp_f = divmod(scale, DIGITS_PER_INT)
    return (
        (unc_i << 2)
        + COMPRESSED_BYTES[comp_i]
        + (unc_f << 2)
        + COMPRESSED_BYTES[comp_f]
    )


def parse_decimal(buf: bytes, off: int, metadata: int) -> tuple[str, int]:
    """Sign-bit flip + big-endian 9-digit/4-byte groups → decimal string.

    Exact port of decimal.rs:10-83 (metadata low byte = precision, high byte
    = scale; negative numbers are stored one's-complemented).
    """
    precision = metadata & 0xFF
    scale = (metadata >> 8) & 0xFF
    integral = precision - scale

    uncompressed_integral = integral // DIGITS_PER_INT
    uncompressed_fractional = scale // DIGITS_PER_INT
    compressed_integral = integral - uncompressed_integral * DIGITS_PER_INT
    compressed_fractional = scale - uncompressed_fractional * DIGITS_PER_INT

    length = (
        (uncompressed_integral << 2)
        + COMPRESSED_BYTES[compressed_integral]
        + (uncompressed_fractional << 2)
        + COMPRESSED_BYTES[compressed_fractional]
    )

    value = bytearray(buf[off : off + length])
    if len(value) != length:
        raise ValueError("decimal: truncated payload")
    result = []

    negative = (value[0] & 0x80) == 0
    value[0] ^= 0x80
    if negative:
        result.append("-")
        for i in range(len(value)):
            value[i] ^= 0xFF

    pos = 0
    started = False
    size = COMPRESSED_BYTES[compressed_integral]
    if size > 0:
        number = int.from_bytes(value[pos : pos + size], "big")
        pos += size
        if number > 0:
            started = True
            result.append(str(number))
    for _ in range(uncompressed_integral):
        number = int.from_bytes(value[pos : pos + 4], "big")
        pos += 4
        if started:
            result.append(f"{number:09d}")
        elif number > 0:
            started = True
            result.append(str(number))

    if not started:
        result.append("0")
    if scale > 0:
        result.append(".")

    size = COMPRESSED_BYTES[compressed_fractional]
    for _ in range(uncompressed_fractional):
        number = int.from_bytes(value[pos : pos + 4], "big")
        pos += 4
        result.append(f"{number:09d}")
    if size > 0:
        number = int.from_bytes(value[pos : pos + size], "big")
        pos += size
        result.append(f"{number:0{compressed_fractional}d}")

    return "".join(result), off + length


def encode_decimal(text: str, precision: int, scale: int) -> bytes:
    """Inverse of parse_decimal, for fixtures (same group layout)."""
    negative = text.startswith("-")
    if negative:
        text = text[1:]
    if "." in text:
        int_part, frac_part = text.split(".")
    else:
        int_part, frac_part = text, ""
    int_part = int_part or "0"
    frac_part = frac_part.ljust(scale, "0")[:scale]

    integral = precision - scale
    unc_i, comp_i = divmod(integral, DIGITS_PER_INT)
    unc_f, comp_f = divmod(scale, DIGITS_PER_INT)

    int_digits = int_part.rjust(integral, "0")
    out = bytearray()
    pos = 0
    if comp_i:
        out += int(int_digits[:comp_i]).to_bytes(COMPRESSED_BYTES[comp_i], "big")
        pos = comp_i
    for _ in range(unc_i):
        out += int(int_digits[pos : pos + 9]).to_bytes(4, "big")
        pos += 9
    pos = 0
    for _ in range(unc_f):
        out += int(frac_part[pos : pos + 9]).to_bytes(4, "big")
        pos += 9
    if comp_f:
        out += int(frac_part[pos : pos + comp_f] or "0").to_bytes(
            COMPRESSED_BYTES[comp_f], "big"
        )

    if negative:
        out = bytearray(b ^ 0xFF for b in out)
    out[0] ^= 0x80
    return bytes(out)


# ---------------------------------------------------------------------------
# F6 — temporal decoders; col_parser.rs:30-168
# ---------------------------------------------------------------------------


def parse_year(buf: bytes, off: int) -> tuple[int, int]:
    """col_parser.rs:30-32 (1900 + u8)."""
    return 1900 + buf[off], off + 1


def parse_date(buf: bytes, off: int) -> tuple[tuple[int, int, int], int]:
    """Bit-packed u24 LE: day:5 month:4 year:rest; col_parser.rs:34-47."""
    value = int.from_bytes(buf[off : off + 3], "little")
    day = value % (1 << 5)
    month = (value >> 5) % (1 << 4)
    year = value >> 9
    return (year, month, day), off + 3


def parse_time(buf: bytes, off: int) -> tuple[tuple[int, int, int, int], int]:
    """hhmmss decimal-packed i24 LE; negative unsupported (col_parser.rs:49-69)."""
    value = int.from_bytes(buf[off : off + 3], "little")
    if value & 0x800000:  # sign-extend 24-bit, as (i24 << 8) >> 8
        value -= 1 << 24
    if value < 0:
        raise ValueError("Parsing negative TIME values is not supported in this version")
    second = value % 100
    value //= 100
    minute = value % 100
    hour = value // 100
    return (hour, minute, second, 0), off + 3


def parse_time2(buf: bytes, off: int, metadata: int) -> tuple[tuple[int, int, int, int], int]:
    """Big-endian bit-packed TIME2 + fractional; col_parser.rs:71-97."""
    value = int.from_bytes(buf[off : off + 3], "big")
    off += 3
    millis, off = parse_fractional_part(buf, off, metadata)
    millis //= 1000
    negative = ((value >> 23) & 1) == 0
    if negative:
        raise ValueError("Parsing negative TIME values is not supported in this version")
    hour = (value >> 12) % (1 << 10)
    minute = (value >> 6) % (1 << 6)
    second = value % (1 << 6)
    return (hour, minute, second, millis), off


def parse_date_time(
    buf: bytes, off: int
) -> tuple[tuple[int, int, int, int, int, int, int], int]:
    """YYYYMMDDhhmmss decimal-packed u64 LE; col_parser.rs:99-122."""
    value = struct.unpack_from("<Q", buf, off)[0]
    second = value % 100
    value //= 100
    minute = value % 100
    value //= 100
    hour = value % 100
    value //= 100
    day = value % 100
    value //= 100
    month = value % 100
    year = value // 100
    return (year, month, day, hour, minute, second, 0), off + 8


def parse_date_time2(
    buf: bytes, off: int, metadata: int
) -> tuple[tuple[int, int, int, int, int, int, int], int]:
    """5-byte big-endian, year*13+month packing; col_parser.rs:124-146."""
    value = int.from_bytes(buf[off : off + 5], "big")
    off += 5
    millis, off = parse_fractional_part(buf, off, metadata)
    millis //= 1000
    year_month = (value >> 22) % (1 << 17)
    year = year_month // 13
    month = year_month % 13
    day = (value >> 17) % (1 << 5)
    hour = (value >> 12) % (1 << 5)
    minute = (value >> 6) % (1 << 6)
    second = value % (1 << 6)
    return (year, month, day, hour, minute, second, millis), off


def parse_timestamp(buf: bytes, off: int) -> tuple[int, int]:
    """unix secs u32 LE → epoch millis; col_parser.rs:148-151."""
    return struct.unpack_from("<I", buf, off)[0] * 1000, off + 4


def parse_timestamp2(buf: bytes, off: int, metadata: int) -> tuple[int, int]:
    """big-endian secs + fractional → epoch millis; col_parser.rs:153-158."""
    seconds = struct.unpack_from(">I", buf, off)[0]
    off += 4
    micros, off = parse_fractional_part(buf, off, metadata)
    return seconds * 1000 + micros // 1000, off


def parse_fractional_part(buf: bytes, off: int, metadata: int) -> tuple[int, int]:
    """(fsp+1)/2 bytes big-endian, scaled by 100^(3-len) → micros;
    col_parser.rs:160-168."""
    length = (metadata + 1) // 2
    if length == 0:
        return 0, off
    fraction = int.from_bytes(buf[off : off + length], "big")
    return fraction * 100 ** (3 - length), off + length


# ---------------------------------------------------------------------------
# string/bit/blob/enum/set cell decoders; col_parser.rs:7-28, row_parser.rs:151-156
# ---------------------------------------------------------------------------


def parse_string_cell(
    buf: bytes, off: int, metadata: int, codec: str = "utf-8"
) -> tuple[str, int]:
    """1- or 2-byte length prefix by metadata<256; col_parser.rs:7-14.
    ``codec`` is the column's charset (TABLE_MAP charset metadata via
    binlog/charset.py); the reference hardwires utf-8."""
    if metadata < 256:
        length = buf[off]
        off += 1
    else:
        length = struct.unpack_from("<H", buf, off)[0]
        off += 2
    return bytes(buf[off : off + length]).decode(codec), off + length


def parse_bit(buf: bytes, off: int, metadata: int) -> tuple[list[bool], int]:
    """Big-endian bitmap, reversed; col_parser.rs:16-21."""
    length = (metadata >> 8) * 8 + (metadata & 0xFF)
    bitmap, off = read_bitmap_big_endian(buf, off, length)
    return bitmap[::-1].tolist(), off


def parse_blob(buf: bytes, off: int, metadata: int) -> tuple[bytes, int]:
    """metadata-sized LE length prefix; col_parser.rs:23-28."""
    length = int.from_bytes(buf[off : off + metadata], "little")
    off += metadata
    return bytes(buf[off : off + length]), off + length


def parse_enum(buf: bytes, off: int, metadata: int) -> tuple[int, int]:
    """LE int index sized by metadata; row_parser.rs:151-153."""
    return int.from_bytes(buf[off : off + metadata], "little"), off + metadata


def parse_set(buf: bytes, off: int, metadata: int) -> tuple[int, int]:
    """LE bitmask sized by metadata; row_parser.rs:154-156."""
    return int.from_bytes(buf[off : off + metadata], "little"), off + metadata


# ---------------------------------------------------------------------------
# F7 — CHAR/ENUM/SET disambiguation; actual_string_type.rs:6-26
# ---------------------------------------------------------------------------


def get_actual_string_type(column_type: int, metadata: int) -> tuple[int, int]:
    """Bug #37426 bit-twiddling for STRING metadata packed type+length."""
    if metadata < 256:
        return column_type, metadata

    byte0 = (metadata >> 8) & 0xFF
    byte1 = metadata & 0xFF

    from .constants import ColumnType

    if (byte0 & 0x30) != 0x30:
        # a long CHAR() field: see #37426
        metadata = byte1 | (((byte0 & 0x30) ^ 0x30) << 4)
        column_type = byte0 | 0x30
    else:
        if byte0 in (ColumnType.ENUM, ColumnType.SET):
            column_type = byte0
        metadata = byte1
    return column_type, metadata


# ---------------------------------------------------------------------------
# F8 helpers used by control-event decode
# ---------------------------------------------------------------------------


def parse_uservar(buf: bytes, off: int = 0):
    """USER_VAR_EVENT payload; uservar_event.rs:35-61.

    Returns (name, None) or (name, (var_type, collation, value, flags)).
    """
    name_len = struct.unpack_from("<I", buf, off)[0]
    off += 4
    name, off = read_string(buf, off, name_len)
    is_null = buf[off] != 0
    off += 1
    if is_null:
        return name, None
    var_type = buf[off]
    off += 1
    collation = struct.unpack_from("<I", buf, off)[0]
    off += 4
    value_len = struct.unpack_from("<I", buf, off)[0]
    off += 4
    value, off = read_string(buf, off, value_len)
    flags = buf[off]
    return name, (var_type, collation, value, flags)


def parse_prev_gtids(buf: bytes, off: int = 0) -> GtidSet:
    """PREVIOUS_GTIDS payload → GtidSet; prev_gtids_event.rs:17-39.

    Note the on-wire interval end is exclusive (end - 1 stored).
    """
    uuid_set_number = struct.unpack_from("<Q", buf, off)[0]
    off += 8
    gtid_set = GtidSet()
    for _ in range(uuid_set_number):
        source_id = Uuid.from_bytes(bytes(buf[off : off + 16]))
        off += 16
        interval_number = struct.unpack_from("<Q", buf, off)[0]
        off += 8
        intervals = []
        for _ in range(interval_number):
            start = struct.unpack_from("<Q", buf, off)[0]
            end = struct.unpack_from("<Q", buf, off + 8)[0]
            off += 16
            intervals.append(Interval(start, end - 1))
        us = UuidSet(source_id, [])
        us.intervals = intervals  # raw append, no collapse — matches reference
        gtid_set.uuid_sets[source_id.uuid] = us
    return gtid_set
