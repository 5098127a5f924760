"""MariaDB compressed binlog events (``log_bin_compress=ON``) — zlib codec.

Beyond-reference capability: the reference library has no compressed-event
support at all (its 17-variant enum stops at MariaDB GTID_LIST=163;
src/events/event_type.rs), so a MariaDB server running with
``log_bin_compress=ON`` — a common setting for WAN replication — is
unreadable by it. The formats here are MariaDB's published on-disk layouts
(server source ``sql/log_event.cc``: ``binlog_buf_compress``,
``binlog_get_uncompress_len``, ``query_event_uncompress``,
``row_log_event_uncompress``), re-implemented from the documented format:

Compressed record::

    byte 0   : 0x80 | (algorithm << 4) | lenlen   (algorithm 0 = zlib)
    bytes 1..: uncompressed length, big-endian, ``lenlen`` (1-4) bytes
    rest     : zlib deflate stream

What is compressed differs per event kind (only the *variable tail* is,
so the schema-bearing head stays random-access):

- QUERY_COMPRESSED (165): everything through the post-header, status
  vars, db name and NUL stays plain; the SQL text is compressed.
- {WRITE,UPDATE,DELETE}_ROWS_COMPRESSED[_V1] (166-171): the rows-event
  post-header, len-enc column count and presence bitmap(s) stay plain;
  the row images are compressed.

Inflating rewrites the event to its plain twin (type byte per
``constants.COMPRESSED_TO_PLAIN``) so every decode path runs unchanged on
the inflated bytes. Two callers inflate: ``inflate_segment`` rewrites a
whole segment for the vectorized kernel, and ``reader.iter_frames`` — the
one frame walk behind the scalar reader and every scanner — inflates
frame by frame.

Position exactness: ``inflate_segment`` returns, alongside the inflated
stream, the *original on-disk start offset of every frame*. The decoders
report those as ``pos`` (and keep each header's untouched
``next_event_position``), so ledger/resume arithmetic stays exact in
on-disk coordinates even though inflated frames are longer.

Scale note: zlib inflate runs in C at hundreds of MB/s; the per-event
Python overhead is one lookup on the type byte. Segments with no
compressed events (the common case) pay exactly that lookup — the numpy
type-byte scan in the vectorized path, the type test in
``reader.iter_frames`` — and are passed through untouched.
"""

from __future__ import annotations

import struct
import zlib
from typing import Optional

import numpy as np

from . import kernels as K
from .constants import (
    COMPRESSED_TO_PLAIN,
    EVENT_HEADER_SIZE,
    FIRST_EVENT_POSITION,
    MAGIC_NUMBER,
    ChecksumType,
    EventType,
)


class CompressedEventError(ValueError):
    """Malformed compressed record (bad flag byte, algorithm, or length)."""


def parse_compressed_head(buf: bytes, off: int = 0) -> tuple[int, int]:
    """Parse the 1-5 byte compressed-record head at ``off``.

    Returns ``(uncompressed_length, data_offset)``. Mirrors
    ``binlog_get_uncompress_len``: flag bit 7 must be set, algorithm bits
    6-4 must be 0 (zlib), low 3 bits give the big-endian length width.
    """
    if off >= len(buf):
        raise CompressedEventError("compressed record truncated before head")
    b0 = buf[off]
    if b0 & 0x80 == 0 or (b0 >> 4) & 0x07 != 0:
        raise CompressedEventError(
            f"bad compressed-record head 0x{b0:02x} (want 0x80|lenlen, zlib)"
        )
    lenlen = b0 & 0x07
    if not 1 <= lenlen <= 4 or off + 1 + lenlen > len(buf):
        raise CompressedEventError(f"bad compressed length width {lenlen}")
    un_len = int.from_bytes(buf[off + 1 : off + 1 + lenlen], "big")
    return un_len, off + 1 + lenlen


def compress_record(data: bytes) -> bytes:
    """Inverse of :func:`parse_compressed_head` + inflate — the fixture
    encoder's side of ``binlog_buf_compress``."""
    n = len(data)
    lenlen = max(1, (n.bit_length() + 7) // 8)
    if lenlen > 4:
        raise CompressedEventError("record over 4 GiB cannot be framed")
    return bytes([0x80 | lenlen]) + n.to_bytes(lenlen, "big") + zlib.compress(data)


def _inflate_tail(payload: bytes, head_end: int) -> bytes:
    un_len, data_off = parse_compressed_head(payload, head_end)
    out = zlib.decompress(payload[data_off:], bufsize=max(un_len, 16))
    if len(out) != un_len:
        raise CompressedEventError(
            f"inflated {len(out)} bytes, record head promised {un_len}"
        )
    return payload[:head_end] + out


def _head_split(plain_etype: int, payload: bytes) -> int:
    """Offset where the compressible variable tail starts. The head layout
    is identical in the plain and compressed twins (only the tail differs),
    so both the inflater and the fixture compressor share this walk."""
    E = EventType
    if plain_etype == E.QUERY:
        # post-header: thread_id(4) exec_time(4) db_len(1) error(2)
        # status_len(2), then status vars + db + NUL stay plain
        db_len = payload[8]
        status_len = struct.unpack_from("<H", payload, 11)[0]
        return 13 + status_len + db_len + 1
    # rows post-header: table_id(6) + flags(2) [+ V2 extra-data]
    off = 8
    if plain_etype in (
        E.MYSQL_WRITE_ROWS_V2,
        E.MYSQL_UPDATE_ROWS_V2,
        E.MYSQL_DELETE_ROWS_V2,
    ):
        extra = struct.unpack_from("<H", payload, off)[0]
        off += extra  # extra length includes its own two bytes
    ncols, off = K.read_len_enc_num(payload, off)
    off += (ncols + 7) // 8  # columns-present bitmap
    if plain_etype in (E.UPDATE_ROWS_V1, E.MYSQL_UPDATE_ROWS_V2):
        off += (ncols + 7) // 8  # update after-image bitmap
    return off


def inflate_event_body(etype: int, payload: bytes) -> tuple[int, bytes]:
    """One compressed event body (header+checksum already stripped) →
    ``(plain_event_type, plain_body)``. Non-compressed types pass through."""
    plain = COMPRESSED_TO_PLAIN.get(etype)
    if plain is None:
        return etype, payload
    return plain, _inflate_tail(payload, _head_split(plain, payload))


def compress_event_body(etype: int, payload: bytes) -> tuple[int, bytes]:
    """Fixture-side inverse of :func:`inflate_event_body` — the encoder half
    of ``binlog_buf_compress``. Types without a compressed twin pass
    through."""
    comp = PLAIN_TO_COMPRESSED.get(etype)
    if comp is None:
        return etype, payload
    head_end = _head_split(etype, payload)
    return comp, payload[:head_end] + compress_record(payload[head_end:])


_COMPRESSED_TYPES = frozenset(COMPRESSED_TO_PLAIN)
PLAIN_TO_COMPRESSED = {v: k for k, v in COMPRESSED_TO_PLAIN.items()}


def segment_has_compressed(etypes: np.ndarray) -> bool:
    """Cheap gate for the vectorized path: any MariaDB compressed frame
    (165..171), MySQL TRANSACTION_PAYLOAD wrapper (40), or PARTIAL_JSON
    update frame (39) — everything :func:`inflate_segment` rewrites."""
    return bool(
        len(etypes)
        and np.any(
            (
                (etypes >= EventType.MARIADB_QUERY_COMPRESSED)
                & (etypes <= EventType.MARIADB_DELETE_ROWS_COMPRESSED)
            )
            | (etypes == EventType.MYSQL_TRANSACTION_PAYLOAD)
            | (etypes == EventType.MYSQL_PARTIAL_UPDATE_ROWS)
        )
    )


def inflate_segment(content: bytes) -> Optional[tuple[bytes, np.ndarray]]:
    """Rewrite a whole segment's compressed frames to their plain twins.

    Handles both wire forms: MariaDB ``log_bin_compress`` frames (165-171,
    1:1 rewrite) and MySQL TRANSACTION_PAYLOAD wrappers (type 40, one
    frame splices into its N embedded events).

    Returns ``(inflated_content, orig_offsets)`` where ``orig_offsets[i]``
    is the *on-disk* start offset of inflated frame ``i`` — the decoders
    report these as ``pos`` (every event spliced out of one payload frame
    maps to that frame's offset: a wrapped transaction is atomic, so
    frame-granular resume is exact). Returns ``None`` when the segment
    contains no compressed frames (caller keeps the original bytes,
    zero-copy).

    Header handling per rewritten frame: timestamp/server_id/flags are
    copied, the type byte becomes the plain twin, ``event_length`` is the
    inflated length, and ``next_event_position`` keeps its original
    on-disk value (it is an on-disk coordinate; inflation must not invent
    a new coordinate space) — spliced embedded events get the wrapper
    frame's on-disk next position. CRC32 trailers are recomputed over the
    rewritten frame when the stream's FDE declares them.
    """
    if content[:FIRST_EVENT_POSITION] != MAGIC_NUMBER:
        raise ValueError("Invalid binary log file header")
    n = len(content)
    u32 = struct.Struct("<I").unpack_from
    # quick scan: bail out (common case) before allocating anything
    pos = FIRST_EVENT_POSITION
    found = False
    while pos + EVENT_HEADER_SIZE <= n:
        ln = u32(content, pos + 9)[0]
        if ln < EVENT_HEADER_SIZE or pos + ln > n:
            break
        t = content[pos + 4]
        if (
            t in _COMPRESSED_TYPES
            or t == EventType.MYSQL_TRANSACTION_PAYLOAD
            or t == EventType.MYSQL_PARTIAL_UPDATE_ROWS
        ):
            found = True
            break
        pos += ln
    if not found:
        return None

    # lazy imports: avoid module cycles
    from .partial import expand_partial_body
    from .reader import parse_format_description, parse_table_map

    # TABLE_MAP tracking for PARTIAL_JSON expansion (type 39 needs column
    # types + blob length sizes). Servers re-emit a byte-identical
    # TABLE_MAP before every transaction, so the payload memo makes this
    # one dict lookup per frame after the first parse.
    table_map: dict[int, dict] = {}
    tm_memo: dict[bytes, dict] = {}

    def note_table_map(body: bytes) -> None:
        tm = tm_memo.get(body)
        if tm is None:
            tm = parse_table_map(body)
            tm_memo[body] = tm
        table_map[tm["table_id"]] = tm

    checksum = ChecksumType.NONE
    out: list[bytes] = [MAGIC_NUMBER]
    orig_offs: list[int] = []
    pos = FIRST_EVENT_POSITION
    while pos + EVENT_HEADER_SIZE <= n:
        ln = u32(content, pos + 9)[0]
        if ln < EVENT_HEADER_SIZE or pos + ln > n:
            break  # truncated tail — both decoders stop here too
        frame = content[pos : pos + ln]
        etype = frame[4]
        if etype == EventType.FORMAT_DESCRIPTION:
            _, _, checksum = parse_format_description(
                frame[EVENT_HEADER_SIZE:], ln
            )
        trailer = 4 if checksum == ChecksumType.CRC32 else 0
        if etype == EventType.TABLE_MAP:
            note_table_map(frame[EVENT_HEADER_SIZE : ln - trailer])
        if etype in _COMPRESSED_TYPES or etype == EventType.MYSQL_PARTIAL_UPDATE_ROWS:
            body = frame[EVENT_HEADER_SIZE : ln - trailer]
            if etype == EventType.MYSQL_PARTIAL_UPDATE_ROWS:
                plain_type = EventType.MYSQL_UPDATE_ROWS_V2
                plain_body = expand_partial_body(body, table_map)
            else:
                plain_type, plain_body = inflate_event_body(etype, body)
            new_len = EVENT_HEADER_SIZE + len(plain_body) + trailer
            header = bytearray(frame[:EVENT_HEADER_SIZE])
            header[4] = plain_type
            header[9:13] = struct.pack("<I", new_len)
            # header[13:17] (next_event_position) stays the on-disk value
            new_frame = bytes(header) + plain_body
            if trailer:
                new_frame += struct.pack("<I", zlib.crc32(new_frame))
            out.append(new_frame)
            orig_offs.append(pos)
        elif etype == EventType.MYSQL_TRANSACTION_PAYLOAD:
            body = frame[EVENT_HEADER_SIZE : ln - trailer] if trailer else frame[
                EVENT_HEADER_SIZE:
            ]
            outer_next = frame[13:17]  # on-disk next position, little-endian
            inner = inflate_transaction_payload(body)
            ipos, m = 0, len(inner)
            while ipos + EVENT_HEADER_SIZE <= m:
                iln = u32(inner, ipos + 9)[0]
                if iln < EVENT_HEADER_SIZE or ipos + iln > m:
                    raise CompressedEventError(
                        "corrupt embedded frame inside transaction payload"
                    )
                iheader = bytearray(inner[ipos : ipos + EVENT_HEADER_SIZE])
                ibody = inner[ipos + EVENT_HEADER_SIZE : ipos + iln]
                # embedded frames are checksum-free; PARTIAL_JSON updates
                # may ride inside a compressed transaction — expand them
                # here too (both options can be ON at once)
                if iheader[4] == EventType.TABLE_MAP:
                    note_table_map(ibody)
                elif iheader[4] == EventType.MYSQL_PARTIAL_UPDATE_ROWS:
                    ibody = expand_partial_body(ibody, table_map)
                    iheader[4] = EventType.MYSQL_UPDATE_ROWS_V2
                iheader[9:13] = struct.pack(
                    "<I", EVENT_HEADER_SIZE + len(ibody) + trailer
                )
                iheader[13:17] = outer_next
                new_frame = bytes(iheader) + ibody
                if trailer:
                    new_frame += struct.pack("<I", zlib.crc32(new_frame))
                out.append(new_frame)
                orig_offs.append(pos)
                ipos += iln
        else:
            out.append(frame)
            orig_offs.append(pos)
        pos += ln
    return b"".join(out), np.array(orig_offs, dtype=np.int64)


def compress_segment(content: bytes, min_len: int = 256) -> bytes:
    """Fixture encoder: rewrite a plain segment as a ``log_bin_compress=ON``
    stream — QUERY / rows frames whose body reaches ``min_len`` get their
    variable tail deflated and type byte swapped to the compressed twin,
    and the whole chain's ``next_event_position`` values are re-linked
    over the new (shorter) frame lengths, exactly as a MariaDB server
    would have written the file. ``min_len`` mirrors
    ``log_bin_compress_min_len`` (server floor 256): short statements —
    BEGIN, TRUNCATE, small DDL — stay plain on a real server, which is
    what lets ``ddl.scan_truncates`` substring-reject compressed streams
    without inflating (pass 0 to force-compress everything for parity
    fuzzing). CRC32 trailers are recomputed when the stream's FDE
    declares them. Test/bench harness only — production code never
    compresses."""
    if content[:FIRST_EVENT_POSITION] != MAGIC_NUMBER:
        raise ValueError("Invalid binary log file header")
    from .reader import parse_format_description  # lazy: avoid import cycle

    n = len(content)
    u32 = struct.Struct("<I").unpack_from
    checksum = ChecksumType.NONE
    out: list[bytes] = [MAGIC_NUMBER]
    new_pos = FIRST_EVENT_POSITION
    pos = FIRST_EVENT_POSITION
    while pos + EVENT_HEADER_SIZE <= n:
        ln = u32(content, pos + 9)[0]
        if ln < EVENT_HEADER_SIZE or pos + ln > n:
            break
        frame = content[pos : pos + ln]
        etype = frame[4]
        if etype == EventType.FORMAT_DESCRIPTION:
            _, _, checksum = parse_format_description(frame[EVENT_HEADER_SIZE:], ln)
        trailer = 4 if checksum == ChecksumType.CRC32 else 0
        if etype in PLAIN_TO_COMPRESSED and ln - EVENT_HEADER_SIZE - trailer >= min_len:
            body = frame[EVENT_HEADER_SIZE : ln - trailer]
            comp_type, comp_body = compress_event_body(etype, body)
            new_len = EVENT_HEADER_SIZE + len(comp_body) + trailer
            header = bytearray(frame[:EVENT_HEADER_SIZE])
            header[4] = comp_type
            header[9:13] = struct.pack("<I", new_len)
            header[13:17] = struct.pack("<I", new_pos + new_len)
            new_frame = bytes(header) + comp_body
            if trailer:
                new_frame += struct.pack("<I", zlib.crc32(new_frame))
        else:
            header = bytearray(frame[:EVENT_HEADER_SIZE])
            header[13:17] = struct.pack("<I", new_pos + ln)
            new_frame = bytes(header) + frame[EVENT_HEADER_SIZE:]
            if trailer and etype != EventType.FORMAT_DESCRIPTION:
                new_frame = new_frame[:-4] + struct.pack(
                    "<I", zlib.crc32(new_frame[:-4])
                )
            new_len = ln
        out.append(new_frame)
        new_pos += new_len
        pos += ln
    return b"".join(out)


# --------------------------------------------------------------------------
# MySQL 8.0.20+ TRANSACTION_PAYLOAD (type 40) — binlog_transaction_compression
# --------------------------------------------------------------------------
# One frame wraps a whole transaction's events (BEGIN query, table maps,
# row events, XID) as a zstd-compressed — or uncompressed — payload; the
# GTID event stays outside the wrapper. On-the-wire layout
# (libbinlogevents Transaction_payload_event; also implemented by
# go-mysql replication/event.go and python-mysql-replication): a TLV
# field list, each field a 1-byte type + 1-byte length + little-endian
# fixed-width value, terminated by HEADER_END_MARK, then the raw payload.
# Events inside the payload carry NO checksum trailer regardless of the
# outer stream's FDE (checksum_alg is OFF inside payloads).

PAYLOAD_HEADER_END_MARK = 0
PAYLOAD_SIZE_FIELD = 1
PAYLOAD_COMPRESSION_TYPE_FIELD = 2
PAYLOAD_UNCOMPRESSED_SIZE_FIELD = 3

PAYLOAD_COMPRESSION_ZSTD = 0  # binlogevents/include/compression/base.h
PAYLOAD_COMPRESSION_NONE = 255


_ZSTD_CODEC_MEMO: list = []  # [codec_or_None] once resolved


def _zstd_codec():
    """pyarrow ships a compiled zstd codec (standard zstd frames — the
    same ZSTD_compress output a MySQL server writes); gate behind an
    import-try so environments without it fail with a clear error, not
    an ImportError mid-decode. Resolved once per process (this is on the
    per-transaction decode path)."""
    if _ZSTD_CODEC_MEMO:
        return _ZSTD_CODEC_MEMO[0]
    codec = None
    try:
        import pyarrow as pa

        if pa.Codec.is_available("zstd"):
            codec = pa.Codec("zstd")
    except ImportError:
        pass
    _ZSTD_CODEC_MEMO.append(codec)
    return codec


def parse_payload_fields(body: bytes) -> tuple[int, Optional[int], bytes]:
    """TLV walk → ``(compression_type, uncompressed_size, raw_payload)``."""
    off = 0
    ctype = PAYLOAD_COMPRESSION_NONE
    psize: Optional[int] = None
    usize: Optional[int] = None
    n = len(body)
    while True:
        if off >= n:
            raise CompressedEventError("payload TLV ran past the event body")
        ftype = body[off]
        off += 1
        if ftype == PAYLOAD_HEADER_END_MARK:
            payload = body[off : off + psize] if psize is not None else body[off:]
            if psize is not None and len(payload) != psize:
                raise CompressedEventError(
                    f"payload truncated: {len(payload)} of {psize} bytes"
                )
            return ctype, usize, payload
        if off >= n:
            raise CompressedEventError("payload TLV field truncated")
        flen = body[off]
        off += 1
        if off + flen > n:
            raise CompressedEventError("payload TLV value truncated")
        val = int.from_bytes(body[off : off + flen], "little")
        off += flen
        if ftype == PAYLOAD_SIZE_FIELD:
            psize = val
        elif ftype == PAYLOAD_COMPRESSION_TYPE_FIELD:
            ctype = val
        elif ftype == PAYLOAD_UNCOMPRESSED_SIZE_FIELD:
            usize = val
        # unknown field types are skipped (forward compatibility, same as
        # the server's codec)


def inflate_transaction_payload(body: bytes) -> bytes:
    """TRANSACTION_PAYLOAD event body → concatenated embedded event frames
    (19-byte headers, no checksums)."""
    ctype, usize, payload = parse_payload_fields(body)
    if ctype == PAYLOAD_COMPRESSION_NONE:
        return payload
    if ctype == PAYLOAD_COMPRESSION_ZSTD:
        codec = _zstd_codec()
        if codec is None:
            raise CompressedEventError(
                "zstd payload but no zstd codec available (pyarrow missing)"
            )
        if usize is None:
            raise CompressedEventError("zstd payload without uncompressed size")
        out = bytes(codec.decompress(payload, decompressed_size=usize))
        if len(out) != usize:
            raise CompressedEventError(
                f"zstd inflated {len(out)} bytes, header promised {usize}"
            )
        return out
    raise CompressedEventError(f"unknown payload compression type {ctype}")


def encode_payload_fields(payload: bytes, ctype: int, usize: int) -> bytes:
    """Fixture-side TLV encoder — the write half of the server's codec."""

    def field(ftype: int, val: int) -> bytes:
        width = max(1, (val.bit_length() + 7) // 8)
        return bytes([ftype, width]) + val.to_bytes(width, "little")

    out = field(PAYLOAD_COMPRESSION_TYPE_FIELD, ctype)
    if ctype != PAYLOAD_COMPRESSION_NONE:
        out += field(PAYLOAD_UNCOMPRESSED_SIZE_FIELD, usize)
    out += field(PAYLOAD_SIZE_FIELD, len(payload))
    out += bytes([PAYLOAD_HEADER_END_MARK])
    return out + payload


def wrap_transaction_payload_segment(
    content: bytes, compression: str = "zstd"
) -> bytes:
    """Fixture encoder: rewrite a plain segment as a
    ``binlog_transaction_compression=ON`` stream — each BEGIN..XID run is
    replaced by one TRANSACTION_PAYLOAD frame (GTID events stay outside,
    like the server writes them), with the chain's ``next_event_position``
    re-linked over the new frame lengths. Embedded frames lose their
    checksum trailers (checksum_alg OFF inside payloads). Test/bench
    harness only — production code never compresses."""
    if content[:FIRST_EVENT_POSITION] != MAGIC_NUMBER:
        raise ValueError("Invalid binary log file header")
    from .reader import parse_format_description, parse_query  # lazy

    if compression == "zstd":
        ctype = PAYLOAD_COMPRESSION_ZSTD
        codec = _zstd_codec()
        if codec is None:
            raise CompressedEventError("zstd codec unavailable (pyarrow missing)")
    elif compression == "none":
        ctype = PAYLOAD_COMPRESSION_NONE
        codec = None
    else:
        raise ValueError(f"unknown compression {compression!r}")

    n = len(content)
    u32 = struct.Struct("<I").unpack_from
    checksum = ChecksumType.NONE
    out: list[bytes] = [MAGIC_NUMBER]
    new_pos = FIRST_EVENT_POSITION
    txn: list[bytes] | None = None  # embedded (checksum-free) frames
    txn_ts = 0
    txn_server_id = 0

    def emit(etype: int, body: bytes, ts: int, server_id: int) -> None:
        nonlocal new_pos
        trailer = 4 if checksum == ChecksumType.CRC32 else 0
        ln = EVENT_HEADER_SIZE + len(body) + trailer
        header = struct.pack(
            "<IBIIIH", ts, etype, server_id, ln, new_pos + ln, 0
        )
        frame = header + body
        if trailer:
            frame += struct.pack("<I", zlib.crc32(frame))
        out.append(frame)
        new_pos += ln

    def passthrough(frame: bytes) -> None:
        nonlocal new_pos
        ln = len(frame)
        header = bytearray(frame[:EVENT_HEADER_SIZE])
        header[13:17] = struct.pack("<I", new_pos + ln)
        new_frame = bytes(header) + frame[EVENT_HEADER_SIZE:]
        if (
            checksum == ChecksumType.CRC32
            and frame[4] != EventType.FORMAT_DESCRIPTION
        ):
            new_frame = new_frame[:-4] + struct.pack("<I", zlib.crc32(new_frame[:-4]))
        out.append(new_frame)
        new_pos += ln

    pos = FIRST_EVENT_POSITION
    while pos + EVENT_HEADER_SIZE <= n:
        ln = u32(content, pos + 9)[0]
        if ln < EVENT_HEADER_SIZE or pos + ln > n:
            break
        frame = content[pos : pos + ln]
        etype = frame[4]
        pos += ln
        if etype == EventType.FORMAT_DESCRIPTION:
            _, _, checksum = parse_format_description(frame[EVENT_HEADER_SIZE:], ln)
            passthrough(frame)
            continue
        trailer = 4 if checksum == ChecksumType.CRC32 else 0
        body = frame[EVENT_HEADER_SIZE : ln - trailer] if trailer else frame[EVENT_HEADER_SIZE:]
        if txn is None:
            if (
                etype == EventType.QUERY
                and parse_query(body)["sql_statement"] == "BEGIN"
            ):
                txn = []
                txn_ts = struct.unpack_from("<I", frame, 0)[0]
                txn_server_id = struct.unpack_from("<I", frame, 5)[0]
            else:
                passthrough(frame)
                continue
        # inside a transaction: buffer the embedded (checksum-free) form
        iheader = bytearray(frame[:EVENT_HEADER_SIZE])
        iheader[9:13] = struct.pack("<I", EVENT_HEADER_SIZE + len(body))
        iheader[13:17] = b"\x00\x00\x00\x00"  # inner next_pos is meaningless
        txn.append(bytes(iheader) + body)
        if etype == EventType.XID:
            inner = b"".join(txn)
            txn = None
            if codec is not None:
                payload_body = encode_payload_fields(
                    bytes(codec.compress(inner)), ctype, len(inner)
                )
            else:
                payload_body = encode_payload_fields(inner, ctype, len(inner))
            emit(
                EventType.MYSQL_TRANSACTION_PAYLOAD,
                payload_body,
                txn_ts,
                txn_server_id,
            )
    if txn is not None:
        raise CompressedEventError("unterminated transaction at segment end")
    return b"".join(out)
