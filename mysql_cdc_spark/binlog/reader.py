"""Binlog frame scan + typed event parse (S1/S4/S5 in SURVEY.md §2.1).

Re-expresses the reference's offline read path:

- magic validation + header/payload framing: binlog_reader.rs:20-59
- 19-byte header layout: event_header.rs:10-42
- event-type dispatch (17 branches): event_parser.rs:41-122
- FDE checksum negotiation + CRC trim: event_parser.rs:47-50,113-115,
  format_description_event.rs:28-76
- TableMap cache keyed by table_id: event_parser.rs:30,117-119

Within one binlog file the scan is inherently sequential (headers chain via
``next_event_position``) — exactly the reference's model.  Parallelism in the
Spark engine is *across files* (see decoder.py); this module is the per-task
sequential kernel.

Events are returned as plain dicts (cheap to build, Arrow-friendly).
"""

from __future__ import annotations

import struct
from typing import Iterator, Optional

from . import kernels as K
from .compressed import (
    CompressedEventError,
    inflate_event_body,
    inflate_transaction_payload,
)
from .constants import (
    COMPRESSED_TO_PLAIN,
    EVENT_HEADER_SIZE,
    FIRST_EVENT_POSITION,
    MAGIC_NUMBER,
    ROW_EVENTS_V1,
    ROW_EVENTS_V2,
    ChecksumType,
    ColumnType,
    EventType,
    MetadataType,
)

HEADER_STRUCT = struct.Struct("<IBIIIH")  # event_header.rs:32-42


def parse_event_header(buf: bytes, off: int):
    """(timestamp, event_type, server_id, event_length, next_position, flags)."""
    return HEADER_STRUCT.unpack_from(buf, off)


def iter_frames(content: bytes) -> Iterator[tuple[int, tuple, bytes, Optional[Exception]]]:
    """Every event of one binlog segment, in order, as ``(pos, header,
    payload, error)`` — the one walk of the frame format outside the
    vector kernel (binlog_reader.rs:20-76).

    - The magic is checked once; the walk stops at the first frame whose
      ``event_length`` is shorter than a header or runs past the end (a
      torn or zero-filled tail), like ``vector._frame_chain``.
    - The FDE's checksum mode is tracked and CRC32 trailers are stripped
      (event_parser.rs:47-50,113-115); the FDE payload is passed whole.
    - MariaDB ``log_bin_compress`` frames come out inflated, typed as
      their plain twin; a MySQL TRANSACTION_PAYLOAD wrapper comes out as
      its embedded frames, each at the wrapper's on-disk ``pos`` with its
      ``next_position`` (binlog/compressed.py).
    - A frame that cannot be expanded (torn wrapper, corrupt zlib tail)
      comes out as it is on disk with the exception as ``error``, which
      is otherwise None: readers apply their dead-letter policy to it,
      scanners pass over it.
    """
    if content[:FIRST_EVENT_POSITION] != MAGIC_NUMBER:
        raise ValueError("Invalid binary log file header")
    n = len(content)
    trailer = 0
    pos = FIRST_EVENT_POSITION
    while pos + EVENT_HEADER_SIZE <= n:
        header = HEADER_STRUCT.unpack_from(content, pos)
        etype, length = header[1], header[3]
        end = pos + length
        if length < EVENT_HEADER_SIZE or end > n:
            break
        if etype == EventType.FORMAT_DESCRIPTION:
            payload = content[pos + EVENT_HEADER_SIZE : end]
            checksum = parse_format_description(payload, length)[2]
            trailer = 4 if checksum == ChecksumType.CRC32 else 0
            yield pos, header, payload, None
        elif etype in COMPRESSED_TO_PLAIN or etype == EventType.MYSQL_TRANSACTION_PAYLOAD:
            payload = content[pos + EVENT_HEADER_SIZE : end - trailer]
            try:
                if etype in COMPRESSED_TO_PLAIN:
                    plain, body = inflate_event_body(etype, payload)
                    frames = [((header[0], plain) + header[2:], body)]
                else:
                    # embedded frames carry no checksum; expand the whole
                    # (atomic) transaction before yielding any of it
                    inner, frames = inflate_transaction_payload(payload), []
                    ipos, m = 0, len(inner)
                    while ipos + EVENT_HEADER_SIZE <= m:
                        ih = HEADER_STRUCT.unpack_from(inner, ipos)
                        if ih[3] < EVENT_HEADER_SIZE or ipos + ih[3] > m:
                            raise CompressedEventError(
                                "corrupt embedded frame inside transaction payload"
                            )
                        frames.append((
                            ih[:4] + (header[4], ih[5]),
                            inner[ipos + EVENT_HEADER_SIZE : ipos + ih[3]],
                        ))
                        ipos += ih[3]
            except Exception as e:
                yield pos, header, payload, e
            else:
                for fh, body in frames:
                    yield pos, fh, body, None
        else:
            yield pos, header, content[pos + EVENT_HEADER_SIZE : end - trailer], None
        pos = end


def parse_table_map(payload: bytes) -> dict:
    """TableMapEvent payload; table_map_event.rs:37-87 + per-type metadata
    rules at :89-123 and optional TableMetadata sections
    (metadata/table_metadata.rs:12-48, TLV tags metadata_type.rs:3-16)."""
    off = 0
    table_id = int.from_bytes(payload[0:6], "little")
    off = 8  # 6-byte table_id + 2 reserved bytes (table_map_event.rs:40)
    db_len = payload[off]
    off += 1
    database_name, off = K.read_string(payload, off, db_len)
    off += 1  # null terminator
    tbl_len = payload[off]
    off += 1
    table_name, off = K.read_string(payload, off, tbl_len)
    off += 1  # null terminator

    columns_number, off = K.read_len_enc_num(payload, off)
    column_types = list(payload[off : off + columns_number])
    off += columns_number

    _metadata_length, off = K.read_len_enc_num(payload, off)
    column_metadata = [0] * columns_number
    for i, ct in enumerate(column_types):
        # 1-byte metadata types (table_map_event.rs:96-107)
        if ct in (
            ColumnType.GEOMETRY,
            ColumnType.JSON,
            ColumnType.VECTOR,
            ColumnType.TINY_BLOB,
            ColumnType.MEDIUM_BLOB,
            ColumnType.LONG_BLOB,
            ColumnType.BLOB,
            ColumnType.FLOAT,
            ColumnType.DOUBLE,
            ColumnType.TIMESTAMP2,
            ColumnType.DATETIME2,
            ColumnType.TIME2,
        ):
            column_metadata[i] = payload[off]
            off += 1
        # 2-byte little-endian (table_map_event.rs:109-112)
        elif ct in (
            ColumnType.BIT,
            ColumnType.VARCHAR,
            ColumnType.VAR_STRING,
            ColumnType.NEWDECIMAL,
        ):
            column_metadata[i] = struct.unpack_from("<H", payload, off)[0]
            off += 2
        # 2-byte big-endian (table_map_event.rs:114-117)
        elif ct in (ColumnType.ENUM, ColumnType.SET, ColumnType.STRING):
            column_metadata[i] = struct.unpack_from(">H", payload, off)[0]
            off += 2

    null_bitmap, off = K.read_bitmap_little_endian(payload, off, columns_number)

    column_names: Optional[list[str]] = None
    simple_primary_keys: Optional[list[int]] = None
    signedness: Optional[list[bool]] = None
    enum_string_values: Optional[list[list[str]]] = None
    set_string_values: Optional[list[list[str]]] = None
    default_charset: Optional[dict] = None
    column_charsets: Optional[list[int]] = None
    geometry_types: Optional[list[int]] = None
    primary_keys_with_prefix: Optional[dict[int, int]] = None
    enum_and_set_default_charset: Optional[dict] = None
    enum_and_set_column_charsets: Optional[list[int]] = None
    column_visibility: Optional[list[bool]] = None
    # Optional TableMetadata TLV sections (MySQL 5.6+ / MariaDB 10.5+);
    # table_map_event.rs:66-70 → table_metadata.rs:55-130; all 12 tags of
    # metadata_type.rs:3-16 parse

    def _parse_type_values(section: bytes) -> list[list[str]]:
        # table_metadata.rs parse_type_values: per ENUM/SET column, a
        # lenc count followed by that many lenc strings
        out: list[list[str]] = []
        soff = 0
        while soff < len(section):
            count, soff = K.read_len_enc_num(section, soff)
            values = []
            for _ in range(count):
                v, soff = K.read_len_enc_str(section, soff)
                values.append(v)
            out.append(values)
        return out

    def _parse_int_array(section: bytes) -> list[int]:
        out, soff = [], 0
        while soff < len(section):
            v, soff = K.read_len_enc_num(section, soff)
            out.append(v)
        return out

    def _parse_int_map(section: bytes) -> dict[int, int]:
        out, soff = {}, 0
        while soff < len(section):
            k, soff = K.read_len_enc_num(section, soff)
            v, soff = K.read_len_enc_num(section, soff)
            out[k] = v
        return out

    def _parse_default_charset(section: bytes) -> dict:
        # table_metadata.rs parse_default_charser: lenc default collation
        # + (column, collation) override pairs
        dc, soff = K.read_len_enc_num(section, 0)
        return {
            "default_collation": dc,
            "charset_collations": _parse_int_map(section[soff:]),
        }

    while off < len(payload):
        mtype = payload[off]
        off += 1
        mlen, off = K.read_len_enc_num(payload, off)
        section = payload[off : off + mlen]
        off += mlen
        if mtype == MetadataType.COLUMN_NAME:
            column_names = []
            soff = 0
            while soff < len(section):
                name, soff = K.read_len_enc_str(section, soff)
                column_names.append(name)
        elif mtype == MetadataType.SIMPLE_PRIMARY_KEY:
            simple_primary_keys = _parse_int_array(section)
        elif mtype == MetadataType.SIGNEDNESS:
            # one bit per *numeric* column, big-endian reverted bitmap
            # (table_metadata.rs:137-141,182-201)
            nbits = mlen * 8
            bits, _ = K.read_bitmap_big_endian(section, 0, nbits)
            signedness = list(bits)
        elif mtype == MetadataType.ENUM_STR_VALUE:
            enum_string_values = _parse_type_values(section)
        elif mtype == MetadataType.SET_STR_VALUE:
            set_string_values = _parse_type_values(section)
        elif mtype == MetadataType.DEFAULT_CHARSET:
            default_charset = _parse_default_charset(section)
        elif mtype == MetadataType.COLUMN_CHARSET:
            column_charsets = _parse_int_array(section)
        elif mtype == MetadataType.GEOMETRY_TYPE:
            geometry_types = _parse_int_array(section)
        elif mtype == MetadataType.PRIMARY_KEY_WITH_PREFIX:
            primary_keys_with_prefix = _parse_int_map(section)
        elif mtype == MetadataType.ENUM_AND_SET_DEFAULT_CHARSET:
            enum_and_set_default_charset = _parse_default_charset(section)
        elif mtype == MetadataType.ENUM_AND_SET_COLUMN_CHARSET:
            enum_and_set_column_charsets = _parse_int_array(section)
        elif mtype == MetadataType.VISIBILITY:
            nbits = mlen * 8
            bits, _ = K.read_bitmap_big_endian(section, 0, nbits)
            column_visibility = list(bits)

    return {
        "table_id": table_id,
        "database_name": database_name,
        "table_name": table_name,
        "column_types": column_types,
        "column_metadata": column_metadata,
        "null_bitmap": list(null_bitmap),
        "column_names": column_names,
        "simple_primary_keys": simple_primary_keys,
        "signedness": signedness,
        "enum_string_values": enum_string_values,
        "set_string_values": set_string_values,
        "default_charset": default_charset,
        "column_charsets": column_charsets,
        "geometry_types": geometry_types,
        "primary_keys_with_prefix": primary_keys_with_prefix,
        "enum_and_set_default_charset": enum_and_set_default_charset,
        "enum_and_set_column_charsets": enum_and_set_column_charsets,
        "column_visibility": column_visibility,
    }


def parse_cell(
    buf: bytes, off: int, column_type: int, metadata: int,
    codec: str = "utf-8",
):
    """Single typed cell; row_parser.rs:130-184. Returns (value, new_off).

    Dispatch ordered by workload frequency (strings and wide ints first —
    text-heavy CDC tables hit VARCHAR/LONGLONG/TIMESTAMP2 on ~every cell).
    ``codec``: charset for string cells (binlog/charset.py); blob-form
    TEXT stays bytes here — its charset applies at kind conversion."""
    C = ColumnType
    if column_type == C.VARCHAR or column_type == C.VAR_STRING or column_type == C.STRING:
        return K.parse_string_cell(buf, off, metadata, codec)
    if column_type == C.LONGLONG:
        return struct.unpack_from("<Q", buf, off)[0], off + 8
    if column_type == C.TIMESTAMP2:
        return K.parse_timestamp2(buf, off, metadata)
    if column_type == C.TINY:
        return buf[off], off + 1
    if column_type == C.SHORT:
        return struct.unpack_from("<H", buf, off)[0], off + 2
    if column_type == C.INT24:
        return int.from_bytes(buf[off : off + 3], "little"), off + 3
    if column_type == C.LONG:
        return struct.unpack_from("<I", buf, off)[0], off + 4
    if column_type == C.FLOAT:
        return struct.unpack_from("<f", buf, off)[0], off + 4
    if column_type == C.DOUBLE:
        return struct.unpack_from("<d", buf, off)[0], off + 8
    if column_type == C.NEWDECIMAL:
        return K.parse_decimal(buf, off, metadata)
    if column_type == C.BIT:
        return K.parse_bit(buf, off, metadata)
    if column_type == C.ENUM:
        return K.parse_enum(buf, off, metadata)
    if column_type == C.SET:
        return K.parse_set(buf, off, metadata)
    if column_type in (
        C.TINY_BLOB, C.MEDIUM_BLOB, C.LONG_BLOB, C.BLOB, C.GEOMETRY, C.JSON,
        C.VECTOR,  # MySQL 9 VECTOR rides the blob wire form (packlength meta)
    ):
        return K.parse_blob(buf, off, metadata)
    if column_type == C.YEAR:
        return K.parse_year(buf, off)
    if column_type == C.DATE:
        return K.parse_date(buf, off)
    if column_type == C.TIME:
        return K.parse_time(buf, off)
    if column_type == C.TIMESTAMP:
        return K.parse_timestamp(buf, off)
    if column_type == C.DATETIME:
        return K.parse_date_time(buf, off)
    if column_type == C.TIME2:
        return K.parse_time2(buf, off, metadata)
    if column_type == C.DATETIME2:
        return K.parse_date_time2(buf, off, metadata)
    raise ValueError(f"Parsing column type {column_type} is not supported")


TABLE_MAP_NOT_FOUND = (
    "No preceding TableMapEvent event was found for the row event. "
    "You possibly started replication in the middle of logical event group."
)


_INT_WIDTH = {
    ColumnType.TINY: 8,
    ColumnType.SHORT: 16,
    ColumnType.INT24: 24,
    ColumnType.LONG: 32,
    ColumnType.LONGLONG: 64,
}

# numeric column set for the SIGNEDNESS bitmap ordinal count
# (table_metadata.rs:203-219 counts these when sizing the bitmap)
_NUMERIC_TYPES = frozenset(
    [
        ColumnType.TINY, ColumnType.SHORT, ColumnType.INT24, ColumnType.LONG,
        ColumnType.LONGLONG, ColumnType.FLOAT, ColumnType.DOUBLE,
        ColumnType.NEWDECIMAL, ColumnType.YEAR,
    ]
)


def _signed_widths(table: dict) -> list:
    """Per-column int width when the column is declared a *signed* integer
    by the SIGNEDNESS metadata bitmap, else None. The reference decodes
    unsigned raw (row_parser.rs:137-141) and carries signedness only as
    metadata (table_metadata.rs:14, one bit per numeric column, bit set =
    UNSIGNED); our typed change rows apply the reinterpretation here
    (SURVEY.md §7 hard-part 4) — but ONLY when the bitmap is actually
    present. With binlog_row_metadata=MINIMAL (MySQL's default) the section
    is omitted; guessing "signed" there would silently flip unsigned values
    ≥ 2^(w-1) negative, so we keep raw unsigned like the reference.
    Memoized on the (shared, memoized) table dict."""
    cached = table.get("_signed_widths")
    if cached is not None:
        return cached
    column_types = table["column_types"]
    signedness = table.get("signedness")
    out: list = [None] * len(column_types)
    if signedness is not None:
        ordinal = 0
        for i, ct in enumerate(column_types):
            if ct in _NUMERIC_TYPES:
                unsigned = bool(signedness[ordinal]) if ordinal < len(signedness) else False
                if not unsigned and ct in _INT_WIDTH:
                    out[i] = _INT_WIDTH[ct]
                ordinal += 1
    table["_signed_widths"] = out
    return out


def _enum_set_lookup(table: dict) -> list:
    """Per-column ENUM/SET string-value lookup tables, memoized on the
    (shared, memoized) table dict. Built from the ENUM_STR_VALUE /
    SET_STR_VALUE metadata sections (table_metadata.rs:26-31) — one value
    list per ENUM/SET column in column order."""
    cached = table.get("_enum_set_lut")
    if cached is not None:
        return cached
    ev = table.get("enum_string_values")
    sv = table.get("set_string_values")
    column_types = table["column_types"]
    out: list = [None] * len(column_types)
    if ev is not None or sv is not None:
        e_ord = s_ord = 0
        for i, (ct, md) in enumerate(zip(column_types, table["column_metadata"])):
            act = ct
            if ct == ColumnType.STRING:
                act, _ = K.get_actual_string_type(ct, md)
            if act == ColumnType.ENUM:
                if ev is not None and e_ord < len(ev):
                    out[i] = ("enum", ev[e_ord])
                e_ord += 1
            elif act == ColumnType.SET:
                if sv is not None and s_ord < len(sv):
                    out[i] = ("set", sv[s_ord])
                s_ord += 1
    table["_enum_set_lut"] = out
    return out


def parse_row(buf: bytes, off: int, table: dict, columns_present, cells_included: int):
    """One row image; row_parser.rs:97-128."""
    from .charset import table_codecs

    null_bitmap, off = K.read_bitmap_little_endian(buf, off, cells_included)
    column_types = table["column_types"]
    column_metadata = table["column_metadata"]
    signed_widths = _signed_widths(table)
    enum_set_lut = _enum_set_lookup(table)
    codecs = table_codecs(table)
    row = []
    skipped = 0
    for i in range(len(column_types)):
        if not columns_present[i]:
            # Data is missing if binlog_row_image != full (row_parser.rs:108-111)
            skipped += 1
            row.append(None)
        elif null_bitmap[i - skipped]:
            row.append(None)
        else:
            ct = column_types[i]
            md = column_metadata[i]
            if ct == ColumnType.STRING:
                ct, md = K.get_actual_string_type(ct, md)
            value, off = parse_cell(buf, off, ct, md, codecs[i] or "utf-8")
            w = signed_widths[i]
            if w is not None and value >= (1 << (w - 1)):
                value -= 1 << w  # two's-complement reinterpretation
            lut = enum_set_lut[i]
            if lut is not None:
                kind, vals = lut
                if kind == "enum":
                    # 1-based index; 0 is MySQL's empty/invalid member
                    value = vals[value - 1] if 1 <= value <= len(vals) else ""
                else:
                    value = ",".join(
                        v for b, v in enumerate(vals) if value >> b & 1
                    )
            row.append(value)
    return row, off


def _parse_extra_row_info(extra: bytes, is_update: bool) -> dict:
    """V2 rows-event extra-row-data TLVs (libbinlogevents rows_event.cpp,
    WL#12168; beyond-reference — row_parser.rs:85-88 skips the block):
    typecode 0 = NDB info (length-prefixed, passed over), typecode 1 =
    PART: u16 LE partition_id, plus u16 LE source_partition_id on UPDATE
    (a row migrating between partitions). Unknown typecodes stop the walk
    (format grows append-only; trailing bytes are future TLVs)."""
    info: dict = {}
    i = 0
    n = len(extra)
    while i < n:
        typecode = extra[i]
        i += 1
        if typecode == 0:  # NDB: u8 total length (incl. this byte), format u8
            if i >= n:
                break
            ndb_len = extra[i]
            info["ndb_info"] = bytes(extra[i + 1 : i + max(ndb_len, 1)])
            i += max(ndb_len, 1)
        elif typecode == 1:  # PART
            if i + 2 > n:
                break
            info["partition_id"] = struct.unpack_from("<H", extra, i)[0]
            i += 2
            if is_update and i + 2 <= n:
                info["source_partition_id"] = struct.unpack_from("<H", extra, i)[0]
                i += 2
        else:
            break
    return info


def parse_rows_head(payload: bytes, row_event_version: int, is_update: bool = False):
    """Common rows-event head; row_parser.rs:79-95."""
    table_id = int.from_bytes(payload[0:6], "little")
    off = 6
    flags = struct.unpack_from("<H", payload, off)[0]
    off += 2
    extra_info: dict = {}
    if row_event_version == 2:
        extra_data_length = struct.unpack_from("<H", payload, off)[0]
        body = payload[off + 2 : off + extra_data_length]
        if body:
            extra_info = _parse_extra_row_info(body, is_update)
        off += 2 + (extra_data_length - 2)
    columns_number, off = K.read_len_enc_num(payload, off)
    return table_id, flags, columns_number, off, extra_info


def parse_write_or_delete_rows(payload: bytes, table_map: dict, version: int):
    """write_rows_event.rs:31-46 / delete_rows_event.rs (same layout)."""
    table_id, flags, ncols, off, extra_info = parse_rows_head(payload, version)
    columns_present, off = K.read_bitmap_little_endian(payload, off, ncols)
    table = table_map.get(table_id)
    if table is None:
        raise ValueError(TABLE_MAP_NOT_FOUND)
    cells = int(sum(columns_present))
    rows = []
    n = len(payload)
    while off < n:
        row, off = parse_row(payload, off, table, columns_present, cells)
        rows.append(row)
    out = {
        "table_id": table_id,
        "flags": flags,
        "rows": rows,
        "columns_present": [bool(b) for b in columns_present],
    }
    if extra_info:
        out.update(extra_info)
    return out


def parse_update_rows(payload: bytes, table_map: dict, version: int):
    """update_rows_event.rs:36-64; rows are (before, after) pairs."""
    table_id, flags, ncols, off, extra_info = parse_rows_head(
        payload, version, is_update=True
    )
    before_present, off = K.read_bitmap_little_endian(payload, off, ncols)
    after_present, off = K.read_bitmap_little_endian(payload, off, ncols)
    table = table_map.get(table_id)
    if table is None:
        raise ValueError(TABLE_MAP_NOT_FOUND)
    cells_before = int(sum(before_present))
    cells_after = int(sum(after_present))
    rows = []
    n = len(payload)
    while off < n:
        before, off = parse_row(payload, off, table, before_present, cells_before)
        after, off = parse_row(payload, off, table, after_present, cells_after)
        rows.append((before, after))
    out = {
        "table_id": table_id,
        "flags": flags,
        "rows": rows,
        "before_present": [bool(b) for b in before_present],
        "after_present": [bool(b) for b in after_present],
    }
    if extra_info:
        out.update(extra_info)
    return out


def parse_format_description(payload: bytes, event_length: int):
    """format_description_event.rs:28-76 → (binlog_version, server_version,
    checksum_type)."""
    binlog_version = struct.unpack_from("<H", payload, 0)[0]
    raw = payload[2:52]
    zero = raw.find(b"\x00")
    server_version = (raw[:zero] if zero >= 0 else raw).decode("utf-8")
    # skip redundant timestamp(4) + header length(1), then the post-header
    # length array entry for FDE itself (type 15 → index 14)
    pos = 57 + (EventType.FORMAT_DESCRIPTION - 1)
    payload_length = payload[pos]
    checksum_type = ChecksumType.NONE
    if payload_length != event_length - EVENT_HEADER_SIZE:
        skip = payload_length - 57 - EventType.FORMAT_DESCRIPTION
        checksum_type = payload[pos + 1 + skip]
        if checksum_type not in (ChecksumType.NONE, ChecksumType.CRC32):
            raise ValueError(f"The master checksum type is not supported: {checksum_type}")
    return binlog_version, server_version, checksum_type


def parse_query(payload: bytes) -> dict:
    """query_event.rs:30-63."""
    thread_id, duration = struct.unpack_from("<II", payload, 0)
    db_len = payload[8]
    error_code, status_len = struct.unpack_from("<HH", payload, 9)
    off = 13 + status_len
    database_name, off = K.read_string(payload, off, db_len)
    off += 1
    sql = bytes(payload[off:]).decode("utf-8")
    return {
        "thread_id": thread_id,
        "duration": duration,
        "error_code": error_code,
        "database_name": database_name,
        "sql_statement": sql,
    }


def parse_rotate(payload: bytes) -> dict:
    """rotate_event.rs:20-31."""
    position = struct.unpack_from("<Q", payload, 0)[0]
    filename = bytes(payload[8:]).decode("utf-8")
    return {"binlog_position": position, "binlog_filename": filename}


def parse_mysql_gtid(payload: bytes) -> dict:
    """mysql/events/gtid_event.rs:20-33."""
    flags = payload[0]
    from ..gtid import Uuid

    source_id = Uuid.from_bytes(bytes(payload[1:17]))
    txid = struct.unpack_from("<Q", payload, 17)[0]
    return {"flags": flags, "source_uuid": source_id.uuid, "transaction_id": txid}


def parse_mariadb_gtid(payload: bytes, server_id: int) -> dict:
    """mariadb/events/gtid_event.rs:20-29 (server_id comes from the header)."""
    sequence = struct.unpack_from("<Q", payload, 0)[0]
    domain_id = struct.unpack_from("<I", payload, 8)[0]
    flags = payload[12]
    return {
        "flags": flags,
        "domain_id": domain_id,
        "server_id": server_id,
        "sequence": sequence,
    }


def parse_intvar(payload: bytes) -> dict:
    """intvar_event.rs:22-28 — auto_increment / LAST_INSERT_ID carrier.
    intvar_type: 0x00 invalid, 0x01 LAST_INSERT_ID, 0x02 INSERT_ID."""
    intvar_type = payload[0]
    value = struct.unpack_from("<Q", payload, 1)[0]
    return {"intvar_type": intvar_type, "value": value}


def parse_rand(payload: bytes) -> dict:
    """RAND (type 13): statement-based RAND() seed carrier — two u64 LE
    seeds (libbinlogevents Rand_event; beyond-reference: event_type.rs
    names no code 13). Row-based streams never emit it, but mixed-format
    servers do; a row-image replica records and otherwise ignores it."""
    seed1, seed2 = struct.unpack_from("<QQ", payload, 0)
    return {"seed1": seed1, "seed2": seed2}


def parse_mariadb_gtid_list(payload: bytes) -> dict:
    """mariadb/events/gtid_list_event.rs:17-33 — replication state at the
    start of a MariaDB binlog (the PREVIOUS_GTIDS analog): u32 count, then
    (domain_id u32, server_id u32, sequence u64) per gtid."""
    from ..gtid import GtidList, MariaGtid

    count = struct.unpack_from("<I", payload, 0)[0]
    off = 4
    gl = GtidList()
    for _ in range(count):
        domain_id, server_id = struct.unpack_from("<II", payload, off)
        sequence = struct.unpack_from("<Q", payload, off + 8)[0]
        off += 16
        gl.gtids.append(MariaGtid(domain_id, server_id, sequence))
    return {"gtid_list": str(gl)}


def parse_heartbeat(payload: bytes) -> dict:
    """heartbeat_event.rs:9-21 — payload is the current binlog filename."""
    return {"binlog_filename": bytes(payload).decode("utf-8")}


def parse_heartbeat_v2(payload: bytes) -> dict:
    """HEARTBEAT_LOG_EVENT_V2 (type 41, MySQL 8.0.26+; beyond-reference —
    absent from the reference enum): TLV fields like TRANSACTION_PAYLOAD
    (libbinlogevents Heartbeat_event_v2): type 0 = log filename (string),
    type 1 = log position (LE int); 0 also doubles as the OTW end marker
    when its length is 0 at the tail."""
    filename, position = "", 0
    off = 0
    n = len(payload)
    while off < n:
        ftype, off = K.read_len_enc_num(payload, off)
        if off >= n:
            break
        flen, off = K.read_len_enc_num(payload, off)
        val = payload[off : off + flen]
        off += flen
        if ftype == 0 and flen:
            filename = bytes(val).decode("utf-8", "replace")
        elif ftype == 1:
            position = int.from_bytes(val, "little")
    return {"binlog_filename": filename, "binlog_position": position}


class BinlogIncidentError(RuntimeError):
    """An INCIDENT event (type 26, LOST_EVENTS) was found in the stream.

    The server wrote this marker because events may have been lost or
    corrupted upstream (e.g. a failed non-transactional statement during
    replication). A MySQL replica stops with ER_REPLICA_INCIDENT at this
    point; decoding likewise refuses to continue past it — resolve by
    re-bootstrapping from a snapshot, or deliberately restart the
    Replayer with a position start strategy past ``(src_file, pos)``.
    """

    def __init__(self, src_file: str, pos: int, incident_number: int, message: str):
        self.src_file = src_file
        self.pos = pos
        self.incident_number = incident_number
        self.message = message
        super().__init__(
            f"INCIDENT (LOST_EVENTS) at {src_file}@{pos}: "
            f"number={incident_number} message={message!r} — events may be "
            f"missing; re-snapshot, or start past this position explicitly"
        )


class BinlogEncryptionError(RuntimeError):
    """A MariaDB START_ENCRYPTION event (type 164, encrypt_binlog=ON) was
    found: every subsequent event body in the segment is AES-encrypted
    with a key this engine does not hold, so decoding past it would
    produce garbage. Decrypt upstream (the server's key management /
    `mariadb-binlog --read-from-remote-server` emit plaintext) or
    disable binlog encryption for the replication stream."""

    def __init__(self, src_file: str, key_version: int):
        self.src_file = src_file
        self.key_version = key_version
        super().__init__(
            f"encrypted binlog {src_file or '<stream>'} (START_ENCRYPTION, "
            f"key_version={key_version}): events past this point are "
            "AES-encrypted — supply a decrypted stream"
        )


def parse_start_encryption(payload: bytes) -> dict:
    """MariaDB START_ENCRYPTION (type 164): u8 crypto scheme, u32 LE key
    version, 12-byte nonce (public MariaDB binlog-encryption docs)."""
    scheme = payload[0] if payload else 0
    key_version = struct.unpack_from("<I", payload, 1)[0] if len(payload) >= 5 else 0
    nonce = bytes(payload[5:17])
    return {"scheme": scheme, "key_version": key_version, "nonce": nonce}


def parse_incident(payload: bytes) -> dict:
    """INCIDENT_EVENT (type 26) — libbinlogevents Incident_event: u16 LE
    incident number (0 = NONE, 1 = LOST_EVENTS), then 1-byte message
    length + message. Beyond-reference: event_type.rs omits code 26."""
    number = struct.unpack_from("<H", payload, 0)[0]
    message = ""
    if len(payload) > 2:
        mlen = payload[2]
        message = bytes(payload[3 : 3 + mlen]).decode("utf-8", "replace")
    return {"incident_number": number, "message": message}


def parse_xid(payload: bytes) -> int:
    """xid_event.rs:17-21."""
    return struct.unpack_from("<Q", payload, 0)[0]


class BinlogFileReader:
    """Sequential (header, event) iterator over one binlog file's bytes.

    Equivalent of BinlogReader (binlog_reader.rs:14-77) + EventParser state
    (event_parser.rs:25-31): ``iter_frames`` walks the frames and tracks
    the checksum mode, this class keeps the table-map cache and types
    each event.
    """

    def __init__(self, content: bytes, filename: str = "", on_error: str = "fail"):
        if content[:FIRST_EVENT_POSITION] != MAGIC_NUMBER:
            raise ValueError("Invalid binary log file header")
        if on_error not in ("fail", "quarantine"):
            raise ValueError(f"on_error must be 'fail' or 'quarantine': {on_error}")
        self.content = content
        self.filename = filename
        self.on_error = on_error
        self.table_map: dict[int, dict] = {}
        # payload-keyed memo: servers re-emit an identical TABLE_MAP before
        # every transaction (the reference re-parses each one,
        # event_parser.rs:117-119; byte-identical payloads let us skip it)
        self._tm_memo: dict[bytes, dict] = {}

    def __iter__(self) -> Iterator[tuple[tuple, int, str, object]]:
        """Yields (header_tuple, pos, kind, event_dict_or_None).

        kind is one of: 'format_description', 'table_map', 'write_rows',
        'update_rows', 'delete_rows', 'mysql_gtid', 'mariadb_gtid', 'xid',
        'query', 'rotate', 'heartbeat', 'prev_gtids', 'uservar',
        'rows_query', 'intvar', 'mariadb_gtid_list', 'unknown' — all 17
        typed BinlogEvent variants of binlog_event.rs:20-39 — plus
        'xa_prepare' (type 38, enumerated but never decoded by the
        reference; binlog/xa.py).
        """
        for pos, header, payload, error in iter_frames(self.content):
            etype = header[1]
            try:
                if error is not None:
                    raise error
                kind, event = self._parse(etype, header[2], payload, header[3])
            except BinlogEncryptionError:
                raise  # not corruption: the stream is unreadable by design
            except Exception as e:
                # the dead-letter policy (Debezium's event.processing.
                # failure.handling.mode): only a ROW event or a whole
                # TRANSACTION_PAYLOAD wrapper is quarantinable — its loss
                # is scoped to its own rows, and the length-prefixed frame
                # chain resumes at the next header. A corrupt structural
                # event (FDE, TABLE_MAP, GTID, QUERY, XID, …) would
                # mis-decode everything after it, so it still raises.
                plain = COMPRESSED_TO_PLAIN.get(etype, etype)
                if self.on_error != "quarantine" or not (
                    plain in ROW_EVENTS_V1
                    or plain in ROW_EVENTS_V2
                    or etype == EventType.MYSQL_PARTIAL_UPDATE_ROWS
                    or etype == EventType.MYSQL_TRANSACTION_PAYLOAD
                ):
                    raise
                kind, event = "quarantine", {
                    "event_type": int(etype),
                    "payload_len": len(payload),
                    "error": f"{type(e).__name__}: {e}",
                }
            yield header, pos, kind, event

    def _parse(self, etype: int, server_id: int, payload: bytes, event_length: int):
        E = EventType
        if etype == E.MYSQL_PARTIAL_UPDATE_ROWS:
            # MySQL 8 binlog_row_value_options=PARTIAL_JSON (beyond-
            # reference): apply the after-image JSON diff vectors to the
            # before-image documents and dispatch as the plain V2 twin —
            # binlog/partial.py
            from .partial import expand_partial_body

            payload = expand_partial_body(payload, self.table_map)
            etype = E.MYSQL_UPDATE_ROWS_V2
        if etype == E.FORMAT_DESCRIPTION:
            binlog_version, server_version, checksum = parse_format_description(
                payload, event_length
            )
            return "format_description", {
                "binlog_version": binlog_version,
                "server_version": server_version,
                "checksum_type": checksum,
            }
        if etype == E.TABLE_MAP:
            tm = self._tm_memo.get(payload)
            if tm is None:
                tm = parse_table_map(payload)
                self._tm_memo[payload] = tm
            self.table_map[tm["table_id"]] = tm  # event_parser.rs:117-119
            return "table_map", tm
        if etype in (E.WRITE_ROWS_V1, E.MYSQL_WRITE_ROWS_V2):
            version = 2 if etype == E.MYSQL_WRITE_ROWS_V2 else 1
            return "write_rows", parse_write_or_delete_rows(payload, self.table_map, version)
        if etype in (E.UPDATE_ROWS_V1, E.MYSQL_UPDATE_ROWS_V2):
            version = 2 if etype == E.MYSQL_UPDATE_ROWS_V2 else 1
            return "update_rows", parse_update_rows(payload, self.table_map, version)
        if etype in (E.DELETE_ROWS_V1, E.MYSQL_DELETE_ROWS_V2):
            version = 2 if etype == E.MYSQL_DELETE_ROWS_V2 else 1
            return "delete_rows", parse_write_or_delete_rows(payload, self.table_map, version)
        if etype == E.MYSQL_GTID:
            return "mysql_gtid", parse_mysql_gtid(payload)
        if etype == E.MARIADB_GTID:
            return "mariadb_gtid", parse_mariadb_gtid(payload, server_id)
        if etype == E.XID:
            return "xid", {"xid": parse_xid(payload)}
        if etype == E.MYSQL_XA_PREPARE:
            # typed decode is beyond-reference: event_type.rs:67-68 names
            # type 38 but the reference never parses it (binlog/xa.py)
            from .xa import parse_xa_prepare

            return "xa_prepare", parse_xa_prepare(payload)
        if etype == E.QUERY:
            return "query", parse_query(payload)
        if etype == E.ROTATE:
            return "rotate", parse_rotate(payload)
        if etype == E.HEARTBEAT:
            return "heartbeat", parse_heartbeat(payload)
        if etype == E.MYSQL_HEARTBEAT_V2:
            return "heartbeat", parse_heartbeat_v2(payload)
        if etype == E.MYSQL_PREVIOUS_GTIDS:
            return "prev_gtids", {"gtid_set": str(K.parse_prev_gtids(payload))}
        if etype == E.USER_VAR:
            name, value = K.parse_uservar(payload)
            return "uservar", {"name": name, "value": value}
        if etype in (E.MYSQL_ROWS_QUERY, E.MARIADB_ANNOTATE_ROWS):
            # rows_query_event.rs: mysql variant skips a leading length byte
            text = payload[1:] if etype == E.MYSQL_ROWS_QUERY else payload
            return "rows_query", {"query": bytes(text).decode("utf-8", "replace")}
        if etype == E.INCIDENT:
            return "incident", parse_incident(payload)
        if etype == E.STOP:
            # clean server shutdown marker; empty body, no state change
            return "stop", {}
        if etype == E.MARIADB_BINLOG_CHECKPOINT:
            # MariaDB crash-safety marker: binlogs BEFORE this filename are
            # no longer needed for recovery (u32 LE name length + name) —
            # surfaced for retention tooling, no decode-state change
            nlen = struct.unpack_from("<I", payload, 0)[0]
            return "binlog_checkpoint", {
                "binlog_filename": bytes(payload[4 : 4 + nlen]).decode(
                    "utf-8", "replace"
                )
            }
        if etype == E.MARIADB_START_ENCRYPTION:
            # refuse loudly: everything after this frame is ciphertext
            ev = parse_start_encryption(payload)
            raise BinlogEncryptionError(self.filename, ev["key_version"])
        if etype == E.INTVAR:
            return "intvar", parse_intvar(payload)
        if etype == E.RAND:
            return "rand", parse_rand(payload)
        if etype == E.IGNORABLE:
            # typed no-op: "skip if not understood" marker, empty semantics
            return "ignorable", {}
        if etype in (E.MYSQL_TRANSACTION_CONTEXT, E.MYSQL_VIEW_CHANGE):
            # Group Replication control frames: recognized and passed over
            # (no row data); raw payload kept for observability tooling
            kind = (
                "transaction_context"
                if etype == E.MYSQL_TRANSACTION_CONTEXT
                else "view_change"
            )
            return kind, {"payload_len": len(payload)}
        if etype == E.MARIADB_GTID_LIST:
            return "mariadb_gtid_list", parse_mariadb_gtid_list(payload)
        return "unknown", None
