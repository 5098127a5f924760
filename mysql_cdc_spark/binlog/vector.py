"""Vectorized (two-pass numpy) binlog segment decode — the decode hot
loop's scale path (north_star: "decoded in batch via vectorized
Arrow UDFs, never per-row Python"): segment bytes in, ``pa.RecordBatch``
of the declared change-event schema out.

Pass 1 — frame chain: a minimal sequential walk records each frame's
offset (frames chain via ``event_length``; event_header.rs:24,
binlog_reader.rs:39-58); every other header field is then *gathered*
vectorized for all frames at once (numpy fancy indexing over the
segment's byte array).

Pass 2 — typed decode by event class, all numpy:

- control events: GTID payloads (mysql/events/gtid_event.rs:20-33,
  mariadb/events/gtid_event.rs:20-29), XID (xid_event.rs:17-21) and QUERY
  classification (binlog_client.rs:88-95) are fixed-offset gathers;
  source-uuid strings are formatted once per *unique* uuid
  (``np.unique`` over the 16-byte matrix), not per event;
- TABLE_MAP: parsed scalar per unique payload bytes (servers re-emit an
  identical map before every transaction — event_parser.rs:117-119 — so
  this is O(unique maps), not O(events));
- row events (row_parser.rs:97-184): decoded with an **event-wavefront**:
  row events of one (table-map, kind) group advance one row per step, and
  each step runs vectorized column passes over the whole group — length
  prefixes → per-event offset advance, value gathers → columnar arrays.
  Per-byte work is numpy regardless of rows-per-event; string payloads
  are assembled into Arrow buffers with one gather (no per-row slicing).

Transaction gating (ST2, binlog_client.rs:69-99) becomes a
``searchsorted`` computation over the control-event index arrays instead
of a stateful loop: a row event's GTID is the last GTID event before it
with no commit marker in between; it commits with the first XID/COMMIT
marker before the next GTID, aborts on ROLLBACK/DDL, and is an
uncommitted tail (xid NULL) when its group reaches end-of-file.

``decode_segment_fast`` returns None when the segment uses a construct
outside the fast path (decimals beyond decimal128's 38 digits, SET
columns with >8 members when a string lookup is required, unsupported
column types) — the caller falls back to the scalar ``_FileDecoder``,
which remains the semantics reference; tests assert batch-level equality
between the two. Partial row images decode as presence-pattern
subgroups; tables wider than 64 columns use multi-word presence bitmaps;
decimals with precision 19–38 accumulate in two 64-bit limbs — all on
the fast path.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pyarrow as pa

from . import arrays as A
from .constants import (
    EVENT_HEADER_SIZE,
    FIRST_EVENT_POSITION,
    MAGIC_NUMBER,
    ChecksumType,
    ColumnType,
    EventType,
)
from .compressed import inflate_segment, segment_has_compressed
from .reader import parse_format_description, parse_query, parse_table_map

_ROW_WRITE = (EventType.WRITE_ROWS_V1, EventType.MYSQL_WRITE_ROWS_V2)
_ROW_UPDATE = (EventType.UPDATE_ROWS_V1, EventType.MYSQL_UPDATE_ROWS_V2)
_ROW_DELETE = (EventType.DELETE_ROWS_V1, EventType.MYSQL_DELETE_ROWS_V2)
_ROW_TYPES = _ROW_WRITE + _ROW_UPDATE + _ROW_DELETE
_V2_TYPES = (
    EventType.MYSQL_WRITE_ROWS_V2,
    EventType.MYSQL_UPDATE_ROWS_V2,
    EventType.MYSQL_DELETE_ROWS_V2,
)

# column types the wavefront can decode, with fixed widths where static
_FIXED_WIDTH = {
    ColumnType.TINY: 1,
    ColumnType.SHORT: 2,
    ColumnType.INT24: 3,
    ColumnType.LONG: 4,
    ColumnType.LONGLONG: 8,
    ColumnType.FLOAT: 4,
    ColumnType.DOUBLE: 8,
    ColumnType.TIMESTAMP: 4,
    ColumnType.YEAR: 1,
    ColumnType.DATE: 3,
    ColumnType.DATETIME: 8,
}
_BLOB_TYPES = (
    ColumnType.TINY_BLOB, ColumnType.MEDIUM_BLOB, ColumnType.LONG_BLOB,
    ColumnType.BLOB, ColumnType.GEOMETRY, ColumnType.JSON,
    ColumnType.VECTOR,  # MySQL 9: blob wire form, packlength metadata
)
_SUPPORTED_TYPES = frozenset(_FIXED_WIDTH) | set(_BLOB_TYPES) | {
    ColumnType.VARCHAR,
    ColumnType.VAR_STRING,
    ColumnType.TIMESTAMP2,
    ColumnType.DATETIME2,
    ColumnType.TIME,
    ColumnType.TIME2,
}

def _gather_le(data: np.ndarray, offs: np.ndarray, width: int) -> np.ndarray:
    """Little-endian unsigned gather of `width` bytes at each offset.

    Offsets are clamped to the buffer: NULL cells keep a stale offset that
    can sit exactly at end-of-payload — their speculative read is masked
    out afterwards, it just must not fault."""
    out = np.zeros(len(offs), dtype=np.uint64)
    hi = len(data) - 1
    for k in range(width):
        out |= data[np.minimum(offs + k, hi)].astype(np.uint64) << np.uint64(8 * k)
    return out


def _gather_be(data: np.ndarray, offs: np.ndarray, width: int) -> np.ndarray:
    out = np.zeros(len(offs), dtype=np.uint64)
    hi = len(data) - 1
    for k in range(width):
        out = (out << np.uint64(8)) | data[np.minimum(offs + k, hi)].astype(np.uint64)
    return out


def _frame_chain(content: bytes) -> Optional[dict]:
    """Pass 1: offsets of every frame (sequential, minimal per-frame work),
    then vectorized header-field gathers."""
    n = len(content)
    if content[:FIRST_EVENT_POSITION] != MAGIC_NUMBER:
        raise ValueError("Invalid binary log file header")
    import struct

    u32 = struct.Struct("<I").unpack_from
    offs: list[int] = []
    append = offs.append
    pos = FIRST_EVENT_POSITION
    while pos + EVENT_HEADER_SIZE <= n:
        ln = u32(content, pos + 9)[0]
        if ln < EVENT_HEADER_SIZE or pos + ln > n:
            break  # corrupt / truncated tail — mirror scalar EOF stop
        append(pos)
        pos += ln
    data = np.frombuffer(content, dtype=np.uint8)
    o = np.array(offs, dtype=np.int64)
    m = len(o)
    etype = data[o + 4] if m else np.zeros(0, dtype=np.uint8)
    ts = _gather_le(data, o, 4).astype(np.int64)
    server_id = _gather_le(data, o + 5, 4).astype(np.int64)
    length = _gather_le(data, o + 9, 4).astype(np.int64)
    next_pos = _gather_le(data, o + 13, 4).astype(np.int64)

    checksum = ChecksumType.NONE
    if m and etype[0] == EventType.FORMAT_DESCRIPTION:
        payload = content[offs[0] + EVENT_HEADER_SIZE : offs[0] + int(length[0])]
        _, _, checksum = parse_format_description(payload, int(length[0]))

    p_start = o + EVENT_HEADER_SIZE
    p_end = o + length
    if checksum == ChecksumType.CRC32:
        p_end = p_end - np.where(etype == EventType.FORMAT_DESCRIPTION, 0, 4)
    return {
        "data": data,
        "n": m,
        "off": o,
        "etype": etype,
        "ts": ts,
        "server_id": server_id,
        "next_pos": next_pos,
        "p_start": p_start,
        "p_end": p_end,
    }


def _unique_pairs(a: np.ndarray, b: np.ndarray):
    """np.unique(axis=0) replacement for (u64, u64) key pairs: one 2-key
    lexsort instead of a 16-column void sort. Returns (representative
    indices of first occurrence per unique pair in sorted-pair order,
    inverse mapping)."""
    order = np.lexsort((b, a))
    sa, sb = a[order], b[order]
    new = np.empty(len(a), dtype=bool)
    new[0] = True
    new[1:] = (sa[1:] != sa[:-1]) | (sb[1:] != sb[:-1])
    group_of_sorted = np.cumsum(new) - 1
    inv = np.empty(len(a), dtype=np.int64)
    inv[order] = group_of_sorted
    return order[new], inv


def _control_arrays(fr: dict, content: bytes, xa_outcomes=None):
    """GTID / marker index arrays for the searchsorted transaction gate.

    Markers carry a state: 0 = abort, 1 = commit, 2 = pending (an XA
    prepare with no verdict in this batch — rows emit with xid NULL so
    the committed-only gate holds them back; binlog/xa.py module doc).
    ``xa_outcomes`` is the batch-wide {xid_key: bool} verdict map; the
    segment's own XA COMMIT/ROLLBACK statements are merged over it.
    """
    from ..gtid import Uuid

    data, etype, ps, pe = fr["data"], fr["etype"], fr["p_start"], fr["p_end"]

    # GTID events → (index, source_idx, seq)
    my_mask = etype == EventType.MYSQL_GTID
    ma_mask = etype == EventType.MARIADB_GTID
    gidx_list, gsrc_list, gseq_list = [], [], []
    sources: list[str] = []
    if my_mask.any():
        mi = np.nonzero(my_mask)[0]
        p = ps[mi]
        hi, lo = _gather_le(data, p + 1, 8), _gather_le(data, p + 9, 8)
        reps, inv = _unique_pairs(hi, lo)
        base = len(sources)
        sources.extend(
            Uuid.from_bytes(bytes(content[int(ps[mi[r]]) + 1 : int(ps[mi[r]]) + 17])).uuid
            for r in reps
        )
        gidx_list.append(mi)
        gsrc_list.append(base + inv)
        gseq_list.append(_gather_le(data, p + 17, 8).astype(np.int64))
    if ma_mask.any():
        mi = np.nonzero(ma_mask)[0]
        p = ps[mi]
        seq = _gather_le(data, p, 8).astype(np.int64)
        dom = _gather_le(data, p + 8, 4)
        sid = fr["server_id"][mi]
        reps, inv = _unique_pairs(dom, sid.astype(np.uint64))
        base = len(sources)
        sources.extend(f"{int(dom[r])}-{int(sid[r])}" for r in reps)
        gidx_list.append(mi)
        gsrc_list.append(base + inv)
        gseq_list.append(seq)
    if gidx_list:
        gidx = np.concatenate(gidx_list)
        order = np.argsort(gidx, kind="stable")
        gidx = gidx[order]
        gsrc = np.concatenate(gsrc_list)[order]
        gseq = np.concatenate(gseq_list)[order]
    else:
        gidx = np.zeros(0, dtype=np.int64)
        gsrc = np.zeros(0, dtype=np.int64)
        gseq = np.zeros(0, dtype=np.int64)

    # markers: XID commits; QUERY COMMIT commits (xid -1); ROLLBACK/DDL
    # abort; XA statements and XA_PREPARE frames per binlog/xa.py
    xid_mask = etype == EventType.XID
    q_mask = etype == EventType.QUERY
    xa38_mask = etype == EventType.MYSQL_XA_PREPARE
    midx_list, mstate_list, mxid_list = [], [], []
    verdicts = dict(xa_outcomes) if xa_outcomes else {}
    if xid_mask.any():
        xi = np.nonzero(xid_mask)[0]
        midx_list.append(xi)
        mstate_list.append(np.ones(len(xi), dtype=np.int8))
        mxid_list.append(_gather_le(data, ps[xi], 8).astype(np.int64))
    if q_mask.any():
        qi = np.nonzero(q_mask)[0]
        p = ps[qi]
        db_len = data[p + 8].astype(np.int64)
        status_len = _gather_le(data, p + 11, 2).astype(np.int64)
        sql_off = p + 13 + status_len + db_len + 1
        sql_len = pe[qi] - sql_off
        safe = np.maximum(sql_len, 0)

        def _starts_with(text: bytes) -> np.ndarray:
            L = len(text)
            ok = safe >= L
            res = ok.copy()
            for k, ch in enumerate(text):
                res &= data[np.minimum(sql_off + k, len(data) - 1)] == ch
            return res & ok

        is_begin = _starts_with(b"BEGIN") & (sql_len == 5)
        is_commit = _starts_with(b"COMMIT") & (sql_len == 6)
        is_rollback = _starts_with(b"ROLLBACK")
        is_xa = _starts_with(b"XA ")
        clean = is_begin | is_commit | is_rollback | is_xa
        # per-query marker state; -1 = not a marker (BEGIN, XA START/END)
        state = np.zeros(len(qi), dtype=np.int8)  # default: DDL → abort
        state[is_commit] = 1
        state[is_begin] = -1
        xa_j = list(np.nonzero(is_xa)[0])
        if not clean.all():
            # rare path: whitespace-padded statements — classify exactly
            # like the scalar decoder (strip + compare), per odd event only
            for j in np.nonzero(~clean)[0]:
                ev = parse_query(bytes(content[ps[qi[j]] : pe[qi[j]]]))
                sql = ev["sql_statement"].strip()
                if sql == "BEGIN":
                    state[j] = -1
                elif sql == "COMMIT":
                    state[j] = 1
                elif sql.startswith("ROLLBACK"):
                    state[j] = 0
                elif sql[:2].upper() == "XA":
                    xa_j.append(j)
                # else: autocommit DDL → abort marker (default)
        xa_stmts = []
        if xa_j:
            from .xa import parse_xa_statement

            for j in sorted(xa_j):
                ev = parse_query(bytes(content[ps[qi[j]] : pe[qi[j]]]))
                xa_stmts.append((j, parse_xa_statement(ev["sql_statement"])))
            # verdict statements first: a prepare earlier in the segment
            # resolves against a commit/rollback later in it
            for _j, parsed in xa_stmts:
                if parsed is not None and parsed[1] is not None:
                    verb, key, one_phase = parsed
                    if verb == "commit" and not one_phase:
                        verdicts[key] = True
                    elif verb == "rollback":
                        verdicts[key] = False
            for j, parsed in xa_stmts:
                if parsed is None:
                    state[j] = 0  # unparseable XA text → abort, like DDL
                    continue
                verb, key, one_phase = parsed
                if verb in ("start", "end"):
                    state[j] = -1  # group stays open, like BEGIN
                elif verb == "commit" and one_phase:
                    state[j] = 1  # inline commit
                elif verb == "prepare" and key is not None:
                    v = verdicts.get(key)
                    state[j] = 1 if v is True else (0 if v is False else 2)
                else:
                    # two-phase verdict groups carry no rows of their own
                    state[j] = 0
        marker = state >= 0
        mi = qi[marker]
        midx_list.append(mi)
        mstate_list.append(state[marker])
        mxid_list.append(np.full(len(mi), -1, dtype=np.int64))
    if xa38_mask.any():
        from .xa import parse_xa_prepare

        xi = np.nonzero(xa38_mask)[0]
        st = np.empty(len(xi), dtype=np.int8)
        for k, i in enumerate(xi):
            ev = parse_xa_prepare(bytes(content[ps[i] : pe[i]]))
            if ev["one_phase"]:
                st[k] = 1
            else:
                v = verdicts.get(ev["xid_key"])
                st[k] = 1 if v is True else (0 if v is False else 2)
        midx_list.append(xi)
        mstate_list.append(st)
        mxid_list.append(np.full(len(xi), -1, dtype=np.int64))
    if midx_list:
        midx = np.concatenate(midx_list)
        order = np.argsort(midx, kind="stable")
        midx = midx[order]
        mstate = np.concatenate(mstate_list)[order]
        mxid = np.concatenate(mxid_list)[order]
    else:
        midx = np.zeros(0, dtype=np.int64)
        mstate = np.zeros(0, dtype=np.int8)
        mxid = np.zeros(0, dtype=np.int64)
    return sources, gidx, gsrc, gseq, midx, mstate, mxid


def _gate_row_events(ridx, gidx, gsrc, gseq, midx, mstate, mxid, m_total):
    """Vectorized ST2 gate. Returns per-row-event arrays:
    (src_idx [-1 none], seq, xid, has_xid, keep). Marker states: 0 abort,
    1 commit, 2 pending (unresolved XA prepare → kept with xid NULL, the
    same shape as a transaction cut by end-of-file)."""
    nr = len(ridx)
    g = np.searchsorted(gidx, ridx) - 1
    src_idx = np.where(g >= 0, gsrc[np.maximum(g, 0)], -1)
    seq = np.where(g >= 0, gseq[np.maximum(g, 0)], 0)
    group_end = np.where(
        g + 1 < len(gidx), gidx[np.minimum(g + 1, max(len(gidx) - 1, 0))] if len(gidx) else 0, m_total
    )
    # a marker between the row's GTID and the row itself means the group
    # already committed — the row is post-commit (gtid cleared in scalar)
    if len(midx) and len(gidx):
        k = np.searchsorted(midx, np.where(g >= 0, gidx[np.maximum(g, 0)], -1))
        pre = (g >= 0) & (k < len(midx)) & (midx[np.minimum(k, len(midx) - 1)] < ridx)
        src_idx = np.where(pre, -1, src_idx)
    # first marker after the row, within the group
    j = np.searchsorted(midx, ridx)
    has_m = j < len(midx)
    jj = np.minimum(j, max(len(midx) - 1, 0))
    in_group = has_m & (len(midx) > 0) & (midx[jj] < group_end) if len(midx) else np.zeros(nr, dtype=bool)
    committed = in_group & (mstate[jj] == 1 if len(midx) else False)
    pending = in_group & (mstate[jj] == 2 if len(midx) else False)
    tail = ~in_group & (group_end == m_total)
    keep = committed | pending | tail
    xid = np.where(committed, mxid[jj] if len(midx) else 0, 0)
    has_xid = committed
    return src_idx, seq, xid, has_xid, keep


class _ColSpec:
    __slots__ = ("ctype", "meta", "signed_width", "lut", "codec")

    def __init__(
        self, ctype: int, meta: int, signed_width: Optional[int], lut=None,
        codec=None,
    ):
        self.ctype = ctype
        self.meta = meta
        self.signed_width = signed_width
        # ENUM/SET value lookup: object ndarray indexed by the raw wire
        # value (enum: [''] + members; set: all 2^m member joins)
        self.lut = lut
        # charset codec for character columns (binlog/charset.py); None
        # for non-character columns and binary-collation blobs
        self.codec = codec


def _table_colspecs(tm: dict) -> Optional[list[_ColSpec]]:
    """Per-column decode specs, or None if outside the fast path.
    STRING columns resolve through the CHAR/ENUM/SET disambiguation
    (actual_string_type.rs:6-26) first — long CHARs decode like VARCHAR.
    ENUM/SET decode with a precomputed value-lookup ndarray when the
    string-value metadata is present (SET limited to ≤8 members so the
    2^m join table stays tiny), raw ints otherwise."""
    from . import kernels as K
    from .charset import table_codecs
    from .reader import _enum_set_lookup, _signed_widths

    types = tm["column_types"]
    metas = tm["column_metadata"]
    if len(types) > 250:
        return None
    widths = _signed_widths(tm)
    es_lut = _enum_set_lookup(tm)
    codecs = table_codecs(tm)
    out = []
    for i, (ct, md, sw) in enumerate(zip(types, metas, widths)):
        if ct == ColumnType.STRING:
            ct, md = K.get_actual_string_type(ct, md)
            if ct == ColumnType.STRING:
                # plain CHAR: same wire layout as VARCHAR (1- or 2-byte
                # length prefix by metadata<256, col_parser.rs:7-14)
                ct = ColumnType.VARCHAR
        lut = None
        if ct in (ColumnType.ENUM, ColumnType.SET):
            if md > (2 if ct == ColumnType.ENUM else 8):
                return None
            entry = es_lut[i]
            if entry is not None:
                kind_, vals = entry
                if kind_ == "enum":
                    # index 1-based; 0 and out-of-range → '' (empty member)
                    lut = np.array([""] + list(vals), dtype=object)
                else:
                    if len(vals) > 8:
                        return None  # 2^m join table would be large
                    lut = np.array(
                        [
                            ",".join(v for b, v in enumerate(vals) if mask >> b & 1)
                            for mask in range(1 << len(vals))
                        ],
                        dtype=object,
                    )
        elif ct == ColumnType.NEWDECIMAL:
            if (md & 0xFF) > 38:
                return None  # beyond decimal128 — MySQL caps at 65 digits
        elif ct not in _SUPPORTED_TYPES:
            return None
        out.append(_ColSpec(ct, md, sw, lut, codecs[i]))
    return out


def _muladd128(
    hi: np.ndarray, lo: np.ndarray, mult: int, add: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(hi·2^64 + lo)·mult + add over unsigned 64-bit limb arrays,
    vectorized base-2^32 schoolbook. Preconditions (met by the decimal
    group walk): mult < 2^31, add < 2^32, and the true result magnitude
    stays < 10^38 (< 2^127), so no limb wraps."""
    m = np.uint64(mult)
    mask32 = np.uint64(0xFFFFFFFF)
    lo_lo = lo & mask32
    lo_hi = lo >> np.uint64(32)
    c1 = lo_lo * m + add.astype(np.uint64)
    c2 = lo_hi * m + (c1 >> np.uint64(32))
    new_lo = (c1 & mask32) | ((c2 & mask32) << np.uint64(32))
    new_hi = hi * m + (c2 >> np.uint64(32))
    return new_hi, new_lo


def _civil_days(yr: np.ndarray, mth: np.ndarray, d: np.ndarray) -> np.ndarray:
    """Days since 1970-01-01 from proleptic-Gregorian components
    (Howard Hinnant's days_from_civil, vectorized)."""
    adj = np.where(mth <= 2, 1, 0)
    yy = yr - adj
    era = np.where(yy >= 0, yy, yy - 399) // 400
    yoe = yy - era * 400
    doy = (153 * np.where(mth > 2, mth - 3, mth + 9) + 2) // 5 + d - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    return era * 146097 + doe - 719468


def _decode_image(data, cur, specs: list[_ColSpec], ncols: int, values: bool = True):
    """One row image for all active events: null bitmap + column passes.
    Returns (per-column list of (values, null_mask), next offsets).
    ``values=False`` only advances offsets (stats pass): variable-length
    prefixes are still read, value gathers are skipped."""
    nb = (ncols + 7) // 8
    k = len(cur)
    bm = np.stack([data[cur + j] for j in range(nb)], axis=1)
    bits = np.unpackbits(bm, axis=1, bitorder="little")[:, :ncols].astype(bool)
    off = cur + nb
    cols = []
    if not values:
        for j, cs in enumerate(specs):
            null = bits[:, j]
            live = ~null
            ct = cs.ctype
            if ct in (ColumnType.VARCHAR, ColumnType.VAR_STRING) or ct in _BLOB_TYPES:
                hdr = cs.meta if ct in _BLOB_TYPES else (1 if cs.meta < 256 else 2)
                ln = np.where(live, _gather_le(data, off, hdr).astype(np.int64), 0)
                off = off + np.where(live, hdr + ln, 0)
            elif ct == ColumnType.TIMESTAMP2:
                off = off + np.where(live, 4 + (cs.meta + 1) // 2, 0)
            elif ct == ColumnType.DATETIME2:
                off = off + np.where(live, 5 + (cs.meta + 1) // 2, 0)
            elif ct in (ColumnType.ENUM, ColumnType.SET):
                off = off + np.where(live, cs.meta, 0)
            elif ct in (ColumnType.TIME, ColumnType.TIME2):
                w = 3 if ct == ColumnType.TIME else 3 + (cs.meta + 1) // 2
                off = off + np.where(live, w, 0)
            elif ct == ColumnType.NEWDECIMAL:
                from .kernels import decimal_binary_size

                w = decimal_binary_size(cs.meta & 0xFF, (cs.meta >> 8) & 0xFF)
                off = off + np.where(live, w, 0)
            else:
                off = off + np.where(live, _FIXED_WIDTH[ct], 0)
        return None, off
    for j, cs in enumerate(specs):
        null = bits[:, j]
        live = ~null
        ct = cs.ctype
        if ct in (ColumnType.VARCHAR, ColumnType.VAR_STRING):
            if cs.meta < 256:
                ln = np.where(live, _gather_le(data, off, 1).astype(np.int64), 0)
                hdr = 1
            else:
                ln = np.where(live, _gather_le(data, off, 2).astype(np.int64), 0)
                hdr = 2
            starts = off + hdr
            cols.append(("bytes", starts.copy(), ln.copy(), null))
            off = off + np.where(live, hdr + ln, 0)
        elif ct in _BLOB_TYPES:
            hdr = cs.meta  # metadata-sized LE length prefix (col_parser.rs:23-28)
            ln = np.where(live, _gather_le(data, off, hdr).astype(np.int64), 0)
            starts = off + hdr
            cols.append(("blob", starts.copy(), ln.copy(), null))
            off = off + np.where(live, hdr + ln, 0)
        elif ct == ColumnType.TIMESTAMP2:
            fl = (cs.meta + 1) // 2
            secs = np.where(live, _gather_be(data, off, 4).astype(np.int64), 0)
            if fl:
                frac = np.where(live, _gather_be(data, off + 4, fl).astype(np.int64), 0)
                micros = frac * 100 ** (3 - fl)
            else:
                micros = np.zeros(k, dtype=np.int64)
            vals = secs * 1000 + micros // 1000
            cols.append(("i64", vals, None, null))
            off = off + np.where(live, 4 + fl, 0)
        elif ct in (ColumnType.ENUM, ColumnType.SET):
            raw = np.where(live, _gather_le(data, off, cs.meta), np.uint64(0)).astype(np.int64)
            if cs.lut is not None:
                n_lut = len(cs.lut)
                if ct == ColumnType.ENUM:
                    idx = np.where((raw >= 1) & (raw < n_lut), raw, 0)
                else:
                    idx = raw & (n_lut - 1)  # bits beyond members ignored
                vals = cs.lut[idx]
                vals[null] = None
                cols.append(("objv", vals, None, null))
            else:
                cols.append(("i64", raw, None, null))
            off = off + np.where(live, cs.meta, 0)
        elif ct in (ColumnType.TIME, ColumnType.TIME2):
            # canonical 'time' string "HH:MM:SS.mmm"; negative TIME raises
            # exactly like the reference (col_parser.rs:52-55,75-84)
            if ct == ColumnType.TIME:
                v = np.where(live, _gather_le(data, off, 3).astype(np.int64), 0)
                v = np.where(v >= (1 << 23), v - (1 << 24), v)  # sign-extend i24
                if (v < 0).any():
                    raise ValueError(
                        "Parsing negative TIME values is not supported in this version"
                    )
                hh, mi, ss = v // 10000, (v // 100) % 100, v % 100
                ms = np.zeros(k, dtype=np.int64)
                w = 3
            else:
                fl = (cs.meta + 1) // 2
                v = np.where(live, _gather_be(data, off, 3).astype(np.int64), 1 << 23)
                if (((v >> 23) & 1) == 0).any():
                    raise ValueError(
                        "Parsing negative TIME values is not supported in this version"
                    )
                hh = (v >> 12) & 1023
                mi = (v >> 6) & 63
                ss = v & 63
                if fl:
                    frac = np.where(live, _gather_be(data, off + 3, fl).astype(np.int64), 0)
                    ms = (frac * 100 ** (3 - fl)) // 1000
                else:
                    ms = np.zeros(k, dtype=np.int64)
                w = 3 + fl
            def _pad(vals: np.ndarray, width: int) -> np.ndarray:
                # minimum-width zero pad (np.char.zfill TRUNCATES to its
                # width argument, so prepend zeros conditionally instead)
                u = vals.astype("U4")
                out_s = u
                for p in range(width - 1, 0, -1):  # narrower matches override
                    out_s = np.where(vals < 10**p, np.char.add("0" * (width - p), u), out_s)
                return out_s

            txt = np.char.add(
                np.char.add(np.char.add(np.char.add(np.char.add(np.char.add(
                    _pad(hh, 2), ":"), _pad(mi, 2)), ":"), _pad(ss, 2)), "."),
                _pad(ms, 3),
            ).astype(object)
            txt[null] = None
            cols.append(("objv", txt, None, null))
            off = off + np.where(live, w, 0)
        elif ct == ColumnType.NEWDECIMAL:
            # sign-bit flip + one's-complement negatives + big-endian
            # 9-digit/4-byte groups (decimal.rs:10-83) — fully vectorized:
            # the layout is FIXED for a given (precision, scale). p ≤ 18
            # accumulates the unscaled value in one int64; p ≤ 38 in two
            # 64-bit limbs (base-2^64 multiply-add, still no per-row
            # Python) for Arrow decimal128.
            from .kernels import COMPRESSED_BYTES, DIGITS_PER_INT, decimal_binary_size

            p_, s_ = cs.meta & 0xFF, (cs.meta >> 8) & 0xFF
            integral = p_ - s_
            unc_i, comp_i = divmod(integral, DIGITS_PER_INT)
            unc_f, comp_f = divmod(s_, DIGITS_PER_INT)
            w = decimal_binary_size(p_, s_)
            hi_idx = len(data) - 1
            mat = np.stack(
                [data[np.minimum(off + j, hi_idx)] for j in range(w)], axis=1
            ).astype(np.uint8)
            negative = (mat[:, 0] & 0x80) == 0
            mat[:, 0] ^= 0x80
            mat[negative] ^= 0xFF

            pos_b = 0

            def _grp(nbytes: int) -> np.ndarray:
                nonlocal pos_b
                v = np.zeros(k, dtype=np.int64)
                for j in range(nbytes):
                    v = v * 256 + mat[:, pos_b + j]
                pos_b += nbytes
                return v

            if p_ <= 18:
                unscaled = np.zeros(k, dtype=np.int64)
                if comp_i:
                    unscaled = _grp(COMPRESSED_BYTES[comp_i])
                for _ in range(unc_i):
                    unscaled = unscaled * 10**9 + _grp(4)
                for _ in range(unc_f):
                    unscaled = unscaled * 10**9 + _grp(4)
                if comp_f:
                    unscaled = unscaled * 10**comp_f + _grp(COMPRESSED_BYTES[comp_f])
                unscaled = np.where(negative, -unscaled, unscaled)
                unscaled = np.where(null, 0, unscaled)
                cols.append(("dec", unscaled, (p_, s_), null))
            else:
                lo_l = np.zeros(k, dtype=np.uint64)
                hi_l = np.zeros(k, dtype=np.uint64)
                if comp_i:
                    lo_l = _grp(COMPRESSED_BYTES[comp_i]).astype(np.uint64)
                for _ in range(unc_i):
                    hi_l, lo_l = _muladd128(hi_l, lo_l, 10**9, _grp(4))
                for _ in range(unc_f):
                    hi_l, lo_l = _muladd128(hi_l, lo_l, 10**9, _grp(4))
                if comp_f:
                    hi_l, lo_l = _muladd128(
                        hi_l, lo_l, 10**comp_f, _grp(COMPRESSED_BYTES[comp_f])
                    )
                # 128-bit two's-complement negate where the sign bit said so
                neg_lo = (~lo_l) + np.uint64(1)
                neg_hi = (~hi_l) + (lo_l == 0).astype(np.uint64)
                lo_l = np.where(negative, neg_lo, lo_l)
                hi_l = np.where(negative, neg_hi, hi_l)
                lo_l = np.where(null, np.uint64(0), lo_l)
                hi_l = np.where(null, np.uint64(0), hi_l)
                cols.append(("dec128", (hi_l, lo_l), (p_, s_), null))
            off = off + np.where(live, w, 0)
        elif ct == ColumnType.DATE:
            # u24 LE bit-packed d:5/m:4/y:rest (col_parser.rs:34-47) →
            # days-from-civil (proleptic Gregorian) for Arrow date32
            v = np.where(live, _gather_le(data, off, 3).astype(np.int64), 0)
            days = _civil_days(v >> 9, (v >> 5) & 15, v & 31)
            # MySQL zero-date (all components 0) → NULL like _to_date
            cols.append(("date32", days, None, null | (v == 0)))
            off = off + np.where(live, 3, 0)
        elif ct == ColumnType.DATETIME2:
            # 5-byte big-endian year*13+month packing + fractional
            # (col_parser.rs:124-146) → wall-clock millis (no tz)
            fl = (cs.meta + 1) // 2
            v = np.where(live, _gather_be(data, off, 5).astype(np.int64), 0)
            ym = (v >> 22) & ((1 << 17) - 1)
            yr, mth = ym // 13, ym % 13
            d = (v >> 17) & 31
            hh = (v >> 12) & 31
            mi = (v >> 6) & 63
            ss = v & 63
            if fl:
                frac = np.where(live, _gather_be(data, off + 5, fl).astype(np.int64), 0)
                ms = (frac * 100 ** (3 - fl)) // 1000
            else:
                ms = np.zeros(k, dtype=np.int64)
            millis = (
                _civil_days(yr, mth, d) * 86_400_000
                + hh * 3_600_000 + mi * 60_000 + ss * 1000 + ms
            )
            zero = (yr == 0) & (mth == 0) & (d == 0)
            cols.append(("wall_ms", millis, None, null | zero))
            off = off + np.where(live, 5 + fl, 0)
        elif ct == ColumnType.DATETIME:
            # u64 LE decimal-packed YYYYMMDDhhmmss (col_parser.rs:99-122)
            v = np.where(live, _gather_le(data, off, 8), np.uint64(0)).astype(np.int64)
            ss = v % 100
            v //= 100
            mi = v % 100
            v //= 100
            hh = v % 100
            v //= 100
            d = v % 100
            v //= 100
            mth = v % 100
            yr = v // 100
            millis = (
                _civil_days(yr, mth, d) * 86_400_000
                + hh * 3_600_000 + mi * 60_000 + ss * 1000
            )
            zero = (yr == 0) & (mth == 0) & (d == 0)
            cols.append(("wall_ms", millis, None, null | zero))
            off = off + np.where(live, 8, 0)
        elif ct == ColumnType.YEAR:
            v = np.where(live, _gather_le(data, off, 1).astype(np.int64), 0)
            cols.append(("i64", 1900 + v, None, null))
            off = off + np.where(live, 1, 0)
        else:
            w = _FIXED_WIDTH[ct]
            raw = _gather_le(data, off, w)
            if ct == ColumnType.FLOAT:
                vals = raw.astype(np.uint32).view(np.float32).astype(np.float64)
                vals = np.where(~null, vals, 0.0)
                cols.append(("f64", vals, None, null))
            elif ct == ColumnType.DOUBLE:
                vals = raw.view(np.float64).copy()
                vals[null] = 0.0
                cols.append(("f64", vals, None, null))
            elif ct == ColumnType.TIMESTAMP:
                vals = raw.astype(np.int64) * 1000
                vals[null] = 0
                cols.append(("i64", vals, None, null))
            else:  # integer family
                sw = cs.signed_width
                if sw is not None:
                    half = np.uint64(1) << np.uint64(sw - 1)
                    full = (np.uint64(1) << np.uint64(sw)) if sw < 64 else None
                    signed = raw.view(np.int64).copy() if sw == 64 else raw.astype(np.int64)
                    if sw < 64:
                        signed = np.where(raw >= half, signed - np.int64(1 << sw), signed)
                    vals = signed
                else:
                    vals = raw.view(np.int64).copy() if w == 8 else raw.astype(np.int64)
                vals[null] = 0
                cols.append(("i64", vals, None, null))
            off = off + np.where(~null, w, 0)
    return cols, off


def _concat_image_cols(step_cols: list, specs: list[_ColSpec]):
    """Concatenate per-step image columns → per-column totals."""
    out = []
    for j in range(len(specs)):
        kind = step_cols[0][j][0]
        nulls = np.concatenate([s[j][3] for s in step_cols])
        if kind in ("bytes", "blob"):
            starts = np.concatenate([s[j][1] for s in step_cols])
            lens = np.concatenate([s[j][2] for s in step_cols])
            out.append((kind, starts, lens, nulls))
        elif kind == "dec128":
            his = np.concatenate([s[j][1][0] for s in step_cols])
            los = np.concatenate([s[j][1][1] for s in step_cols])
            out.append((kind, (his, los), step_cols[0][j][2], nulls))
        else:
            vals = np.concatenate([s[j][1] for s in step_cols])
            # b carries per-column static info ((p, s) for decimals)
            out.append((kind, vals, step_cols[0][j][2], nulls))
    return out


def _strings_from_slices(
    data: np.ndarray, starts, lens, nulls, binary: bool = False,
    codec: Optional[str] = None,
) -> pa.Array:
    """One-gather Arrow large_utf8/large_binary build from (start, len)
    slices: the bytes are gathered once into the data buffer, with no
    per-row Python objects.

    ``codec``: non-UTF-8 charset lane (TABLE_MAP charset metadata) —
    builds the binary array on the same one-gather path, then decodes
    each value in the column's charset. UTF-8 (the overwhelming default)
    stays on the zero-copy Arrow validation path."""
    if codec is not None and codec != "utf-8" and not binary:
        raw = _strings_from_slices(data, starts, lens, nulls, binary=True)
        return A.from_objects(
            [None if b is None else b.decode(codec) for b in raw.to_pylist()],
            pa.large_utf8(),
        )

    lens = np.where(nulls, 0, lens)
    total = int(lens.sum())
    offsets = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    if total:
        within = np.arange(total, dtype=np.int64) - np.repeat(offsets[:-1], lens)
        blob = data[np.repeat(starts, lens) + within]
    else:
        blob = np.zeros(0, dtype=np.uint8)
    validity = np.packbits(~nulls, bitorder="little")
    arr = pa.Array.from_buffers(
        pa.large_binary() if binary else pa.large_utf8(),
        len(lens),
        [
            pa.py_buffer(validity.tobytes()),
            pa.py_buffer(offsets.tobytes()),
            pa.py_buffer(blob.tobytes()),
        ],
        null_count=int(nulls.sum()),
    )
    if not binary:
        arr.validate(full=True)  # invalid UTF-8 raises, like bytes.decode
    return arr


def _jsonb_texts_from_slices(
    data: np.ndarray, starts, lens, nulls
) -> np.ndarray:
    """Batch jsonb → canonical JSON text. Top-level SCALAR values and
    FLAT SMALL OBJECTS of scalars — the flat-document shapes a JSON
    metadata column has — decode with vectorized offset arithmetic
    straight off the segment buffer, grouped by type byte: one numpy
    gather per byte lane, one C-side conversion per group, zero
    per-value Python (objects flatten to element level and re-join via
    ``reduceat``). Nested containers, opaque values, and
    escape-carrying strings (recursive offset trees / escape-dependent
    rendering) fall back to the recursive ``jsonb_to_text`` per value;
    parity between the paths is pinned by the fuzz corpus in
    tests/test_jsonb.py."""
    from . import jsonb as J

    n = len(starts)
    starts = np.asarray(starts, dtype=np.int64)
    lens = np.asarray(lens, dtype=np.int64)
    out = np.empty(n, dtype=object)  # SQL NULL (null / empty blob) → None

    valid = (~np.asarray(nulls)) & (lens > 0)
    if not valid.any():
        return out
    tb = np.zeros(n, dtype=np.uint8)
    tb[valid] = data[starts[valid]]

    def _gather_uint(idx: np.ndarray, width: int) -> np.ndarray:
        acc = np.zeros(len(idx), dtype=np.uint64)
        base = starts[idx] + 1  # payload begins after the type byte
        for k in range(width):
            acc |= data[base + k].astype(np.uint64) << np.uint64(8 * k)
        return acc

    handled = np.zeros(n, dtype=bool)

    # literals: payload byte 0/1/2 → null/true/false
    idx = np.nonzero(valid & (tb == J.LITERAL) & (lens >= 2))[0]
    if len(idx):
        lit = data[starts[idx] + 1]
        ok = lit <= 2
        words = np.array(["null", "true", "false"], dtype=object)
        out[idx[ok]] = words[lit[ok]]
        handled[idx[ok]] = True

    # fixed-width integers, sign-extended per width then formatted in C
    for type_byte, width, signed in (
        (J.INT16, 2, True), (J.UINT16, 2, False),
        (J.INT32, 4, True), (J.UINT32, 4, False),
        (J.INT64, 8, True), (J.UINT64, 8, False),
    ):
        idx = np.nonzero(valid & (tb == type_byte) & (lens >= 1 + width))[0]
        if not len(idx):
            continue
        u = _gather_uint(idx, width)
        if signed:
            v = u.astype({2: np.uint16, 4: np.uint32, 8: np.uint64}[width])
            v = v.astype({2: np.int16, 4: np.int32, 8: np.int64}[width])
            texts = v.astype(np.int64).astype("U20")
        else:
            texts = u.astype("U20")
        out[idx] = texts.astype(object)
        handled[idx] = True

    # doubles: 8-byte LE bit pattern → float64 → shortest round-trip text
    # (numpy's unique-repr formatting equals Python repr for float64)
    idx = np.nonzero(valid & (tb == J.DOUBLE) & (lens >= 9))[0]
    if len(idx):
        f = _gather_uint(idx, 8).view(np.float64)
        finite = np.isfinite(f)  # jsonb never stores NaN/Inf; fall back if seen
        out[idx[finite]] = f[finite].astype("U32").astype(object)
        handled[idx[finite]] = True

    # top-level strings: vectorized varlen-header arithmetic (1- and
    # 2-byte headers cover 16 KiB), one Arrow gather for the payloads,
    # and a reduceat escape scan — only values that actually contain a
    # quote/backslash/control byte fall back to the escaping renderer
    idx = np.nonzero(valid & (tb == J.STRING) & (lens >= 2))[0]
    if len(idx):
        b0 = data[starts[idx] + 1].astype(np.int64)
        one = b0 < 0x80
        two = ~one & (lens[idx] >= 3)
        b1 = np.zeros(len(idx), dtype=np.int64)
        b1[two] = data[starts[idx[two]] + 2]
        two &= b1 < 0x80
        known = one | two
        slen = np.where(one, b0, (b0 & 0x7F) | (b1 << 7))
        pstart = starts[idx] + 1 + np.where(one, 1, 2)
        fits = known & (pstart + slen <= starts[idx] + lens[idx])
        sub = np.nonzero(fits)[0]
        if len(sub):
            ps, sl = pstart[sub], slen[sub]
            total = int(sl.sum())
            offs = np.zeros(len(sl) + 1, dtype=np.int64)
            np.cumsum(sl, out=offs[1:])
            if total:
                within = np.arange(total, dtype=np.int64) - np.repeat(offs[:-1], sl)
                payload = data[np.repeat(ps, sl) + within]
                esc = (payload == 0x22) | (payload == 0x5C) | (payload < 0x20)
                any_esc = np.zeros(len(sl), dtype=bool)
                nz = sl > 0
                if nz.any():
                    red = np.add.reduceat(esc, offs[:-1][nz])
                    any_esc[nz] = red > 0
            else:
                payload = np.zeros(0, dtype=np.uint8)
                any_esc = np.zeros(len(sl), dtype=bool)
            plain = np.nonzero(~any_esc)[0]
            if len(plain):
                texts = _strings_from_slices(
                    data, ps[plain], sl[plain],
                    np.zeros(len(plain), dtype=bool),
                ).to_pylist()
                quoted = np.array(
                    ['"' + s + '"' for s in texts], dtype=object
                )
                out[idx[sub[plain]]] = quoted
                handled[idx[sub[plain]]] = True

    # top-level SMALL objects/arrays whose members are scalars — plus ONE
    # nesting level (array/object-of-scalar values decode through the
    # same flat kernels) — the document shapes a transcript metadata
    # column has; only deeper nesting falls through
    idx = np.nonzero(valid & (tb == J.SMALL_OBJECT) & (lens >= 5) & ~handled)[0]
    if len(idx):
        texts, ok = _flat_small_object_texts(
            data, starts[idx] + 1, lens[idx] - 1, depth=_FLAT_MAX_DEPTH
        )
        sub = np.nonzero(ok)[0]
        if len(sub):
            out[idx[sub]] = texts[sub]
            handled[idx[sub]] = True

    idx = np.nonzero(valid & (tb == J.SMALL_ARRAY) & (lens >= 5) & ~handled)[0]
    if len(idx):
        texts, ok = _flat_small_array_texts(
            data, starts[idx] + 1, lens[idx] - 1, depth=_FLAT_MAX_DEPTH
        )
        sub = np.nonzero(ok)[0]
        if len(sub):
            out[idx[sub]] = texts[sub]
            handled[idx[sub]] = True

    # everything else (escape-carrying strings; nested containers and
    # opaque values are recursive offset trees): per-value fallback on
    # exactly the unhandled slice
    rest = np.nonzero(valid & ~handled)[0]
    for i in rest:
        s = int(starts[i])
        out[i] = J.jsonb_to_text(data[s : s + int(lens[i])].tobytes())
    return out


_FLAT_OBJ_MAX_MEMBERS = 64
# container levels BELOW the document root the batch lanes decode before
# deferring to the recursive fallback (2 covers the typical metadata
# document: {"meta": {"tags": [...]}}); recursion is bounded by this
_FLAT_MAX_DEPTH = 2


def _entry_value_texts(
    data: np.ndarray,
    base_e: np.ndarray,
    size_e: np.ndarray,
    vtype: np.ndarray,
    vval: np.ndarray,
    depth: int = 1,
) -> tuple[np.ndarray, np.ndarray]:
    """Batch decode of container VALUE ENTRIES (type u8 + u16
    inlined-or-offset, both the object and array forms) into canonical
    JSON texts: one lane per scalar type, zero per-entry Python.
    ``depth`` > 0 additionally recurses ONE level into small-container
    values (arrays/objects of scalars) via the flat kernels; deeper
    nesting, large containers, opaque values, and escape-carrying
    strings stay undone (``v_done=False``) for the recursive fallback.
    Returns (vtexts, v_done)."""
    from . import jsonb as J

    E = len(vtype)
    vtexts = np.empty(E, dtype=object)
    v_done = np.zeros(E, dtype=bool)

    lit = vtype == J.LITERAL
    if lit.any():
        lv = vval[lit] & 0xFF
        words = np.array(["null", "true", "false"], dtype=object)
        okl = lv <= 2
        li = np.nonzero(lit)[0]
        vtexts[li[okl]] = words[lv[okl]]
        v_done[li[okl]] = True

    i16 = vtype == J.INT16
    if i16.any():
        vtexts[i16] = vval[i16].astype(np.uint16).astype(np.int16).astype("U6").astype(object)
        v_done[i16] = True
    u16t = vtype == J.UINT16
    if u16t.any():
        vtexts[u16t] = vval[u16t].astype("U5").astype(object)
        v_done[u16t] = True

    def _gather_w(sel: np.ndarray, width: int) -> np.ndarray:
        acc = np.zeros(len(sel), dtype=np.uint64)
        vb = base_e[sel] + vval[sel]
        for k in range(width):
            acc |= data[vb + k].astype(np.uint64) << np.uint64(8 * k)
        return acc

    for type_byte, width, signed in (
        (J.INT32, 4, True), (J.UINT32, 4, False),
        (J.INT64, 8, True), (J.UINT64, 8, False),
    ):
        m = (vtype == type_byte) & (vval + width <= size_e)
        if not m.any():
            continue
        sel = np.nonzero(m)[0]
        u = _gather_w(sel, width)
        if signed:
            v = u.astype({4: np.uint32, 8: np.uint64}[width])
            v = v.astype({4: np.int32, 8: np.int64}[width])
            vtexts[sel] = v.astype(np.int64).astype("U21").astype(object)
        else:
            vtexts[sel] = u.astype("U21").astype(object)
        v_done[sel] = True

    m = (vtype == J.DOUBLE) & (vval + 8 <= size_e)
    if m.any():
        sel = np.nonzero(m)[0]
        f = _gather_w(sel, 8).view(np.float64)
        finite = np.isfinite(f)
        vtexts[sel[finite]] = f[finite].astype("U32").astype(object)
        v_done[sel[finite]] = True

    m = (vtype == J.STRING) & (vval + 1 <= size_e)
    if m.any():
        sel = np.nonzero(m)[0]
        sb = base_e[sel] + vval[sel]
        b0 = data[sb].astype(np.int64)
        one = b0 < 0x80
        two = ~one & (vval[sel] + 2 <= size_e[sel])
        b1 = np.zeros(len(sel), dtype=np.int64)
        b1[two] = data[sb[two] + 1]
        two &= b1 < 0x80
        known = one | two
        slen = np.where(one, b0, (b0 & 0x7F) | (b1 << 7))
        ps = sb + np.where(one, 1, 2)
        fits = known & (vval[sel] + np.where(one, 1, 2) + slen <= size_e[sel])
        ssel = sel[fits]
        if len(ssel):
            ps, sl = ps[fits], slen[fits]
            total = int(sl.sum())
            offs = np.zeros(len(sl) + 1, dtype=np.int64)
            np.cumsum(sl, out=offs[1:])
            if total:
                within = np.arange(total, dtype=np.int64) - np.repeat(offs[:-1], sl)
                payload = data[np.repeat(ps, sl) + within]
                esc = (payload == 0x22) | (payload == 0x5C) | (payload < 0x20)
                any_esc = np.zeros(len(sl), dtype=bool)
                nz = sl > 0
                if nz.any():
                    any_esc[nz] = np.add.reduceat(esc, offs[:-1][nz]) > 0
            else:
                any_esc = np.zeros(len(sl), dtype=bool)
            plain = np.nonzero(~any_esc)[0]
            if len(plain):
                sv = A.to_objects(_strings_from_slices(
                    data, ps[plain], sl[plain], np.zeros(len(plain), dtype=bool)
                ))
                vtexts[ssel[plain]] = '"' + sv + '"'
                v_done[ssel[plain]] = True

    # one nesting level: small-container values (arrays/objects of
    # scalars) decode through the flat kernels with depth-1 — a second
    # container level below them defers to the recursive path
    if depth > 0:
        for ctype, fn in (
            (J.SMALL_ARRAY, _flat_small_array_texts),
            (J.SMALL_OBJECT, _flat_small_object_texts),
        ):
            m = (vtype == ctype) & ~v_done & (vval + 4 <= size_e)
            if not m.any():
                continue
            sel = np.nonzero(m)[0]
            t, okc = fn(
                data, base_e[sel] + vval[sel], size_e[sel] - vval[sel],
                depth - 1,
            )
            good = np.nonzero(okc)[0]
            if len(good):
                vtexts[sel[good]] = t[good]
                v_done[sel[good]] = True

    return vtexts, v_done


def _flat_small_array_texts(
    data: np.ndarray, bases: np.ndarray, sizes: np.ndarray, depth: int = 1
) -> tuple[np.ndarray, np.ndarray]:
    """Batch decode of SMALL-array payloads (``bases`` points at each
    array's count word) into canonical JSON text — the array twin of
    ``_flat_small_object_texts``: value entries are 3 bytes (no keys),
    elements decode through the shared entry-value lanes, ``reduceat``
    joins per array. Returns (texts, ok); failed rows defer to the
    recursive fallback."""
    from . import jsonb as J

    n = len(bases)
    bases = np.asarray(bases, dtype=np.int64)
    sizes = np.asarray(sizes, dtype=np.int64)
    texts = np.empty(n, dtype=object)
    ok = np.ones(n, dtype=bool)

    def _u16(pos: np.ndarray) -> np.ndarray:
        return data[pos].astype(np.int64) | (data[pos + 1].astype(np.int64) << 8)

    ok &= sizes >= 4
    count = np.zeros(n, dtype=np.int64)
    size = np.zeros(n, dtype=np.int64)
    vi = np.nonzero(ok)[0]
    count[vi] = _u16(bases[vi])
    size[vi] = _u16(bases[vi] + 2)
    ok &= (size <= sizes) & (size >= 4) & (count <= _FLAT_OBJ_MAX_MEMBERS)
    ok &= 4 + count * 3 <= size
    texts[ok & (count == 0)] = "[]"

    live = ok & (count > 0)
    obj = np.nonzero(live)[0]
    if not len(obj):
        return texts, ok

    cnt = count[obj]
    e_start = np.concatenate(([0], np.cumsum(cnt)[:-1]))
    oi = np.repeat(np.arange(len(obj)), cnt)
    ek = np.arange(int(cnt.sum()), dtype=np.int64) - np.repeat(e_start, cnt)
    base_e = bases[obj][oi]
    size_e = size[obj][oi]

    vpos = base_e + 4 + 3 * ek
    vtype = data[vpos]
    vval = _u16(vpos + 1)
    vtexts, v_done = _entry_value_texts(
        data, base_e, size_e, vtype, vval, depth
    )

    arr_ok = np.logical_and.reduceat(v_done, e_start)
    ok[obj] &= arr_ok
    good_obj = np.nonzero(arr_ok)[0]
    if not len(good_obj):
        return texts, ok

    good_e = arr_ok[oi]
    pieces = np.where(ek[good_e] == 0, "", ", ").astype(object) + vtexts[good_e]
    g_cnt = cnt[good_obj]
    g_start = np.concatenate(([0], np.cumsum(g_cnt)[:-1]))
    joined = np.add.reduceat(pieces, g_start)
    texts[obj[good_obj]] = "[" + joined + "]"
    return texts, ok



def _flat_small_object_texts(
    data: np.ndarray, bases: np.ndarray, sizes: np.ndarray, depth: int = 1
) -> tuple[np.ndarray, np.ndarray]:
    """Batch decode of top-level SMALL-object payloads (``bases`` points
    at each object's count word) into canonical JSON text. Objects are
    flattened to element level — one numpy gather per entry field, one
    type-grouped conversion per scalar lane, ``reduceat`` joins back per
    object — so the per-object Python cost is zero. Returns
    (texts, ok); ``ok=False`` rows (nested containers, opaque values,
    escape-carrying or duplicate keys, >2-byte string headers, bound
    overruns) are left for the recursive fallback, whose output the fuzz
    corpus pins this lane against."""
    from . import jsonb as J

    n = len(bases)
    texts = np.empty(n, dtype=object)
    ok = np.ones(n, dtype=bool)

    def _u16(pos: np.ndarray) -> np.ndarray:
        return data[pos].astype(np.int64) | (data[pos + 1].astype(np.int64) << 8)

    count = _u16(bases)
    size = _u16(bases + 2)
    ok &= (size <= sizes) & (size >= 4) & (count <= _FLAT_OBJ_MAX_MEMBERS)
    # entry tables must fit inside the declared container size
    ok &= 4 + count * 6 <= size
    texts[ok & (count == 0)] = "{}"

    live = ok & (count > 0)
    obj = np.nonzero(live)[0]
    if not len(obj):
        return texts, ok

    cnt = count[obj]
    e_start = np.concatenate(([0], np.cumsum(cnt)[:-1]))
    E = int(cnt.sum())
    oi = np.repeat(np.arange(len(obj)), cnt)  # element → local object row
    ek = np.arange(E, dtype=np.int64) - np.repeat(e_start, cnt)
    base_e = bases[obj][oi]
    size_e = size[obj][oi]

    # key entries: (offset u16, length u16) at base + 4 + 4k
    kpos = base_e + 4 + 4 * ek
    koff = _u16(kpos)
    klen = _u16(kpos + 2)
    e_ok = (koff + klen <= size_e) & (klen > 0)
    kstart = base_e + koff
    key_bytes_ok = e_ok.copy()
    # escape scan over all key payloads in one pass
    ktotal = int(klen[e_ok].sum()) if e_ok.any() else 0
    keys = np.empty(E, dtype=object)
    if ktotal:
        sel = np.nonzero(e_ok)[0]
        ks, kl = kstart[sel], klen[sel]
        offs = np.zeros(len(kl) + 1, dtype=np.int64)
        np.cumsum(kl, out=offs[1:])
        within = np.arange(int(kl.sum()), dtype=np.int64) - np.repeat(offs[:-1], kl)
        payload = data[np.repeat(ks, kl) + within]
        esc = (payload == 0x22) | (payload == 0x5C) | (payload < 0x20)
        bad = np.add.reduceat(esc, offs[:-1]) > 0
        key_bytes_ok[sel[bad]] = False
        good = sel[~bad]
        if len(good):
            keys[good] = A.to_objects(_strings_from_slices(
                data, kstart[good], klen[good], np.zeros(len(good), dtype=bool)
            ))
    e_ok &= key_bytes_ok

    # duplicate stored keys would collapse through the recursive path's
    # dict; keys are stored sorted, so duplicates are adjacent — defer
    same_as_prev = np.zeros(E, dtype=bool)
    if E > 1:
        cand = (ek > 0) & e_ok
        cand[1:] &= e_ok[:-1]
        ci = np.nonzero(cand)[0]
        if len(ci):
            same_as_prev[ci] = keys[ci] == keys[ci - 1]
    e_ok &= ~same_as_prev

    # value entries: (type u8, inlined-or-offset u16) at base + 4 + 4c + 3k
    vpos = base_e + 4 + 4 * cnt[oi] + 3 * ek
    vtype = data[vpos]
    vval = _u16(vpos + 1)
    vtexts, v_done = _entry_value_texts(
        data, base_e, size_e, vtype, vval, depth
    )

    e_ok &= v_done

    # any failed element defers its whole object to the recursive path
    obj_ok = np.logical_and.reduceat(e_ok, e_start)
    ok[obj] &= obj_ok
    good_obj = np.nonzero(obj_ok)[0]
    if not len(good_obj):
        return texts, ok

    good_e = obj_ok[oi]
    pieces = (
        np.where(ek[good_e] == 0, "", ", ").astype(object)
        + '"' + keys[good_e] + '": ' + vtexts[good_e]
    )
    g_cnt = cnt[good_obj]
    g_start = np.concatenate(([0], np.cumsum(g_cnt)[:-1]))
    joined = np.add.reduceat(pieces, g_start)
    texts[obj[good_obj]] = "{" + joined + "}"
    return texts, ok


def _decimals_from_unscaled(vals: np.ndarray, nulls: np.ndarray, p: int, s: int) -> pa.Array:
    """Arrow decimal128(p, s) build from int64 unscaled values. The
    128-bit buffer is little-endian two's complement: low word = the
    int64, high word = its sign extension."""
    buf = np.empty((len(vals), 2), dtype="<i8")
    buf[:, 0] = vals
    buf[:, 1] = np.where(vals < 0, -1, 0)
    validity = np.packbits(~nulls, bitorder="little")
    return pa.Array.from_buffers(
        pa.decimal128(p, s),
        len(vals),
        [pa.py_buffer(validity.tobytes()), pa.py_buffer(buf.tobytes())],
        null_count=int(nulls.sum()),
    )


def _decimals_from_limbs(
    hi: np.ndarray, lo: np.ndarray, nulls: np.ndarray, p: int, s: int
) -> pa.Array:
    """Arrow decimal128(p, s) build from two's-complement 64-bit limb
    pairs (little-endian: low word, then high word)."""
    buf = np.empty((len(lo), 2), dtype="<u8")
    buf[:, 0] = lo
    buf[:, 1] = hi
    validity = np.packbits(~nulls, bitorder="little")
    return pa.Array.from_buffers(
        pa.decimal128(p, s),
        len(lo),
        [pa.py_buffer(validity.tobytes()), pa.py_buffer(buf.tobytes())],
        null_count=int(nulls.sum()),
    )


def _dates_from_days(days: np.ndarray, nulls: np.ndarray) -> pa.Array:
    """Arrow date32 build from civil-day numbers."""
    validity = np.packbits(~nulls, bitorder="little")
    return pa.Array.from_buffers(
        pa.date32(),
        len(days),
        [pa.py_buffer(validity.tobytes()), pa.py_buffer(days.astype(np.int32).tobytes())],
        null_count=int(nulls.sum()),
    )


def _vectors_from_slices(data: np.ndarray, starts, lens, nulls) -> pa.Array:
    """Batch MySQL 9 VECTOR blob → Arrow ``list<float>``. Each value is a
    packed little-endian float32 array (WL#16081), so the whole lane is
    one repeat-gather: every valid slice's bytes concatenate into the
    list's float32 child buffer, and the slice lengths become its offsets
    — no per-value parse at all, bit patterns kept exactly. A slice
    length not divisible by 4 is corrupt and raises, like the scalar
    converter."""
    starts = np.asarray(starts, dtype=np.int64)
    lens = np.where(np.asarray(nulls), 0, np.asarray(lens, dtype=np.int64))
    if (lens % 4).any():
        bad = np.nonzero(lens % 4)[0][0]
        raise ValueError(
            f"VECTOR payload length {int(lens[bad])} not divisible by 4"
        )
    offsets = np.zeros(len(lens) + 1, dtype=np.int32)
    np.cumsum(lens // 4, out=offsets[1:])
    total = int(lens.sum())
    within = np.arange(total, dtype=np.int64) - np.repeat(
        np.cumsum(lens) - lens, lens
    )
    packed = data[np.repeat(starts, lens) + within]
    floats = pa.Array.from_buffers(
        pa.float32(), total // 4, [None, pa.py_buffer(packed.tobytes())]
    )
    bitmap, n_null = A.validity(np.asarray(nulls))
    return pa.Array.from_buffers(
        pa.list_(pa.field("element", pa.float32())), len(lens),
        [bitmap, pa.py_buffer(offsets)], null_count=n_null, children=[floats],
    )


def _geometry_texts_from_slices(
    data: np.ndarray, starts, lens, nulls
) -> np.ndarray:
    """Batch geometry blob (SRID + WKB) → WKT/EWKT text. Little-endian
    POINT — the dominant shape of a real geo column (every lat/lon value
    is one) — is an exactly-25-byte blob, so the whole lane decodes with
    vectorized offset arithmetic: one gather per coordinate lane, numpy's
    shortest-round-trip float formatting (same repr contract the jsonb
    double lane relies on), and C-side string assembly via np.char. Other
    WKB types, big-endian values, and malformed lengths fall back to the
    recursive ``geometry_to_wkt`` per value; parity between the paths is
    pinned by tests/test_geometry.py."""
    from .geometry import geometry_to_wkt as conv

    n = len(starts)
    starts = np.asarray(starts, dtype=np.int64)
    lens = np.asarray(lens, dtype=np.int64)
    out = np.empty(n, dtype=object)  # SQL NULL (null / empty blob) → None

    valid = (~np.asarray(nulls)) & (lens > 0)
    if not valid.any():
        return out

    def _u32(base: np.ndarray) -> np.ndarray:
        acc = np.zeros(len(base), dtype=np.uint64)
        for k in range(4):
            acc |= data[base + k].astype(np.uint64) << np.uint64(8 * k)
        return acc

    def _f64(base: np.ndarray) -> np.ndarray:
        acc = np.zeros(len(base), dtype=np.uint64)
        for k in range(8):
            acc |= data[base + k].astype(np.uint64) << np.uint64(8 * k)
        return acc.view(np.float64)

    # LE POINT lane: srid:u32 | order=1 | type=1:u32 | x:f64 | y:f64
    cand = np.nonzero(valid & (lens == 25))[0]
    handled = np.zeros(n, dtype=bool)
    if len(cand):
        s = starts[cand]
        is_pt = (data[s + 4] == 1) & (_u32(s + 5) == 1)
        pt = cand[is_pt]
        if len(pt):
            s = starts[pt]
            srid = _u32(s)
            xs, ys = _f64(s + 9), _f64(s + 17)
            finite = np.isfinite(xs) & np.isfinite(ys)  # _fmt contract is
            pt, s, srid = pt[finite], s[finite], srid[finite]  # finite-only
            xs, ys = xs[finite], ys[finite]
            if len(pt):
                # object-space concat (per-element str add in numpy's C
                # loop) — ~4× the throughput of an np.char.add chain,
                # which rescans its widening U-dtype operands per call
                tx = _wkt_coord_texts(xs).astype(object)
                ty = _wkt_coord_texts(ys).astype(object)
                texts = "POINT(" + tx + " " + ty + ")"
                with_srid = srid != 0
                if with_srid.any():
                    pre = srid[with_srid].astype("U10").astype(object)
                    texts[with_srid] = "SRID=" + pre + ";" + texts[with_srid]
                out[pt] = texts
                handled[pt] = True

    rest = np.nonzero(valid & ~handled)[0]
    for i in rest:
        s = int(starts[i])
        out[i] = conv(data[s : s + int(lens[i])].tobytes())
    return out


def _wkt_coord_texts(v: np.ndarray) -> np.ndarray:
    """float64 lane → WKT coordinate text (``geometry._fmt`` semantics:
    integral values under 1e15 print as integers, others as shortest
    round-trip repr — numpy's U-cast formatting for float64)."""
    as_int = (v == np.floor(v)) & (np.abs(v) < 1e15)
    texts = v.astype("U32")
    if as_int.any():
        texts[as_int] = v[as_int].astype(np.int64).astype("U20")
    return texts


def _canonical_column(
    colref, kind: str, data: np.ndarray, n: int, codec: Optional[str] = None
):
    """Convert a decoded image column to a canonical-kind descriptor —
    ("arrow", pa.Array) | ("obj", object ndarray) | ("num", values,
    null mask) with timestamps as int64 microseconds | ("null", n) —
    or None on a kind/type mismatch (→ scalar fallback). ``codec`` is
    the column's charset (string kinds only)."""
    if colref is None:  # column absent from this table map → typed nulls
        return ("null", n)
    ckind, a, b, nulls = colref
    if kind == "str":
        if ckind == "objv":  # ENUM/SET member strings, pre-materialized
            return ("obj", a)
        if ckind == "blob":
            # TEXT-family column declared "str": decode the blob bytes in
            # the column's charset (binary collation / metadata-less logs
            # default to utf-8 — scalar-path parity)
            return (
                "arrow",
                _strings_from_slices(data, a, b, nulls, codec=codec or "utf-8"),
            )
        if ckind != "bytes":
            return None
        return ("arrow", _strings_from_slices(data, a, b, nulls, codec=codec))
    if kind == "time":
        if ckind != "objv":
            return None
        return ("obj", a)
    if kind == "binary":
        if ckind != "blob":
            return None
        return ("arrow", _strings_from_slices(data, a, b, nulls, binary=True))
    if kind == "json":
        if ckind != "blob":
            return None
        return ("obj", _jsonb_texts_from_slices(data, a, b, nulls))
    if kind == "geometry":
        if ckind != "blob":
            return None
        return ("obj", _geometry_texts_from_slices(data, a, b, nulls))
    if kind == "vector":
        if ckind != "blob":
            return None
        return ("arrow", _vectors_from_slices(data, a, b, nulls))
    if kind == "date":
        if ckind != "date32":
            return None
        return ("arrow", _dates_from_days(a, nulls))
    if kind == "decimal":
        if ckind == "dec":
            return ("arrow", _decimals_from_unscaled(a, nulls, b[0], b[1]))
        if ckind == "dec128":
            return ("arrow", _decimals_from_limbs(a[0], a[1], nulls, b[0], b[1]))
        return None
    if kind == "ts_millis":
        if ckind != "i64":
            return None
        return ("num", np.where(nulls, 0, a * 1000), nulls)
    if kind == "datetime":
        if ckind != "wall_ms":
            return None
        return ("num", np.where(nulls, 0, a * 1000), nulls)
    if kind == "double":
        if ckind == "f64":
            return ("num", a, nulls)
        if ckind == "i64":
            return ("num", a.astype(np.float64), nulls)
        return None
    if kind == "int":
        if ckind != "i64":
            return None
        return ("num", a.astype(np.int64), nulls)
    return None


def _to_arrow(part, typ: pa.DataType) -> pa.Array:
    """One group's column descriptor (``_canonical_column``'s, or the
    metadata columns' ("const", value, n)) as an Arrow array of the
    declared type ``typ``."""
    tag = part[0]
    if tag == "arrow":
        return part[1] if part[1].type == typ else part[1].cast(typ)
    if tag == "num":
        return A.from_numpy(part[1], typ, part[2])
    if tag == "const":
        return A.repeat(part[1], typ, part[2])
    if tag == "null":
        return pa.nulls(part[1], typ)
    return A.from_objects(part[1], typ)  # "obj": Python strings


def _group_row_events(prep, data, etype, ps):
    """Subgroup the kept row events by (unique table map, op kind,
    presence pattern) — partial row images (binlog_row_image=MINIMAL,
    row_parser.rs:108-111) simply become their own subgroups, each with a
    constant column subset the wavefront can decode. Returns a list of
    dicts {uid, op, loc, rows_start, bits_b, bits_a} (loc = indices into
    prep.ridx_k; bits = present table-column indices for the before/after
    image, None for an absent image), or None → scalar fallback."""
    ridx_k = prep.ridx_k
    n = len(ridx_k)
    et_k = etype[ridx_k]
    op_code = np.where(
        np.isin(et_k, _ROW_WRITE), 0, np.where(np.isin(et_k, _ROW_DELETE), 1, 2)
    )
    # presence bitmaps kept as raw little-endian byte rows — multi-word
    # safe, so tables wider than 64 columns stay on the fast path
    uids = np.unique(prep.gov_k)
    nb_max = (
        max(
            ((len(prep.uniq_tms[int(u)]["column_types"]) + 7) // 8)
            for u in uids
        )
        if len(uids)
        else 1
    )
    pres_b = np.zeros((n, nb_max), dtype=np.uint8)
    pres_a = np.zeros((n, nb_max), dtype=np.uint8)
    rows_start = np.zeros(n, dtype=np.int64)
    hi = len(data) - 1
    for uid in uids:
        sel = np.nonzero(prep.gov_k == uid)[0]
        ncols = len(prep.uniq_tms[uid]["column_types"])
        ev = ridx_k[sel]
        v2 = np.isin(etype[ev], _V2_TYPES)
        head = ps[ev] + 8
        if v2.any():
            extra = _gather_le(data, head, 2).astype(np.int64)
            head = head + np.where(v2, extra, 0)
        nc = data[np.minimum(head, hi)].astype(np.int64)
        if (nc >= 251).any() or (nc != ncols).any():
            return None
        head = head + 1
        nb = (ncols + 7) // 8
        upd = np.isin(etype[ev], _ROW_UPDATE)
        for j in range(nb):
            b1 = data[np.minimum(head + j, hi)]
            pres_b[sel, j] = b1
            pres_a[sel, j] = np.where(
                upd, data[np.minimum(head + nb + j, hi)], b1
            )
        rows_start[sel] = head + np.where(upd, 2 * nb, nb)

    groups = []
    go = prep.gov_k * 3 + op_code
    for gk in np.unique(go):
        uid, opc = int(gk) // 3, int(gk) % 3
        op = ("insert", "delete", "update")[opc]
        gsel = np.nonzero(go == gk)[0]
        ncols = len(prep.uniq_tms[uid]["column_types"])
        key = np.concatenate([pres_b[gsel], pres_a[gsel]], axis=1)
        _, first_idx, inv = np.unique(
            key, axis=0, return_index=True, return_inverse=True
        )
        inv = inv.reshape(-1)  # numpy 2.x keeps the axis shape
        for si, rep in enumerate(first_idx):
            loc = gsel[inv == si]
            pb_bits = np.unpackbits(pres_b[gsel[rep]], bitorder="little")[:ncols]
            pa_bits = np.unpackbits(pres_a[gsel[rep]], bitorder="little")[:ncols]
            bits_b = (
                [int(i) for i in np.nonzero(pb_bits)[0]]
                if op in ("update", "delete")
                else None
            )
            bits_a = (
                [int(i) for i in np.nonzero(pa_bits)[0]]
                if op in ("update", "insert")
                else None
            )
            groups.append(
                {
                    "uid": uid, "op": op, "loc": loc,
                    "rows_start": rows_start[loc],
                    "bits_b": bits_b, "bits_a": bits_a,
                }
            )
    return groups


def _walk_group(
    data, pe, ev, rows_start, specs_b, specs_a, op: str, values: bool,
    b_values: bool = True,
):
    """Event-wavefront over one (table-map, op, presence) subgroup —
    heads already parsed; specs_b/specs_a are the PRESENT-column subsets
    for each image (None when the image is absent for this op).
    ``b_values=False`` walks the before image offset-only (no value
    gathers). Returns (evt_local, row_in_event, before_steps,
    after_steps) or None when the layout mis-parses."""
    # wavefront: advance one row (or pair) per step
    cur = rows_start.copy()
    end = pe[ev]
    active = np.arange(len(ev), dtype=np.int64)
    step_evt: list[np.ndarray] = []
    step_row: list[np.ndarray] = []
    before_steps: list = []
    after_steps: list = []
    r = 0
    while len(active):
        alive = cur[active] < end[active]
        active = active[alive]
        if not len(active):
            break
        step_evt.append(active.copy())
        step_row.append(np.full(len(active), r, dtype=np.int32))
        if op == "update":
            bcols, off2 = _decode_image(
                data, cur[active], specs_b, len(specs_b), values and b_values
            )
            acols, off3 = _decode_image(data, off2, specs_a, len(specs_a), values)
            before_steps.append(bcols)
            after_steps.append(acols)
            cur[active] = off3
        elif op == "delete":
            cols, off2 = _decode_image(data, cur[active], specs_b, len(specs_b), values)
            before_steps.append(cols)
            cur[active] = off2
        else:
            cols, off2 = _decode_image(data, cur[active], specs_a, len(specs_a), values)
            after_steps.append(cols)
            cur[active] = off2
        r += 1
    if (cur > end).any():
        return None  # mis-parsed layout — be safe, fall back
    if not step_evt:
        return (
            np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int32), [], []
        )
    return (
        np.concatenate(step_evt),
        np.concatenate(step_row),
        before_steps,
        after_steps,
    )


class _Prep:
    """Shared segment analysis: frame chain, table maps, transaction gate —
    everything before column-value decode. `empty` means no decodable rows."""

    __slots__ = (
        "fr", "uniq_tms", "tm_uids", "ridx_k", "gov_k",
        "src_k", "seq_k", "xid_k", "hx_k", "sources", "empty",
        "gidx", "midx",
    )


def _prepare_segment(
    content: bytes, spec, xa_outcomes=None, src_file: str = ""
) -> _Prep:
    prep = _Prep()
    prep.gidx = prep.midx = None
    fr = _frame_chain(content)
    fr["pos_out"] = fr["off"]
    if segment_has_compressed(fr["etype"]):
        # MariaDB log_bin_compress frames: inflate the whole segment once
        # (zlib in C), re-walk the inflated bytes, and report positions in
        # on-disk coordinates via the sidecar map — binlog/compressed.py
        inflated = inflate_segment(content)
        if inflated is not None:
            content, orig_offs = inflated
            fr = _frame_chain(content)
            fr["pos_out"] = orig_offs[: fr["n"]]
    prep.fr = fr
    # START_ENCRYPTION: everything after the frame is AES ciphertext —
    # refuse loudly rather than decode garbage (same policy as scalar)
    enc = np.nonzero(fr["etype"] == EventType.MARIADB_START_ENCRYPTION)[0]
    if len(enc):
        from .reader import BinlogEncryptionError, parse_start_encryption

        i = int(enc[0])
        ev = parse_start_encryption(
            bytes(fr["data"][fr["p_start"][i] : fr["p_end"][i]])
        )
        raise BinlogEncryptionError(src_file, ev["key_version"])
    # INCIDENT (LOST_EVENTS) halts decode before any rows emit — same
    # policy as the scalar path / a replica's ER_REPLICA_INCIDENT stop
    inc = np.nonzero(fr["etype"] == EventType.INCIDENT)[0]
    for i in inc:
        from .reader import BinlogIncidentError, parse_incident

        ev = parse_incident(bytes(content[fr["p_start"][i] : fr["p_end"][i]]))
        if ev["incident_number"] != 0:
            raise BinlogIncidentError(
                src_file, int(fr["pos_out"][i]),
                ev["incident_number"], ev["message"],
            )
    data, m = fr["data"], fr["n"]
    etype, ps, pe = fr["etype"], fr["p_start"], fr["p_end"]
    prep.empty = True
    prep.uniq_tms = []
    if m == 0:
        return prep

    # table maps: scalar parse per unique payload (memoized), latest-wins
    # association by table_id (event_parser.rs:30,117-119)
    tm_mask = etype == EventType.TABLE_MAP
    tm_idx = np.nonzero(tm_mask)[0]
    tm_objs: list[dict] = []
    tm_uid_list: list[int] = []  # unique-payload ordinal per TM event
    memo: dict[bytes, tuple[int, dict]] = {}
    uniq_tms: list[dict] = []
    for i in tm_idx:
        payload = bytes(content[ps[i] : pe[i]])
        hit = memo.get(payload)
        if hit is None:
            tm = parse_table_map(payload)
            hit = (len(uniq_tms), tm)
            uniq_tms.append(tm)
            memo[payload] = hit
        tm_objs.append(hit[1])
        tm_uid_list.append(hit[0])
    tm_tids = np.array([t["table_id"] for t in tm_objs], dtype=np.int64)
    tm_uids = np.array(tm_uid_list, dtype=np.int64)
    prep.uniq_tms = uniq_tms

    row_mask = np.isin(etype, _ROW_TYPES)
    ridx = np.nonzero(row_mask)[0]
    if len(ridx) == 0:
        return prep

    # governing table map per row event
    row_tid = _gather_le(data, ps[ridx], 6).astype(np.int64)
    gov = np.full(len(ridx), -1, dtype=np.int64)
    for tid in np.unique(row_tid):
        tpos = tm_idx[tm_tids == tid]
        sel = row_tid == tid
        if len(tpos) == 0:
            from .reader import TABLE_MAP_NOT_FOUND

            raise ValueError(TABLE_MAP_NOT_FOUND)
        j = np.searchsorted(tpos, ridx[sel]) - 1
        if (j < 0).any():
            from .reader import TABLE_MAP_NOT_FOUND

            raise ValueError(TABLE_MAP_NOT_FOUND)
        # map back to position in tm_objs
        tm_positions = np.nonzero(tm_tids == tid)[0]
        gov[sel] = tm_positions[j]

    # drop row events for other tables (scalar: continue) — precompute the
    # flag per table-map position, then one fancy gather over row events
    tm_is_target = np.array(
        [
            t["database_name"] == spec.database and t["table_name"] == spec.table
            for t in tm_objs
        ],
        dtype=bool,
    ) if tm_objs else np.zeros(0, dtype=bool)
    keep_target = tm_is_target[gov]

    # transaction gate
    sources, gidx, gsrc, gseq, midx, mstate, mxid = _control_arrays(
        fr, content, xa_outcomes
    )
    prep.gidx, prep.midx = gidx, midx
    src_idx, seq, xid, has_xid, keep_txn = _gate_row_events(
        ridx, gidx, gsrc, gseq, midx, mstate, mxid, m
    )
    keep = keep_target & keep_txn
    ridx_k = ridx[keep]
    if len(ridx_k) == 0:
        return prep
    prep.empty = False
    prep.ridx_k = ridx_k
    prep.gov_k = tm_uids[gov[keep]]
    prep.src_k = src_idx[keep]
    prep.seq_k = seq[keep]
    prep.xid_k = xid[keep]
    prep.hx_k = has_xid[keep]
    prep.sources = sources
    return prep


def _origin_for_rows(prep, fr, data) -> np.ndarray:
    """Per kept-row-event origin SQL: last ROWS_QUERY (type 29, leading
    length byte skipped) or ANNOTATE_ROWS (type 160, raw text) frame
    strictly inside the row's transaction — i.e. after the latest GTID
    open or close marker preceding the row. None where the statement
    logged no query."""
    etype, ps, pe = fr["etype"], fr["p_start"], fr["p_end"]
    ridx_k = prep.ridx_k
    origin = np.full(len(ridx_k), None, dtype=object)
    rq_mask = (etype == EventType.MYSQL_ROWS_QUERY) | (
        etype == EventType.MARIADB_ANNOTATE_ROWS
    )
    rq_idx = np.nonzero(rq_mask)[0]
    if len(rq_idx) == 0:
        return origin
    texts = np.empty(len(rq_idx), dtype=object)
    for k, i in enumerate(rq_idx):
        payload = bytes(data[ps[i] : pe[i]])
        if etype[i] == EventType.MYSQL_ROWS_QUERY:
            payload = payload[1:]
        texts[k] = payload.decode("utf-8", "replace")

    def _last_before(arr):
        if arr is None or len(arr) == 0:
            return np.full(len(ridx_k), -1, dtype=np.int64)
        j = np.searchsorted(arr, ridx_k) - 1
        return np.where(j >= 0, arr[np.maximum(j, 0)], -1)

    boundary = np.maximum(_last_before(prep.gidx), _last_before(prep.midx))
    j_rq = np.searchsorted(rq_idx, ridx_k) - 1
    last_rq = np.where(j_rq >= 0, rq_idx[np.maximum(j_rq, 0)], -1)
    valid = (last_rq >= 0) & (last_rq > boundary)
    if valid.any():
        origin[valid] = texts[j_rq[valid]]
    return origin


def decode_segment_fast(
    content: bytes, src_file: str, spec, batch_rows: int = 262144,
    before_values: str = "full", xa_outcomes=None,
    attach_origin_query: bool = False,
    attach_partition_id: bool = False,
) -> Optional[list[pa.RecordBatch]]:
    """Decode one segment fully vectorized into RecordBatches of the
    declared change-event schema (``decoder.arrow_schema``); None →
    caller falls back.

    ``before_values="keys"`` skips materializing before-image values for
    non-key columns (typed nulls instead): update before-images are
    walked offset-only and delete before-images keep only the key
    columns. The merge pipeline never reads non-key before values (the
    key is ``coalesce(after, before)`` and before columns are dropped
    immediately after — pipeline/order.py:with_change_key), and the
    expensive step this skips is the Arrow value build, which for FULL
    row images is roughly half of an update-heavy stream's decode."""
    for _name, _ddl, kind in spec.columns:
        if kind not in (
            "str", "int", "ts_millis", "double", "binary", "date",
            "decimal", "datetime", "time", "json", "geometry", "vector",
        ):
            return None
    prep = _prepare_segment(content, spec, xa_outcomes, src_file)
    if prep.empty:
        return []
    fr = prep.fr
    data = fr["data"]
    etype, ps = fr["etype"], fr["p_start"]
    pe = fr["p_end"]
    uniq_tms = prep.uniq_tms
    ridx_k, src_k = prep.ridx_k, prep.src_k
    seq_k, xid_k, hx_k = prep.seq_k, prep.xid_k, prep.hx_k
    sources = prep.sources

    canonical = [c[0] for c in spec.columns]
    kinds = {c[0]: c[2] for c in spec.columns}

    # origin-query attribution (opt-in): each row event inherits the text
    # of the last ROWS_QUERY/ANNOTATE_ROWS frame after its transaction
    # boundary — the vector twin of the scalar decoder's cur_origin state
    # (set per statement, cleared at GTID opens and txn-close markers)
    origin_k = None
    if attach_origin_query:
        origin_k = _origin_for_rows(prep, fr, data=fr["data"])

    # partitioned-source provenance (opt-in): the WL#12168 PART TLV sits
    # at a fixed offset inside the v2 extra-row-data block, so it gathers
    # in O(row-events) numpy reads — -1 sentinels mark rows without the
    # TLV (non-partitioned tables, v1 events) and surface as nulls
    part_k = srcpart_k = None
    if attach_partition_id:
        ev_k = ridx_k
        v2_k = np.isin(etype[ev_k], _V2_TYPES)
        ehead = ps[ev_k] + 8
        extra_k = _gather_le(data, ehead, 2).astype(np.int64)
        hi_k = len(data) - 1
        tcode = data[np.minimum(ehead + 2, hi_k)]
        # write/delete PART TLV: type(1)+u16 → extra_len 5; update adds
        # the source partition u16 → extra_len 7
        has_p = v2_k & (extra_k >= 5) & (tcode == 1)
        pid = _gather_le(data, ehead + 3, 2).astype(np.int64)
        part_k = np.where(has_p, pid, -1)
        upd_k = np.isin(etype[ev_k], _ROW_UPDATE)
        has_sp = has_p & upd_k & (extra_k >= 7)
        spid = _gather_le(data, ehead + 5, 2).astype(np.int64)
        srcpart_k = np.where(has_sp, spid, -1)

    # subgroup by (unique table-map payload, op kind, presence pattern) —
    # partial row images decode as their own subgroups with a constant
    # column subset; O(schemas × 3 × patterns) subgroups total
    frames: list[dict] = []
    srcs = A.from_objects(sources, pa.large_utf8())
    groups = _group_row_events(prep, data, etype, ps)
    if groups is None:
        return None

    for g in groups:
        uid, op, loc = g["uid"], g["op"], g["loc"]
        tm = uniq_tms[uid]
        specs = _table_colspecs(tm)
        if specs is None:
            return None
        specs_b = [specs[i] for i in g["bits_b"]] if g["bits_b"] is not None else None
        specs_a = [specs[i] for i in g["bits_a"]] if g["bits_a"] is not None else None
        ev = ridx_k[loc]
        # updates never contribute the change key from their before image
        # (the after image carries it), so under "keys" mode the update
        # before-image is walked offset-only, not value-decoded
        b_mat = before_values == "full" or op != "update"
        walked = _walk_group(
            data, pe, ev, g["rows_start"], specs_b, specs_a, op,
            values=True, b_values=b_mat,
        )
        if walked is None:
            return None
        evt_local, row_in_event, before_steps, after_steps = walked
        if len(evt_local) == 0:
            continue
        n_rows = len(evt_local)
        img_before = (
            _concat_image_cols(before_steps, specs_b)
            if before_steps and before_steps[0] is not None
            else None
        )
        img_after = (
            _concat_image_cols(after_steps, specs_a) if after_steps else None
        )

        # map image columns → canonical spec columns: canonical name →
        # table column index → rank within this image's PRESENT subset
        col_names = tm.get("column_names") or canonical[: len(tm["column_types"])]
        index = {nm: i for i, nm in enumerate(col_names)}
        rank_b = (
            {mi: r for r, mi in enumerate(g["bits_b"])}
            if g["bits_b"] is not None
            else {}
        )
        rank_a = (
            {mi: r for r, mi in enumerate(g["bits_a"])}
            if g["bits_a"] is not None
            else {}
        )

        out: dict[str, tuple] = {}
        e_abs = ev[evt_local]
        l_abs = loc[evt_local]
        out["pos"] = ("num", fr["pos_out"][e_abs], None)
        out["next_pos"] = ("num", fr["next_pos"][e_abs], None)
        hts = fr["ts"][e_abs].astype(np.int64)
        out["ts"] = ("num", hts * 1_000_000, hts == 0)
        out["server_id"] = ("num", fr["server_id"][e_abs], None)
        out["op"] = ("const", op, n_rows)
        src = src_k[l_abs]
        out["gtid_source"] = (
            "arrow", srcs.take(A.from_numpy(src, pa.int64(), src < 0))
        )
        out["gtid_seq"] = ("num", seq_k[l_abs].astype(np.int64), src < 0)
        out["xid"] = ("num", xid_k[l_abs].astype(np.int64), ~hx_k[l_abs])
        out["table_id"] = ("const", tm["table_id"], n_rows)
        out["db"] = ("const", tm["database_name"], n_rows)
        out["tbl"] = ("const", tm["table_name"], n_rows)
        out["row_in_event"] = ("num", row_in_event, None)

        # canonical presence masks from this subgroup's pattern
        # (schema-evolution: canonical columns absent from this map stay 0)
        bm = am = 0
        for ci, cname in enumerate(canonical):
            mi = index.get(cname)
            if mi is None:
                continue
            if mi in rank_b:
                bm |= 1 << ci
            if mi in rank_a:
                am |= 1 << ci
        out["before_present"] = ("const", bm, n_rows)
        out["after_present"] = ("const", am, n_rows)

        for prefix, img, rank in (
            ("before_", img_before, rank_b),
            ("after_", img_after, rank_a),
        ):
            for name in canonical:
                mi = index.get(name)
                sub = rank.get(mi) if mi is not None else None
                colref = None if (img is None or sub is None) else img[sub]
                if (
                    prefix == "before_"
                    and before_values != "full"
                    and name not in spec.primary_key
                ):
                    colref = None  # typed nulls — never read by the merge
                col = _canonical_column(
                    colref, kinds[name], data, n_rows,
                    specs[mi].codec if mi is not None else None,
                )
                if col is None:
                    return None  # kind/type mismatch → fallback
                out[prefix + name] = col

        if origin_k is not None:
            out["origin_query"] = ("obj", origin_k[l_abs])
        if part_k is not None:
            pk = part_k[l_abs]
            out["partition_id"] = ("num", pk, pk < 0)
            spk = srcpart_k[l_abs]
            out["source_partition_id"] = ("num", spk, spk < 0)
        out["_evt"] = ("num", e_abs, None)
        frames.append(out)

    if not frames:
        return []

    # single final assembly: each column's group parts become Arrow arrays
    # of the declared type, concatenate, and reorder globally by (event,
    # row) — one RecordBatch, no Python objects for the common kinds
    evt_all = np.concatenate([g["_evt"][1] for g in frames])
    row_all = np.concatenate([g["row_in_event"][1] for g in frames])
    order = np.lexsort((row_all, evt_all))

    # TRANSACTION_PAYLOAD splices give every embedded frame its wrapper's
    # on-disk pos — renumber row_in_event cumulatively across the frames
    # of one wrapper so (gtid_seq, pos, row_in_event) stays a total order
    # within the transaction (pipeline/order.py ORDER_COLS)
    pos_out = np.asarray(fr["pos_out"])
    row_adj = None
    if len(pos_out) > 1 and bool(np.any(pos_out[1:] == pos_out[:-1])):
        counts = np.bincount(evt_all, minlength=len(pos_out)).astype(np.int64)
        csum = np.concatenate(([0], np.cumsum(counts)[:-1]))  # rows before frame i
        idx = np.arange(len(pos_out), dtype=np.int64)
        new_run = np.ones(len(pos_out), dtype=bool)
        new_run[1:] = pos_out[1:] != pos_out[:-1]
        run_first = np.maximum.accumulate(np.where(new_run, idx, 0))
        offset = csum - csum[run_first]  # rows in earlier frames of the run
        row_adj = (row_all.astype(np.int64) + offset[evt_all]).astype(np.int32)

    from .decoder import arrow_schema

    schema = arrow_schema(spec, attach_origin_query, attach_partition_id)
    n = len(order)
    take = (
        None if bool((order == np.arange(n)).all())
        else A.from_numpy(order, pa.int64())
    )
    arrays = [A.repeat(src_file, schema.field(0).type, n)]
    for field in list(schema)[1:]:
        if field.name == "row_in_event" and row_adj is not None:
            arrays.append(A.from_numpy(row_adj[order], field.type))
            continue
        parts = [_to_arrow(g[field.name], field.type) for g in frames]
        arr = parts[0] if len(parts) == 1 else pa.concat_arrays(parts)
        arrays.append(arr if take is None else arr.take(take))
    batch = pa.RecordBatch.from_arrays(arrays, schema=schema)
    return [batch.slice(i, batch_rows) for i in range(0, n, batch_rows)]


def segment_row_stats(
    content: bytes,
    src_file: str,
    spec,
    covered: Optional[list] = None,
    min_pos_exclusive: Optional[int] = None,
    xa_outcomes: Optional[dict] = None,
) -> Optional["pandas.DataFrame"]:
    """Stats-only decode: per-(file, gtid_source) committed-row counts,
    position bounds, and collapsed GTID-seq islands — the ledger/lineage
    inputs — WITHOUT materializing any column values (the wavefront runs
    with ``values=False``, so only length prefixes are read).

    Counts the rows the decode task's applied-row rule keeps
    (``decoder.SegmentStats.applied``): committed transactions only (xid
    gate), GTIDs outside ``covered`` (GtidSet.to_intervals() tuples,
    through the same ``decoder.covered_rows``) and positions after
    ``min_pos_exclusive``. Returns None when the segment needs the scalar
    fallback.
    """
    import pandas as pd

    prep = _prepare_segment(content, spec, xa_outcomes, src_file)
    empty = pd.DataFrame(
        {
            "src_file": pd.Series([], dtype=object),
            "gtid_source": pd.Series([], dtype=object),
            "events": pd.Series([], dtype=np.int64),
            "min_pos": pd.Series([], dtype=np.int64),
            "max_pos": pd.Series([], dtype=np.int64),
            "starts": pd.Series([], dtype=object),
            "ends": pd.Series([], dtype=object),
            "max_ts": pd.Series([], dtype=np.int64),
        }
    )
    if prep.empty:
        return empty
    fr = prep.fr
    data = fr["data"]
    etype, ps, pe = fr["etype"], fr["p_start"], fr["p_end"]
    ridx_k = prep.ridx_k

    groups = _group_row_events(prep, data, etype, ps)
    if groups is None:
        return None
    l_parts = []
    for g in groups:
        specs = _table_colspecs(prep.uniq_tms[g["uid"]])
        if specs is None:
            return None
        specs_b = [specs[i] for i in g["bits_b"]] if g["bits_b"] is not None else None
        specs_a = [specs[i] for i in g["bits_a"]] if g["bits_a"] is not None else None
        walked = _walk_group(
            data, pe, ridx_k[g["loc"]], g["rows_start"], specs_b, specs_a,
            g["op"], values=False,
        )
        if walked is None:
            return None
        evt_local, _row, _b, _a = walked
        l_parts.append(g["loc"][evt_local])
    if not l_parts:
        return empty
    l_all = np.concatenate(l_parts)

    # committed transactions only (gate_complete_transactions analog)
    mask = prep.hx_k[l_all].copy()
    pos_row = fr["pos_out"][ridx_k[l_all]]
    if min_pos_exclusive is not None:
        mask &= pos_row > min_pos_exclusive
    src = prep.src_k[l_all]
    seq = prep.seq_k[l_all]
    if covered:
        from .decoder import covered_rows

        names = np.array(prep.sources + [None], dtype=object)
        mask &= ~covered_rows(names[src], seq, covered)

    if not mask.any():
        return empty
    ts_row = fr["ts"][ridx_k[l_all]]
    src_m, seq_m, pos_m, ts_m = src[mask], seq[mask], pos_row[mask], ts_row[mask]
    out = {
        "src_file": [], "gtid_source": [], "events": [],
        "min_pos": [], "max_pos": [], "starts": [], "ends": [], "max_ts": [],
    }
    for si in np.unique(src_m):
        sel = src_m == si
        source = prep.sources[si] if si >= 0 else None
        out["src_file"].append(src_file)
        out["gtid_source"].append(source)
        out["events"].append(int(sel.sum()))
        out["min_pos"].append(int(pos_m[sel].min()))
        out["max_pos"].append(int(pos_m[sel].max()))
        if si >= 0:
            seqs = np.unique(seq_m[sel])
            breaks = np.nonzero(np.diff(seqs) > 1)[0]
            starts = seqs[np.concatenate(([0], breaks + 1))]
            ends = seqs[np.concatenate((breaks, [len(seqs) - 1]))]
        else:
            starts = ends = np.array([], dtype=np.int64)
        out["starts"].append(starts.tolist())
        out["ends"].append(ends.tolist())
        # header timestamp (epoch seconds) of the newest committed row —
        # the numerator of the replication-lag metric (ST4)
        out["max_ts"].append(int(ts_m[sel].max()))
    frame = pd.DataFrame(out)
    frame["starts"] = frame["starts"].astype(object)
    frame["ends"] = frame["ends"].astype(object)
    return frame
