"""MySQL XA (distributed) transaction support — beyond-reference.

The reference enumerates ``MySqlXaPrepare = 38`` (event_type.rs:67-68) but
never decodes it, and its BEGIN/COMMIT/ROLLBACK boundary predicate
(binlog_client.rs:88-95) misclassifies every ``XA ...`` statement, so an XA
stream's row events are silently lost. Real deployments hit XA constantly —
every JTA/JMS bridge, Seata, and cross-shard commit coordinator produces
these streams — so this engine decodes them properly:

- a two-phase transaction's row events are logged under its own GTID group
  (``XA START`` query → TABLE_MAP/rows → ``XA END`` query → XA_PREPARE
  event), while the verdict — ``XA COMMIT <xid>`` or ``XA ROLLBACK <xid>``
  query, under a *different* GTID, possibly in a *later* binlog file, hours
  later — arrives separately;
- a one-phase transaction (``XA COMMIT ... ONE PHASE`` or an XA_PREPARE
  event with the one-phase flag) commits inline like an ordinary COMMIT.

Decode-time policy (both decode paths, identical output):

- resolved commit   → rows emitted at their own positions with xid = -1
  (the "committed without XID event" sentinel the plain-COMMIT path uses);
  ordering stays (gtid_seq, pos, row_in_event) of the *prepare* group —
  binlog row locks guarantee two prepared transactions never wrote the
  same row, so prepare order is a valid per-key total order;
- resolved rollback → rows dropped;
- unresolved (verdict not in this batch) → rows emitted with xid NULL,
  exactly like a transaction cut by a crash mid-file: the downstream
  committed-only gate holds them back, the ledger does not cover their
  GTID, and the Replayer records an **XA floor** (min prepare position
  with no verdict) so the next batch re-reads from the floor and the
  covered-GtidSet anti-join replays only the now-resolved transaction.

Verdicts are resolved from (a) the same segment (always), and (b) a
batch-wide verdict map collected by :func:`scan_xa` over every file of the
batch (the Replayer runs it as a cheap header-walk job and broadcasts the
tiny dict into decode).
"""

from __future__ import annotations

import re
import struct
from typing import Optional

from .constants import FIRST_EVENT_POSITION, EventType


def xid_key(format_id: int, gtrid: bytes, bqual: bytes) -> str:
    """Canonical xid identity: MySQL compares xids by exact
    (formatID, gtrid, bqual) bytes (sql/xa.h XID::eq)."""
    return f"{format_id}:{gtrid.hex()}:{bqual.hex()}"


def parse_xa_prepare(payload: bytes) -> dict:
    """XA_PREPARE_LOG_EVENT body (libbinlogevents control_events.h
    XA_prepare_event): one_phase u8, formatID i32 LE, gtrid_length u32,
    bqual_length u32, then gtrid+bqual bytes."""
    one_phase = payload[0] != 0
    format_id, glen, blen = struct.unpack_from("<iII", payload, 1)
    off = 13
    gtrid = bytes(payload[off : off + glen])
    bqual = bytes(payload[off + glen : off + glen + blen])
    return {
        "one_phase": one_phase,
        "format_id": format_id,
        "gtrid": gtrid,
        "bqual": bqual,
        "xid_key": xid_key(format_id, gtrid, bqual),
    }


# xid literal: X'hex' (the form the server serializes into the binlog,
# sql/xa.cc XID::serialize) or 'text' for printable xids; bqual and
# formatID are optional with MySQL's defaults ('' and 1)
_XID_RE = re.compile(
    r"^(?:X'(?P<gx>[0-9a-fA-F]*)'|'(?P<gt>[^']*)')"
    r"(?:\s*,\s*(?:X'(?P<bx>[0-9a-fA-F]*)'|'(?P<bt>[^']*)'))?"
    r"(?:\s*,\s*(?P<fid>\d+))?",
)
_VERBS = {
    "START": "start",
    "BEGIN": "start",
    "END": "end",
    "PREPARE": "prepare",
    "COMMIT": "commit",
    "ROLLBACK": "rollback",
    "RECOVER": "recover",
}


def parse_xa_statement(sql: str) -> Optional[tuple[str, Optional[str], bool]]:
    """Classify one SQL statement as an XA verb.

    Returns ``(verb, xid_key, one_phase)`` — verb in start/end/prepare/
    commit/rollback/recover — or None if the statement is not XA.
    """
    s = sql.strip()
    if len(s) < 3 or s[:2].upper() != "XA" or not s[2].isspace():
        return None
    rest = s[3:].lstrip()
    head = rest.split(None, 1)
    if not head:
        return None
    verb = _VERBS.get(head[0].upper())
    if verb is None:
        return None
    tail = head[1].strip() if len(head) > 1 else ""
    m = _XID_RE.match(tail)
    if m is None:
        return verb, None, False
    gtrid = (
        bytes.fromhex(m.group("gx"))
        if m.group("gx") is not None
        else (m.group("gt") or "").encode("utf-8")
    )
    if m.group("bx") is not None:
        bqual = bytes.fromhex(m.group("bx"))
    elif m.group("bt") is not None:
        bqual = m.group("bt").encode("utf-8")
    else:
        bqual = b""
    fid = int(m.group("fid")) if m.group("fid") is not None else 1
    one_phase = "ONE PHASE" in tail[m.end() :].upper()
    return verb, xid_key(fid, gtrid, bqual), one_phase


def scan_xa(content: bytes, src_file: str = "") -> Optional[dict]:
    """One cheap pass over a segment collecting the XA control surface.

    Returns None when the segment cannot contain XA statements (fast
    substring reject — every server-logged XA stream carries ``XA START``
    query text). Otherwise a dict:

    - ``verdicts``: {xid_key: True (commit) / False (rollback)} from
      ``XA COMMIT``/``XA ROLLBACK`` queries (one-phase commits excluded —
      they resolve inline);
    - ``prepares``: {xid_key: (src_file, group_pos)} for two-phase
      XA_PREPARE events / ``XA PREPARE`` queries, where group_pos is the
      position of the GTID event that opened the prepared transaction
      (the replay floor must rewind to it). A TRANSACTION_PAYLOAD-wrapped
      one resolves there too: its GTID event precedes the wrapper.
    """
    if b"XA" not in content:
        return None
    from .reader import iter_frames, parse_query

    verdicts: dict[str, bool] = {}
    prepares: dict[str, tuple[str, int]] = {}
    group_pos = FIRST_EVENT_POSITION
    for pos, header, payload, _error in iter_frames(content):
        etype = header[1]
        if etype in (EventType.MYSQL_GTID, EventType.MARIADB_GTID):
            group_pos = pos
        elif etype == EventType.QUERY and b"XA" in payload:
            parsed = parse_xa_statement(parse_query(payload)["sql_statement"])
            if parsed is None or parsed[1] is None:
                continue
            verb, key, one_phase = parsed
            if verb == "prepare":
                prepares.setdefault(key, (src_file, group_pos))
            elif verb == "commit" and not one_phase:
                verdicts[key] = True
            elif verb == "rollback":
                verdicts[key] = False
        elif etype == EventType.MYSQL_XA_PREPARE:
            ev = parse_xa_prepare(payload)
            if not ev["one_phase"]:
                prepares.setdefault(ev["xid_key"], (src_file, group_pos))
    if not verdicts and not prepares:
        return None
    return {"verdicts": verdicts, "prepares": prepares}


def merge_xa_scans(scans: list[Optional[dict]]) -> dict:
    """Fold per-file :func:`scan_xa` results into the batch-wide picture:
    the verdict map to broadcast into decode, the unresolved prepares, and
    the replay floor (min unresolved prepare group position, ordered by
    the numeric segment suffix — lexical order breaks when binlog
    numbering grows a digit, mysql-bin.999999 → mysql-bin.1000000)."""
    from .decoder import _segment_sort_key

    verdicts: dict[str, bool] = {}
    prepares: dict[str, tuple[str, int]] = {}
    for s in scans:
        if not s:
            continue
        verdicts.update(s["verdicts"])
        for k, v in s["prepares"].items():
            prepares.setdefault(k, v)
    pending = {k: v for k, v in prepares.items() if k not in verdicts}
    floor = (
        min(pending.values(), key=lambda v: (_segment_sort_key(v[0]), v[1]))
        if pending
        else None
    )
    return {"verdicts": verdicts, "pending": pending, "floor": floor}
