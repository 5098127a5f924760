"""Replication start strategies (ST3; starting_strategy.rs:2-7,
binlog_options.rs:33-85).

The reference starts a dump from one of four positions; our equivalent
seeds the resume state the exactly-once pipeline already honors:

- ``FromStart``       replay everything (binlog_options.rs:33-38)
- ``FromEnd``         skip to the current end: everything present at
                      construction time is marked covered, only segments
                      arriving later replay (configure.rs:22-34's
                      "show master status" equivalent is a directory scan)
- ``FromPosition``    skip events at (file, pos) or earlier in file order
                      (binlog_options.rs:54-66)
- ``FromGtid``        skip transactions covered by a GtidSet text
                      (binlog_options.rs:68-85; the exclusive interval-end
                      semantics of dump_binlog_gtid_command.rs:58 are
                      inherited from GtidSet containment)

Implementation: a synthetic ledger entry (batch 0) carrying the covered
GtidSet / max position — the same mechanism batch commits use, so resume,
tail, and crash-recovery compose with it unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass

from ..gtid import GtidSet
from .ledger import Ledger, LedgerEntry


@dataclass(frozen=True)
class FromStart:
    pass


@dataclass(frozen=True)
class FromEnd:
    pass


@dataclass(frozen=True)
class FromPosition:
    filename: str
    position: int


@dataclass(frozen=True)
class FromGtid:
    gtid_set_text: str


StartStrategy = FromStart | FromEnd | FromPosition | FromGtid


def start_state(strategy: StartStrategy, binlog_dir: str) -> tuple[str, str, int]:
    """Resolve a start strategy to the covered replication state
    ``(gtid_set_text, max_file, max_pos)`` it expresses — the same tuple a
    committed batch records. Shared by ``seed_ledger`` and
    ``Replayer.bootstrap``."""
    if isinstance(strategy, FromPosition):
        return "", strategy.filename, strategy.position
    if isinstance(strategy, FromGtid):
        return str(_parse_start_gtids(strategy.gtid_set_text)), "", 0
    if isinstance(strategy, FromEnd):
        # current end = every complete transaction in every present segment;
        # scan GTIDs cheaply (headers + GTID payloads only, no row decode)
        return _scan_current_end(binlog_dir)
    if isinstance(strategy, FromStart):
        return "", "", 0
    raise TypeError(f"unknown start strategy: {strategy!r}")


def seed_ledger(strategy: StartStrategy, binlog_dir: str, store_dir: str) -> None:
    """Write the batch-0 ledger entry expressing the start position. No-op
    when the ledger already has entries (a resumed job keeps its state —
    reconnect semantics, binlog_client.rs:40-43) or for FromStart."""
    ledger = Ledger(store_dir)
    if ledger.last() is not None or isinstance(strategy, FromStart):
        return

    gtid_text, max_file, max_pos = start_state(strategy, binlog_dir)
    if not gtid_text and max_file:
        # FromPosition carries no GTID state, but the position predicate
        # alone cannot drop a redelivered old transaction that reappears
        # at a LATER position — a replica attached at position P has
        # executed the GTIDs before P, so seed them as covered (same
        # hardening as Replayer.bootstrap; header-only bounded scan).
        gtid_text = covered_gtids_until(binlog_dir, max_file, max_pos)
    ledger.append(
        LedgerEntry(
            batch_id=0,
            gtid_set_text=gtid_text,
            max_file=max_file,
            max_pos=max_pos,
            snapshot_version=0,
            committed_at=Ledger.now(),
            partition_lineage=[],
            metrics={"start_strategy": type(strategy).__name__},
        )
    )


def _parse_start_gtids(text: str) -> GtidSet:
    """Accept both GTID start-state text forms the reference accepts:

    - MySQL GtidSet ("uuid:1-5,uuid2:3" — COM_BINLOG_DUMP_GTID input,
      dump_binlog_gtid_command.rs)
    - MariaDB GtidList ("0-1-100,1-2-55" — @slave_connect_state,
      mariadb_provider.rs:40-62); each domain's last-seen gtid means
      "everything up to and including seq" → interval 1..seq under the
      ledger's domain-server source key.
    """
    try:
        return GtidSet.parse(text)
    except Exception:
        from ..gtid import GtidList, Interval, Uuid, UuidSet

        gl = GtidList.parse(text)
        gset = GtidSet()
        for g in gl.gtids:
            source = f"{g.domain_id}-{g.server_id}"
            us = UuidSet(Uuid.parse_lenient(source), [])
            us.intervals = [Interval(1, g.sequence)]
            gset.uuid_sets[source] = us
        return gset


def covered_gtids_until(binlog_dir: str, max_file: str, max_pos: int) -> str:
    """GTID-set text of every transaction committed at or before
    ``(max_file, max_pos)`` — a header+GTID-payload-only scan, no row
    decode. ``Replayer.bootstrap`` uses this to harden ``FromPosition``:
    the position predicate alone cannot drop a *redelivered* old
    transaction that reappears at a later position, so the snapshot seed
    must also cover the committed GTIDs it embodies."""
    text, _f, _p = _scan_current_end(binlog_dir, max_file, max_pos)
    return text


def _closes_group(payload: bytes) -> bool:
    """Whether a QUERY event ends its GTID group: every statement but the
    ``BEGIN``, ``XA START`` and ``XA END`` that open or continue one."""
    from ..binlog.reader import parse_query
    from ..binlog.xa import parse_xa_statement

    sql = parse_query(payload)["sql_statement"]
    if sql.strip().upper() == "BEGIN":
        return False
    xa = parse_xa_statement(sql)
    return xa is None or xa[0] not in ("start", "end")


def _scan_current_end(
    binlog_dir: str, until_file: str | None = None, until_pos: int | None = None
) -> tuple[str, str, int]:
    from ..binlog.constants import FIRST_EVENT_POSITION, MAGIC_NUMBER, EventType
    from ..binlog.decoder import (
        _join_dir,
        _read_bytes,
        _segment_sort_key,
        list_dir_entries,
    )
    from ..binlog.reader import iter_frames, parse_mariadb_gtid, parse_mysql_gtid
    from ..gtid import Gtid, Uuid

    gset = GtidSet()
    max_file, max_pos = "", 0
    names = sorted(list_dir_entries(binlog_dir), key=_segment_sort_key)
    if until_file:
        until_key = _segment_sort_key(until_file)
        names = [n for n in names if _segment_sort_key(n) <= until_key]
    for name in names:
        content = _read_bytes(_join_dir(binlog_dir, name))
        if content[:FIRST_EVENT_POSITION] != MAGIC_NUMBER:
            continue
        pending: Gtid | None = None
        for pos, header, payload, _error in iter_frames(content):
            if until_file and name == until_file and pos > (until_pos or 0):
                # events past the bound replay normally (pos > max_pos
                # passes the resume predicate) — their gtids must not seed
                break
            etype = header[1]
            if etype == EventType.MYSQL_GTID:
                g = parse_mysql_gtid(payload)
                pending = Gtid(Uuid.parse(g["source_uuid"]), g["transaction_id"])
            elif etype == EventType.MARIADB_GTID:
                # seed key mirrors decoder.py's mariadb gtid_source
                # ("{domain_id}-{server_id}") so the anti-join matches
                g = parse_mariadb_gtid(payload, header[2])
                pending = Gtid(
                    Uuid.parse_lenient(f"{g['domain_id']}-{g['server_id']}"),
                    g["sequence"],
                )
            elif pending is not None and (
                etype in (EventType.XID, EventType.MYSQL_XA_PREPARE)
                or (etype == EventType.QUERY and _closes_group(payload))
            ):
                # a GTID is executed once its group ends: an XID, an XA
                # prepare, or a closing query (COMMIT, ROLLBACK, an
                # autocommit DDL, an XA verdict), as in gtid_executed
                gset.add_gtid(pending)
                pending = None
            max_file, max_pos = name, header[4]
    return str(gset), max_file, max_pos
