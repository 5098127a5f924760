"""One frame walk for every binlog scan (``reader.iter_frames``).

Pure Python, no Spark session. One stream — GTIDs, a long ALTER, a
TRUNCATE, an XA prepare and its verdict, and rows — is written in every
wire form the engine reads: plain, MariaDB ``log_bin_compress``
(``compress_segment``) and MySQL ``binlog_transaction_compression``
(``wrap_transaction_payload_segment``, zstd and uncompressed), each with
CRC32 trailers on and off. Every scanner and ``BinlogFileReader`` must
read the same events from every form (positions aside), and each must
stop on a zero-filled tail and on a zero-length frame. The dead-letter
tests pin what a frame the walk cannot expand (a torn TRANSACTION_PAYLOAD
wrapper, a corrupt zlib tail) turns into under each ``on_error`` policy.
"""

from __future__ import annotations

import contextlib
import signal
import struct

import pandas as pd
import pytest

from mysql_cdc_spark.binlog.compressed import (
    compress_segment,
    parse_compressed_head,
    wrap_transaction_payload_segment,
)
from mysql_cdc_spark.binlog.constants import (
    COMPRESSED_TO_PLAIN,
    EVENT_HEADER_SIZE,
    FIRST_EVENT_POSITION,
    ROW_EVENTS_V2,
    ChecksumType,
    EventType,
)
from mysql_cdc_spark.binlog.ddl import scan_ddl, scan_truncates
from mysql_cdc_spark.binlog.decoder import _FileDecoder, scan_table_maps
from mysql_cdc_spark.binlog.encoder import BinlogWriter
from mysql_cdc_spark.binlog.reader import BinlogFileReader
from mysql_cdc_spark.binlog.xa import scan_xa, xid_key
from mysql_cdc_spark.fixtures import (
    COLUMN_TYPES,
    PRE_COLUMNS,
    SOURCE_UUID,
    TABLE_ID_PRE,
    transcripts_pre_spec,
)
from mysql_cdc_spark.pipeline.ledger import Ledger
from mysql_cdc_spark.pipeline.start import (
    FromEnd,
    FromPosition,
    covered_gtids_until,
    seed_ledger,
    start_state,
)
from decoded import to_pandas

CTYPES = [COLUMN_TYPES[c][0] for c in PRE_COLUMNS]
CMETA = [COLUMN_TYPES[c][1] for c in PRE_COLUMNS]
TS0 = 1_700_000_000
NAME = "binlog.000001"
SPEC = transcripts_pre_spec()
# long enough (>= 256 bytes) that a MariaDB server compresses it
LONG_ALTER = (
    "ALTER TABLE `chat`.`transcripts` ADD COLUMN `tool` VARCHAR(64) NULL "
    "COMMENT '" + "tool the assistant called for this turn; " * 6 + "'"
)
GTRID = b"xa-walk-1"


def _table_map(w, ts):
    w.write_table_map(
        TABLE_ID_PRE, "chat", "transcripts", CTYPES, CMETA,
        nullability=[False] * 5, column_names=PRE_COLUMNS,
        simple_primary_keys=[0, 1], signedness=[False], timestamp=ts,
    )


def _rows(seq, n):
    # long texts: the rows bodies reach the compression floor
    return [
        [f"c{seq}", t, "user", f"turn {t} of {seq} " + "w" * 300, (TS0 + seq) * 1000]
        for t in range(n)
    ]


def _txn(w, seq, n):
    ts = TS0 + seq
    w.write_mysql_gtid(SOURCE_UUID, seq, timestamp=ts)
    w.write_query("BEGIN", database="chat", timestamp=ts)
    _table_map(w, ts)
    w.write_rows(TABLE_ID_PRE, CTYPES, CMETA, _rows(seq, n), timestamp=ts)
    w.write_xid(seq, timestamp=ts)


def _ddl(w, seq, sql):
    w.write_mysql_gtid(SOURCE_UUID, seq, timestamp=TS0 + seq)
    w.write_query(sql, database="chat", timestamp=TS0 + seq)


def _stream(checksum, xa: bool = True) -> bytes:
    w = BinlogWriter(NAME, checksum=checksum)
    _txn(w, 1, 2)
    _ddl(w, 2, LONG_ALTER)
    _txn(w, 3, 3)
    _ddl(w, 4, "TRUNCATE TABLE transcripts")
    if xa:
        # two-phase XA: rows under their own GTID, the verdict under another
        x = f"X'{GTRID.hex()}'"
        ts = TS0 + 5
        w.write_mysql_gtid(SOURCE_UUID, 5, timestamp=ts)
        w.write_query(f"XA START {x}", database="chat", timestamp=ts)
        _table_map(w, ts)
        w.write_rows(TABLE_ID_PRE, CTYPES, CMETA, _rows(5, 2), timestamp=ts)
        w.write_query(f"XA END {x}", database="chat", timestamp=ts)
        w.write_xa_prepare(GTRID, timestamp=ts)
        _ddl(w, 6, f"XA COMMIT {x}")
    _txn(w, 7, 2)
    return w.getvalue()


FORMS = {
    "plain": lambda c: c,
    "mariadb_compressed": compress_segment,
    "payload_zstd": lambda c: wrap_transaction_payload_segment(c, "zstd"),
    "payload_none": lambda c: wrap_transaction_payload_segment(c, "none"),
}
CHECKSUMS = {"crc32": ChecksumType.CRC32, "none": ChecksumType.NONE}


@contextlib.contextmanager
def _terminates(seconds=10):
    """Fail, rather than hang, when a walk never ends."""

    def on_alarm(_sig, _frame):
        raise TimeoutError(f"frame walk still running after {seconds}s")

    old = signal.signal(signal.SIGALRM, on_alarm)
    signal.setitimer(signal.ITIMER_REAL, seconds)
    try:
        yield
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, old)


def _read_all(content: bytes, binlog_dir) -> dict:
    """What every scanner and the reader make of one segment, with
    positions left out."""
    binlog_dir.mkdir(exist_ok=True)
    (binlog_dir / NAME).write_bytes(content)
    tms = scan_table_maps(content)
    xa = scan_xa(content, NAME) or {"verdicts": {}, "prepares": {}}
    decoded = to_pandas(_FileDecoder(SPEC).decode_file(NAME, content))
    return {
        "reader": [(k, ev) for _h, _p, k, ev in BinlogFileReader(content, NAME)],
        "table_maps": [{k: v for k, v in t.items() if k != "pos"} for t in tms],
        "ddl": [(d["sql"], d["database"]) for d in scan_ddl(content)],
        "fences": [
            (t["kind"], t["gtid_source"], t["gtid_seq"], t["ts"])
            for t in scan_truncates(content, NAME, "chat", "transcripts")
        ],
        "xa": (xa["verdicts"], {k: v[0] for k, v in xa["prepares"].items()}),
        "from_end": start_state(FromEnd(), str(binlog_dir))[0],
        "until": covered_gtids_until(str(binlog_dir), NAME, 1 << 40),
        "rows": decoded.drop(columns=["pos", "next_pos"]).reset_index(drop=True),
    }


def _assert_same(got: dict, want: dict) -> None:
    for key in want:
        if key == "rows":
            pd.testing.assert_frame_equal(got[key], want[key])
        else:
            assert got[key] == want[key], key


@pytest.fixture(scope="module", params=sorted(CHECKSUMS))
def baseline(request, tmp_path_factory):
    checksum = CHECKSUMS[request.param]
    plain = _stream(checksum)
    with _terminates():
        want = _read_all(plain, tmp_path_factory.mktemp("plain"))
    return checksum, plain, want


def test_plain_stream_reads_every_feature(baseline):
    _checksum, _plain, want = baseline
    assert len(want["table_maps"]) == 4
    assert want["ddl"] == [(LONG_ALTER, "chat")]
    assert [(k, s) for k, _src, s, _ts in want["fences"]] == [("truncate", 4)]
    key = xid_key(1, GTRID, b"")
    assert want["xa"] == ({key: True}, {key: NAME})
    assert want["from_end"] == want["until"] == f"{SOURCE_UUID}:1-7"
    assert sorted(set(want["rows"]["gtid_seq"])) == [1, 3, 5, 7]
    assert len(want["rows"]) == 9


@pytest.mark.parametrize("form", sorted(set(FORMS) - {"plain"}))
def test_scanners_agree_across_wire_forms(baseline, form, tmp_path):
    _checksum, plain, want = baseline
    content = FORMS[form](plain)
    assert content != plain
    with _terminates():
        got = _read_all(content, tmp_path / "binlog")
    _assert_same(got, want)


ZERO_LENGTH_FRAME = struct.pack("<IBIIIH", TS0, EventType.QUERY, 1, 0, 0, 0)


@pytest.mark.parametrize("form", sorted(FORMS))
@pytest.mark.parametrize(
    "tail", [b"\x00" * 4096, ZERO_LENGTH_FRAME + b"\x01" * 64],
    ids=["zero_filled_tail", "zero_length_frame"],
)
def test_every_scan_stops_at_a_frame_shorter_than_its_header(
    baseline, form, tail, tmp_path
):
    _checksum, plain, want = baseline
    content = FORMS[form](plain) + tail
    with _terminates():
        got = _read_all(content, tmp_path / "binlog")
    _assert_same(got, want)


# ------------------------------------------------------------ dead letters


def _frames(content: bytes):
    """(pos, etype, length) of each top-level frame."""
    out, pos = [], FIRST_EVENT_POSITION
    for _ in range(10_000):
        if pos + EVENT_HEADER_SIZE > len(content):
            break
        etype = content[pos + 4]
        (length,) = struct.unpack_from("<I", content, pos + 9)
        out.append((pos, etype, length))
        pos += length
    return out


def _decode(content: bytes, on_error: str) -> tuple[pd.DataFrame, list]:
    dec = _FileDecoder(SPEC, on_error=on_error)
    frames = list(dec.decode_file(NAME, content))
    return to_pandas(frames), dec.quarantine


def _torn_wrapper(content: bytes) -> tuple[bytes, int]:
    """Zero the zstd body of the second TRANSACTION_PAYLOAD wrapper
    (transaction 3), keeping its frame length: the chain stays walkable,
    the wrapper cannot be expanded."""
    pos, _t, length = [
        f for f in _frames(content)
        if f[1] == EventType.MYSQL_TRANSACTION_PAYLOAD
    ][1]
    buf = bytearray(content)
    start = pos + EVENT_HEADER_SIZE + 16
    buf[start : pos + length - 4] = bytes(pos + length - 4 - start)
    return bytes(buf), pos


def _corrupt_zlib_tail(content: bytes) -> tuple[bytes, int, int]:
    """Zero the deflate stream of the first compressed rows event after
    its two-byte zlib header: the record head stays intact, the inflate
    fails."""
    pos, etype, length = next(
        f for f in _frames(content)
        if COMPRESSED_TO_PLAIN.get(f[1]) in ROW_EVENTS_V2
    )
    body = pos + EVENT_HEADER_SIZE
    # rows post-header: table_id(6) flags(2) extra(2) ncols(1) bitmap(1)
    _n, data_off = parse_compressed_head(content, body + 12)
    buf = bytearray(content)
    buf[data_off + 2 : pos + length - 4] = bytes(pos + length - 4 - data_off - 2)
    return bytes(buf), pos, etype


@pytest.fixture(scope="module")
def crc_plain():
    plain = _stream(ChecksumType.CRC32, xa=False)
    rows, _q = _decode(plain, "fail")
    return plain, rows


def test_torn_transaction_payload_is_one_dead_letter(crc_plain):
    plain, plain_rows = crc_plain
    content, wrapper_pos = _torn_wrapper(
        wrap_transaction_payload_segment(plain, "zstd")
    )
    kinds = [k for _h, _p, k, _e in BinlogFileReader(content, NAME, "quarantine")]
    assert kinds.count("quarantine") == 1
    rows, quarantine = _decode(content, "quarantine")
    assert [(q["pos"], q["event_type"], q["gtid_seq"]) for q in quarantine] == [
        (wrapper_pos, EventType.MYSQL_TRANSACTION_PAYLOAD, 3)
    ]
    # the wrapped transaction is lost whole; the rest of the segment decodes
    keep = plain_rows[plain_rows["gtid_seq"] != 3]
    cols = [c for c in keep.columns if c not in ("pos", "next_pos")]
    pd.testing.assert_frame_equal(
        rows[cols].reset_index(drop=True), keep[cols].reset_index(drop=True)
    )
    with pytest.raises(Exception):
        list(BinlogFileReader(content, NAME))
    with pytest.raises(Exception):
        _decode(content, "fail")


def test_corrupt_compressed_rows_body_is_one_dead_letter(crc_plain):
    plain, plain_rows = crc_plain
    content, pos, etype = _corrupt_zlib_tail(compress_segment(plain))
    kinds = [k for _h, _p, k, _e in BinlogFileReader(content, NAME, "quarantine")]
    assert kinds.count("quarantine") == 1
    rows, quarantine = _decode(content, "quarantine")
    assert [(q["pos"], q["event_type"], q["gtid_seq"]) for q in quarantine] == [
        (pos, etype, 1)
    ]
    # event-grain loss: transaction 1's only rows event; all else decodes
    keep = plain_rows[plain_rows["gtid_seq"] != 1]
    cols = [c for c in keep.columns if c not in ("pos", "next_pos")]
    pd.testing.assert_frame_equal(
        rows[cols].reset_index(drop=True), keep[cols].reset_index(drop=True)
    )
    with pytest.raises(Exception):
        list(BinlogFileReader(content, NAME))
    with pytest.raises(Exception):
        _decode(content, "fail")


def test_scanners_pass_over_a_frame_the_walk_cannot_expand(baseline, tmp_path):
    """The decode of the segment applies the dead-letter policy to a torn
    wrapper; the scanners read around it."""
    _checksum, plain, want = baseline
    content, _pos = _torn_wrapper(wrap_transaction_payload_segment(plain, "zstd"))
    (tmp_path / NAME).write_bytes(content)
    with _terminates():
        xa = scan_xa(content, NAME)
        assert (xa["verdicts"], {k: v[0] for k, v in xa["prepares"].items()}) == want["xa"]
        assert [(d["sql"], d["database"]) for d in scan_ddl(content)] == want["ddl"]
        fences = scan_truncates(content, NAME, "chat", "transcripts")
        assert [(t["kind"], t["gtid_seq"]) for t in fences] == [("truncate", 4)]
        # transaction 3's TABLE_MAP and XID are lost with its wrapper, so
        # its GTID is never closed
        assert len(scan_table_maps(content)) == len(want["table_maps"]) - 1
        assert start_state(FromEnd(), str(tmp_path))[0] == f"{SOURCE_UUID}:1-2:4-7"


def test_from_end_closes_groups_ended_by_a_query(tmp_path):
    """A group closed by a ``COMMIT`` or ``ROLLBACK`` query (no XID: a
    non-transactional engine) is executed, as in ``gtid_executed``; a
    group still open at the end of the log is not."""
    w = BinlogWriter(NAME, checksum=ChecksumType.CRC32)
    for seq, end in ((1, "COMMIT"), (2, "ROLLBACK"), (3, None)):
        w.write_mysql_gtid(SOURCE_UUID, seq, timestamp=TS0 + seq)
        w.write_query("BEGIN", database="chat", timestamp=TS0 + seq)
        _table_map(w, TS0 + seq)
        w.write_rows(TABLE_ID_PRE, CTYPES, CMETA, _rows(seq, 1), timestamp=TS0 + seq)
        if end:
            w.write_query(end, database="chat", timestamp=TS0 + seq)
    (tmp_path / NAME).write_bytes(w.getvalue())
    assert start_state(FromEnd(), str(tmp_path))[0] == f"{SOURCE_UUID}:1-2"


def test_start_strategies_read_a_uri_dir(baseline, tmp_path):
    _checksum, plain, want = baseline
    local = tmp_path / "binlog"
    local.mkdir()
    (local / NAME).write_bytes(plain)
    uri = local.as_uri()
    assert uri.startswith("file://")
    assert start_state(FromEnd(), uri) == start_state(FromEnd(), str(local))
    assert start_state(FromEnd(), uri)[0] == want["from_end"]
    # FromPosition seeds the GTIDs committed at or before its position
    at = FromPosition(NAME, start_state(FromEnd(), str(local))[2])
    seed_ledger(at, uri, str(tmp_path / "store"))
    seed = Ledger(str(tmp_path / "store")).last()
    assert (seed.gtid_set_text, seed.max_file) == (want["from_end"], NAME)
    assert covered_gtids_until(uri, NAME, 1 << 40) == want["until"]
