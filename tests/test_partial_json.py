"""MySQL 8 PARTIAL_JSON row images (PARTIAL_UPDATE_ROWS_EVENT, type 39).

Beyond-reference (the reference's event enum has no type 39 —
src/events/event_type.rs): streams written with
``binlog_row_value_options=PARTIAL_JSON`` carry JSON *diff vectors* in
the after-images. The engine expands each type-39 frame into its plain
UPDATE_ROWS_V2 twin by applying the diffs to the before-image document
(binlog/partial.py) — these tests pin the diff algebra, the wire format
(WL#2955 / sql/json_diff.cc), and scalar/vectorized decode parity
against an equivalently-written plain stream.
"""

from __future__ import annotations

import struct

import pandas as pd
import pytest

from mysql_cdc_spark.binlog import kernels as K
from mysql_cdc_spark.binlog.constants import (
    EVENT_HEADER_SIZE,
    FIRST_EVENT_POSITION,
    ChecksumType,
    ColumnType,
    EventType,
)
from mysql_cdc_spark.binlog.decoder import TableSpec, _FileDecoder
from mysql_cdc_spark.binlog.encoder import BinlogWriter
from mysql_cdc_spark.binlog.jsonb import decode_jsonb, encode_jsonb, jsonb_to_text
from mysql_cdc_spark.binlog.partial import (
    DIFF_INSERT,
    DIFF_REMOVE,
    DIFF_REPLACE,
    PartialJson,
    PartialJsonError,
    apply_json_diffs,
    expand_partial_body,
    json_ordinals,
    parse_json_path,
    read_diff_vector,
    write_diff_vector,
)
from mysql_cdc_spark.binlog.reader import BinlogFileReader
from mysql_cdc_spark.binlog.vector import decode_segment_fast
from decoded import to_pandas

# ------------------------------------------------------------------ paths


class TestJsonPath:
    def test_members_and_elements(self):
        assert parse_json_path("$") == []
        assert parse_json_path("$.a") == [("member", "a")]
        assert parse_json_path("$.a.b_c[3]") == [
            ("member", "a"),
            ("member", "b_c"),
            ("element", 3),
        ]
        assert parse_json_path('$."spaced key"[0].x') == [
            ("member", "spaced key"),
            ("element", 0),
            ("member", "x"),
        ]

    def test_quoted_escapes(self):
        assert parse_json_path('$."a\\"b"') == [("member", 'a"b')]
        assert parse_json_path('$."tab\\there"') == [("member", "tab\there")]

    @pytest.mark.parametrize(
        "bad",
        ["", "a.b", "$.", "$[last]", "$[*]", "$.a[1", '$."unterminated', "$x"],
    )
    def test_rejects(self, bad):
        with pytest.raises(PartialJsonError):
            parse_json_path(bad)


# ------------------------------------------------------------- diff algebra


class TestApplyDiffs:
    def test_replace_member_and_element(self):
        doc = {"a": 1, "b": [10, 20, 30]}
        out = apply_json_diffs(
            doc, [(DIFF_REPLACE, "$.a", 2), (DIFF_REPLACE, "$.b[1]", 99)]
        )
        assert out == {"a": 2, "b": [10, 99, 30]}

    def test_insert_member_element_and_append(self):
        doc = {"a": {"x": 1}, "b": [1, 3]}
        out = apply_json_diffs(
            doc,
            [
                (DIFF_INSERT, "$.a.y", "new"),
                (DIFF_INSERT, "$.b[1]", 2),
                (DIFF_INSERT, "$.b[99]", 4),  # past the end appends
            ],
        )
        assert out == {"a": {"x": 1, "y": "new"}, "b": [1, 2, 3, 4]}

    def test_remove(self):
        doc = {"a": 1, "b": [1, 2, 3]}
        out = apply_json_diffs(doc, [(DIFF_REMOVE, "$.a", None), (DIFF_REMOVE, "$.b[0]", None)])
        assert out == {"b": [2, 3]}

    def test_root_replace(self):
        assert apply_json_diffs({"old": 1}, [(DIFF_REPLACE, "$", [1, 2])]) == [1, 2]

    def test_ordered_application(self):
        # later diffs see earlier results — the server emits them in order
        doc = {"a": [1]}
        out = apply_json_diffs(
            doc, [(DIFF_INSERT, "$.a[1]", 2), (DIFF_REPLACE, "$.a[1]", 20)]
        )
        assert out == {"a": [1, 20]}

    @pytest.mark.parametrize(
        "op,path",
        [
            (DIFF_REPLACE, "$.missing"),
            (DIFF_REPLACE, "$.b[9]"),
            (DIFF_INSERT, "$.a"),  # already exists
            (DIFF_REMOVE, "$.missing"),
            (DIFF_INSERT, "$"),  # insert on root
            (DIFF_REMOVE, "$"),
        ],
    )
    def test_invalid_raises(self, op, path):
        with pytest.raises(PartialJsonError):
            apply_json_diffs({"a": 1, "b": [0]}, [(op, path, 5)])


# --------------------------------------------------------------- wire format


class TestDiffVectorWire:
    def test_round_trip(self):
        diffs = [
            (DIFF_REPLACE, "$.name", "renamed"),
            (DIFF_INSERT, "$.tags[2]", {"k": 1}),
            (DIFF_REMOVE, "$.old", None),
            (DIFF_REPLACE, '$."weird key"[0]', 3.5),
        ]
        blob = write_diff_vector(diffs)
        total = struct.unpack_from("<I", blob, 0)[0]
        assert total == len(blob) - 4
        got = read_diff_vector(blob, 4, len(blob))
        assert got == diffs

    def test_bad_operation_byte(self):
        blob = bytes([7]) + K.write_len_enc_num(1) + b"$"
        with pytest.raises(PartialJsonError):
            read_diff_vector(blob, 0, len(blob))

    def test_overrun_raises(self):
        diffs = [(DIFF_REPLACE, "$.a", 1)]
        blob = write_diff_vector(diffs)[4:]
        with pytest.raises(PartialJsonError):
            read_diff_vector(blob, 0, len(blob) + 3)

    def test_json_ordinals(self):
        C = ColumnType
        assert json_ordinals([C.LONG, C.JSON, C.VARCHAR, C.JSON]) == {1: 0, 3: 1}


# ------------------------------------------------------------ stream fixtures

DOCS = TableSpec(
    database="app",
    table="docs",
    columns=(
        ("id", "int", "int"),
        ("meta", "string", "json"),
        ("txt", "string", "str"),
    ),
    primary_key=("id",),
)
CTYPES = [ColumnType.LONG, ColumnType.JSON, ColumnType.VARCHAR]
CMETA = [0, 4, 400]
UUID = "24bc7850-2c16-11e6-a073-0242ac110099"


def _doc(i: int) -> dict:
    return {
        "title": f"doc {i}",
        "tags": [f"t{i}", f"t{i + 1}", "common"],
        "meta": {"rev": i, "flags": {"hot": i % 2 == 0}},
        "score": i * 1.5,
    }


def _diffs(i: int) -> list:
    """Per-row diff set exercising every operation and leg kind."""
    return [
        (DIFF_REPLACE, "$.meta.rev", i + 100),
        (DIFF_INSERT, "$.meta.editor", f"user-{i}"),
        (DIFF_REPLACE, "$.tags[1]", "edited"),
        (DIFF_REMOVE, "$.tags[0]", None),
        (DIFF_INSERT, "$.tags[99]", "appended"),
        (DIFF_REMOVE, "$.meta.flags.hot", None),
    ]


N_ROWS = 8


def _streams(checksum=ChecksumType.CRC32) -> tuple[bytes, bytes]:
    """(partial_stream, plain_stream) with identical logical content:
    N inserts, then one type-39 / plain UPDATE per row. Row 0's update
    carries no partial cell (value_options=0 shape); row 1 sets the JSON
    column to SQL NULL; the rest apply diff vectors."""
    out = []
    for partial in (True, False):
        w = BinlogWriter("binlog.000001", checksum=checksum)
        w.write_mysql_gtid(UUID, 1, timestamp=100)
        w.write_query("BEGIN", database="app", timestamp=100)
        w.write_table_map(
            31, "app", "docs", CTYPES, CMETA,
            nullability=[False, True, True],
            column_names=["id", "meta", "txt"], simple_primary_keys=[0],
        )
        w.write_rows(
            31, CTYPES, CMETA,
            [[i, encode_jsonb(_doc(i)), f"text-{i}"] for i in range(N_ROWS)],
        )
        w.write_xid(1, timestamp=101)

        w.write_mysql_gtid(UUID, 2, timestamp=102)
        w.write_query("BEGIN", database="app", timestamp=102)
        w.write_table_map(
            31, "app", "docs", CTYPES, CMETA,
            nullability=[False, True, True],
            column_names=["id", "meta", "txt"], simple_primary_keys=[0],
        )
        pairs = []
        for i in range(N_ROWS):
            before = [i, encode_jsonb(_doc(i)), f"text-{i}"]
            if i == 0:
                # full value in both streams → the value_options=0 row shape
                after_cell = encode_jsonb({"replaced": True})
            elif i == 1:
                after_cell = None  # JSON column set to SQL NULL
            elif partial:
                after_cell = PartialJson(_diffs(i))
            else:
                after_cell = encode_jsonb(apply_json_diffs(_doc(i), _diffs(i)))
            pairs.append((before, [i, after_cell, f"text-{i}-v2"]))
        if partial:
            w.write_partial_update_rows(31, CTYPES, CMETA, pairs)
        else:
            w.write_update_rows(31, CTYPES, CMETA, pairs)
        w.write_xid(2, timestamp=103)
        out.append(w.getvalue())
    return out[0], out[1]


def _events(content: bytes):
    return [(kind, ev) for _h, _p, kind, ev in BinlogFileReader(content, "binlog.000001")]


def _concat(frames) -> pd.DataFrame:
    frames = list(frames)
    return to_pandas(frames)


# ------------------------------------------------------------- scalar reader


class TestScalarReader:
    @pytest.mark.parametrize("checksum", [ChecksumType.CRC32, ChecksumType.NONE])
    def test_partial_stream_decodes_like_plain(self, checksum):
        partial, plain = _streams(checksum)
        assert len(partial) < len(plain)  # diffs beat full documents
        got, want = _events(partial), _events(plain)
        assert [k for k, _ in got] == [k for k, _ in want]
        assert got == want

    def test_type39_on_disk(self):
        partial, _ = _streams()
        types = set()
        pos = FIRST_EVENT_POSITION
        while pos + EVENT_HEADER_SIZE <= len(partial):
            types.add(partial[pos + 4])
            pos += struct.unpack_from("<I", partial, pos + 9)[0]
        assert EventType.MYSQL_PARTIAL_UPDATE_ROWS in types
        assert EventType.MYSQL_UPDATE_ROWS_V2 not in types

    def test_applied_documents(self):
        partial, _ = _streams()
        updates = [ev for kind, ev in _events(partial) if kind == "update_rows"]
        assert len(updates) == 1
        rows = updates[0]["rows"]
        assert len(rows) == N_ROWS
        # row 0: full value written alongside value_options=0
        assert decode_jsonb(rows[0][1][1]) == {"replaced": True}
        # row 1: SQL NULL
        assert rows[1][1][1] is None
        # diffed rows: expansion equals Python-side application
        for i in range(2, N_ROWS):
            assert decode_jsonb(rows[i][1][1]) == apply_json_diffs(_doc(i), _diffs(i))

    def test_minimal_before_image_raises(self):
        w = BinlogWriter("binlog.000001")
        w.write_table_map(
            31, "app", "docs", CTYPES, CMETA, nullability=[False, True, True]
        )
        w.write_partial_update_rows(
            31, CTYPES, CMETA,
            [([0, None, None], [0, PartialJson([(DIFF_REPLACE, "$.x", 1)]), "t"])],
            before_present=[True, False, False],  # PK-only before image
        )
        with pytest.raises(PartialJsonError, match="before-image"):
            _events(w.getvalue())


# ---------------------------------------------------------- vectorized path


class TestVectorizedPath:
    def test_fast_path_parity_with_scalar(self):
        partial, _ = _streams()
        scalar = _concat(_FileDecoder(DOCS).decode_file("binlog.000001", partial))
        fast = decode_segment_fast(partial, "binlog.000001", DOCS)
        assert fast is not None, "vectorized path must not bail on type-39 input"
        fast = _concat(fast)
        assert len(fast) == len(scalar) > 0
        pd.testing.assert_frame_equal(
            fast.reset_index(drop=True),
            scalar.reset_index(drop=True),
            check_dtype=False,
        )

    def test_values_match_plain_stream(self):
        partial, plain = _streams()
        a = _concat(decode_segment_fast(plain, "binlog.000001", DOCS))
        b = _concat(decode_segment_fast(partial, "binlog.000001", DOCS))
        drop = ["pos", "next_pos"]  # each file's own on-disk coordinates
        pd.testing.assert_frame_equal(
            a.drop(columns=drop), b.drop(columns=drop), check_dtype=True
        )
        # the decoded JSON text matches a direct application of the diffs
        metas = b.sort_values(["gtid_seq", "row_in_event"])["after_meta"].tolist()
        applied = jsonb_to_text(encode_jsonb(apply_json_diffs(_doc(2), _diffs(2))))
        assert applied in metas

    def test_positions_are_on_disk_offsets(self):
        partial, _ = _streams()
        fast = _concat(decode_segment_fast(partial, "binlog.000001", DOCS))
        offsets = set()
        pos = FIRST_EVENT_POSITION
        while pos + EVENT_HEADER_SIZE <= len(partial):
            offsets.add(pos)
            pos += struct.unpack_from("<I", partial, pos + 9)[0]
        assert set(fast["pos"].tolist()) <= offsets
        assert (fast["next_pos"] > fast["pos"]).all()

    def test_inside_transaction_payload(self):
        # binlog_transaction_compression=ON + PARTIAL_JSON at once: type-39
        # frames ride inside the zstd payload and must still expand
        from mysql_cdc_spark.binlog.compressed import wrap_transaction_payload_segment

        partial, plain = _streams()
        try:
            wrapped = wrap_transaction_payload_segment(partial, compression="zstd")
        except Exception:
            wrapped = wrap_transaction_payload_segment(partial, compression="none")
        a = _concat(decode_segment_fast(plain, "binlog.000001", DOCS))
        b = _concat(decode_segment_fast(wrapped, "binlog.000001", DOCS))
        drop = ["pos", "next_pos"]
        pd.testing.assert_frame_equal(
            a.drop(columns=drop), b.drop(columns=drop), check_dtype=True
        )


# ------------------------------------------------------------ body expansion


class TestExpandBody:
    def test_expanded_body_equals_plain_twin(self):
        """expand_partial_body output must byte-equal the body the writer
        produces for the same logical update — the strongest parity form."""
        partial, plain = _streams(ChecksumType.NONE)

        def rows_bodies(content, etype_want):
            out, pos = [], FIRST_EVENT_POSITION
            tm = {}
            while pos + EVENT_HEADER_SIZE <= len(content):
                ln = struct.unpack_from("<I", content, pos + 9)[0]
                et = content[pos + 4]
                body = content[pos + EVENT_HEADER_SIZE : pos + ln]
                if et == EventType.TABLE_MAP:
                    from mysql_cdc_spark.binlog.reader import parse_table_map

                    t = parse_table_map(body)
                    tm[t["table_id"]] = t
                if et == etype_want:
                    out.append((body, dict(tm)))
                pos += ln
            return out

        got = rows_bodies(partial, EventType.MYSQL_PARTIAL_UPDATE_ROWS)
        want = rows_bodies(plain, EventType.MYSQL_UPDATE_ROWS_V2)
        assert len(got) == len(want) == 1
        expanded = expand_partial_body(got[0][0], got[0][1])
        assert expanded == want[0][0]


# ------------------------------------------------------- PARTIAL_JSON × XA


def _xa_partial_streams() -> tuple[bytes, bytes]:
    """(partial, plain) twins where the JSON update rides inside an XA
    transaction whose verdict is NOT in this segment: insert txn, then
    XA START → type-39 (or plain) update → XA END → XA PREPARE."""
    gtrid = b"txa1"
    x = f"X'{gtrid.hex()}'"
    out = []
    for partial in (True, False):
        w = BinlogWriter("binlog.000001")
        w.write_mysql_gtid(UUID, 1, timestamp=100)
        w.write_query("BEGIN", database="app", timestamp=100)
        w.write_table_map(
            31, "app", "docs", CTYPES, CMETA,
            nullability=[False, True, True],
            column_names=["id", "meta", "txt"], simple_primary_keys=[0],
        )
        w.write_rows(
            31, CTYPES, CMETA,
            [[i, encode_jsonb(_doc(i)), f"text-{i}"] for i in range(2)],
        )
        w.write_xid(1, timestamp=101)

        w.write_mysql_gtid(UUID, 2, timestamp=102)
        w.write_query(f"XA START {x}", database="app", timestamp=102)
        w.write_table_map(
            31, "app", "docs", CTYPES, CMETA,
            nullability=[False, True, True],
            column_names=["id", "meta", "txt"], simple_primary_keys=[0],
        )
        before = [1, encode_jsonb(_doc(1)), "text-1"]
        after_cell = (
            PartialJson(_diffs(1)) if partial
            else encode_jsonb(apply_json_diffs(_doc(1), _diffs(1)))
        )
        pairs = [(before, [1, after_cell, "text-1-xa"])]
        if partial:
            w.write_partial_update_rows(31, CTYPES, CMETA, pairs)
        else:
            w.write_update_rows(31, CTYPES, CMETA, pairs)
        w.write_query(f"XA END {x}", database="app", timestamp=102)
        w.write_xa_prepare(gtrid, timestamp=102)
        out.append(w.getvalue())
    return out[0], out[1]


class TestPartialInsideXa:
    """Type-39 diff vectors inside a two-phase XA transaction: the diff
    must expand correctly AND obey the XA hold-back / verdict policy —
    the two features compose, not just coexist."""

    def _key(self):
        from mysql_cdc_spark.binlog.xa import xid_key

        return xid_key(1, b"txa1", b"")

    def test_scan_sees_pending_prepare(self):
        from mysql_cdc_spark.binlog.xa import merge_xa_scans, scan_xa

        partial, _ = _xa_partial_streams()
        merged = merge_xa_scans([scan_xa(partial, "binlog.000001")])
        assert set(merged["pending"]) == {self._key()}
        assert merged["floor"] is not None

    def test_pending_holds_back_then_commit_applies(self):
        partial, plain = _xa_partial_streams()
        pending = _concat(decode_segment_fast(partial, "binlog.000001", DOCS))
        xa_rows = pending[pending["gtid_seq"] == 2]
        assert len(xa_rows) == 1 and pd.isna(xa_rows["xid"]).all()

        outcomes = {self._key(): True}
        a = _concat(decode_segment_fast(
            plain, "binlog.000001", DOCS, xa_outcomes=outcomes))
        b = _concat(decode_segment_fast(
            partial, "binlog.000001", DOCS, xa_outcomes=outcomes))
        drop = ["pos", "next_pos"]
        pd.testing.assert_frame_equal(
            a.drop(columns=drop), b.drop(columns=drop), check_dtype=True
        )
        row = b[b["gtid_seq"] == 2].iloc[0]
        assert row["xid"] == -1  # committed-without-XID marker
        assert row["after_meta"] == jsonb_to_text(
            encode_jsonb(apply_json_diffs(_doc(1), _diffs(1)))
        )

    def test_rollback_drops_diffed_rows(self):
        partial, _ = _xa_partial_streams()
        got = _concat(decode_segment_fast(
            partial, "binlog.000001", DOCS,
            xa_outcomes={self._key(): False},
        ))
        assert (got["gtid_seq"] == 2).sum() == 0
        assert (got["gtid_seq"] == 1).sum() == 2  # plain txn untouched

    def test_scalar_path_agrees(self):
        partial, _ = _xa_partial_streams()
        outcomes = {self._key(): True}
        fast = _concat(decode_segment_fast(
            partial, "binlog.000001", DOCS, xa_outcomes=outcomes))
        slow = _concat(
            _FileDecoder(DOCS, xa_outcomes=outcomes)
            .decode_file("binlog.000001", partial)
        )
        cols = ["gtid_seq", "row_in_event", "xid", "after_id",
                "after_meta", "after_txt"]
        pd.testing.assert_frame_equal(
            fast[cols].reset_index(drop=True),
            slow[cols].reset_index(drop=True),
            check_dtype=False,
        )
