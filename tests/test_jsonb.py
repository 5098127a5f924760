"""MySQL JSON binary (jsonb) decode/encode.

The reference returns JSON columns as the raw blob
(row_parser.rs:174-175); `binlog/jsonb.py` is the beyond-reference
decode of that blob into JSON text. Golden byte vectors below are
hand-derived from the public format layout (MySQL sql/json_binary.h
header comment); the encoder is pinned to produce those exact canonical
bytes, and encode→decode round-trips are fuzzed.
"""

from __future__ import annotations

import os
from decimal import Decimal

import pytest
from hypothesis import given, settings, strategies as st

from mysql_cdc_spark.binlog import jsonb as J
from mysql_cdc_spark.binlog.constants import ColumnType, EventType
from mysql_cdc_spark.binlog.decoder import TableSpec, _FileDecoder
from mysql_cdc_spark.binlog.encoder import BinlogWriter
from mysql_cdc_spark.binlog.vector import decode_segment_fast
from mysql_cdc_spark.pipeline.replay import Replayer
from decoded import to_pandas


# ------------------------------------------------------- golden vectors

GOLDEN = [
    # scalar string: type 0x0c, varlen 2, bytes
    ("hi", b"\x0c\x02hi"),
    # literals
    (None, b"\x04\x00"),
    (True, b"\x04\x01"),
    (False, b"\x04\x02"),
    # int16 / int32 / int64 boundaries
    (2, b"\x05\x02\x00"),
    (-1, b"\x05\xff\xff"),
    (40000, b"\x07\x40\x9c\x00\x00"),
    (2**40, b"\x09\x00\x00\x00\x00\x00\x01\x00\x00"),
    # double 1.5
    (1.5, b"\x0b\x00\x00\x00\x00\x00\x00\xf8\x3f"),
    # empty containers: count, size(=4) headers only
    ({}, b"\x00\x00\x00\x04\x00"),
    ([], b"\x02\x00\x00\x04\x00"),
    # {"a": 2}: count=1 size=12, key-entry (off=11,len=1),
    # value-entry (int16 inlined), key bytes
    ({"a": 2}, b"\x00\x01\x00\x0c\x00\x0b\x00\x01\x00\x05\x02\x00a"),
    # [1, "x", null]: count=3 size=15; inline int16, offset string, inline null
    ([1, "x", None], b"\x02\x03\x00\x0f\x00\x05\x01\x00\x0c\x0d\x00\x04\x00\x00\x01x"),
]


@pytest.mark.parametrize("value,blob", GOLDEN)
def test_golden_decode(value, blob):
    assert J.decode_jsonb(blob) == value


@pytest.mark.parametrize("value,blob", GOLDEN)
def test_golden_encode_canonical(value, blob):
    assert J.encode_jsonb(value) == blob


def test_empty_blob_is_sql_null():
    assert J.decode_jsonb(b"") is None
    assert J.jsonb_to_text(b"") is None


def test_key_order_is_length_then_bytes():
    # MySQL stores object keys sorted by (byte length, bytes)
    blob = J.encode_jsonb({"bb": 1, "a": 2, "ab": 3})
    decoded = J.decode_jsonb(blob)
    assert list(decoded.keys()) == ["a", "ab", "bb"]
    assert decoded == {"a": 2, "ab": 3, "bb": 1}


def test_nested_containers():
    v = {"u": {"id": 7, "tags": ["x", "y"]}, "ok": True, "r": [1, [2, [3]]]}
    assert J.decode_jsonb(J.encode_jsonb(v)) == v


def test_large_format_array():
    # force size > 0xFFFF → 4-byte (large) format
    v = ["s" * 10 + str(i) for i in range(8000)]
    blob = J.encode_jsonb(v)
    assert blob[0] == J.LARGE_ARRAY
    assert J.decode_jsonb(blob) == v


def test_large_format_object():
    v = {f"key{i:05d}": i for i in range(6000)}
    blob = J.encode_jsonb(v)
    assert blob[0] == J.LARGE_OBJECT
    # int32-range values are inlined in large format value entries
    assert J.decode_jsonb(blob) == v


def test_large_format_inlines_int32():
    # 17000 entries: small-format size would be 4 + 17000*(3+4) > 0xFFFF
    v = [70000] * 17000  # int32 values, large container
    blob = J.encode_jsonb(v)
    assert blob[0] == J.LARGE_ARRAY
    assert J.decode_jsonb(blob) == v


def test_opaque_decimal_roundtrip():
    for text in ["123.4500", "-0.0100", "0", "99999999999999999999.99"]:
        d = Decimal(text)
        got = J.decode_jsonb(J.encode_jsonb(d))
        assert got == d
        assert isinstance(got, Decimal)


def test_decimal_renders_unquoted():
    t = J.jsonb_to_text(J.encode_jsonb({"amt": Decimal("12.50")}))
    assert t == '{"amt": 12.50}'


def test_opaque_datetime():
    # packed my_time longlong: ((ymd << 17 | hms) << 24) + usec,
    # ymd = (y*13+m)<<5 | d, hms = h<<12 | m<<6 | s  (independent re-derivation)
    y, mo, d, h, mi, s, usec = 2024, 3, 5, 6, 7, 8, 250
    packed = (((((y * 13 + mo) << 5) | d) << 17 | (h << 12 | mi << 6 | s)) << 24) + usec
    payload = packed.to_bytes(8, "little", signed=True)
    blob = bytes([J.OPAQUE, 12]) + bytes([8]) + payload
    assert J.decode_jsonb(blob) == "2024-03-05 06:07:08.000250"
    # date-only opaque ignores the hms/usec fields
    blob_date = bytes([J.OPAQUE, 10]) + bytes([8]) + (
        ((((y * 13 + mo) << 5) | d) << 17) << 24
    ).to_bytes(8, "little", signed=True)
    assert J.decode_jsonb(blob_date) == "2024-03-05"


def test_opaque_time():
    # my_time.h packs TIME as bitfields h<<12|m<<6|s (same as datetime),
    # not total seconds
    packed = (((2 << 12) | (3 << 6) | 4) << 24) + 500000
    blob = bytes([J.OPAQUE, 11]) + bytes([8]) + packed.to_bytes(8, "little", signed=True)
    assert J.decode_jsonb(blob) == "02:03:04.500000"
    neg = bytes([J.OPAQUE, 11]) + bytes([8]) + (-packed).to_bytes(8, "little", signed=True)
    assert J.decode_jsonb(neg) == "-02:03:04.500000"


def test_encode_int_out_of_64bit_range_raises():
    # below -(1<<63) must raise JsonbError, not fall into the UINT64
    # branch and leak a raw struct.error
    for v in [-(1 << 63) - 1, -(1 << 80), 1 << 64, 1 << 80]:
        with pytest.raises(J.JsonbError, match="64-bit"):
            J.encode_jsonb(v)
    # boundaries still encode
    assert J.decode_jsonb(J.encode_jsonb(-(1 << 63))) == -(1 << 63)
    assert J.decode_jsonb(J.encode_jsonb((1 << 64) - 1)) == (1 << 64) - 1


def test_unsupported_opaque_raises():
    blob = bytes([J.OPAQUE, 255, 1, 0])
    with pytest.raises(J.JsonbError, match="opaque"):
        J.decode_jsonb(blob)


def test_varlen_string_boundaries():
    for n in [0, 127, 128, 300, 16384]:
        s = "x" * n
        assert J.decode_jsonb(J.encode_jsonb(s)) == s


def test_to_text_escaping():
    v = {"s": 'a"b\\c\n\t\x01'}
    t = J.jsonb_to_text(J.encode_jsonb(v))
    assert t == '{"s": "a\\"b\\\\c\\n\\t\\u0001"}'


# --------------------------------------------------------- fuzz roundtrip

_json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**63), max_value=2**64 - 1),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=40),
)
_json_values = st.recursive(
    _json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=8),
        st.dictionaries(st.text(max_size=12), children, max_size=8),
    ),
    max_leaves=25,
)


@settings(max_examples=80, deadline=None)
@given(_json_values)
def test_roundtrip_property(v):
    assert J.decode_jsonb(J.encode_jsonb(v)) == v


_SQL_NULL = object()  # sentinel: empty blob (SQL NULL), not JSON null


def _batch_parity(values):
    """Lay encoded blobs into one contiguous buffer (the segment shape)
    and check the vectorized batch kernel against the recursive decoder
    value-for-value."""
    import numpy as np

    from mysql_cdc_spark.binlog.vector import _jsonb_texts_from_slices

    blobs = [b"" if v is _SQL_NULL else J.encode_jsonb(v) for v in values]
    pad = b"\xaa\xbb"  # interleave garbage so wrong offsets fail loudly
    buf = bytearray()
    starts, lens = [], []
    for b in blobs:
        buf += pad
        starts.append(len(buf))
        lens.append(len(b))
        buf += b
    data = np.frombuffer(bytes(buf), dtype=np.uint8)
    nulls = np.zeros(len(blobs), dtype=bool)
    got = _jsonb_texts_from_slices(
        data, np.array(starts, dtype=np.int64), np.array(lens, dtype=np.int64), nulls
    )
    want = [None if not b else J.jsonb_to_text(b) for b in blobs]
    assert list(got) == want


def test_batch_text_kernel_known_values():
    from decimal import Decimal as D

    _batch_parity([
        _SQL_NULL, None, True, False,
        0, -1, 42, -(1 << 15), (1 << 15) - 1, (1 << 15), -(1 << 31),
        (1 << 31), (1 << 63) - 1, -(1 << 63), (1 << 64) - 1,
        0.1, -2.5e300, 1e16, 2.0, -0.0, 5e-324,
        "plain", 'needs "escape"\n\t', "",
        {"a": 1, "b": [1, 2, 3]}, [1, "x", None], {}, [],
        D("12.50"),
    ])


@settings(max_examples=60, deadline=None)
@given(st.lists(_json_values, max_size=12))
def test_batch_text_kernel_fuzz_parity(vals):
    _batch_parity(vals)


# ------------------------------------------------- e2e through the engine

DOCS = TableSpec(
    database="app",
    table="docs",
    columns=(
        ("doc_id", "string", "str"),
        ("body", "string", "json"),
        ("ts", "timestamp", "ts_millis"),
    ),
    primary_key=("doc_id",),
)
CTYPES = [ColumnType.VARCHAR, ColumnType.JSON, ColumnType.TIMESTAMP2]
CMETA = [64, 4, 3]
COLS = ["doc_id", "body", "ts"]
UUID = "24bc7850-2c16-11e6-a073-0242ac110009"


def _write_json_stream(outdir: str) -> dict:
    os.makedirs(outdir, exist_ok=True)
    state: dict = {}
    seq = 0

    def txn(writer, ops):
        nonlocal seq
        seq += 1
        writer.write_mysql_gtid(UUID, seq)
        writer.write_query("BEGIN", database="app")
        writer.write_table_map(
            300, "app", "docs", CTYPES, CMETA,
            nullability=[False, True, False],
            column_names=COLS, simple_primary_keys=[0],
        )
        for kind, before, after in ops:
            if kind == "insert":
                writer.write_rows(300, CTYPES, CMETA, [after])
                state[after[0]] = after
            elif kind == "update":
                writer.write_update_rows(300, CTYPES, CMETA, [(before, after)])
                state[after[0]] = after
            else:
                writer.write_rows(
                    300, CTYPES, CMETA, [before],
                    event_type=EventType.MYSQL_DELETE_ROWS_V2,
                )
                state.pop(before[0], None)
        writer.write_xid(seq)

    payloads = [
        {"a": 2, "tags": ["x", "y"], "nested": {"ok": True, "n": None}},
        [1, 2.5, "three", False],
        "bare string",
        {"amt": Decimal("12.3400"), "big": 2**40},
        {},
        None,  # JSON null literal
    ]
    w = BinlogWriter("docs.000001")
    for i, p in enumerate(payloads):
        row = [f"d-{i}", J.encode_jsonb(p), 1700000000000 + i]
        txn(w, [("insert", None, row)])
    w.save(os.path.join(outdir, "docs.000001"))

    w2 = BinlogWriter("docs.000002")
    # update d-1 to a new payload, delete d-2
    old = state["d-1"]
    new = ["d-1", J.encode_jsonb({"replaced": [True, {"deep": "yes"}]}), 1700000099000]
    txn(w2, [("update", old, new)])
    txn(w2, [("delete", state["d-2"], None)])
    w2.save(os.path.join(outdir, "docs.000002"))
    return state


def test_json_column_replay(spark, tmp_path):
    outdir = str(tmp_path / "binlog")
    state = _write_json_stream(outdir)
    rep = Replayer(spark, outdir, str(tmp_path / "store"), spec=DOCS)
    res = rep.replay(files_per_batch=1)
    assert res.events > 0
    got = {r["doc_id"]: r["body"] for r in rep.read_state().collect()}
    assert set(got) == set(state)
    expected_text = {
        k: J.jsonb_to_text(v[1]) for k, v in state.items()
    }
    assert got == expected_text
    # spot-check the decoded JSON text itself
    assert got["d-0"] == '{"a": 2, "tags": ["x", "y"], "nested": {"n": null, "ok": true}}'
    assert got["d-1"] == '{"replaced": [true, {"deep": "yes"}]}'
    assert got["d-3"] == '{"amt": 12.3400, "big": 1099511627776}'


def test_json_scalar_vector_parity(tmp_path):
    outdir = str(tmp_path / "binlog")
    _write_json_stream(outdir)
    for name in sorted(os.listdir(outdir)):
        with open(os.path.join(outdir, name), "rb") as f:
            content = f.read()
        d = _FileDecoder(DOCS)
        sc_frames = list(d.decode_file(name, content))
        sc = to_pandas(sc_frames)
        fast_frames = decode_segment_fast(content, name, DOCS)
        assert fast_frames is not None, "json kind fell back to scalar decode"
        fa = to_pandas(fast_frames)
        assert len(sc) == len(fa)
        for col in ("before_doc_id", "after_doc_id", "before_body", "after_body", "op"):
            assert sc[col].tolist() == fa[col].tolist(), f"{col} differs"


def test_nested_documents_decode_without_fallback(monkeypatch):
    """Round-5 kernel extension: arrays of scalars and up to
    _FLAT_MAX_DEPTH container levels below the root decode through the
    BATCH lanes — the recursive per-value fallback must not fire for
    these shapes (it is monkeypatched to explode)."""
    import numpy as np

    import mysql_cdc_spark.binlog.jsonb as jsonb_mod
    from mysql_cdc_spark.binlog.vector import _jsonb_texts_from_slices

    values = [
        [1, 2, 3],
        ["x", "y"],
        [True, None, -7, 2.5, "s"],
        [],
        {"a": [1, 2], "b": 3},
        {"m": {"k": 1, "l": "v"}, "n": "top"},
        [{"a": 1}, [2, 3], 4],
        {"empty": [], "eo": {}},
        # two container levels below the root (the bench's nested shape)
        {"meta": {"k": 5, "tags": ["a", "b"]}, "vals": [1, 2, {"deep": 1.5}]},
    ]
    blobs = [jsonb_mod.encode_jsonb(v) for v in values]
    want = [jsonb_mod.jsonb_to_text(b) for b in blobs]
    buf = bytearray()
    starts, lens = [], []
    for b in blobs:
        buf += b"\xaa"
        starts.append(len(buf))
        lens.append(len(b))
        buf += b
    data = np.frombuffer(bytes(buf), dtype=np.uint8)

    def _boom(_blob):
        raise AssertionError("recursive fallback fired for a flat shape")

    monkeypatch.setattr(jsonb_mod, "jsonb_to_text", _boom)
    got = _jsonb_texts_from_slices(
        data,
        np.array(starts, dtype=np.int64),
        np.array(lens, dtype=np.int64),
        np.zeros(len(blobs), dtype=bool),
    )
    assert list(got) == want


def test_beyond_max_depth_defers_to_fallback():
    """Depth guard: container levels past _FLAT_MAX_DEPTH take the
    recursive path (and stay correct)."""
    _batch_parity([
        {"a": {"b": {"c": {"d": 1}}}},
        [[[[1], 2], 3], 4],
        {"x": [{"y": [1]}]},
    ])
