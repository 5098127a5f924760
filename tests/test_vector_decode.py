"""Vectorized decode parity: `decode_segment_fast` must reproduce the
scalar `_FileDecoder` output frame-for-frame (same rows, same values, same
nulls) across every fixture variant — the scalar decoder is the semantics
reference (row_parser.rs and binlog_client.rs ports), the vectorized path
is the scale path."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from mysql_cdc_spark.binlog.constants import ColumnType, EventType
from mysql_cdc_spark.binlog.decoder import (
    TRANSCRIPTS,
    TableSpec,
    _FileDecoder,
    change_event_schema,
    decode_binlog_dir,
)
from mysql_cdc_spark.binlog.encoder import BinlogWriter
from mysql_cdc_spark.binlog.vector import decode_segment_fast
from mysql_cdc_spark.fixtures import generate_changelog, write_binlog_files
from decoded import to_pandas


def _scalar(content: bytes, name: str) -> pd.DataFrame:
    d = _FileDecoder(TRANSCRIPTS)
    frames = list(d.decode_file(name, content))
    return to_pandas(frames)


def _fast(content: bytes, name: str):
    frames = decode_segment_fast(content, name, TRANSCRIPTS)
    if frames is None:
        return None
    return to_pandas(frames)


def _canon(df: pd.DataFrame) -> dict:
    out = {}
    for c in df.columns:
        s = df[c]
        if str(s.dtype).startswith("datetime"):
            out[c] = [
                None if pd.isna(v) else v
                for v in pd.to_datetime(s).astype("datetime64[ns]").tolist()
            ]
        elif str(s.dtype) == "Int64":
            out[c] = [None if pd.isna(v) else int(v) for v in s]
        else:
            import datetime as _dt

            def _norm(v):
                if v is None or (isinstance(v, float) and np.isnan(v)) or v is pd.NaT:
                    return None
                if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
                    return pd.Timestamp(v)  # date32 vs datetime.date parity
                return v

            out[c] = [_norm(v) for v in s.tolist()]
    return out


def _assert_parity(content: bytes, name: str, spec=TRANSCRIPTS, **opts):
    """Both decoders emit RecordBatches of exactly the declared schema,
    ``to_arrow_schema(change_event_schema(spec, ...))``, holding the same
    rows (``to_pylist``)."""
    scalar = list(_FileDecoder(spec, **opts).decode_file(name, content))
    fast = decode_segment_fast(content, name, spec, **opts)
    assert fast is not None, "unexpected fallback"
    schema = to_arrow_schema(change_event_schema(
        spec, opts.get("attach_origin_query", False),
        opts.get("attach_partition_id", False),
    ))
    for batch in scalar + fast:
        assert batch.schema == schema
    rows = [pa.Table.from_batches(b, schema).to_pylist() for b in (scalar, fast)]
    assert rows[0] == rows[1]


@pytest.fixture(scope="module")
def standard_files(tmp_path_factory):
    txns = generate_changelog(
        n_conversations=20, max_turns=5, n_extra_ops=60, seed=3,
        duplicate_txns=4, evolve_after_frac=0.5,
    )
    outdir = str(tmp_path_factory.mktemp("binlog"))
    return write_binlog_files(txns, outdir, txns_per_file=25)


def test_parity_standard_stream(standard_files):
    opt_in = {"attach_origin_query": True, "attach_partition_id": True}
    for p in standard_files:
        with open(p, "rb") as f:
            content = f.read()
        for opts in ({}, opt_in):
            _assert_parity(content, os.path.basename(p), **opts)


def test_parity_mariadb_and_no_begin(tmp_path):
    txns = generate_changelog(n_conversations=10, max_turns=4, n_extra_ops=25, seed=31)
    pa = write_binlog_files(txns, str(tmp_path / "ma"), txns_per_file=20, provider="mariadb")
    pb = write_binlog_files(txns, str(tmp_path / "nb"), txns_per_file=20, write_begin_query=False)
    for p in pa + pb:
        with open(p, "rb") as f:
            _assert_parity(f.read(), os.path.basename(p))


def test_parity_truncated_tail(standard_files):
    with open(standard_files[0], "rb") as f:
        content = f.read()
    for cut in (len(content) - 5, len(content) - 60, len(content) // 2, 30):
        _assert_parity(content[:cut], "trunc")


def test_parity_rollback_and_ddl(tmp_path):
    """ROLLBACK discards the group; autocommit DDL closes it without
    emitting rows (binlog_client.rs:88-95)."""
    cols = ["conv_id", "turn_idx", "role", "text", "ts"]
    from mysql_cdc_spark.fixtures import COLUMN_TYPES

    ctypes = [COLUMN_TYPES[c][0] for c in cols]
    cmeta = [COLUMN_TYPES[c][1] for c in cols]
    w = BinlogWriter("b.000001")
    uuid = "24bc7850-2c16-11e6-a073-0242ac110001"

    def tmap():
        w.write_table_map(100, "chat", "transcripts", ctypes, cmeta,
                          [False] * 5, column_names=cols)

    row = ["c-1", 0, "user", "hello", 1700000000000]
    # committed txn
    w.write_mysql_gtid(uuid, 1); w.write_query("BEGIN"); tmap()
    w.write_rows(100, ctypes, cmeta, [row]); w.write_xid(1)
    # rolled-back txn — rows must not appear
    w.write_mysql_gtid(uuid, 2); w.write_query("BEGIN"); tmap()
    w.write_rows(100, ctypes, cmeta, [["c-2", 0, "user", "dropped", 1]])
    w.write_query("ROLLBACK")
    # DDL closes without commit of rows
    w.write_mysql_gtid(uuid, 3); tmap()
    w.write_rows(100, ctypes, cmeta, [["c-3", 0, "user", "ddl-dropped", 1]])
    w.write_query("ALTER TABLE transcripts ADD COLUMN tool varchar(64)")
    # COMMIT query (no XID) commits with xid = -1
    w.write_mysql_gtid(uuid, 4); w.write_query("BEGIN"); tmap()
    w.write_rows(100, ctypes, cmeta, [["c-4", 0, "user", "query-commit", 2]])
    w.write_query("COMMIT")
    # uncommitted tail → xid NULL
    w.write_mysql_gtid(uuid, 5); w.write_query("BEGIN"); tmap()
    w.write_rows(100, ctypes, cmeta, [["c-5", 0, "user", "tail", 3]])

    content = w.getvalue()
    _assert_parity(content, "b.000001")
    fast = _fast(content, "b.000001")
    texts = set(fast["after_text"])
    assert "hello" in texts and "query-commit" in texts and "tail" in texts
    assert "dropped" not in texts and "ddl-dropped" not in texts
    tail_row = fast[fast["after_text"] == "tail"].iloc[0]
    assert pd.isna(tail_row["xid"])
    qc = fast[fast["after_text"] == "query-commit"].iloc[0]
    assert qc["xid"] == -1


def test_fallback_on_unsupported_type(tmp_path):
    """A target-table map with a NEWDECIMAL column is outside the fast
    path → decode_segment_fast returns None (caller uses the scalar)."""
    ctypes = [ColumnType.VARCHAR, ColumnType.NEWDECIMAL]
    cmeta = [64, 10 | (2 << 8)]
    w = BinlogWriter("b.000001")
    w.write_mysql_gtid("24bc7850-2c16-11e6-a073-0242ac110001", 1)
    w.write_table_map(100, "chat", "transcripts", ctypes, cmeta, [False, False],
                      column_names=["conv_id", "turn_idx"])
    w.write_rows(100, ctypes, cmeta, [["a", "12345.67"]])
    w.write_xid(1)
    assert decode_segment_fast(w.getvalue(), "b.000001", TRANSCRIPTS) is None


def test_fast_path_used_for_fixture_stream(standard_files):
    with open(standard_files[0], "rb") as f:
        assert decode_segment_fast(f.read(), "x", TRANSCRIPTS) is not None


class TestWidenedTypes:
    """Fast-path coverage for CHAR (STRING disambiguation), YEAR, DATE,
    and BLOB columns — parity against the scalar decoder under a custom
    TableSpec using the date/binary kinds."""

    SPEC = None  # built lazily (TableSpec import at module top)

    @classmethod
    def _spec(cls):
        from mysql_cdc_spark.binlog.decoder import TableSpec

        if cls.SPEC is None:
            cls.SPEC = TableSpec(
                database="db", table="t",
                columns=(
                    ("name", "string", "str"),      # CHAR via STRING
                    ("yr", "int", "int"),           # YEAR
                    ("day", "date", "date"),        # DATE
                    ("payload", "binary", "binary"),  # BLOB
                    ("note", "string", "str"),      # VARCHAR ≥256 meta
                ),
                primary_key=("name",),
            )
        return cls.SPEC

    def _build(self, rows):
        ctypes = [ColumnType.STRING, ColumnType.YEAR, ColumnType.DATE,
                  ColumnType.BLOB, ColumnType.VARCHAR]
        # CHAR(32): packed big-endian (type<<8 | len) metadata
        cmeta = [(ColumnType.STRING << 8) | 32, 0, 0, 2, 300]
        w = BinlogWriter("b.000001")
        w.write_mysql_gtid("24bc7850-2c16-11e6-a073-0242ac110001", 1)
        w.write_table_map(
            7, "db", "t", ctypes, cmeta, [False, True, True, True, True],
            column_names=["name", "yr", "day", "payload", "note"],
        )
        w.write_rows(7, ctypes, cmeta, rows)
        w.write_xid(1)
        return w.getvalue()

    def test_parity_and_values(self):
        import datetime

        spec = self._spec()
        rows = [
            ["alpha", 2024, (2024, 2, 29), b"\x01\x02\x03", "x" * 300],
            ["beta", 1901, (1970, 1, 1), b"", "short"],
            ["gamma", None, None, None, None],
            ["delta", 2000, (1999, 12, 31), bytes(range(200)), "mid"],
        ]
        content = self._build(rows)
        from mysql_cdc_spark.binlog.decoder import _FileDecoder

        scalar_frames = list(_FileDecoder(spec).decode_file("b.000001", content))
        fast_frames = decode_segment_fast(content, "b.000001", spec)
        assert fast_frames is not None, "fast path should handle these types"
        a = to_pandas(scalar_frames)
        b = to_pandas(fast_frames)
        assert len(a) == len(b) == 4
        ca, cb = _canon(a), _canon(b)
        for col in ca:
            assert ca[col] == cb[col], f"column {col} differs"
        got = b.sort_values("after_name").reset_index(drop=True)
        assert pd.Timestamp(got["after_day"][0]).date() == datetime.date(2024, 2, 29)
        assert got["after_payload"][2] == bytes(range(200))
        assert got["after_yr"][1] == 1901
        assert got["after_note"][0] == "x" * 300
        assert got["after_day"][3] is None or pd.isna(got["after_day"][3])


class TestPropertyParity:
    """Hypothesis fuzz: random transaction streams over a random-ish
    supported-type table must decode identically on both paths."""

    def test_random_streams(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        ctypes = [ColumnType.VARCHAR, ColumnType.LONG, ColumnType.VARCHAR,
                  ColumnType.TIMESTAMP2]
        cmeta = [40, 0, 500, 3]
        cols = ["conv_id", "turn_idx", "text", "ts"]
        from mysql_cdc_spark.binlog.decoder import TableSpec

        spec = TableSpec(
            database="chat", table="transcripts",
            columns=(("conv_id", "string", "str"), ("turn_idx", "int", "int"),
                     ("text", "string", "str"), ("ts", "timestamp", "ts_millis")),
            primary_key=("conv_id", "turn_idx"),
        )

        row_st = st.tuples(
            st.text(alphabet="abcdef-", min_size=0, max_size=12),
            st.integers(min_value=0, max_value=2**31 - 1),
            st.one_of(st.none(), st.text(alphabet="xyz €\n", min_size=0, max_size=40)),
            st.integers(min_value=0, max_value=2**32 * 1000 - 1),
        )
        txn_st = st.tuples(
            st.sampled_from(["insert", "update", "delete"]),
            st.lists(row_st, min_size=1, max_size=4),
            st.sampled_from(["xid", "commit", "rollback", "ddl", "none"]),
        )

        @settings(max_examples=30, deadline=None)
        @given(st.lists(txn_st, min_size=1, max_size=8), st.booleans())
        def run(txns, mariadb):
            w = BinlogWriter("b.000001")
            for seq, (kind, rows, ending) in enumerate(txns, start=1):
                if mariadb:
                    w.write_mariadb_gtid(0, seq)
                else:
                    w.write_mysql_gtid("24bc7850-2c16-11e6-a073-0242ac110001", seq)
                w.write_query("BEGIN")
                w.write_table_map(9, "chat", "transcripts", ctypes, cmeta,
                                  [False, False, True, False], column_names=cols)
                rws = [list(r) for r in rows]
                if kind == "insert":
                    w.write_rows(9, ctypes, cmeta, rws)
                elif kind == "delete":
                    w.write_rows(9, ctypes, cmeta, rws,
                                 event_type=EventType.MYSQL_DELETE_ROWS_V2)
                else:
                    w.write_update_rows(9, ctypes, cmeta,
                                        [(r, r[:2] + [None, r[3]]) for r in rws])
                if ending == "xid":
                    w.write_xid(seq)
                elif ending == "commit":
                    w.write_query("COMMIT")
                elif ending == "rollback":
                    w.write_query("ROLLBACK")
                elif ending == "ddl":
                    w.write_query("ALTER TABLE t ADD COLUMN x int")
                # "none": open group runs into the next GTID (dropped) or
                # EOF (uncommitted tail)
            content = w.getvalue()
            d = _FileDecoder(spec)
            sf = list(d.decode_file("b.000001", content))
            a = to_pandas(sf)
            ff = decode_segment_fast(content, "b.000001", spec)
            assert ff is not None
            b = to_pandas(ff)
            assert len(a) == len(b)
            if len(a):
                ca, cb = _canon(a), _canon(b)
                for col in ca:
                    assert ca[col] == cb[col], f"column {col}"

        run()


class TestDecimalFastPath:
    """NEWDECIMAL (p ≤ 18) decodes on the fast path: fixed byte layout per
    (p, s), one's-complement negatives, int64 unscaled → Arrow decimal128."""

    def _roundtrip(self, p, s, values):
        from decimal import Decimal

        from mysql_cdc_spark.binlog.decoder import TableSpec

        spec = TableSpec(
            database="db", table="t",
            columns=(("k", "string", "str"), ("amt", f"decimal({p},{s})", "decimal")),
            primary_key=("k",),
        )
        ctypes = [ColumnType.VARCHAR, ColumnType.NEWDECIMAL]
        cmeta = [16, p | (s << 8)]
        w = BinlogWriter("b.000001")
        w.write_mysql_gtid("24bc7850-2c16-11e6-a073-0242ac110001", 1)
        w.write_table_map(3, "db", "t", ctypes, cmeta, [False, True],
                          column_names=["k", "amt"])
        rows = [[f"r{i}", v] for i, v in enumerate(values)]
        w.write_rows(3, ctypes, cmeta, rows)
        w.write_xid(1)
        content = w.getvalue()

        from mysql_cdc_spark.binlog.decoder import _FileDecoder

        a = to_pandas(_FileDecoder(spec).decode_file("b", content))
        frames = decode_segment_fast(content, "b", spec)
        assert frames is not None
        b = to_pandas(frames)
        got_a = [None if v is None else Decimal(v) for v in a["after_amt"]]
        got_b = [None if v is None else Decimal(v) for v in b["after_amt"]]
        assert got_a == got_b
        want = [None if v is None else Decimal(v) for v in values]
        assert got_b == want

    def test_edges(self):
        self._roundtrip(12, 4, [
            "0.0000", "-0.0001", "12345678.9999", "-99999999.9999",
            "1.5000", None, "0.1234",
        ])

    def test_nine_digit_groups(self):
        # spans compressed + uncompressed groups on both sides
        self._roundtrip(18, 9, [
            "123456789.987654321", "-1.000000001", "0.000000001",
            "999999999.999999999", "-999999999.999999999",
        ])

    def test_integral_only_and_frac_only(self):
        self._roundtrip(10, 0, ["0", "-1", "1234567890", "-987654321"])
        self._roundtrip(6, 6, ["0.123456", "-0.654321", "0.000000"])

    def test_p_above_18_two_limb_fast_path(self):
        # 19–38 digits accumulate in two 64-bit limbs — still the fast
        # path (no scalar fallback), still exact
        self._roundtrip(20, 2, [
            "123456789012345678.12", "-999999999999999999.99", "0.01", None,
        ])
        self._roundtrip(30, 10, [
            "12345678901234567890.0123456789",
            "-9999999999999999999.9999999999",
            "0.0000000001", "-0.0000000001", None, "1.0000000000",
        ])
        self._roundtrip(38, 0, [
            "99999999999999999999999999999999999999",   # 10^38 - 1 (max)
            "-99999999999999999999999999999999999999",
            "12345678901234567890123456789012345678",
        ])
        self._roundtrip(38, 30, [
            "12345678.123456789012345678901234567890",
            "-0.000000000000000000000000000001",
        ])

    def test_p_above_38_falls_back(self):
        from mysql_cdc_spark.binlog.decoder import TableSpec

        spec = TableSpec(
            database="db", table="t",
            columns=(("k", "string", "str"), ("amt", "decimal(38,2)", "decimal")),
            primary_key=("k",),
        )
        ctypes = [ColumnType.VARCHAR, ColumnType.NEWDECIMAL]
        cmeta = [16, 40 | (2 << 8)]
        w = BinlogWriter("b.000001")
        w.write_mysql_gtid("24bc7850-2c16-11e6-a073-0242ac110001", 1)
        w.write_table_map(3, "db", "t", ctypes, cmeta, [False, False],
                          column_names=["k", "amt"])
        w.write_rows(3, ctypes, cmeta, [["a", "12345678901234567890123456789012345678.12"]])
        w.write_xid(1)
        assert decode_segment_fast(w.getvalue(), "b", spec) is None


class TestWideTable:
    """Source tables wider than 64 columns use multi-word presence
    bitmaps and stay on the fast path (the canonical spec projects a
    subset; only specs are capped at 63 columns)."""

    NCOLS = 70
    UUID = "24bc7850-2c16-11e6-a073-0242ac110001"

    def _fixture(self, minimal_update: bool):
        from mysql_cdc_spark.binlog.decoder import TableSpec

        n = self.NCOLS
        names = [f"c{i:02d}" for i in range(n)]
        spec = TableSpec(
            database="db", table="wide",
            columns=(
                ("c00", "string", "str"),
                ("c01", "bigint", "int"),
                ("c34", "string", "str"),
                ("c69", "bigint", "int"),
            ),
            primary_key=("c00",),
        )
        ctypes = [
            ColumnType.VARCHAR if i % 2 == 0 else ColumnType.LONGLONG
            for i in range(n)
        ]
        cmeta = [64 if i % 2 == 0 else 0 for i in range(n)]

        def row(r):
            return [
                (f"v{i}_{r}" if i % 2 == 0 else i * 1000 + r) for i in range(n)
            ]

        w = BinlogWriter("b.000001")
        w.write_mysql_gtid(self.UUID, 1)
        w.write_table_map(
            5, "db", "wide", ctypes, cmeta,
            [i % 3 == 0 for i in range(n)], column_names=names,
        )
        rows = [row(r) for r in range(4)]
        w.write_rows(5, ctypes, cmeta, rows)
        upd = list(rows[1])
        upd[34] = "edited"
        upd[69] = -1 & 0x7FFFFFFF
        if minimal_update:
            bp = [i == 0 for i in range(n)]
            ap = [i in (0, 34, 69) for i in range(n)]
            w.write_update_rows(
                5, ctypes, cmeta, [(rows[1], upd)],
                before_present=bp, after_present=ap,
            )
        else:
            w.write_update_rows(5, ctypes, cmeta, [(rows[1], upd)])
        w.write_rows(
            5, ctypes, cmeta, [rows[2]],
            event_type=EventType.MYSQL_DELETE_ROWS_V2,
        )
        w.write_xid(1)
        return w.getvalue(), spec

    @pytest.mark.parametrize("minimal_update", [False, True])
    def test_70_column_fast_path_parity(self, minimal_update):
        content, spec = self._fixture(minimal_update)
        a = to_pandas(_FileDecoder(spec).decode_file("b", content))
        frames = decode_segment_fast(content, "b", spec)
        assert frames is not None, "70-column table fell back to scalar"
        b = to_pandas(frames)
        assert len(a) == len(b) == 6
        assert list(a.columns) == list(b.columns)
        ca, cb = _canon(a), _canon(b)
        for col in ca:
            assert ca[col] == cb[col], f"column {col} differs"
        # spot-check the projected wide-offset columns
        upd_rows = b[b["op"] == "update"]
        assert upd_rows["after_c34"].tolist() == ["edited"]


def test_spec_beyond_63_columns_rejected():
    from mysql_cdc_spark.binlog.decoder import TableSpec

    with pytest.raises(ValueError, match="63"):
        TableSpec(
            database="db", table="t",
            columns=tuple((f"c{i}", "string", "str") for i in range(64)),
            primary_key=("c0",),
        )


class TestDatetimeKind:
    """DATETIME/DATETIME2 → canonical 'datetime' (wall-clock, no tz) on
    both decode paths."""

    def _spec(self):
        from mysql_cdc_spark.binlog.decoder import TableSpec

        return TableSpec(
            database="db", table="t",
            columns=(
                ("k", "string", "str"),
                ("dt2", "timestamp_ntz", "datetime"),
                ("dt1", "timestamp_ntz", "datetime"),
            ),
            primary_key=("k",),
        )

    def test_parity_and_values(self):
        import datetime as dtm

        spec = self._spec()
        ctypes = [ColumnType.VARCHAR, ColumnType.DATETIME2, ColumnType.DATETIME]
        cmeta = [16, 3, 0]
        w = BinlogWriter("b.000001")
        w.write_mysql_gtid("24bc7850-2c16-11e6-a073-0242ac110001", 1)
        w.write_table_map(4, "db", "t", ctypes, cmeta, [False, True, True],
                          column_names=["k", "dt2", "dt1"])
        rows = [
            ["a", (2024, 2, 29, 23, 59, 58, 123), (2024, 2, 29, 23, 59, 58, 0)],
            ["b", (1970, 1, 1, 0, 0, 0, 0), (1999, 12, 31, 12, 30, 45, 0)],
            ["c", None, None],
            ["d", (2038, 1, 19, 3, 14, 7, 999), (1901, 6, 15, 6, 7, 8, 0)],
        ]
        w.write_rows(4, ctypes, cmeta, rows)
        w.write_xid(1)
        content = w.getvalue()

        a = to_pandas(_FileDecoder(spec).decode_file("b", content))
        frames = decode_segment_fast(content, "b", spec)
        assert frames is not None, "datetime should be on the fast path"
        b = to_pandas(frames)
        for col in ("after_dt2", "after_dt1"):
            av = [None if (v is None or pd.isna(v)) else pd.Timestamp(v) for v in a[col]]
            bv = [None if pd.isna(v) else pd.Timestamp(v) for v in b[col]]
            assert av == bv, col
        got = b.sort_values("after_k").reset_index(drop=True)
        assert pd.Timestamp(got["after_dt2"][0]) == pd.Timestamp(
            dtm.datetime(2024, 2, 29, 23, 59, 58, 123000)
        )
        assert pd.Timestamp(got["after_dt1"][3]) == pd.Timestamp(
            dtm.datetime(1901, 6, 15, 6, 7, 8)
        )
        assert pd.isna(got["after_dt2"][2])


class TestEnumSetTimeFastPath:
    """ENUM/SET (with and without string-value lookup) and TIME/TIME2 on
    the vectorized path — parity against the scalar decoder."""

    def _build(self, with_lookup: bool):
        ctypes = [ColumnType.VARCHAR, ColumnType.ENUM, ColumnType.SET,
                  ColumnType.TIME2, ColumnType.TIME]
        cmeta = [16, 1, 1, 3, 0]
        w = BinlogWriter("b.000001")
        w.write_mysql_gtid("24bc7850-2c16-11e6-a073-0242ac110001", 1)
        kwargs = {}
        if with_lookup:
            kwargs = dict(
                enum_string_values=[["s", "m", "l"]],
                set_string_values=[["a", "b", "c"]],
            )
        w.write_table_map(6, "db", "t", ctypes, cmeta, [False, True, True, True, True],
                          column_names=["k", "sz", "flags", "dur", "old"], **kwargs)
        w.write_rows(6, ctypes, cmeta, [
            ["r1", 2, 0b101, (13, 45, 59, 250), (838, 59, 59, 0)],
            ["r2", 0, 0, (0, 0, 0, 0), (0, 0, 1, 0)],
            ["r3", None, None, None, None],
            ["r4", 3, 0b111, (1, 2, 3, 999), (10, 20, 30, 0)],
        ])
        w.write_xid(1)
        return w.getvalue()

    def _spec(self, enum_kind):
        from mysql_cdc_spark.binlog.decoder import TableSpec

        return TableSpec(
            database="db", table="t",
            columns=(
                ("k", "string", "str"),
                ("sz", "string" if enum_kind == "str" else "int", enum_kind),
                ("flags", "string" if enum_kind == "str" else "int", enum_kind),
                ("dur", "string", "time"),
                ("old", "string", "time"),
            ),
            primary_key=("k",),
        )

    def _parity(self, content, spec):
        a = to_pandas(_FileDecoder(spec).decode_file("b", content))
        frames = decode_segment_fast(content, "b", spec)
        assert frames is not None, "expected fast path"
        b = to_pandas(frames)
        assert len(a) == len(b)
        ca, cb = _canon(a), _canon(b)
        for col in ca:
            assert ca[col] == cb[col], f"column {col} differs"
        return b

    def test_with_string_lookup(self):
        content = self._build(with_lookup=True)
        got = self._parity(content, self._spec("str")).sort_values("after_k")
        assert got["after_sz"].tolist() == ["m", "", None, "l"]
        assert got["after_flags"].tolist() == ["a,c", "", None, "a,b,c"]
        assert got["after_dur"].tolist()[0] == "13:45:59.250"
        assert got["after_old"].tolist()[0] == "838:59:59.000"

    def test_without_lookup_raw_ints(self):
        content = self._build(with_lookup=False)
        got = self._parity(content, self._spec("int")).sort_values("after_k")
        assert [None if pd.isna(v) else int(v) for v in got["after_sz"]] == [2, 0, None, 3]
        assert [None if pd.isna(v) else int(v) for v in got["after_flags"]] == [0b101, 0, None, 0b111]


def test_before_values_keys_mode(standard_files):
    """before_values="keys": identical to the full decode on every column
    EXCEPT non-key before values, which become typed nulls (the merge
    pipeline never reads them); update/delete keys still resolve."""
    with open(standard_files[0], "rb") as f:
        content = f.read()
    full = to_pandas(decode_segment_fast(content, "x", TRANSCRIPTS))
    keys_only = to_pandas(
        decode_segment_fast(content, "x", TRANSCRIPTS, before_values="keys")
    )
    assert len(full) == len(keys_only)
    ca, cb = _canon(full), _canon(keys_only)
    key_before = {f"before_{k}" for k in TRANSCRIPTS.primary_key}
    nonkey_before = {
        f"before_{n}" for n, _, _ in TRANSCRIPTS.columns
        if n not in TRANSCRIPTS.primary_key
    }
    ops = full["op"].tolist()
    for col in ca:
        if col in nonkey_before:
            assert all(v is None for v in cb[col]), col
        elif col in key_before:
            # the change key needs before keys only for deletes (updates
            # carry the key in the after image); update before-images are
            # walked offset-only, so their keys are null too
            for o, a, b in zip(ops, ca[col], cb[col]):
                if o == "delete":
                    assert a == b, col
                else:
                    assert b is None or a == b, col
        else:
            assert ca[col] == cb[col], col
    # delete rows keep their before-image keys (the change key source)
    dels = keys_only[keys_only["op"] == "delete"]
    assert len(dels) > 0
    assert dels["before_conv_id"].notna().all()


class TestMulAdd128Property:
    def test_matches_python_bigints(self):
        """_muladd128 (vectorized two-limb base-2^32 schoolbook) must agree
        with Python's arbitrary-precision ints over the decimal walk's
        reachable domain (result magnitude < 10^38)."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from mysql_cdc_spark.binlog.vector import _muladd128

        @settings(max_examples=300, deadline=None)
        @given(
            st.integers(min_value=0, max_value=10**38 // 10**9 - 1),
            st.integers(min_value=0, max_value=10**9 - 1),
            st.sampled_from([10**9] + [10**c for c in range(1, 9)]),
        )
        def check(acc, add, mult):
            if acc * mult + add >= 10**38:
                return
            hi = np.array([acc >> 64], dtype=np.uint64)
            lo = np.array([acc & 0xFFFFFFFFFFFFFFFF], dtype=np.uint64)
            nh, nl = _muladd128(hi, lo, mult, np.array([add], dtype=np.int64))
            got = (int(nh[0]) << 64) | int(nl[0])
            assert got == acc * mult + add

        check()


class TestEveryKernelKind:
    """One table with a column of every canonical kind, through inserts,
    updates, deletes and NULLs: both decoders emit the declared Arrow
    schema with the same rows, and ``mapInArrow`` takes those batches
    as they are (no type error on any column, timestamps included)."""

    SPEC = TableSpec(
        database="db", table="t",
        columns=(
            ("k", "string", "str"),
            ("n", "int", "int"),
            ("big", "bigint", "int"),
            ("ts", "timestamp", "ts_millis"),
            ("d", "double", "double"),
            ("blob", "binary", "binary"),
            ("day", "date", "date"),
            ("amt", "decimal(12,3)", "decimal"),
            ("wall", "timestamp_ntz", "datetime"),
            ("dur", "string", "time"),
            ("doc", "string", "json"),
            ("loc", "string", "geometry"),
            ("emb", "array<float>", "vector"),
        ),
        primary_key=("k",),
    )
    CTYPES = [
        ColumnType.VARCHAR, ColumnType.LONG, ColumnType.LONGLONG,
        ColumnType.TIMESTAMP2, ColumnType.DOUBLE, ColumnType.BLOB,
        ColumnType.DATE, ColumnType.NEWDECIMAL, ColumnType.DATETIME2,
        ColumnType.TIME2, ColumnType.JSON, ColumnType.GEOMETRY,
        ColumnType.VECTOR,
    ]
    CMETA = [40, 0, 0, 3, 8, 2, 0, 12 | (3 << 8), 3, 3, 4, 4, 4]

    @staticmethod
    def _row(i: int, null: bool = False):
        from mysql_cdc_spark.binlog import geometry as G
        from mysql_cdc_spark.binlog import jsonb as J

        if null:
            return [f"k{i}"] + [None] * 12
        return [
            f"k{i}", 100 + i, (1 << 40) + i, 1700000000000 + 7 * i, i / 3,
            bytes(range(i, i + 5)), (2024, 2, 1 + i), f"{i}.125",
            (2023, 12, 31, 23, 59, i, 250), (i, 2, 3, 4),
            J.encode_jsonb({"i": i, "tags": ["a", "b"], "ok": True}),
            G.encode_geometry(("point", (i + 0.5, -i)), srid=4326 * (i % 2)),
            np.arange(i, i + 3, dtype="<f4").tobytes(),
        ]

    def _segment(self) -> bytes:
        names = [c[0] for c in self.SPEC.columns]
        w = BinlogWriter("b.000001")
        uuid = "24bc7850-2c16-11e6-a073-0242ac110001"
        w.write_mysql_gtid(uuid, 1)
        w.write_table_map(5, "db", "t", self.CTYPES, self.CMETA,
                          [False] + [True] * 12, column_names=names)
        w.write_rows(5, self.CTYPES, self.CMETA,
                     [self._row(i) for i in range(1, 5)] + [self._row(9, True)])
        w.write_xid(1)
        w.write_mysql_gtid(uuid, 2)
        w.write_table_map(5, "db", "t", self.CTYPES, self.CMETA,
                          [False] + [True] * 12, column_names=names)
        w.write_update_rows(5, self.CTYPES, self.CMETA,
                            [(self._row(1), self._row(1, True)),
                             (self._row(9, True), self._row(7))])
        w.write_rows(5, self.CTYPES, self.CMETA, [self._row(2)],
                     event_type=EventType.MYSQL_DELETE_ROWS_V2)
        w.write_xid(2)
        return w.getvalue()

    def test_parity_on_pylist(self):
        _assert_parity(self._segment(), "b.000001", self.SPEC)
        rows = pa.Table.from_batches(
            decode_segment_fast(self._segment(), "b.000001", self.SPEC)
        ).to_pylist()
        assert len(rows) == 8
        assert rows[0]["after_ts"].tzinfo is not None  # UTC instant
        assert rows[0]["after_wall"].tzinfo is None    # wall time (NTZ)
        assert rows[0]["after_emb"] == [1.0, 2.0, 3.0]

    @pytest.mark.parametrize("vectorized", [True, False])
    def test_decode_binlog_dir_under_map_in_arrow(
        self, spark, tmp_path, vectorized
    ):
        content = self._segment()
        (tmp_path / "b.000001").write_bytes(content)
        df = decode_binlog_dir(
            spark, str(tmp_path), self.SPEC, vectorized=vectorized
        )
        assert df.count() == 8
        want = pa.Table.from_batches(
            decode_segment_fast(content, "b.000001", self.SPEC)
        ).to_pylist()
        got = [r.asDict() for r in df.orderBy("pos", "row_in_event").collect()]
        plain = [c for c in df.columns if "ts" not in c and "wall" not in c]
        assert [{c: r[c] for c in plain} for r in got] == [
            {c: r[c] for c in plain} for r in want
        ]
        # session time zone UTC: the instants come back as the same epoch
        epoch = df.selectExpr("unix_micros(after_ts) AS us").collect()
        assert sorted(r.us for r in epoch if r.us is not None) == sorted(
            int(r["after_ts"].timestamp() * 10**6)
            for r in want if r["after_ts"] is not None
        )

