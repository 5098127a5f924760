"""Round-2 event/metadata coverage: the last two typed BinlogEvent
variants (INTVAR, MARIADB_GTID_LIST — binlog_event.rs:20-39) and the
ENUM/SET string-value metadata lookup (table_metadata.rs:26-31)."""

from __future__ import annotations

from mysql_cdc_spark.binlog.constants import ColumnType
from mysql_cdc_spark.binlog.encoder import BinlogWriter
from mysql_cdc_spark.binlog.reader import BinlogFileReader
from mysql_cdc_spark.gtid import MariaGtid
from decoded import to_pandas


def _decode_kinds(writer: BinlogWriter) -> list[tuple[str, object]]:
    return [
        (kind, event)
        for _h, _p, kind, event in BinlogFileReader(writer.getvalue(), "x")
    ]


class TestIntVar:
    def test_roundtrip(self):
        """intvar_event.rs:22-28: type u8 + u64 LE value."""
        w = BinlogWriter("b.000001")
        w.write_intvar(2, 123456789012345)  # INSERT_ID (auto_increment)
        w.write_intvar(1, 42)  # LAST_INSERT_ID
        kinds = _decode_kinds(w)
        events = [e for k, e in kinds if k == "intvar"]
        assert events == [
            {"intvar_type": 2, "value": 123456789012345},
            {"intvar_type": 1, "value": 42},
        ]
        assert "unknown" not in [k for k, _ in kinds]


class TestMariaDbGtidList:
    def test_roundtrip(self):
        """gtid_list_event.rs:17-33: u32 count + (domain, server, seq)."""
        w = BinlogWriter("b.000001")
        w.write_mariadb_gtid_list(
            [MariaGtid(0, 1, 100), MariaGtid(3, 7, 55), (9, 2, 1)]
        )
        kinds = _decode_kinds(w)
        events = [e for k, e in kinds if k == "mariadb_gtid_list"]
        assert events == [{"gtid_list": "0-1-100,3-7-55,9-2-1"}]
        assert "unknown" not in [k for k, _ in kinds]

    def test_empty_list(self):
        w = BinlogWriter("b.000001")
        w.write_mariadb_gtid_list([])
        events = [e for k, e in _decode_kinds(w) if k == "mariadb_gtid_list"]
        assert events == [{"gtid_list": ""}]


class TestEnumSetStrings:
    CTYPES = [ColumnType.VARCHAR, ColumnType.ENUM, ColumnType.SET]
    CMETA = [32, 1, 1]  # 1-byte enum index, 1-byte set bitmask

    def _decode_rows(self, w):
        rows = []
        for _h, _p, kind, event in BinlogFileReader(w.getvalue(), "x"):
            if kind == "write_rows":
                rows.extend(event["rows"])
        return rows

    def test_enum_and_set_decode_to_strings(self):
        """With ENUM_STR_VALUE/SET_STR_VALUE metadata present, ENUM lands
        as its member string and SET as the comma-joined member list."""
        w = BinlogWriter("b.000001")
        w.write_table_map(
            1, "db", "t", self.CTYPES, self.CMETA, [False] * 3,
            enum_string_values=[["small", "medium", "large"]],
            set_string_values=[["a", "b", "c", "d"]],
        )
        w.write_rows(1, self.CTYPES, self.CMETA, [["x", 2, 0b1011]])
        w.write_rows(1, self.CTYPES, self.CMETA, [["y", 3, 0b0100]])
        w.write_rows(1, self.CTYPES, self.CMETA, [["z", 0, 0]])  # empty/invalid
        assert self._decode_rows(w) == [
            ["x", "medium", "a,b,d"],
            ["y", "large", "c"],
            ["z", "", ""],
        ]

    def test_without_metadata_stays_int(self):
        """No string-value sections → raw ints like the reference
        (row_parser.rs:151-156)."""
        w = BinlogWriter("b.000001")
        w.write_table_map(1, "db", "t", self.CTYPES, self.CMETA, [False] * 3)
        w.write_rows(1, self.CTYPES, self.CMETA, [["x", 2, 0b1011]])
        assert self._decode_rows(w) == [["x", 2, 0b1011]]


class TestFullTableMetadata:
    """All 12 TableMetadata TLV sections parse (metadata_type.rs:3-16,
    table_metadata.rs:55-130)."""

    def test_all_sections_roundtrip(self):
        from mysql_cdc_spark.binlog import kernels as K
        from mysql_cdc_spark.binlog.constants import MetadataType
        from mysql_cdc_spark.binlog.reader import parse_table_map

        lenc = K.write_len_enc_num
        # DEFAULT_CHARSET: default collation 45, overrides {1: 63}
        default_cs = lenc(45) + lenc(1) + lenc(63)
        extra = [
            (MetadataType.DEFAULT_CHARSET, default_cs),
            (MetadataType.COLUMN_CHARSET, lenc(45) + lenc(63) + lenc(45)),
            (MetadataType.GEOMETRY_TYPE, lenc(0)),
            (MetadataType.PRIMARY_KEY_WITH_PREFIX, lenc(0) + lenc(8)),
            (MetadataType.ENUM_AND_SET_DEFAULT_CHARSET, lenc(45) + lenc(2) + lenc(224)),
            (MetadataType.ENUM_AND_SET_COLUMN_CHARSET, lenc(45)),
            (MetadataType.VISIBILITY, K.pack_bitmap_big_endian([True, True, False])),
        ]
        w = BinlogWriter("b.000001")
        w.write_table_map(
            1, "db", "t", [ColumnType.VARCHAR, ColumnType.LONG, ColumnType.VARCHAR],
            [64, 0, 64], [False] * 3,
            column_names=["a", "b", "c"], simple_primary_keys=[0],
            signedness=[False], extra_metadata=extra,
        )
        tm = None
        for _h, _p, kind, event in BinlogFileReader(w.getvalue(), "x"):
            if kind == "table_map":
                tm = event
        assert tm is not None
        assert tm["column_names"] == ["a", "b", "c"]
        assert tm["simple_primary_keys"] == [0]
        assert tm["default_charset"] == {
            "default_collation": 45, "charset_collations": {1: 63},
        }
        assert tm["column_charsets"] == [45, 63, 45]
        assert tm["geometry_types"] == [0]
        assert tm["primary_keys_with_prefix"] == {0: 8}
        assert tm["enum_and_set_default_charset"] == {
            "default_collation": 45, "charset_collations": {2: 224},
        }
        assert tm["enum_and_set_column_charsets"] == [45]
        assert tm["column_visibility"][:3] == [True, True, False]


class TestTimeKind:
    """TIME/TIME2 → canonical 'time' kind (string form — MySQL TIME spans
    ±838:59:59 so it is not a time-of-day), on both decode paths."""

    def test_time2_decodes_via_spec(self):
        from mysql_cdc_spark.binlog.decoder import TableSpec, _FileDecoder
        from mysql_cdc_spark.binlog.vector import decode_segment_fast

        spec = TableSpec(
            database="db", table="t",
            columns=(("k", "string", "str"), ("dur", "string", "time")),
            primary_key=("k",),
        )
        ctypes = [ColumnType.VARCHAR, ColumnType.TIME2]
        cmeta = [16, 3]
        w = BinlogWriter("b.000001")
        w.write_mysql_gtid("24bc7850-2c16-11e6-a073-0242ac110001", 1)
        w.write_table_map(5, "db", "t", ctypes, cmeta, [False, False],
                          column_names=["k", "dur"])
        w.write_rows(5, ctypes, cmeta, [["a", (13, 45, 59, 250)], ["b", (0, 0, 1, 0)]])
        w.write_xid(1)
        content = w.getvalue()
        frames = list(_FileDecoder(spec).decode_file("b", content))
        got = to_pandas(frames)
        assert got["after_dur"].tolist() == ["13:45:59.250", "00:00:01.000"]
        fast = decode_segment_fast(content, "b", spec)
        assert fast is not None
        fgot = to_pandas(fast)
        assert fgot["after_dur"].tolist() == got["after_dur"].tolist()


def test_stop_and_binlog_checkpoint_typed():
    """STOP (type 3) and MariaDB BINLOG_CHECKPOINT (type 161) dispatch as
    typed no-op events (retention tooling reads the checkpoint filename)."""
    import struct

    from mysql_cdc_spark.binlog.constants import EventType
    from mysql_cdc_spark.binlog.encoder import BinlogWriter
    from mysql_cdc_spark.binlog.reader import BinlogFileReader

    w = BinlogWriter("binlog.000002")
    name = b"binlog.000001"
    w._append_event(
        EventType.MARIADB_BINLOG_CHECKPOINT,
        struct.pack("<I", len(name)) + name,
    )
    w._append_event(EventType.STOP, b"")
    kinds = {k: ev for _h, _p, k, ev in BinlogFileReader(w.getvalue(), "f")}
    assert kinds["binlog_checkpoint"] == {"binlog_filename": "binlog.000001"}
    assert kinds["stop"] == {}


def test_rand_and_ignorable_typed():
    """RAND (type 13) carries two u64 LE seeds; IGNORABLE (type 34) is a
    typed empty marker — both dispatch without disturbing row decode."""
    import struct

    from mysql_cdc_spark.binlog.constants import EventType
    from mysql_cdc_spark.binlog.encoder import BinlogWriter
    from mysql_cdc_spark.binlog.reader import BinlogFileReader

    w = BinlogWriter("binlog.000003")
    w._append_event(EventType.RAND, struct.pack("<QQ", 987654321, 123456789))
    w._append_event(EventType.IGNORABLE, b"")
    kinds = {k: ev for _h, _p, k, ev in BinlogFileReader(w.getvalue(), "f")}
    assert kinds["rand"] == {"seed1": 987654321, "seed2": 123456789}
    assert kinds["ignorable"] == {}


def test_group_replication_control_typed():
    """TRANSACTION_CONTEXT (36) and VIEW_CHANGE (37) — GR control frames —
    dispatch typed (payload length only; bodies are GR-internal) instead
    of falling through to "unknown"."""
    from mysql_cdc_spark.binlog.constants import EventType
    from mysql_cdc_spark.binlog.encoder import BinlogWriter
    from mysql_cdc_spark.binlog.reader import BinlogFileReader

    w = BinlogWriter("binlog.000004")
    w._append_event(EventType.MYSQL_TRANSACTION_CONTEXT, b"\x01" * 24)
    w._append_event(EventType.MYSQL_VIEW_CHANGE, b"\x02" * 64)
    kinds = {k: ev for _h, _p, k, ev in BinlogFileReader(w.getvalue(), "f")}
    assert kinds["transaction_context"] == {"payload_len": 24}
    assert kinds["view_change"] == {"payload_len": 64}


def test_partition_extra_row_info():
    """WL#12168 PART extra-row-info TLV: partition_id surfaces on v2 row
    events of partitioned tables; UPDATE also carries the source partition
    (row migration). The vectorized decoder's head-skip stays byte-exact."""
    from mysql_cdc_spark.binlog.constants import ColumnType, EventType
    from mysql_cdc_spark.binlog.encoder import BinlogWriter
    from mysql_cdc_spark.binlog.reader import BinlogFileReader

    ctypes = [ColumnType.LONG, ColumnType.VARCHAR]
    cmeta = [0, 255]
    w = BinlogWriter("binlog.000005")
    w.write_table_map(
        9, "db", "t", ctypes, cmeta, [False, False], column_names=["id", "v"]
    )
    w.write_rows(9, ctypes, cmeta, [[1, "a"]], partition_id=7)
    w.write_update_rows(
        9, ctypes, cmeta, [([1, "a"], [1, "b"])],
        partition_id=3, source_partition_id=7,
    )
    w.write_rows(
        9, ctypes, cmeta, [[1, "b"]],
        event_type=EventType.MYSQL_DELETE_ROWS_V2, partition_id=3,
    )
    events = {k: ev for _h, _p, k, ev in BinlogFileReader(w.getvalue(), "f")}
    assert events["write_rows"]["partition_id"] == 7
    assert "source_partition_id" not in events["write_rows"]
    assert events["update_rows"]["partition_id"] == 3
    assert events["update_rows"]["source_partition_id"] == 7
    assert events["delete_rows"]["partition_id"] == 3
    assert events["update_rows"]["rows"] == [([1, "a"], [1, "b"])]
