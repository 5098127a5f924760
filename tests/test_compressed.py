"""MariaDB compressed binlog events (log_bin_compress=ON) — codec + both
decode paths + end-to-end replay parity.

Beyond-reference coverage (the reference's event enum stops at
GTID_LIST=163; src/events/event_type.rs): a compressed stream must decode
to exactly the same rows, in the same transactions, as its plain twin —
and report positions in the compressed file's own on-disk coordinates so
ledger/resume arithmetic stays exact.
"""

from __future__ import annotations

import struct

import pandas as pd
import pytest

from mysql_cdc_spark.binlog import kernels as K
from mysql_cdc_spark.binlog.compressed import (
    COMPRESSED_TO_PLAIN,
    PLAIN_TO_COMPRESSED,
    CompressedEventError,
    compress_event_body,
    compress_record,
    compress_segment,
    inflate_event_body,
    inflate_segment,
    parse_compressed_head,
)
from mysql_cdc_spark.binlog.constants import (
    EVENT_HEADER_SIZE,
    FIRST_EVENT_POSITION,
    ChecksumType,
    ColumnType,
    EventType,
)
from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS, _FileDecoder
from mysql_cdc_spark.binlog.encoder import BinlogWriter
from mysql_cdc_spark.binlog.reader import BinlogFileReader
from mysql_cdc_spark.binlog.vector import decode_segment_fast
from mysql_cdc_spark.fixtures import (
    apply_changelog_oracle,
    generate_changelog,
    write_binlog_files,
)


# ---------------------------------------------------------------- record head


class TestCompressedRecord:
    def test_round_trip_small(self):
        data = b"hello compressed world" * 3
        rec = compress_record(data)
        un_len, off = parse_compressed_head(rec)
        assert un_len == len(data)
        import zlib

        assert zlib.decompress(rec[off:]) == data

    def test_round_trip_multibyte_len(self):
        data = bytes(range(256)) * 1200  # >64 KiB → lenlen 3
        rec = compress_record(data)
        assert rec[0] == 0x80 | 3
        un_len, off = parse_compressed_head(rec)
        assert un_len == len(data) and off == 4

    def test_bad_flag_byte(self):
        with pytest.raises(CompressedEventError):
            parse_compressed_head(b"\x00\x05hello")

    def test_bad_algorithm(self):
        with pytest.raises(CompressedEventError):
            parse_compressed_head(bytes([0x80 | (2 << 4) | 1, 5]))

    def test_truncated(self):
        with pytest.raises(CompressedEventError):
            parse_compressed_head(b"")
        with pytest.raises(CompressedEventError):
            parse_compressed_head(bytes([0x80 | 4, 0, 0]))  # promises 4 len bytes


# ------------------------------------------------------------- body twins


def _v1_update_body() -> bytes:
    """Hand-built UPDATE_ROWS_V1 body (no V2 extra-data): 2 LONG columns,
    full before+after images, one row pair."""
    table_id = (77).to_bytes(6, "little")
    flags = struct.pack("<H", 0)
    ncols = K.write_len_enc_num(2)
    bitmap = K.pack_bitmap_little_endian([True, True])
    row = lambda a, b: K.pack_bitmap_little_endian([False, False]) + struct.pack(
        "<ii", a, b
    )
    return table_id + flags + ncols + bitmap + bitmap + row(1, 2) + row(1, 3)


class TestBodyTwins:
    def test_mapping_is_a_bijection(self):
        assert PLAIN_TO_COMPRESSED == {v: k for k, v in COMPRESSED_TO_PLAIN.items()}
        assert len(COMPRESSED_TO_PLAIN) == 7

    @pytest.mark.parametrize(
        "plain_type,body",
        [
            (EventType.UPDATE_ROWS_V1, _v1_update_body()),
            (EventType.WRITE_ROWS_V1, _v1_update_body()[:20]),  # head+1 image shape
        ],
    )
    def test_v1_round_trip(self, plain_type, body):
        # V1 write/delete share a layout; update carries two bitmaps. Use
        # properly-shaped bodies so the head walk lands mid-payload.
        if plain_type == EventType.WRITE_ROWS_V1:
            body = (
                (77).to_bytes(6, "little")
                + struct.pack("<H", 0)
                + K.write_len_enc_num(2)
                + K.pack_bitmap_little_endian([True, True])
                + K.pack_bitmap_little_endian([False, False])
                + struct.pack("<ii", 7, 8)
            )
        ctype, cbody = compress_event_body(plain_type, body)
        assert ctype == PLAIN_TO_COMPRESSED[plain_type]
        assert cbody != body
        ptype, pbody = inflate_event_body(ctype, cbody)
        assert ptype == plain_type
        assert pbody == body

    def test_non_compressible_passes_through(self):
        assert compress_event_body(EventType.XID, b"\x01" * 8) == (
            EventType.XID,
            b"\x01" * 8,
        )
        assert inflate_event_body(EventType.XID, b"\x01" * 8) == (
            EventType.XID,
            b"\x01" * 8,
        )


# ----------------------------------------------------- segment construction


def _small_binlog(checksum=ChecksumType.CRC32) -> bytes:
    """QUERY + table_map + write/update/delete (V2) + xid under one gtid."""
    types = [ColumnType.LONG, ColumnType.VARCHAR]
    meta = [0, 400]
    w = BinlogWriter("binlog.000001", checksum=checksum)
    w.write_mysql_gtid("a1b2c3d4-0000-0000-0000-000000000001", 1, timestamp=100)
    w.write_query("BEGIN", database="db", timestamp=100)
    w.write_table_map(11, "db", "t", types, meta, [False, True])
    w.write_rows(11, types, meta, [[1, "the quick brown fox " * 4], [2, "jumps"]])
    w.write_table_map(11, "db", "t", types, meta, [False, True])
    w.write_update_rows(11, types, meta, [([1, "the quick brown fox " * 4], [1, "over"])])
    w.write_table_map(11, "db", "t", types, meta, [False, True])
    w.write_rows(11, types, meta, [[2, "jumps"]], event_type=EventType.MYSQL_DELETE_ROWS_V2)
    w.write_xid(9, timestamp=101)
    return w.getvalue()


def _events(content: bytes):
    return [
        (kind, ev) for _h, _p, kind, ev in BinlogFileReader(content, "binlog.000001")
    ]


class TestScalarReader:
    @pytest.mark.parametrize("checksum", [ChecksumType.CRC32, ChecksumType.NONE])
    def test_compressed_stream_decodes_like_plain(self, checksum):
        plain = _small_binlog(checksum)
        comp = compress_segment(plain, min_len=0)
        assert len(comp) < len(plain)  # the long text actually deflated
        got, want = _events(comp), _events(plain)
        assert [k for k, _ in got] == [k for k, _ in want]
        assert got == want

    def test_compressed_type_bytes_on_disk(self):
        comp = compress_segment(_small_binlog(), min_len=0)
        types = set()
        pos = FIRST_EVENT_POSITION
        while pos + EVENT_HEADER_SIZE <= len(comp):
            ln = struct.unpack_from("<I", comp, pos + 9)[0]
            types.add(comp[pos + 4])
            pos += ln
        assert EventType.MARIADB_QUERY_COMPRESSED in types
        assert EventType.MARIADB_WRITE_ROWS_COMPRESSED in types
        assert EventType.MARIADB_UPDATE_ROWS_COMPRESSED in types
        assert EventType.MARIADB_DELETE_ROWS_COMPRESSED in types

    def test_next_pos_chain_is_relinked(self):
        comp = compress_segment(_small_binlog(), min_len=0)
        pos = FIRST_EVENT_POSITION
        while pos + EVENT_HEADER_SIZE <= len(comp):
            ln = struct.unpack_from("<I", comp, pos + 9)[0]
            next_pos = struct.unpack_from("<I", comp, pos + 13)[0]
            assert next_pos == pos + ln
            pos += ln
        assert pos == len(comp)


# ------------------------------------------------------------ vectorized path


def _fixture_file(tmp_path, seed=21):
    txns = generate_changelog(
        n_conversations=25, max_turns=6, n_extra_ops=60, seed=seed
    )
    outdir = str(tmp_path / "plain")
    paths = write_binlog_files(txns, outdir, txns_per_file=10_000)
    assert len(paths) >= 1
    with open(paths[0], "rb") as f:
        return txns, f.read()


def _concat(frames) -> pd.DataFrame:
    frames = list(frames)
    return to_pandas(frames)


class TestVectorizedPath:
    def test_fast_path_parity_with_scalar_on_compressed(self, tmp_path):
        _, plain = _fixture_file(tmp_path)
        comp = compress_segment(plain, min_len=0)
        scalar = _concat(_FileDecoder(TRANSCRIPTS).decode_file("binlog.000001", comp))
        fast = decode_segment_fast(comp, "binlog.000001", TRANSCRIPTS)
        assert fast is not None, "vectorized path must not bail on compressed input"
        fast = _concat(fast)
        assert len(fast) == len(scalar) > 0
        for df in (fast, scalar):  # ms vs ns storage precision only
            for c in df.columns:
                if str(df[c].dtype).startswith("datetime"):
                    df[c] = df[c].astype("datetime64[ns]")
        pd.testing.assert_frame_equal(
            fast.reset_index(drop=True),
            scalar.reset_index(drop=True),
            check_dtype=False,  # Int64 vs int64 carrier; values must match
        )

    def test_values_match_plain_stream(self, tmp_path):
        _, plain = _fixture_file(tmp_path)
        comp = compress_segment(plain, min_len=0)
        a = _concat(decode_segment_fast(plain, "binlog.000001", TRANSCRIPTS))
        b = _concat(decode_segment_fast(comp, "binlog.000001", TRANSCRIPTS))
        drop = ["pos", "next_pos"]  # each file's own on-disk coordinates
        pd.testing.assert_frame_equal(
            a.drop(columns=drop), b.drop(columns=drop), check_dtype=True
        )

    def test_positions_are_compressed_file_offsets(self, tmp_path):
        _, plain = _fixture_file(tmp_path)
        comp = compress_segment(plain, min_len=0)
        fast = _concat(decode_segment_fast(comp, "binlog.000001", TRANSCRIPTS))
        # every reported pos must be a real frame start in the compressed file
        offsets = set()
        pos = FIRST_EVENT_POSITION
        while pos + EVENT_HEADER_SIZE <= len(comp):
            offsets.add(pos)
            pos += struct.unpack_from("<I", comp, pos + 9)[0]
        assert set(fast["pos"].tolist()) <= offsets
        # and next_pos must advance monotonically in the same coordinates
        assert (fast["next_pos"] > fast["pos"]).all()

    def test_inflate_segment_none_when_plain(self, tmp_path):
        _, plain = _fixture_file(tmp_path)
        assert inflate_segment(plain) is None


# ----------------------------------------------------------------- end-to-end


@pytest.mark.usefixtures("spark")
class TestReplayE2E:
    def test_replay_compressed_equals_oracle_and_resumes(self, spark, tmp_path):
        from mysql_cdc_spark.pipeline.replay import Replayer

        txns = generate_changelog(
            n_conversations=30, max_turns=6, n_extra_ops=80, seed=33
        )
        plain_dir = str(tmp_path / "plain")
        paths = write_binlog_files(txns, plain_dir, txns_per_file=30)
        assert len(paths) >= 2

        comp_dir = tmp_path / "compressed"
        comp_dir.mkdir()
        import os

        for p in paths:
            with open(p, "rb") as f:
                data = compress_segment(f.read())
            with open(comp_dir / os.path.basename(p), "wb") as f:
                f.write(data)

        oracle = apply_changelog_oracle(txns)

        store = str(tmp_path / "store")
        rep = Replayer(spark, str(comp_dir), store)
        rep.replay()
        state = (
            rep.read_state()
            .orderBy("conv_id", "turn_idx")
            .toPandas()
            .reset_index(drop=True)
        )
        assert len(state) == len(oracle)
        for col in ["conv_id", "turn_idx", "role", "text"]:
            assert state[col].tolist() == oracle[col].tolist(), col

        # resume from the ledger: a second replay over the same compressed
        # dir must be a no-op (position arithmetic exact in the compressed
        # file's coordinates)
        before = state
        rep2 = Replayer(spark, str(comp_dir), store)
        rep2.replay()
        after = (
            rep2.read_state()
            .orderBy("conv_id", "turn_idx")
            .toPandas()
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(before, after)


# ------------------------------------------- MySQL TRANSACTION_PAYLOAD (40)


from mysql_cdc_spark.binlog.compressed import (  # noqa: E402
    PAYLOAD_COMPRESSION_NONE,
    PAYLOAD_COMPRESSION_ZSTD,
    encode_payload_fields,
    inflate_transaction_payload,
    parse_payload_fields,
    wrap_transaction_payload_segment,
)
from decoded import to_pandas


class TestPayloadFields:
    def test_tlv_round_trip_zstd_shape(self):
        body = encode_payload_fields(b"\x01\x02\x03", PAYLOAD_COMPRESSION_ZSTD, 10)
        ctype, usize, payload = parse_payload_fields(body)
        assert (ctype, usize, payload) == (PAYLOAD_COMPRESSION_ZSTD, 10, b"\x01\x02\x03")

    def test_tlv_round_trip_none_shape(self):
        body = encode_payload_fields(b"abc", PAYLOAD_COMPRESSION_NONE, 3)
        ctype, usize, payload = parse_payload_fields(body)
        assert ctype == PAYLOAD_COMPRESSION_NONE and payload == b"abc"

    def test_unknown_fields_skipped(self):
        # forward compat: an unknown TLV field type must be ignored
        body = bytes([9, 2, 0xAA, 0xBB]) + encode_payload_fields(
            b"xy", PAYLOAD_COMPRESSION_NONE, 2
        )
        ctype, _usize, payload = parse_payload_fields(body)
        assert ctype == PAYLOAD_COMPRESSION_NONE and payload == b"xy"

    def test_truncated_tlv_raises(self):
        with pytest.raises(CompressedEventError):
            parse_payload_fields(b"")
        with pytest.raises(CompressedEventError):
            parse_payload_fields(bytes([1, 8, 0x01]))  # promises 8 value bytes

    def test_payload_shorter_than_size_field_raises(self):
        body = bytes([1, 1, 50, 0])  # size=50, end mark, no payload bytes
        with pytest.raises(CompressedEventError):
            parse_payload_fields(body)

    def test_unknown_compression_raises(self):
        body = encode_payload_fields(b"zz", 7, 2)
        with pytest.raises(CompressedEventError):
            inflate_transaction_payload(body)


def _txn_binlog(checksum=ChecksumType.CRC32) -> bytes:
    """Two GTID-framed transactions plus a standalone (unwrapped) query."""
    types = [ColumnType.LONG, ColumnType.VARCHAR]
    meta = [0, 400]
    w = BinlogWriter("binlog.000001", checksum=checksum)
    w.write_query("CREATE TABLE t (a INT)", database="db", timestamp=99)
    w.write_mysql_gtid("a1b2c3d4-0000-0000-0000-000000000001", 1, timestamp=100)
    w.write_query("BEGIN", database="db", timestamp=100)
    w.write_table_map(11, "db", "t", types, meta, [False, True])
    w.write_rows(11, types, meta, [[1, "hello payload " * 6], [2, "two"]])
    w.write_xid(9, timestamp=101)
    w.write_mysql_gtid("a1b2c3d4-0000-0000-0000-000000000001", 2, timestamp=102)
    w.write_query("BEGIN", database="db", timestamp=102)
    w.write_table_map(11, "db", "t", types, meta, [False, True])
    w.write_update_rows(11, types, meta, [([1, "hello payload " * 6], [1, "v2"])])
    w.write_xid(10, timestamp=103)
    return w.getvalue()


class TestPayloadScalarReader:
    @pytest.mark.parametrize("checksum", [ChecksumType.CRC32, ChecksumType.NONE])
    @pytest.mark.parametrize("compression", ["zstd", "none"])
    def test_wrapped_stream_decodes_like_plain(self, checksum, compression):
        plain = _txn_binlog(checksum)
        wrapped = wrap_transaction_payload_segment(plain, compression)
        if compression == "zstd":
            assert len(wrapped) < len(plain)
        assert _events(wrapped) == _events(plain)

    def test_wrapper_frames_on_disk(self):
        wrapped = wrap_transaction_payload_segment(_txn_binlog(), "zstd")
        types, n_frames = set(), 0
        pos = FIRST_EVENT_POSITION
        while pos + EVENT_HEADER_SIZE <= len(wrapped):
            types.add(wrapped[pos + 4])
            n_frames += 1
            ln = struct.unpack_from("<I", wrapped, pos + 9)[0]
            next_pos = struct.unpack_from("<I", wrapped, pos + 13)[0]
            assert next_pos == pos + ln  # chain re-linked
            pos += ln
        assert pos == len(wrapped)
        assert EventType.MYSQL_TRANSACTION_PAYLOAD in types
        # BEGIN/table_map/rows/XID are inside the wrapper, GTIDs outside:
        # FDE + standalone query + 2×(gtid + payload) = 6 frames
        assert n_frames == 6
        assert EventType.QUERY in types  # the standalone DDL stayed plain

    def test_unterminated_transaction_raises(self):
        types = [ColumnType.LONG, ColumnType.VARCHAR]
        w = BinlogWriter("binlog.000001")
        w.write_query("BEGIN", database="db")
        w.write_table_map(11, "db", "t", types, [0, 400], [False, True])
        with pytest.raises(CompressedEventError):
            wrap_transaction_payload_segment(w.getvalue(), "none")


class TestPayloadVectorizedPath:
    def test_fast_path_parity_with_scalar_on_wrapped(self, tmp_path):
        _, plain = _fixture_file(tmp_path, seed=44)
        wrapped = wrap_transaction_payload_segment(plain, "zstd")
        scalar = _concat(
            _FileDecoder(TRANSCRIPTS).decode_file("binlog.000001", wrapped)
        )
        fast = decode_segment_fast(wrapped, "binlog.000001", TRANSCRIPTS)
        assert fast is not None
        fast = _concat(fast)
        assert len(fast) == len(scalar) > 0
        for df in (fast, scalar):
            for c in df.columns:
                if str(df[c].dtype).startswith("datetime"):
                    df[c] = df[c].astype("datetime64[ns]")
        pd.testing.assert_frame_equal(
            fast.reset_index(drop=True),
            scalar.reset_index(drop=True),
            check_dtype=False,
        )

    def test_values_match_plain_stream(self, tmp_path):
        _, plain = _fixture_file(tmp_path, seed=44)
        wrapped = wrap_transaction_payload_segment(plain, "zstd")
        a = _concat(decode_segment_fast(plain, "binlog.000001", TRANSCRIPTS))
        b = _concat(decode_segment_fast(wrapped, "binlog.000001", TRANSCRIPTS))
        # pos/next_pos are each file's own coordinates; row_in_event is
        # per-event on the plain stream but transaction-cumulative on the
        # spliced stream (all of a wrapper's events share one pos) —
        # deliberately different values, same total order
        drop = ["pos", "next_pos", "row_in_event"]
        pd.testing.assert_frame_equal(a.drop(columns=drop), b.drop(columns=drop))
        # the spliced row_in_event must strictly increase within a pos run
        # (that is what keeps (gtid_seq, pos, row_in_event) a total order)
        for _, grp in b.groupby("pos"):
            r = grp["row_in_event"].tolist()
            assert r == sorted(r) and len(set(r)) == len(r)

    def test_positions_are_wrapper_frame_offsets(self, tmp_path):
        _, plain = _fixture_file(tmp_path, seed=44)
        wrapped = wrap_transaction_payload_segment(plain, "zstd")
        fast = _concat(decode_segment_fast(wrapped, "binlog.000001", TRANSCRIPTS))
        offsets = set()
        pos = FIRST_EVENT_POSITION
        while pos + EVENT_HEADER_SIZE <= len(wrapped):
            offsets.add(pos)
            pos += struct.unpack_from("<I", wrapped, pos + 9)[0]
        assert set(fast["pos"].tolist()) <= offsets
        assert (fast["next_pos"] > fast["pos"]).all()


@pytest.mark.usefixtures("spark")
class TestPayloadReplayE2E:
    def test_replay_wrapped_equals_oracle_and_resumes(self, spark, tmp_path):
        from mysql_cdc_spark.pipeline.replay import Replayer

        txns = generate_changelog(
            n_conversations=30, max_turns=6, n_extra_ops=80, seed=55
        )
        plain_dir = str(tmp_path / "plain")
        paths = write_binlog_files(txns, plain_dir, txns_per_file=30)
        assert len(paths) >= 2

        wrapped_dir = tmp_path / "wrapped"
        wrapped_dir.mkdir()
        import os

        for p in paths:
            with open(p, "rb") as f:
                data = wrap_transaction_payload_segment(f.read(), "zstd")
            with open(wrapped_dir / os.path.basename(p), "wb") as f:
                f.write(data)

        oracle = apply_changelog_oracle(txns)
        store = str(tmp_path / "store")
        rep = Replayer(spark, str(wrapped_dir), store)
        rep.replay()
        state = (
            rep.read_state()
            .orderBy("conv_id", "turn_idx")
            .toPandas()
            .reset_index(drop=True)
        )
        assert len(state) == len(oracle)
        for col in ["conv_id", "turn_idx", "role", "text"]:
            assert state[col].tolist() == oracle[col].tolist(), col

        rep2 = Replayer(spark, str(wrapped_dir), store)
        rep2.replay()
        after = (
            rep2.read_state()
            .orderBy("conv_id", "turn_idx")
            .toPandas()
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(state, after)
