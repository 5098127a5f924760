"""Wire-protocol scalar functions (F9/F10): password scramble + server
response parsers, against synthetic packets built to the documented
layouts (no socket in scope — these are pure byte functions)."""

from __future__ import annotations

import hashlib
import struct

import pytest

from mysql_cdc_spark.binlog.wire import (
    CACHING_SHA2_PASSWORD,
    MYSQL_NATIVE_PASSWORD,
    PLUGIN_AUTH,
    SECURE_CONNECTION,
    check_error_packet,
    encrypt_password,
    parse_auth_switch_packet,
    parse_end_of_file_packet,
    parse_error_packet,
    parse_handshake_packet,
    parse_result_set_row,
)


class TestScramble:
    def test_native_password_formula(self):
        """sha1(pw) XOR sha1(scramble ∥ sha1(sha1(pw))) — computed here
        independently with hashlib primitives (extensions.rs:13-17)."""
        pw, scr = "secret_pw", "12345678901234567890"
        h1 = hashlib.sha1(pw.encode()).digest()
        want = bytes(
            a ^ b
            for a, b in zip(
                h1, hashlib.sha1(scr.encode() + hashlib.sha1(h1).digest()).digest()
            )
        )
        assert encrypt_password(pw, scr, MYSQL_NATIVE_PASSWORD) == want
        assert len(want) == 20

    def test_caching_sha2_formula(self):
        pw, scr = "pw", "abcdefghijabcdefghij"
        h1 = hashlib.sha256(pw.encode()).digest()
        want = bytes(
            a ^ b
            for a, b in zip(
                h1, hashlib.sha256(scr.encode() + hashlib.sha256(h1).digest()).digest()
            )
        )
        assert encrypt_password(pw, scr, CACHING_SHA2_PASSWORD) == want
        assert len(want) == 32

    def test_unknown_plugin_raises(self):
        with pytest.raises(ValueError):
            encrypt_password("x", "y", "sha256_password")


class TestResponses:
    def test_error_packet_with_sqlstate(self):
        body = struct.pack("<H", 1236) + b"#HY000Could not find first log file"
        got = parse_error_packet(body)
        assert got == {
            "error_code": 1236,
            "sql_state": "HY000",
            "error_message": "Could not find first log file",
        }

    def test_error_packet_without_sqlstate(self):
        got = parse_error_packet(struct.pack("<H", 1045) + b"Access denied")
        assert got["sql_state"] is None and got["error_message"] == "Access denied"

    def test_check_error_packet(self):
        ok = b"\x00rest"
        check_error_packet(ok)  # no raise
        err = b"\xff" + struct.pack("<H", 1236) + b"#HY000boom"
        with pytest.raises(ValueError, match="1236"):
            check_error_packet(err, "replication failed:")

    def test_eof_packet(self):
        assert parse_end_of_file_packet(struct.pack("<HH", 2, 0x0022)) == {
            "warning_count": 2,
            "server_status": 0x0022,
        }

    def test_auth_switch(self):
        pkt = b"caching_sha2_password\x00scramble-data-here\x00"
        assert parse_auth_switch_packet(pkt) == {
            "auth_plugin_name": "caching_sha2_password",
            "auth_plugin_data": "scramble-data-here",
        }

    def test_result_set_row(self):
        # 'show master status'-shaped row: file, position, ...
        def lenc(s: bytes) -> bytes:
            return bytes([len(s)]) + s

        pkt = lenc(b"mysql-bin.000042") + lenc(b"154") + lenc(b"") + lenc(b"")
        assert parse_result_set_row(pkt) == ["mysql-bin.000042", "154", "", ""]

    def test_handshake_roundtrip(self):
        caps = SECURE_CONNECTION | PLUGIN_AUTH | 0x0000F7FF
        cap_bytes = caps.to_bytes(8, "little")
        scr1, scr2 = b"12345678", b"901234567890"
        pkt = (
            bytes([10])
            + b"8.0.36\x00"
            + struct.pack("<I", 777)
            + scr1 + b"\x00"
            + cap_bytes[0:2]
            + bytes([45])
            + struct.pack("<H", 2)
            + cap_bytes[2:4]
            + bytes([21])
            + b"\x00" * 6
            + cap_bytes[4:8]
            + scr2 + b"\x00"
            + b"mysql_native_password\x00"
        )
        got = parse_handshake_packet(pkt)
        assert got["protocol_version"] == 10
        assert got["server_version"] == "8.0.36"
        assert got["connection_id"] == 777
        assert got["scramble"] == (scr1 + scr2).decode()  # SECURE_CONNECTION tail
        assert got["server_capabilities"] == caps
        assert got["server_collation"] == 45
        assert got["status_flags"] == 2
        assert got["auth_plugin_name"] == "mysql_native_password"


class TestPacketFraming:
    """S3: 3-byte LE length + sequence framing with 16 MiB continuation
    reassembly (packet_channel.rs:21-40), pure bytes."""

    def test_roundtrip_small(self):
        from mysql_cdc_spark.binlog.wire import split_packets, write_packets

        stream = (
            write_packets(b"hello", 0)
            + write_packets(b"", 1)
            + write_packets(b"world!", 2)
        )
        assert split_packets(stream) == [(b"hello", 0), (b"", 1), (b"world!", 2)]

    def test_roundtrip_over_16mb(self):
        from mysql_cdc_spark.binlog.wire import (
            MAX_PACKET_BODY,
            split_packets,
            write_packets,
        )

        big = bytes(range(256)) * 66000  # ~16.9 MB, > one packet body
        assert len(big) > MAX_PACKET_BODY
        stream = write_packets(b"pre", 0) + write_packets(big, 1) + write_packets(b"post", 3)
        got = split_packets(stream)
        assert [(len(p), s) for p, s in got] == [(3, 0), (len(big), 1), (4, 3)]
        assert got[1][0] == big

    def test_exact_multiple_terminated_by_empty_packet(self):
        from mysql_cdc_spark.binlog.wire import (
            MAX_PACKET_BODY,
            split_packets,
            write_packets,
        )

        payload = b"\xab" * MAX_PACKET_BODY
        stream = write_packets(payload, 5)
        # encoded as one full packet + one empty continuation
        assert stream[-4:] == b"\x00\x00\x00\x06"
        assert split_packets(stream) == [(payload, 5)]

    def test_truncation_raises(self):
        from mysql_cdc_spark.binlog.wire import split_packets, write_packets

        stream = write_packets(b"abcdef", 0)
        with pytest.raises(ValueError, match="truncated packet body"):
            split_packets(stream[:-2])
        with pytest.raises(ValueError, match="truncated packet header"):
            split_packets(stream + b"\x05\x00")
        full = b"\xff\xff\xff\x00" + b"x" * 0xFFFFFF
        with pytest.raises(ValueError, match="mid-continuation"):
            split_packets(full)

    def test_binlog_stream_composes_with_frame_decode(self, spark):
        """End-to-end wire composition: binlog events wrapped as OK-typed
        dump-reply packets → split_packets → binlog_stream_frames →
        decode_event_frames must equal the file-path decode."""
        from mysql_cdc_spark.binlog.frames import (
            decode_event_frames,
            split_segment_frames,
        )
        from mysql_cdc_spark.binlog.wire import binlog_stream_frames, write_packets
        from mysql_cdc_spark.fixtures import generate_changelog, write_binlog_files
        import os
        import tempfile

        txns = generate_changelog(n_conversations=8, max_turns=4, n_extra_ops=15, seed=17)
        outdir = tempfile.mkdtemp(prefix="wire_e2e_")
        (path,) = write_binlog_files(txns, outdir, txns_per_file=len(txns))
        with open(path, "rb") as f:
            content = f.read()
        file_frames = split_segment_frames(content)

        # server side: each event frame rides one OK packet; EOF ends
        stream = b""
        for i, (_pos, frame) in enumerate(file_frames):
            stream += write_packets(b"\x00" + frame, i % 256)
        stream += write_packets(b"\xfe\x00\x00\x00\x00", (len(file_frames)) % 256)

        wire_frames = binlog_stream_frames(stream)
        assert wire_frames == [f for _p, f in file_frames]

        rows = [("net", i, bytearray(f)) for i, f in enumerate(wire_frames)]
        frames_df = spark.createDataFrame(rows, "stream string, offset long, frame binary")
        via_wire = decode_event_frames(frames_df)
        from mysql_cdc_spark.binlog.decoder import decode_binlog_dir

        via_file = decode_binlog_dir(spark, outdir)
        a = via_file.orderBy("pos", "row_in_event").select("op", "gtid_seq", "after_text").toPandas()
        b = via_wire.orderBy("pos", "row_in_event").select("op", "gtid_seq", "after_text").toPandas()
        assert a["after_text"].tolist() == b["after_text"].tolist()
        assert a["op"].tolist() == b["op"].tolist()

    def test_error_packet_in_stream_raises(self):
        from mysql_cdc_spark.binlog.wire import binlog_stream_frames, write_packets

        err_body = b"\xff" + struct.pack("<H", 1236) + b"#HY000Could not find first log"
        with pytest.raises(ValueError, match="1236"):
            binlog_stream_frames(write_packets(err_body, 0))


class TestPacketFramingProperties:
    def test_roundtrip_fuzz(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from mysql_cdc_spark.binlog.wire import split_packets, write_packets

        @settings(max_examples=200, deadline=None)
        @given(
            st.lists(st.binary(min_size=0, max_size=2048), min_size=0, max_size=8),
            st.integers(min_value=0, max_value=255),
        )
        def check(payloads, seq0):
            stream = b"".join(
                write_packets(p, (seq0 + i) % 256) for i, p in enumerate(payloads)
            )
            got = split_packets(stream)
            assert [p for p, _ in got] == payloads
            assert [s for _, s in got] == [(seq0 + i) % 256 for i in range(len(payloads))]

        check()


class TestCommandEncoders:
    """commands/*.rs layouts, byte-for-byte."""

    def test_query_and_dump(self):
        from mysql_cdc_spark.binlog.wire import (
            encode_dump_binlog_command,
            encode_query_command,
            encode_register_slave_command,
        )

        assert encode_query_command("show master status") == (
            b"\x03show master status"
        )
        cmd = encode_dump_binlog_command(65535, "mysql-bin.000004", 4)
        assert cmd[0] == 18
        assert struct.unpack_from("<I", cmd, 1)[0] == 4  # position
        assert struct.unpack_from("<H", cmd, 5)[0] == 0  # flags
        assert struct.unpack_from("<I", cmd, 7)[0] == 65535  # server_id
        assert cmd[11:] == b"mysql-bin.000004"
        reg = encode_register_slave_command(7)
        assert reg[0] == 21 and len(reg) == 1 + 4 + 3 + 2 + 4 + 4
        assert struct.unpack_from("<I", reg, 1)[0] == 7

    def test_dump_gtid_roundtrips_via_prev_gtids_parser(self):
        """The command's GTID-set payload uses the PREVIOUS_GTIDS wire
        layout with EXCLUSIVE interval ends (interval.end + 1,
        dump_binlog_gtid_command.rs:58) — parse it back with the event
        parser and require text equality."""
        from mysql_cdc_spark.binlog.kernels import parse_prev_gtids
        from mysql_cdc_spark.binlog.wire import encode_dump_binlog_gtid_command
        from mysql_cdc_spark.gtid import GtidSet

        text = (
            "24bc7850-2c16-11e6-a073-0242ac110001:1-100:200-250,"
            "7c2de1c4-0e21-11e6-a8d6-0242ac110002:1-19"
        )
        gset = GtidSet.parse(text)
        cmd = encode_dump_binlog_gtid_command(99, "binlog.000007", 4, gset)
        assert cmd[0] == 30
        fn_len = struct.unpack_from("<I", cmd, 7)[0]
        assert cmd[11 : 11 + fn_len] == b"binlog.000007"
        pos = struct.unpack_from("<Q", cmd, 11 + fn_len)[0]
        assert pos == 4
        data_len = struct.unpack_from("<I", cmd, 19 + fn_len)[0]
        payload = cmd[23 + fn_len :]
        assert len(payload) == data_len
        assert str(parse_prev_gtids(payload)) == str(gset)


class TestAuthCommands:
    def test_authenticate_command_layout(self):
        import hashlib

        from mysql_cdc_spark.binlog.wire import (
            CONNECT_WITH_DB,
            LONG_FLAG,
            PROTOCOL_41,
            encode_authenticate_command,
        )

        scramble = "abcdefghijklmnopqrst"  # 20 chars like a real handshake
        cmd = encode_authenticate_command(
            "repl", "secret", scramble, MYSQL_NATIVE_PASSWORD, database="chat"
        )
        caps = struct.unpack_from("<I", cmd, 0)[0]
        assert caps & PROTOCOL_41 and caps & SECURE_CONNECTION
        assert caps & PLUGIN_AUTH and caps & LONG_FLAG and caps & CONNECT_WITH_DB
        assert cmd[8] == 33  # collation
        assert cmd[9:32] == bytes(23)  # reserved
        rest = cmd[32:]
        assert rest.startswith(b"repl\x00")
        rest = rest[5:]
        n = rest[0]
        assert n == 20  # sha1 digest length
        expected = encrypt_password("secret", scramble, MYSQL_NATIVE_PASSWORD)
        assert rest[1 : 1 + n] == expected
        assert rest[1 + n :] == b"chat\x00" + MYSQL_NATIVE_PASSWORD.encode() + b"\x00"
        # without a database: no CONNECT_WITH_DB, no db field
        cmd2 = encode_authenticate_command(
            "repl", "secret", scramble, MYSQL_NATIVE_PASSWORD
        )
        assert not struct.unpack_from("<I", cmd2, 0)[0] & CONNECT_WITH_DB
        assert b"chat" not in cmd2

    def test_handshake_response_repeats_ssl_capability(self):
        """Over TLS the handshake response carries the SSLRequest's
        capability word, CLIENT_SSL included; in plaintext it does not."""
        from mysql_cdc_spark.binlog.wire import (
            SSL,
            encode_authenticate_command,
            encode_ssl_request_command,
        )

        scramble = "abcdefghijklmnopqrst"
        req_caps = struct.unpack_from("<I", encode_ssl_request_command(), 0)[0]
        tls = encode_authenticate_command(
            "repl", "secret", scramble, CACHING_SHA2_PASSWORD, use_ssl=True
        )
        assert struct.unpack_from("<I", tls, 0)[0] == req_caps
        plain = encode_authenticate_command(
            "repl", "secret", scramble, CACHING_SHA2_PASSWORD
        )
        assert struct.unpack_from("<I", plain, 0)[0] == req_caps & ~SSL

    def test_ssl_request_and_plugin_switch(self):
        from mysql_cdc_spark.binlog.wire import (
            SSL,
            encode_auth_plugin_switch_command,
            encode_ssl_request_command,
        )

        req = encode_ssl_request_command()
        assert len(req) == 32
        assert struct.unpack_from("<I", req, 0)[0] & SSL
        sw = encode_auth_plugin_switch_command(
            "secret", "abcdefghijklmnopqrst", CACHING_SHA2_PASSWORD
        )
        assert sw == encrypt_password(
            "secret", "abcdefghijklmnopqrst", CACHING_SHA2_PASSWORD
        )


class TestNegotiation:
    """configure.rs / provider dispatch as pure command scripts."""

    def test_heartbeat_and_checksum_statements(self):
        from mysql_cdc_spark.binlog.connect import (
            checksum_negotiation_commands,
            heartbeat_command,
        )

        assert heartbeat_command(30.0) == (
            b"\x03set @master_heartbeat_period=30000000000"
        )
        a, b = checksum_negotiation_commands()
        assert a == b"\x03SET @master_binlog_checksum= @@global.binlog_checksum"
        assert b == b"\x03SELECT @master_binlog_checksum"

    def test_provider_dispatch(self):
        from mysql_cdc_spark.binlog.connect import (
            ReplicaOptions,
            mariadb_dump_commands,
            mysql_dump_commands,
        )
        from mysql_cdc_spark.gtid import GtidSet

        opts = ReplicaOptions(server_id=42, blocking=True)
        (plain,) = mysql_dump_commands(opts, "mysql-bin.000001", 4)
        assert plain[0] == 18
        # non-blocking dump sends server_id = 0 (ST6)
        nb = ReplicaOptions(server_id=42, blocking=False)
        (plain_nb,) = mysql_dump_commands(nb, "mysql-bin.000001", 4)
        assert struct.unpack_from("<I", plain_nb, 7)[0] == 0

        gset = GtidSet.parse("24bc7850-2c16-11e6-a073-0242ac110001:1-5")
        (gtid_cmd,) = mysql_dump_commands(opts, "", 4, gtid_set=gset)
        assert gtid_cmd[0] == 30

        seq = mariadb_dump_commands(opts, "binlog.000001", 4, gtid_list_text="0-1-44")
        texts = [c[1:].decode() for c in seq if c[0] == 3]
        assert texts == [
            "SET @mariadb_slave_capability=4",
            "SET @slave_connect_state='0-1-44'",
            "SET @slave_gtid_strict_mode=0",
            "SET @slave_gtid_ignore_duplicates=0",
        ]
        assert seq[-2][0] == 21  # COM_REGISTER_SLAVE precedes the dump
        assert seq[-1][0] == 18

    def test_read_result_set_and_from_end_resolution(self):
        from mysql_cdc_spark.binlog import kernels as K
        from mysql_cdc_spark.binlog.connect import (
            read_result_set,
            resolve_master_status,
        )

        def row(cells):
            out = b""
            for c in cells:
                b_ = c.encode()
                out += K.write_len_enc_num(len(b_)) + b_
            return out

        eof = b"\xfe\x00\x00\x00\x00"
        payloads = [
            b"\x02",                    # column count
            row(["File"]), row(["Position"]),  # metadata (skipped)
            eof,
            row(["mysql-bin.000042", "1077"]),
            eof,
        ]
        rows = read_result_set(payloads)
        assert rows == [["mysql-bin.000042", "1077"]]
        assert resolve_master_status(rows) == ("mysql-bin.000042", 1077)

        err = [b"\xff" + struct.pack("<H", 1045) + b"#28000Access denied"]
        with pytest.raises(ValueError, match="1045"):
            read_result_set(err)
