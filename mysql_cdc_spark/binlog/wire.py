"""Wire-protocol scalar functions (F9/F10 in SURVEY.md §2.8) — the pure
byte-level pieces of the reference's connection layer, implemented so the
decode library is complete even though this engine never opens a socket
(the Spark source reads segments/frames; see decoder.py / frames.py).

- password scramble (src/extensions.rs:11-44): sha1/sha256 challenge
  response for mysql_native_password and caching_sha2_password, plus
  the sha256_password / caching_sha2 full-auth payloads (clear password
  over TLS; RSA-OAEP-encrypted XOR-obfuscated password otherwise)
- server response parsers (src/responses/*.rs): ERR packet, EOF packet,
  initial handshake, auth-plugin switch, text-protocol result-set row
- response-type dispatch (responses/response_type.rs,
  extensions.rs:139-146)

All functions take/return plain bytes/str — usable from driver-side
connection code or tests without any Spark dependency.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Optional

from . import kernels as K

# responses/response_type.rs
RESPONSE_OK = 0x00
RESPONSE_ERROR = 0xFF
RESPONSE_END_OF_FILE = 0xFE
RESPONSE_AUTH_PLUGIN_SWITCH = 0xFE

# caching_sha2_password continuation protocol (connect.rs:117-156;
# https://mariadb.com/kb/en/caching_sha2_password-authentication-plugin/)
RESPONSE_AUTH_MORE_DATA = 0x01  # server→client extra-data wrapper
SHA2_FAST_AUTH_SUCCESS = 0x03  # cached scramble matched; OK follows
SHA2_FULL_AUTH_REQUEST = 0x04  # server needs the full password
SHA2_REQUEST_PUBLIC_KEY = b"\x02"  # client asks for the server RSA key

# constants/capability_flags.rs:19,23
SECURE_CONNECTION = 1 << 15
PLUGIN_AUTH = 1 << 19

MYSQL_NATIVE_PASSWORD = "mysql_native_password"
CACHING_SHA2_PASSWORD = "caching_sha2_password"
# the pre-8.0.4 RSA-always plugin (default_authentication_plugin on many
# 5.6-8.0 fleets); the reference refuses it (get_auth_plugin errors) —
# supported here: clear password over TLS, RSA key request otherwise
SHA256_PASSWORD = "sha256_password"
SHA256_REQUEST_PUBLIC_KEY = b"\x01"
# PAM/LDAP backends (authentication_ldap_*, authentication_pam): the
# server-side plugin needs the actual password, so the client sends it
# in the clear — permitted only over an encrypted channel, matching
# libmysqlclient's ENABLE_CLEARTEXT_PLUGIN-over-TLS posture
MYSQL_CLEAR_PASSWORD = "mysql_clear_password"


def _xor(a: bytes, b: bytes) -> bytes:
    """extensions.rs:38-44 (b cycles when shorter)."""
    return bytes(x ^ b[i % len(b)] for i, x in enumerate(a))


def encrypt_password(password: str, scramble: str, auth_plugin: str) -> bytes:
    """Challenge-response hash; extensions.rs:11-24.

    mysql_native_password:  sha1(pw) XOR sha1(scramble ∥ sha1(sha1(pw)))
    caching_sha2_password:  sha256(pw) XOR sha256(scramble ∥ sha256(sha256(pw)))
    """
    if auth_plugin == MYSQL_NATIVE_PASSWORD:
        h = hashlib.sha1
    elif auth_plugin == CACHING_SHA2_PASSWORD:
        h = hashlib.sha256
    else:
        raise ValueError(f"unsupported auth plugin: {auth_plugin}")
    password_hash = h(password.encode()).digest()
    concat_hash = scramble.encode() + h(password_hash).digest()
    return _xor(password_hash, h(concat_hash).digest())


def parse_error_packet(packet: bytes) -> dict:
    """ERR packet body (after the 0xFF type byte); error_packet.rs:14-34.
    A '#sqlstate' marker prefixes the message when present."""
    error_code = struct.unpack_from("<H", packet, 0)[0]
    message = packet[2:].decode("utf-8")
    sql_state: Optional[str] = None
    if message.startswith("#"):
        sql_state = message[1:6]
        message = message[6:]
    return {
        "error_code": error_code,
        "error_message": message,
        "sql_state": sql_state,
    }


def parse_end_of_file_packet(packet: bytes) -> dict:
    """EOF packet body; end_of_file_packet.rs:13-24."""
    warning_count, server_status = struct.unpack_from("<HH", packet, 0)
    return {"warning_count": warning_count, "server_status": server_status}


def _read_null_term(packet: bytes, off: int) -> tuple[str, int]:
    end = packet.index(0, off)
    return packet[off:end].decode("utf-8"), end + 1


def parse_handshake_packet(packet: bytes) -> dict:
    """Initial handshake; handshake_packet.rs:24-76 — including the split
    capability-flag words and the SECURE_CONNECTION scramble tail."""
    protocol_version = packet[0]
    off = 1
    server_version, off = _read_null_term(packet, off)
    connection_id = struct.unpack_from("<I", packet, off)[0]
    off += 4
    scramble, off = _read_null_term(packet, off)
    cap1 = packet[off : off + 2]
    off += 2
    server_collation = packet[off]
    off += 1
    status_flags = struct.unpack_from("<H", packet, off)[0]
    off += 2
    cap2 = packet[off : off + 2]
    off += 2
    auth_plugin_length = packet[off]
    off += 1
    filler = packet[off : off + 6].decode("utf-8", "replace")
    off += 6
    cap3 = packet[off : off + 4]
    off += 4
    server_capabilities = int.from_bytes(cap1 + cap2 + cap3, "little")
    if server_capabilities & SECURE_CONNECTION:
        tail, off = _read_null_term(packet, off)
        scramble += tail
    auth_plugin_name = ""
    if server_capabilities & PLUGIN_AUTH:
        auth_plugin_name, off = _read_null_term(packet, off)
    return {
        "protocol_version": protocol_version,
        "server_version": server_version,
        "connection_id": connection_id,
        "scramble": scramble,
        "server_capabilities": server_capabilities,
        "server_collation": server_collation,
        "status_flags": status_flags,
        "filler": filler,
        "auth_plugin_length": auth_plugin_length,
        "auth_plugin_name": auth_plugin_name,
    }


def parse_auth_switch_packet(packet: bytes) -> dict:
    """Authentication switch request; auth_switch_packet.rs:14-25."""
    name, off = _read_null_term(packet, 0)
    data, _ = _read_null_term(packet, off)
    return {"auth_plugin_name": name, "auth_plugin_data": data}


def parse_result_set_row(packet: bytes) -> list[str]:
    """Text-protocol result-set row (all cells are length-encoded
    strings); result_set_row_packet.rs:12-27 — the shape 'show master
    status' / ledger reads come back in."""
    cells = []
    off = 0
    while off < len(packet):
        cell, off = K.read_len_enc_str(packet, off)
        cells.append(cell)
    return cells


def check_error_packet(packet: bytes, message: str = "") -> None:
    """Raise on an ERR response; extensions.rs:139-146."""
    if packet and packet[0] == RESPONSE_ERROR:
        err = parse_error_packet(packet[1:])
        raise ValueError(f"{message} {err}".strip())


# ---------------------------------------------------------------------------
# MySQL packet framing (S3) — packet_channel.rs:21-40, pure bytes.
# ---------------------------------------------------------------------------

PACKET_HEADER_SIZE = 4  # constants/mod.rs PACKET_HEADER_SIZE
MAX_PACKET_BODY = 0xFFFFFF  # 16 MiB - 1: larger payloads continue


def split_packets(data: bytes) -> list[tuple[bytes, int]]:
    """Split a byte stream into (payload, first_seq) pairs — the
    pure-bytes form of ``PacketChannel::read_packet``
    (packet_channel.rs:21-32): 3-byte LE length + 1-byte sequence, then
    the body. Bodies of exactly 0xFFFFFF bytes continue in the following
    packet (a payload that is an exact multiple ends with an empty
    packet); the reassembled payload carries its first packet's sequence
    number. Raises on a truncated header/body or a stream that ends
    mid-continuation."""
    out: list[tuple[bytes, int]] = []
    pos, n = 0, len(data)
    pending: Optional[tuple[bytearray, int]] = None
    while pos < n:
        if pos + PACKET_HEADER_SIZE > n:
            raise ValueError(f"truncated packet header at offset {pos}")
        size = int.from_bytes(data[pos : pos + 3], "little")
        seq = data[pos + 3]
        body_end = pos + PACKET_HEADER_SIZE + size
        if body_end > n:
            raise ValueError(
                f"truncated packet body at offset {pos} (need {size} bytes)"
            )
        body = data[pos + PACKET_HEADER_SIZE : body_end]
        pos = body_end
        if pending is not None:
            buf, first_seq = pending
            buf += body
            if size < MAX_PACKET_BODY:
                out.append((bytes(buf), first_seq))
                pending = None
        elif size == MAX_PACKET_BODY:
            pending = (bytearray(body), seq)
        else:
            out.append((body, seq))
    if pending is not None:
        raise ValueError("stream ended mid-continuation (>16 MiB payload)")
    return out


def write_packets(payload: bytes, first_seq: int = 0) -> bytes:
    """Inverse of ``split_packets`` for one payload — the pure-bytes form
    of ``PacketChannel::write_packet`` (packet_channel.rs:34-40), with
    >16 MiB payloads split into continuation packets (and an exact
    multiple terminated by an empty packet)."""
    out = bytearray()
    view = memoryview(payload)
    seq = first_seq
    pos = 0
    while True:
        chunk = view[pos : pos + MAX_PACKET_BODY]
        out += len(chunk).to_bytes(3, "little")
        out.append(seq & 0xFF)
        out += chunk
        seq += 1
        pos += len(chunk)
        if len(chunk) < MAX_PACKET_BODY:
            return bytes(out)


def binlog_stream_frames(data: bytes) -> list[bytes]:
    """COM_BINLOG_DUMP reply stream → raw binlog event frames: split the
    packet stream, then dispatch each payload on its response type byte
    (binlog_events.rs:48-57): OK (0x00) wraps one event frame, ERR
    raises, EOF ends the stream. Composes with frames.decode_event_frames
    (the frames become (stream, offset, frame) rows)."""
    frames: list[bytes] = []
    for body, _seq in split_packets(data):
        if not body:
            continue
        rtype = body[0]
        if rtype == RESPONSE_OK:
            frames.append(body[1:])
        elif rtype == RESPONSE_ERROR:
            err = parse_error_packet(body[1:])
            raise ValueError(
                f"server error {err['error_code']}: {err['error_message']}"
            )
        elif rtype == RESPONSE_END_OF_FILE:
            break
        else:
            raise ValueError(f"unexpected response type 0x{rtype:02x}")
    return frames


# ---------------------------------------------------------------------------
# Client command encoders (commands/*.rs) — the write side of E2's connect
# sequence. Pure bytes: compose with write_packets for the framed form.
# ---------------------------------------------------------------------------

COM_QUERY = 3  # command_type.rs:7
COM_BINLOG_DUMP = 18  # command_type.rs:22
COM_REGISTER_SLAVE = 21  # command_type.rs:24
COM_BINLOG_DUMP_GTID = 30  # command_type.rs:25


def encode_query_command(sql: str) -> bytes:
    """COM_QUERY; query_command.rs:14-22 (the 'show master status' /
    heartbeat-period / checksum-negotiation statements ride this)."""
    return bytes([COM_QUERY]) + sql.encode("utf-8")


def encode_dump_binlog_command(
    server_id: int, filename: str, position: int, flags: int = 0
) -> bytes:
    """COM_BINLOG_DUMP; dump_binlog_command.rs:22-33. server_id=0 means
    a non-blocking dump that EOFs at end-of-stream (ST6)."""
    return struct.pack(
        "<BIHI", COM_BINLOG_DUMP, position, flags, server_id
    ) + filename.encode("utf-8")


def encode_register_slave_command(server_id: int) -> bytes:
    """COM_REGISTER_SLAVE with empty host/user/password/port/rank/master
    fields; register_slave_command.rs:15-29 (MariaDB GTID replication
    requires registering before the dump)."""
    return struct.pack(
        "<BIBBBHII", COM_REGISTER_SLAVE, server_id, 0, 0, 0, 0, 0, 0
    )


def encode_dump_binlog_gtid_command(
    server_id: int,
    filename: str,
    position: int,
    gtid_set,
    flags: int = 0,
) -> bytes:
    """COM_BINLOG_DUMP_GTID; dump_binlog_gtid_command.rs:25-61.

    The GTID-set payload stores each interval end EXCLUSIVE
    (``interval.end + 1``, dump_binlog_gtid_command.rs:58) — the same
    wire layout PREVIOUS_GTIDS events use, so
    ``kernels.parse_prev_gtids`` round-trips it exactly.
    """
    out = bytearray(struct.pack("<BHI", COM_BINLOG_DUMP_GTID, flags, server_id))
    fn = filename.encode("utf-8")
    out += struct.pack("<I", len(fn))
    out += fn
    out += struct.pack("<Q", position)
    uuid_sets = list(gtid_set.uuid_sets.values())
    if any(getattr(us, "tag", "") for us in uuid_sets):
        # tagged GTIDs (MySQL 8.4) use a different dump payload encoding;
        # refuse rather than silently dropping the tags
        raise ValueError(
            "COM_BINLOG_DUMP_GTID payload encoding does not support tagged "
            "GTID sets; seed the ledger with the untagged subset"
        )
    data_length = 8 + sum(16 + 8 + len(us.intervals) * 16 for us in uuid_sets)
    out += struct.pack("<IQ", data_length, len(uuid_sets))
    for us in uuid_sets:
        out += us.source_id.data
        out += struct.pack("<Q", len(us.intervals))
        for iv in us.intervals:
            out += struct.pack("<QQ", iv.start, iv.end + 1)
    return bytes(out)


# capability_flags.rs
LONG_FLAG = 1 << 2
CONNECT_WITH_DB = 1 << 3
SSL = 1 << 11
PROTOCOL_41 = 1 << 9


def _null_term(s: str) -> bytes:
    return s.encode("utf-8") + b"\x00"


def encode_authenticate_command(
    username: str,
    password: str,
    scramble: str,
    auth_plugin_name: str,
    database: Optional[str] = None,
    client_collation: int = 33,
    max_packet_size: int = 0,
    use_ssl: bool = False,
) -> bytes:
    """Client handshake response; authenticate_command.rs:49-70.
    Capabilities mirror the reference's fixed set (LONG_FLAG |
    PROTOCOL_41 | SECURE_CONNECTION | PLUGIN_AUTH, plus CONNECT_WITH_DB
    when a database is given, plus SSL over an upgraded channel — the
    response must repeat the SSLRequest's capability word, or a server
    checking the two rejects the login). ``sha256_password`` has no scramble
    response: the auth data is the clear password over TLS, or the
    1-byte RSA public-key request over an insecure channel."""
    caps = LONG_FLAG | PROTOCOL_41 | SECURE_CONNECTION | PLUGIN_AUTH
    if database is not None:
        caps |= CONNECT_WITH_DB
    if use_ssl:
        caps |= SSL
    out = bytearray(struct.pack("<IIB", caps, max_packet_size, client_collation))
    out += bytes(23)  # reserved
    out += _null_term(username)
    if auth_plugin_name == SHA256_PASSWORD:
        enc = (
            clear_password_payload(password)
            if use_ssl
            else SHA256_REQUEST_PUBLIC_KEY
        )
    elif auth_plugin_name == MYSQL_CLEAR_PASSWORD:
        if not use_ssl:
            raise ValueError(
                "mysql_clear_password requires an encrypted channel "
                "(ssl_mode=require or stronger)"
            )
        enc = clear_password_payload(password)
    else:
        enc = encrypt_password(password, scramble, auth_plugin_name)
    out.append(len(enc))
    out += enc
    if database is not None:
        out += _null_term(database)
    out += _null_term(auth_plugin_name)
    return bytes(out)


def encode_auth_plugin_switch_command(
    password: str, scramble: str, auth_plugin_name: str,
    use_ssl: bool = False,
) -> bytes:
    """Response to an auth-plugin-switch request: the re-encrypted
    password (auth_plugin_switch_command.rs:24-31) — except
    ``sha256_password``, whose switch response is the clear password
    over TLS or the RSA public-key request otherwise."""
    if auth_plugin_name == SHA256_PASSWORD:
        return (
            clear_password_payload(password)
            if use_ssl
            else SHA256_REQUEST_PUBLIC_KEY
        )
    if auth_plugin_name == MYSQL_CLEAR_PASSWORD:
        if not use_ssl:
            raise ValueError(
                "mysql_clear_password requires an encrypted channel "
                "(ssl_mode=require or stronger)"
            )
        return clear_password_payload(password)
    return encrypt_password(password, scramble, auth_plugin_name)


def encode_ssl_request_command(
    client_collation: int = 33, max_packet_size: int = 0
) -> bytes:
    """SSLRequest; ssl_request_command.rs:27-38 (same head as the
    handshake response, SSL capability set, no credentials)."""
    caps = LONG_FLAG | PROTOCOL_41 | SECURE_CONNECTION | SSL | PLUGIN_AUTH
    return (
        struct.pack("<IIB", caps, max_packet_size, client_collation)
        + bytes(23)
    )


def clear_password_payload(password: str) -> bytes:
    """caching_sha2 full-auth over a TLS channel: the password in the
    clear, null-terminated (connect.rs:130-139 — safe only because the
    channel is already encrypted)."""
    return password.encode("utf-8") + b"\x00"


def rsa_encrypt_sha2_password(
    password: str, scramble: str, public_key_pem: bytes
) -> bytes:
    """caching_sha2 full-auth over an INSECURE channel
    (connect.rs:141-156): the null-terminated password is XOR-obfuscated
    with the cycled scramble (so the RSA input is never the bare
    password), then encrypted with the server's RSA public key under
    PKCS#1 OAEP — the padding mysqld uses for
    sha256_password_public_key exchanges."""
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import padding as _pad

    plain = _xor(clear_password_payload(password), scramble.encode())
    key = serialization.load_pem_public_key(public_key_pem)
    return key.encrypt(
        plain,
        _pad.OAEP(
            mgf=_pad.MGF1(algorithm=hashes.SHA1()),
            algorithm=hashes.SHA1(),
            label=None,
        ),
    )
