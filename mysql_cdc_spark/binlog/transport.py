"""Live TCP replication transport (connect.rs:19-28, packet_channel.rs).

The reference opens a ``TcpStream`` and wraps it in a ``PacketChannel``
(connect.rs:19-28); every protocol byte above the socket — 3-byte-LE
packet framing, handshake parse, auth in both directions, negotiation
statements, dump commands, event-frame dispatch — already lives in
``wire.py`` / ``connect.py`` as pure functions. This module supplies the
missing channel:

- ``SocketPacketChannel`` — blocking-socket packet reader/writer with
  16 MiB continuation reassembly (packet_channel.rs:21-40) and a real
  TLS upgrade (the reference's ``upgrade_to_ssl`` is
  ``unimplemented!()``);
- ``BinlogSocketClient`` — the reference's exact connect sequence
  (binlog_client.rs:19-65 + configure.rs): handshake → optional
  SSLRequest/TLS upgrade per ``ssl_mode`` (ssl_mode.rs) → authenticate
  (auth-plugin switch; caching_sha2_password fast auth AND full
  authentication — clear password over TLS, RSA public-key exchange
  over plaintext, connect.rs:117-156 — plus sha256_password, which the
  reference refuses outright) → heartbeat/checksum negotiation
  → provider dump dispatch → an iterator of raw binlog event frames;
- ``mirror_stream`` / ``MirrorWriter`` — land the frame stream as
  rotation segment files (ROTATE switches files), the bridge from one
  tailing connection to the distributed file-based Replayer: the
  single-writer tail is I/O-bound byte copying; Spark owns every byte
  after the landing zone;
- ``tail_mirror`` — the resilient form: reconnects on connection loss
  with exponential backoff and resumes the dump from the last fully
  landed (file, position), deduplicating the re-sent rotate/FDE
  preamble, so the landed segments carry every event exactly once
  across any number of separated drops.

The sandbox has no MySQL server, so the tests drive this against an
in-process fake server speaking the same wire protocol over a loopback
socket (tests/test_transport.py) — the bytes on the wire are the ones a
real server sends.
"""

from __future__ import annotations

import os
import socket
from typing import Iterator, Optional

from .constants import ChecksumType, EventType, MAGIC_NUMBER
from .wire import (
    CACHING_SHA2_PASSWORD,
    SHA256_PASSWORD,
    MAX_PACKET_BODY,
    PACKET_HEADER_SIZE,
    RESPONSE_AUTH_MORE_DATA,
    RESPONSE_AUTH_PLUGIN_SWITCH,
    RESPONSE_END_OF_FILE,
    RESPONSE_ERROR,
    RESPONSE_OK,
    SHA2_FAST_AUTH_SUCCESS,
    SHA2_FULL_AUTH_REQUEST,
    SHA2_REQUEST_PUBLIC_KEY,
    SSL as SSL_CAPABILITY,
    check_error_packet,
    clear_password_payload,
    encode_auth_plugin_switch_command,
    encode_authenticate_command,
    encode_ssl_request_command,
    parse_auth_switch_packet,
    parse_error_packet,
    parse_handshake_packet,
    rsa_encrypt_sha2_password,
    write_packets,
)
from .connect import (
    ReplicaOptions,
    checksum_negotiation_commands,
    heartbeat_command,
    mariadb_dump_commands,
    master_status_command,
    mysql_dump_commands,
    read_result_set,
    resolve_master_status,
)


class TransportError(ConnectionError):
    pass


# ssl_mode.rs — strategy names and their escalation order. The reference
# declares the enum but leaves ``upgrade_to_ssl`` unimplemented
# (packet_channel.rs:44-46); here the upgrade is real (stdlib ``ssl``).
SSL_MODES = {
    "disabled": 0,  # unencrypted
    "if_available": 1,  # TLS when the server offers it, else plaintext
    "require": 2,  # TLS, no CA/host verification
    "require_verify_ca": 3,  # TLS + CA verification
    "require_verify_full": 4,  # TLS + CA + hostname verification
}


class SocketPacketChannel:
    """Blocking packet channel over a connected socket — the socket form
    of ``wire.split_packets`` / ``wire.write_packets`` (one packet at a
    time, continuation packets reassembled)."""

    def __init__(self, sock: socket.socket):
        self._sock = sock

    def _read_exact(self, n: int) -> bytes:
        buf = bytearray()
        while len(buf) < n:
            chunk = self._sock.recv(n - len(buf))
            if not chunk:
                raise TransportError(
                    f"connection closed mid-read (wanted {n}, got {len(buf)})"
                )
            buf += chunk
        return bytes(buf)

    def read_packet(self) -> tuple[bytes, int]:
        """One reassembled payload + its first packet's sequence number."""
        payload = bytearray()
        first_seq: Optional[int] = None
        while True:
            header = self._read_exact(PACKET_HEADER_SIZE)
            size = int.from_bytes(header[:3], "little")
            seq = header[3]
            if first_seq is None:
                first_seq = seq
            payload += self._read_exact(size)
            if size < MAX_PACKET_BODY:
                return bytes(payload), first_seq

    def write_payload(self, payload: bytes, first_seq: int = 0) -> None:
        self._sock.sendall(write_packets(payload, first_seq))

    def upgrade_to_ssl(self, context=None, server_hostname=None) -> None:
        """Wrap the connected socket in TLS — the client side of the
        MySQL STARTTLS-style upgrade: called right after the SSLRequest
        preamble is written, before the handshake response
        (connect.rs:44-50; the reference's ``upgrade_to_ssl`` is
        ``unimplemented!()``). Packet framing/sequence state is carried
        by the caller, so the channel just swaps its transport."""
        import ssl as _ssl

        if context is None:  # ssl_mode=require: encrypt, don't verify
            context = _ssl.SSLContext(_ssl.PROTOCOL_TLS_CLIENT)
            context.check_hostname = False
            context.verify_mode = _ssl.CERT_NONE
        self._sock = context.wrap_socket(
            self._sock, server_hostname=server_hostname
        )

    def close(self) -> None:
        try:
            self._sock.close()
        except OSError:
            pass


class BinlogSocketClient:
    """Live replication client over one TCP connection.

    Sequence (binlog_client.rs:19-65): ``connect()`` performs the
    handshake + authentication; ``negotiate()`` sends the heartbeat and
    checksum statements (configure.rs:37-65); ``master_status()``
    resolves the end-of-log position (configure.rs:22-34); ``dump()``
    dispatches the provider command set (mysql_provider.rs /
    mariadb_provider.rs) and returns the event-frame iterator."""

    def __init__(
        self,
        host: str,
        port: int,
        options: ReplicaOptions | None = None,
        provider: str = "mysql",
        connect_timeout_s: float = 10.0,
        ssl_mode: str = "disabled",
        ssl_ca: str | None = None,
    ):
        if ssl_mode not in SSL_MODES:
            raise ValueError(
                f"ssl_mode must be one of {sorted(SSL_MODES)}, "
                f"got {ssl_mode!r}"
            )
        if SSL_MODES[ssl_mode] >= SSL_MODES["require_verify_ca"] and not ssl_ca:
            raise ValueError(f"ssl_mode={ssl_mode!r} needs ssl_ca")
        self.host = host
        self.port = port
        self.options = options or ReplicaOptions()
        self.provider = provider
        self.connect_timeout_s = connect_timeout_s
        self.ssl_mode = ssl_mode
        self.ssl_ca = ssl_ca
        self.channel: Optional[SocketPacketChannel] = None
        self.handshake: Optional[dict] = None

    # -- connection ---------------------------------------------------------

    def _ssl_context(self):
        """Client TLS context per ssl_mode (ssl_mode.rs semantics):
        ``require`` encrypts without verification, ``require_verify_ca``
        pins the CA, ``require_verify_full`` also matches the host."""
        import ssl as _ssl

        level = SSL_MODES[self.ssl_mode]
        ctx = _ssl.SSLContext(_ssl.PROTOCOL_TLS_CLIENT)
        if level >= SSL_MODES["require_verify_ca"]:
            ctx.load_verify_locations(cafile=self.ssl_ca)
            ctx.verify_mode = _ssl.CERT_REQUIRED
            ctx.check_hostname = level >= SSL_MODES["require_verify_full"]
        else:
            ctx.check_hostname = False
            ctx.verify_mode = _ssl.CERT_NONE
        return ctx

    def connect(self) -> dict:
        sock = socket.create_connection(
            (self.host, self.port), timeout=self.connect_timeout_s
        )
        sock.settimeout(self.connect_timeout_s)
        self.channel = SocketPacketChannel(sock)
        payload, seq = self.channel.read_packet()
        check_error_packet(payload, "Initial handshake error.")
        hs = parse_handshake_packet(payload)
        self.handshake = hs
        seq += 1
        # TLS upgrade (connect.rs:38-52): SSLRequest preamble, then wrap;
        # the handshake response and everything after ride encrypted
        use_ssl = False
        level = SSL_MODES[self.ssl_mode]
        if level > SSL_MODES["disabled"]:
            available = bool(hs["server_capabilities"] & SSL_CAPABILITY)
            if not available and level >= SSL_MODES["require"]:
                raise TransportError(
                    "the server does not support SSL encryption "
                    f"(ssl_mode={self.ssl_mode})"
                )
            if available:
                self.channel.write_payload(
                    encode_ssl_request_command(), first_seq=seq
                )
                seq += 1
                # SNI at every level (servers with several certificates
                # pick by it); only require_verify_full checks the name
                self.channel.upgrade_to_ssl(
                    self._ssl_context(), server_hostname=self.host
                )
                use_ssl = True
        plugin = hs["auth_plugin_name"] or "mysql_native_password"
        auth = encode_authenticate_command(
            self.options.username,
            self.options.password,
            hs["scramble"],
            plugin,
            database=self.options.database,
            use_ssl=use_ssl,
        )
        self.channel.write_payload(auth, first_seq=seq)
        reply, rseq = self.channel.read_packet()
        self._finish_auth(reply, rseq, hs["scramble"], plugin, use_ssl)
        return hs

    def _finish_auth(
        self, reply: bytes, rseq: int, scramble: str, plugin: str,
        use_ssl: bool,
    ) -> None:
        """Authentication continuation dispatch (connect.rs:55-110):
        OK / ERR / auth-plugin switch / caching_sha2 extra rounds."""
        if reply and reply[0] == RESPONSE_ERROR:
            err = parse_error_packet(reply[1:])
            raise TransportError(
                f"authentication failed {err['error_code']}: "
                f"{err['error_message']}"
            )
        if not reply:
            raise TransportError("empty authentication reply")
        if reply[0] == RESPONSE_OK:
            return
        if reply[0] == RESPONSE_AUTH_PLUGIN_SWITCH and len(reply) > 1:
            switch = parse_auth_switch_packet(reply[1:])
            self.channel.write_payload(
                encode_auth_plugin_switch_command(
                    self.options.password,
                    switch["auth_plugin_data"],
                    switch["auth_plugin_name"],
                    use_ssl=use_ssl,
                ),
                first_seq=rseq + 1,
            )
            reply, rseq = self.channel.read_packet()
            check_error_packet(reply, "Authentication switch error.")
            if switch["auth_plugin_name"] == CACHING_SHA2_PASSWORD:
                self._sha2_continue(
                    reply, rseq, switch["auth_plugin_data"], use_ssl
                )
                return
            if switch["auth_plugin_name"] == SHA256_PASSWORD:
                self._sha256_continue(
                    reply, rseq, switch["auth_plugin_data"], use_ssl
                )
                return
            if reply[0] != RESPONSE_OK:
                raise TransportError(
                    f"unexpected auth-switch reply 0x{reply[0]:02x}"
                )
            return
        # neither OK nor switch: the plugin-specific continuation
        if plugin == SHA256_PASSWORD:
            self._sha256_continue(reply, rseq, scramble, use_ssl)
        else:
            self._sha2_continue(reply, rseq, scramble, use_ssl)

    def _auth_check(self, packet: bytes, context: str) -> None:
        """ERR during an authentication round → TransportError with the
        server's message (the transport's uniform auth failure type)."""
        if packet and packet[0] == RESPONSE_ERROR:
            err = parse_error_packet(packet[1:])
            raise TransportError(
                f"{context} {err['error_code']}: {err['error_message']}"
            )

    def _sha2_continue(
        self, reply: bytes, rseq: int, scramble: str, use_ssl: bool
    ) -> None:
        """caching_sha2_password fast/full rounds (connect.rs:117-156):
        0x01 0x03 = fast-auth success (cached scramble matched; OK
        follows); 0x01 0x04 = full authentication — the clear password
        over TLS, or the RSA-public-key exchange (XOR-obfuscated
        password, PKCS#1 OAEP) over an insecure channel."""
        if reply[0] == RESPONSE_OK:
            return
        if len(reply) < 2 or reply[0] != RESPONSE_AUTH_MORE_DATA:
            raise TransportError(
                f"unexpected caching_sha2 reply 0x{reply[0]:02x}"
            )
        if reply[1] == SHA2_FAST_AUTH_SUCCESS:
            final, _ = self.channel.read_packet()
            self._auth_check(final, "authentication failed")
            if not final or final[0] != RESPONSE_OK:
                raise TransportError("expected OK after fast-auth success")
            return
        if reply[1] != SHA2_FULL_AUTH_REQUEST:
            raise TransportError(
                f"unexpected caching_sha2 state 0x{reply[1]:02x}"
            )
        if use_ssl:
            # the channel is encrypted: send the password in the clear
            self.channel.write_payload(
                clear_password_payload(self.options.password),
                first_seq=rseq + 1,
            )
            final, _ = self.channel.read_packet()
            self._auth_check(final, "authentication failed")
            if not final or final[0] != RESPONSE_OK:
                raise TransportError("expected OK after clear-password auth")
            return
        # insecure channel: request the server's RSA public key
        self.channel.write_payload(SHA2_REQUEST_PUBLIC_KEY, first_seq=rseq + 1)
        keypkt, kseq = self.channel.read_packet()
        self._auth_check(
            keypkt, "caching_sha2_password public key request failed"
        )
        if not keypkt or keypkt[0] != RESPONSE_AUTH_MORE_DATA:
            raise TransportError("expected AuthMoreData with RSA public key")
        encrypted = rsa_encrypt_sha2_password(
            self.options.password, scramble, bytes(keypkt[1:])
        )
        self.channel.write_payload(encrypted, first_seq=kseq + 1)
        final, _ = self.channel.read_packet()
        self._auth_check(final, "authentication failed")
        if not final or final[0] != RESPONSE_OK:
            raise TransportError("expected OK after RSA full authentication")

    def _sha256_continue(
        self, reply: bytes, rseq: int, scramble: str, use_ssl: bool
    ) -> None:
        """sha256_password continuation (beyond-reference — the
        reference's get_auth_plugin refuses the plugin): over TLS the
        handshake response already carried the clear password, so the
        reply is OK/ERR; over plaintext it carried the 1-byte public-key
        request, the server answers AuthMoreData + PEM, and the client
        sends the XOR-obfuscated password RSA-encrypted (same OAEP
        exchange as caching_sha2 full auth)."""
        if reply[0] == RESPONSE_OK:
            return
        if reply[0] != RESPONSE_AUTH_MORE_DATA or len(reply) < 2:
            raise TransportError(
                f"unexpected sha256_password reply 0x{reply[0]:02x}"
            )
        encrypted = rsa_encrypt_sha2_password(
            self.options.password, scramble, bytes(reply[1:])
        )
        self.channel.write_payload(encrypted, first_seq=rseq + 1)
        final, _ = self.channel.read_packet()
        self._auth_check(final, "authentication failed")
        if not final or final[0] != RESPONSE_OK:
            raise TransportError("expected OK after sha256_password RSA auth")

    def _require_channel(self) -> SocketPacketChannel:
        if self.channel is None:
            raise TransportError("not connected (call connect() first)")
        return self.channel

    # -- command exchanges (each command restarts the sequence at 0) --------

    def command_ok(self, command: bytes) -> None:
        ch = self._require_channel()
        ch.write_payload(command, first_seq=0)
        reply, _ = ch.read_packet()
        check_error_packet(reply, "Command error.")
        if not reply or reply[0] != RESPONSE_OK:
            raise TransportError("expected OK packet")

    def command_rows(self, command: bytes) -> list[list[str]]:
        ch = self._require_channel()
        ch.write_payload(command, first_seq=0)

        def payloads() -> Iterator[bytes]:
            while True:
                payload, _ = ch.read_packet()
                yield payload

        return read_result_set(payloads())

    def negotiate(self) -> str:
        """Heartbeat period + checksum negotiation (configure.rs:37-65);
        returns the server's binlog_checksum value ('CRC32'/'NONE')."""
        self.command_ok(heartbeat_command(self.options.heartbeat_interval_s))
        set_stmt, select_stmt = checksum_negotiation_commands()
        self.command_ok(set_stmt)
        rows = self.command_rows(select_stmt)
        return rows[0][0] if rows and rows[0] else "NONE"

    def master_status(self) -> tuple[str, int]:
        return resolve_master_status(self.command_rows(master_status_command()))

    # -- the dump stream ----------------------------------------------------

    def dump(
        self,
        filename: str,
        position: int,
        gtid_set=None,
        gtid_list_text: Optional[str] = None,
    ) -> Iterator[bytes]:
        """Dispatch the provider's dump command set and yield raw binlog
        event frames (19-byte header + payload, checksum included) until
        the server EOFs (non-blocking dump) or the connection closes."""
        if self.provider == "mariadb":
            cmds = mariadb_dump_commands(
                self.options, filename, position, gtid_list_text
            )
        else:
            cmds = mysql_dump_commands(
                self.options, filename, position, gtid_set
            )
        for cmd in cmds[:-1]:
            self.command_ok(cmd)
        ch = self._require_channel()
        ch.write_payload(cmds[-1], first_seq=0)
        return self._frames(ch)

    @staticmethod
    def _frames(ch: SocketPacketChannel) -> Iterator[bytes]:
        # binlog_events.rs:48-57 dispatch, streaming form of
        # wire.binlog_stream_frames
        while True:
            payload, _ = ch.read_packet()
            if not payload:
                continue
            rtype = payload[0]
            if rtype == RESPONSE_OK:
                yield payload[1:]
            elif rtype == RESPONSE_ERROR:
                err = parse_error_packet(payload[1:])
                raise TransportError(
                    f"server error {err['error_code']}: {err['error_message']}"
                )
            elif rtype == RESPONSE_END_OF_FILE:
                return
            else:
                raise TransportError(f"unexpected response type 0x{rtype:02x}")

    def close(self) -> None:
        if self.channel is not None:
            self.channel.close()
            self.channel = None


def rotate_target(frame: bytes, checksum_type: int) -> str:
    """Filename carried by a ROTATE event frame (rotate_event.rs:
    8-byte next-position then the name, CRC32 trailer per the negotiated
    checksum)."""
    end = len(frame) - (4 if checksum_type == ChecksumType.CRC32 else 0)
    return frame[19 + 8 : end].decode("utf-8")


class MirrorWriter:
    """Stateful segment-file writer for a dump stream, supporting
    mid-file append resume after a reconnect.

    Rotate semantics mirror the server's relay behavior: a ROTATE event
    that arrives while a file is open is the END of that file — it is
    written into it (binlog files carry their trailing rotate) and the
    next non-rotate frame opens the target file. A ROTATE with no file
    open (the dump's initial fake rotate) only names the first file; the
    landed first segment starts with its FDE, like the source file. A
    trailing rotate with no events after it creates no empty file.

    Because frames land verbatim after the MAGIC prefix, a mirrored
    file is byte-identical to the source binlog file and the write
    offset IS the binlog position — ``resume_point()`` needs no header
    parsing. After a connection loss, ``begin_resume()`` arms a
    preamble skip for the re-dump from that point: the server re-sends
    an artificial ROTATE naming the current file (a real trailing
    rotate always names the NEXT file, so the two cannot be confused)
    and the file's FORMAT_DESCRIPTION; both are already on disk and are
    dropped instead of duplicated."""

    def __init__(
        self,
        out_dir: str,
        checksum_type: int = ChecksumType.CRC32,
        initial_filename: str = "mirror.000001",
        fsync: bool = False,
        verify_checksum: bool = True,
    ):
        os.makedirs(out_dir, exist_ok=True)
        self.out_dir = out_dir
        self.checksum_type = checksum_type
        self.fsync = fsync
        # replica-side CRC verification (slave_sql_verify_checksum
        # semantics): a frame corrupted in flight must stop the tail
        # with a positioned error, not land in the mirror
        self.verify_checksum = verify_checksum and (
            checksum_type == ChecksumType.CRC32
        )
        self.paths: list[str] = []
        self._fh = None
        self._next_name = initial_filename
        self._current_name: Optional[str] = None
        self._pos = 0  # byte offset in the open file == binlog position
        self._skip_preamble = False
        self._wrote_any = False

    # -- resume protocol ----------------------------------------------------

    def resume_point(self) -> Optional[tuple[str, int]]:
        """(filename, position) a reconnecting dump should restart from,
        or None if nothing has been landed yet (restart from the
        original arguments)."""
        if not self._wrote_any:
            return None
        if self._fh is None:  # between files: the next file, from its top
            return (self._next_name, 4)
        return (self._current_name, self._pos)

    def begin_resume(self) -> None:
        """Arm the duplicate-preamble skip for the next frames; only
        needed when appending into a half-written file (between files
        the artificial rotate is naturally a no-op)."""
        self._skip_preamble = self._fh is not None

    # -- writing ------------------------------------------------------------

    def _close_file(self) -> None:
        if self._fh is not None:
            if self.fsync:
                self._fh.flush()
                os.fsync(self._fh.fileno())
            self._fh.close()
            self._fh = None
            self._current_name = None

    def write(self, frame: bytes) -> None:
        etype = frame[4] if len(frame) > 4 else -1
        if etype in (EventType.HEARTBEAT, EventType.MYSQL_HEARTBEAT_V2):
            # idle-connection keepalives on a blocking dump: the server
            # never writes them to the binlog, so a mirrored segment must
            # not carry them either — they would break byte-identity with
            # the source file and corrupt the offset==position invariant
            return
        if self.verify_checksum and len(frame) >= 23:
            import struct as _struct
            import zlib as _zlib

            want = _struct.unpack_from("<I", frame, len(frame) - 4)[0]
            if _zlib.crc32(frame[:-4]) & 0xFFFFFFFF != want:
                where = (
                    f"{self._current_name}:{self._pos}"
                    if self._current_name
                    else self._next_name
                )
                raise TransportError(
                    f"CRC32 mismatch on event type {etype} arriving at "
                    f"{where}: frame corrupted in flight"
                )
        if etype == EventType.ROTATE:
            target = rotate_target(frame, self.checksum_type)
            if self._skip_preamble and target == self._current_name:
                return  # resume re-announcement of the open file
            if self._fh is not None:
                self._fh.write(frame)  # a file's trailing rotate is content
                self._pos += len(frame)
                self._close_file()
            self._next_name = target
            self._wrote_any = True
            return
        if (
            self._skip_preamble
            and etype == EventType.FORMAT_DESCRIPTION
            and self._fh is not None
            and self._pos > len(MAGIC_NUMBER)
        ):
            self._skip_preamble = False
            return  # re-sent descriptor; the file already carries its FDE
        self._skip_preamble = False
        if self._fh is None:
            path = os.path.join(self.out_dir, self._next_name)
            self._fh = open(path, "wb")
            self._fh.write(MAGIC_NUMBER)
            self._pos = len(MAGIC_NUMBER)
            self._current_name = self._next_name
            self.paths.append(path)
        self._fh.write(frame)
        self._pos += len(frame)
        self._wrote_any = True

    def close(self) -> None:
        self._close_file()


def mirror_stream(
    frames: Iterator[bytes],
    out_dir: str,
    checksum_type: int = ChecksumType.CRC32,
    initial_filename: str = "mirror.000001",
    fsync: bool = False,
) -> list[str]:
    """Land a dump stream as rotation segment files for the distributed
    Replayer: a ROTATE event switches the output file to its carried
    name (the server resends the new file's FORMAT_DESCRIPTION right
    after, so every landed segment is MAGIC + FDE + events — byte-shape
    identical to the on-disk binlog). Returns the written paths in
    order. The landing tail is a single-writer byte copy; everything
    downstream (decode, LWW, MERGE) runs distributed from the files.

    ``checksum_type`` must be the negotiated value
    (``BinlogSocketClient.negotiate``): ROTATE frames carry a CRC32
    trailer exactly when the stream does, and the filename sits flush
    against it. Single-connection form of ``tail_mirror`` (rotate
    semantics documented on ``MirrorWriter``)."""
    writer = MirrorWriter(out_dir, checksum_type, initial_filename, fsync)
    try:
        for frame in frames:
            writer.write(frame)
    finally:
        writer.close()
    return writer.paths


def tail_mirror(
    connect,
    out_dir: str,
    start_file: str = "",
    start_pos: int = 4,
    checksum_type: int = ChecksumType.CRC32,
    initial_filename: str = "mirror.000001",
    fsync: bool = False,
    max_retries: int = 5,
    backoff_s: float = 0.05,
    sleep=None,
) -> list[str]:
    """Resilient live tail: dump → mirror, reconnecting on connection
    loss and resuming from the last fully-landed event so the landed
    segment files carry every event exactly once regardless of where
    the connection died (the real-world failure mode of a replication
    client; the reference surfaces it as the retry loop around
    ``BinlogClient.replicate``).

    ``connect`` is a zero-argument factory returning a CONNECTED and
    negotiated ``BinlogSocketClient`` — the caller owns credentials,
    provider choice, and negotiation; this loop owns only retry and
    resume. The retry budget refreshes whenever a connection makes
    progress (lands at least one frame), so a long-lived tail survives
    any number of separated drops while a hard-down server still fails
    after ``max_retries`` straight dead connections. Backoff doubles
    per consecutive failure. Returns the landed paths after a clean
    server EOF (non-blocking dump); a blocking dump never returns."""
    import time as _time

    do_sleep = sleep if sleep is not None else _time.sleep
    writer = MirrorWriter(out_dir, checksum_type, initial_filename, fsync)
    file, pos = start_file, start_pos
    failures = 0
    try:
        while True:
            try:
                client = connect()
            except (ConnectionError, OSError) as exc:
                failures += 1
                if failures > max_retries:
                    raise TransportError(
                        f"tail gave up after {failures} consecutive "
                        f"connection failures: {exc}"
                    ) from exc
                do_sleep(backoff_s * (2 ** (failures - 1)))
                continue
            progressed = False
            try:
                for frame in client.dump(file, pos):
                    writer.write(frame)
                    progressed = True
                return writer.paths  # clean EOF
            except (ConnectionError, OSError) as exc:  # incl. TransportError
                if progressed:
                    failures = 0
                failures += 1
                if failures > max_retries:
                    raise TransportError(
                        f"tail gave up after {failures} consecutive "
                        f"dead connections: {exc}"
                    ) from exc
                do_sleep(backoff_s * (2 ** (failures - 1)))
                resume = writer.resume_point()
                if resume is not None:
                    file, pos = resume
                    writer.begin_resume()
            finally:
                client.close()
    finally:
        writer.close()
