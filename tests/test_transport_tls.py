"""TLS transport + caching_sha2_password full authentication
(binlog/transport.py) against the wire-exact fake server.

The reference declares the SslMode enum and the caching_sha2 RSA
exchange (ssl_mode.rs, connect.rs:117-156) but leaves the TLS upgrade
unimplemented (packet_channel.rs:44-46); here both are real: the
SSLRequest preamble → ``ssl``-wrapped channel → encrypted handshake
response, and the three caching_sha2 outcomes — fast-auth success,
full auth with the clear password over TLS, full auth with the
XOR-obfuscated password RSA-encrypted (PKCS#1 OAEP) over plaintext.
"""

from __future__ import annotations

import os
import ssl

import pytest

from mysql_cdc_spark.binlog.connect import ReplicaOptions
from mysql_cdc_spark.binlog.transport import (
    BinlogSocketClient,
    TransportError,
)
from mysql_cdc_spark.fixtures import generate_changelog, write_binlog_files

from fake_mysql_server import FakeMySqlServer, make_ssl_material


@pytest.fixture(scope="module")
def source_binlog(tmp_path_factory):
    txns = generate_changelog(
        n_conversations=10, max_turns=4, n_extra_ops=20, seed=33
    )
    outdir = str(tmp_path_factory.mktemp("tls_binlog"))
    paths = write_binlog_files(txns, outdir, txns_per_file=30)
    return outdir, [os.path.basename(p) for p in paths]


@pytest.fixture(scope="module")
def ssl_material(tmp_path_factory):
    return make_ssl_material(str(tmp_path_factory.mktemp("tls_pki")))


def _client(server, ssl_mode="disabled", ssl_ca=None, password="secret"):
    opts = ReplicaOptions(username="repl", password=password, blocking=False)
    return BinlogSocketClient(
        "127.0.0.1", server.port, opts, ssl_mode=ssl_mode, ssl_ca=ssl_ca
    )


# ------------------------------------------------------------------ TLS


def test_ssl_require_encrypts_and_authenticates(source_binlog, ssl_material):
    outdir, names = source_binlog
    ctx, _ = ssl_material
    with FakeMySqlServer(outdir, ssl_context=ctx) as srv:
        client = _client(srv, ssl_mode="require")
        client.connect()
        # the channel really upgraded: the socket is an SSLSocket
        assert isinstance(client.channel._sock, ssl.SSLSocket)
        assert client.channel._sock.version() is not None
        # commands and result sets ride the encrypted channel
        assert client.negotiate() == "CRC32"
        assert client.master_status() == (names[0], 4)
        client.close()


def test_ssl_require_fails_when_server_has_no_ssl(source_binlog):
    outdir, _ = source_binlog
    with FakeMySqlServer(outdir) as srv:  # no ssl_context → no SSL cap
        client = _client(srv, ssl_mode="require")
        with pytest.raises(TransportError, match="does not support SSL"):
            client.connect()
        client.close()


def test_ssl_if_available_falls_back_to_plaintext(source_binlog):
    outdir, names = source_binlog
    with FakeMySqlServer(outdir) as srv:
        client = _client(srv, ssl_mode="if_available")
        client.connect()
        assert not isinstance(client.channel._sock, ssl.SSLSocket)
        assert client.master_status() == (names[0], 4)
        client.close()


def test_ssl_require_sends_sni(source_binlog, tmp_path):
    """``require`` checks no certificate, yet still names the host in the
    TLS hello (SNI), so a server holding several certificates can pick
    the right one."""
    outdir, _ = source_binlog
    ctx, _ = make_ssl_material(str(tmp_path))
    seen = []
    ctx.sni_callback = lambda sock, name, context: seen.append(name)
    opts = ReplicaOptions(username="repl", password="secret", blocking=False)
    with FakeMySqlServer(outdir, ssl_context=ctx) as srv:
        client = BinlogSocketClient(
            "localhost", srv.port, opts, ssl_mode="require"
        )
        client.connect()
        assert isinstance(client.channel._sock, ssl.SSLSocket)
        client.close()
    assert seen == ["localhost"]


def test_ssl_verify_ca_and_full(source_binlog, ssl_material):
    outdir, names = source_binlog
    ctx, ca_pem = ssl_material
    with FakeMySqlServer(outdir, ssl_context=ctx) as srv:
        for mode in ("require_verify_ca", "require_verify_full"):
            client = _client(srv, ssl_mode=mode, ssl_ca=ca_pem)
            client.connect()
            assert isinstance(client.channel._sock, ssl.SSLSocket)
            assert client.master_status() == (names[0], 4)
            client.close()


def test_ssl_verify_ca_rejects_unknown_ca(source_binlog, ssl_material, tmp_path):
    outdir, _ = source_binlog
    ctx, _ = ssl_material
    # a DIFFERENT self-signed cert: verification against it must fail
    _, other_ca = make_ssl_material(str(tmp_path))
    with FakeMySqlServer(outdir, ssl_context=ctx) as srv:
        client = _client(srv, ssl_mode="require_verify_ca", ssl_ca=other_ca)
        with pytest.raises((TransportError, ssl.SSLError, OSError)):
            client.connect()
        client.close()


def test_verify_modes_need_ca():
    with pytest.raises(ValueError, match="needs ssl_ca"):
        BinlogSocketClient(
            "127.0.0.1", 1, ReplicaOptions(), ssl_mode="require_verify_ca"
        )
    with pytest.raises(ValueError, match="ssl_mode must be one of"):
        BinlogSocketClient(
            "127.0.0.1", 1, ReplicaOptions(), ssl_mode="bogus"
        )


# --------------------------------------------------- caching_sha2_password


def test_sha2_fast_auth_over_plaintext(source_binlog):
    """Cached entry: scramble response matches → 0x01 0x03 → OK."""
    outdir, names = source_binlog
    with FakeMySqlServer(
        outdir, auth_plugin="caching_sha2_password", sha2_cached=True
    ) as srv:
        client = _client(srv)
        hs = client.connect()
        assert hs["auth_plugin_name"] == "caching_sha2_password"
        assert client.master_status() == (names[0], 4)
        client.close()


def test_sha2_full_auth_rsa_over_plaintext(source_binlog):
    """Cache miss on an insecure channel: 0x01 0x04 → public-key request
    → RSA(PKCS#1 OAEP) encrypted XOR-obfuscated password → OK."""
    outdir, names = source_binlog
    with FakeMySqlServer(
        outdir, auth_plugin="caching_sha2_password", sha2_cached=False
    ) as srv:
        client = _client(srv)
        client.connect()
        assert client.master_status() == (names[0], 4)
        client.close()


def test_sha2_full_auth_clear_password_over_tls(source_binlog, ssl_material):
    """Cache miss on an encrypted channel: the client sends the clear
    password (never RSA) — connect.rs:130-139."""
    outdir, names = source_binlog
    ctx, _ = ssl_material
    with FakeMySqlServer(
        outdir, auth_plugin="caching_sha2_password", sha2_cached=False,
        ssl_context=ctx,
    ) as srv:
        client = _client(srv, ssl_mode="require")
        client.connect()
        assert isinstance(client.channel._sock, ssl.SSLSocket)
        assert client.master_status() == (names[0], 4)
        client.close()


def test_sha2_wrong_password_raises_on_all_paths(source_binlog, ssl_material):
    outdir, _ = source_binlog
    ctx, _ = ssl_material
    cases = [
        (dict(sha2_cached=True), dict()),
        (dict(sha2_cached=False), dict()),
        (dict(sha2_cached=False, ssl_context=ctx), dict(ssl_mode="require")),
    ]
    for srv_kw, cli_kw in cases:
        with FakeMySqlServer(
            outdir, auth_plugin="caching_sha2_password", **srv_kw
        ) as srv:
            client = _client(srv, password="WRONG", **cli_kw)
            with pytest.raises(TransportError, match="Access denied"):
                client.connect()
            client.close()


def test_sha2_via_auth_plugin_switch(source_binlog):
    """Switch → caching_sha2 continuation (connect.rs:85-110): the
    switch scramble drives the sha2 rounds."""
    outdir, names = source_binlog
    with FakeMySqlServer(
        outdir, auth_plugin="caching_sha2_password", sha2_cached=True,
        use_auth_switch=True,
    ) as srv:
        client = _client(srv)
        client.connect()
        assert client.master_status() == (names[0], 4)
        client.close()


def test_sha2_dump_roundtrip_over_tls(source_binlog, ssl_material, tmp_path):
    """End-to-end: caching_sha2 full auth over TLS, then a dump whose
    mirrored segments are byte-identical to the source."""
    from mysql_cdc_spark.binlog.transport import mirror_stream

    outdir, names = source_binlog
    ctx, _ = ssl_material
    with FakeMySqlServer(
        outdir, auth_plugin="caching_sha2_password", sha2_cached=False,
        ssl_context=ctx,
    ) as srv:
        client = _client(srv, ssl_mode="require")
        client.connect()
        client.negotiate()
        f, pos = client.master_status()
        mirrored = mirror_stream(client.dump(f, pos), str(tmp_path / "m"))
        client.close()
    assert [os.path.basename(p) for p in mirrored] == names
    for p in mirrored:
        with open(os.path.join(outdir, os.path.basename(p)), "rb") as fh:
            src = fh.read()
        with open(p, "rb") as fh:
            assert fh.read() == src


def test_tail_mirror_over_tls_survives_drops(
    source_binlog, ssl_material, tmp_path
):
    """Composition: the resilient tail reconnects THROUGH the full
    TLS + caching_sha2 handshake on every retry, resumes the dump from
    the last landed (file, position), and the mirrored segments stay
    byte-identical to the source across injected mid-stream drops."""
    from mysql_cdc_spark.binlog.transport import tail_mirror

    outdir, names = source_binlog
    ctx, ca_pem = ssl_material
    with FakeMySqlServer(
        outdir, auth_plugin="caching_sha2_password", sha2_cached=False,
        ssl_context=ctx, fail_after_frames=[5, 9],
    ) as srv:
        def connect():
            c = _client(srv, ssl_mode="require_verify_ca", ssl_ca=ca_pem)
            c.connect()
            assert c.negotiate() == "CRC32"
            return c

        landed = tail_mirror(
            connect, str(tmp_path / "landing"),
            start_file=names[0], start_pos=4,
            sleep=lambda s: None,
        )
    assert [os.path.basename(p) for p in landed] == names
    for p in landed:
        with open(os.path.join(outdir, os.path.basename(p)), "rb") as fh:
            src = fh.read()
        with open(p, "rb") as fh:
            assert fh.read() == src


# ------------------------------------------------------ sha256_password


def test_sha256_rsa_over_plaintext(source_binlog):
    """sha256_password (beyond-reference — the reference's
    get_auth_plugin refuses it): over an insecure channel the handshake
    response requests the server's RSA key (1-byte 0x01) and the
    XOR-obfuscated password goes back OAEP-encrypted."""
    outdir, names = source_binlog
    with FakeMySqlServer(outdir, auth_plugin="sha256_password") as srv:
        client = _client(srv)
        hs = client.connect()
        assert hs["auth_plugin_name"] == "sha256_password"
        assert client.master_status() == (names[0], 4)
        client.close()


def test_sha256_clear_password_over_tls(source_binlog, ssl_material):
    outdir, names = source_binlog
    ctx, _ = ssl_material
    with FakeMySqlServer(
        outdir, auth_plugin="sha256_password", ssl_context=ctx
    ) as srv:
        client = _client(srv, ssl_mode="require")
        client.connect()
        assert isinstance(client.channel._sock, ssl.SSLSocket)
        assert client.master_status() == (names[0], 4)
        client.close()


def test_sha256_wrong_password_raises(source_binlog, ssl_material):
    outdir, _ = source_binlog
    ctx, _ = ssl_material
    for srv_kw, cli_kw in [
        (dict(), dict()),
        (dict(ssl_context=ctx), dict(ssl_mode="require")),
    ]:
        with FakeMySqlServer(
            outdir, auth_plugin="sha256_password", **srv_kw
        ) as srv:
            client = _client(srv, password="WRONG", **cli_kw)
            with pytest.raises(TransportError, match="Access denied"):
                client.connect()
            client.close()


def test_sha256_via_auth_plugin_switch(source_binlog):
    outdir, names = source_binlog
    with FakeMySqlServer(
        outdir, auth_plugin="sha256_password", use_auth_switch=True
    ) as srv:
        client = _client(srv)
        client.connect()
        assert client.master_status() == (names[0], 4)
        client.close()


# -------------------------------------------------- mysql_clear_password


def test_clear_password_plugin_over_tls(source_binlog, ssl_material):
    """PAM/LDAP shape: the server-side plugin needs the real password,
    sent in the clear — over an encrypted channel only."""
    outdir, names = source_binlog
    ctx, _ = ssl_material
    with FakeMySqlServer(
        outdir, auth_plugin="mysql_clear_password", ssl_context=ctx
    ) as srv:
        client = _client(srv, ssl_mode="require")
        client.connect()
        assert client.master_status() == (names[0], 4)
        client.close()


def test_clear_password_plugin_refused_over_plaintext(source_binlog):
    outdir, _ = source_binlog
    with FakeMySqlServer(outdir, auth_plugin="mysql_clear_password") as srv:
        client = _client(srv)
        with pytest.raises(ValueError, match="encrypted channel"):
            client.connect()
        client.close()
