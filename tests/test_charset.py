"""Charset-aware string decode (TABLE_MAP charset metadata → per-column
codec) and TEXT-family columns as kind "str" — on BOTH decode paths.

The reference decodes every string as UTF-8 (extensions.rs read_string);
real deployments run latin1/cp1251/utf16 columns and store long text in
TEXT (blob wire form), so both are first-class here: collation ids from
the DEFAULT_CHARSET / COLUMN_CHARSET TLVs (WL#4618) select the Python
codec per column, and blob-wire columns declared kind "str" decode to
text in that charset.
"""

from __future__ import annotations

import os

import pytest

from mysql_cdc_spark.binlog.charset import (
    codec_for_collation,
    column_codecs,
    is_character_column,
)
from mysql_cdc_spark.binlog.constants import ColumnType
from mysql_cdc_spark.binlog.decoder import TableSpec, decode_binlog_dir
from mysql_cdc_spark.binlog.encoder import BinlogWriter
from decoded import to_pandas

UUID = "24bc7850-2c16-11e6-a073-0242ac110001"

SPEC = TableSpec(
    database="x",
    table="t",
    columns=(
        ("id", "int", "int"),
        ("name", "string", "str"),       # VARCHAR latin1
        ("notes", "string", "str"),      # TEXT utf8mb4 (blob wire form)
        ("title", "string", "str"),      # VARCHAR utf16
        ("payload", "binary", "binary"),  # BLOB binary — bytes stay bytes
    ),
    primary_key=("id",),
)
CTYPES = [
    ColumnType.LONG, ColumnType.VARCHAR, ColumnType.BLOB,
    ColumnType.VARCHAR, ColumnType.BLOB,
]
CMETA = [0, 64 * 4, 2, 64 * 4, 2]
COLS = ["id", "name", "notes", "title", "payload"]
# character-column ordinals: name=0, notes=1, title=2, payload=3
LATIN1, UTF8MB4, UTF16, BINARY = 8, 255, 54, 63

ROWS = [
    [1, "café münü", "héllo — ünïcode ✓", "Ψαλμός", b"\x00\xff\xfe"],
    [2, "größe £99", "plain ascii", "שָׁלוֹם", b"\x80\x81"],
]


def _encode_row(row):
    return [
        row[0],
        row[1].encode("cp1252"),
        row[2].encode("utf-8"),
        row[3].encode("utf-16-be"),
        row[4],
    ]


def _write_corpus(outdir: str, charset_meta: str) -> None:
    os.makedirs(outdir, exist_ok=True)
    w = BinlogWriter("cs.000001")
    kwargs = {}
    if charset_meta == "default":
        # table default utf8mb4, per-column overrides for the others
        kwargs["default_charset"] = (UTF8MB4, {0: LATIN1, 2: UTF16, 3: BINARY})
    elif charset_meta == "column":
        kwargs["column_charsets"] = [LATIN1, UTF8MB4, UTF16, BINARY]
    w.write_mysql_gtid(UUID, 1)
    w.write_query("BEGIN", database="x")
    w.write_table_map(
        77, "x", "t", CTYPES, CMETA, [False, False, True, True, True],
        column_names=COLS, simple_primary_keys=[0],
        signedness=[False], **kwargs,
    )
    w.write_rows(77, CTYPES, CMETA, [_encode_row(r) for r in ROWS])
    w.write_xid(1)
    w.save(os.path.join(outdir, "cs.000001"))


class TestCollationMap:
    def test_families(self):
        assert codec_for_collation(8) == "cp1252"       # latin1
        assert codec_for_collation(255) == "utf-8"      # utf8mb4_0900_ai_ci
        assert codec_for_collation(45) == "utf-8"
        assert codec_for_collation(33) == "utf-8"       # utf8mb3
        assert codec_for_collation(51) == "cp1251"
        assert codec_for_collation(54) == "utf-16-be"
        assert codec_for_collation(63) is None          # binary
        assert codec_for_collation(9999) == "utf-8"     # unknown → fallback
        # every mapped codec is a real Python codec
        import codecs as _codecs

        from mysql_cdc_spark.binlog.charset import _CODEC_BY_COLLATION

        for codec in set(_CODEC_BY_COLLATION.values()):
            _codecs.lookup(codec)

    def test_is_character_column(self):
        assert is_character_column(ColumnType.VARCHAR, 256)
        assert is_character_column(ColumnType.BLOB, 2)
        # ENUM packed in STRING metadata is NOT a character column
        enum_meta = (ColumnType.ENUM << 8) | 1
        assert not is_character_column(ColumnType.STRING, enum_meta)
        assert not is_character_column(ColumnType.LONG, 0)

    def test_column_codecs_resolution(self):
        table = {
            "column_types": CTYPES,
            "column_metadata": CMETA,
            "default_charset": {
                "default_collation": UTF8MB4,
                "charset_collations": {0: LATIN1, 2: UTF16, 3: BINARY},
            },
            "column_charsets": None,
        }
        assert column_codecs(table) == [
            None, "cp1252", "utf-8", "utf-16-be", None
        ]
        # explicit per-column list takes precedence
        table2 = {
            "column_types": CTYPES,
            "column_metadata": CMETA,
            "default_charset": None,
            "column_charsets": [LATIN1, UTF8MB4, UTF16, BINARY],
        }
        assert column_codecs(table2) == [
            None, "cp1252", "utf-8", "utf-16-be", None
        ]
        # no metadata at all → utf-8 for character columns (reference
        # behavior preserved)
        table3 = {
            "column_types": CTYPES,
            "column_metadata": CMETA,
        }
        assert column_codecs(table3) == [
            None, "utf-8", "utf-8", "utf-8", "utf-8"
        ]


def _decoded(spark, outdir):
    pdf = (
        decode_binlog_dir(spark, outdir, SPEC)
        .orderBy("after_id")
        .toPandas()
    )
    return pdf


@pytest.mark.parametrize("charset_meta", ["default", "column"])
@pytest.mark.parametrize("path", ["vector", "scalar"])
class TestCharsetDecode:
    def test_values_roundtrip(
        self, spark, tmp_path, monkeypatch, charset_meta, path
    ):
        if path == "scalar":
            monkeypatch.setenv("SPARK_CDC_SCALAR_DECODE", "1")
        outdir = str(tmp_path / f"binlog_{charset_meta}_{path}")
        _write_corpus(outdir, charset_meta)
        pdf = _decoded(spark, outdir)
        assert len(pdf) == 2
        assert pdf["after_name"].tolist() == [r[1] for r in ROWS]
        assert pdf["after_notes"].tolist() == [r[2] for r in ROWS]
        assert pdf["after_title"].tolist() == [r[3] for r in ROWS]
        assert [bytes(v) for v in pdf["after_payload"]] == [r[4] for r in ROWS]


@pytest.mark.parametrize("path", ["vector", "scalar"])
def test_no_charset_metadata_defaults_to_utf8(spark, tmp_path, monkeypatch, path):
    """Streams without the TLVs (fixtures, pre-5.6 logs) decode exactly
    as before — utf-8 everywhere, binary stays bytes by KIND only."""
    if path == "scalar":
        monkeypatch.setenv("SPARK_CDC_SCALAR_DECODE", "1")
    outdir = str(tmp_path / f"plain_{path}")
    os.makedirs(outdir)
    w = BinlogWriter("cs.000001")
    w.write_mysql_gtid(UUID, 1)
    w.write_query("BEGIN", database="x")
    w.write_table_map(
        77, "x", "t", CTYPES, CMETA, [False, False, True, True, True],
        column_names=COLS, simple_primary_keys=[0], signedness=[False],
    )
    rows = [[1, "plain", "text blob", "title", b"\x01\x02"]]
    w.write_rows(
        77, CTYPES, CMETA,
        [[1, b"plain", b"text blob", b"title", b"\x01\x02"]],
    )
    w.write_xid(1)
    w.save(os.path.join(outdir, "cs.000001"))
    pdf = _decoded(spark, outdir)
    assert pdf["after_name"].tolist() == ["plain"]
    assert pdf["after_notes"].tolist() == ["text blob"]  # TEXT → str
    assert bytes(pdf["after_payload"][0]) == b"\x01\x02"


def test_fast_path_handles_charsets_without_fallback(tmp_path):
    """decode_segment_fast must process the charset corpus itself (None
    would mean a silent scalar fallback) and agree with the scalar
    decoder byte-for-byte on every string column."""
    from mysql_cdc_spark.binlog.decoder import _FileDecoder
    from mysql_cdc_spark.binlog.vector import decode_segment_fast

    outdir = str(tmp_path / "binlog")
    _write_corpus(outdir, "default")
    path = os.path.join(outdir, "cs.000001")
    with open(path, "rb") as f:
        content = f.read()
    frames = decode_segment_fast(content, "cs.000001", SPEC)
    assert frames is not None, "unexpected scalar fallback"
    fast = (
        to_pandas(frames)
        .sort_values("after_id")
        .reset_index(drop=True)
    )
    dec = _FileDecoder(SPEC)
    scalar = to_pandas(dec.decode_file(path, content)).sort_values(
        "after_id"
    ).reset_index(drop=True)
    for col in ("after_name", "after_notes", "after_title", "after_payload"):
        assert fast[col].tolist() == scalar[col].tolist(), col
    assert fast["after_name"].tolist() == [r[1] for r in ROWS]


def test_text_wire_full_replay_matches_oracle(spark, tmp_path):
    """transcripts with the text column logged as TEXT (blob wire +
    utf8mb4 charset TLV) replays to the identical final state — the
    realistic production shape for long assistant turns."""
    from mysql_cdc_spark.fixtures import (
        apply_changelog_oracle,
        generate_changelog,
        write_binlog_files,
    )
    from mysql_cdc_spark.pipeline.replay import Replayer

    txns = generate_changelog(
        n_conversations=15, max_turns=5, n_extra_ops=50, seed=21,
        duplicate_txns=2, evolve_after_frac=0.5,
    )
    outdir = str(tmp_path / "binlog")
    write_binlog_files(txns, outdir, txns_per_file=25, text_wire="text")
    rep = Replayer(spark, outdir, str(tmp_path / "store"))
    rep.replay()
    got = rep.read_state().orderBy("conv_id", "turn_idx").toPandas()
    oracle = apply_changelog_oracle(txns)
    assert got["text"].tolist() == oracle["text"].tolist()
    assert got["role"].tolist() == oracle["role"].tolist()


def test_text_wire_rejects_unknown_value(tmp_path):
    from mysql_cdc_spark.fixtures import generate_changelog, write_binlog_files

    txns = generate_changelog(n_conversations=2, n_extra_ops=2, seed=1)
    with pytest.raises(ValueError, match="text_wire"):
        write_binlog_files(txns, str(tmp_path / "b"), text_wire="blob")
