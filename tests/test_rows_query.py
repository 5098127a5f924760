"""ROWS_QUERY / ANNOTATE_ROWS origin attribution — `origin_query` column.

With ``binlog_rows_query_log_events=ON`` (MySQL) or
``binlog_annotate_row_events=ON`` (MariaDB) the server logs each
statement's original SQL right before its row events. The reference
parses the event (rows_query_event.rs) but never associates it with the
rows; decode here attaches it per statement as an opt-in
``origin_query`` column (Debezium's ``query`` source-field analog):
overwritten by each ROWS_QUERY in a transaction, cleared at GTID opens
and transaction-close markers, NULL when a statement logged none.
"""

import pandas as pd
import pytest

from mysql_cdc_spark.binlog.decoder import (
    _FileDecoder,
    change_event_schema,
    decode_binlog_dir,
)
from mysql_cdc_spark.binlog.encoder import BinlogWriter
from mysql_cdc_spark.binlog.vector import decode_segment_fast
from mysql_cdc_spark.fixtures import (
    COLUMN_TYPES,
    PRE_COLUMNS,
    SOURCE_UUID,
    TABLE_ID_PRE,
    transcripts_pre_spec,
)
from decoded import to_pandas

CTYPES = [COLUMN_TYPES[c][0] for c in PRE_COLUMNS]
CMETA = [COLUMN_TYPES[c][1] for c in PRE_COLUMNS]
SPEC = transcripts_pre_spec()


def _table_map(w, ts):
    w.write_table_map(
        TABLE_ID_PRE, "chat", "transcripts", CTYPES, CMETA,
        nullability=[False] * 5, column_names=PRE_COLUMNS,
        simple_primary_keys=[0, 1], signedness=[False], timestamp=ts,
    )


def _rows(w, conv, text, ts):
    w.write_rows(
        TABLE_ID_PRE, CTYPES, CMETA,
        [[conv, 0, "user", text, ts]], timestamp=ts,
    )


def _stream(annotate=False):
    """txn 1: two statements, each with its own logged query; txn 2: no
    ROWS_QUERY at all (NULL origin); txn 3: one logged query again."""
    write_q = (
        BinlogWriter.write_annotate_rows if annotate
        else BinlogWriter.write_rows_query
    )
    w = BinlogWriter("binlog.000001")
    w.write_mysql_gtid(SOURCE_UUID, 1, timestamp=1001)
    w.write_query("BEGIN", database="chat", timestamp=1001)
    write_q(w, "INSERT INTO transcripts VALUES ('a', ...)", timestamp=1001)
    _table_map(w, 1001)
    _rows(w, "a", "first stmt", 1001)
    write_q(w, "UPDATE transcripts SET text = 'second'", timestamp=1001)
    _table_map(w, 1001)
    _rows(w, "b", "second stmt", 1001)
    w.write_xid(1, timestamp=1001)

    w.write_mysql_gtid(SOURCE_UUID, 2, timestamp=1002)
    w.write_query("BEGIN", database="chat", timestamp=1002)
    _table_map(w, 1002)
    _rows(w, "c", "unlogged stmt", 1002)
    w.write_xid(2, timestamp=1002)

    w.write_mysql_gtid(SOURCE_UUID, 3, timestamp=1003)
    w.write_query("BEGIN", database="chat", timestamp=1003)
    write_q(w, "DELETE FROM transcripts WHERE conv_id = 'd'", timestamp=1003)
    _table_map(w, 1003)
    _rows(w, "d", "third txn", 1003)
    w.write_xid(3, timestamp=1003)
    return w.getvalue()


EXPECT = {
    "a": "INSERT INTO transcripts VALUES ('a', ...)",
    "b": "UPDATE transcripts SET text = 'second'",
    "c": None,
    "d": "DELETE FROM transcripts WHERE conv_id = 'd'",
}


def _origin_map(df: pd.DataFrame) -> dict:
    got = dict(zip(df["after_conv_id"], df["origin_query"]))
    return {k: (None if pd.isna(v) else v) for k, v in got.items()}


class TestAttribution:
    @pytest.mark.parametrize("annotate", [False, True])
    def test_fast_path(self, annotate):
        content = _stream(annotate)
        frames = decode_segment_fast(
            content, "binlog.000001", SPEC, attach_origin_query=True
        )
        df = to_pandas(frames)
        assert _origin_map(df) == EXPECT

    @pytest.mark.parametrize("annotate", [False, True])
    def test_scalar_path(self, annotate):
        content = _stream(annotate)
        dec = _FileDecoder(SPEC, attach_origin_query=True)
        df = to_pandas(dec.decode_file("binlog.000001", content))
        assert _origin_map(df) == EXPECT

    def test_off_by_default(self):
        content = _stream()
        fast = to_pandas(decode_segment_fast(content, "binlog.000001", SPEC))
        assert "origin_query" not in fast.columns
        slow = to_pandas(_FileDecoder(SPEC).decode_file("binlog.000001", content))
        assert "origin_query" not in slow.columns
        assert "origin_query" not in change_event_schema(SPEC).fieldNames()
        assert (
            change_event_schema(SPEC, attach_origin_query=True).fieldNames()[-1]
            == "origin_query"
        )

    def test_does_not_leak_across_transactions(self):
        # a query logged in txn 1 must not attach to txn 2's rows even
        # though no other ROWS_QUERY intervenes
        content = _stream()
        df = to_pandas(decode_segment_fast(
            content, "binlog.000001", SPEC, attach_origin_query=True
        ))
        assert _origin_map(df)["c"] is None

    def test_long_statement_text_survives(self):
        # the 1-byte length prefix caps at 255 but the text runs to event
        # end — a >255-char statement must come back whole
        sql = "INSERT INTO transcripts VALUES " + ", ".join(
            f"('x{i}', {i})" for i in range(60)
        )
        assert len(sql) > 255
        w = BinlogWriter("binlog.000001")
        w.write_mysql_gtid(SOURCE_UUID, 1, timestamp=1001)
        w.write_query("BEGIN", database="chat", timestamp=1001)
        w.write_rows_query(sql, timestamp=1001)
        _table_map(w, 1001)
        _rows(w, "x", "long", 1001)
        w.write_xid(1, timestamp=1001)
        content = w.getvalue()
        fast = to_pandas(decode_segment_fast(
            content, "binlog.000001", SPEC, attach_origin_query=True
        ))
        slow = to_pandas(
            _FileDecoder(SPEC, attach_origin_query=True)
            .decode_file("binlog.000001", content)
        )
        assert fast["origin_query"].iloc[0] == sql
        assert slow["origin_query"].iloc[0] == sql


class TestFixtureCorpus:
    def test_attribution_matches_changelog_runs(self, tmp_path):
        """fixtures.write_binlog_files(rows_query=True) emits one
        ROWS_QUERY per consecutive-same-kind op run; decode attribution
        must equal a changelog-side run reconstruction (the harness
        oracle's gaps-and-islands logic, computed here in pandas)."""
        import glob

        from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS
        from mysql_cdc_spark.fixtures import (
            changelog_to_pandas,
            generate_changelog,
            write_binlog_files,
        )

        txns = generate_changelog(
            n_conversations=5, n_extra_ops=15, seed=3, duplicate_txns=1
        )
        write_binlog_files(txns, str(tmp_path), txns_per_file=6, rows_query=True)
        frames = []
        for p in sorted(glob.glob(str(tmp_path / "binlog.*"))):
            with open(p, "rb") as f:
                frames.extend(
                    decode_segment_fast(
                        f.read(), p.rsplit("/", 1)[-1], TRANSCRIPTS,
                        attach_origin_query=True,
                    )
                )
        got = to_pandas(frames)
        got_set = sorted(
            zip(
                got["gtid_seq"],
                got["after_conv_id"].where(got["after_conv_id"].notna(),
                                           got["before_conv_id"]),
                got["op"],
                got["origin_query"],
            )
        )
        log = changelog_to_pandas(txns)
        new_run = (
            log.groupby("txn_ord")["kind"].shift() != log["kind"]
        )
        log["run_ord"] = new_run.astype(int).groupby(log["txn_ord"]).cumsum() - 1
        want_set = sorted(
            zip(
                log["seq"],
                log["conv_id"],
                log["kind"],
                "/* seq=" + log["seq"].astype(str) + " run="
                + log["run_ord"].astype(str) + " */ "
                + log["kind"].str.upper() + " chat.transcripts",
            )
        )
        assert got_set == want_set


class TestSparkDecode:
    def test_decode_binlog_dir_roundtrip(self, spark, tmp_path):
        outdir = tmp_path / "binlog"
        outdir.mkdir()
        (outdir / "binlog.000001").write_bytes(_stream())
        for vectorized in (True, False):
            df = decode_binlog_dir(
                spark, str(outdir), spec=SPEC, vectorized=vectorized,
                attach_origin_query=True,
            )
            assert df.schema.fieldNames()[-1] == "origin_query"
            got = _origin_map(
                df.select("after_conv_id", "origin_query").toPandas()
            )
            assert got == EXPECT
