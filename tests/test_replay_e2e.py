"""End-to-end CDC correctness: binlog replay → merge target state must equal
the single-threaded pandas oracle (the reference's consume-loop semantics),
per-turn text equality under stable turn ordering (BASELINE.json input_hint).

Covers SURVEY.md §5 strategy items (b) replay-equality, (c) resume
mid-stream / exactly-once, (d) additive schema evolution, plus duplicate
redelivery (ST5 idempotence).
"""

import os

import pandas as pd
import pytest

from mysql_cdc_spark.binlog.decoder import decode_binlog_dir, discover_columns
from mysql_cdc_spark.fixtures import (
    apply_changelog_oracle,
    count_change_events,
    generate_changelog,
    write_binlog_files,
)
from mysql_cdc_spark.pipeline.replay import Replayer


def _final_state_pdf(replayer: Replayer) -> pd.DataFrame:
    df = (
        replayer.read_state()
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    return df


def _assert_state_equals_oracle(state: pd.DataFrame, oracle: pd.DataFrame):
    assert len(state) == len(oracle), f"row count {len(state)} != oracle {len(oracle)}"
    for col in ["conv_id", "turn_idx", "role", "text", "tool"]:
        got = state[col].tolist()
        want = oracle[col].tolist()
        assert got == want, f"column {col} mismatch"
    got_ts = pd.to_datetime(state["ts"]).tolist()
    want_ts = pd.to_datetime(oracle["ts"]).tolist()
    assert got_ts == want_ts, "ts mismatch"


@pytest.fixture(scope="module")
def changelog(tmp_path_factory):
    txns = generate_changelog(
        n_conversations=40,
        max_turns=8,
        n_extra_ops=150,
        seed=7,
        hot_conversations=3,
        hot_share=0.5,
        evolve_after_frac=0.5,
        duplicate_txns=6,
    )
    outdir = str(tmp_path_factory.mktemp("binlog"))
    paths = write_binlog_files(txns, outdir, txns_per_file=40)
    oracle = apply_changelog_oracle(txns)
    return txns, outdir, paths, oracle


class TestDecode:
    def test_decode_counts_and_gating(self, spark, changelog):
        txns, outdir, paths, _ = changelog
        changes = decode_binlog_dir(spark, outdir)
        n = changes.count()
        # every op of every txn decodes to one change row (duplicates included)
        assert n == count_change_events(txns)
        # all transactions in the fixture commit → xid never null
        assert changes.filter("xid IS NULL").count() == 0
        ops = {r["op"] for r in changes.select("op").distinct().collect()}
        assert ops == {"insert", "update", "delete"}
        # gtid forward-fill: every row event carries its transaction's gtid
        assert changes.filter("gtid_seq IS NULL").count() == 0

    def test_decode_positions_chain(self, spark, changelog):
        _, outdir, _, _ = changelog
        changes = decode_binlog_dir(spark, outdir)
        row = changes.orderBy("src_file", "pos").first()
        assert row["pos"] > 4
        assert row["next_pos"] > row["pos"]

    def test_discover_columns_sees_evolution(self, spark, changelog):
        _, outdir, _, _ = changelog
        from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS

        cols = discover_columns(spark, outdir, TRANSCRIPTS)
        assert "tool" in cols  # added mid-stream by the evolved TABLE_MAP
        assert "conv_id" in cols and "text" in cols


class TestReplay:
    def test_single_batch_replay_matches_oracle(self, spark, changelog, tmp_path):
        _, outdir, _, oracle = changelog
        replayer = Replayer(spark, outdir, str(tmp_path / "store1"))
        result = replayer.replay()
        assert result.events > 0
        state = _final_state_pdf(replayer)
        _assert_state_equals_oracle(state, oracle)

    def test_multi_batch_replay_matches_oracle(self, spark, changelog, tmp_path):
        _, outdir, _, oracle = changelog
        replayer = Replayer(spark, outdir, str(tmp_path / "store2"))
        result = replayer.replay(files_per_batch=1)
        assert len(result.batches) >= 2
        state = _final_state_pdf(replayer)
        _assert_state_equals_oracle(state, oracle)

    def test_resume_mid_stream_exactly_once(self, spark, changelog, tmp_path):
        """Kill after batch k, construct a fresh Replayer on the same store,
        finish — final state identical; GTIDs never double-applied."""
        _, outdir, _, oracle = changelog
        store = str(tmp_path / "store3")

        r1 = Replayer(spark, outdir, store)
        files = r1.pending_files()
        assert len(files) >= 3
        r1.run_batch(files[:1])  # batch 1 only, then "crash"

        r2 = Replayer(spark, outdir, store)  # resume from checkpoint
        pending = r2.pending_files()
        # coarse prune keeps the boundary file; gtid anti-join refines
        assert pending[-1] == files[-1]
        r2.replay(files_per_batch=1)
        state = _final_state_pdf(r2)
        _assert_state_equals_oracle(state, oracle)

    def test_rerun_after_commit_is_noop(self, spark, changelog, tmp_path):
        _, outdir, _, oracle = changelog
        store = str(tmp_path / "store4")
        r1 = Replayer(spark, outdir, store)
        r1.replay()
        v1 = r1.ledger.current_snapshot_version()
        # full re-replay: every event is covered by the ledger → no new merges
        r2 = Replayer(spark, outdir, store)
        res = r2.replay()
        assert res.events == 0
        assert r2.ledger.current_snapshot_version() == v1
        _assert_state_equals_oracle(_final_state_pdf(r2), oracle)

    def test_idle_replay_skips_unchanged_last_segment(self, spark, tmp_path):
        """A caught-up Replayer runs no batch; once the last committed
        segment grows, the next replay() applies what was appended."""
        txns = generate_changelog(n_conversations=6, max_turns=3, n_extra_ops=10, seed=5)
        [full] = write_binlog_files(txns, str(tmp_path / "full"), txns_per_file=len(txns))
        outdir = str(tmp_path / "binlog")
        [seg] = write_binlog_files(txns[:-1], outdir, txns_per_file=len(txns))
        with open(full, "rb") as f:
            grown = f.read()
        with open(seg, "rb") as f:
            head = f.read()
        assert os.path.basename(full) == os.path.basename(seg)
        assert grown.startswith(head)

        r = Replayer(spark, outdir, str(tmp_path / "store"))
        assert r.replay().events > 0
        assert r.replay().batches == []
        with open(seg, "ab") as f:
            f.write(grown[len(head):])
        res = r.replay()
        assert res.events == len(txns[-1].ops)
        _assert_state_equals_oracle(_final_state_pdf(r), apply_changelog_oracle(txns))

    def test_failed_batch_retry_rereads_grown_segment(self, spark, tmp_path, monkeypatch):
        """A batch over a grown last segment plus a new one fails in the
        merge; replay() again on the same Replayer must re-read the grown
        segment, not only the new one."""
        txns = generate_changelog(n_conversations=6, max_turns=3, n_extra_ops=10, seed=5)
        k = len(txns) // 2
        full = write_binlog_files(txns, str(tmp_path / "full"), txns_per_file=k)
        outdir = str(tmp_path / "binlog")
        [seg] = write_binlog_files(txns[: k - 1], outdir, txns_per_file=k)
        assert os.path.basename(full[0]) == os.path.basename(seg)
        with open(full[0], "rb") as f:
            grown = f.read()
        with open(seg, "rb") as f:
            head = f.read()
        assert grown.startswith(head)

        r = Replayer(spark, outdir, str(tmp_path / "store"))
        assert r.replay().events > 0
        with open(seg, "ab") as f:
            f.write(grown[len(head):])
        for p in full[1:]:
            with open(p, "rb") as src, open(os.path.join(outdir, os.path.basename(p)), "wb") as dst:
                dst.write(src.read())

        merge = r.target.merge
        calls = []

        def merge_failing_once(*args, **kwargs):
            calls.append(1)
            if len(calls) == 1:
                raise OSError("injected merge failure")
            return merge(*args, **kwargs)

        monkeypatch.setattr(r.target, "merge", merge_failing_once)
        with pytest.raises(OSError, match="injected"):
            r.replay()
        r.replay()
        assert len(calls) == 2
        _assert_state_equals_oracle(_final_state_pdf(r), apply_changelog_oracle(txns))

    def test_cut_transaction_at_segment_end_applies_after_xid(self, spark, tmp_path):
        """A last segment whose only transaction is still open (its rows
        are on disk, its XID is not) commits an empty batch; once the XID
        arrives, the next replay() must apply that transaction, not skip
        it as already read."""
        from mysql_cdc_spark.binlog.constants import EventType
        from mysql_cdc_spark.binlog.reader import parse_event_header

        txns = generate_changelog(n_conversations=6, max_turns=3, n_extra_ops=10, seed=5)
        outdir = str(tmp_path / "binlog")
        paths = write_binlog_files(txns, outdir, txns_per_file=len(txns) - 1)
        assert len(paths) == 2
        with open(paths[-1], "rb") as f:
            full = f.read()
        off, last_xid = 4, None
        while off < len(full):
            _ts, etype, _sid, length, _next, _flags = parse_event_header(full, off)
            if etype == EventType.XID:
                last_xid = off
            off += length
        assert last_xid is not None
        with open(paths[-1], "wb") as f:
            f.write(full[:last_xid])

        r = Replayer(spark, outdir, str(tmp_path / "store"))
        r.replay(files_per_batch=1)
        _assert_state_equals_oracle(_final_state_pdf(r), apply_changelog_oracle(txns[:-1]))
        with open(paths[-1], "wb") as f:
            f.write(full)
        res = r.replay()
        assert res.events == len(txns[-1].ops)
        _assert_state_equals_oracle(_final_state_pdf(r), apply_changelog_oracle(txns))

    def test_ledger_contents(self, spark, changelog, tmp_path):
        txns, outdir, paths, _ = changelog
        store = str(tmp_path / "store5")
        r = Replayer(spark, outdir, store)
        res = r.replay(files_per_batch=2)
        entries = r.ledger.entries()
        assert entries
        last = entries[-1]
        # gtid set covers 1..max seq contiguously
        max_seq = max(t.seq for t in txns)
        from mysql_cdc_spark.fixtures import SOURCE_UUID

        assert last.gtid_set_text == f"{SOURCE_UUID}:1-{max_seq}"
        assert last.max_pos > 0
        assert last.partition_lineage
        assert last.metrics["events"] > 0

        # net_rows = distinct keys the batch's first deliveries touch
        # (write_binlog_files puts 40 transactions in each file)
        names = sorted(os.path.basename(p) for p in paths)
        by_file = {n: txns[40 * i : 40 * (i + 1)] for i, n in enumerate(names)}
        applied: set = set()
        for b, e in zip(res.batches, entries):
            batch_txns = [t for n in b.files for t in by_file[n]]
            touched = {
                tuple((op.after or op.before)[:2])
                for t in batch_txns if t.seq not in applied for op in t.ops
            }
            applied |= {t.seq for t in batch_txns}
            assert b.net_rows == e.metrics["net_rows"] == len(touched)

    def test_schema_evolution_tool_column(self, spark, changelog, tmp_path):
        _, outdir, _, oracle = changelog
        r = Replayer(spark, outdir, str(tmp_path / "store6"))
        r.replay()
        state = _final_state_pdf(r)
        assert "tool" in state.columns
        # post-evolution rows exist with non-null tool; oracle agrees
        assert state["tool"].notna().any()
        assert (state["tool"].fillna("-") == oracle["tool"].fillna("-")).all()

    def test_salted_and_unsalted_agree(self, spark, changelog, tmp_path):
        _, outdir, _, oracle = changelog
        r_salted = Replayer(spark, outdir, str(tmp_path / "s7a"), salt_buckets=16)
        r_plain = Replayer(spark, outdir, str(tmp_path / "s7b"), salt_buckets=0)
        r_salted.replay()
        r_plain.replay()
        a = _final_state_pdf(r_salted)
        b = _final_state_pdf(r_plain)
        pd.testing.assert_frame_equal(a, b)


class TestCrashRecovery:
    def test_orphan_snapshot_retry(self, spark, changelog, tmp_path):
        """Crash between snapshot write and ledger append: the ledger entry
        is the commit point, so a lost entry means the batch replays — the
        idempotent MERGE converges to the same final state."""
        import os

        txns, outdir, paths, oracle = changelog
        store = str(tmp_path / "crash_store")
        rep = Replayer(spark, outdir, store)
        rep.replay(files_per_batch=2)
        want = _final_state_pdf(rep)

        # simulate the crash: drop the LAST ledger entry (its snapshot
        # remains on disk as an orphan)
        ledger_files = sorted(os.listdir(rep.ledger.dir))
        os.remove(os.path.join(rep.ledger.dir, ledger_files[-1]))

        rep2 = Replayer(spark, outdir, store)
        res = rep2.replay(files_per_batch=2)
        assert res.events > 0  # the uncommitted batch re-ran
        got = _final_state_pdf(rep2)
        _assert_state_equals_oracle(got, oracle)
        pd.testing.assert_frame_equal(got, want)


class TestMariaDBProvider:
    def test_mariadb_gtid_stream(self, spark, tmp_path):
        """MariaDB-flavored stream (MARIADB_GTID events, domain-server
        source keys): decode, ledger tracking, and final state must work
        identically; the interval-set ledger carries the domain-server key
        (strictly more precise than GtidList last-wins)."""
        from mysql_cdc_spark.fixtures import (
            apply_changelog_oracle,
            generate_changelog,
            write_binlog_files,
        )

        txns = generate_changelog(
            n_conversations=15, max_turns=5, n_extra_ops=30, seed=31,
            duplicate_txns=3,
        )
        binlog = str(tmp_path / "binlog")
        write_binlog_files(txns, binlog, txns_per_file=20, provider="mariadb")
        rep = Replayer(spark, binlog, str(tmp_path / "store"))
        res = rep.replay(files_per_batch=1)
        assert res.events > 0
        got = _final_state_pdf(rep)
        _assert_state_equals_oracle(got, apply_changelog_oracle(txns))
        covered = rep.ledger.covered_gtid_set()
        assert list(covered.uuid_sets) == ["0-1"]  # domain 0, server 1
        # text form round-trips through the ledger
        from mysql_cdc_spark.gtid import GtidSet
        assert str(GtidSet.parse(str(covered))) == str(covered)


def test_dual_written_changelog_sql_replay_matches_pandas_oracle():
    """The DuckDB oracle registered for cdc_replay_e2e (sequential SQL
    replay of the dual-written logical change rows) must agree with the
    single-threaded pandas oracle on the identical transaction list —
    pinning the harness entry's oracle semantics independently of Spark."""
    import sys

    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from __spark_entry__ import _E2E_KNOBS, E2E_REPLAY_SQL_TEMPLATE
    from mysql_cdc_spark.fixtures import changelog_to_pandas

    txns = generate_changelog(**_E2E_KNOBS)
    ops = changelog_to_pandas(txns)
    con = duckdb.connect()
    con.register("ops_view", ops)
    got = (
        con.execute(E2E_REPLAY_SQL_TEMPLATE.format(src="ops_view"))
        .df()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    oracle = apply_changelog_oracle(txns)
    assert got["text"].tolist() == oracle["text"].tolist()
    assert got["role"].tolist() == oracle["role"].tolist()
    assert got["tool"].tolist() == oracle["tool"].fillna("").tolist()
    assert got["ts_ms"].tolist() == [
        int(t.value // 10**6) for t in oracle["ts"]
    ]


def test_lag_metric_in_ledger(spark, tmp_path):
    """ST4: every committed batch records max_event_ts (newest committed
    header timestamp) and lag_s (wall clock minus it) in the ledger."""
    import time as _time

    from mysql_cdc_spark.fixtures import BASE_TS

    txns = generate_changelog(n_conversations=8, max_turns=3, n_extra_ops=12, seed=29)
    binlog = str(tmp_path / "binlog")
    write_binlog_files(txns, binlog, txns_per_file=(len(txns) + 1) // 2)
    rep = Replayer(spark, binlog, str(tmp_path / "store"))
    rep.replay(files_per_batch=1)

    entries = rep.ledger.entries()
    assert len(entries) == 2
    expected_max = max(t.timestamp for t in txns)
    for e in entries:
        assert e.metrics["max_event_ts"] >= BASE_TS
        assert e.metrics["lag_s"] == pytest.approx(
            _time.time() - e.metrics["max_event_ts"], abs=120
        )
    # the final batch's high-water mark is the stream's newest event
    assert entries[-1].metrics["max_event_ts"] == expected_max


def test_decode_facts_in_ledger(spark, tmp_path):
    """A batch's entry records how many of its segments the scalar
    decoder took and the segment bytes its decode tasks read, from the
    decode tasks' own report. A SET column with more than 8 members and
    a string lookup is outside the vectorized kernel; with 3 members it
    is inside."""
    from mysql_cdc_spark.binlog.constants import ColumnType
    from mysql_cdc_spark.binlog.decoder import TableSpec
    from mysql_cdc_spark.binlog.encoder import BinlogWriter
    from mysql_cdc_spark.binlog.vector import decode_segment_fast

    spec = TableSpec(
        database="db", table="t",
        columns=(("k", "string", "str"), ("flags", "string", "str")),
        primary_key=("k",),
    )
    ctypes = [ColumnType.VARCHAR, ColumnType.SET]
    binlog = tmp_path / "binlog"
    binlog.mkdir()
    for seq, members in ((1, [f"m{i}" for i in range(12)]), (2, ["a", "b", "c"])):
        cmeta = [16, 2 if len(members) > 8 else 1]
        w = BinlogWriter(f"b.00000{seq}")
        w.write_mysql_gtid("24bc7850-2c16-11e6-a073-0242ac110001", seq)
        w.write_table_map(3, "db", "t", ctypes, cmeta, [False, True],
                          column_names=["k", "flags"],
                          set_string_values=[members])
        w.write_rows(3, ctypes, cmeta, [[f"r{seq}", 0b101]])
        w.write_xid(seq)
        (binlog / f"b.00000{seq}").write_bytes(w.getvalue())
    segments = sorted(os.listdir(binlog))
    contents = [(binlog / n).read_bytes() for n in segments]
    assert [decode_segment_fast(c, n, spec) is None
            for c, n in zip(contents, segments)] == [True, False]

    rep = Replayer(spark, str(binlog), str(tmp_path / "store"), spec=spec)
    assert rep.run_batch(segments).events == 2
    metrics = rep.ledger.last().metrics
    assert metrics["fallback_segments"] == 1
    assert metrics["bytes_read"] == sum(len(c) for c in contents)
    state = rep.read_state().orderBy("k").toPandas()
    assert state["flags"].tolist() == ["m0,m2", "a,c"]
