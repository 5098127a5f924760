"""TRUNCATE TABLE fences: a production stream's retention job clears the
tracked table with an implicit-commit ``TRUNCATE TABLE`` statement — the
engine must clear all state logged before the fence and rebuild from the
events after it, exactly once, across batches, resume, and redelivery.

Detection rides the decode task (the segment bytes are already in memory
there; ``ddl.scan_truncates`` costs a substring reject per segment), the
fence batch re-plans its net change after the last fence before merging, and
the fence's own GTID joins the ledger so a redelivered truncate is a
no-op (``run_batch`` fence path; ``target.truncate`` is a metadata-only
empty-manifest commit on the bucketed layout).
"""

import glob
import os
import shutil

import pytest

from mysql_cdc_spark.fixtures import (
    apply_changelog_oracle,
    generate_changelog,
    write_binlog_files,
)
from mysql_cdc_spark.pipeline.replay import Replayer


def _assert_matches_oracle(rep, txns):
    got = rep.read_state().orderBy("conv_id", "turn_idx").toPandas()
    want = apply_changelog_oracle(txns)
    assert len(got) == len(want)
    assert got["conv_id"].tolist() == want["conv_id"].tolist()
    assert got["turn_idx"].tolist() == want["turn_idx"].tolist()
    assert got["text"].tolist() == want["text"].tolist()


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    txns = generate_changelog(
        n_conversations=15, max_turns=5, n_extra_ops=60, seed=71,
        duplicate_txns=3, evolve_after_frac=0.3, truncate_at_frac=0.55,
    )
    outdir = str(tmp_path_factory.mktemp("binlog_trunc"))
    write_binlog_files(txns, outdir, txns_per_file=20)
    return txns, outdir


@pytest.mark.parametrize("files_per_batch", [None, 1])
def test_truncate_fence_replay_matches_oracle(
    spark, corpus, tmp_path, files_per_batch
):
    """One-batch (fence mid-batch) and per-file batches (fence batch +
    post-fence batches over the cleared state) both land on the oracle,
    which clears its own dict at the truncate."""
    txns, outdir = corpus
    rep = Replayer(
        spark, outdir, str(tmp_path / f"store_{files_per_batch}")
    )
    rep.replay(files_per_batch=files_per_batch)
    _assert_matches_oracle(rep, txns)
    # the fence batch is marked in the ledger metrics
    fence_batches = [
        e for e in rep.ledger.entries()
        if (e.metrics or {}).get("truncate_fences")
    ]
    assert len(fence_batches) == 1


def test_truncate_resume_and_redelivery(spark, corpus, tmp_path):
    """Kill after the pre-fence file, resume through the fence, then
    replay again on the same store: the covered fence GTID and position
    predicate make the re-read a no-op — state keeps the post-fence
    rows (a re-applied truncate would wipe them)."""
    txns, outdir = corpus
    files = sorted(glob.glob(os.path.join(outdir, "*")))
    half = str(tmp_path / "half")
    os.makedirs(half)
    shutil.copy(files[0], half)
    store = str(tmp_path / "store")
    rep = Replayer(spark, half, store)
    rep.replay()
    for f in files[1:]:
        shutil.copy(f, half)
    rep2 = Replayer(spark, half, store)
    rep2.replay(files_per_batch=1)
    _assert_matches_oracle(rep2, txns)
    before = rep2.read_state().count()
    rep3 = Replayer(spark, half, store)
    rep3.replay()
    assert rep3.read_state().count() == before
    _assert_matches_oracle(rep3, txns)


def test_truncate_minimal_row_image(spark, tmp_path):
    """MINIMAL images: post-fence events rebuild through merge_partial
    over the cleared state."""
    txns = generate_changelog(
        n_conversations=10, max_turns=4, n_extra_ops=40, seed=72,
        evolve_after_frac=None, truncate_at_frac=0.5,
    )
    outdir = str(tmp_path / "binlog")
    write_binlog_files(txns, outdir, txns_per_file=15, row_image="minimal")
    rep = Replayer(
        spark, outdir, str(tmp_path / "store"), row_image="minimal"
    )
    rep.replay(files_per_batch=1)
    _assert_matches_oracle(rep, txns)


def test_truncate_mariadb_provider(spark, tmp_path):
    """MariaDB GTID fences ('domain-server' source) cover in the ledger
    like row transactions."""
    txns = generate_changelog(
        n_conversations=10, max_turns=4, n_extra_ops=40, seed=73,
        evolve_after_frac=None, truncate_at_frac=0.5,
    )
    outdir = str(tmp_path / "binlog")
    write_binlog_files(txns, outdir, txns_per_file=15, provider="mariadb")
    rep = Replayer(spark, outdir, str(tmp_path / "store"))
    rep.replay()
    _assert_matches_oracle(rep, txns)


def test_truncate_in_compressed_stream(spark, tmp_path):
    """MariaDB log_bin_compress=ON: big frames deflate, but the TRUNCATE
    statement sits below log_bin_compress_min_len (server floor 256) and
    stays plain — the fence must still fire on the compressed stream."""
    from mysql_cdc_spark.binlog.compressed import compress_segment

    txns = generate_changelog(
        n_conversations=10, max_turns=4, n_extra_ops=40, seed=75,
        evolve_after_frac=None, truncate_at_frac=0.5,
    )
    outdir = str(tmp_path / "binlog")
    paths = write_binlog_files(
        txns, outdir, txns_per_file=15, provider="mariadb"
    )
    n_comp = 0
    for p in paths:
        with open(p, "rb") as f:
            plain = f.read()
        comp = compress_segment(plain)
        n_comp += int(len(comp) < len(plain))
        with open(p, "wb") as f:
            f.write(comp)
    assert n_comp > 0, "corpus should actually compress some frames"
    rep = Replayer(spark, outdir, str(tmp_path / "store"))
    rep.replay()
    _assert_matches_oracle(rep, txns)
    assert any(
        (e.metrics or {}).get("truncate_fences")
        for e in rep.ledger.entries()
    )


def test_truncate_isolated_per_table_in_multi_replay(spark, tmp_path):
    """Multi-table stream: TRUNCATE TABLE transcripts fences only the
    transcripts replayer — tool_calls (committed inside the same
    transactions via the sidecar fixture) keeps its full history."""
    from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS
    from mysql_cdc_spark.fixtures import apply_sidecar_oracle, tool_calls_spec
    from mysql_cdc_spark.pipeline.multi import MultiReplayer

    txns = generate_changelog(
        n_conversations=10, max_turns=4, n_extra_ops=30, seed=78,
        evolve_after_frac=None, truncate_at_frac=0.5,
    )
    outdir = str(tmp_path / "binlog")
    write_binlog_files(txns, outdir, txns_per_file=20, sidecar=True)
    mr = MultiReplayer(
        spark, outdir, str(tmp_path / "multi"),
        specs=[TRANSCRIPTS, tool_calls_spec()],
    )
    mr.replay()
    t_got = (
        mr.read_state("transcripts").orderBy("conv_id", "turn_idx").toPandas()
    )
    t_want = apply_changelog_oracle(txns)
    assert t_got["text"].tolist() == t_want["text"].tolist()
    assert any(
        (e.metrics or {}).get("truncate_fences")
        for e in mr["transcripts"].ledger.entries()
    )
    c_got = (
        mr.read_state("tool_calls")
        .orderBy("conv_id", "turn_idx", "call_ord")
        .toPandas()
    )
    c_want = apply_sidecar_oracle(txns)
    assert c_got["tool_name"].tolist() == c_want["tool_name"].tolist()
    assert not any(
        (e.metrics or {}).get("truncate_fences")
        for e in mr["tool_calls"].ledger.entries()
    )


def test_drop_table_stops_loudly(spark, tmp_path):
    """DROP TABLE on the tracked table ends its history: the batch raises
    a positioned TrackedTableDropped (INCIDENT stop policy) and commits
    nothing — decoding past a re-CREATE against the old spec would
    silently mis-apply rows. Untracked and TEMPORARY drops pass."""
    from mysql_cdc_spark.binlog.ddl import TrackedTableDropped
    from mysql_cdc_spark.binlog.encoder import BinlogWriter
    from mysql_cdc_spark.fixtures import SOURCE_UUID

    txns = generate_changelog(
        n_conversations=8, max_turns=3, n_extra_ops=15, seed=76,
        evolve_after_frac=None,
    )
    outdir = str(tmp_path / "binlog")
    write_binlog_files(txns, outdir, txns_per_file=100)
    # a follow-up segment: two harmless drops, then the tracked drop
    w = BinlogWriter("binlog.000002")
    w.write_mysql_gtid(SOURCE_UUID, 10_001)
    w.write_query("DROP TABLE other_table", database="chat")
    w.write_mysql_gtid(SOURCE_UUID, 10_002)
    w.write_query("DROP TEMPORARY TABLE transcripts", database="chat")
    w.write_mysql_gtid(SOURCE_UUID, 10_003)
    w.write_query("DROP TABLE IF EXISTS transcripts", database="chat")
    w.save(os.path.join(outdir, "binlog.000002"))

    rep = Replayer(spark, outdir, str(tmp_path / "store"))
    with pytest.raises(TrackedTableDropped, match="binlog.000002"):
        rep.replay()
    # nothing committed; the stop re-raises on resume until the operator
    # re-bootstraps or restarts past the position
    rep2 = Replayer(spark, outdir, str(tmp_path / "store"))
    with pytest.raises(TrackedTableDropped):
        rep2.replay()


def test_rename_cutover_stops_loudly(spark, tmp_path):
    """The pt-osc/gh-ost cutover (atomic RENAME swap) puts a different
    physical table under the tracked name — the replay must stop for
    operator confirmation instead of decoding against the old spec.
    Renames not involving the tracked table pass."""
    from mysql_cdc_spark.binlog.ddl import TrackedTableRenamed
    from mysql_cdc_spark.binlog.encoder import BinlogWriter
    from mysql_cdc_spark.fixtures import SOURCE_UUID

    txns = generate_changelog(
        n_conversations=6, max_turns=3, n_extra_ops=10, seed=77,
        evolve_after_frac=None,
    )
    outdir = str(tmp_path / "binlog")
    write_binlog_files(txns, outdir, txns_per_file=100)
    w = BinlogWriter("binlog.000002")
    w.write_mysql_gtid(SOURCE_UUID, 10_001)
    w.write_query("RENAME TABLE other_a TO other_b", database="chat")
    w.write_mysql_gtid(SOURCE_UUID, 10_002)
    w.write_query(
        "RENAME TABLE transcripts TO _transcripts_old, "
        "_transcripts_new TO transcripts",
        database="chat",
    )
    w.save(os.path.join(outdir, "binlog.000002"))
    rep = Replayer(spark, outdir, str(tmp_path / "store"))
    with pytest.raises(TrackedTableRenamed, match="binlog.000002"):
        rep.replay()


def test_fence_statement_parsers():
    from mysql_cdc_spark.binlog.ddl import parse_drop_table, parse_rename_table

    assert parse_drop_table("DROP TABLE a, chat.b", "db") == [
        ("db", "a"), ("chat", "b")
    ]
    assert parse_drop_table("DROP TABLE IF EXISTS `t`", "db") == [("db", "t")]
    assert parse_drop_table("DROP TEMPORARY TABLE t", "db") is None
    assert parse_drop_table("DROP INDEX i ON t", "db") is None
    assert parse_rename_table("RENAME TABLE a TO b", "db") == [
        (("db", "a"), ("db", "b"))
    ]
    assert parse_rename_table(
        "RENAME TABLE t TO t_old, c.t_new TO t", "db"
    ) == [(("db", "t"), ("db", "t_old")), (("c", "t_new"), ("db", "t"))]
    assert parse_rename_table("ALTER TABLE t RENAME TO u", "db") == [
        (("db", "t"), ("db", "u"))
    ]
    assert parse_rename_table("ALTER TABLE t RENAME u", "db") == [
        (("db", "t"), ("db", "u"))
    ]
    assert parse_rename_table("ALTER TABLE t RENAME COLUMN a TO b", "db") is None
    assert parse_rename_table("ALTER TABLE t ADD COLUMN x INT", "db") is None


def test_truncate_on_other_table_is_ignored(spark, tmp_path):
    """A TRUNCATE on an untracked table must not fence the tracked one
    (scan_truncates filters on (database, table))."""
    from mysql_cdc_spark.binlog.ddl import scan_truncates

    txns = generate_changelog(
        n_conversations=6, max_turns=3, n_extra_ops=10, seed=74,
        evolve_after_frac=None, truncate_at_frac=0.5,
    )
    outdir = str(tmp_path / "binlog")
    paths = write_binlog_files(txns, outdir, txns_per_file=100)
    with open(paths[0], "rb") as f:
        content = f.read()
    assert scan_truncates(content, "b", "chat", "transcripts")
    assert scan_truncates(content, "b", "chat", "other_table") == []
    assert scan_truncates(content, "b", "otherdb", "transcripts") == []
