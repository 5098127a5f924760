"""Write-audit-publish (``Replayer(audit=...)``): data-quality checks run
against the staged snapshot between the merge write and the ledger
append (Iceberg's WAP window). A rejection must leave the store exactly
as it was — no ledger entry, no readable state change, no staged files —
and a retry must start clean.
"""

import os

import pandas as pd
import pytest

from mysql_cdc_spark.fixtures import (
    apply_changelog_oracle,
    generate_changelog,
    write_binlog_files,
)
from mysql_cdc_spark.pipeline import audit as A
from mysql_cdc_spark.pipeline.replay import Replayer


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    txns = generate_changelog(
        n_conversations=15,
        max_turns=6,
        n_extra_ops=60,
        seed=3,
        evolve_after_frac=0.5,
        duplicate_txns=2,
    )
    d = str(tmp_path_factory.mktemp("binlog"))
    write_binlog_files(txns, d, txns_per_file=30)
    return {"dir": d, "oracle": apply_changelog_oracle(txns)}


def _state_pdf(rep):
    return (
        rep.read_state()
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )


def test_passing_audit_publishes(spark, corpus, tmp_path):
    rep = Replayer(
        spark, corpus["dir"], str(tmp_path / "s"), salt_buckets=2,
        audit=A.all_of(
            A.unique_key(),
            A.not_null("text", "role"),
            A.expect("turn_idx >= 0"),
        ),
    )
    res = rep.replay(files_per_batch=1)
    got = _state_pdf(rep)
    want = corpus["oracle"]
    assert got["text"].tolist() == want["text"].tolist()
    # every committed batch carries the audit phase timing
    timed = [
        e.metrics for e in rep.ledger.entries() if e.metrics.get("events")
    ]
    assert timed and all("audit_s" in m for m in timed)


def test_rejection_rolls_back_and_retry_is_clean(spark, corpus, tmp_path):
    store = str(tmp_path / "s")
    # pre-evolution rows carry NULL tool — this audit must veto batch 1
    rep = Replayer(
        spark, corpus["dir"], store, salt_buckets=2,
        audit=A.not_null("tool"),
    )
    with pytest.raises(A.AuditRejected) as ei:
        rep.replay(files_per_batch=1)
    assert "tool" in str(ei.value)

    # nothing published: no ledger entries, state empty, no staged files
    assert rep.ledger.last() is None
    assert rep.read_state().count() == 0
    snaps_dir = os.path.join(store, "snapshots")
    staged = os.listdir(snaps_dir) if os.path.isdir(snaps_dir) else []
    assert staged == []

    # retry on the SAME store with the (fixed) audit publishes everything
    rep2 = Replayer(
        spark, corpus["dir"], store, salt_buckets=2, audit=A.unique_key(),
    )
    rep2.replay(files_per_batch=1)
    got = _state_pdf(rep2)
    assert got["text"].tolist() == corpus["oracle"]["text"].tolist()


def test_audit_requires_snapshot_target(spark, corpus, tmp_path):
    class OpaqueSink:
        def merge(self, *a):
            return 0

    with pytest.raises(TypeError):
        Replayer(
            spark, corpus["dir"], str(tmp_path / "s"),
            target=OpaqueSink(), audit=A.unique_key(),
        )


# -- auditor unit semantics (constructed contexts, no replay) -------------


def _ctx(spark, staged_rows, prev_rows=()):
    schema = "conv_id string, turn_idx int, text string"
    return A.AuditContext(
        spark=spark,
        batch_id=7,
        staged=spark.createDataFrame(list(staged_rows), schema),
        previous=spark.createDataFrame(list(prev_rows), schema),
        changes=spark.createDataFrame([], schema),
        primary_key=("conv_id", "turn_idx"),
    )


def test_unique_key_detects_duplicates(spark):
    ok = _ctx(spark, [("c", 1, "a"), ("c", 2, "b")])
    A.unique_key()(ok)
    bad = _ctx(spark, [("c", 1, "a"), ("c", 1, "b")])
    with pytest.raises(A.AuditRejected) as ei:
        A.unique_key()(bad)
    assert "duplicate" in str(ei.value) and "batch 7" in str(ei.value)


def test_not_null_and_expect(spark):
    ctx = _ctx(spark, [("c", 1, None)])
    with pytest.raises(A.AuditRejected):
        A.not_null("text")(ctx)
    A.not_null("conv_id")(ctx)  # passes
    with pytest.raises(A.AuditRejected):
        # NULL never satisfies a row contract (eqNullSafe guard)
        A.expect("length(text) > 0")(ctx)
    A.expect("turn_idx >= 0")(ctx)


def test_max_shrink(spark):
    prev = [("c", i, "t") for i in range(10)]
    ctx = _ctx(spark, prev[:4], prev)  # shrank 60%
    with pytest.raises(A.AuditRejected):
        A.max_shrink(0.5)(ctx)
    A.max_shrink(0.7)(ctx)  # within budget
    # empty previous state (bootstrap) never rejects
    A.max_shrink(0.0)(_ctx(spark, prev, ()))


def test_audit_and_history_read_the_one_decode_pass(spark, corpus, tmp_path):
    """With ``audit=`` and ``history=`` set, both read the batch's changes
    after the merge from the cache the batch's one decode pass filled: the
    audit moves the segments out of the binlog directory first, so a
    second decode would fail to open them."""
    import shutil

    from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS
    from mysql_cdc_spark.pipeline.scd2 import Scd2HistoryStore

    binlog, moved = str(tmp_path / "binlog"), str(tmp_path / "moved")
    shutil.copytree(corpus["dir"], binlog)
    counted = []

    def audit(ctx):
        shutil.move(binlog, moved)
        counted.append(ctx.changes.count())

    history = Scd2HistoryStore(str(tmp_path / "h"), TRANSCRIPTS, buckets=4)
    rep = Replayer(
        spark, binlog, str(tmp_path / "s"), audit=audit, history=history
    )
    res = rep.run_batch(rep.pending_files())
    assert res.events > 0 and counted == [res.events]
    assert history.current_version() == 1
    assert history.read_history(spark).count() > 0
    got = _state_pdf(rep)
    assert got["text"].tolist() == corpus["oracle"]["text"].tolist()
