"""Streaming layer tests: continuous tail (ST6) and Structured Streaming
apply (S2/ST1/ST5)."""

from __future__ import annotations

import pandas as pd
import pytest

from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS, decode_binlog_dir
from mysql_cdc_spark.fixtures import (
    apply_changelog_oracle,
    generate_changelog,
    write_binlog_files,
)
from mysql_cdc_spark.pipeline.replay import Replayer
from mysql_cdc_spark.streaming import tail
from mysql_cdc_spark.streaming.stream import (
    read_stream_state,
    stream_apply,
    write_changelog,
)


def _final_pdf(df) -> pd.DataFrame:
    return (
        df.orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def txns():
    return generate_changelog(
        n_conversations=25, max_turns=5, n_extra_ops=60, seed=17,
        duplicate_txns=3, evolve_after_frac=0.5,
    )


class TestTail:
    def test_catchup_then_incremental(self, spark, txns, tmp_path):
        """Non-blocking catch-up applies what exists; new segments arriving
        later are picked up by the next tail; idle polls terminate the
        blocking loop; final state == sequential oracle."""
        binlog = str(tmp_path / "binlog")
        # phase 1: first half of the stream exists
        half = len(txns) // 2
        write_binlog_files(txns[:half], binlog, txns_per_file=20,
                          file_prefix="binlog")
        rep = Replayer(spark, binlog, str(tmp_path / "store"))

        r1 = tail(rep, blocking=False)
        assert r1.events > 0

        # phase 2: the stream grows (later segment numbers)
        n_existing = len(rep.pending_files())
        write_binlog_files(
            txns[half:], binlog, txns_per_file=20,
            file_prefix="zbinlog",  # sorts after existing segments
        )
        beats = []
        r2 = tail(
            rep, blocking=True, poll_interval_s=0.05, max_idle_polls=2,
            heartbeat=lambda poll, res: beats.append((poll, res.events)),
        )
        assert r2.events > 0
        assert r2.idle_polls == 2
        assert len(beats) == r2.polls

        got = _final_pdf(rep.read_state())
        want = apply_changelog_oracle(txns)
        assert got["text"].tolist() == want["text"].tolist()
        assert got["tool"].fillna("").tolist() == want["tool"].fillna("").tolist()
        _ = n_existing

    def test_idle_tail_is_noop(self, spark, txns, tmp_path):
        binlog = str(tmp_path / "binlog2")
        write_binlog_files(txns, binlog, txns_per_file=50)
        rep = Replayer(spark, binlog, str(tmp_path / "store2"))
        tail(rep, blocking=False)
        before = _final_pdf(rep.read_state())
        r = tail(rep, blocking=True, poll_interval_s=0.01, max_idle_polls=2)
        assert r.events == 0
        after = _final_pdf(rep.read_state())
        pd.testing.assert_frame_equal(before, after)


class TestStructuredStreamingApply:
    def test_stream_apply_matches_oracle(self, spark, txns, tmp_path):
        """Decode tier writes a parquet changelog; the Structured Streaming
        apply tier (availableNow) MERGEs it; final state == oracle."""
        binlog = str(tmp_path / "sbinlog")
        write_binlog_files(txns, binlog, txns_per_file=30)
        changes = decode_binlog_dir(spark, binlog, TRANSCRIPTS)
        changelog = str(tmp_path / "changelog")
        write_changelog(changes, changelog)

        store = str(tmp_path / "sstore")
        q = stream_apply(spark, changelog, store, available_now=True)
        q.awaitTermination(120)

        got = _final_pdf(read_stream_state(spark, store))
        want = apply_changelog_oracle(txns)
        assert got["text"].tolist() == want["text"].tolist()

    def test_stream_checkpoint_no_reprocess(self, spark, txns, tmp_path):
        """Restarting the streaming query with the same checkpoint must not
        re-apply processed files (Spark WAL) — state unchanged."""
        binlog = str(tmp_path / "sbinlog2")
        write_binlog_files(txns, binlog, txns_per_file=30)
        changes = decode_binlog_dir(spark, binlog, TRANSCRIPTS)
        changelog = str(tmp_path / "changelog2")
        write_changelog(changes, changelog)

        store = str(tmp_path / "sstore2")
        q = stream_apply(spark, changelog, store, available_now=True)
        q.awaitTermination(120)
        before = _final_pdf(read_stream_state(spark, store))

        q2 = stream_apply(spark, changelog, store, available_now=True)
        q2.awaitTermination(120)
        after = _final_pdf(read_stream_state(spark, store))
        pd.testing.assert_frame_equal(before, after)

    def test_out_of_order_changelog_files_cannot_regress(self, spark, txns, tmp_path):
        """At-least-once file delivery across triggers: applying the NEWER
        half of the changelog first and the OLDER half in a later trigger
        must still converge to the oracle state (order-aware merge keeps
        the higher (gtid_seq, pos, row_in_event) per key)."""
        binlog = str(tmp_path / "sbinlog3")
        write_binlog_files(txns, binlog, txns_per_file=30)
        changes = decode_binlog_dir(spark, binlog, TRANSCRIPTS).persist()
        half_seq = max(t.seq for t in txns) // 2
        newer = changes.filter(f"gtid_seq > {half_seq}")
        older = changes.filter(f"gtid_seq <= {half_seq}")

        changelog = str(tmp_path / "changelog3")
        store = str(tmp_path / "sstore3")
        # trigger 1: newer events only
        write_changelog(newer, changelog)
        q = stream_apply(spark, changelog, store, available_now=True)
        q.awaitTermination(120)
        # trigger 2: the older file arrives late
        write_changelog(older, changelog, mode="append")
        q2 = stream_apply(spark, changelog, store, available_now=True)
        q2.awaitTermination(120)
        changes.unpersist()

        got = _final_pdf(read_stream_state(spark, store))
        want = apply_changelog_oracle(txns)
        assert got["text"].tolist() == want["text"].tolist()


    def test_torn_snapshot_is_skipped_and_overwritten(self, spark, txns, tmp_path):
        """A trigger that crashed after writing bucket data but before the
        manifest leaves a torn snapshot above the newest committed one.
        Reads and the next trigger use the committed snapshot, and the next
        trigger's merge overwrites the orphan."""
        import os

        binlog = str(tmp_path / "sbinlog4")
        write_binlog_files(txns, binlog, txns_per_file=30)
        changes = decode_binlog_dir(spark, binlog, TRANSCRIPTS).persist()
        half_seq = max(t.seq for t in txns) // 2
        changelog = str(tmp_path / "changelog4")
        store = str(tmp_path / "sstore4")
        write_changelog(changes.filter(f"gtid_seq <= {half_seq}"), changelog)
        stream_apply(spark, changelog, store, available_now=True).awaitTermination(120)
        before = _final_pdf(read_stream_state(spark, store))

        snaps = os.path.join(store, "snapshots")
        newest = max(os.listdir(snaps))
        torn = os.path.join(snaps, f"v{int(newest[1:]) + 1:08d}")
        os.makedirs(os.path.join(torn, "data", "_bucket=1"))
        pd.testing.assert_frame_equal(_final_pdf(read_stream_state(spark, store)), before)

        write_changelog(changes.filter(f"gtid_seq > {half_seq}"), changelog, mode="append")
        stream_apply(spark, changelog, store, available_now=True).awaitTermination(120)
        changes.unpersist()
        assert os.path.exists(os.path.join(torn, "manifest.json"))
        got = _final_pdf(read_stream_state(spark, store))
        want = apply_changelog_oracle(txns)
        assert got["text"].tolist() == want["text"].tolist()


class TestStatefulApply:
    """applyInPandasWithState tier: per-key winning order tuple lives in
    the streaming state store; the output is an append-only transition
    log whose per-key max-by-order reduction equals the oracle."""

    def test_stateful_transitions_match_oracle(self, spark, txns, tmp_path):
        from mysql_cdc_spark.streaming.stateful import (
            read_transitions_state,
            stream_apply_stateful,
        )

        binlog = str(tmp_path / "stbinlog")
        write_binlog_files(txns, binlog, txns_per_file=30)
        changes = decode_binlog_dir(spark, binlog, TRANSCRIPTS)
        changelog = str(tmp_path / "stchangelog")
        write_changelog(changes, changelog)

        out = str(tmp_path / "transitions")
        q = stream_apply_stateful(spark, changelog, out, available_now=True)
        q.awaitTermination(180)

        got = _final_pdf(read_transitions_state(spark, out))
        want = apply_changelog_oracle(txns)
        assert got["text"].tolist() == want["text"].tolist()
        assert got["tool"].fillna("").tolist() == want["tool"].fillna("").tolist()

    def test_stateful_out_of_order_triggers_suppress_stale(self, spark, txns, tmp_path):
        """The NEWER half arrives in trigger 1, the OLDER half in trigger
        2 (same query, same checkpoint → state store persists): stale rows
        must not outrank the stored winner, and the reduction still equals
        the oracle."""
        from mysql_cdc_spark.streaming.stateful import (
            read_transitions_state,
            stream_apply_stateful,
        )

        binlog = str(tmp_path / "stbinlog2")
        write_binlog_files(txns, binlog, txns_per_file=30)
        changes = decode_binlog_dir(spark, binlog, TRANSCRIPTS).persist()
        half_seq = max(t.seq for t in txns) // 2
        newer = changes.filter(f"gtid_seq > {half_seq}")
        older = changes.filter(f"gtid_seq <= {half_seq}")

        changelog = str(tmp_path / "stchangelog2")
        out = str(tmp_path / "transitions2")
        write_changelog(newer, changelog)
        q = stream_apply_stateful(spark, changelog, out, available_now=True)
        q.awaitTermination(180)
        n_after_newer = spark.read.parquet(out).count()

        write_changelog(older, changelog, mode="append")
        q2 = stream_apply_stateful(spark, changelog, out, available_now=True)
        q2.awaitTermination(180)
        changes.unpersist()

        transitions = spark.read.parquet(out)
        # stale rows for keys already won by newer events were suppressed:
        # the second trigger emitted only keys whose winner lives in the
        # older half
        assert transitions.count() > n_after_newer

        got = _final_pdf(read_transitions_state(spark, out))
        want = apply_changelog_oracle(txns)
        assert got["text"].tolist() == want["text"].tolist()


class TestWindowedMetrics:
    """Watermark + event-time windowed aggs over the decoded stream
    (append mode: a window emits exactly once, when the watermark
    finalizes it; events older than the allowance are dropped)."""

    def _decoded(self, spark, txns, tmp_path, name):
        binlog = str(tmp_path / f"{name}_binlog")
        write_binlog_files(txns, binlog, txns_per_file=30)
        return decode_binlog_dir(spark, binlog, TRANSCRIPTS)

    def _sentinel(self, changes, minutes):
        import pyspark.sql.functions as F

        return changes.limit(1).withColumn(
            "ts", F.col("ts") + F.expr(f"INTERVAL {minutes} MINUTES")
        )

    def test_windowed_counts_match_batch(self, spark, txns, tmp_path):
        import pyspark.sql.functions as F

        from mysql_cdc_spark.streaming.windows import stream_change_metrics

        changes = self._decoded(spark, txns, tmp_path, "wm").persist()
        changelog = str(tmp_path / "wm_changelog")
        out = str(tmp_path / "wm_out")
        write_changelog(changes, changelog)
        q = stream_change_metrics(spark, changelog, out, available_now=True)
        q.awaitTermination(120)

        # a far-future sentinel advances the watermark so every base
        # window finalizes on the next run (same checkpoint)
        write_changelog(self._sentinel(changes, 60), changelog, mode="append")
        q2 = stream_change_metrics(spark, changelog, out, available_now=True)
        q2.awaitTermination(120)

        got = (
            spark.read.parquet(out)
            .groupBy("window_start", "db", "tbl", "op")
            .agg(F.sum("n_changes").alias("n_changes"))
        )
        max_base_ts = changes.agg(F.max("ts")).collect()[0][0]
        want = (
            changes.filter(F.col("ts").isNotNull())
            .groupBy(F.window("ts", "1 minute").alias("w"), "db", "tbl", "op")
            .agg(F.count(F.lit(1)).alias("n_changes"))
            .select(F.col("w.start").alias("window_start"), "db", "tbl", "op", "n_changes")
        )
        g = {tuple(r) for r in got.collect()}
        w = {tuple(r) for r in want.collect()}
        changes.unpersist()
        assert w and w <= g  # all base windows finalized with exact counts
        # only the sentinel's own window may be extra
        extra = g - w
        assert all(r[0] > max_base_ts for r in extra)

    def test_late_event_beyond_watermark_dropped(self, spark, txns, tmp_path):
        import pyspark.sql.functions as F

        from mysql_cdc_spark.streaming.windows import stream_change_metrics

        changes = self._decoded(spark, txns, tmp_path, "late").persist()
        changelog = str(tmp_path / "late_changelog")
        out = str(tmp_path / "late_out")
        # two-phase: base data first, sentinel in a separate run — a
        # sentinel processed in the same run could advance the watermark
        # before later micro-batches of base data are applied
        write_changelog(changes, changelog)
        q = stream_change_metrics(spark, changelog, out, available_now=True)
        q.awaitTermination(120)
        write_changelog(self._sentinel(changes, 60), changelog, mode="append")
        q1 = stream_change_metrics(spark, changelog, out, available_now=True)
        q1.awaitTermination(120)
        before = spark.read.parquet(out).agg(F.sum("n_changes")).collect()[0][0]

        # redeliver an OLD event (far below the watermark) plus a further
        # sentinel: the old event must be dropped, not re-counted
        write_changelog(changes.limit(1), changelog, mode="append")
        write_changelog(self._sentinel(changes, 120), changelog, mode="append")
        q2 = stream_change_metrics(spark, changelog, out, available_now=True)
        q2.awaitTermination(120)
        after_df = spark.read.parquet(out)
        after = after_df.agg(F.sum("n_changes")).collect()[0][0]
        changes.unpersist()
        # growth only from the first sentinel's window finalizing (1 row);
        # the redelivered old event contributed nothing
        assert after == before + 1

    def test_session_windows_stream(self, spark, txns, tmp_path):
        import pyspark.sql.functions as F

        from mysql_cdc_spark.streaming.windows import stream_change_metrics

        changes = self._decoded(spark, txns, tmp_path, "sess").persist()
        changelog = str(tmp_path / "sess_changelog")
        out = str(tmp_path / "sess_out")
        write_changelog(changes, changelog)
        q = stream_change_metrics(
            spark, changelog, out, mode="session", gap="2 minutes"
        )
        q.awaitTermination(120)
        write_changelog(self._sentinel(changes, 60), changelog, mode="append")
        q2 = stream_change_metrics(
            spark, changelog, out, mode="session", gap="2 minutes"
        )
        q2.awaitTermination(120)

        got = spark.read.parquet(out)
        max_base_ts = changes.agg(F.max("ts")).collect()[0][0]
        finalized = got.filter(F.col("session_start") <= max_base_ts).select(
            "session_start", "conv_id", "n_changes"
        )
        want = (
            changes.filter(F.col("ts").isNotNull())
            .groupBy(
                F.session_window("ts", "2 minutes").alias("w"),
                F.col("after_conv_id").alias("conv_id"),
            )
            .agg(F.count(F.lit(1)).alias("n_changes"))
            .select(
                F.col("w.start").alias("session_start"), "conv_id", "n_changes"
            )
            .filter(F.col("session_start") <= max_base_ts)
        )
        g = {tuple(r) for r in finalized.collect()}
        w = {tuple(r) for r in want.collect()}
        changes.unpersist()
        assert w and w == g


class TestStreamKnobParity:
    """ignore_server_ids / column_transforms on the streaming apply tier
    mirror the batch Replayer semantics."""

    def test_stream_transforms_mask_at_ingest(self, spark, txns, tmp_path):
        import re

        binlog = str(tmp_path / "kbinlog")
        write_binlog_files(txns, binlog, txns_per_file=30)
        changes = decode_binlog_dir(spark, binlog, TRANSCRIPTS)
        changelog = str(tmp_path / "kchangelog")
        write_changelog(changes, changelog)

        store = str(tmp_path / "kstore")
        q = stream_apply(
            spark, changelog, store, available_now=True,
            column_transforms={"text": "regexp_replace(text, '[0-9]', '#')"},
        )
        q.awaitTermination(120)
        got = _final_pdf(read_stream_state(spark, store))
        want = apply_changelog_oracle(txns)
        masked = [re.sub(r"[0-9]", "#", s) for s in want["text"].tolist()]
        assert got["text"].tolist() == masked
        assert not got["text"].str.contains(r"[0-9]").any()

    def test_stream_ignore_server_ids(self, spark, txns, tmp_path):
        foreign = {t.seq for t in txns if t.seq % 5 == 0}
        binlog = str(tmp_path / "ibinlog")
        write_binlog_files(
            txns, binlog, txns_per_file=30,
            server_id_by_seq={s: 66 for s in foreign},
        )
        changes = decode_binlog_dir(spark, binlog, TRANSCRIPTS)
        changelog = str(tmp_path / "ichangelog")
        write_changelog(changes, changelog)

        store = str(tmp_path / "istore")
        q = stream_apply(
            spark, changelog, store, available_now=True,
            ignore_server_ids=(66,),
        )
        q.awaitTermination(120)
        got = _final_pdf(read_stream_state(spark, store))
        want = apply_changelog_oracle([t for t in txns if t.seq not in foreign])
        assert got["text"].tolist() == want["text"].tolist()

    def test_stream_key_transform_rejected(self, spark, tmp_path):
        with pytest.raises(ValueError, match="primary-key"):
            stream_apply(
                spark, str(tmp_path / "nochangelog"), str(tmp_path / "nostore"),
                column_transforms={"conv_id": "upper(conv_id)"},
            )


class TestStreamAudit:
    """Streaming twin of Replayer(audit=...): a rejected trigger unlinks
    its snapshot and fails the query; a restart with a passing audit
    replays it cleanly (the trigger was never checkpointed)."""

    def _changelog(self, spark, txns, tmp_path):
        binlog = str(tmp_path / "abinlog")
        write_binlog_files(txns, binlog, txns_per_file=30)
        changes = decode_binlog_dir(spark, binlog, TRANSCRIPTS)
        changelog = str(tmp_path / "achangelog")
        write_changelog(changes, changelog)
        return changelog

    def test_passing_audit_publishes(self, spark, txns, tmp_path):
        from mysql_cdc_spark.pipeline import audit as A

        changelog = self._changelog(spark, txns, tmp_path)
        store = str(tmp_path / "astore")
        q = stream_apply(
            spark, changelog, store, available_now=True,
            audit=A.all_of(A.unique_key(), A.not_null("text")),
        )
        q.awaitTermination(120)
        got = _final_pdf(read_stream_state(spark, store))
        want = apply_changelog_oracle(txns)
        assert got["text"].tolist() == want["text"].tolist()

    def test_rejection_fails_query_and_retry_is_clean(self, spark, txns, tmp_path):
        from mysql_cdc_spark.pipeline import audit as A

        changelog = self._changelog(spark, txns, tmp_path)
        store = str(tmp_path / "rstore")
        # pre-evolution rows carry NULL tool: the first trigger must reject
        q = stream_apply(
            spark, changelog, store, available_now=True,
            audit=A.not_null("tool"),
        )
        with pytest.raises(Exception) as ei:
            q.awaitTermination(120)
        assert "tool" in str(ei.value)
        assert read_stream_state(spark, store).count() == 0

        q2 = stream_apply(
            spark, changelog, store, available_now=True,
            audit=A.unique_key(),
        )
        q2.awaitTermination(120)
        got = _final_pdf(read_stream_state(spark, store))
        want = apply_changelog_oracle(txns)
        assert got["text"].tolist() == want["text"].tolist()

    def test_audit_requires_snapshot_target(self, spark, txns, tmp_path):
        from mysql_cdc_spark.pipeline import audit as A

        class OpaqueSink:
            def merge(self, *a):
                return 0

        with pytest.raises(TypeError):
            stream_apply(
                spark, str(tmp_path / "c"), str(tmp_path / "s"),
                target=OpaqueSink(), audit=A.unique_key(),
            )
