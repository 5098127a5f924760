"""IcebergMergeTarget SQL generation (S7 + schema evolution DDL).

The sandbox has no Iceberg runtime jar, so the real MERGE path can't
execute here; these tests pin the exact SQL the sink would issue — the
part that is ours (the MERGE itself is Iceberg's, SURVEY.md §4) — via a
capture double standing in for the SparkSession."""

from __future__ import annotations

import os

from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS
from mysql_cdc_spark.pipeline.target import IcebergMergeTarget


class _CaptureSpark:
    def __init__(self, existing_columns=("conv_id", "turn_idx")):
        self.sqls: list[str] = []
        self._existing = existing_columns

    def sql(self, text: str):
        self.sqls.append(" ".join(text.split()))

    def table(self, _identifier):
        import types

        fields = [types.SimpleNamespace(name=n) for n in self._existing]
        return types.SimpleNamespace(schema=types.SimpleNamespace(fields=fields))


class _FakeNet:
    def createOrReplaceTempView(self, name):
        self.view = name


def test_create_table_ddl():
    spark = _CaptureSpark()
    tgt = IcebergMergeTarget("cdc.chat.transcripts", TRANSCRIPTS)
    tgt.ensure_table(spark)
    [ddl] = spark.sqls
    assert "CREATE TABLE IF NOT EXISTS cdc.chat.transcripts" in ddl
    assert "conv_id string" in ddl and "tool string" in ddl
    assert "USING iceberg" in ddl
    assert "PARTITIONED BY (bucket(64, conv_id))" in ddl


def test_additive_evolution_ddl_only_for_new_columns():
    spark = _CaptureSpark(existing_columns=("conv_id", "turn_idx", "role", "text", "ts"))
    tgt = IcebergMergeTarget("cdc.chat.transcripts", TRANSCRIPTS)
    # TABLE_MAP announced the evolved 6-column shape → only `tool` is added
    tgt.ensure_columns(spark, ["conv_id", "turn_idx", "role", "text", "ts", "tool"])
    assert spark.sqls == [
        "ALTER TABLE cdc.chat.transcripts ADD COLUMN tool string"
    ]


def test_merge_statement_shape():
    spark = _CaptureSpark()
    tgt = IcebergMergeTarget("cdc.chat.transcripts", TRANSCRIPTS)
    tgt.merge(spark, _FakeNet(), current_version=3)
    [merge] = spark.sqls
    assert "MERGE INTO cdc.chat.transcripts t USING _cdc_net s" in merge
    assert "ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx" in merge
    assert "WHEN MATCHED AND s.op = 'delete' THEN DELETE" in merge
    assert "t.text = s.after_text" in merge
    assert "WHEN NOT MATCHED AND s.op != 'delete' THEN INSERT" in merge
    # key columns insert from the coalesced key, payload from after-image
    assert "VALUES (conv_id, turn_idx, after_role, after_text, after_tool, after_ts)" in merge


def test_merge_partial_statement_shape():
    """MINIMAL-image MERGE: per-column carried_mask CASE in each SET
    clause (the SQL form of the parquet target's per-column apply)."""
    spark = _CaptureSpark()
    tgt = IcebergMergeTarget("cdc.chat.transcripts", TRANSCRIPTS)
    tgt.merge_partial(spark, _FakeNet(), current_version=3)
    [merge] = spark.sqls
    assert "MERGE INTO cdc.chat.transcripts t USING _cdc_net s" in merge
    assert "WHEN MATCHED AND s.op = 'delete' THEN DELETE" in merge
    # text is canonical column index 3 → bit 3 guards its SET clause
    assert (
        "t.text = CASE WHEN (s.carried_mask >> 3) & 1 = 1 "
        "THEN s.after_text ELSE t.text END" in merge
    )
    assert "WHEN NOT MATCHED AND s.op != 'delete' THEN INSERT" in merge


def test_internal_commit_target_merge_deferred_until_stats(tmp_path, spark):
    """No target sees merge() for an empty batch: the replay driver reads
    the decode stats before it merges, so a sink that commits inside the
    engine (no snapshot_path — the Iceberg shape) has nothing to roll
    back, and a snapshot sink stages no version."""
    from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS
    from mysql_cdc_spark.fixtures import generate_changelog, write_binlog_files
    from mysql_cdc_spark.pipeline.mor import (
        MergeOnReadBucketedTarget,
        OrderedMergeOnReadTarget,
    )
    from mysql_cdc_spark.pipeline.replay import Replayer
    from mysql_cdc_spark.pipeline.target import (
        BucketedParquetMergeTarget,
        OrderedBucketedMergeTarget,
    )

    class InternalCommitTarget:
        """Delegates to a parquet target but hides snapshot_path, like a
        sink whose MERGE commits inside the engine."""

        def __init__(self, store_dir, spec, buckets):
            self._inner = BucketedParquetMergeTarget(store_dir, spec, buckets=buckets)

        def merge(self, spark, net, current_version):
            return self._inner.merge(spark, net, current_version)

        def read(self, spark, version):
            return self._inner.read(spark, version)

    txns = generate_changelog(n_conversations=6, max_turns=3, n_extra_ops=10, seed=41)
    outdir = str(tmp_path / "binlog")
    write_binlog_files(txns, outdir, txns_per_file=len(txns))

    for cls in (
        InternalCommitTarget, BucketedParquetMergeTarget,
        OrderedBucketedMergeTarget,
        MergeOnReadBucketedTarget, OrderedMergeOnReadTarget,
    ):
        store = str(tmp_path / cls.__name__)
        tgt = cls(store, TRANSCRIPTS, buckets=2)
        calls = []
        inner_merge = tgt.merge
        tgt.merge = lambda *a, _m=inner_merge: calls.append(1) or _m(*a)
        Replayer(spark, outdir, store, target=tgt).replay()
        assert len(calls) == 1, cls.__name__
        snaps = sorted(os.listdir(os.path.join(store, "snapshots")))

        # fully replayed: a fresh Replayer re-reads the last segment and
        # finds an empty batch — merge() must not run at all
        Replayer(spark, outdir, store, target=tgt).replay()
        assert len(calls) == 1, cls.__name__
        assert sorted(os.listdir(os.path.join(store, "snapshots"))) == snaps
