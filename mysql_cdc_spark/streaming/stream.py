"""Structured Streaming apply path (S2/ST1/ST5 as a streaming job).

Deployment shape: a decode tier turns binlog segments into a decoded
change-event table (append-only parquet, partitioned by arrival); an apply
tier is a Structured Streaming job over it:

    readStream (file source, maxFilesPerTrigger)        S2
      → intra-batch LWW dedup                           W1/ST5
      → foreachBatch: order-aware MERGE into the target S7
      → Spark streaming checkpoint (offsets/commits)    S6/ST1

Exactly-once: Spark's checkpoint gives at-least-once foreachBatch
delivery; the MERGE is *order-aware* — snapshots persist each key's
winning (gtid_seq, pos, row_in_event) tuple and an incoming row only
replaces the stored row when it outranks it — so replays of an
uncommitted trigger AND changelog files arriving out of commit order
across triggers both converge to the same state (same total order as the
batch ledger path, with Spark's WAL playing the ledger's role). No
watermark is needed: late data is handled by rank, not by time eviction.

``Trigger.AvailableNow`` gives the bounded catch-up run (ST6 non-blocking
dump); omit it for continuous tailing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..binlog.decoder import TRANSCRIPTS, TableSpec, change_event_schema
from ..pipeline import apply
from ..pipeline.audit import require_snapshot_target
from ..pipeline.mor import auto_compact_policy
from ..pipeline.target import (
    OrderedBucketedMergeTarget,
    latest_committed_version,
    open_store,
    state_schema,
)


def write_changelog(changes: DataFrame, path: str, mode: str = "append") -> None:
    """Decode-tier sink: append decoded change events as the streamable
    changelog table (partition-friendly: one file set per decode run)."""
    changes.write.mode(mode).parquet(path)


def stream_apply(
    spark: SparkSession,
    changelog_dir: str,
    store_dir: str,
    spec: TableSpec = TRANSCRIPTS,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    target: object | None = None,
    ignore_server_ids: tuple[int, ...] = (),
    column_transforms: dict[str, str] | None = None,
    audit: object | None = None,
    auto_compact: int | None = None,
):
    """Run the apply tier as a Structured Streaming query; returns the
    StreamingQuery (caller awaits termination). Applies FULL row images
    (whole-row LWW); for binlog_row_image=MINIMAL use the batch path's
    ``Replayer(row_image="minimal")`` per-column merge.

    ``ignore_server_ids`` / ``column_transforms``: the streaming twins of
    the batch ``Replayer`` knobs (circular-replication guard; ingest-time
    masking) — same semantics, applied per micro-batch before dedup so
    skipped/unmasked values never reach the store. Spark's streaming
    checkpoint still advances over skipped rows (the file offset is the
    position, not the row), mirroring the batch path's skip-and-advance.

    ``audit``: the streaming twin of ``Replayer(audit=...)`` (write-
    audit-publish, pipeline/audit.py). A rejection unlinks the trigger's
    snapshot and FAILS the query — Spark never checkpoints the trigger,
    so a restart after the upstream fix replays it cleanly (the outrank
    guard makes the re-merge idempotent). One honesty note vs the batch
    tier: this store has no ledger, so the snapshot directory itself is
    the publish — a concurrent reader can glimpse the unaudited version
    for the audit's duration; the batch ``Replayer`` audits inside a
    true ledger gap with no such window.

    Default sink: ``OrderedBucketedMergeTarget`` — the outrank guard and
    tombstones on the bucket-pruned CoW layout, so a steady-state trigger
    touching K conversations rewrites K buckets, not the table. Pass
    ``target=OrderedMergeOnReadTarget(...)`` for the delta-append form
    (measured ~4× cheaper per trigger, BENCH.md). For
    MoR targets ``auto_compact`` DEFAULTS to ``mor.DEFAULT_AUTO_COMPACT``
    (``mor.auto_compact_policy``): any bucket whose delta chain reaches
    the threshold folds back into base right after the trigger (read fold
    cost grows with chain length — BENCH.md); pass
    ``auto_compact=0`` to opt out or another N to tune it. No ledger
    here: each trigger merges onto the store's newest COMMITTED snapshot
    (``target.latest_committed_version``), so a compacted version simply
    becomes the next base, a crash between merge and compact just leaves
    the chain one trigger longer, and a trigger that crashed mid-write
    leaves an orphan the next trigger overwrites."""
    column_transforms = apply.check_transforms(spec, column_transforms)
    target = target or OrderedBucketedMergeTarget(store_dir, spec)
    if audit is not None:
        require_snapshot_target(target)
    auto_compact = auto_compact_policy(target, auto_compact)

    reader = spark.readStream.schema(change_event_schema(spec))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(changelog_dir)

    # transaction gate + the batch path's prepare step
    stream = stream.filter(F.col("xid").isNotNull())
    if ignore_server_ids:
        stream = stream.filter(
            ~F.col("server_id").isin([int(s) for s in ignore_server_ids])
        )
    stream = apply.prepare(stream, spec, column_transforms)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # versions advance per trigger; a replayed trigger re-merges the
        # same net-change idempotently (equal rank → incoming wins → same
        # row), and an out-of-order older file cannot outrank stored state.
        # An audit rejection fails the query: the trigger is never
        # checkpointed
        new_version = apply.publish(
            spark, target, apply.net_change(batch_df, spec),
            latest_committed_version(store_dir), audit=audit,
            changes=batch_df, batch_id=batch_id,
        )
        if apply.compact_due(target, new_version, auto_compact):
            target.compact(spark, new_version, min_deltas=auto_compact)

    return _start(
        stream, apply_batch,
        checkpoint_dir or f"{store_dir}/_stream_checkpoint", available_now,
    )


def stream_apply_frames(
    spark: SparkSession,
    frames_dir: str,
    store_dir: str,
    spec: TableSpec = TRANSCRIPTS,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    target: object | None = None,
):
    """End-to-end streaming over the event-frame source: raw binlog
    frames land as (stream, offset, frame) rows (the message-bus relay
    shape, binlog/frames.py); each trigger decodes the new frames and
    merges order-aware. Because decode happens inside the trigger, a
    frame file arriving out of order is just an out-of-order *event*
    batch — the tombstoned, rank-checked merge absorbs it, so no
    cross-trigger coordination with the decode tier is needed.

    Contracts (both mirror the file path's per-segment independence):
    - a frames file must carry whole transactions per stream (MySQL
      itself never rotates mid-transaction; a relay that commits at XID
      boundaries gives this for free) — a split transaction's tail would
      gate as uncommitted and drop;
    - cross-trigger ordering rides on gtid_seq (``pos`` restarts per
      reassembled chunk and only breaks ties within a transaction), so
      this path requires GTID-enabled streams."""
    from ..binlog.frames import decode_event_frames

    target = target or OrderedBucketedMergeTarget(store_dir, spec)
    reader = spark.readStream.schema("stream string, offset long, frame binary")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(frames_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        changes = decode_event_frames(batch_df, spec)
        changes = apply.prepare(changes.filter(F.col("xid").isNotNull()), spec)
        apply.publish(
            batch_df.sparkSession, target, apply.net_change(changes, spec),
            latest_committed_version(store_dir),
        )

    return _start(
        stream, apply_batch,
        checkpoint_dir or f"{store_dir}/_frames_checkpoint", available_now,
    )


def _start(stream: DataFrame, apply_batch, checkpoint: str, available_now: bool):
    """Run ``apply_batch`` on every trigger of ``stream``."""
    writer = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_stream_state(spark: SparkSession, store_dir: str, spec: TableSpec = TRANSCRIPTS) -> DataFrame:
    """Current streamed state: the newest committed snapshot, read through
    the target family that wrote the store (``target.open_store``)."""
    target = open_store(store_dir, spec)
    if target is None:
        return spark.createDataFrame([], state_schema(spec))
    return target.read(spark, latest_committed_version(store_dir))
