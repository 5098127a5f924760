"""The apply path every writer shares:

    prepare   change key → before-images dropped → column_transforms →
              instant-ADD-COLUMN defaults
    net       last-writer-wins per key (FULL: whole rows; MINIMAL: per column)
    publish   merge → write-audit-publish → SCD2 history
    commit    ledger append → views refresh → gc_keep

A writer owns only where its change rows come from and what its ledger
entry says. The streaming tier has no ledger: it shares prepare, net
and publish. Maintenance commits merge a net built by
``target.insert_net`` / ``diff_net`` / ``delete_net``.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .order import (
    ORDER_COLS,
    apply_column_defaults,
    last_writer_wins,
    last_writer_wins_partial,
    with_change_key,
)
from .target import write_decision


def check_transforms(spec, column_transforms: dict | None) -> dict:
    """``column_transforms`` as a dict, validated against ``spec``."""
    column_transforms = dict(column_transforms or {})
    key_hits = set(column_transforms) & set(spec.primary_key)
    if key_hits:
        raise ValueError(
            f"column_transforms must not rewrite primary-key columns "
            f"{sorted(key_hits)}: dedup and bucket placement key on the "
            "stored values"
        )
    unknown = set(column_transforms) - {c for c, _, _ in spec.columns}
    if unknown:
        raise ValueError(
            f"column_transforms for unknown columns: {sorted(unknown)}"
        )
    return column_transforms


def prepare(
    changes: DataFrame, spec, column_transforms: dict | None = None,
    row_image: str = "full",
) -> DataFrame:
    """Decoded change rows → the rows last-writer-wins reads (codegen
    projections only)."""
    keys = list(spec.primary_key)
    changes = with_change_key(changes, keys)
    # before-images exist only to key deletes (row_data.rs:18-24); after
    # with_change_key they are dead weight — drop them so every
    # downstream shuffle carries half the text volume
    changes = changes.select(
        *keys,
        "src_file", "pos", "next_pos", "ts", "server_id", "op",
        "gtid_source", "gtid_seq", "xid", "table_id", "db", "tbl",
        "row_in_event", "after_present",
        *[f"after_{n}" for n, _, _ in spec.columns],
    )
    if column_transforms:
        # ingest-time rewrites (Replayer doc): bind the spec's logical
        # names over the after-images so user expressions read naturally,
        # evaluate, write back
        temps = [c for c, _, _ in spec.columns if c not in keys]
        for c in temps:
            changes = changes.withColumn(c, F.col(f"after_{c}"))
        for col, expr in column_transforms.items():
            changes = changes.withColumn(f"after_{col}", F.expr(expr))
        changes = changes.drop(*temps)
    return apply_column_defaults(changes, spec, row_image)


def net_change(
    changes: DataFrame, spec, row_image: str = "full",
    order_cols: list[str] | None = None, salt_buckets: int = 0,
) -> DataFrame:
    """Net change per key — lazy plan. FULL images: whole-row LWW
    (optionally salted); MINIMAL images: per-column LWW + carried mask
    (``order.last_writer_wins_partial``)."""
    keys = list(spec.primary_key)
    order_cols = list(order_cols or ORDER_COLS)
    if row_image == "minimal":
        return last_writer_wins_partial(
            changes, key_cols=keys, spec=spec, order_cols=order_cols
        )
    payload_cols = list(
        dict.fromkeys(
            ["op"]
            + [f"after_{n}" for n, _, _ in spec.columns]
            + order_cols
            + ["src_file", "pos", "gtid_source", "gtid_seq", "xid"]
        )
    )
    return last_writer_wins(
        changes, key_cols=keys, order_cols=order_cols,
        payload_cols=payload_cols, salt_buckets=salt_buckets,
    )


def publish(
    spark: SparkSession, target, net: DataFrame | None, current_version: int,
    *, base_version: int | None = None, row_image: str = "full",
    audit=None, history=None, changes: DataFrame | None = None,
    batch_id: int | None = None, phases: dict | None = None,
) -> int:
    """Stage ``net`` (None: nothing to merge) on ``base_version`` (default
    ``current_version``; a truncate-fence batch stages on its cleared
    version) and return the staged version; the caller's commit
    publishes it. An ``audit`` rejection (pipeline/audit.py) unlinks
    every version staged above ``current_version`` and raises, so no
    ledger entry, history row or view refresh follows. The SCD2 history
    applies before the ledger append: its replay is idempotent.
    ``phases`` collects ``merge_s`` / ``audit_s`` / ``history_s``."""
    phases = {} if phases is None else phases
    t = time.time()
    merge = target.merge_partial if row_image == "minimal" else target.merge
    base = current_version if base_version is None else base_version
    new_version = base if net is None else merge(spark, net, base)
    phases["merge_s"] = round(time.time() - t, 2)
    if audit is not None:
        from .audit import AuditContext

        t = time.time()
        ctx = AuditContext(
            spark=spark,
            batch_id=batch_id,
            staged=target.read(spark, new_version),
            previous=target.read(spark, current_version),
            changes=changes,
            primary_key=tuple(target.spec.primary_key),
        )
        try:
            audit(ctx)
        except BaseException:
            for v in range(current_version + 1, new_version + 1):
                shutil.rmtree(target.snapshot_path(v), ignore_errors=True)
            raise
        phases["audit_s"] = round(time.time() - t, 2)
    if history is not None:
        t = time.time()
        history.apply_batch(spark, changes, history.current_version())
        phases["history_s"] = round(time.time() - t, 2)
    return new_version


def write_facts(target, old_version: int, new_version: int) -> dict:
    """``bytes_written`` and ``buckets_written`` of the snapshot dirs
    versions ``old_version+1..new_version`` created (a truncate fence
    batch creates two), from a local file listing, and the write
    decision the manifests record (``write_decision``). Empty for a
    target that commits inside its own engine (no ``snapshot_path``)."""
    if not hasattr(target, "snapshot_path"):
        return {}
    n_bytes = n_buckets = 0
    for v in range(old_version + 1, new_version + 1):
        for root, _dirs, names in os.walk(target.snapshot_path(v)):
            n_bytes += sum(os.path.getsize(os.path.join(root, n)) for n in names)
            n_buckets += os.path.basename(root).startswith("_bucket=")
    return {
        "bytes_written": n_bytes,
        "buckets_written": n_buckets,
        **write_decision(target.store_dir, old_version, new_version),
    }


def commit(rep, entry) -> None:
    """Publish ``entry`` for the Replayer ``rep``: add the write facts of
    the versions it adds, append it to the ledger (the atomicity point),
    refresh the views (a crash before that leaves them one batch stale;
    the next refresh folds both), then apply ``gc_keep`` retention."""
    entry.metrics.update(
        write_facts(
            rep.target, rep.ledger.current_snapshot_version(),
            entry.snapshot_version,
        )
    )
    rep.ledger.append(entry)
    for view in rep.views:
        view.refresh(rep.spark, rep.target, entry.snapshot_version)
    if rep.gc_keep and hasattr(rep.target, "gc"):
        rep.target.gc(keep_latest=rep.gc_keep)
