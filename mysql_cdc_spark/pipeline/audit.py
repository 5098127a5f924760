"""Write-audit-publish (WAP) for the replay pipeline.

The merge tier already separates the snapshot WRITE (``target.merge``
materializes version N+1's files and manifest) from the PUBLISH (the
ledger append names the version — ``pipeline/replay.py`` module doc: the
ledger is the atomicity point). That gap is exactly Iceberg's WAP window
(``spark.wap.id`` / branch-audit-fastforward): this module puts the
AUDIT in it. ``Replayer(audit=...)`` runs data-quality checks against
the *staged* snapshot after the merge completes and before the ledger
append; a rejection unlinks the staged files and leaves the store —
ledger, state, views, SCD2 history — exactly as it was, so bad upstream
data (a fat-fingered purge, a corrupted extractor, a schema drift that
nulls a column) never becomes readable state and the batch can be
retried after the upstream fix.

Auditors are callables ``fn(ctx: AuditContext) -> None`` that raise
``AuditRejected`` to veto the batch. Compose with ``all_of``. They run
driver-side on lazy DataFrames: each built-in costs one aggregate over
the staged (or changed) data — bucket-pruned targets keep that
O(touched data), and a custom auditor can scope itself the same way
via ``ctx.changes``.

Reference scope: the reference (rusuly/mysql_cdc) has no sink tier at
all (it stops at decoded events); WAP is beyond-reference, modeled on
Iceberg's documented audit workflow. SURVEY.md §2 S7/ST-adjacent.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class AuditRejected(RuntimeError):
    """A staged snapshot failed its pre-publish audit. The batch was
    rolled back: nothing was published, the ledger did not advance, and
    a retry after the upstream fix starts clean."""

    def __init__(self, batch_id: int | None, reason: str):
        self.batch_id = batch_id
        self.reason = reason
        super().__init__(
            f"batch {batch_id}: staged snapshot rejected — {reason}"
            if batch_id is not None
            else f"staged snapshot rejected — {reason}"
        )


@dataclass
class AuditContext:
    """What an auditor sees. ``staged`` is the would-be-published table
    state; ``previous`` the currently-published one; ``changes`` the
    batch's decoded change events (post transaction gate); all lazy."""

    spark: SparkSession
    batch_id: int | None
    staged: DataFrame
    previous: DataFrame
    changes: DataFrame
    primary_key: tuple


def require_snapshot_target(target) -> None:
    """An audit needs a staged version to check and unlink: a target that
    commits inside its engine (no ``snapshot_path``) has none."""
    if not hasattr(target, "snapshot_path"):
        raise TypeError(
            "audit requires a snapshot target: an internally-committing "
            "sink has no staged version to audit or roll back"
        )


def all_of(*auditors):
    """Run every auditor in order; the first rejection vetoes the batch."""

    def fn(ctx: AuditContext) -> None:
        for a in auditors:
            a(ctx)

    return fn


def unique_key():
    """Reject if the staged state holds duplicate primary keys — the
    invariant every MERGE in this repo preserves, so a violation means a
    target bug or out-of-band writes. One map-side-combined aggregate
    over the staged snapshot, early-exit on the first duplicate."""

    def fn(ctx: AuditContext) -> None:
        keys = list(ctx.primary_key)
        dup = (
            ctx.staged.groupBy(*keys)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            kv = {k: dup[0][k] for k in keys}
            raise AuditRejected(ctx.batch_id, f"duplicate primary key {kv}")

    return fn


def not_null(*cols: str):
    """Reject if any staged row has NULL in the named columns (the WAP
    staple: a schema drift or extractor bug typically lands as a fully
    or partially NULL column)."""

    def fn(ctx: AuditContext) -> None:
        pred = None
        for c in cols:
            p = F.col(c).isNull()
            pred = p if pred is None else (pred | p)
        bad = ctx.staged.filter(pred).limit(1).collect()
        if bad:
            raise AuditRejected(
                ctx.batch_id,
                f"NULL in NOT NULL column(s) {list(cols)}: "
                f"{bad[0].asDict()}",
            )

    return fn


def max_shrink(fraction: float):
    """Reject if the batch shrinks the table by more than ``fraction``
    of its previous row count — the guard against an upstream
    fat-fingered purge (a bad retention job, a cascading delete)
    replicating into the lake. Two count() aggregates."""

    def fn(ctx: AuditContext) -> None:
        prev = ctx.previous.count()
        if prev == 0:
            return  # bootstrap / empty table: nothing to shrink
        staged = ctx.staged.count()
        shrink = (prev - staged) / prev
        if shrink > fraction:
            raise AuditRejected(
                ctx.batch_id,
                f"table shrank {shrink:.1%} ({prev} -> {staged} rows), "
                f"limit {fraction:.1%}",
            )

    return fn


def expect(predicate_sql: str, description: str | None = None):
    """Reject if any staged row violates ``predicate_sql`` (a boolean SQL
    expression over the table's columns), e.g.
    ``expect("turn_idx >= 0")`` or ``expect("role in ('user','assistant',
    'system','tool')")`` — the generic row-contract form."""

    def fn(ctx: AuditContext) -> None:
        bad = (
            ctx.staged.filter(~F.expr(predicate_sql).eqNullSafe(F.lit(True)))
            .limit(1)
            .collect()
        )
        if bad:
            raise AuditRejected(
                ctx.batch_id,
                f"row violates {description or predicate_sql!r}: "
                f"{bad[0].asDict()}",
            )

    return fn
