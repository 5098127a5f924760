"""Incremental SCD Type-2 history sink (beyond-reference).

``order.scd2_history`` materializes the FULL history of a change stream
in one pass — right for a backfill, wrong for steady-state ingest where
each micro-batch should extend the stored history by O(batch) work, not
recompute O(stream). This module is the incremental form its docstring
sketches: per batch, compute the batch's own history (one window over
batch events only), then MERGE it into the stored history — the batch's
first event per key closes that key's previous ``is_current`` row, and
batch version numbers continue from the stored per-key maximum.

Storage reuses the bucket-pruned copy-on-write layout of
``BucketedParquetMergeTarget`` (manifest splice, touched-bucket
rewrite): a batch touching K conversations reads and rewrites only the
buckets those keys hash into — O(touched-bucket history), not O(all
history). The reference hands events to user code (README.md:61);
history tables are one of the two things users build with them (the
other being the LWW upsert the main merge tier does).

Exactly-once: ``apply_batch`` is idempotent. Batch rows are anti-joined
on (key, valid_from order tuple) against stored history, and a stored
current row is only closed by a batch-first event that *outranks* its
``valid_from`` — so a batch replayed after a crash between the history
commit and the ledger append re-applies as a no-op. The pipeline commit
point stays the Replayer's ledger append; the history store versions
independently (its manifest write is its internal commit point).

``Scd2HistoryMorStore`` (bottom of module) moves the storage tier to the
merge-on-read layout: since history per bucket grows without bound, the
copy-on-write rewrite's per-batch cost grows with table age — the
delta-append form keeps it O(batch) forever, with ``compact`` bounding
read amplification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..binlog.decoder import TableSpec
from .order import ORDER_COLS, scd2_history
from .target import BucketedParquetMergeTarget, latest_committed_version

# Spark DDL of the decode tier's meta columns (change_event_schema) that
# can serve as order columns
_META_DDL = {
    "src_file": "string",
    "pos": "bigint",
    "next_pos": "bigint",
    "ts": "timestamp",
    "server_id": "bigint",
    "gtid_source": "string",
    "gtid_seq": "bigint",
    "xid": "bigint",
    "row_in_event": "int",
}


def _order_col_ddl(spec: TableSpec, col: str) -> str:
    if col in _META_DDL:
        return _META_DDL[col]
    if col.startswith("after_"):
        base = col[len("after_"):]
        for n, d, _ in spec.columns:
            if n == base:
                return d
    raise ValueError(f"unknown order column for SCD2 history: {col!r}")


def history_spec(
    spec: TableSpec,
    value_cols: list[str] | None = None,
    order_cols: list[str] | None = None,
) -> TableSpec:
    """TableSpec describing the history table's columns (drives the
    bucketed store's read/write schema; ``kind`` is decode-only and
    unused here)."""
    order_cols = order_cols or ORDER_COLS
    keys = list(spec.primary_key)
    ddl = {n: d for n, d, _ in spec.columns}
    value_cols = value_cols or [n for n, _, _ in spec.columns if n not in keys]
    cols = [(k, ddl[k], "str") for k in keys]
    cols.append(("version", "bigint", "int"))
    cols += [(c, ddl[c], "str") for c in value_cols]
    cols += [
        (f"valid_from_{o}", _order_col_ddl(spec, o), "str") for o in order_cols
    ]
    cols += [
        (f"valid_to_{o}", _order_col_ddl(spec, o), "str") for o in order_cols
    ]
    cols.append(("is_current", "boolean", "int"))
    cols.append(("closed_by_delete", "boolean", "int"))
    return TableSpec(
        database=spec.database,
        table=f"{spec.table}__history",
        columns=tuple(cols),
        primary_key=tuple(keys),
    )


class Scd2HistoryStore(BucketedParquetMergeTarget):
    """Bucket-pruned incremental SCD2 history table.

    Inherits the versioned manifest/copy-on-write machinery; ``merge``/
    ``merge_partial`` (net-per-key semantics) do not apply to a
    multi-row-per-key history and raise."""

    def __init__(
        self,
        store_dir: str,
        spec: TableSpec,
        buckets: int = 64,
        value_cols: list[str] | None = None,
        order_cols: list[str] | None = None,
        dedup_cols: list[str] | None = None,
    ):
        self.base_spec = spec
        self.order_cols = list(order_cols or ORDER_COLS)
        keys = list(spec.primary_key)
        self.value_cols = list(
            value_cols or [n for n, _, _ in spec.columns if n not in keys]
        )
        # default dedup identity = the transaction-row identity (same
        # convention as the one-shot tests/oracle): a redelivered
        # transaction keeps its gtid_seq but lands at a later pos, so
        # deduping on the raw order tuple would mint a spurious version
        self.dedup_cols = list(
            dedup_cols or [*keys, "gtid_seq", "row_in_event"]
        )
        hspec = history_spec(spec, self.value_cols, self.order_cols)
        super().__init__(store_dir, hspec, buckets, bucket_cols=tuple(keys))

    def merge(self, *a, **kw):  # pragma: no cover - guard
        raise NotImplementedError("history store applies batches, not net rows")

    merge_partial = merge

    def current_version(self) -> int:
        """Latest committed history version: max snapshot dir that has a
        manifest (a torn write leaves data without a manifest and is
        invisible — the next commit overwrites it)."""
        return latest_committed_version(self.store_dir)

    def apply_batch(
        self, spark: SparkSession, changes: DataFrame, current_version: int
    ) -> int:
        """Extend stored history with one batch of (gated, resume-filtered,
        keyed) change rows. Returns the new history version; returns
        ``current_version`` unchanged when the batch is empty.

        Plan shape: one window over the batch's events (the batch's own
        history), one aggregation for per-key batch-first events, and one
        key join against ONLY the touched buckets' stored rows — per-batch
        cost is O(batch + touched-bucket history)."""
        # three consumers (batch history, per-key firsts, touched-bucket
        # collect) would each re-execute the decode pipeline — cache the
        # deduped batch once, release before returning
        d = changes.dropDuplicates(self.dedup_cols).persist()
        try:
            return self._apply_batch_cached(spark, d, current_version)
        finally:
            d.unpersist()

    def _apply_batch_cached(
        self, spark: SparkSession, d: DataFrame, current_version: int
    ) -> int:
        pieces = self._batch_pieces(spark, d, current_version)
        if pieces is None:
            return current_version
        touched, kept, _closed, fresh = pieces
        ddl = {n: dd for n, dd, _ in self.spec.columns}
        out_cols = [n for n, _, _ in self.spec.columns]
        merged = (
            kept.select(*[F.col(c).cast(ddl[c]).alias(c) for c in out_cols])
            .unionByName(
                fresh.select(*[F.col(c).cast(ddl[c]).alias(c) for c in out_cols])
            )
        )
        return self._commit_buckets(merged, touched, current_version)

    def _batch_pieces(
        self, spark: SparkSession, d: DataFrame, current_version: int
    ):
        """Shared batch computation: returns ``(touched, kept, closed,
        fresh)`` — ``kept`` = ALL stored rows of the touched buckets with
        this batch's closes applied (what the copy-on-write commit
        rewrites), ``closed`` = ONLY the rows the batch actually closed
        (what the merge-on-read commit appends as superseding deltas),
        ``fresh`` = the batch's new history rows. None when the batch
        touches nothing."""
        keys = list(self.base_spec.primary_key)
        oc = self.order_cols
        ordv = F.struct(*[F.col(c) for c in oc])
        # batch-local history (versions 1-based within the batch)
        bh = scd2_history(
            d, keys, order_cols=oc, value_cols=self.value_cols,
            dedup_cols=self.dedup_cols,
        )
        # per-key first batch event: closes the stored current row
        firsts = (
            d.groupBy(*keys)
            .agg(
                F.min_by(
                    F.struct(*[F.col(c) for c in oc], F.col("op")), ordv
                ).alias("_f")
            )
            .select(
                *keys,
                *[F.col(f"_f.{c}").alias(f"_first_{c}") for c in oc],
                F.col("_f.op").alias("_first_op"),
            )
        )

        touched = self._touched_buckets(firsts)
        if not touched:
            return None
        state = self.read(spark, current_version, bucket_ids=set(touched))

        joined = state.join(firsts, on=keys, how="left")
        first_ord = F.struct(*[F.col(f"_first_{c}") for c in oc])
        from_ord = F.struct(*[F.col(f"valid_from_{c}") for c in oc])
        # close only a CURRENT row that the batch's first event outranks —
        # the outrank guard makes a replayed batch a no-op (its own rows
        # are already stored and current)
        closes = (
            F.col("_first_op").isNotNull()
            & F.col("is_current")
            & (first_ord > from_ord)
        )
        kept = joined.select(
            *keys,
            "version",
            *self.value_cols,
            *[F.col(f"valid_from_{c}") for c in oc],
            *[
                F.when(closes, F.col(f"_first_{c}"))
                .otherwise(F.col(f"valid_to_{c}"))
                .alias(f"valid_to_{c}")
                for c in oc
            ],
            (F.col("is_current") & ~closes).alias("is_current"),
            F.when(closes, F.col("_first_op") == "delete")
            .otherwise(F.col("closed_by_delete"))
            .alias("closed_by_delete"),
        )
        closed = joined.filter(closes).select(
            *keys,
            "version",
            *self.value_cols,
            *[F.col(f"valid_from_{c}") for c in oc],
            *[F.col(f"_first_{c}").alias(f"valid_to_{c}") for c in oc],
            F.lit(False).alias("is_current"),
            (F.col("_first_op") == "delete").alias("closed_by_delete"),
        )

        prev_max = state.groupBy(*keys).agg(F.max("version").alias("_pmax"))
        fresh = (
            bh.join(prev_max, on=keys, how="left")
            .withColumn(
                "version", F.col("version") + F.coalesce(F.col("_pmax"), F.lit(0))
            )
            .drop("_pmax")
            # idempotence: a replayed batch's rows already exist with the
            # same (key, valid_from) identity — drop them
            .join(
                state.select(
                    *keys, *[F.col(f"valid_from_{c}") for c in oc]
                ),
                on=[*keys, *[f"valid_from_{c}" for c in oc]],
                how="left_anti",
            )
        )

        return touched, kept, closed, fresh

    def read_history(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        return self.read(spark, self.current_version() if version is None else version)

    def purge_keys(
        self, spark: SparkSession, keys_df: DataFrame, current_version: int
    ) -> int:
        """Right-to-be-forgotten over the HISTORY table: remove every
        stored version row for the given keys (a history sink retains the
        full image of each superseded row — a state-only purge would leave
        the data recoverable here). Bucket-pruned: the keys hash to their
        buckets, only those buckets' history is read and rewritten without
        the matching rows; untouched buckets carry by manifest reference.
        The caller (``Replayer.purge_keys``) follows with ``gc`` so no
        retained file keeps the rows. Returns the new history version."""
        keys = list(self.base_spec.primary_key)
        probe = keys_df.select(*keys).persist()
        try:
            touched = self._touched_buckets(probe)
            if not touched:
                return current_version
            kept = self.read(
                spark, current_version, bucket_ids=set(touched)
            ).join(probe, on=keys, how="left_anti")
            return self._commit_buckets(kept, touched, current_version)
        finally:
            probe.unpersist()


class Scd2HistoryMorStore(Scd2HistoryStore):
    """SCD2 history on the merge-on-read layout — the append-shaped fix
    for the history tier's write amplification.

    History is append-mostly: each batch adds O(batch) new rows and
    updates (closes) at most one stored row per touched key, yet the
    copy-on-write store rewrites every touched bucket's FULL history per
    batch — and history per bucket grows without bound, so at 10^10
    events the per-batch cost grows linearly with table age. This store
    appends exactly the batch's effect instead: the new history rows plus
    superseding images of only the rows the batch closed, as per-bucket
    delta files. Read-time resolution folds per HISTORY-ROW identity —
    ``(key cols, valid_from order tuple)`` — last write wins, so a close
    supersedes its open row; ``compact`` (inherited) folds chains into
    base on whatever cadence bounds read amplification, and
    ``Replayer.compact`` runs it alongside the main target's.

    Same ``apply_batch`` contract and idempotence argument as the CoW
    store (the batch computation is shared — ``_batch_pieces``); equality
    across both stores is pinned in tests/test_scd2_mor.py."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        # the fold identity is the history ROW (key + valid_from tuple),
        # not the conversation key: a close must supersede exactly its
        # own open row. Bucket placement stays by the base keys (a
        # primary-key prefix), so touched-bucket math is unchanged.
        row_pk = tuple(self.base_spec.primary_key) + tuple(
            f"valid_from_{c}" for c in self.order_cols
        )
        self.spec = TableSpec(
            database=self.spec.database,
            table=self.spec.table,
            columns=self.spec.columns,
            primary_key=row_pk,
        )

    # storage tier: borrow the merge-on-read machinery wholesale
    from .mor import MergeOnReadBucketedTarget as _MOR

    _load_manifest = _MOR._load_manifest
    _stored_schema = _MOR._stored_schema
    read = _MOR.read
    _base_rows = _MOR._base_rows
    _bucket_entry = _MOR._bucket_entry
    compact = _MOR.compact
    delta_stats = _MOR.delta_stats
    del _MOR

    def _apply_batch_cached(
        self, spark: SparkSession, d: DataFrame, current_version: int
    ) -> int:
        pieces = self._batch_pieces(spark, d, current_version)
        if pieces is None:
            return current_version
        touched, _kept, closed, fresh = pieces
        ddl = {n: dd for n, dd, _ in self.spec.columns}
        out_cols = [n for n, _, _ in self.spec.columns]
        new_version = current_version + 1
        delta = (
            closed.select(*[F.col(c).cast(ddl[c]).alias(c) for c in out_cols])
            .unionByName(
                fresh.select(*[F.col(c).cast(ddl[c]).alias(c) for c in out_cols])
            )
            .withColumn("_op", F.lit("upsert"))
            .withColumn("_cm", F.lit(-1).cast("long"))
            .withColumn("_seq", F.lit(new_version).cast("long"))
        )
        return self._commit_buckets(delta, touched, current_version, delta=True)
