"""Incremental SCD Type-2 history sink (beyond-reference).

``order.scd2_history`` materializes the FULL history of a change stream
in one pass — right for a backfill, wrong for steady-state ingest where
each micro-batch should extend the stored history by O(batch) work, not
recompute O(stream). This module is the incremental form its docstring
sketches: per batch, compute the batch's own history (one window over
batch events only), then MERGE it into the stored history — the batch's
first event per key closes that key's previous ``is_current`` row, and
batch version numbers continue from the stored per-key maximum.

Storage is the bucketed layout of ``BucketedParquetMergeTarget``
(manifest splice, rewrite or append per touched bucket). History is
append-mostly: a batch adds its new rows and closes at most one stored
row per touched key. So a bucket that may append (the layout's rules
(b)–(d)) gets exactly that: the fresh rows, the closed images of the
rows the batch closed, and those stored rows' positions. Its per-batch
write stays O(batch) however old the table grows. A rewritten bucket
(the first batches, or a chain at its cap) reads and rewrites only the
buckets the batch's keys hash into. ``compact`` (inherited) rewrites
chains on a cadence. The reference hands events to user code
(README.md:61); history tables are one of the two things users build
with them (the other being the LWW upsert the main merge tier does).

Exactly-once: ``apply_batch`` is idempotent. Batch rows are anti-joined
on (key, valid_from order tuple) against stored history, and a stored
current row is only closed by a batch-first event that *outranks* its
``valid_from`` — so a batch replayed after a crash between the history
commit and the ledger append re-applies as a no-op. The pipeline commit
point stays the Replayer's ledger append; the history store versions
independently (its manifest write is its internal commit point).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..binlog.decoder import TableSpec
from .order import ORDER_COLS, scd2_history
from .target import BucketedParquetMergeTarget, _file_col, latest_committed_version

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

    Inherits the versioned manifest and append/rewrite machinery;
    ``merge``/``merge_partial`` (net-per-key semantics) do not apply to a
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

    def _adds(self):
        """Every touched key: it adds at least its batch's first row."""
        return F.lit(True)

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
        touched, adds, kept, closed, fresh = pieces
        ddl = {n: dd for n, dd, _ in self.spec.columns}
        names = [n for n, _, _ in self.spec.columns]
        cols = [F.col(c).cast(ddl[c]).alias(c) for c in names]
        # pre-check on the per-bucket estimate, as the plain merge does
        chains = self._append_candidates(
            touched, current_version, adds / len(touched)
        )
        if not chains:
            # every touched bucket is rewritten: all its stored rows,
            # closes applied, and the fresh rows
            return self._commit_buckets(
                kept.select(*cols).unionByName(fresh.select(*cols)),
                touched, current_version,
            )
        bucket = self._bucket_expr()
        # the batch's own rows: the closed images, with the positions of
        # the stored rows they replace, and the fresh rows. Batch-sized;
        # the positions job and the write both read it
        delta = (
            closed.select(*cols, "_file", "_row")
            .unionByName(
                fresh.select(
                    *cols,
                    F.lit(None).cast("string").alias("_file"),
                    F.lit(None).cast("long").alias("_row"),
                )
            )
            .persist()
        )
        try:
            appended = self._appending(delta, chains)
            # a rewritten bucket, as above
            rows = rewritten = kept.select(*cols).unionByName(
                delta.filter(F.col("_file").isNull()).select(*names)
            )
            if appended:
                rewrite = sorted(set(touched) - set(appended))
                rows = delta.filter(bucket.isin(list(appended))).select(*names)
                if rewrite:
                    rows = rows.unionByName(
                        rewritten.filter(bucket.isin(rewrite))
                    )
            return self._commit_buckets(
                rows, touched, current_version, appended=appended
            )
        finally:
            delta.unpersist()

    def _batch_pieces(
        self, spark: SparkSession, d: DataFrame, current_version: int
    ):
        """The batch computation: returns ``(touched, adds, kept, closed,
        fresh)`` — ``adds`` = the keys the batch touches (each adds at
        least one history row), ``kept`` = ALL stored rows of the touched
        buckets with this batch's closes applied (what a rewritten bucket
        holds), ``closed`` = ONLY the rows the batch actually closed, with
        the stored row's data file ``_file`` and row index ``_row`` (what
        an appending bucket writes, and the positions it deletes),
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

        touched, adds = self._bucket_counts(firsts)
        if not touched:
            return None
        manifest = self._pruned_manifest(current_version, set(touched))
        state = self._scan_live(spark, manifest.values()).select(
            *[n for n, _, _ in self.spec.columns],
            _file_col().alias("_file"),
            F.col("_metadata.row_index").alias("_row"),
        )

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
            "_file",
            "_row",
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

        return touched, adds, kept, closed, fresh

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
