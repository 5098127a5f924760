"""Merge-on-read bucketed target with equality deletes.

``MergeOnReadBucketedTarget`` writes a batch without reading stored rows,
the same way Iceberg v2's merge-on-read does with equality-delete files
(format spec §Delete Formats; Hudi's MOR table type is the same idea),
and folds the deltas per key on read. (``BucketedParquetMergeTarget``
appends with *position* deletes instead, which a read skips without a
fold, but it must look the replaced rows up when it writes.)

- ``merge`` writes the batch's **net change rows themselves** — key,
  op, after-image, carried-column mask — as a *delta file* per touched
  bucket under the new snapshot, and splices the manifest. Per-batch
  write IO is O(net change rows): nothing existing is read or rewritten.
  A delete is an **equality delete** (key + op='delete'); an upsert is
  an insert-or-replace keyed row. Each delta row carries ``_seq`` = the
  snapshot version that wrote it, so apply order is total per key.
- ``read`` resolves base ∪ deltas per bucket: a key-partitioned window
  computes the key's last delete fence, surviving contributions fold
  per column by carried-bit ``max_by`` (one exchange total — the window
  and the aggregate share the key hash partitioning). Buckets with no
  deltas take a fast path: plain base scan, no shuffle.
- ``compact`` is the maintenance op that bounds read amplification:
  rewrite the buckets whose delta chain grew past a threshold into a
  fresh base (resolved once, deltas cleared), committed as a normal
  snapshot version — Iceberg's ``rewrite_data_files`` /
  ``rewrite_position_delete_files`` analog. Untouched buckets are
  carried by manifest reference (metadata-only).

Semantics are pinned equal to the copy-on-write targets (tests/
test_mor_target.py): full and MINIMAL (carried-mask) row images, deletes
with later re-inserts, additive schema evolution mid-chain, truncate,
time travel, rebucket, manifest-aware GC.

Scale shape at 10^10 rows: a steady-state batch touching K hot
conversations writes O(rows-in-batch) bytes; reads between compactions
pay one extra key-partitioned fold over (touched base buckets + their
deltas); ``compact(min_deltas=N)`` runs on whatever cadence bounds the
chain (e.g. hourly), costing one touched-bucket rewrite. Crash safety
is unchanged: data lands under the new snapshot dir first, the manifest
write is the snapshot's internal commit point, the pipeline commit
point stays the ledger append, and a torn snapshot is an invisible
orphan the retry overwrites.

Reference parity note: the reference (rusuly/mysql_cdc) stops at decoded
events (README.md:61) — every sink here is beyond-reference engineering;
this one exists because the north rule's 10^10-event steady state makes
write amplification the binding constraint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .target import (
    BucketedParquetMergeTarget,
    OrderedPolicy,
    _read_manifest,
    delete_net,
    state_schema,
)

# Default per-bucket delta-chain length at which the batch Replayer /
# streaming apply tier folds the chain back into base (auto-compact):
# fold cost at read time grows linearly with chain length
# (BENCH.md), so an unmaintained store must bound it by
# default; callers pass auto_compact=0 to opt out or another threshold
# to tune the write/read amplification trade.
DEFAULT_AUTO_COMPACT = 16


def auto_compact_policy(target, auto_compact: int | None) -> int | None:
    """The chain-length threshold an apply loop compacts at, or None for
    no auto-compaction. Merge-on-read targets default to
    ``DEFAULT_AUTO_COMPACT``; ``0`` turns it off; any other value needs a
    compacting target and must be >= 1."""
    if auto_compact is None and hasattr(target, "delta_stats"):
        auto_compact = DEFAULT_AUTO_COMPACT
    if auto_compact == 0 or auto_compact is None:
        return None
    if not hasattr(target, "compact"):
        raise TypeError(
            "auto_compact needs a merge-on-read target "
            "(MergeOnReadBucketedTarget family)"
        )
    if auto_compact < 1:
        raise ValueError("auto_compact must be >= 1")
    return auto_compact


class MergeOnReadBucketedTarget(BucketedParquetMergeTarget):
    """Bucketed snapshot store whose merges append per-bucket delta files
    (equality deletes + keyed upserts) and whose reads fold them — see
    module docstring. Drop-in for ``Replayer(target=...)``."""

    # manifest entry per bucket: {"base": relpath|None, "deltas": [relpath]}
    # (apply order = list order; each file's rows carry their own _seq)

    FAMILY = "mor"

    def _load_manifest(self, version: int) -> dict:
        out = {}
        for b, v in _read_manifest(self.store_dir, version).items():
            if isinstance(v, str):  # copy-on-write entry (a store that
                # started CoW, adopted here): base-only entry
                v = {"base": v, "deltas": []}
            elif "deltas" not in v:
                raise ValueError(
                    f"bucket {b} of snapshot v{version} holds position "
                    "deletes of the copy-on-write store "
                    "(BucketedParquetMergeTarget), which the merge-on-read "
                    "family cannot read: open the store through open_store, "
                    "or rewrite it there (rebucket) before adopting it"
                )
            out[b] = {"base": v.get("base"), "deltas": list(v["deltas"])}
        return out

    def _stored_schema(self) -> T.StructType:
        """A delta row adds its write version ``_seq``, its op and its
        carried-column mask ``_cm``; a compacted base row only ``_seq``; a
        base adopted from a copy-on-write store none of them."""
        return (
            state_schema(self.spec)
            .add("_seq", T.LongType())
            .add("_op", T.StringType())
            .add("_cm", T.LongType())
        )

    # -- read (resolve) ------------------------------------------------------

    def read(self, spark: SparkSession, version: int, bucket_ids=None) -> DataFrame:
        """Buckets without deltas read their base as stored (no fold, no
        shuffle). The others fold base ∪ deltas per key in one exchange:
        the delete-fence window and the per-column aggregate both hash-
        partition on the key. Per column, the winner is the highest-_seq
        surviving contribution that CARRIED the column (its mask bit set)
        — ``max_by`` skips rows whose ordering expression is null, which
        encodes the carried-bit filter without a second pass. A key whose
        last contribution is a delete folds to nothing."""
        manifest = self._pruned_manifest(version, bucket_ids)
        spec_cols = [n for n, _, _ in self.spec.columns]
        plain = [e["base"] for e in manifest.values() if not e["deltas"] and e["base"]]
        out = self._scan(spark, plain).select(*spec_cols)
        folded = [e for e in manifest.values() if e["deltas"]]
        if not folded:
            return out
        paths = [e["base"] for e in folded if e["base"]]
        paths += [p for e in folded for p in e["deltas"]]
        # base rows hold no _op or _cm: each is an upsert of every column.
        # An adopted copy-on-write base also holds no _seq, so every delta
        # outranks it.
        u = self._scan(spark, paths).select(
            *spec_cols,
            F.coalesce(F.col("_seq"), F.lit(0).cast("long")).alias("_seq"),
            F.coalesce(F.col("_op"), F.lit("upsert")).alias("_op"),
            F.coalesce(F.col("_cm"), F.lit(-1).cast("long")).alias("_cm"),
        )
        keys = list(self.spec.primary_key)
        fence = F.max(
            F.when(F.col("_op") == "delete", F.col("_seq")).otherwise(F.lit(-1))
        ).over(Window.partitionBy(*keys))
        live = u.withColumn("_fence", fence).filter(
            (F.col("_op") != "delete") & (F.col("_seq") > F.col("_fence"))
        )
        aggs = []
        for ci, (c, _d, _k) in enumerate(self.spec.columns):
            if c in keys:
                continue
            carried = F.shiftright(F.col("_cm"), ci).bitwiseAND(F.lit(1)) == 1
            aggs.append(
                F.max_by(F.col(c), F.when(carried, F.col("_seq"))).alias(c)
            )
        return out.unionByName(live.groupBy(*keys).agg(*aggs).select(*spec_cols))

    # -- write (append deltas) -------------------------------------------------

    def _append_delta(
        self, net: DataFrame, current_version: int, mask_col
    ) -> int:
        self._adopt_layout(current_version)
        spec = self.spec
        keys = list(spec.primary_key)
        net = net.persist()  # touched-bucket pre-pass + delta write both consume it
        try:
            touched = self._touched_buckets(net)
            delta = net.select(
                *[F.col(k).cast(d).alias(k) for k, d, _ in spec.columns if k in keys],
                *[
                    F.col(f"after_{c}").cast(d).alias(c)
                    for c, d, _ in spec.columns
                    if c not in keys
                ],
                F.col("op").alias("_op"),
                mask_col.cast("long").alias("_cm"),
                F.lit(current_version + 1).cast("long").alias("_seq"),
            )
            return self._commit_buckets(delta, touched, current_version, delta=True)
        finally:
            net.unpersist()

    def merge(self, spark: SparkSession, net: DataFrame, current_version: int) -> int:
        return self._append_delta(net, current_version, F.lit(-1))

    def merge_partial(
        self, spark: SparkSession, net: DataFrame, current_version: int
    ) -> int:
        return self._append_delta(net, current_version, F.col("carried_mask"))

    # -- base rewrite (compact / rebucket) --------------------------------------

    def _base_rows(self, rows: DataFrame, version: int) -> DataFrame:
        """Compacted or rebucketed rows become BASE data stamped with the
        writing version (``_seq``); later deltas outrank them."""
        return rows.withColumn("_seq", F.lit(version).cast("long"))

    def _bucket_entry(self, carried, rel: str, delta: bool) -> dict:
        if not delta:
            return {"base": rel, "deltas": []}
        carried = carried or {"base": None, "deltas": []}
        return {"base": carried["base"], "deltas": carried["deltas"] + [rel]}

    def compact(
        self,
        spark: SparkSession,
        current_version: int,
        min_deltas: int = 1,
        bucket_ids=None,
    ) -> int:
        """Fold delta chains back into base files for every bucket whose
        chain length ≥ ``min_deltas`` (optionally restricted to
        ``bucket_ids``) and commit the rewrite as snapshot version+1;
        other buckets are carried by manifest reference. Returns the new
        version, or ``current_version`` unchanged if no bucket qualifies
        (no empty commit). Run on a cadence (or delta-count trigger) that
        bounds read amplification; each compaction pays exactly the
        touched-bucket rewrite the CoW path pays per batch. Ordered targets
        keep their tombstones here (``_read_full``): a compacted-away
        delete could be outranked into resurrection by a late redelivered
        insert; ``prune_tombstones`` ages them out under a watermark."""
        self._adopt_layout(current_version)
        manifest = self._load_manifest(current_version)
        chosen = [
            b
            for b, e in manifest.items()
            if len(e["deltas"]) >= max(1, min_deltas)
            and (bucket_ids is None or b in bucket_ids)
        ]
        if not chosen:
            return current_version
        resolved = self._read_full(spark, current_version, set(chosen))
        return self._commit_buckets(resolved, sorted(chosen), current_version)

    def purge_keys(
        self, spark: SparkSession, keys_df: DataFrame, current_version: int
    ) -> int:
        """Delete every key of ``keys_df``, then compact the buckets holding
        them: the delete alone is a delta, and the purged images would
        stay in the retained base and delta files. Returns the version."""
        version = self.merge(spark, delete_net(keys_df, self.spec), current_version)
        return self.compact(
            spark, version, min_deltas=1,
            bucket_ids=set(self._touched_buckets(keys_df)),
        )

    def delta_stats(self, version: int) -> dict:
        """{bucket: chain length} for monitoring / compact triggers."""
        return {
            b: len(e["deltas"]) for b, e in self._load_manifest(version).items()
        }


class OrderedMergeOnReadTarget(OrderedPolicy, MergeOnReadBucketedTarget):
    """Order-aware merge-on-read — the streaming apply tier's
    write-amplification fix: the outrank guard and tombstones of
    ``OrderedPolicy`` while writing only the trigger's net change rows as
    per-bucket delta files (the ordered copy-on-write sink rewrites every
    touched bucket per trigger).

    The one representation: base and delta rows share a single schema —
    spec columns + ``_op`` (upsert/delete) + ``_ord_<col>`` longs — so a
    compacted base is literally a folded delta chain (winning row per key,
    tombstones included), and resolution is ONE ``max_by`` over the order
    tuple per key: later triggers' deltas do not outrank by arrival,
    they outrank only if their order tuple says so, which is what makes
    redelivered old decode outputs harmless however late they arrive.
    Exact-tie resolution is still deterministic: each delta carries its
    write generation (``_gen`` = the commit's version) as the rank's
    LAST component, so two contributions sharing an order tuple (possible
    with NULL / non-unique order columns, e.g. gtid-less streams) resolve
    to the latest-written one — matching the ordered CoW sink's
    incoming-row-wins behavior on equal rank. Compacted base rows drop
    ``_gen`` (they rank as generation -1), so a later redelivered tie
    again resolves to the newer write."""

    FAMILY = "ordered_mor"

    def _stored_schema(self) -> T.StructType:
        """A delta row adds its write generation ``_gen``."""
        return super()._stored_schema().add("_gen", T.LongType())

    # -- read (resolve by order tuple) ----------------------------------------

    def read_with_order(
        self, spark: SparkSession, version: int, bucket_ids=None
    ) -> DataFrame:
        """Winning stored form per key — spec columns + order tuple +
        tombstone flag — folded across base and deltas. Buckets without
        deltas skip the fold (their base is already one winner per key)."""
        manifest = self._pruned_manifest(version, bucket_ids)
        spec_cols = [n for n, _, _ in self.spec.columns]
        ords = self._ord_names()
        # a base adopted from an ordered copy-on-write store holds no _op:
        # its tombstones are the _deleted flag, and they must stay deletes
        # (a plain copy-on-write base holds live rows only)
        op = F.coalesce(
            F.col("_op"),
            F.when(F.col("_deleted"), F.lit("delete")).otherwise(F.lit("upsert")),
        )
        plain = [e["base"] for e in manifest.values() if not e["deltas"] and e["base"]]
        out = self._scan(spark, plain).select(
            *spec_cols, *ords, (op == "delete").alias("_deleted")
        )
        folded = [e for e in manifest.values() if e["deltas"]]
        if not folded:
            return out
        paths = [e["base"] for e in folded if e["base"]]
        paths += [p for e in folded for p in e["deltas"]]
        # order tuple first; write generation LAST so only exact ties fall
        # through to latest-written-wins (CoW incoming-wins twin); a base
        # row holds no _gen and ranks as generation -1
        rank = F.struct(
            *[F.col(o) for o in ords],
            F.coalesce(F.col("_gen"), F.lit(-1)).alias("_gen"),
        )
        payload = F.struct(
            op.alias("_op"),
            *[F.col(c) for c in spec_cols],
            *[F.col(o) for o in ords],
        )
        keys = list(self.spec.primary_key)
        return out.unionByName(
            self._scan(spark, paths)
            .groupBy(*keys)
            .agg(F.max_by(payload, rank).alias("_win"))
            .select(
                *[F.col(f"_win.{c}").alias(c) for c in spec_cols],
                *[F.col(f"_win.{o}").alias(o) for o in ords],
                (F.col("_win._op") == "delete").alias("_deleted"),
            )
        )

    # -- write ------------------------------------------------------------------

    def merge(self, spark: SparkSession, net: DataFrame, current_version: int) -> int:
        """Same net contract as the ordered CoW sink (key cols + ``op`` +
        ``after_<col>`` + order columns); writes only delta files."""
        self._adopt_layout(current_version)
        net = net.persist()  # touched-bucket pre-pass + delta write both consume it
        try:
            touched = self._touched_buckets(net)
            delta = self._incoming(net, "_op").withColumn(
                "_gen", F.lit(current_version + 1).cast("long")
            )
            return self._commit_buckets(delta, touched, current_version, delta=True)
        finally:
            net.unpersist()

    def _base_rows(self, rows: DataFrame, version: int) -> DataFrame:
        """Base rows keep the delta schema: winning rows INCLUDING
        tombstones, the ``_deleted`` flag of ``read_with_order`` turned
        back into ``_op``; no ``_gen`` (compacted rows rank as -1)."""
        return rows.withColumn(
            "_op",
            F.when(F.col("_deleted"), F.lit("delete")).otherwise(F.lit("upsert")),
        ).drop("_deleted")
