"""MERGE targets (S7 in SURVEY.md §2.1) — Iceberg first, parquet fallback.

The reference hands decoded rows to user code (README.md:61); the whole
point of this engine is the missing half: applying them. One sink
interface (``merge`` / ``merge_partial`` / ``truncate`` / ``read``):

- ``IcebergMergeTarget`` — real ``MERGE INTO`` + ``ALTER TABLE ADD COLUMN``
  (additive schema evolution from TABLE_MAP metadata). Used when an Iceberg
  catalog is configured on the session; this sandbox's pyspark has no
  Iceberg runtime jar, so tests exercise the fallback.
- ``BucketedParquetMergeTarget`` — versioned-snapshot, bucket-pruned
  MERGE: a batch writes only the hash buckets its net change touches,
  rewriting each one or appending to it with position deletes, and
  splices the rest by manifest reference. The commit point is the
  *ledger append*, not the snapshot write, so a torn write is invisible.
- ``OrderedBucketedMergeTarget`` — the same layout with the streaming
  tier's outrank guard (order tuples + tombstones).

``scd2.Scd2HistoryStore`` keeps SCD2 history on the same layout.
``open_store`` reopens an existing store through the target family that
wrote it.

Scale notes (100 TB target, 10^8-row net changes per batch):
- the anti-join of current-state × touched-keys shuffles on the key; the
  touched-key side is the *net* (post-LWW) change set, which is bounded by
  keys-touched-per-batch, not by event count;
- at cluster scale the Iceberg path is strictly better (metadata-pruned
  MERGE touches only affected data files); the parquet fallback exists
  for environments without a catalog — interface and tests are identical.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..binlog.decoder import TableSpec, TRANSCRIPTS, _ddl_to_type

# Most stored positions one bucket's delete files may list. A merge that
# would go past it rewrites the bucket instead, so a read's position
# literal stays under ``buckets × POSITION_CAP`` entries at any table
# size. Measured on 4 vCPUs, 16 buckets of 9,000 rows, median full read:
# 0.28 s with no positions, 0.44 s at 2,048 per bucket, 0.68 s at 8,192
# (each file's list is searched linearly); the cap keeps the filter
# under 2× the unfiltered read. tests/test_position_deletes.py reports
# the read at the cap.
POSITION_CAP = 2048

# Most data dirs one bucket's chain may hold: a merge that would extend a
# chain this long rewrites the bucket instead, so a read opens at most
# this many dirs per bucket whether or not anyone runs ``compact``.
DEFAULT_AUTO_COMPACT = 16


def _file_col():
    """A scanned row's data file as its store-relative path,
    ``snapshots/vN/data/_bucket=B/part-…``: the last five parts of the URI
    Spark reports, so the store's own location (moved, or holding
    characters a URI escapes) never enters it."""
    return F.substring_index(F.col("_metadata.file_path"), "/", -5)


@contextmanager
def micros_ts(spark: SparkSession):
    """Write ``ts`` as INT64 TIMESTAMP(MICROS) inside the block, whatever
    the session says, and give the caller's value back after it. INT96
    is a legacy type Iceberg's spec does not allow in data files, and
    Spark ignores a per-write option for this setting."""
    key = "spark.sql.parquet.outputTimestampType"
    saved = spark.conf.get(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try:
        yield
    finally:
        spark.conf.set(key, saved)


def delete_net(keys_df: DataFrame, spec: TableSpec) -> DataFrame:
    """Net change rows that delete every key of ``keys_df``."""
    keys = list(spec.primary_key)
    return keys_df.select(
        *keys,
        F.lit("delete").alias("op"),
        *[F.lit(None).cast(d).alias(f"after_{c}") for c, d, _ in spec.columns],
    )


def insert_net(rows: DataFrame, spec: TableSpec) -> DataFrame:
    """Net change rows that insert every spec-shaped row of ``rows`` at
    order tuple 0, which any real event outranks (snapshot seeds:
    ``bootstrap`` and incremental-snapshot chunks)."""
    from .order import ORDER_COLS

    keys = list(spec.primary_key)
    ddl = {n: d for n, d, _ in spec.columns}
    return rows.select(
        *[F.col(k).cast(ddl[k]).alias(k) for k in keys],
        F.lit("insert").alias("op"),
        *[F.col(n).cast(d).alias(f"after_{n}") for n, d, _ in spec.columns
          if n not in keys],
        *[F.lit(0).cast("long").alias(c) for c in ORDER_COLS],
    )


def diff_net(old: DataFrame, new: DataFrame, spec: TableSpec) -> DataFrame:
    """Net change rows that take state ``old`` to state ``new``: keys
    missing from ``new`` delete, the rest upsert their ``new`` image
    (``flashback`` and ``repair``; ``snapshot_diff`` is
    change-feed-pinned)."""
    keys = list(spec.primary_key)
    return snapshot_diff(old, new, spec).select(
        *keys,
        F.when(F.col("change_type") == "delete", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        *[F.col(c).alias(f"after_{c}") for c, _, _ in spec.columns
          if c not in keys],
    )


def state_schema(spec: TableSpec = TRANSCRIPTS) -> T.StructType:
    """Spark schema of a table's rows: one nullable field per spec column."""
    return T.StructType(
        [T.StructField(n, _ddl_to_type(d), True) for n, d, _ in spec.columns]
    )


def snapshot_diff(
    old: DataFrame, new: DataFrame, spec: TableSpec, images: str = "applied"
) -> DataFrame:
    """Row-level change feed between two state snapshots — the read-side
    twin of MERGE (Delta/Iceberg's changed-data-feed, derived here from
    versioned snapshots rather than logged at write time).

    One output row per key whose image differs: ``change_type`` in
    (``insert``, ``update``, ``delete``), then per ``images``:

    - ``"applied"`` (default): the spec columns once — the new image for
      insert/update, the old image for delete (what a downstream consumer
      needs to re-apply or invert the change);
    - ``"both"``: ``old_<c>`` and ``new_<c>`` for every non-key column —
      what delta-folding consumers (incremental view maintenance) need to
      subtract the outgoing contribution and add the incoming one.

    Plan shape: one key-partitioned full-outer join; both sides arrive
    hash-repartitioned by key from the snapshot write, and unchanged
    rows are filtered before anything else touches them (null-safe
    column compare, all JVM codegen)."""
    keys = list(spec.primary_key)
    vals = [n for n, _, _ in spec.columns if n not in keys]
    o = old.select(
        *keys,
        F.lit(True).alias("_o_present"),
        *[F.col(c).alias(f"_o_{c}") for c in vals],
    )
    n = new.select(
        *keys,
        F.lit(True).alias("_n_present"),
        *[F.col(c).alias(f"_n_{c}") for c in vals],
    )
    j = o.join(n, on=keys, how="full_outer")
    differs = F.lit(False)
    for c in vals:
        differs = differs | ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
    change_type = (
        F.when(F.col("_o_present").isNull(), F.lit("insert"))
        .when(F.col("_n_present").isNull(), F.lit("delete"))
        .when(differs, F.lit("update"))
    )
    if images == "both":
        out_vals = [F.col(f"_o_{c}").alias(f"old_{c}") for c in vals] + [
            F.col(f"_n_{c}").alias(f"new_{c}") for c in vals
        ]
    else:
        out_vals = [
            F.when(change_type == "delete", F.col(f"_o_{c}"))
            .otherwise(F.col(f"_n_{c}"))
            .alias(c)
            for c in vals
        ]
    return (
        j.withColumn("change_type", change_type)
        .filter(F.col("change_type").isNotNull())
        .select(*keys, "change_type", *out_vals)
    )


def snapshot_committed(snap_dir: str) -> bool:
    """True when a snapshot directory finished its write. The bucketed
    layout writes ``manifest.json`` last, so it is its commit point. A
    legacy unbucketed snapshot (the retired full-rewrite layout) has no
    manifest, but the Spark committer wrote ``_SUCCESS`` directly inside
    it. A torn bucketed snapshot holds only ``data/`` (the committer's
    ``_SUCCESS`` lands in there), so it never reads as legacy."""
    return os.path.exists(os.path.join(snap_dir, "manifest.json")) or (
        os.path.exists(os.path.join(snap_dir, "_SUCCESS"))
    )


def _is_legacy(snap_dir: str) -> bool:
    """A committed snapshot of the retired unbucketed layout."""
    return snapshot_committed(snap_dir) and not os.path.exists(
        os.path.join(snap_dir, "manifest.json")
    )


def latest_committed_version(store_dir: str) -> int:
    """Newest committed snapshot version of a store (0 when none). A
    torn snapshot above it is an orphan the next commit overwrites."""
    snapdir = os.path.join(store_dir, "snapshots")
    if not os.path.isdir(snapdir):
        return 0
    return max(
        (
            int(m.group(1))
            for n in os.listdir(snapdir)
            if (m := re.match(r"v(\d+)$", n))
            and snapshot_committed(os.path.join(snapdir, n))
        ),
        default=0,
    )


def _read_manifest(store_dir: str, version: int) -> dict:
    """Raw manifest of a committed snapshot: bucket id -> entry (a
    store-relative path, or a position-delete ``{"data", "rows",
    "deletes", "deleted"}`` dict). A legacy unbucketed snapshot reads as
    one bucket 0 holding the whole snapshot directory."""
    if version <= 0:
        return {}
    snap = os.path.join(store_dir, "snapshots", f"v{version:08d}")
    if _is_legacy(snap):
        return {0: os.path.relpath(snap, store_dir)}
    with open(os.path.join(snap, "manifest.json")) as f:
        return {
            int(k): _retired_entry(v, k, version) for k, v in json.load(f).items()
        }


def _retired_entry(entry, bucket, version: int):
    """A manifest entry of the retired equality-delete layout (families
    ``mor`` / ``ordered_mor``) as a plain dir: a compacted bucket,
    ``{"base": p, "deltas": []}``, is just its base ``p``. A bucket with
    equality deltas would need their fold, which no reader has any more."""
    if not (isinstance(entry, dict) and "deltas" in entry):
        return entry
    if entry["deltas"] or not entry["base"]:
        raise ValueError(
            f"bucket {bucket} of snapshot v{version} holds equality-delete "
            "deltas of the retired merge-on-read layout: compact the store "
            "(Replayer.compact) with an engine build that still writes "
            "that layout, then open it here"
        )
    return entry["base"]


def _entry_dirs(entry) -> list:
    """Data dirs of a manifest entry, oldest first: a plain entry is one
    dir, a position-delete entry its ``data`` chain."""
    if isinstance(entry, str):
        return [entry]
    return list(entry["data"])


def write_decision(store_dir: str, old_version: int, new_version: int) -> dict:
    """How the commits from ``old_version`` to ``new_version`` wrote their
    buckets, from the two manifests alone (no Spark job, no data file
    read): ``buckets_rewritten`` (an entry replaced, added or dropped),
    ``buckets_appended`` (a chain extended in place: a data dir, deleted
    positions or both), ``positions_deleted`` (stored rows the new
    delete files list) and ``max_chain`` (the most data dirs one bucket
    of ``new_version`` reads)."""
    old = _read_manifest(store_dir, old_version)
    new = _read_manifest(store_dir, new_version)
    rewritten = appended = positions = 0
    for b in set(old) | set(new):
        o, n = old.get(b), new.get(b)
        if o == n:
            continue
        was = _entry_dirs(o) if o is not None else []
        if o is not None and isinstance(n, dict) and (
            _entry_dirs(n)[: len(was)] == was
        ):
            appended += 1
            positions += n.get("deleted", 0) - (
                o.get("deleted", 0) if isinstance(o, dict) else 0
            )
        else:
            rewritten += 1
    return {
        "buckets_rewritten": rewritten,
        "buckets_appended": appended,
        "positions_deleted": positions,
        "max_chain": max((len(_entry_dirs(e)) for e in new.values()), default=0),
    }


class BucketedParquetMergeTarget:
    """Bucket-pruned MERGE, the scale path for catalog-less environments:
    per-batch IO is O(touched-bucket data), not O(table).

    Layout mirrors Iceberg's bucket partitioning, with copy-on-write and
    position-delete commits side by side:

    - state is hash-bucketed by ``pmod(xxhash64(key cols), buckets)``;
    - each snapshot version is a directory holding (a) the parquet data
      **this** batch wrote per bucket (``data/_bucket=N/``), (b) at most
      one delete file ``deletes.json`` and (c) a ``manifest.json`` mapping
      every live bucket to its current files — untouched buckets keep
      pointing at the version that last wrote them (no copy, no rewrite);
    - ``merge`` decides per touched bucket whether to **rewrite** it (read
      its rows, anti-join the net keys, write survivors ∪ upserts: the
      entry becomes that one dir) or **append** to it (write the upserts
      only, and record the positions of the stored rows they and the
      deletes replace). A delete writes no row, only a position. Both
      kinds go through the same partitioned write, so a batch that
      touches 1% of keys at 10^10 rows reads and writes ~1% of the table
      when it rewrites, and only its own rows when it appends.
    - a bucket appends when (a) it has a stored entry in a bucketed
      snapshot, (b) its chain of data dirs is shorter than
      ``DEFAULT_AUTO_COMPACT``, (c) after the batch its delta rows
      plus deleted positions stay below its base dir's rows (the batch's
      upserts taken as spread evenly over the touched buckets) and (d)
      its deleted positions stay at most ``POSITION_CAP``. Sizes come
      from the manifest and parquet footers; the replaced positions from
      one lookup job over the appending buckets' key columns. Every other
      touched bucket is rewritten, and a bucket left with no rows drops
      out of the manifest;
    - an appended bucket's entry is ``{"data": [dirs, oldest first],
      "rows": [rows per dir], "deletes": [delete files], "deleted": n}``;
      a rewritten one is its one dir, a plain string. A delete file maps
      store-relative data-file paths to row indexes,
      ``{"snapshots/v…/data/_bucket=3/part-….parquet": [4, 17]}`` — JSON,
      a few kB per commit, and relative so the store can move. A read
      scans every listed dir and drops the listed rows with one
      constant-folded map lookup on ``_metadata.file_path`` /
      ``_metadata.row_index``: no join and no exchange;
    - ``purge_keys`` always rewrites: a position delete leaves the row's
      bytes in its file, so erasure needs the rewrite;
    - ``compact`` rewrites the chains a merge left, for a bucket that
      stops changing (Iceberg's ``rewrite_data_files``);
    - the manifest write is the snapshot's internal commit point (data is
      written first); the *pipeline* commit point stays the ledger append,
      so a torn snapshot is invisible and the next commit overwrites it.

    Stores written by the retired unbucketed layout (families ``cow`` and
    ``ordered_cow``: bare parquet snapshot directories) open through this
    class and its ordered form: such a snapshot reads as one bucket 0 that
    no bucket pruning drops, and the next merge rewrites it whole into
    this target's layout, from which the store continues bucketed.

    ``bucket_cols`` picks the hash input (default: the full primary key).
    Bucketing on a prefix — e.g. ``("conv_id",)``, mirroring
    ``IcebergMergeTarget.ensure_table``'s ``bucket(64, conv_id)`` — keeps a
    conversation's turns in one bucket, so a batch touching K conversations
    rewrites at most K buckets however many turns it edits; the trade is
    intra-bucket skew if one conversation dwarfs the rest. Correctness only
    needs determinism: every net key hashes to the bucket holding its
    stored row, which any PK-subset satisfies.
    """

    # persisted store-level family tag (``<store>/target_family.json``),
    # written at commit: resuming a store MUST reopen it with the same
    # target family, and sniffing the manifest/file shapes cannot
    # distinguish e.g. a truncated ordered store (empty {} manifest) from
    # the plain one. Subclasses override.
    FAMILY = "bucketed_cow"

    def __init__(
        self,
        store_dir: str,
        spec: TableSpec = TRANSCRIPTS,
        buckets: int = 64,
        bucket_cols: tuple | None = None,
    ):
        self.store_dir = store_dir
        self.spec = spec
        self.buckets = buckets
        os.makedirs(os.path.join(store_dir, "snapshots"), exist_ok=True)
        cols = tuple(bucket_cols) if bucket_cols else tuple(spec.primary_key)
        unknown = set(cols) - set(spec.primary_key)
        if unknown:
            raise ValueError(f"bucket_cols must be primary-key columns: {unknown}")
        self.bucket_cols = cols

    def snapshot_path(self, version: int) -> str:
        return os.path.join(self.store_dir, "snapshots", f"v{version:08d}")

    def _record_family(self) -> None:
        """Stamp the store's target family at commit time — LAST writer
        wins: a store is owned by whichever family last committed to it,
        so a store of a retired family (``mor``, opened as this class)
        re-stamps on its first commit and later auto-detection reopens
        through the committing family. Readers never write the stamp."""
        p = os.path.join(self.store_dir, "target_family.json")
        if os.path.exists(p):
            with open(p) as f:
                try:
                    if json.load(f).get("family") == self.FAMILY:
                        return
                except ValueError:
                    pass  # torn write: re-stamp below
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"family": self.FAMILY}, f)
        os.replace(tmp, p)

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.snapshot_path(version), "manifest.json")

    def _layout_path(self, version: int) -> str:
        return os.path.join(self.snapshot_path(version), "bucketing.json")

    def _load_layout(self, version: int) -> tuple:
        """(buckets, bucket_cols) the snapshot at ``version`` was written
        with. The layout is PER-SNAPSHOT metadata (the analog of Iceberg's
        partition-spec-id on a snapshot): the hash placement of every
        stored row is a property of the data, not of whoever opens the
        store, so a merge MUST use the layout of the snapshot it merges
        from — a resume on a different cluster size (the constructor
        default tracks ``defaultParallelism``) would otherwise hash net
        keys into different buckets than the stored rows, skip the stored
        row in the anti-join, and leave duplicates behind. Legacy
        unbucketed snapshots and snapshots written before layout
        persistence existed fall back to the constructor values."""
        p = self._layout_path(version)
        if version > 0 and os.path.exists(p):
            with open(p) as f:
                d = json.load(f)
            return int(d["buckets"]), tuple(d["bucket_cols"])
        return self.buckets, self.bucket_cols

    def _adopt_layout(self, version: int) -> None:
        self.buckets, self.bucket_cols = self._load_layout(version)

    def _load_manifest(self, version: int) -> dict:
        """bucket id -> entry: the store-relative path of that bucket's
        parquet dir, or its position-delete chain (class docstring)."""
        return _read_manifest(self.store_dir, version)

    def _pruned_manifest(self, version: int, bucket_ids) -> dict:
        """Manifest entries of ``bucket_ids``; a legacy snapshot's one
        entry holds rows of every bucket, so pruning keeps it."""
        manifest = self._load_manifest(version)
        if bucket_ids is None or _is_legacy(self.snapshot_path(version)):
            return manifest
        return {b: e for b, e in manifest.items() if b in bucket_ids}

    def _write_meta(self, version: int, manifest: dict) -> None:
        """Stamp the family, then write layout and manifest. Layout
        first, manifest last (atomic rename): the manifest write is the
        snapshot's internal commit point, and a snapshot is never
        readable without its layout metadata."""
        self._record_family()
        os.makedirs(self.snapshot_path(version), exist_ok=True)
        with open(self._layout_path(version), "w") as f:
            json.dump(
                {"buckets": self.buckets, "bucket_cols": list(self.bucket_cols)}, f
            )
        tmp = self._manifest_path(version) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({str(b): e for b, e in sorted(manifest.items())}, f)
        os.replace(tmp, self._manifest_path(version))

    def _fresh_snapshot(self, version: int) -> str:
        """Directory for snapshot ``version``, emptied of any orphan a
        crashed batch left there (a retry overwrites it)."""
        snap = self.snapshot_path(version)
        if os.path.exists(snap):
            shutil.rmtree(snap)
        return snap

    def _bucket_expr(self):
        ddl = {n: d for n, d, _ in self.spec.columns}
        cols = [F.col(k).cast(ddl[k]) for k in self.bucket_cols]
        return F.pmod(F.xxhash64(*cols), F.lit(self.buckets)).cast("int")

    def _stored_schema(self) -> T.StructType:
        """Every column a bucket file of this target family may hold: the
        spec columns plus the family's own per-row state (subclasses add
        theirs, and the columns of any family whose store they adopt).
        The store's schema lives here, not in the parquet footers."""
        return state_schema(self.spec)

    def _scan(self, spark: SparkSession, paths) -> DataFrame:
        """One scan over store-relative data dirs, read through
        ``_stored_schema`` (Iceberg reads old data files through the table
        schema the same way): a column a file predates — a bucket written
        before an additive schema evolution, or a base adopted from
        another family — reads as NULL, and planning the scan opens no
        parquet footer. No paths read as an empty frame of that schema."""
        full = sorted({os.path.join(self.store_dir, p) for p in paths})
        return spark.read.schema(self._stored_schema()).parquet(*full)

    def _deleted_positions(self, entries) -> dict:
        """{data-file path: [row index]} the delete files of ``entries``
        list for their own data dirs (a delete file covers every bucket
        its commit appended to)."""
        entries = [e for e in entries if isinstance(e, dict)]
        dirs = {d for e in entries for d in e["data"]}
        out: dict = {}
        for rel in sorted({p for e in entries for p in e["deletes"]}):
            with open(os.path.join(self.store_dir, rel)) as f:
                for path, rows in json.load(f).items():
                    if path.rsplit("/", 1)[0] in dirs:
                        out.setdefault(path, []).extend(rows)
        return out

    def _scan_live(self, spark: SparkSession, entries) -> DataFrame:
        """``_scan`` over every data dir of manifest ``entries`` (either
        shape), without the rows their delete files list: one filter on a
        constant map (parsed once, at planning), not a join. A literal
        built element by element from Python costs one py4j call each,
        so the positions go in as one JSON string."""
        entries = list(entries)
        df = self._scan(spark, [d for e in entries for d in _entry_dirs(e)])
        deleted = self._deleted_positions(entries)
        if not deleted:
            return df
        positions = F.from_json(
            F.lit(json.dumps(deleted)), "map<string,array<bigint>>"
        )
        return df.filter(
            ~F.coalesce(
                F.array_contains(
                    F.element_at(positions, _file_col()),
                    F.col("_metadata.row_index"),
                ),
                F.lit(False),
            )
        )

    def read(self, spark: SparkSession, version: int, bucket_ids=None) -> DataFrame:
        """Read the table at ``version``; ``bucket_ids`` (a set) prunes the
        scan to those buckets' data dirs — the manifest is the metadata
        index, so pruning never touches unrelated files."""
        manifest = self._pruned_manifest(version, bucket_ids)
        return self._scan_live(spark, manifest.values()).select(
            *[n for n, _, _ in self.spec.columns]
        )

    def _read_full(
        self, spark: SparkSession, version: int, bucket_ids=None
    ) -> DataFrame:
        """Complete stored form of a snapshot — what a rebucket or a
        compaction must carry forward verbatim. Targets storing extra
        per-row state (order tuples, tombstones) override this."""
        return self.read(spark, version, bucket_ids)

    def observe_buckets(self, net: DataFrame, current_version: int) -> DataFrame:
        """``net`` with an observation of the buckets it touches and its
        upsert count under the layout of ``current_version``: the first
        action on the returned frame (the caller's ``count()``) records
        them, and a merge of that frame reads them instead of running a
        job of its own."""
        self._adopt_layout(current_version)
        obs = Observation()
        out = net.observe(
            obs,
            F.collect_set(self._bucket_expr()).alias("buckets"),
            F.count_if(self._adds()).alias("upserts"),
        )
        out._observed_buckets = ((self.buckets, self.bucket_cols), obs)
        return out

    def _observed(self, net: DataFrame):
        """(sorted touched bucket ids, upsert rows) that ``net``'s
        ``observe_buckets`` observation recorded, or None when it has
        none or the layout changed since."""
        seen = getattr(net, "_observed_buckets", None)
        if seen is None or seen[0] != (self.buckets, self.bucket_cols):
            return None
        got = seen[1].get
        return sorted(got["buckets"]), int(got["upserts"])

    def _adds(self):
        """The net rows a merge adds to the store: its upserts (a delete
        only removes)."""
        return F.col("op") != "delete"

    def _bucket_counts(self, net: DataFrame) -> tuple:
        """(sorted touched bucket ids, rows ``_adds`` counts) of a net
        change: as observed, else from one tiny driver-side action
        (≤ ``buckets`` rows)."""
        seen = self._observed(net)
        if seen is not None:
            return seen
        rows = (
            net.groupBy(self._bucket_expr().alias("_b"))
            .agg(F.count_if(self._adds()).alias("n"))
            .collect()
        )
        return sorted(r["_b"] for r in rows), sum(r["n"] for r in rows)

    def _touched_buckets(self, df: DataFrame) -> list:
        """Sorted bucket ids of ``df``'s keys: as observed, else from one
        tiny driver-side action. The result drives both the pruned scan
        and the manifest."""
        seen = self._observed(df)
        if seen is not None:
            return seen[0]
        rows = df.select(self._bucket_expr().alias("_b")).distinct().collect()
        return sorted(r["_b"] for r in rows)

    def _dir_rows(self, rel: str) -> int:
        """Rows of a store-relative data dir, from its parquet footers."""
        import pyarrow.parquet as pq

        d = os.path.join(self.store_dir, rel)
        return sum(
            pq.read_metadata(os.path.join(d, n)).num_rows
            for n in os.listdir(d)
            if n.endswith(".parquet")
        )

    def _chain(self, entry) -> dict:
        """A copy-on-write entry in position-delete form; a plain entry
        reads its one dir's row count from the footers."""
        if isinstance(entry, dict):
            return entry
        return {"data": [entry], "rows": [self._dir_rows(entry)],
                "deletes": [], "deleted": 0}

    @staticmethod
    def _may_append(chain: dict, upserts: float, positions: int) -> bool:
        """Rules (b)–(d) of the class docstring for a bucket whose batch
        adds ``upserts`` rows and deletes ``positions`` stored rows."""
        deleted = chain["deleted"] + positions
        return (
            len(chain["data"]) < DEFAULT_AUTO_COMPACT
            and sum(chain["rows"][1:]) + upserts + deleted < chain["rows"][0]
            and deleted <= POSITION_CAP
        )

    def _append_candidates(
        self, touched: list, version: int, upserts: float = 0
    ) -> dict:
        """{bucket: chain} of the ``touched`` buckets that may append
        ``upserts`` rows before their replaced positions are known (rule
        (a): none of a legacy snapshot's)."""
        if _is_legacy(self.snapshot_path(version)):
            return {}
        manifest = self._load_manifest(version)
        chains = {b: self._chain(manifest[b]) for b in touched if b in manifest}
        return {
            b: c for b, c in chains.items() if self._may_append(c, upserts, 0)
        }

    def _appending(self, rows: DataFrame, chains: dict) -> dict:
        """{bucket: (chain, {data-file path: [row index]})} for the
        ``chains`` that may append ``rows`` — the rows each bucket would
        append, every one counted (rule (c)), with the data file
        ``_file`` and row index ``_row`` of the stored row it replaces
        (NULL for none). One job counts them and collects the positions
        per bucket."""
        bucket = self._bucket_expr()
        found = {b: (0, {}) for b in chains}
        for r in (
            rows.filter(bucket.isin(list(chains)))
            .groupBy(bucket.alias("_b"))
            .agg(
                F.count("*").alias("n"),
                F.collect_list(
                    F.when(
                        F.col("_file").isNotNull(), F.struct("_file", "_row")
                    )
                ).alias("pos"),
            )
            .collect()
        ):
            pos: dict = {}
            for p in r["pos"]:
                pos.setdefault(p["_file"], []).append(p["_row"])
            found[r["_b"]] = (r["n"], pos)
        return {
            b: (chains[b], pos)
            for b, (n, pos) in found.items()
            if self._may_append(chains[b], n, sum(map(len, pos.values())))
        }

    def _replaced_positions(
        self, spark: SparkSession, net: DataFrame, chains: dict
    ) -> dict:
        """{bucket: {data-file path: [row index]}}: the live stored rows of
        the ``chains``' buckets whose keys ``net`` holds — one job over
        their key columns, semi-joined with the net keys."""
        keys = list(self.spec.primary_key)
        hits = (
            self._scan_live(spark, chains.values())
            .select(
                *keys,
                _file_col().alias("_file"),
                F.col("_metadata.row_index").alias("_row"),
            )
            .join(net.select(*keys), on=keys, how="left_semi")
            .select("_file", "_row")
            .collect()
        )
        bucket_of = {d: b for b, c in chains.items() for d in c["data"]}
        out: dict = {b: {} for b in chains}
        for r in hits:
            b = bucket_of[r["_file"].rsplit("/", 1)[0]]
            out[b].setdefault(r["_file"], []).append(r["_row"])
        return out

    def _commit_buckets(
        self, rows: DataFrame, touched: list, current_version: int,
        carry_over: bool = True, appended=None,
    ) -> int:
        """The one bucket write: write ``rows`` partitioned by bucket under
        snapshot version+1 (``data/``), splice the manifest, commit. Each
        touched bucket's entry becomes the dir written for it, and a
        bucket left with no rows writes no dir and drops out. ``appended``
        maps the buckets a merge appends to onto (their chain, {data-file
        path: [row index]} the batch replaces): their dir, if any, extends
        the chain, and their positions go into the commit's one
        ``deletes.json``. Untouched entries carry over by
        reference; ``carry_over=False`` (rebucket) starts the manifest
        empty — every live bucket of the new layout is written fresh. From
        a legacy snapshot ``rows`` holds the whole table (its one entry is
        never pruned), so every bucket of this layout is written.

        Every file is zstd-compressed parquet with ``ts`` as INT64
        TIMESTAMP(MICROS), set here for the write (``micros_ts``): bytes
        per file are bytes per commit, and zstd text pages are about a
        third smaller than snappy's. Files written earlier as snappy/INT96
        read the same way (``_scan`` reads through ``_stored_schema``) and
        take the new encoding when their bucket is next written."""
        appended = appended or {}
        if _is_legacy(self.snapshot_path(current_version)):
            touched = list(range(self.buckets))
        new_version = current_version + 1
        snap = self._fresh_snapshot(new_version)
        out_dir = os.path.join(snap, "data")
        with micros_ts(rows.sparkSession):
            (
                rows.withColumn("_bucket", self._bucket_expr())
                .repartition(max(1, len(touched)), F.col("_bucket"))
                .write.partitionBy("_bucket")
                .option("compression", "zstd")
                .parquet(out_dir)
            )
        deletes = {p: r for _, pos in appended.values() for p, r in pos.items()}
        deletes_rel = os.path.relpath(
            os.path.join(snap, "deletes.json"), self.store_dir
        )
        if deletes:
            with open(os.path.join(self.store_dir, deletes_rel), "w") as f:
                json.dump(deletes, f)
        manifest = self._load_manifest(current_version) if carry_over else {}
        for b in touched:
            bucket_dir = os.path.join(out_dir, f"_bucket={b}")
            rel = os.path.relpath(bucket_dir, self.store_dir)
            wrote = os.path.isdir(bucket_dir)
            if b in appended:
                chain, pos = appended[b]
                chain = dict(chain)
                if wrote:
                    chain["data"] = chain["data"] + [rel]
                    chain["rows"] = chain["rows"] + [self._dir_rows(rel)]
                if pos:
                    chain["deletes"] = chain["deletes"] + [deletes_rel]
                    chain["deleted"] += sum(len(r) for r in pos.values())
                if wrote or pos:
                    manifest[b] = chain
            elif wrote:
                manifest[b] = rel
            else:
                manifest.pop(b, None)
        self._write_meta(new_version, manifest)
        return new_version

    def truncate(self, spark: SparkSession, current_version: int) -> int:
        """TRUNCATE TABLE on the bucketed layout: commit an EMPTY manifest
        as version+1 — a metadata-only operation (no data IO, exactly like
        Iceberg's metadata-delete), keeping the current layout. Earlier
        snapshots stay readable for time travel until ``gc``; the change
        feed across the truncate version reads as one delete per stored
        row (manifest diff: every live bucket repointed to nothing)."""
        self._adopt_layout(current_version)
        new_version = current_version + 1
        self._fresh_snapshot(new_version)
        self._write_meta(new_version, {})
        return new_version

    def compact(
        self, spark: SparkSession, current_version: int, min_deltas: int = 1
    ) -> int:
        """Rewrite, as snapshot version+1, every bucket whose chain holds
        at least ``min_deltas`` appended dirs or any deleted position: a
        deleted position costs every read a filter. The rewrite carries
        the family's whole stored form (``_read_full``: an ordered store
        keeps its tombstones, which ``prune_tombstones`` ages out), and
        the other buckets carry over by reference. Returns the new
        version, or ``current_version`` when no bucket qualifies (no
        empty commit)."""
        self._adopt_layout(current_version)
        chosen = sorted(
            b
            for b, e in self._load_manifest(current_version).items()
            if isinstance(e, dict)
            and (len(e["data"]) - 1 >= max(1, min_deltas) or e["deleted"])
        )
        if not chosen:
            return current_version
        rows = self._read_full(spark, current_version, set(chosen))
        return self._commit_buckets(rows, chosen, current_version)

    def merge(self, spark: SparkSession, net: DataFrame, current_version: int) -> int:
        """Apply net changes (one row per key: final op + after image) and
        write snapshot ``current_version + 1``. Returns the new version.

        ``net`` columns: key cols + ``op`` + ``after_<col>`` for every spec
        column. Each touched bucket is rewritten or appended to (class
        docstring)."""
        return self._merge(spark, net, current_version, may_append=True)

    def purge_keys(
        self, spark: SparkSession, keys_df: DataFrame, current_version: int
    ) -> int:
        """Delete every key of ``keys_df`` and commit version+1 with the
        buckets holding them rewritten, never appended to: a position
        delete would leave the rows' bytes in a file the new snapshot
        still lists. Returns the new version."""
        return self._merge(
            spark, delete_net(keys_df, self.spec), current_version,
            may_append=False,
        )

    def _merge(
        self, spark: SparkSession, net: DataFrame, current_version: int,
        may_append: bool,
    ) -> int:
        self._adopt_layout(current_version)
        keys = list(self.spec.primary_key)
        # net is the whole decode→gate→LWW pipeline, lazily. The touched-
        # bucket pre-pass, the position lookup AND the merge write all
        # consume it — without a persist the full pipeline would execute
        # again each time (measured ~2× on the 9M-event scaling corpus).
        # Post-LWW net is one row per key, so the cache is keys-sized, not
        # events-sized.
        net = net.persist()
        try:
            touched, upserts = self._bucket_counts(net)
            appended: dict = {}
            if may_append:
                per_bucket = upserts / max(1, len(touched))
                chains = self._append_candidates(
                    touched, current_version, per_bucket
                )
                if chains:
                    found = self._replaced_positions(spark, net, chains)
                    appended = {
                        b: (c, found[b])
                        for b, c in chains.items()
                        if self._may_append(
                            c, per_bucket, sum(map(len, found[b].values()))
                        )
                    }
            merged = net.filter(F.col("op") != "delete").select(
                *[
                    F.col(f"after_{n}").cast(d).alias(n)
                    if n not in keys
                    else F.col(n).cast(d).alias(n)
                    for n, d, _ in self.spec.columns
                ]
            )
            rewrite = set(touched) - set(appended)
            if rewrite:
                # MERGE-equivalent: untouched current rows ∪ upserts. The
                # anti-join shuffles both sides by key; AQE handles skewed
                # hot conversations (session conf).
                state = self.read(spark, current_version, bucket_ids=rewrite)
                merged = state.join(
                    net.select(*keys), on=keys, how="left_anti"
                ).unionByName(merged, allowMissingColumns=False)
            return self._commit_buckets(
                merged, touched, current_version, appended=appended
            )
        finally:
            net.unpersist()

    def merge_partial(
        self, spark: SparkSession, net: DataFrame, current_version: int
    ) -> int:
        """MERGE for partial-image (MINIMAL) net changes: ``net`` carries
        key cols + ``op`` + ``after_<col>`` + ``carried_mask`` (from
        ``last_writer_wins_partial``); a matched row takes ``after_<c>``
        only for carried columns and keeps its stored value otherwise —
        the per-column form of Iceberg's ``UPDATE SET c = s.c`` clause
        list. Plan shape: one full-outer key join over the touched
        buckets' state only."""
        self._adopt_layout(current_version)
        spec = self.spec
        keys = list(spec.primary_key)
        net = net.persist()  # same double-consumption as merge()
        try:
            touched = self._touched_buckets(net)
            state = self.read(spark, current_version, bucket_ids=set(touched))
            n = net.select(
                *[F.col(k).cast(d).alias(k) for k, d, _ in spec.columns if k in keys],
                F.col("op").alias("_op"),
                F.col("carried_mask").alias("_cm"),
                *[
                    F.col(f"after_{c}").cast(d).alias(f"_s_{c}")
                    for c, d, _ in spec.columns
                    if c not in keys
                ],
            )
            joined = state.join(n, on=keys, how="full_outer")
            survives = F.col("_op").isNull() | (F.col("_op") != "delete")
            out_cols = [F.col(k) for k in keys]
            for ci, (c, _d, _k) in enumerate(spec.columns):
                if c in keys:
                    continue
                bit = F.shiftright(F.col("_cm"), ci).bitwiseAND(F.lit(1)) == 1
                out_cols.append(
                    F.when(F.col("_op").isNotNull() & bit, F.col(f"_s_{c}"))
                    .otherwise(F.col(c))
                    .alias(c)
                )
            merged = joined.filter(survives).select(*out_cols).select(
                *[n_ for n_, _, _ in spec.columns]
            )
            return self._commit_buckets(merged, touched, current_version)
        finally:
            net.unpersist()

    def lookup(
        self, spark: SparkSession, version: int, key_values: list[dict]
    ) -> DataFrame:
        """Point-lookup read path: each requested key hashes to exactly one
        bucket, so the scan touches only those buckets' files — at 10^10
        rows / 2^12 buckets a single-key lookup reads ~0.02% of the table
        (and the parquet row-group filter prunes within the bucket).
        ``key_values``: one dict per requested key, covering
        ``bucket_cols`` (full-PK dicts narrow further via the post-filter).
        """
        import pandas as pd

        self._adopt_layout(version)
        if not key_values:
            return spark.createDataFrame([], state_schema(self.spec))
        ddl = {n: d for n, d, _ in self.spec.columns}
        probe = spark.createDataFrame(pd.DataFrame(key_values))
        probe = probe.select(
            *[F.col(c).cast(ddl[c]).alias(c) for c in probe.columns]
        )
        buckets = {
            r["_b"]
            for r in probe.select(self._bucket_expr().alias("_b")).collect()
        }
        state = self.read(spark, version, bucket_ids=buckets)
        return state.join(F.broadcast(probe), on=list(probe.columns), how="left_semi")

    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int,
        images: str = "applied",
    ) -> DataFrame:
        """Manifest-pruned change feed (see ``snapshot_diff``;
        ``from_version=0`` diffs against the empty table). A bucket whose
        manifest entry is identical at both versions points at the *same*
        data files, so it cannot contain a changed row — only buckets whose
        entry was added, removed, or repointed are scanned and row-diffed.
        A batch that touched 1% of buckets diffs ~1% of the table, not all
        of it (the same metadata-pruning Iceberg's incremental read does
        with data-file diffs)."""
        m_old = self._load_manifest(from_version)
        m_new = self._load_manifest(to_version)
        changed = {
            b
            for b in set(m_old) | set(m_new)
            if m_old.get(b) != m_new.get(b)
        }
        return snapshot_diff(
            self.read(spark, from_version, bucket_ids=changed),
            self.read(spark, to_version, bucket_ids=changed),
            self.spec,
            images=images,
        )

    def rebucket(
        self,
        spark: SparkSession,
        new_buckets: int,
        current_version: int,
        bucket_cols: tuple | None = None,
    ) -> int:
        """Online bucket re-scaling — the maintenance op a growing table
        needs: bucket count is fixed at table creation, so a table that
        grows 100× ends up with 100×-sized buckets and every merge pays
        100× the touched-bucket IO it should. ``rebucket`` rewrites the
        state once under a new layout (count and/or hash columns) and
        commits it as a normal snapshot version: one full-table shuffle
        (repartition on the new hash — the same cost class as one
        whole-table batch, amortized over every merge after it), no
        downtime, time travel intact (older versions keep their own
        layout metadata and stay readable), and subsequent merges adopt
        the new layout automatically via the per-snapshot ``bucketing
        .json``. The Iceberg analog is evolving the partition spec to
        ``bucket(new_N, key)`` + ``rewrite_data_files``. Crash-safe like
        any merge: data + layout land before the manifest, the manifest
        before the caller's ledger append, so a torn rebucket is an
        invisible orphan the next commit overwrites."""
        self._adopt_layout(current_version)
        state = self._read_full(spark, current_version)
        old = (self.buckets, self.bucket_cols)
        self.buckets = int(new_buckets)
        if self.buckets < 1:
            raise ValueError("new_buckets must be >= 1")
        if bucket_cols:
            unknown = set(bucket_cols) - set(self.spec.primary_key)
            if unknown:
                raise ValueError(
                    f"bucket_cols must be primary-key columns: {unknown}"
                )
            self.bucket_cols = tuple(bucket_cols)
        try:
            return self._commit_buckets(
                state, list(range(self.buckets)), current_version,
                carry_over=False,
            )
        except BaseException:
            self.buckets, self.bucket_cols = old
            raise

    def _manifest_refs(self, version: int) -> set:
        """Store-relative data dirs and delete files the manifest at
        ``version`` references, for every bucketed family's entries."""
        refs = set()
        for e in self._load_manifest(version).values():
            refs.update(_entry_dirs(e))
            if isinstance(e, dict):
                refs.update(e.get("deletes", ()))
        return refs

    def gc(self, keep_latest: int) -> None:
        """Retain the newest ``keep_latest`` versions fully readable and
        physically remove everything else — at BUCKET-DIR granularity, not
        just whole snapshot dirs (Iceberg's expire-snapshots +
        remove-orphan-files in one pass): a snapshot dir that a kept
        manifest still points into survives, but the *unreferenced* bucket
        dirs inside it (superseded copies of since-rewritten buckets) and
        its delete file, once no kept manifest lists it, are deleted. This is what makes ``Replayer.purge_keys``'s erasure
        guarantee hold — without the inner prune, a carried-over old
        snapshot dir would keep the purged keys' pre-delete bucket files."""
        if not keep_latest:
            return
        root = os.path.join(self.store_dir, "snapshots")
        snaps = sorted(os.listdir(root))
        keep = set(snaps[-keep_latest:])
        live = set()
        for name in keep:
            if snapshot_committed(os.path.join(root, name)):
                live |= {
                    os.path.normpath(r)
                    for r in self._manifest_refs(int(name.lstrip("v")))
                }
        live_snap_names = {
            p.split(os.sep)[1]
            for p in live
            if p.split(os.sep)[0] == "snapshots" and len(p.split(os.sep)) > 1
        }
        for name in snaps:
            snap = os.path.join(root, name)
            if name not in keep and name not in live_snap_names:
                shutil.rmtree(snap)
                continue
            deletes = os.path.join(snap, "deletes.json")
            if os.path.exists(deletes) and os.path.normpath(
                os.path.relpath(deletes, self.store_dir)
            ) not in live:
                os.remove(deletes)
            d = os.path.join(snap, "data")
            if not os.path.isdir(d):
                continue
            for bd in os.listdir(d):
                p = os.path.join(d, bd)
                if not (os.path.isdir(p) and bd.startswith("_bucket=")):
                    continue  # committer markers (_SUCCESS etc.)
                rel = os.path.normpath(os.path.relpath(p, self.store_dir))
                if rel not in live:
                    shutil.rmtree(p)
            if not any(e.startswith("_bucket=") for e in os.listdir(d)):
                shutil.rmtree(d)


class OrderedBucketedMergeTarget(BucketedParquetMergeTarget):
    """Order-aware MERGE on the bucketed layout — the streaming apply
    tier's default sink: the outrank guard.

    Every stored row carries its winning order tuple (``_ord_<col>``
    longs) and an incoming row replaces it only when its tuple outranks
    it. This is the cross-trigger guard the streaming apply tier needs:
    Spark's file-stream source does not promise changelog files arrive in
    commit order across triggers, and an at-least-once redelivery of an
    old decode output must not regress state to older images. Exact ties
    (NULL order values included) resolve to the incoming row —
    idempotent, since equal rank implies the identical event. Deletes
    persist as **tombstones** (``_deleted``): without them, a delete
    applied before its out-of-order insert arrives would leave nothing to
    outrank the insert and the row would resurrect.

    Per touched bucket a merge rewrites or appends, under the plain
    layout's rules (b)–(d), with every winning row, tombstones included,
    counted as an appended row:

    - a rewritten bucket is one union of its stored rows with the
      incoming ones and one ``max_by`` over (order tuple, incoming
      priority) per key;
    - an appended bucket gets the incoming rows that outrank (or tie)
      the stored row of their key, plus the positions of the stored rows
      they replace. One join of the incoming rows with the appending
      buckets' stored order tuples, persisted (it is net-sized), feeds
      both the positions and the write. As in the plain merge, a bucket
      whose share of the batch's rows already fails rule (c) is
      rewritten without that join.

    Layout persistence, ``rebucket``, ``compact``, ``gc`` and the change
    feed are the plain layout's; ``_read_full`` carries order tuples and
    tombstones forward verbatim."""

    FAMILY = "ordered_bucketed_cow"

    def __init__(
        self,
        store_dir: str,
        spec: TableSpec = TRANSCRIPTS,
        buckets: int = 64,
        bucket_cols: tuple | None = None,
        order_cols: tuple[str, ...] = ("gtid_seq", "pos", "row_in_event"),
    ):
        super().__init__(store_dir, spec, buckets, bucket_cols)
        self.order_cols = list(order_cols)

    def _ord_names(self) -> list[str]:
        return [f"_ord_{c}" for c in self.order_cols]

    def _adds(self):
        """Every net row: a winning delete is stored as a tombstone."""
        return F.lit(True)

    def _stored_schema(self) -> T.StructType:
        """The spec columns plus the order tuple (longs; NULL in a file
        that predates them) and the tombstone flag. A base compacted by
        the retired ordered merge-on-read layout flags its tombstones as
        ``_op = 'delete'`` instead."""
        schema = super()._stored_schema()
        for o in self._ord_names():
            schema = schema.add(o, T.LongType())
        return schema.add("_deleted", T.BooleanType()).add("_op", T.StringType())

    def _incoming(self, net: DataFrame) -> DataFrame:
        """Net change rows in stored form: key and value columns cast to
        the spec, the order tuple as longs, ``_deleted`` for a delete."""
        spec = self.spec
        keys = list(spec.primary_key)
        return net.select(
            *[F.col(k).cast(d).alias(k) for k, d, _ in spec.columns if k in keys],
            *[
                F.col(f"after_{c}").cast(d).alias(c)
                for c, d, _ in spec.columns
                if c not in keys
            ],
            *[
                F.col(c).cast("long").alias(o)
                for c, o in zip(self.order_cols, self._ord_names())
            ],
            (F.col("op") == "delete").alias("_deleted"),
        )

    def read_with_order(
        self, spark: SparkSession, version: int, bucket_ids=None
    ) -> DataFrame:
        """Full stored form (spec columns + order tuple + tombstone flag),
        manifest-pruned to ``bucket_ids`` like ``read``."""
        manifest = self._pruned_manifest(version, bucket_ids)
        return self._scan_live(spark, manifest.values()).select(
            *[n for n, _, _ in self.spec.columns],
            *self._ord_names(),
            # a file written before the flag holds live rows only
            F.coalesce(
                F.col("_deleted"), F.col("_op") == "delete", F.lit(False)
            ).alias("_deleted"),
        )

    def read(self, spark: SparkSession, version: int, bucket_ids=None) -> DataFrame:
        return (
            self.read_with_order(spark, version, bucket_ids)
            .filter(~F.col("_deleted"))
            .select(*[n for n, _, _ in self.spec.columns])
        )

    def _read_full(
        self, spark: SparkSession, version: int, bucket_ids=None
    ) -> DataFrame:
        return self.read_with_order(spark, version, bucket_ids)

    def merge_partial(self, spark, net, current_version):
        raise ValueError(
            "MINIMAL row images need whole-row state the outrank guard "
            "cannot reconstruct per column; use the batch path "
            "(Replayer(row_image='minimal')) for MINIMAL streams"
        )

    def merge(self, spark: SparkSession, net: DataFrame, current_version: int) -> int:
        """``net`` must carry key cols + ``op`` + ``after_<col>`` + the
        order columns. Winner per key = max over (order tuple, incoming
        priority); a winning delete leaves a tombstone."""
        self._adopt_layout(current_version)
        keys = list(self.spec.primary_key)
        ords = self._ord_names()
        stored_cols = [*[n for n, _, _ in self.spec.columns], *ords, "_deleted"]
        net = net.persist()  # touched buckets, the join and the write read it
        joined = None
        try:
            touched, adds = self._bucket_counts(net)
            incoming = self._incoming(net)
            # pre-check on the per-bucket estimate, as the plain merge
            # does: a batch too large to append skips the join
            chains = self._append_candidates(
                touched, current_version, adds / max(1, len(touched))
            )
            appended: dict = {}
            rows = None
            if chains:
                joined = self._outranking(spark, incoming, chains)
                appended = self._appending(joined.filter("_wins"), chains)
            if appended:
                rows = joined.filter(
                    self._bucket_expr().isin(list(appended)) & F.col("_wins")
                ).select(*stored_cols)
            rewrite = sorted(set(touched) - set(appended))
            if rewrite or rows is None:
                stored = self.read_with_order(spark, current_version, set(rewrite))
                rank = F.struct(*[F.col(o) for o in ords], F.col("_prio"))
                payload = F.struct(*[F.col(c) for c in stored_cols if c not in keys])
                winners = (
                    stored.withColumn("_prio", F.lit(0))
                    .unionByName(
                        incoming.filter(self._bucket_expr().isin(rewrite))
                        .withColumn("_prio", F.lit(1))
                    )
                    .groupBy(*keys)
                    .agg(F.max_by(payload, rank).alias("_win"))
                    .select(*keys, "_win.*")
                    .select(*stored_cols)
                )
                rows = winners if rows is None else rows.unionByName(winners)
            return self._commit_buckets(
                rows, touched, current_version, appended=appended
            )
        finally:
            if joined is not None:
                joined.unpersist()
            net.unpersist()

    def _outranking(
        self, spark: SparkSession, incoming: DataFrame, chains: dict
    ) -> DataFrame:
        """The incoming rows of the ``chains``' buckets joined, once, with
        the live stored row of their key: its order tuple, ``_file`` and
        ``_row``. ``_wins`` marks a row that outranks or ties its stored
        row, or has none. Persisted (net-sized): the positions job and
        the write both read it."""
        keys = list(self.spec.primary_key)
        ords = self._ord_names()
        stored = self._scan_live(spark, chains.values()).select(
            *keys,
            *[F.col(o).alias(f"_s{o}") for o in ords],
            _file_col().alias("_file"),
            F.col("_metadata.row_index").alias("_row"),
        )
        wins = F.col("_file").isNull() | (
            F.struct(*[F.col(o) for o in ords])
            >= F.struct(*[F.col(f"_s{o}") for o in ords])
        )
        return (
            incoming.filter(self._bucket_expr().isin(list(chains)))
            .join(stored, on=keys, how="left")
            .withColumn("_wins", wins)
            .persist()
        )

    def prune_tombstones(
        self, spark: SparkSession, current_version: int, min_live_order: int
    ) -> int:
        """GC: drop tombstones whose leading order value (gtid_seq) is
        below ``min_live_order`` — the caller's low-watermark of possible
        redelivery (e.g. the decode tier's checkpointed GTID floor: no
        event ordered below it can ever arrive again, so its tombstone
        can never be outranked into relevance). Commits a full rewrite
        (every bucket fresh, old entries dropped) — a maintenance op,
        amortized like ``rebucket`` — and returns its version.

        Tombstones with a NULL leading order value (gtid-less streams)
        carry no watermark to compare against, so they are always kept —
        dropping them would let a redelivered old insert resurrect the
        row. GC for such streams needs an order column that is never
        NULL (e.g. pos)."""
        self._adopt_layout(current_version)
        df = self.read_with_order(spark, current_version)
        lead = self._ord_names()[0]
        kept = df.filter(
            (~F.col("_deleted"))
            | F.col(lead).isNull()
            | (F.col(lead) >= F.lit(min_live_order))
        )
        return self._commit_buckets(
            kept, list(range(self.buckets)), current_version, carry_over=False
        )


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is usable on this session."""
    try:
        jvm_check = spark.conf.get("spark.sql.catalog.cdc", None)
        if jvm_check is None:
            return False
        spark.sql("SELECT 1").collect()
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class IcebergMergeTarget:
    """Real Iceberg ``MERGE INTO`` sink (used when a catalog is configured).

    Table is identified by ``<catalog>.<db>.<table>``; schema evolution is
    ``ALTER TABLE ... ADD COLUMN`` driven by TABLE_MAP column_names
    (SURVEY.md §4 item 3). Version numbers map to Iceberg snapshot ids.
    """

    def __init__(self, identifier: str, spec: TableSpec = TRANSCRIPTS):
        self.identifier = identifier
        self.spec = spec

    def ensure_table(self, spark: SparkSession) -> None:
        cols = ", ".join(f"{n} {d}" for n, d, _ in self.spec.columns)
        keys = ", ".join(self.spec.primary_key)
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.identifier} ({cols}) "
            f"USING iceberg PARTITIONED BY (bucket(64, {self.spec.primary_key[0]}))"
        )
        _ = keys

    def ensure_columns(self, spark: SparkSession, column_names: list[str]) -> None:
        existing = {f.name for f in spark.table(self.identifier).schema.fields}
        for name, ddl, _ in self.spec.columns:
            if name in column_names and name not in existing:
                spark.sql(f"ALTER TABLE {self.identifier} ADD COLUMN {name} {ddl}")

    def read(self, spark: SparkSession, version: int = -1) -> DataFrame:
        return spark.table(self.identifier)

    def merge(self, spark: SparkSession, net: DataFrame, current_version: int = -1) -> int:
        spec = self.spec
        keys = list(spec.primary_key)
        net.createOrReplaceTempView("_cdc_net")
        on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        set_cols = ", ".join(f"t.{n} = s.after_{n}" for n, _, _ in spec.columns if n not in keys)
        ins_cols = ", ".join(n for n, _, _ in spec.columns)
        ins_vals = ", ".join(
            (n if n in keys else f"after_{n}") for n, _, _ in spec.columns
        )
        spark.sql(
            f"""
            MERGE INTO {self.identifier} t
            USING _cdc_net s
            ON {on}
            WHEN MATCHED AND s.op = 'delete' THEN DELETE
            WHEN MATCHED THEN UPDATE SET {set_cols}
            WHEN NOT MATCHED AND s.op != 'delete' THEN INSERT ({ins_cols}) VALUES ({ins_vals})
            """
        )
        return current_version + 1

    def truncate(self, spark: SparkSession, current_version: int = -1) -> int:
        """TRUNCATE TABLE fence: Iceberg's row-level DELETE compiles to a
        metadata delete when it covers every file (no rewrite), matching
        the bucketed target's empty-manifest commit."""
        spark.sql(f"DELETE FROM {self.identifier}")
        return current_version + 1

    def merge_partial(self, spark: SparkSession, net: DataFrame, current_version: int = -1) -> int:
        """MERGE for partial-image (MINIMAL) net changes: each UPDATE SET
        clause takes ``s.after_<c>`` only when the column's
        ``carried_mask`` bit is set, keeping ``t.<c>`` otherwise — the SQL
        form of ``BucketedParquetMergeTarget.merge_partial``'s per-column apply.
        ``net`` comes from ``order.last_writer_wins_partial``."""
        spec = self.spec
        keys = list(spec.primary_key)
        net.createOrReplaceTempView("_cdc_net")
        on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        set_cols = ", ".join(
            f"t.{n} = CASE WHEN (s.carried_mask >> {ci}) & 1 = 1 "
            f"THEN s.after_{n} ELSE t.{n} END"
            for ci, (n, _, _) in enumerate(spec.columns)
            if n not in keys
        )
        ins_cols = ", ".join(n for n, _, _ in spec.columns)
        ins_vals = ", ".join(
            (n if n in keys else f"after_{n}") for n, _, _ in spec.columns
        )
        spark.sql(
            f"""
            MERGE INTO {self.identifier} t
            USING _cdc_net s
            ON {on}
            WHEN MATCHED AND s.op = 'delete' THEN DELETE
            WHEN MATCHED THEN UPDATE SET {set_cols}
            WHEN NOT MATCHED AND s.op != 'delete' THEN INSERT ({ins_cols}) VALUES ({ins_vals})
            """
        )
        return current_version + 1


def load_target_family(store_dir: str) -> str | None:
    """The target family stamped at the store's last commit
    (``target_family.json``), or None for stores written before family
    stamping existed."""
    p = os.path.join(store_dir, "target_family.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f).get("family")


def target_class_for_family(family: str):
    """Dispatch a stamped family back to its target class. The retired
    unbucketed families (``cow``, ``ordered_cow``) open through the
    bucketed classes, which read their snapshots as one bucket; the
    retired merge-on-read families (``mor``, ``ordered_mor``) too, whose
    compacted buckets read as plain dirs (``_retired_entry``). Raises
    KeyError for an unknown stamp — opening a store through a guessed
    loader is exactly the failure the stamp exists to prevent."""
    return {
        "cow": BucketedParquetMergeTarget,
        "bucketed_cow": BucketedParquetMergeTarget,
        "mor": BucketedParquetMergeTarget,
        "ordered_cow": OrderedBucketedMergeTarget,
        "ordered_bucketed_cow": OrderedBucketedMergeTarget,
        "ordered_mor": OrderedBucketedMergeTarget,
    }[family]


def _sniff_family(store_dir: str, version: int) -> str:
    """Family of an unstamped store, from its snapshot at ``version``:
    ``_ord_*`` columns in a referenced parquet file mean the ordered form,
    anything else the plain one."""
    import glob

    import pyarrow.parquet as pq

    entries = list(_read_manifest(store_dir, version).values())
    rels = [r for e in entries for r in _entry_dirs(e)]
    ordered = False
    for rel in rels:
        files = glob.glob(os.path.join(store_dir, rel, "*.parquet"))
        if files:
            names = pq.read_schema(files[0]).names
            ordered = any(n.startswith("_ord_") for n in names)
            break
    return "ordered_bucketed_cow" if ordered else "bucketed_cow"


def open_store(store_dir: str, spec: TableSpec = TRANSCRIPTS):
    """Open an existing store as the target that wrote it: a stamped store
    dispatches on its ``target_family.json``; an unstamped one (written
    before stamping) on one sniff of its newest committed snapshot.
    Returns None for a fresh store — no stamp and no committed snapshot —
    so each caller keeps its own fresh-store default."""
    family = load_target_family(store_dir)
    if family is None:
        version = latest_committed_version(store_dir)
        if version == 0:
            return None
        family = _sniff_family(store_dir, version)
    return target_class_for_family(family)(store_dir, spec)
