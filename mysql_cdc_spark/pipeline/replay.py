"""Micro-batch replay driver (E3 lifecycle in SURVEY.md §3) — exactly-once,
resumable, metered.

One micro-batch::

    list segment files (bounded by ledger position)          ST3
      → decode_binlog_dir (mapInArrow, one task per core)    E1 semantics
        keeps committed rows (xid NOT NULL)                  ST2
        of GTIDs the ledger does not cover                   ST5 idempotence
        after the resume (file, pos): SegmentStats.applied   ST3
      → apply.py, the path every writer shares:
        net change per key: salted last-writer-wins          W1 + skew
        target MERGE (Iceberg or parquet snapshot)           S7
        ledger append (gtid set ∪, offsets, lineage, rates)  S6/ST1

The ledger append is the atomicity point: crash anywhere before it and the
batch replays with identical results (deterministic total order ⇒ idempotent
MERGE). ``resume_from_checkpoint`` is therefore just "construct Replayer on
the same store_dir".
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..binlog.decoder import (
    TRANSCRIPTS,
    SegmentStats,
    TableSpec,
    decode_binlog_dir,
)
from ..gtid import GtidSet, Gtid, Uuid
from . import apply
from .ledger import Ledger, LedgerEntry
from .order import ORDER_COLS, gate_complete_transactions, with_change_key
from .target import (
    BucketedParquetMergeTarget,
    delete_net,
    diff_net,
    insert_net,
    open_store,
)


def _after_position_predicate(max_file: str, max_pos: int):
    """Spark predicate for (src_file, pos) strictly after the checkpoint,
    ordering files by (prefix, numeric suffix) like ``_segment_sort_key``
    so digit growth (mysql-bin.999999 → mysql-bin.1000000) compares
    correctly. Suffix-less names fall back to whole-name comparison with
    suffix rank -1 (same total order as the driver-side sort key)."""
    from ..binlog.decoder import _segment_sort_key

    max_prefix, max_num = _segment_sort_key(max_file)
    sfx = F.regexp_extract(F.col("src_file"), r"^(.*)\.(\d+)$", 2)
    has_sfx = sfx != F.lit("")
    prefix = F.when(
        has_sfx, F.regexp_extract(F.col("src_file"), r"^(.*)\.(\d+)$", 1)
    ).otherwise(F.col("src_file"))
    num = F.when(has_sfx, sfx.cast("long")).otherwise(F.lit(-1))
    return (
        (prefix > F.lit(max_prefix))
        | (
            (prefix == F.lit(max_prefix))
            & (
                (num > F.lit(max_num))
                | ((num == F.lit(max_num)) & (F.col("pos") > F.lit(max_pos)))
            )
        )
    )


@dataclass
class BatchMetrics:
    batch_id: int
    files: list[str]
    events: int
    net_rows: int
    seconds: float
    events_per_sec: float
    gtid_set_text: str
    lineage: list = field(default_factory=list)


@dataclass
class ReplayResult:
    batches: list[BatchMetrics] = field(default_factory=list)

    @property
    def events(self) -> int:
        return sum(b.events for b in self.batches)

    @property
    def seconds(self) -> float:
        return sum(b.seconds for b in self.batches)

    @property
    def events_per_sec(self) -> float:
        return self.events / self.seconds if self.seconds else 0.0


class Replayer:
    def __init__(
        self,
        spark: SparkSession,
        binlog_dir: str,
        store_dir: str,
        spec: TableSpec = TRANSCRIPTS,
        salt_buckets: int = 0,
        target: object | None = None,
        start: object | None = None,
        row_image: str = "full",
        views: list | None = None,
        discover_ddl: bool = False,
        order_cols: list[str] | None = None,
        history: object | None = None,
        xa: str = "local",
        gc_keep: int | None = None,
        ignore_server_ids: tuple[int, ...] = (),
        column_transforms: dict[str, str] | None = None,
        on_decode_error: str = "fail",
        audit: object | None = None,
        auto_compact: int | None = None,
    ):
        """``start``: optional start strategy (pipeline.start: FromStart /
        FromEnd / FromPosition / FromGtid — ST3, binlog_options.rs:33-85);
        seeds the ledger on first construction, ignored when the store
        already has checkpoints (reconnect keeps state,
        binlog_client.rs:40-43).

        ``row_image``: ``"full"`` (default) applies whole after-images
        per key (binlog_row_image=FULL, the standard CDC configuration);
        ``"minimal"`` switches to per-COLUMN last-writer-wins + carried-
        column merge so MINIMAL streams (updates carry only PK + changed
        columns) apply without nulling untouched columns.

        ``salt_buckets=0`` (default): plain ``max_by`` aggregation — its
        map-side partial combine already collapses a hot key to one row per
        task before the shuffle, which measured ~2× faster than the salted
        two-phase reduce on the skewed bench corpus (BENCH.md). Set
        ``salt_buckets>1`` for aggregations without combine support or for
        pathological single-key streams; the MERGE join side is covered by
        AQE skew-join splitting (session.py).

        ``views``: optional ``ivm.MaterializedAggView`` list, refreshed
        after every committed batch (delta-fold from the change feed —
        O(changed rows), see pipeline/ivm.py). View refresh happens AFTER
        the ledger append: a crash between the two leaves the view one
        batch stale, and the next refresh folds both batches — same
        result, because the fold is associative over the diff range.

        ``order_cols``: override of the total order used for LWW dedup
        (default ``order.ORDER_COLS`` = (gtid_seq, pos, row_in_event)).
        Cross-source ``gtid_seq`` values are not mutually ordered, so a
        multi-writer deployment where several gtid sources update the
        SAME keys should lead with an application timestamp, e.g.
        ``["after_ts", "gtid_seq", "pos", "row_in_event"]`` — any column
        of the decoded change rows (meta cols or ``after_<col>``)
        qualifies. Resume filtering (GTID anti-join + position predicate)
        is unaffected: it is per-source and keyed on identity, not order.
        ``bootstrap`` currently seeds order tuple 0 for the default
        order columns only.

        ``history``: optional ``scd2.Scd2HistoryStore`` — every committed
        batch also extends an SCD Type-2 history table (incremental
        MERGE: the batch's first event per key closes the stored current
        row; versions continue from the stored per-key max). Applied
        BEFORE the ledger append and idempotent under batch replay, so a
        crash between the two re-applies as a no-op. Requires
        ``row_image="full"`` (MINIMAL images carry only changed columns;
        a faithful history needs whole rows).

        ``gc_keep``: snapshot retention — after every committed batch,
        drop snapshot versions that are neither among the newest
        ``gc_keep`` nor referenced by a kept manifest (``target.gc``).
        Default None keeps everything (full time travel). A steady-state
        tail job commits one version per batch forever, so an unbounded
        store is the scale killer this bounds: with the bucketed CoW
        target, retained bytes become O(live table + gc_keep × touched
        buckets) instead of O(batches). Minimum 2 (change-feed folds
        read consecutive manifests); minimum 3 with ``views`` (a crash
        between ledger append and view refresh leaves the view one batch
        stale, and its recovery fold spans two versions back). Bounds
        ``read_changes``/``snapshot_diff`` time travel to what is kept.

        ``xa``: XA (two-phase) transaction handling (binlog/xa.py).
        ``"local"`` (default, zero cost): prepares resolve against
        XA COMMIT/ROLLBACK verdicts *within the same segment*; a verdict
        in a later file leaves the prepare pending (rows held back, GTID
        uncovered). ``"batch"`` adds a cheap header-walk pre-scan over the
        batch's files: verdicts resolve across files, and any prepare
        still unresolved at batch end records an **XA floor** in the
        ledger — the next batch rewinds to it (covered transactions
        drop via the GTID anti-join) and applies the transaction once its
        verdict arrives, however many batches later. Streams without XA
        pay one C-level substring scan per segment.

        ``ignore_server_ids``: the circular-replication guard — MySQL's
        ``IGNORE_SERVER_IDS``/``replicate-same-server-id=0`` semantics. In
        a multi-primary ring every relay re-logs foreign writes under the
        ORIGINATING server's header id; a consumer tailing its own relay
        must skip events that originated on servers it already consumes
        directly, or rows apply twice (or loop forever). Change rows whose
        header ``server_id`` is listed are dropped AFTER decode and the
        transaction gate but BEFORE dedup/merge; positions and the GTID
        ledger still advance over them (skip-and-advance, exactly like a
        replica's SQL thread discarding an event after the IO thread
        stored it) — so resume never re-reads skipped ranges. The
        changelog streaming tier takes the same filter
        (``stream_apply(ignore_server_ids=...)``).

        ``column_transforms``: ingest-time column rewrites — ``{column:
        SQL expression over the spec's column names}``, applied to every
        change row's after-image between decode and dedup/merge (e.g.
        ``{"text": "regexp_replace(text, '[0-9]', '#')"}`` for in-flight
        PII/number masking of a training-data ingest: raw values never
        reach the lake, its snapshots, change feed, or SCD2 history).
        Expressions must be deterministic, per-row, and NULL-preserving
        (a delete's absent after-image must stay NULL), and must not
        touch primary-key columns — key rewrites would break dedup and
        bucket placement; use a downstream view for those. Because the
        rewrite is per-row and key-stable it commutes with last-writer-
        wins, so the final table equals "replay then transform" exactly
        (pinned by the ``cdc_replay_redacted_e2e`` oracle)."""
        self.spark = spark
        self.binlog_dir = binlog_dir
        self.store_dir = store_dir
        if discover_ddl:
            # binlog_row_metadata=MINIMAL streams: TABLE_MAP has no column
            # names, so additive evolution is discovered from ALTER TABLE
            # QUERY events instead (binlog/ddl.py). ``spec`` is the base
            # (pre-evolution) schema in the table's physical column order.
            from ..binlog.ddl import discover_spec

            spec = discover_spec(spark, binlog_dir, spec)
        self.spec = spec
        self.salt_buckets = salt_buckets
        self.row_image = row_image
        self.ignore_server_ids = tuple(int(s) for s in ignore_server_ids)
        # dead-letter policy (Debezium event.processing.failure.handling.
        # mode analog). 'fail' (default) stops the batch on any undecodable
        # event — byte-exact parity with the reference. 'quarantine' skips
        # undecodable ROW events: their (file, pos, gtid, error) records
        # land under <store>/quarantine/ (read_quarantine()), the rest of
        # the stream — including the rest of the same transaction — still
        # applies, and the ledger advances past them, so one poisoned
        # event at 10^10 can't wedge the pipeline. Structural events
        # (FDE/TABLE_MAP/GTID/QUERY/XID) always fail: a corrupt one would
        # mis-decode everything after it. Re-drive after an upstream fix:
        # the record's exact position + flashback/chunk re-sync.
        if on_decode_error not in ("fail", "quarantine"):
            raise ValueError(
                f"on_decode_error must be 'fail' or 'quarantine': "
                f"{on_decode_error}"
            )
        self.on_decode_error = on_decode_error
        self.quarantine_dir = (
            os.path.join(store_dir, "quarantine")
            if on_decode_error == "quarantine"
            else None
        )
        self.column_transforms = apply.check_transforms(spec, column_transforms)
        self.ledger = Ledger(store_dir)
        self._stats_acc = SegmentStats.accumulator(spark)  # one per Replayer
        self._planned_sizes: dict[str, int] = {}  # last commit's file sizes
        # Default sink (see _detect_target): an existing store reopens
        # through the target that wrote it; a fresh one gets the
        # bucket-pruned copy-on-write target, whose per-batch IO is
        # O(touched-bucket data), not O(table).
        self.target = target or self._detect_target(store_dir, spec, spark)
        self.views = list(views) if views else []
        self.order_cols = list(order_cols) if order_cols else list(ORDER_COLS)
        if history is not None and row_image == "minimal":
            raise ValueError(
                "history sink requires row_image='full': MINIMAL images "
                "carry only changed columns, so batch history rows would "
                "hold NULLs for untouched columns"
            )
        self.history = history
        if gc_keep is not None:
            floor = 3 if self.views else 2
            if gc_keep < floor:
                raise ValueError(
                    f"gc_keep must be >= {floor}"
                    + (" when views are maintained (crash-recovery folds"
                       " span two versions back)" if self.views else
                       " (change-feed folds read consecutive manifests)")
                )
        self.gc_keep = gc_keep
        if xa not in ("local", "batch"):
            raise ValueError("xa must be 'local' or 'batch'")
        self.xa = xa
        # Write-audit-publish (pipeline/audit.py): data-quality checks run
        # against the STAGED snapshot after the merge writes it and before
        # the ledger append publishes it — Iceberg's WAP window, which this
        # store's write/publish split exposes naturally. A rejection
        # unlinks the staged version(s) and raises; nothing becomes
        # readable state. Requires a snapshot target (something with an
        # unpublished version to unlink) — a sink that commits internally
        # has no WAP window here; use its own branch/WAP mechanism.
        if audit is not None:
            from .audit import require_snapshot_target

            require_snapshot_target(self.target)
        self.audit = audit
        # auto_compact: for merge-on-read targets, fold any bucket whose
        # delta chain reached this length after each batch — bounds read
        # amplification without an external maintenance scheduler; each
        # fold is the ledger-coordinated zero-event batch compact() runs.
        # DEFAULT for MoR targets: DEFAULT_AUTO_COMPACT (mor.py) — an
        # unmaintained store's fold cost grows linearly with chain length
        # (BENCH.md), so bounding it is opt-OUT
        # (auto_compact=0), not opt-in.
        from .mor import auto_compact_policy

        self.auto_compact = auto_compact_policy(self.target, auto_compact)
        if start is not None:
            from .start import seed_ledger

            seed_ledger(start, binlog_dir, store_dir)

    @staticmethod
    def _detect_target(store_dir: str, spec, spark):
        """Default sink when no ``target=`` is given. An EXISTING store
        reopens through the target family that wrote it
        (``target.open_store``): a resume must never read a store through
        the wrong loader. A fresh store gets the bucket-pruned
        copy-on-write target. Its bucket count tracks cluster parallelism
        (the output committer's driver-side file moves are a serial cost
        per bucket, so a 2-core session shouldn't pay for 32 output dirs)
        with a floor that keeps pruning meaningful."""
        target = open_store(store_dir, spec)
        if target is None:
            target = BucketedParquetMergeTarget(
                store_dir, spec,
                buckets=max(16, spark.sparkContext.defaultParallelism),
            )
        return target

    # -- planning ----------------------------------------------------------

    def pending_files(self) -> list[str]:
        """Coarse file-level resume prune (fine-grained dedup is the GTID
        anti-join + the position predicate). A file is pending unless a
        ledger entry already covers a strictly later file. Ordering and
        comparison use the numeric segment suffix — lexicographic breaks
        when binlog numbering grows a digit (mysql-bin.999999 →
        mysql-bin.1000000)."""
        from ..binlog.decoder import _segment_sort_key, list_dir_entries

        max_file, _ = self.ledger.resume_position()
        names = sorted(list_dir_entries(self.binlog_dir), key=_segment_sort_key)
        if not max_file:
            return names
        max_key = _segment_sort_key(max_file)
        return [n for n in names if _segment_sort_key(n) >= max_key]

    # -- snapshot bootstrap --------------------------------------------------

    def bootstrap(self, base_df: DataFrame, at: object) -> int:
        """Snapshot-then-stream bootstrap (beyond-reference: the reference
        starts mid-stream and leaves the initial load to the user; real CDC
        deployments almost always seed from a consistent snapshot first).

        Seeds the target with ``base_df`` — a spec-shaped base-table
        snapshot transactionally consistent with the source position ``at``
        (``FromPosition`` / ``FromGtid`` / ``FromEnd``, the same contract as
        a snapshot-at-GTID replica dump) — and writes the batch-0 ledger
        entry carrying that position. Returns the snapshot version.

        A subsequent ``replay()`` applies only changes after ``at``: the
        position predicate and GTID anti-join skip covered events, and any
        overlap delivered anyway re-applies idempotently (by value for
        snapshot targets; for ordered targets the bootstrap rows carry
        order tuple 0 so any real event outranks them).

        Scale: the snapshot write is one key-partitioned shuffle of the
        base table — the same plan as a MERGE whose net side is the whole
        table; at cluster scale run it once per deployment.
        """
        if self.ledger.last() is not None:
            raise ValueError(
                "bootstrap requires a fresh store: the ledger already has "
                "entries (a bootstrapped or running job keeps its state)"
            )
        from .start import covered_gtids_until, start_state

        gtid_text, max_file, max_pos = start_state(at, self.binlog_dir)
        if not gtid_text and max_file:
            # FromPosition carries no GTID state, but the position predicate
            # alone cannot drop a redelivered old transaction that reappears
            # at a LATER position — full replay drops it via the GTID
            # anti-join, so the bootstrap seed must cover the committed
            # GTIDs the snapshot embodies (header-only bounded scan).
            gtid_text = covered_gtids_until(self.binlog_dir, max_file, max_pos)
        rows = base_df.count()
        version = self.target.merge(
            self.spark, insert_net(base_df, self.spec),
            self.ledger.current_snapshot_version(),
        )
        apply.commit(
            self,
            LedgerEntry(
                batch_id=0,
                gtid_set_text=gtid_text,
                max_file=max_file,
                max_pos=int(max_pos),
                snapshot_version=version,
                committed_at=Ledger.now(),
                partition_lineage=[],
                metrics={
                    "bootstrap_rows": rows,
                    "start_strategy": type(at).__name__,
                },
            ),
        )
        return version

    # -- incremental (chunked, concurrent) snapshot --------------------------

    def backfill_watermark(self) -> int:
        """Low watermark for an incremental-snapshot chunk: the last
        committed batch id. Record this BEFORE reading the chunk from the
        source table (see ``snapshot_chunk`` for the full protocol)."""
        last = self.ledger.last()
        if last is None:
            raise ValueError(
                "incremental snapshot backfills a LIVE store; use "
                "bootstrap() to seed a fresh one"
            )
        return last.batch_id

    def completed_chunks(self) -> set:
        """Chunk ids already committed by ``snapshot_chunk`` — the resume
        bookkeeping: a crashed backfill skips these and re-runs the rest."""
        return {
            e.metrics["backfill_chunk"]
            for e in self.ledger.entries()
            if e.metrics and "backfill_chunk" in e.metrics
        }

    def _window_touched_keys(self, since_batch_id: int) -> DataFrame:
        """Keys changed by events that APPLIED in batches after
        ``since_batch_id`` — the DBLog dedup window. Recomputed from the
        binlog bytes (keys-only decode over the window's segment files)
        rather than the state diff, because a delete of a key the store
        never held leaves no trace in the change feed yet MUST void that
        key's backfill row (resurrection guard). The decode tasks apply
        ``run_batch``'s rule *as of the low watermark* (``SegmentStats``
        over the covered GtidSet and position of batch ``since_batch_id``);
        foreign server ids and positions after the high watermark are
        dropped here — so "touched" is precisely "applied"."""
        from ..binlog.decoder import _segment_sort_key, list_dir_entries

        spec = self.spec
        keys = list(spec.primary_key)
        low = self._entry(since_batch_id)
        high_file, high_pos = self.ledger.max_position()
        # every entry records the cumulative covered set
        covered_low = (
            GtidSet.parse(low.gtid_set_text) if low.gtid_set_text else GtidSet()
        )

        names = sorted(list_dir_entries(self.binlog_dir), key=_segment_sort_key)
        lo_k = _segment_sort_key(low.max_file) if low.max_file else None
        hi_k = _segment_sort_key(high_file)
        window_files = [
            n for n in names
            if (lo_k is None or _segment_sort_key(n) >= lo_k)
            and _segment_sort_key(n) <= hi_k
        ]
        if not window_files:
            return self.spark.createDataFrame(
                [], ", ".join(f"{k} {d}" for k, d, _ in spec.columns
                              if k in keys)
            )
        ev = self._decode(
            window_files, self._xa_scan_job(window_files),
            SegmentStats(
                self._stats_acc, covered_low.to_intervals(),
                low.max_file, int(low.max_pos),
            ),
        )
        ev = ev.filter(
            ~_after_position_predicate(high_file, int(high_pos))
        )
        return with_change_key(ev, keys).select(*keys).distinct()

    def snapshot_chunk(
        self, chunk_df: DataFrame, since_batch_id: int, chunk_id: object = None
    ) -> int:
        """Apply one incremental-snapshot chunk — the DBLog / Debezium
        incremental-snapshot algorithm (beyond-reference: backfill a
        table's pre-existing rows WITHOUT pausing the change stream; the
        reference, like most binlog clients, can only start mid-stream and
        lose history or block on a full dump first).

        Protocol per chunk::

            low = rep.backfill_watermark()      # 1. low watermark
            chunk = <SELECT chunk FROM source>  # 2. consistent chunk read
            rep.replay()                        # 3. consume PAST the read
            rep.snapshot_chunk(chunk, low)      # 4. dedup + merge

        Step 3 is the high watermark: every source transaction that could
        have affected the chunk read must be consumed before the chunk
        applies. The chunk row for a key then survives only if the key is
        (a) absent from the store and (b) untouched by any event that
        applied in the (low, high] window — (b) is what makes a
        mid-window DELETE void the row instead of being resurrected, and
        window events themselves carry the newer image, so a surviving
        chunk row can never mask a change (rows merge at order tuple 0:
        any real event outranks them, same contract as ``bootstrap``).

        Each chunk commits as its own ledger entry (idempotent MERGE +
        append, the store's normal atomicity point) tagged with
        ``chunk_id``, so a crashed backfill resumes via
        ``completed_chunks``. Scale: the touched-key scan is a keys-only
        decode of just the window's segments (the cheap decode form), the
        two anti-joins are key-partitioned, and the MERGE is the normal
        bucket-pruned sink — a chunk costs one small batch, and chunks
        can be sized to keep the window (and its scan) short.

        Caveats (documented, conservative): with MINIMAL row images a
        window-touched key whose history predates the seed backfills only
        the columns the window events carried; an XA transaction still
        pending at apply time voids its keys' rows for this pass (re-run
        the chunk after the verdict lands to converge).
        """
        spec = self.spec
        keys = list(spec.primary_key)
        state_keys = self.read_state().select(*keys)
        touched = self._window_touched_keys(since_batch_id)
        survivors = (
            chunk_df.select(
                *[F.col(n).cast(d).alias(n) for n, d, _ in spec.columns]
            )
            .join(state_keys, on=keys, how="left_anti")
            .join(touched, on=keys, how="left_anti")
        )
        net = insert_net(survivors, spec)
        rows = net.count()
        version = self.target.merge(
            self.spark, net, self.ledger.current_snapshot_version()
        )
        return self._commit_maintenance(
            version, {"backfill_chunk": chunk_id, "backfill_rows": rows}
        )

    # -- one micro-batch ----------------------------------------------------

    def _decode(
        self, files: list[str], xa_info, stats=None, on_error=None
    ) -> DataFrame:
        """Change rows of ``files`` under the XA verdicts of ``xa_info``,
        minus foreign server ids."""
        glob = "{" + ",".join(files) + "}" if len(files) > 1 else files[0]
        # before_values="keys": the merge pipeline reads only keys + after
        # images (apply.prepare drops before_* right after keying), so the
        # decoder skips the non-key before-image value builds — column
        # pruning pushed into the byte decoder
        changes = decode_binlog_dir(
            self.spark, self.binlog_dir, self.spec, path_filter=glob,
            before_values="keys",
            xa_outcomes=(xa_info or {}).get("verdicts") or None,
            on_error=on_error or self.on_decode_error,
            quarantine_dir=self.quarantine_dir, stats=stats,
        )
        if self.ignore_server_ids:
            # circular-replication guard (see __init__): drop foreign-
            # origin rows after decode; the decode stats still count
            # them, so positions and GTID coverage advance over them
            changes = changes.filter(
                ~F.col("server_id").isin(list(self.ignore_server_ids))
            )
        return changes

    def run_batch(self, files: list[str]) -> BatchMetrics:
        spark = self.spark
        spec = self.spec
        t0 = time.time()
        batch_id = self.ledger.next_batch_id()
        # planning-time sizes, taken before decode: replay() skips the last
        # committed file only while its size still matches, so a segment
        # that grows while it is read is read again. They replace
        # self._planned_sizes only once the batch commits: a batch that
        # raises must leave replay() comparing against the last COMMITTED
        # read, or a retry would skip a grown file it never applied
        planned = {n: self._file_size(n) for n in files}

        # XA pre-scan (xa="batch"): cross-file verdict map broadcast into
        # the decode + the pending floor for the ledger
        xa_info = self._xa_scan_job(files)
        covered = self.ledger.covered_gtid_set()
        max_file, max_pos = self.ledger.resume_position()
        # the decode tasks yield only the rows this batch applies (the xid
        # gate, the covered GTIDs and the resume position, see
        # SegmentStats.applied) and report their ledger facts (counts,
        # GTID islands, positions, fences): no second pass over the bytes
        seg_stats = SegmentStats(
            self._stats_acc, covered.to_intervals(), max_file, max_pos
        )
        changes = apply.prepare(
            self._decode(files, xa_info, seg_stats), spec,
            self.column_transforms, self.row_image,
        )

        phase_t = {}
        current_version = self.ledger.current_snapshot_version()
        # audit and history read the changes again after the merge: cache
        # them for those two, so the one decode pass below fills the cache
        # (the default path never caches the event stream)
        if self.audit is not None or self.history is not None:
            changes = changes.persist()
        # -- one decode pass: materializing the cached net change runs
        # every decode task, which fills seg_stats; only once the stats
        # say the batch is non-empty, fence-free and stop-free does the
        # merge read the cached net. Nothing is written before that, so a
        # stop or an empty batch leaves the store untouched.
        net_args = (self.row_image, self.order_cols, self.salt_buckets)
        net = apply.net_change(changes, spec, *net_args)
        if hasattr(self.target, "observe_buckets"):
            # the count below also records the touched buckets, so the
            # merge runs no job of its own to find them
            net = self.target.observe_buckets(net, current_version)
        net = net.persist()
        try:
            t_phase = time.time()
            net_rows = net.count()
            phase_t["decode_lww_s"] = round(time.time() - t_phase, 2)
            stats, markers, open_pos = seg_stats.collect(files)
            # scalar-fallback segments and bytes read, from the same
            # accumulator: no extra Spark action
            decode_facts = seg_stats.decode_facts(files)

            # -- TRUNCATE/DROP/RENAME fences. A truncate clears ALL state
            # logged before it; rows after it rebuild from empty —
            # redelivered fences (gtid already covered) are dropped, so
            # the clear applies exactly once. A DROP or RENAME of the
            # tracked table ends its history: raise (INCIDENT stop
            # policy) — decoding past a re-CREATE against the old spec
            # would silently mis-apply rows.
            from ..binlog.decoder import _segment_sort_key as _seg_key

            fences: list[dict] = []
            stops: list[dict] = []
            for m in markers:
                src, seq = m["gtid_source"], m["gtid_seq"]
                if src is not None and seq is not None and covered.contains(src, seq):
                    continue
                (fences if m["kind"] == "truncate" else stops).append(m)
            if stops:
                from ..binlog.ddl import TrackedTableDropped, TrackedTableRenamed

                d = min(stops, key=lambda f: (_seg_key(f["src_file"]), f["pos"]))
                err_cls = (
                    TrackedTableRenamed if d["kind"] == "rename"
                    else TrackedTableDropped
                )
                raise err_cls(
                    d["src_file"], d["pos"],
                    f"{d['kind'].upper()} involving {spec.database}.{spec.table}",
                )

            base_version = current_version
            if fences:
                # net was computed WITHOUT the fence: clear first
                # (metadata-only on the bucketed target), then apply only
                # events strictly after the LAST fence — anything before
                # it (including between two fences) is dead state.
                # At-least-once delivery can redeliver a PRE-fence
                # transaction at a post-fence position (same batch, so the
                # ledger's covered set can't see it yet): first-delivery-
                # wins (ST5, uuid_set.rs:46-48) says the redelivery is a
                # no-op — it committed before the truncate and was wiped —
                # so post-fence events anti-join away any gtid that also
                # appears pre-fence (null gtids never match a null key, so
                # GTID-less streams pass through unchanged). Truncate
                # batches are rare (a retention job's clear), so the
                # re-decode this costs does not matter at scale.
                fence = max(
                    fences, key=lambda f: (_seg_key(f["src_file"]), f["pos"])
                )
                base_version = self.target.truncate(spark, current_version)
                after_fence = _after_position_predicate(
                    fence["src_file"], fence["pos"]
                )
                pre_gtids = (
                    changes.filter(~after_fence)
                    .select("gtid_source", "gtid_seq")
                    .distinct()
                )
                net.unpersist()
                net = apply.net_change(
                    changes.filter(after_fence).join(
                        pre_gtids, on=["gtid_source", "gtid_seq"], how="left_anti"
                    ),
                    spec, *net_args,
                ).persist()
                net_rows = net.count()
                phase_t["truncate_fences"] = len(fences)
                # fence gtids join the batch's islands: the ledger covers
                # the truncate's own transaction (redelivery idempotence)
                # and the read high-water mark advances past the fence
                # even when no rows survive it
                stats = stats + [
                    {
                        "src_file": f["src_file"],
                        "gtid_source": f["gtid_source"],
                        "events": 1,
                        "min_pos": f["pos"],
                        "max_pos": f["pos"],
                        "starts": [f["gtid_seq"]] if f["gtid_seq"] is not None else [],
                        "ends": [f["gtid_seq"]] if f["gtid_seq"] is not None else [],
                        "max_ts": int(f["ts"] or 0),
                    }
                    for f in fences
                ]

            n_events = sum(r["events"] for r in stats)
            if n_events == 0:
                self._commit_empty_batch(
                    batch_id, files, planned, open_pos, covered, xa_info, t0,
                    decode_facts,
                )
                self._planned_sizes = planned
                return BatchMetrics(
                    batch_id, files, 0, 0, time.time() - t0, 0.0,
                    str(covered), [],
                )
            # rows of ignored server ids count as events but leave net
            # empty: nothing to merge, the batch still advances the ledger
            new_version = apply.publish(
                spark, self.target, net if net_rows else None, current_version,
                base_version=base_version, row_image=self.row_image,
                audit=self.audit, history=self.history, changes=changes,
                batch_id=batch_id, phases=phase_t,
            )
        finally:
            net.unpersist()
            changes.unpersist()

        # -- ledger gtid-set update (driver-side splice of the per-file
        # islands already collected with the stats — no extra job)
        t_phase = time.time()
        batch_set = self._gtid_set_from_islands(stats)
        merged_set = covered.union(batch_set)
        phase_t["ledger_s"] = round(time.time() - t_phase, 2)
        from ..binlog.decoder import _segment_sort_key

        max_file = max((r["src_file"] for r in stats), key=_segment_sort_key)
        max_pos = max(r["max_pos"] for r in stats if r["src_file"] == max_file)

        seconds = time.time() - t0
        lineage = [
            {
                "src_file": r["src_file"],
                "events": r["events"],
                "min_pos": r["min_pos"],
                "max_pos": r["max_pos"],
            }
            for r in stats
        ]
        # replication lag (ST4): wall clock minus the newest committed
        # event's header timestamp — at tail this is real source lag; on
        # a historical backfill it is the backlog age being worked off
        max_event_ts = max((r.get("max_ts", 0) for r in stats), default=0)
        metrics = {
            "events": n_events,
            "net_rows": net_rows,
            "seconds": round(seconds, 3),
            "events_per_sec": round(n_events / seconds, 1) if seconds else 0.0,
            **phase_t,
            **decode_facts,
        }
        if max_event_ts > 0:
            metrics["max_event_ts"] = int(max_event_ts)
            metrics["lag_s"] = round(time.time() - max_event_ts, 1)
        metrics.update(self._xa_metrics(xa_info))
        apply.commit(
            self,
            LedgerEntry(
                batch_id=batch_id,
                gtid_set_text=str(merged_set),
                max_file=max_file,
                max_pos=int(max_pos),
                snapshot_version=new_version,
                committed_at=Ledger.now(),
                partition_lineage=lineage,
                metrics=metrics,
            ),
        )
        self._planned_sizes = planned
        return BatchMetrics(
            batch_id, files, n_events, net_rows, seconds,
            metrics["events_per_sec"], str(merged_set), lineage,
        )

    def _commit_empty_batch(
        self, batch_id: int, files: list[str], planned: dict[str, int],
        open_pos: dict[str, int], covered, xa_info, t0: float,
        decode_facts: dict,
    ) -> None:
        """Ledger entry for a batch whose rows were ALL filtered out
        (covered duplicates, pre-seed events, or still-pending XA
        prepares). The read high-water mark must still advance — without
        an entry the planner would re-read these files forever (e.g. a
        trailing segment holding only redelivered transactions), and an XA
        floor discovered here would be lost. The entry reuses the current
        snapshot version (no state change to commit) and the unchanged
        covered set; its position is the end of the last batch file as
        sized at planning time (the decode read at least that much), so
        bytes appended since still replay (pos > length only matches
        genuinely new bytes). When that segment ends in an open
        transaction (rows decoded, XID not written yet; ``open_pos`` maps
        the segment to its first such row), the position stops just
        before that row instead: the transaction applies once its XID
        arrives rather than falling behind the position. Skipped when it
        would not advance the mark and carries no floor: an idle tail poll
        stays entry-free instead of growing the ledger."""
        from ..binlog.decoder import _segment_sort_key

        last_name = max(files, key=_segment_sort_key)
        end = planned[last_name]
        if last_name in open_pos:
            end = min(end, open_pos[last_name] - 1)
        cand = (_segment_sort_key(last_name), end)
        cur_file, cur_pos = self.ledger.max_position()
        cur = (_segment_sort_key(cur_file), cur_pos) if cur_file else None
        has_floor = bool(xa_info and xa_info["pending"])
        if cur is not None and cand <= cur and not has_floor:
            return
        if cur is not None and cand < cur:
            cand_name, cand_pos = cur_file, cur_pos
        else:
            cand_name, cand_pos = last_name, cand[1]
        metrics = {"events": 0, "net_rows": 0,
                   "seconds": round(time.time() - t0, 3), "events_per_sec": 0.0,
                   **decode_facts}
        metrics.update(self._xa_metrics(xa_info))
        apply.commit(
            self,
            LedgerEntry(
                batch_id=batch_id,
                gtid_set_text=str(covered),
                max_file=cand_name,
                max_pos=int(cand_pos),
                snapshot_version=self.ledger.current_snapshot_version(),
                committed_at=Ledger.now(),
                partition_lineage=[],
                metrics=metrics,
            ),
        )

    def _file_size(self, name: str) -> int:
        from ..binlog.decoder import _join_dir

        path = _join_dir(self.binlog_dir, name)
        if "://" not in path:
            return os.path.getsize(path)
        from pyarrow import fs as pafs

        filesystem, p = pafs.FileSystem.from_uri(path)
        return filesystem.get_file_info(p).size

    def _xa_metrics(self, xa_info) -> dict:
        """Ledger-metric fields for unresolved two-phase prepares: the
        floor the next batch rewinds to and the exact files holding
        pending prepares (replay() re-reads only those)."""
        if not (xa_info and xa_info["pending"]):
            return {}
        from ..binlog.decoder import _segment_sort_key

        (floor_file, floor_pos) = xa_info["floor"]
        return {
            "xa_pending": len(xa_info["pending"]),
            "xa_floor_file": floor_file,
            "xa_floor_pos": int(floor_pos),
            "xa_pending_files": sorted(
                {f for (f, _p) in xa_info["pending"].values()},
                key=_segment_sort_key,
            ),
            # XA RECOVER analog: the xids awaiting a verdict, with the
            # position of the GTID group that opened each prepare
            "xa_pending_xids": {
                k: [f, int(p)] for k, (f, p) in xa_info["pending"].items()
            },
        }

    def xa_pending(self) -> dict:
        """Prepared-but-unresolved XA transactions as of the last committed
        batch — the ``XA RECOVER`` analog (the server command lists xids
        awaiting a coordinator verdict; here the ledger is the durable
        record). Returns {xid_key: (src_file, group_pos)} where group_pos
        is the prepare transaction's GTID-event position (the replay
        floor). Empty when every two-phase transaction has resolved or
        ``xa="local"`` (no batch-wide scan runs)."""
        last = self.ledger.last()
        pend = (last.metrics or {}).get("xa_pending_xids", {}) if last else {}
        return {k: (f, p) for k, (f, p) in pend.items()}

    def _xa_scan_job(self, files: list[str]) -> dict | None:
        """Distributed XA control scan (xa="batch"; None otherwise):
        header walks in one task per core (``segment_tasks``; row
        payloads untouched, non-XA segments reject on a substring scan),
        collected to the caller — the result is O(#XA transactions),
        never O(rows). Pending prepares at or before a batch-0 seed position
        are discarded: the seed snapshot already reflects them, and
        replaying a pre-seed transaction would regress state the position
        predicate normally protects."""
        if self.xa != "batch":
            return None
        from ..binlog.decoder import (
            _join_dir,
            _read_bytes,
            _segment_sort_key,
            segment_tasks,
        )
        from ..binlog.xa import merge_xa_scans, scan_xa

        paths = {
            _join_dir(self.binlog_dir, n): self._file_size(n) for n in files
        }

        def _scan(path: str):
            import os as _os

            return scan_xa(_read_bytes(path), _os.path.basename(path))

        scans = dict(segment_tasks(self.spark, paths).rdd.map(
            lambda r: (r.path, _scan(r.path))
        ).collect())
        merged = merge_xa_scans([scans[p] for p in paths])
        seed = self.ledger.seed_position()
        if seed is not None and merged["pending"]:
            seed_key = (_segment_sort_key(seed[0]), seed[1])
            merged["pending"] = {
                k: (f, p)
                for k, (f, p) in merged["pending"].items()
                if (_segment_sort_key(f), p) > seed_key
            }
        # floor under binlog rotation order (mysql-bin.999999 <
        # mysql-bin.1000000), not lexical order
        merged["floor"] = (
            min(
                merged["pending"].values(),
                key=lambda v: (_segment_sort_key(v[0]), v[1]),
            )
            if merged["pending"]
            else None
        )
        return merged

    @staticmethod
    def _gtid_set_from_islands(stats: list[dict]) -> GtidSet:
        from ..gtid import UuidSet, _splice_interval

        gset = GtidSet()
        for r in stats:
            source = r["gtid_source"]
            if source is None:
                continue
            us = gset.uuid_sets.get(source)
            if us is None:
                us = UuidSet(Uuid.parse_lenient(source), [])
                gset.uuid_sets[source] = us
            for a, b in zip(r["starts"], r["ends"]):
                _splice_interval(us, int(a), int(b))
        return gset

    # -- full replay ---------------------------------------------------------

    def replay(self, files_per_batch: int | None = None) -> ReplayResult:
        """Drain all pending files, ``files_per_batch`` *new* segments per
        batch. The plan is recomputed after every batch because a batch can
        change it: an XA floor recorded mid-replay (xa="batch") rewinds the
        resume position, so the next batch must re-read the files holding
        the still-pending prepares alongside its new segments — a static
        up-front slicing would never revisit them and their transactions
        would be lost when the verdict arrives in a later file. Rewound
        files ride along for free (covered rows drop via the position
        predicate + GTID anti-join); only genuinely new segments count
        toward ``files_per_batch``, and the loop ends when none remain.

        The last committed file is new work only while its size differs
        from the size ``run_batch`` recorded before decoding it: an idle
        call runs no batch, and a segment that grew (during or after its
        read) is read again. A fresh Replayer has no sizes, so it re-reads
        that file once."""
        from ..binlog.decoder import _segment_sort_key

        result = ReplayResult()
        while True:
            files = self.pending_files()
            if not files:
                break
            max_file, _ = self.ledger.max_position()
            max_key = _segment_sort_key(max_file) if max_file else None
            new = [
                n
                for n in files
                if max_key is None
                or _segment_sort_key(n) > max_key
                or (
                    n == max_file
                    and self._planned_sizes.get(n) != self._file_size(n)
                )
            ]
            if not new:
                break  # only a stuck rewind remains — verdict not on disk
            rewound = [n for n in files if n not in set(new)]
            if rewound:
                # only files actually holding pending prepares re-read;
                # with no active floor nothing is rewound (pending_files
                # then starts at max_file, which is not new work)
                last = self.ledger.last()
                pend = (last.metrics or {}).get("xa_pending_files", []) if last else []
                keep = set(pend)
                rewound = [n for n in rewound if n in keep]
            fpb = files_per_batch or max(1, len(new))
            result.batches.append(self.run_batch(rewound + new[:fpb]))
        return result

    def read_state(self, version: int | None = None) -> DataFrame:
        """Current merged state; pass ``version`` to time-travel to any
        retained snapshot (``target.gc`` bounds retention)."""
        if version is None:
            version = self.ledger.current_snapshot_version()
        return self.target.read(self.spark, version)

    def read_quarantine(self) -> DataFrame:
        """Dead-letter records accumulated under
        ``on_decode_error='quarantine'``: one row per skipped undecodable
        ROW event — (src_file, pos, event_type, payload_len, gtid_source,
        gtid_seq, error). Empty when the store is clean (or the policy is
        'fail'). The (src_file, pos) pair is the re-drive handle: after an
        upstream fix re-emits the bytes, re-decoding the segment rewrites
        (or removes) its record, and the enclosing GTID tells the ledger
        whether the transaction as a whole was ever covered."""
        schema = (
            "src_file string, pos long, event_type int, payload_len int, "
            "gtid_source string, gtid_seq long, error string"
        )
        qdir = os.path.join(self.store_dir, "quarantine")
        if "://" not in qdir and not os.path.isdir(qdir):
            return self.spark.createDataFrame([], schema)
        try:
            return self.spark.read.schema(schema).parquet(qdir)
        except Exception:
            return self.spark.createDataFrame([], schema)

    def redrive_quarantine(self) -> int:
        """Re-apply previously-quarantined events after the upstream bytes
        were repaired in place (the dead-letter-queue reprocessing step:
        Kafka DLQ replay / Debezium re-snapshot-the-gap analog). Returns
        the number of change events re-driven (0 = nothing resolved).

        Only the POISONED segments are re-decoded (path-filtered listing —
        at 10^10 events this touches the handful of bad files, never the
        corpus), and only rows at the recorded (src_file, pos) positions
        are applied. Re-driving is out-of-order application — later
        events for the same keys may already be in the table — so it
        requires an order-carrying target (``OrderedBucketedMergeTarget``
        / ``OrderedMergeOnReadTarget``): the outrank guard applies a
        re-driven row only where it still wins. Choose one when deploying
        with ``on_decode_error='quarantine'`` if re-drive matters.

        Commits one ledger entry: the re-driven transactions' GTIDs join
        the covered set (a later redelivery of the same bytes is a
        no-op), the read high-water mark is unchanged, and resolved
        dead-letter records are cleared by the re-decode itself (a clean
        segment decode rewrites-or-removes its record file). Records
        whose bytes are STILL broken re-quarantine and stay pending.
        Audited like any publish when ``audit`` is set; refused with an
        SCD2 ``history`` attached, whose ``apply_batch`` closes each
        stored current row with the batch's first event per key and so
        cannot take an out-of-order one."""
        rows = self.read_quarantine().collect()  # tiny by construction
        if not rows:
            return 0
        if not hasattr(self.target, "read_with_order"):
            raise TypeError(
                "redrive_quarantine needs an order-carrying target "
                "(OrderedBucketedMergeTarget / OrderedMergeOnReadTarget): "
                "re-driving applies events out of order, and only the "
                "outrank guard can do that without regressing newer state"
            )
        if self.history is not None:
            raise TypeError(
                "redrive_quarantine cannot extend an SCD2 history: the "
                "history closes each key's stored current row with a "
                "batch's first event, so an out-of-order re-driven event "
                "would leave history and live state disagreeing"
            )
        spark = self.spark
        t0 = time.time()
        files = sorted({r["src_file"] for r in rows})
        ev = gate_complete_transactions(
            self._decode(files, self._xa_scan_job(files), on_error="quarantine")
        )
        # keep ONLY rows at the recorded dead-letter positions
        positions = spark.createDataFrame(
            [(r["src_file"], int(r["pos"])) for r in rows],
            "src_file string, pos long",
        )
        ev = ev.join(F.broadcast(positions), on=["src_file", "pos"], how="left_semi")
        changes = apply.prepare(
            ev, self.spec, self.column_transforms, self.row_image
        )

        # one action for counts + applied gtids (bounded by the record set)
        applied = (
            changes.groupBy("src_file", "pos", "gtid_source", "gtid_seq")
            .count()
            .collect()
        )
        n_events = sum(r["count"] for r in applied)
        if n_events == 0:
            return 0  # bytes still broken (re-quarantined) — stay pending

        batch_id = self.ledger.next_batch_id()
        phases = {}
        net = apply.net_change(
            changes, self.spec, self.row_image, self.order_cols,
            self.salt_buckets,
        ).persist()
        try:
            net_rows = net.count()
            new_version = apply.publish(
                spark, self.target, net, self.ledger.current_snapshot_version(),
                row_image=self.row_image, audit=self.audit, changes=changes,
                batch_id=batch_id, phases=phases,
            )
        finally:
            net.unpersist()
        stats = [
            {
                "gtid_source": r["gtid_source"],
                "starts": [r["gtid_seq"]] if r["gtid_seq"] is not None else [],
                "ends": [r["gtid_seq"]] if r["gtid_seq"] is not None else [],
            }
            for r in applied
        ]
        covered = self.ledger.covered_gtid_set()
        merged_set = covered.union(self._gtid_set_from_islands(stats))
        max_file, max_pos = self.ledger.max_position()
        seconds = time.time() - t0
        apply.commit(
            self,
            LedgerEntry(
                batch_id=batch_id,
                gtid_set_text=str(merged_set),
                max_file=max_file,
                max_pos=int(max_pos),
                snapshot_version=new_version,
                committed_at=Ledger.now(),
                partition_lineage=[
                    {
                        "src_file": r["src_file"],
                        "events": int(r["count"]),
                        "min_pos": int(r["pos"]),
                        "max_pos": int(r["pos"]),
                    }
                    for r in applied
                ],
                metrics={
                    "events": int(n_events),
                    "net_rows": net_rows,
                    "seconds": round(seconds, 3),
                    "events_per_sec": (
                        round(n_events / seconds, 1) if seconds else 0.0
                    ),
                    **phases,
                    "redrive": True,
                },
            ),
        )
        return int(n_events)

    def _commit_maintenance(self, new_version: int, metrics: dict) -> int:
        """Commit ``new_version`` as a zero-event ledger entry: the read
        position and covered GTID set carry over from the last entry
        unchanged, so a resume neither skips nor re-reads the stream.
        The commit is a batch's (``apply.commit``). Returns the version
        the store is at afterwards: ``new_version``, or the fold of it
        when a chain reached the auto-compact threshold."""
        last = self.ledger.last()
        apply.commit(
            self,
            LedgerEntry(
                batch_id=self.ledger.next_batch_id(),
                gtid_set_text=last.gtid_set_text if last else "",
                max_file=last.max_file if last else "",
                max_pos=last.max_pos if last else 0,
                snapshot_version=new_version,
                committed_at=Ledger.now(),
                partition_lineage=[],
                metrics=dict(metrics),
            ),
        )
        return self.ledger.current_snapshot_version()

    def rebucket(self, new_buckets: int, bucket_cols: tuple | None = None) -> int:
        """Re-scale the target's bucket layout between batches (see
        ``BucketedParquetMergeTarget.rebucket``) and commit it as a
        zero-event maintenance batch: the ledger's read high-water mark
        and covered GTID set are unchanged, only the snapshot version
        advances, so a crash anywhere leaves the old layout live and a
        resume sees either the old or the new layout — both consistent.
        Run it when per-bucket size outgrows the merge's touched-bucket
        IO budget (table grew, or the job moved to a bigger cluster and
        wants more write parallelism). Returns the new snapshot version."""
        if not hasattr(self.target, "rebucket"):
            raise TypeError(
                f"{type(self.target).__name__} has no bucket layout to "
                "re-scale; rebucket() needs BucketedParquetMergeTarget"
            )
        version = self.ledger.current_snapshot_version()
        new_version = self.target.rebucket(
            self.spark, new_buckets, version, bucket_cols
        )
        return self._commit_maintenance(
            new_version, {"maintenance": "rebucket", "buckets": int(new_buckets)}
        )

    def compact(self, min_deltas: int = 1, bucket_ids=None) -> int:
        """Fold a merge-on-read target's delta chains back into base files
        (see ``MergeOnReadBucketedTarget.compact``) and commit the rewrite
        as a zero-event maintenance batch, exactly like ``rebucket``: the
        ledger's read high-water mark and covered GTID set are unchanged,
        only the snapshot version advances — so the next merge's
        ``current_version`` is the compacted snapshot and a crash anywhere
        leaves the pre-compact chain live. Run it on whatever cadence (or
        ``delta_stats`` trigger) bounds read amplification. Returns the
        new snapshot version (unchanged if no chain met ``min_deltas`` —
        then no ledger entry is written either)."""
        if not hasattr(self.target, "compact"):
            raise TypeError(
                f"{type(self.target).__name__} has no delta chains to "
                "compact; compact() needs MergeOnReadBucketedTarget"
            )
        version = self.ledger.current_snapshot_version()
        new_version = self.target.compact(
            self.spark, version, min_deltas=min_deltas, bucket_ids=bucket_ids
        )
        if self.history is not None and hasattr(self.history, "compact"):
            # a merge-on-read history store versions independently; fold
            # its chains on the same maintenance cadence
            self.history.compact(
                self.spark, self.history.current_version(),
                min_deltas=min_deltas,
            )
        if new_version == version:
            return version  # no-op: no chain met the threshold
        return self._commit_maintenance(
            new_version, {"maintenance": "compact", "min_deltas": int(min_deltas)}
        )

    def purge_keys(self, predicate: str, erase: bool = True) -> int:
        """Right-to-be-forgotten purge (GDPR art. 17 / CCPA delete): remove
        every current row matching ``predicate`` (a SQL boolean expression
        over the table's columns, e.g. ``"conv_id IN ('conv-00007')"``)
        from the live state, the SCD2 history sink if one is attached, and
        — with ``erase=True`` — from every *retained file* of both stores.

        Committed as a zero-event maintenance batch like ``rebucket``/
        ``compact``: the read high-water mark and covered GTID set are
        unchanged (a purge is not a source event — redelivered duplicates
        of old transactions stay suppressed by the GTID anti-join; only
        genuinely NEW source events can re-create a purged key), views
        refresh through the normal change feed so derived aggregates shed
        the purged rows' contributions, and only the snapshot version
        advances. Returns the new version (unchanged if nothing matched).

        Physical erasure, per sink family:

        - bucketed (``BucketedParquetMergeTarget.purge_keys``): the
          delete-merge rewrites exactly the buckets holding matching keys
          — never a position-delete append, which would leave the rows'
          bytes in a listed file; the rows then survive only in OLDER
          snapshots, which ``erase=True`` drops (``gc(keep_latest=1)``) —
          destroying time travel *by design*; pass ``erase=False`` to
          defer erasure to routine gc/retention.
        - merge-on-read: the delete lands as delta rows, so the purged
          images still sit in retained base/delta files — the purge
          therefore force-compacts the touched buckets (base rewritten
          without the keys, chains cleared) before the erase gc.
        - ordered (streaming) targets are refused: their delete tombstones
          persist the key itself past the merge, so field-level erasure
          doesn't hold — purge through the batch tier that owns the store.

        The quarantine DLQ is untouched but holds no row data — records
        are (position, gtid, error) metadata only; the undecodable BYTES
        live in the source binlog segments, whose retention is the
        upstream system's concern (a purge of lake state cannot erase
        the source of record).

        Scale shape at 10^10 rows: one predicate scan of current state
        (O(table) read — a compliance op, not a hot path), then a delete
        MERGE + compaction pruned to the matched keys' buckets
        (O(touched-bucket data)), then metadata-only gc."""
        if hasattr(self.target, "read_with_order"):
            raise TypeError(
                "purge_keys on an ordered (streaming) target would leave "
                "key-bearing tombstones behind; purge via a snapshot-target "
                "Replayer over the same store family"
            )
        spec = self.target.spec
        keys = list(spec.primary_key)
        version = self.ledger.current_snapshot_version()
        state = self.target.read(self.spark, version)
        doomed = state.filter(F.expr(predicate)).select(*keys).persist()
        try:
            n_purged = doomed.count()
            if n_purged == 0:
                return version
            if hasattr(self.target, "purge_keys"):
                # the bucketed families rewrite the buckets holding the
                # keys, so no file the new snapshot lists keeps the rows
                new_version = self.target.purge_keys(self.spark, doomed, version)
            else:
                new_version = self.target.merge(
                    self.spark, delete_net(doomed, spec), version
                )
            h_version = None
            if self.history is not None:
                h_version = self.history.purge_keys(
                    self.spark, doomed, self.history.current_version()
                )
            # views shed the purged contributions through the normal
            # change feed BEFORE older snapshots are erased
            self._commit_maintenance(
                new_version,
                {
                    "maintenance": "purge",
                    "rows_purged": int(n_purged),
                    "erase": bool(erase),
                    **(
                        {"history_version": int(h_version)}
                        if h_version is not None
                        else {}
                    ),
                },
            )
            if erase:
                if hasattr(self.target, "gc"):
                    self.target.gc(keep_latest=1)
                if self.history is not None:
                    self.history.gc(keep_latest=1)
            return new_version
        finally:
            doomed.unpersist()

    def _entry(self, batch_id: int):
        entry = self.ledger.entry(batch_id)
        if entry is None:
            raise KeyError(f"no ledger entry for batch {batch_id}")
        return entry

    def state_at_batch(self, batch_id: int) -> DataFrame:
        """State as of a committed batch — the snapshot version its ledger
        entry names. Every commit point is a readable state, which is what
        the per-batch lineage is for (debugging a bad upstream batch,
        diffing consecutive states)."""
        return self.target.read(
            self.spark, self._entry(batch_id).snapshot_version
        )

    def read_changes(
        self, from_batch: int | None = None, to_batch: int | None = None
    ) -> DataFrame:
        """Change-data-feed between two committed batches: every row the
        batches in ``(from_batch, to_batch]`` net-inserted, net-updated or
        net-deleted, as ``key cols + change_type + row image`` (new image
        for insert/update, old image for delete — see
        ``target.snapshot_diff``). ``from_batch=None`` starts from the
        empty table (full state as inserts); ``to_batch=None`` ends at the
        latest commit. This is the downstream-consumer read path: a
        derived table subscribes by remembering the last batch id it saw
        and pulling ``read_changes(last_seen)`` — exactly-once because
        batch ids are the ledger's commit points."""

        def _version_of(batch_id: int | None, default: int) -> int:
            if batch_id is None:
                return default
            return self._entry(batch_id).snapshot_version

        v_from = _version_of(from_batch, 0)
        v_to = _version_of(to_batch, self.ledger.current_snapshot_version())
        return self.target.read_changes(self.spark, v_from, v_to)

    def flashback(self, to_batch: int) -> int:
        """Rewind the live table to a committed batch's state as a NEW
        commit — Iceberg ``RESTORE`` semantics; the snapshot-store analog
        of MariaDB's ``mysqlbinlog --flashback`` event inversion. The
        inverse change set is computed by diffing the current state
        against the target batch's snapshot *reversed* (rows inserted
        since become deletes; rows updated or deleted since become
        upserts of their old image), then MERGEd through the normal sink,
        so write IO is O(touched buckets), never a table rewrite, and the
        rewind itself is crash-atomic like any batch (manifest splice +
        ledger append).

        The ledger's read position and covered GTID set are deliberately
        untouched: the source WAS read, so a resume continues from the
        same offsets and never re-applies the rewound history — flashback
        rewinds the *table*, not the *stream* (undoing a bad upstream
        write burst without re-ingesting; to re-apply, feed corrected
        events forward). Downstream change-feed consumers stay
        exactly-once-consistent: ``read_changes`` across the flashback
        commit yields the inverse rows as ordinary changes, and
        registered IVM views delta-fold them like any batch.

        Requires the target batch's snapshot to still be retained
        (``gc_keep`` bounds how far back a flashback can reach) and a
        snapshot-semantics sink — the ``Ordered*`` streaming targets
        outrank-guard stale images by design, so they refuse a rewind.
        Returns the new snapshot version (current version unchanged if
        the states are already identical)."""
        if hasattr(self.target, "order_cols"):
            raise TypeError(
                f"{type(self.target).__name__} outrank-guards stale "
                "images (streaming sink); flashback needs a snapshot-"
                "semantics target (BucketedParquetMergeTarget / "
                "MergeOnReadBucketedTarget)"
            )
        entry = self._entry(to_batch)
        cur_version = self.ledger.current_snapshot_version()
        if entry.snapshot_version == cur_version:
            return cur_version
        old_state = self.target.read(self.spark, entry.snapshot_version)
        cur_state = self.target.read(self.spark, cur_version)
        # reversed diff: current → restored (rows inserted since delete)
        net = diff_net(cur_state, old_state, self.target.spec).persist()
        try:
            if not net.head(1):
                return cur_version  # states already identical — no commit
            new_version = self.target.merge(self.spark, net, cur_version)
        finally:
            net.unpersist()
        return self._commit_maintenance(
            new_version,
            {
                "maintenance": "flashback",
                "to_batch": int(to_batch),
                "restored_version": int(entry.snapshot_version),
            },
        )

    def checksum(
        self,
        key_col: str | None = None,
        cols: list[str] | None = None,
        n_chunks: int = 64,
    ) -> DataFrame:
        """Replica-consistency digest of the live table
        (``pipeline.integrity.chunked_checksum``): per-chunk row counts +
        order-insensitive summed row hashes, O(n_chunks) rows out. The
        chunk ids are md5-portable, so the source side (MySQL, DuckDB —
        ``integrity.checksum_sql_duck`` is the SQL twin) computes the
        identical digest and drift localizes to chunks without moving
        data. Defaults: chunk on the leading primary-key column over all
        spec columns."""
        from .integrity import chunked_checksum

        spec = self.target.spec
        key_col = key_col or spec.primary_key[0]
        cols = cols or [c for c, _, _ in spec.columns]
        state = self.read_state().select(
            *[F.col(c) for c, _, _ in spec.columns]
        )
        return chunked_checksum(state, key_col, cols, n_chunks)

    def repair(
        self,
        source_truth: DataFrame,
        chunk_ids: list[int] | None = None,
        key_col: str | None = None,
        n_chunks: int = 64,
    ) -> int:
        """Reconcile the live table to ``source_truth`` — the re-sync half
        of the checksum protocol (pt-table-sync analog): after
        ``integrity.diff_chunks`` localizes drift, the source ships ONLY
        the drifted chunks' true rows and this computes the minimal net
        (stale/extra rows → deletes, changed/missing rows → upserts of
        the true image) and MERGEs it through the normal sink — write IO
        is O(touched buckets), the commit is crash-atomic like any batch,
        and change-feed consumers / IVM views fold the corrections as
        ordinary changes.

        ``chunk_ids=None`` reconciles against the full source image
        (initial-sync / audit-repair shape). With ``chunk_ids``, BOTH
        sides are filtered by the portable chunk expression, so a
        source that already shipped only those chunks' rows is fine —
        the filter is then a no-op on it.

        Like ``flashback``, the ledger's read position is untouched:
        repair fixes the *table*, not the *stream*."""
        if hasattr(self.target, "order_cols"):
            raise TypeError(
                f"{type(self.target).__name__} outrank-guards stale "
                "images (streaming sink); repair needs a snapshot-"
                "semantics target"
            )
        from .integrity import chunk_expr

        spec = self.target.spec
        key_col = key_col or spec.primary_key[0]
        cur_version = self.ledger.current_snapshot_version()
        cur_state = self.target.read(self.spark, cur_version)
        truth = source_truth.select(
            *[F.col(c).cast(d).alias(c) for c, d, _ in spec.columns]
        )
        if chunk_ids is not None:
            pred = F.expr(chunk_expr(key_col, n_chunks)).isin(
                [int(c) for c in chunk_ids]
            )
            cur_state = cur_state.where(pred)
            truth = truth.where(pred)
        net = diff_net(cur_state, truth, spec).persist()
        try:
            if not net.head(1):
                return cur_version  # already consistent — no commit
            n_fixed = net.count()
            new_version = self.target.merge(self.spark, net, cur_version)
        finally:
            net.unpersist()
        return self._commit_maintenance(
            new_version,
            {
                "maintenance": "repair",
                "rows_fixed": int(n_fixed),
                "chunks": (
                    [int(c) for c in chunk_ids] if chunk_ids is not None else "all"
                ),
            },
        )
