"""Multi-table replay: one binlog stream, many target tables.

The reference's consumer loop sees EVERY table's row events in one
stream (`src/binlog_reader.rs` yields whatever the log contains); this
engine routes each table to its own MERGE target + ledger:

- Each table runs its own :class:`~..pipeline.replay.Replayer` over the
  SAME segment files with its own store — per-table exactly-once, so one
  table's merge failure replays only that table, and tables can be
  added/backfilled independently (start strategies are per table).
- The byte scan repeats per table, but value decode is gated per
  TABLE_MAP (rows of other tables cost only the header/presence walk and
  are dropped before any value gather — ``vector.py``'s ``keep_target``
  mask on the fast path, ``continue`` on the scalar path), so the
  repeated part is the cheap part. At deploy scale this is exactly the
  standard fan-out: one shared segment store, N independent apply jobs —
  adding a table never touches another table's pipeline.
- Tables replay concurrently (one driver thread each; Spark interleaves
  their jobs on the shared task slots).
- Transactions touching several tracked tables (one GTID, multiple
  TABLE_MAP+rows pairs — how a server logs a multi-table transaction;
  ``fixtures.write_binlog_files(sidecar=True)`` generates the shape)
  split cleanly: each table's replay applies its own rows and advances
  its own GTID ledger; there is no cross-table atomicity to lose because
  the sink is one table per store and a reader of table A never
  observes table B's progress.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession

from ..binlog.decoder import TableSpec
from .replay import BatchMetrics, Replayer, ReplayResult


class MultiReplayer:
    """Replay one binlog stream into one merge target per tracked table.

    ``specs``: the tables to track (each a ``TableSpec``); each gets its
    own store under ``<store_root>/<database>.<table>``.
    ``replayer_kwargs`` are forwarded to every per-table ``Replayer``
    (``target`` cannot be forwarded — it is store-specific; construct
    per-table Replayers directly for custom targets).
    """

    def __init__(
        self,
        spark: SparkSession,
        binlog_dir: str,
        store_root: str,
        specs: list[TableSpec],
        **replayer_kwargs,
    ):
        if not specs:
            raise ValueError("specs must name at least one table")
        if "target" in replayer_kwargs:
            raise ValueError(
                "target is per-table state and cannot be shared; construct "
                "per-table Replayers directly for custom targets"
            )
        names = [f"{s.database}.{s.table}" for s in specs]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate table specs: {names}")
        self.replayers: dict[str, Replayer] = {
            name: Replayer(
                spark,
                binlog_dir,
                os.path.join(store_root, name),
                spec=spec,
                **replayer_kwargs,
            )
            for name, spec in zip(names, specs)
        }

    def __getitem__(self, table: str) -> Replayer:
        """Per-table Replayer, by ``db.table`` or unambiguous bare name."""
        if table in self.replayers:
            return self.replayers[table]
        matches = [n for n in self.replayers if n.split(".", 1)[1] == table]
        if len(matches) == 1:
            return self.replayers[matches[0]]
        raise KeyError(
            f"{table!r} not tracked (or ambiguous): {sorted(self.replayers)}"
        )

    def replay(
        self, files_per_batch: int | None = None, parallel: bool = True
    ) -> dict[str, ReplayResult]:
        """Replay every table; returns {db.table: ReplayResult}. A
        failure in one table never blocks the others — they finish their
        own replays and stay committed; the first error is re-raised
        with its table named, and a later ``replay()`` resumes the
        failed table from its own ledger."""
        results: dict[str, ReplayResult] = {}
        errors: dict[str, BaseException] = {}

        def _run(name: str, rep: Replayer) -> None:
            try:
                results[name] = rep.replay(files_per_batch=files_per_batch)
            except BaseException as e:  # surfaced below
                errors[name] = e

        if parallel:
            threads = [
                threading.Thread(target=_run, args=(n, r), daemon=True)
                for n, r in self.replayers.items()
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
        else:
            for n, r in self.replayers.items():
                _run(n, r)
        if errors:
            name, err = next(iter(errors.items()))
            raise RuntimeError(f"replay failed for {name}") from err
        return results

    def run_batch(self, files: list[str]) -> dict[str, BatchMetrics]:
        """One explicit batch over the same files for every table."""
        return {
            name: rep.run_batch(files) for name, rep in self.replayers.items()
        }

    def bootstrap(
        self, base_dfs: dict[str, DataFrame], at: object
    ) -> dict[str, int]:
        """Snapshot-then-stream per table: seed each named table's store
        from its consistent snapshot, all taken at the SAME source
        position ``at`` (one transactionally-consistent dump covers every
        table, the standard multi-table snapshot contract). Tables absent
        from ``base_dfs`` are untouched — they replay from their own start
        strategy. Returns {db.table: snapshot_version}."""
        out: dict[str, int] = {}
        for name, df in base_dfs.items():
            if name not in self.replayers:
                raise KeyError(
                    f"unknown table {name!r}; known: {sorted(self.replayers)}"
                )
            out[name] = self.replayers[name].bootstrap(df, at)
        return out

    def read_state(self, table: str, version: int | None = None) -> DataFrame:
        return self[table].read_state(version=version)

    def states(self) -> dict[str, DataFrame]:
        return {n: r.read_state() for n, r in self.replayers.items()}

    def position_after_batch(self, n: int) -> tuple[str, int]:
        """Group-consistent source position after every table's ``n``-th
        replay commit (1-based): the max of the per-table ledger
        positions, i.e. the coordinate of the last event ANY table
        applied from those batches. Per-table positions are
        last-applied-event coordinates, so within one multi-table
        transaction they differ table to table; the group max is past
        every table's share of the final transaction and is therefore a
        transaction-boundary cut — the right input for
        :meth:`flashback`."""
        from ..binlog.decoder import _segment_sort_key

        best: tuple | None = None
        out: tuple[str, int] | None = None
        for name, rep in self.replayers.items():
            batches = [
                e for e in rep.ledger.entries()
                if not (e.metrics or {}).get("maintenance")
            ]
            if len(batches) < n:
                raise KeyError(f"{name} has only {len(batches)} commits")
            e = batches[n - 1]
            key = (_segment_sort_key(e.max_file), int(e.max_pos))
            if best is None or key > best:
                best, out = key, (e.max_file, int(e.max_pos))
        assert out is not None
        return out

    def flashback(self, file: str, pos: int) -> dict[str, int]:
        """Coordinated cross-table rewind to one source position: every
        table flashes back to its latest committed batch whose ledger
        high-water mark is at or before ``(file, pos)`` — the multi-table
        "undo the bad deployment's writes" operation.

        ``(file, pos)`` must be a TRANSACTION-BOUNDARY coordinate (a
        commit point, e.g. from ``position_after_batch`` or a
        ``SHOW MASTER STATUS``-style checkpoint). Per-table ledger
        positions record each table's last applied event, which inside a
        multi-table transaction differ table to table — a mid-transaction
        cut would rewind tables to different transactions. At a
        transaction boundary the cut is consistent by construction: every
        table replays the SAME segment files, so each table's batch
        either committed wholly before the boundary or wholly after it,
        and the selected batches all end at the same point in the
        stream. Per table the rewind is
        :meth:`~.replay.Replayer.flashback` (a new commit from the
        reversed snapshot diff; read position and GTID ledger untouched —
        the table rewinds, the stream does not). Returns
        ``{db.table: new_snapshot_version}``. Raises if any table has no
        commit at or before the position (rewinding past a table's first
        batch means dropping its whole state — do that explicitly by
        rebuilding the store, not implicitly here)."""
        from ..binlog.decoder import _segment_sort_key

        target_key = (_segment_sort_key(file), int(pos))
        picks: dict[str, int] = {}
        for name, rep in self.replayers.items():
            candidate = None
            for e in rep.ledger.entries():
                if (e.metrics or {}).get("maintenance"):
                    continue  # same position, possibly already-rewound state
                if e.max_file and (
                    _segment_sort_key(e.max_file), int(e.max_pos)
                ) <= target_key:
                    candidate = e
            if candidate is None:
                raise KeyError(
                    f"{name} has no commit at or before {file}:{pos}; "
                    "rewinding past the first batch drops the table's "
                    "whole state — rebuild the store explicitly instead"
                )
            picks[name] = candidate.batch_id
        # select-all-then-apply: a bad position raises before ANY table
        # has been rewound, so the group is never left half-rewound by
        # a planning error (a crash mid-apply resumes per table: each
        # flashback is itself atomic, and re-running is idempotent)
        return {
            name: rep.flashback(picks[name])
            for name, rep in self.replayers.items()
        }

    def lag(self) -> dict[str, float | None]:
        """Per-table replication lag from each ledger's last metrics."""
        out: dict[str, float | None] = {}
        for name, rep in self.replayers.items():
            last = rep.ledger.last()
            out[name] = (last.metrics or {}).get("lag_s") if last else None
        return out
