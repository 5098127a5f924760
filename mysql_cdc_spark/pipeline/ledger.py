"""Checkpointed GTID-set/offset ledger (S6/ST1 in SURVEY.md §2.9).

The reference's only "write" is advancing ``(filename, position)`` + GTID
state after each consumed event (binlog_client.rs:64-117). Our distributed
equivalent is a per-micro-batch **ledger entry**: after the MERGE commits,
append one JSON document with

    batch_id, gtid_set_text, max_file, max_pos, snapshot_version,
    committed_at, partition_lineage[], metrics{}

Exactly-once protocol (idempotent MERGE + ledger, north_star):
1. write the new snapshot (inert until referenced),
2. atomically append the ledger entry (tmp file + os.replace) naming it.
A crash between 1 and 2 leaves an orphan snapshot; the batch re-runs and
re-merges the same events — the MERGE is idempotent (last-writer-wins over a
deterministic total order), so the retried snapshot is byte-identical in
content. Resume reads the ledger tail: covered GtidSet ∪, max (file, pos),
current snapshot version.

The GtidSet stored is the canonical text format (gtid_set.rs:70-82), so the
ledger is interoperable with MySQL tooling (e.g. usable as
``gtid_purged`` / COM_BINLOG_DUMP_GTID input, dump_binlog_gtid_command.rs).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from ..gtid import GtidSet


@dataclass
class LedgerEntry:
    batch_id: int
    gtid_set_text: str
    max_file: str
    max_pos: int
    snapshot_version: int
    committed_at: float
    partition_lineage: list = field(default_factory=list)
    metrics: dict = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(self.__dict__, sort_keys=True)

    @classmethod
    def from_json(cls, text: str) -> "LedgerEntry":
        return cls(**json.loads(text))


class Ledger:
    """Append-only JSON ledger under ``<store_dir>/ledger/``."""

    def __init__(self, store_dir: str):
        self.dir = os.path.join(store_dir, "ledger")
        os.makedirs(self.dir, exist_ok=True)

    def entries(self) -> list[LedgerEntry]:
        out = []
        for name in sorted(os.listdir(self.dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.dir, name)) as f:
                    out.append(LedgerEntry.from_json(f.read()))
        return out

    def _one(self, pick) -> LedgerEntry | None:
        """The entry ``pick`` (``min``/``max``) chooses by batch id; parses
        that one file only, so its cost does not grow with the ledger."""
        names = [n for n in os.listdir(self.dir) if n.endswith(".json")]
        if not names:
            return None
        with open(os.path.join(self.dir, pick(names))) as f:
            return LedgerEntry.from_json(f.read())

    def entry(self, batch_id: int) -> LedgerEntry | None:
        """The entry of ``batch_id``, or None; opens that one file only."""
        try:
            with open(os.path.join(self.dir, f"{batch_id:08d}.json")) as f:
                return LedgerEntry.from_json(f.read())
        except FileNotFoundError:
            return None

    def last(self) -> LedgerEntry | None:
        """The newest entry."""
        return self._one(max)

    def next_batch_id(self) -> int:
        last = self.last()
        return (last.batch_id + 1) if last else 1

    def covered_gtid_set(self) -> GtidSet:
        """Union of all committed batches' GTID sets. Every writer records
        the cumulative set, so this is the newest entry's."""
        last = self.last()
        if last is None or not last.gtid_set_text:
            return GtidSet()
        return GtidSet.parse(last.gtid_set_text)

    def current_snapshot_version(self) -> int:
        last = self.last()
        return last.snapshot_version if last else 0

    def max_position(self) -> tuple[str, int]:
        last = self.last()
        return (last.max_file, last.max_pos) if last else ("", 0)

    def seed_position(self) -> tuple[str, int] | None:
        """Position of the batch-0 seed entry (start strategy / bootstrap),
        or None when replay started from the beginning. Events at or before
        it must never (re-)apply — the seed snapshot already contains them."""
        first = self._one(min)
        if first is not None and first.batch_id == 0:
            return (first.max_file, first.max_pos)
        return None

    def resume_position(self) -> tuple[str, int]:
        """Where the next batch starts reading. Normally ``max_position``;
        when the last batch recorded an **XA floor** (an XA prepare whose
        COMMIT/ROLLBACK verdict had not arrived by batch end —
        binlog/xa.py), resume rewinds to the floor so the prepared
        transaction re-decodes once its verdict lands. Everything else in
        the rewound range is dropped by the covered-GtidSet anti-join."""
        last = self.last()
        if not last:
            return ("", 0)
        m = last.metrics or {}
        ff, fp = m.get("xa_floor_file"), m.get("xa_floor_pos")
        if ff:
            from ..binlog.decoder import _segment_sort_key

            floor = (_segment_sort_key(ff), int(fp))
            cur = (_segment_sort_key(last.max_file), last.max_pos)
            if floor < cur:
                # the resume predicate is strict (pos > anchor), so anchor
                # one byte before the floor to re-read the floor frame too
                # (no event can sit at floor - 1: it would overlap it)
                return (ff, int(fp) - 1)
        return (last.max_file, last.max_pos)

    def append(self, entry: LedgerEntry) -> None:
        """Atomic append: write tmp, fsync, rename (the commit point)."""
        path = os.path.join(self.dir, f"{entry.batch_id:08d}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(entry.to_json())
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)

    @staticmethod
    def now() -> float:
        return time.time()
