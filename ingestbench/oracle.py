"""Expected table state, computed apart from the engine.

A sequential apply of the generated transactions in log order: the first
delivery of each GTID wins, inserts and updates put the after-image,
deletes drop the key, rows logged before the ADD COLUMN read the new
column as NULL, and the SET column is rendered from its bitmask. It shares
no code with the engine or with ``fixtures.apply_changelog_oracle``.

Rows are compared in the canonical tuple form
``(conv_id, turn_idx, role, text, tool, ts_millis[, tags])``.
"""

from __future__ import annotations

import zlib

from .inputs import SOURCE_UUID, set_mask, set_text

BASE_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def columns(with_set: bool) -> list[str]:
    return BASE_COLUMNS + (["tags"] if with_set else [])


class Oracle:
    def __init__(self, with_set: bool):
        self.with_set = with_set
        self.state: dict[tuple, tuple] = {}
        self.applied: set[int] = set()

    def _row(self, img) -> tuple:
        row = (img[0], img[1], img[2], img[3],
               img[5] if len(img) > 5 else None, img[4])
        return row + (set_text(set_mask(img)),) if self.with_set else row

    def apply(self, txns) -> None:
        for txn in txns:
            if txn.seq in self.applied:
                continue  # a redelivery: the first delivery already applied
            self.applied.add(txn.seq)
            for op in txn.ops:
                if op.kind in ("insert", "update"):
                    self.state[(op.after[0], op.after[1])] = self._row(op.after)
                elif op.kind == "delete":
                    self.state.pop((op.before[0], op.before[1]), None)
                else:
                    raise ValueError(f"unexpected op {op.kind}")

    def aggregates(self) -> tuple:
        return aggregates_of(self.state.values(), self.with_set)


def aggregates_of(rows, with_set: bool) -> tuple:
    """The consumer scan's aggregates over canonical rows: row count, then
    per column a sum (ints, timestamps) or a CRC-32 sum and a non-null
    count (strings) — mirrors ``scan_expressions``."""
    rows = list(rows)
    out = [len(rows)]
    for i, name in enumerate(columns(with_set)):
        vals = [r[i] for r in rows if r[i] is not None]
        if name in ("turn_idx", "ts"):
            out.append(sum(vals))
        else:
            out.append(sum(zlib.crc32(v.encode()) for v in vals))
            out.append(len(vals))
    return tuple(out)


def scan_expressions(with_set: bool):
    """Spark aggregate expressions matching ``aggregates_of``."""
    from pyspark.sql import functions as F

    exprs = [F.count(F.lit(1))]
    for name in columns(with_set):
        if name == "turn_idx":
            exprs.append(F.sum(F.col(name).cast("long")))
        elif name == "ts":
            exprs.append(F.sum(F.unix_millis(F.col(name))))
        else:
            exprs.append(F.sum(F.crc32(F.col(name).cast("binary"))))
            exprs.append(F.count(F.col(name)))
    return exprs


def scan(df, with_set: bool) -> tuple:
    """The consumer: one aggregate over every column of the table."""
    row = df.agg(*scan_expressions(with_set)).collect()[0]
    return tuple(0 if v is None else int(v) for v in row)


def table_rows(df, with_set: bool) -> list[tuple]:
    """Full table in canonical tuple form."""
    from pyspark.sql import functions as F

    sel = [F.unix_millis(F.col(c)).alias(c) if c == "ts" else F.col(c)
           for c in columns(with_set)]
    pdf = df.select(*sel).toPandas()
    return [
        tuple(None if v is None else (int(v) if i in (1, 5) else v)
              for i, v in enumerate(r))
        for r in pdf.itertuples(index=False, name=None)
    ]


def compare(rows: list[tuple], expected: dict[tuple, tuple]) -> list[str]:
    """Row-for-row, cell-for-cell differences (empty when equal)."""
    problems = []
    got: dict[tuple, tuple] = {}
    for r in rows:
        k = (r[0], r[1])
        if k in got:
            problems.append(f"duplicate key {k}")
        got[k] = r
    for k in expected.keys() - got.keys():
        problems.append(f"missing row {k}")
    for k in got.keys() - expected.keys():
        problems.append(f"unexpected row {k}")
    for k in got.keys() & expected.keys():
        if got[k] != expected[k]:
            problems.append(f"row {k}: got {got[k]!r} expected {expected[k]!r}")
    return problems


def self_test(rows: list[tuple], expected: dict[tuple, tuple],
              with_set: bool) -> list[str]:
    """Corrupt a correct state — drop one row, alter one cell — and show
    that both the row comparison and the aggregates catch it. Returns the
    failures of the check itself (empty when it works)."""
    if len(rows) < 2:
        return ["self-test needs two rows"]
    rows = sorted(rows, key=lambda r: (r[0], r[1]))
    dropped = rows[0]
    altered = rows[1][:3] + (rows[1][3] + "~",) + rows[1][4:]
    bad = [altered] + rows[2:]
    found = compare(bad, expected)
    out = []
    if f"missing row {(dropped[0], dropped[1])}" not in found:
        out.append("dropped row not caught")
    if not any(p.startswith(f"row {(altered[0], altered[1])}:") for p in found):
        out.append("altered cell not caught")
    if len(found) != 2:
        out.append(f"expected 2 findings, got {len(found)}")
    if aggregates_of(bad, with_set) == aggregates_of(expected.values(), with_set):
        out.append("aggregates did not change")
    return out


def expected_gtid_intervals(seqs) -> list[tuple[str, int, int]]:
    """(uuid, first, last) runs of the generated GTID sequence numbers."""
    out: list[tuple[str, int, int]] = []
    for s in sorted(set(seqs)):
        if out and out[-1][2] + 1 == s:
            out[-1] = (SOURCE_UUID, out[-1][1], s)
        else:
            out.append((SOURCE_UUID, s, s))
    return out


def ledger_problems(entries, covered_intervals, batches_txns) -> list[str]:
    """Ledger properties: the covered GTID set equals the generated set,
    and each batch records the generated events minus redeliveries of
    transactions an earlier batch already covered.

    ``batches_txns``: per committed batch, in ledger order, the
    transactions of the segments it consumed for the first time."""
    problems = []
    seen: set[int] = set()
    if len(entries) != len(batches_txns):
        return [f"{len(entries)} ledger entries for {len(batches_txns)} batches"]
    for e, txns in zip(entries, batches_txns):
        want = sum(len(t.ops) for t in txns if t.seq not in seen)
        got = (e.metrics or {}).get("events", 0)
        if got != want:
            problems.append(f"batch {e.batch_id}: ledger events {got}, generated {want}")
        seen.update(t.seq for t in txns)
    want_iv = expected_gtid_intervals(seen)
    if list(covered_intervals) != want_iv:
        problems.append(
            f"covered GTID set {list(covered_intervals)[:4]}... != generated {want_iv[:4]}...")
    return problems
