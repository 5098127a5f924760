"""Benchmark inputs: transactions from a seed, encoded into binlog segments.

Transactions come from ``fixtures.generate_changelog`` (the shape of
``bench.py``: 30% of updates on 5 hot conversations, about 1% of
transactions redelivered, one mid-stream ADD COLUMN). The benchmark moves
each redelivered copy to a seeded position shortly after its original, so
redeliveries land both inside one batch and across batch boundaries, and
encodes the segments itself with ``binlog.encoder.BinlogWriter``: that is
what lets the ``fallback`` workload add a 12-member SET column, which
``fixtures.write_binlog_files`` cannot write.

Everything here runs before the engine starts. Encoded segments are kept
under the work directory keyed by workload and seed, and reused only when
the sha256 fingerprint of the bytes on disk matches the one recorded when
they were written.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
import zlib
from dataclasses import dataclass, field

# bump when the segment layout or encoding changes: cached inputs of an
# older layout are then regenerated instead of reused
INPUT_VERSION = 1
CACHE_ENTRIES = 24  # cached inputs kept on disk, ~5-10 MB each

SOURCE_UUID = "24bc7850-2c16-11e6-a073-0242ac110001"
TABLE_ID_PRE, TABLE_ID_POST = 100, 101
SET_MEMBERS = [f"t{i}" for i in range(12)]


@dataclass(frozen=True)
class Shape:
    """Generator knobs and segment layout of one workload."""

    conversations: int
    extra_ops: int
    evolve_after_frac: float
    base_segments: int  # segments holding the first ``base_txns`` txns
    base_txns: int | None = None  # None: the whole stream is the base
    tail_txns_per_segment: int = 0
    with_set_column: bool = False
    redeliver_window: int = 1000  # txns after the original a copy may land

    def as_dict(self) -> dict:
        return dict(self.__dict__)


SHAPES = {
    # one catch-up batch over the whole backlog, repeated into fresh stores
    "backfill": Shape(conversations=2000, extra_ops=8000,
                      evolve_after_frac=0.5, base_segments=4),
    # a caught-up store, then one small segment per replay()
    "tail": Shape(conversations=2000, extra_ops=14000,
                  evolve_after_frac=0.2, base_segments=4, base_txns=6000,
                  tail_txns_per_segment=600),
    # the backfill shape with a SET column the vector kernel does not take
    # (more than 8 members)
    "fallback": Shape(conversations=2000, extra_ops=8000,
                      evolve_after_frac=0.5, base_segments=4,
                      with_set_column=True),
}


@dataclass
class Segment:
    name: str
    txns: list
    size: int = 0

    @property
    def events(self) -> int:
        return sum(len(t.ops) for t in self.txns)


@dataclass
class Inputs:
    workload: str
    seed: int
    shape: Shape
    dir: str  # cached segment files
    base: list[Segment] = field(default_factory=list)
    tail: list[Segment] = field(default_factory=list)
    fingerprint: str = ""
    generate_s: float = 0.0
    reused: bool = False

    @property
    def segments(self) -> list[Segment]:
        return self.base + self.tail

    @property
    def txns(self) -> list:
        return [t for s in self.segments for t in s.txns]


def set_mask(row) -> int:
    """12-bit SET value of a row image, a function of its content so that
    an update's before-image carries the value of the row it replaces."""
    return zlib.crc32(f"{row[0]}\x00{row[1]}\x00{row[3]}".encode()) & 0xFFF


def set_text(mask: int) -> str:
    return ",".join(m for b, m in enumerate(SET_MEMBERS) if mask >> b & 1)


def _transactions(shape: Shape, seed: int) -> list:
    from mysql_cdc_spark.fixtures import generate_changelog

    n_txns = shape.conversations + shape.extra_ops
    dups = max(10, n_txns // 100)
    txns = generate_changelog(
        n_conversations=shape.conversations,
        max_turns=8,
        n_extra_ops=shape.extra_ops,
        seed=seed,
        hot_conversations=5,
        hot_share=0.3,
        duplicate_txns=dups,
        evolve_after_frac=shape.evolve_after_frac,
    )
    # the generator appends redelivered copies at the end; re-deliver each
    # shortly after its original instead
    originals, copies = txns[: len(txns) - dups], txns[len(txns) - dups:]
    index = {t.seq: i for i, t in enumerate(originals)}
    rng = random.Random(seed * 7919 + 17)
    after: dict[int, list] = {}
    for c in copies:
        i = index[c.seq]
        at = min(len(originals) - 1, i + rng.randint(1, shape.redeliver_window))
        after.setdefault(at, []).append(c)
    out = []
    for i, t in enumerate(originals):
        out.append(t)
        out.extend(after.get(i, ()))
    return out


def _split(txns: list, shape: Shape) -> tuple[list[list], list[list]]:
    base_n = len(txns) if shape.base_txns is None else shape.base_txns
    base, tail = txns[:base_n], txns[base_n:]
    per = -(-len(base) // shape.base_segments)
    base_chunks = [base[i: i + per] for i in range(0, len(base), per)]
    tail_chunks = []
    if tail:
        step = shape.tail_txns_per_segment
        tail_chunks = [tail[i: i + step] for i in range(0, len(tail), step)]
    return base_chunks, tail_chunks


def _columns(evolved: bool, with_set: bool) -> list[str]:
    cols = ["conv_id", "turn_idx", "role", "text", "ts"]
    if with_set:
        cols.append("tags")
    if evolved:
        cols.append("tool")
    return cols


def _wire(row, cols: list[str]) -> list:
    """Logical generator row [conv, turn, role, text, ts(, tool)] → the
    cells of the source table's physical column order."""
    out = list(row[:5])
    if "tags" in cols:
        out.append(set_mask(row))
    if "tool" in cols:
        out.append(row[5] if len(row) > 5 else None)
    return out


def encode_segment(name: str, txns: list, next_name: str | None,
                   with_set: bool) -> bytes:
    """One rotation segment: GTID → BEGIN → TABLE_MAP (full metadata:
    column names, primary key, SET member strings) → rows events → XID per
    transaction, a ROTATE to the next segment at the end."""
    from mysql_cdc_spark.binlog.constants import ColumnType, EventType
    from mysql_cdc_spark.binlog.encoder import BinlogWriter

    types = {
        "conv_id": (ColumnType.VARCHAR, 64),
        "turn_idx": (ColumnType.LONG, 0),
        "role": (ColumnType.VARCHAR, 16),
        "text": (ColumnType.VARCHAR, 2048),
        "ts": (ColumnType.TIMESTAMP2, 3),
        "tags": (ColumnType.SET, 2),  # 12 members → 2-byte bitmask
        "tool": (ColumnType.VARCHAR, 64),
    }
    w = BinlogWriter(name, server_id=1)
    for txn in txns:
        cols = _columns(txn.evolved, with_set)
        ctypes = [types[c][0] for c in cols]
        cmeta = [types[c][1] for c in cols]
        table_id = TABLE_ID_POST if txn.evolved else TABLE_ID_PRE
        ts = txn.timestamp
        w.write_mysql_gtid(SOURCE_UUID, txn.seq, timestamp=ts)
        w.write_query("BEGIN", database="chat", timestamp=ts)
        w.write_table_map(
            table_id, "chat", "transcripts", ctypes, cmeta,
            nullability=[c == "tool" for c in cols],
            column_names=cols,
            simple_primary_keys=[0, 1],
            signedness=[False],  # turn_idx, the one numeric column
            set_string_values=[SET_MEMBERS] if with_set else None,
            timestamp=ts,
        )
        # consecutive ops of one kind form one rows event, as a server
        # batches the rows of one statement
        runs: list[tuple[str, list]] = []
        for op in txn.ops:
            if runs and runs[-1][0] == op.kind:
                runs[-1][1].append(op)
            else:
                runs.append((op.kind, [op]))
        for kind, ops in runs:
            if kind == "insert":
                w.write_rows(table_id, ctypes, cmeta,
                             [_wire(o.after, cols) for o in ops],
                             event_type=EventType.MYSQL_WRITE_ROWS_V2,
                             timestamp=ts)
            elif kind == "update":
                w.write_update_rows(
                    table_id, ctypes, cmeta,
                    [(_wire(o.before, cols), _wire(o.after, cols)) for o in ops],
                    timestamp=ts)
            else:
                w.write_rows(table_id, ctypes, cmeta,
                             [_wire(o.before, cols) for o in ops],
                             event_type=EventType.MYSQL_DELETE_ROWS_V2,
                             timestamp=ts)
        w.write_xid(txn.seq, timestamp=ts)
    if next_name:
        w.write_rotate(next_name)
    return w.getvalue()


def segment_name(i: int) -> str:
    return f"binlog.{i + 1:06d}"


def fingerprint_files(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.basename(p).encode() + b"\x00")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(workload: str, seed: int, cache_root: str) -> Inputs:
    """Transactions and segment files for ``workload`` at ``seed``."""
    shape = SHAPES[workload]
    t0 = time.perf_counter()
    txns = _transactions(shape, seed)
    base_chunks, tail_chunks = _split(txns, shape)
    chunks = base_chunks + tail_chunks
    names = [segment_name(i) for i in range(len(chunks))]
    params = {"version": INPUT_VERSION, "workload": workload, "seed": seed,
              "shape": shape.as_dict()}
    key = hashlib.sha256(json.dumps(params, sort_keys=True).encode()).hexdigest()[:12]
    d = os.path.join(cache_root, f"{workload}-seed{seed}-{key}")
    paths = [os.path.join(d, n) for n in names]
    meta_path = os.path.join(d, "meta.json")

    reused = False
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if (meta.get("params") == params
                and all(os.path.exists(p) for p in paths)
                and fingerprint_files(paths) == meta.get("fingerprint")):
            reused = True
    if not reused:
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        for i, chunk in enumerate(chunks):
            nxt = names[i + 1] if i + 1 < len(chunks) else None
            with open(paths[i], "wb") as f:
                f.write(encode_segment(names[i], chunk, nxt, shape.with_set_column))
        with open(meta_path + ".tmp", "w") as f:
            json.dump({"params": params,
                       "fingerprint": fingerprint_files(paths)}, f)
        os.replace(meta_path + ".tmp", meta_path)
        _trim_cache(cache_root, keep=CACHE_ENTRIES)
    segs = [Segment(n, c, os.path.getsize(p))
            for n, c, p in zip(names, chunks, paths)]
    nb = len(base_chunks)
    return Inputs(
        workload=workload, seed=seed, shape=shape, dir=d,
        base=segs[:nb], tail=segs[nb:],
        fingerprint=fingerprint_files(paths),
        generate_s=time.perf_counter() - t0, reused=reused,
    )


def _trim_cache(root: str, keep: int) -> None:
    """Drop the least recently written cached inputs beyond ``keep``."""
    entries = sorted((os.path.join(root, n) for n in os.listdir(root)),
                     key=os.path.getmtime, reverse=True)
    for d in entries[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def one_txn_segment(name: str, seq: int, evolved: bool, with_set: bool) -> bytes:
    """A segment holding one single-row insert, for the fixed-cost probe."""
    from mysql_cdc_spark.fixtures import Op, Txn

    ts = 1_800_000_000
    row = ["probe-conv", 0, "user", "fixed-cost probe", ts * 1000]
    if evolved:
        row.append(None)
    txn = Txn(seq=seq, ops=[Op("insert", None, row)], evolved=evolved,
              timestamp=ts)
    return encode_segment(name, [txn], None, with_set)
