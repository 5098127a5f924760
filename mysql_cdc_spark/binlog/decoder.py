"""Distributed binlog decode (S1/S2/S4 in SURVEY.md §2.1).

Spark-first layout:

- **Across files** — parallel: the driver lists the binlog directory and
  packs its files (rotation segments) by size into one task per core
  (``pack_segments``); each task reads its own segments and decodes each
  independently. At 100 TB the unit of work is the rotation segment
  (segments are bounded, typically ≤1 GiB), so a 1000-executor cluster
  decodes thousands of segments concurrently.
- **Within a file** — sequential by construction: headers chain via
  ``next_event_position`` (event_header.rs:24) and row events depend on the
  latest preceding TABLE_MAP (row_parser.rs:18-20,33-36) and GTID group
  (binlog_client.rs:74-96). The per-file scan runs inside ``mapInArrow``;
  both decoders emit ``pa.RecordBatch`` of one declared schema
  (``arrow_schema``), so output leaves the Python worker as the Arrow it
  was built in, never per-row Python and never pandas.
- **Transaction gating** (ST2, binlog_client.rs:69-99): row events buffer
  until their XID commit arrives; events of transactions whose commit is not
  in the file are emitted with ``xid = NULL`` so the exactly-once ledger can
  exclude them.

The decoder is schema-driven: a ``TableSpec`` declares the canonical target
columns; TABLE_MAP ``column_names`` metadata (table_metadata.rs:23) maps
in-band schemas — including additive evolution (new ``tool`` column) — onto
the canonical superset.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from functools import lru_cache
from typing import Iterator, Optional

import numpy as np
import pyarrow as pa
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from . import arrays as A
from .constants import EventType
from .geometry import geometry_to_wkt as _geometry_to_wkt
from .jsonb import jsonb_to_text as _jsonb_to_text
from .xa import parse_xa_statement
from .reader import BinlogFileReader, iter_frames, parse_table_map


@dataclass(frozen=True)
class TableSpec:
    """Canonical target table: (name, spark type, kind) per column.

    ``kind`` selects the value converter from binlog decode output —
    the full set of MySqlValue variants the reference decodes
    (mysql_value.rs:28-47) maps onto:

    - ``'str'``        VARCHAR/CHAR → StringType
    - ``'int'``        TINY/SHORT/INT24/LONG/LONGLONG → integral types
    - ``'double'``     FLOAT/DOUBLE → DoubleType
    - ``'decimal'``    NEWDECIMAL (exact digit string) → DecimalType(p,s)
    - ``'date'``       DATE (y,m,d) → DateType
    - ``'binary'``     BLOB family / GEOMETRY / JSON raw → BinaryType
    - ``'ts_millis'``  TIMESTAMP/TIMESTAMP2 epoch millis → TimestampType
    - ``'json'``       JSON jsonb blob → decoded JSON text (StringType);
                       beyond-reference (the reference returns the raw
                       blob, row_parser.rs:174-175) — see binlog/jsonb.py
    - ``'geometry'``   GEOMETRY blob (SRID+WKB) → WKT text (StringType);
                       beyond-reference (same raw-blob branch) — see
                       binlog/geometry.py
    - ``'datetime'``   DATETIME/DATETIME2 wall time → TimestampNTZType
    - ``'time'``       TIME/TIME2 → StringType
    - ``'vector'``     MySQL 9 VECTOR(n) blob (packed little-endian
                       float32) → ArrayType(FloatType); beyond-reference
                       (the reference enum predates MySQL 9) — the CDC
                       path for embedding columns feeding the ANN ops in
                       analytics/embeddings.py
    """

    database: str
    table: str
    columns: tuple[tuple[str, str, str], ...]  # (name, spark_type_ddl, kind)
    primary_key: tuple[str, ...]
    # non-NULL column DEFAULTs as SQL literal text, (name, literal) pairs —
    # MySQL's instant ADD COLUMN backfills existing rows with the DEFAULT,
    # so events logged while the column did not yet exist must read it as
    # the default, not NULL; populated by the DDL registry (binlog/ddl.py)
    # and applied at the replay tier (Replayer.run_batch)
    defaults: tuple[tuple[str, str], ...] = ()

    def __post_init__(self):
        # the canonical presence masks (before_present / after_present /
        # carried_mask) are int64 bitmasks over spec columns — 1 << 63
        # would overflow LongType, so fail construction loudly instead of
        # failing Arrow conversion later. (The *source table* in the
        # binlog may be arbitrarily wide; only the canonical projection
        # is capped.)
        if len(self.columns) > 63:
            raise ValueError(
                f"TableSpec {self.database}.{self.table} has "
                f"{len(self.columns)} columns; canonical specs are capped "
                "at 63 (int64 presence bitmask). Project the source table "
                "onto the needed columns."
            )


TRANSCRIPTS = TableSpec(
    database="chat",
    table="transcripts",
    columns=(
        ("conv_id", "string", "str"),
        ("turn_idx", "int", "int"),
        ("role", "string", "str"),
        ("text", "string", "str"),
        ("tool", "string", "str"),
        ("ts", "timestamp", "ts_millis"),
    ),
    primary_key=("conv_id", "turn_idx"),
)


def change_event_schema(
    spec: TableSpec = TRANSCRIPTS, attach_origin_query: bool = False,
    attach_partition_id: bool = False,
) -> T.StructType:
    fields = [
        T.StructField("src_file", T.StringType()),
        T.StructField("pos", T.LongType()),
        T.StructField("next_pos", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("server_id", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("gtid_source", T.StringType()),
        T.StructField("gtid_seq", T.LongType()),
        T.StructField("xid", T.LongType()),
        T.StructField("table_id", T.LongType()),
        T.StructField("db", T.StringType()),
        T.StructField("tbl", T.StringType()),
        T.StructField("row_in_event", T.IntegerType()),
    ]
    # per-image column-presence bitmasks over canonical columns (P1:
    # binlog_row_image != full leaves columns absent — row_parser.rs:108-111;
    # bit i set ⇔ canonical column i was present in the image). Consumers
    # needing per-column merge-apply (MINIMAL images) read these; FULL
    # streams carry all-ones.
    fields.append(T.StructField("before_present", T.LongType()))
    fields.append(T.StructField("after_present", T.LongType()))
    for prefix in ("before_", "after_"):
        for name, ddl, _kind in spec.columns:
            fields.append(
                T.StructField(prefix + name, _ddl_to_type(ddl), nullable=True)
            )
    if attach_origin_query:
        # the originating SQL statement from ROWS_QUERY / ANNOTATE_ROWS
        # (binlog_rows_query_log_events=ON); NULL when the statement's
        # transaction carried none
        fields.append(T.StructField("origin_query", T.StringType()))
    if attach_partition_id:
        # WL#12168 PART extra-row-info provenance (MySQL 8.0.16+,
        # partitioned source tables); source_partition_id is set only on
        # updates that migrated a row between partitions
        fields.append(T.StructField("partition_id", T.LongType()))
        fields.append(T.StructField("source_partition_id", T.LongType()))
    return T.StructType(fields)


@lru_cache(maxsize=None)
def arrow_schema(
    spec: TableSpec = TRANSCRIPTS, attach_origin_query: bool = False,
    attach_partition_id: bool = False,
) -> pa.Schema:
    """``change_event_schema`` as the Arrow schema both decoders emit and
    ``mapInArrow`` reads: timestamps as ``timestamp[us, tz=UTC]`` (NTZ
    columns without a zone), the only timestamp unit Spark accepts."""
    return to_arrow_schema(
        change_event_schema(spec, attach_origin_query, attach_partition_id)
    )


def _ddl_to_type(ddl: str) -> T.DataType:
    import re

    m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", ddl)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    return {
        "string": T.StringType(),
        "int": T.IntegerType(),
        "bigint": T.LongType(),
        "double": T.DoubleType(),
        "date": T.DateType(),
        "binary": T.BinaryType(),
        "boolean": T.BooleanType(),  # derived specs (scd2 history flags)
        "timestamp": T.TimestampType(),
        "timestamp_ntz": T.TimestampNTZType(),
        "array<float>": T.ArrayType(T.FloatType()),  # kind "vector"
    }[ddl]


def _to_date(v):
    from datetime import date

    # parse_date yields (year, month, day); MySQL zero-dates → NULL
    return date(*v) if v != (0, 0, 0) else None


def _to_decimal(v):
    from decimal import Decimal

    return Decimal(v)


def _to_datetime(v):
    from datetime import datetime

    # parse_date_time/parse_date_time2 yield (y, mo, d, h, mi, s, millis);
    # MySQL zero-dates → NULL
    y, mo, d, h, mi, s, ms = v
    if y == 0 and mo == 0 and d == 0:
        return None
    return datetime(y, mo, d, h, mi, s, ms * 1000)


def _vector_to_floats(v):
    # MySQL 9 VECTOR payload: packed little-endian float32 (WL#16081,
    # Field_vector rides the blob wire form). Python floats from <f4 are
    # exact widenings, so the Arrow cast back to float32 round-trips
    # bit-exact. A length not divisible by 4 is corrupt — frombuffer
    # raises, matching the server's own rejection of odd-sized vectors.
    import numpy as np

    return np.frombuffer(bytes(v), dtype="<f4").tolist()


def _to_time(v):
    # parse_time/parse_time2 yield (h, m, s, millis); MySQL TIME spans up
    # to 838:59:59 so the canonical form is a string, not a time-of-day
    # (negative TIME raises at decode, like the reference —
    # col_parser.rs:52-55,75-84)
    h, m, s, ms = v
    return f"{h:02d}:{m:02d}:{s:02d}.{ms:03d}"


# canonical-kind converters from raw binlog decode output
# (mysql_value.rs:28-47 variants → Spark column values)
_CONVERT = {
    "int": int,
    "double": float,
    "decimal": _to_decimal,
    # JSON/GEOMETRY columns arrive as the raw blob (like the reference,
    # row_parser.rs:174-175); kinds "json"/"geometry" decode them to text.
    "json": _jsonb_to_text,
    "geometry": _geometry_to_wkt,
    "vector": _vector_to_floats,
    "date": _to_date,
    "binary": bytes,
    "datetime": _to_datetime,
    "time": _to_time,
}


class _FileDecoder:
    """Sequential per-file decode with transaction buffering.

    Columnar accumulation: rows are buffered as compact tuples until their
    transaction commits, then transposed once per Arrow batch into
    per-column arrays of ``arrow_schema`` — no per-row dicts. Timestamp
    columns are kept as epoch ints and scaled to microseconds at the
    batch build."""

    def __init__(
        self,
        spec: TableSpec,
        xa_outcomes: Optional[dict] = None,
        attach_origin_query: bool = False,
        attach_partition_id: bool = False,
        on_error: str = "fail",
        quarantine_dir: Optional[str] = None,
    ):
        self.spec = spec
        # dead-letter policy (Debezium event.processing.failure.handling.
        # mode analog): 'quarantine' skips undecodable ROW events, records
        # them (src_file/pos/gtid/error) and keeps decoding at the next
        # length-prefixed frame; 'fail' raises like the reference.
        self.on_error = on_error
        self.quarantine_dir = quarantine_dir
        self.quarantine: list[dict] = []
        # batch-wide XA verdict map {xid_key: bool} — resolves two-phase
        # prepares whose XA COMMIT/ROLLBACK lives in another file
        self.xa_outcomes = xa_outcomes
        # attach the originating SQL from ROWS_QUERY/ANNOTATE_ROWS events
        # per statement (Debezium's `query` field analog). Row tuples
        # always carry the value in their last slot; the column is only
        # exposed when opted in.
        self.attach_origin_query = attach_origin_query
        self.attach_partition_id = attach_partition_id
        self.canonical = [c[0] for c in spec.columns]
        self.kinds = {c[0]: c[2] for c in spec.columns}
        # canonical column index maps, memoized per table-map identity
        self._colmap_memo: dict[int, list] = {}
        # canonical presence masks, memoized per (table, presence) combo
        self._mask_memo: dict[tuple, int] = {}
        # output columns: metadata, presence masks, before_*/after_*
        self.schema = arrow_schema(spec, attach_origin_query, attach_partition_id)
        # flat row tuples (everything except src_file/xid) + per-row xid;
        # one C-level zip(*) transpose per Arrow batch beats 25 list
        # appends per row by ~4×. Tuples always carry every slot (origin,
        # partition ids) — _slot() maps exposed column → tuple position,
        # so opting into a later slot without an earlier one stays sound.
        self._tuple_slots = (
            ["pos", "next_pos", "ts", "server_id", "op", "gtid_source",
             "gtid_seq", "table_id", "db", "tbl", "row_in_event",
             "before_present", "after_present"]
            + ["before_" + n for n in self.canonical]
            + ["after_" + n for n in self.canonical]
            + ["origin_query", "partition_id", "source_partition_id"]
        )
        self._slot = {n: i for i, n in enumerate(self._tuple_slots)}
        self._rows: list[tuple] = []
        self._xids: list = []
        self.src_file = ""

    @property
    def n_rows(self) -> int:
        return len(self._rows)

    def _flush_batch(self) -> pa.RecordBatch:
        # epoch ints → microseconds: header seconds, TIMESTAMP millis
        scale = {"ts": 1_000_000}
        for n, k in self.kinds.items():
            if k == "ts_millis":
                scale["before_" + n] = scale["after_" + n] = 1000
        cols = list(zip(*self._rows)) if self._rows else [
            () for _ in range(len(self._tuple_slots))
        ]
        n_rows = len(self._xids)
        arrays = []
        for field in self.schema:
            c = field.name
            if c == "src_file":
                arrays.append(A.repeat(self.src_file, field.type, n_rows))
                continue
            if c == "xid":
                values = self._xids
            else:
                values = cols[self._slot[c]]
                if c in scale:
                    m = scale[c]
                    values = [None if v is None else v * m for v in values]
            # pa.array of Python values: pyarrow's pandas shim loads
            # pandas here, on the scalar path only
            arrays.append(pa.array(values, field.type))
        self._rows = []
        self._xids = []
        return pa.RecordBatch.from_arrays(arrays, schema=self.schema)

    def _colmap(self, table: dict) -> list:
        """For a table map: [(canonical_idx, image_idx | None, kind,
        codec), ...] — ``codec`` is the column's charset codec (TABLE_MAP
        charset metadata via binlog/charset.py), consumed by kind "str"
        columns riding the blob wire form (TEXT)."""
        key = id(table)
        cm = self._colmap_memo.get(key)
        if cm is None:
            from .charset import table_codecs

            col_names = table.get("column_names") or self.canonical[
                : len(table["column_types"])
            ]
            index = {n: i for i, n in enumerate(col_names)}
            codecs = table_codecs(table)
            cm = [
                (
                    ci,
                    index.get(name),
                    self.kinds[name],
                    codecs[index[name]]
                    if name in index and index[name] < len(codecs)
                    else None,
                )
                for ci, name in enumerate(self.canonical)
            ]
            self._colmap_memo[key] = cm
        return cm

    def _canon_mask(self, table: dict, present: list) -> int:
        """Canonical-column presence bitmask for one image: bit ci set iff
        the canonical column maps into this table AND its table column is
        in the image's columns_present (row_parser.rs:108-111)."""
        key = (id(table), tuple(present))
        m = self._mask_memo.get(key)
        if m is None:
            m = 0
            n = len(present)
            for ci, mi, _kind, _codec in self._colmap(table):
                if mi is not None and mi < n and present[mi]:
                    m |= 1 << ci
            self._mask_memo[key] = m
        return m

    def decode_file(
        self, path: str, content: bytes, batch_rows: int = 65536
    ) -> Iterator[pa.RecordBatch]:
        src_file = os.path.basename(path)
        self.src_file = src_file
        reader = BinlogFileReader(content, src_file, on_error=self.on_error)
        spec = self.spec
        n_canon = len(self.canonical)
        nulls = (None,) * n_canon

        # XA verdicts: segment-local scan (commit/rollback later in this
        # file) merged under any batch-wide map the Replayer collected —
        # resolved at the *prepare* position so output stays in positional
        # order, matching the vectorized path exactly (binlog/xa.py)
        from .xa import scan_xa

        local_xa = scan_xa(content, src_file)
        xa_verdicts = dict(self.xa_outcomes or {})
        if local_xa:
            xa_verdicts.update(local_xa["verdicts"])

        # transaction state (ST2): gtid seen at group start, rows buffered
        # until xid; binlog_client.rs:69-99. Buffered rows are the final
        # flat tuples (minus src_file/xid, filled at flush/commit).
        cur_gtid_source: Optional[str] = None
        cur_gtid_seq: Optional[int] = None
        # originating SQL from the statement's ROWS_QUERY/ANNOTATE_ROWS
        # event (overwritten per statement, cleared at txn boundaries)
        cur_origin: Optional[str] = None
        txn_buffer: list[tuple] = []

        def map_image(image, colmap):
            if image is None:
                return nulls
            out = []
            n = len(image)
            for _ci, mi, kind, codec in colmap:
                v = image[mi] if mi is not None and mi < n else None
                if v is not None and kind != "str" and kind != "ts_millis":
                    v = _CONVERT[kind](v)
                elif type(v) is bytes and kind == "str":
                    # TEXT column (blob wire form): decode in the column's
                    # charset; binary-collation blobs declared "str" and
                    # metadata-less logs default to utf-8
                    v = v.decode(codec or "utf-8")
                out.append(v)
            return tuple(out)

        def emit_txn(xid):
            # _rows/_xids are rebound by _flush_batch — resolve at call time
            self._rows.extend(txn_buffer)
            self._xids.extend([xid] * len(txn_buffer))

        # TRANSACTION_PAYLOAD splices report every embedded event at the
        # wrapper's on-disk pos; row_in_event continues across row events
        # sharing one pos so (gtid_seq, pos, row_in_event) stays a total
        # order within the transaction (pipeline/order.py ORDER_COLS).
        # Plain frames never share a pos, so base stays 0 for them.
        last_row_pos = None
        row_base = 0

        def _base(p, n):
            nonlocal last_row_pos, row_base
            b = row_base if p == last_row_pos else 0
            last_row_pos = p
            row_base = b + n
            return b

        for header, pos, kind, event in reader:
            if kind == "mysql_gtid":
                cur_gtid_source = event["source_uuid"]
                cur_gtid_seq = event["transaction_id"]
                cur_origin = None
                txn_buffer = []
            elif kind == "mariadb_gtid":
                cur_gtid_source = f"{event['domain_id']}-{event['server_id']}"
                cur_gtid_seq = event["sequence"]
                cur_origin = None
                txn_buffer = []
            elif kind in ("write_rows", "delete_rows"):
                table = reader.table_map[event["table_id"]]
                if table["database_name"] != spec.database or table["table_name"] != spec.table:
                    continue
                op = "insert" if kind == "write_rows" else "delete"
                colmap = self._colmap(table)
                img_mask = self._canon_mask(table, event["columns_present"])
                ts = header[0] or None
                tid = event["table_id"]
                db, tbl = table["database_name"], table["table_name"]
                meta = (pos, header[4], ts, header[2], op, cur_gtid_source,
                        cur_gtid_seq, tid, db, tbl)
                base = _base(pos, len(event["rows"]))
                org = (cur_origin,)
                tail = org + (event.get("partition_id"), None)
                if op == "insert":
                    masks = (0, img_mask)
                    for i, row in enumerate(event["rows"]):
                        txn_buffer.append(
                            meta + (base + i,) + masks + nulls
                            + map_image(row, colmap) + tail
                        )
                else:
                    masks = (img_mask, 0)
                    for i, row in enumerate(event["rows"]):
                        txn_buffer.append(
                            meta + (base + i,) + masks
                            + map_image(row, colmap) + nulls + tail
                        )
            elif kind == "update_rows":
                table = reader.table_map[event["table_id"]]
                if table["database_name"] != spec.database or table["table_name"] != spec.table:
                    continue
                colmap = self._colmap(table)
                masks = (
                    self._canon_mask(table, event["before_present"]),
                    self._canon_mask(table, event["after_present"]),
                )
                ts = header[0] or None
                tid = event["table_id"]
                db, tbl = table["database_name"], table["table_name"]
                meta = (pos, header[4], ts, header[2], "update", cur_gtid_source,
                        cur_gtid_seq, tid, db, tbl)
                base = _base(pos, len(event["rows"]))
                org = (cur_origin,)
                tail = org + (
                    event.get("partition_id"),
                    event.get("source_partition_id"),
                )
                for i, (before, after) in enumerate(event["rows"]):
                    txn_buffer.append(
                        meta + (base + i,) + masks
                        + map_image(before, colmap) + map_image(after, colmap)
                        + tail
                    )
            elif kind == "xid":
                emit_txn(event["xid"])
                txn_buffer = []
                cur_gtid_source = None
                cur_gtid_seq = None
                cur_origin = None
                if self.n_rows >= batch_rows:
                    yield self._flush_batch()
            elif kind == "xa_prepare":
                # two-phase prepare closes the row-carrying group; the
                # verdict (XA COMMIT/ROLLBACK, own GTID, possibly another
                # file) decides the rows' fate (binlog/xa.py module doc)
                if event["one_phase"]:
                    emit_txn(-1)
                else:
                    verdict = xa_verdicts.get(event["xid_key"])
                    if verdict is True:
                        emit_txn(-1)
                    elif verdict is None:
                        emit_txn(None)  # pending — committed-only gate drops
                txn_buffer = []
                cur_gtid_source = None
                cur_gtid_seq = None
                cur_origin = None
                if self.n_rows >= batch_rows:
                    yield self._flush_batch()
            elif kind == "query":
                # transaction-boundary predicate over sql_statement
                # (binlog_client.rs:88-95): BEGIN opens, COMMIT closes,
                # ROLLBACK discards, anything else is autocommit DDL which
                # also closes the group.
                sql = event["sql_statement"].strip()
                xa_stmt = (
                    parse_xa_statement(sql)
                    if len(sql) > 2 and sql[:2].upper() == "XA"
                    else None
                )
                if xa_stmt is not None:
                    verb, key, one_phase = xa_stmt
                    if verb in ("start", "end"):
                        pass  # group stays open, like BEGIN
                    elif verb == "commit" and one_phase:
                        emit_txn(-1)  # inline commit, like COMMIT
                        txn_buffer = []
                        cur_gtid_source = None
                        cur_gtid_seq = None
                        cur_origin = None
                        if self.n_rows >= batch_rows:
                            yield self._flush_batch()
                    elif verb == "prepare" and key is not None:
                        # statement-form prepare: same policy as the event
                        verdict = xa_verdicts.get(key)
                        if verdict is True:
                            emit_txn(-1)
                        elif verdict is None:
                            emit_txn(None)
                        txn_buffer = []
                        cur_gtid_source = None
                        cur_gtid_seq = None
                        cur_origin = None
                    else:
                        # commit/rollback verdict groups carry no rows —
                        # the prepare position already resolved them
                        txn_buffer = []
                        cur_gtid_source = None
                        cur_gtid_seq = None
                        cur_origin = None
                elif sql == "BEGIN":
                    pass
                elif sql == "COMMIT":
                    emit_txn(-1)  # committed without XID event
                    txn_buffer = []
                    cur_gtid_source = None
                    cur_gtid_seq = None
                    cur_origin = None
                    if self.n_rows >= batch_rows:
                        yield self._flush_batch()
                elif sql.startswith("ROLLBACK"):
                    txn_buffer = []
                    cur_gtid_source = None
                    cur_gtid_seq = None
                    cur_origin = None
                else:  # autocommit DDL
                    txn_buffer = []
                    cur_gtid_source = None
                    cur_gtid_seq = None
                    cur_origin = None
            elif kind == "quarantine":
                # dead-letter record: event-scoped loss — the rest of the
                # enclosing transaction still applies (the frame chain is
                # intact; only this event's rows are unrecoverable). The
                # record carries everything a re-drive needs: exact
                # (file, pos) plus the enclosing GTID for first-delivery
                # bookkeeping after an upstream fix re-emits the txn.
                self.quarantine.append(
                    {
                        "src_file": src_file,
                        "pos": int(pos),
                        "event_type": int(event["event_type"]),
                        "payload_len": int(event["payload_len"]),
                        "gtid_source": cur_gtid_source,
                        "gtid_seq": cur_gtid_seq,
                        "error": event["error"],
                    }
                )
            elif kind == "rows_query":
                cur_origin = event["query"]
            elif kind == "incident":
                # LOST_EVENTS marker — refuse to decode past it, exactly
                # like a replica's SQL thread (ER_REPLICA_INCIDENT); the
                # error carries (file, pos) so an operator can re-snapshot
                # or deliberately restart past the position
                if event["incident_number"] != 0:
                    from .reader import BinlogIncidentError

                    raise BinlogIncidentError(
                        src_file, pos, event["incident_number"], event["message"]
                    )
            # rotate / heartbeat / format_description / prev_gtids / unknown:
            # no row output

        # un-committed tail (transaction cut by file end / crash): emit with
        # xid NULL so the transaction-complete gate can drop it
        emit_txn(None)
        if self.quarantine_dir is not None:
            self._write_quarantine(src_file)
        if self.n_rows:
            yield self._flush_batch()

    def _write_quarantine(self, src_file: str) -> None:
        """Persist this segment's dead-letter records as one parquet file
        named after the segment — executor-side, deterministic, so a task
        retry (or a resume re-decoding the same segment) overwrites rather
        than duplicates, and a clean re-decode after an upstream fix
        removes the stale record. Tiny by construction (corruption is the
        exception), so one file per poisoned segment is the right grain."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyarrow import fs as pafs

        path = f"{self.quarantine_dir.rstrip('/')}/{src_file}.parquet"
        if "://" in path:
            filesystem, p = pafs.FileSystem.from_uri(path)
        else:
            filesystem, p = pafs.LocalFileSystem(), path
        mine = [r for r in self.quarantine if r["src_file"] == src_file]
        if not mine:
            try:
                filesystem.delete_file(p)
            except (FileNotFoundError, OSError):
                pass
            return
        filesystem.create_dir(os.path.dirname(p), recursive=True)
        table = pa.table(
            {
                "src_file": pa.array([r["src_file"] for r in mine], pa.string()),
                "pos": pa.array([r["pos"] for r in mine], pa.int64()),
                "event_type": pa.array([r["event_type"] for r in mine], pa.int32()),
                "payload_len": pa.array([r["payload_len"] for r in mine], pa.int32()),
                "gtid_source": pa.array([r["gtid_source"] for r in mine], pa.string()),
                "gtid_seq": pa.array([r["gtid_seq"] for r in mine], pa.int64()),
                "error": pa.array([r["error"] for r in mine], pa.string()),
            }
        )
        pq.write_table(table, p, filesystem=filesystem)


class _LatestPerSegment(AccumulatorParam):
    """``{segment: facts}`` accumulator merge where the later report wins:
    a retried or recomputed decode task overwrites its segment's entry
    instead of adding to it."""

    def zero(self, value):
        return {}

    def addInPlace(self, value1, value2):
        value1.update(value2)
        return value1


def covered_rows(sources, seqs, covered) -> np.ndarray:
    """Mask of the rows whose GTID ``(sources[i], seqs[i])`` lies in a
    ``covered`` interval (``GtidSet.to_intervals()`` tuples): the ledger's
    first-delivery-wins set (ST5, uuid_set.rs:46-48). Per source, its
    sorted interval starts are searched for the last start at or below
    each sequence number, whose interval end bounds the match."""
    hit = np.zeros(len(seqs), dtype=bool)
    by_src: dict = {}
    for uuid, s, e in covered:
        by_src.setdefault(uuid, []).append((int(s), int(e)))
    for source, ivs in by_src.items():
        sel = np.nonzero(sources == source)[0]
        if len(sel):
            starts, ends = np.array(sorted(ivs), dtype=np.int64).T
            sq = np.asarray(seqs[sel], dtype=np.int64)
            k = np.searchsorted(starts, sq, side="right") - 1
            hit[sel[(k >= 0) & (sq <= ends[np.maximum(k, 0)])]] = True
    return hit


def _segment_row_stats(batches, name) -> list:
    """Ledger facts of the rows one segment yielded: per gtid_source (in
    order of first appearance) the row count, position bounds, collapsed
    GTID-seq islands and the newest header timestamp. Islands via numpy
    unique+diff: the distributed form of GtidSet.add_gtid's collapse
    (uuid_set.rs:29-98)."""
    if not sum(len(b) for b in batches):
        return []
    t = pa.Table.from_batches(batches)
    src = t.column("gtid_source").combine_chunks().dictionary_encode()
    names = src.dictionary.to_pylist() + [None]
    codes = np.where(
        A.is_null(src.indices), len(names) - 1, A.to_numpy(src.indices)
    )
    seq = A.to_numpy(t.column("gtid_seq"))
    pos = A.to_numpy(t.column("pos"))
    ts_valid = ~A.is_null(t.column("ts"))
    ts_us = A.to_numpy(t.column("ts"))
    uniq, first = np.unique(codes, return_index=True)
    out = []
    for code in uniq[np.argsort(first)]:
        sel = codes == code
        source = names[code]
        if source is None:
            starts, ends = [], []
        else:
            seqs = np.unique(seq[sel])
            breaks = np.nonzero(np.diff(seqs) > 1)[0]
            starts = seqs[np.concatenate(([0], breaks + 1))].tolist()
            ends = seqs[np.concatenate((breaks, [len(seqs) - 1]))].tolist()
        ts_sel = ts_us[sel & ts_valid]
        out.append({
            "src_file": name,
            "gtid_source": source,
            "events": int(sel.sum()),
            "min_pos": int(pos[sel].min()),
            "max_pos": int(pos[sel].max()),
            "starts": starts,
            "ends": ends,
            "max_ts": int(ts_sel.max() // 10**6) if len(ts_sel) else 0,
        })
    return out


class SegmentStats:
    """The applied-row rule of one batch, evaluated where the rows are
    decoded, and the ledger facts of the rows it keeps. A decode task
    given an instance (``decode_binlog_dir(stats=...)``) yields only the
    rows the batch applies (``applied``), computes the segment's row stats
    (``_segment_row_stats``) from exactly those rows and its
    TRUNCATE/DROP/RENAME fences (``ddl.scan_truncates`` on the bytes it
    already holds) after the resume position, and adds them to a
    ``_LatestPerSegment`` accumulator under the segment's name, with the
    segment's decode facts (scalar fallback, bytes read). The driver
    reads them with ``collect`` and ``decode_facts`` after an action has
    run every decode task. One instance per batch; it empties the
    accumulator."""

    COLS = ["gtid_source", "gtid_seq", "pos", "xid", "ts"]

    @staticmethod
    def accumulator(spark: SparkSession):
        """The accumulator instances report through; create one per
        long-lived consumer and reuse it (the driver keeps every
        accumulator registered for the life of the process)."""
        return spark.sparkContext.accumulator({}, _LatestPerSegment())

    def __init__(self, acc, covered: list, resume_file: str, resume_pos: int):
        acc.value = {}
        self.acc = acc
        self.covered = covered
        self.resume_key = _segment_sort_key(resume_file) if resume_file else None
        self.resume_pos = resume_pos

    def applied(
        self, name: str, content: bytes, batches, spec, scalar: bool = False
    ) -> Iterator[pa.RecordBatch]:
        """Executor side: the rows of segment ``name``'s decoded
        ``batches`` the batch applies, then its report (``scalar``: the
        scalar ``_FileDecoder`` decoded the segment). A row applies when
        it is strictly after the resume ``(file, pos)`` (earlier segments
        yield nothing), its transaction committed (``xid`` not NULL, ST2)
        and the ledger's ``covered`` GtidSet does not hold its GTID (ST5).

        The position bound holds in addition to the GTID check. It is
        monotone and always safe: anything at or before the checkpoint is
        either committed (and covered) or predates a FromPosition/FromEnd
        seed whose transactions carry GTIDs the ledger never covered; a
        re-read of the seed segment would otherwise replay those and
        regress merged state. Redelivered duplicates at later positions
        are caught by the GTID check. With an active XA floor the resume
        position rewinds (``Ledger.resume_position``) and the rewound range
        relies on the GTID check alone: everything in it is covered except
        the floor's own pending transaction (binlog/xa.py module doc).

        The report's ``open_pos`` is the first position after the bound
        of a row the ``xid`` check drops (a transaction whose XID is not
        in the segment yet), or None."""
        key = _segment_sort_key(name)
        after = -1  # no bound past the resume file
        if self.resume_key is not None and key <= self.resume_key:
            after = self.resume_pos if key == self.resume_key else np.inf
        seen: list = []
        open_pos = None
        for batch in batches:
            pos = A.to_numpy(batch.column("pos"))
            keep = pos > after
            gated = keep & A.is_null(batch.column("xid"))
            if gated.any():
                first = int(pos[gated].min())
                open_pos = first if open_pos is None else min(open_pos, first)
            keep &= ~gated
            if self.covered:
                keep &= ~covered_rows(
                    A.to_objects(batch.column("gtid_source")),
                    A.to_numpy(batch.column("gtid_seq")), self.covered,
                )
            if not keep.all():
                batch = batch.filter(A.mask(keep))
            seen.append(batch.select(self.COLS))
            yield batch
        from .ddl import scan_truncates

        fences = [
            {**t, "src_file": name}
            for t in scan_truncates(content, name, spec.database, spec.table)
            if t["pos"] > after
        ]
        rows = _segment_row_stats(seen, name)
        self.acc.add({name: (rows, fences, open_pos, (scalar, len(content)))})

    def collect(self, files: list[str]) -> tuple[list[dict], list[dict], dict]:
        """Driver side: (row stats, fences, ``{segment: open_pos}`` for
        segments that end in an open transaction) of ``files``. A segment
        with no report means its decode task never finished, so the facts
        would be incomplete: raise rather than commit them."""
        got = self.acc.value
        missing = [f for f in files if f not in got]
        if missing:
            raise RuntimeError(f"no decode stats reported for segments {missing}")
        return (
            [r for f in files for r in got[f][0]],
            [t for f in files for t in got[f][1]],
            {f: got[f][2] for f in files if got[f][2] is not None},
        )

    def decode_facts(self, files: list[str]) -> dict:
        """Driver side, after ``collect``: how many of ``files`` the scalar
        ``_FileDecoder`` decoded (``fallback_segments``) and the segment
        bytes the decode tasks read (``bytes_read``)."""
        facts = [self.acc.value[f][3] for f in files]
        return {
            "fallback_segments": sum(scalar for scalar, _ in facts),
            "bytes_read": sum(size for _, size in facts),
        }


def decode_binlog_dir(
    spark: SparkSession,
    binlog_dir: str,
    spec: TableSpec = TRANSCRIPTS,
    path_filter: Optional[str] = None,
    vectorized: Optional[bool] = None,
    before_values: str = "full",
    xa_outcomes: Optional[dict] = None,
    attach_origin_query: bool = False,
    attach_partition_id: bool = False,
    on_error: str = "fail",
    quarantine_dir: Optional[str] = None,
    stats: Optional[SegmentStats] = None,
) -> DataFrame:
    """binlog directory → change-event DataFrame (distributed decode).

    The driver lists the segments and packs them by size into one task per
    core (``pack_segments``); each task opens its segments executor-side
    and decodes them one after another in mapInArrow, so segment bytes
    never cross the network and decode within a segment stays sequential.
    Filter pushdown: pass ``path_filter`` (glob) to prune segments at the
    listing, e.g. for resume-from-file checkpoints.

    ``before_values="keys"`` (vectorized path) skips materializing
    non-key before-image values — column-pruning pushed into the byte
    decoder for consumers that only read keys + after images (the merge
    pipeline). The scalar fallback always decodes full values (rare, and
    correctness-identical for such consumers).

    ``stats``: each task yields only the rows this ``SegmentStats``
    applies (``SegmentStats.applied``) and reports its segment's ledger
    facts once it has yielded the segment's last batch. Without it every
    decoded row is kept, uncommitted tails included (``xid`` NULL).
    """
    schema = change_event_schema(spec, attach_origin_query, attach_partition_id)
    sizes = _list_segments(binlog_dir, path_filter)
    if not sizes:
        return spark.createDataFrame([], schema)
    decode_segment = segment_decoder(
        spec, vectorized, before_values, xa_outcomes, attach_origin_query,
        attach_partition_id, on_error, quarantine_dir,
    )

    def decode(tasks: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for task in tasks:
            for path in task.column("path").to_pylist():
                content = _read_bytes(path)
                name = os.path.basename(path)
                batches, scalar = decode_segment(name, content)
                if stats is not None:
                    batches = stats.applied(name, content, batches, spec, scalar)
                yield from batches
        _trim_heap()

    return segment_tasks(spark, sizes).mapInArrow(decode, schema=schema)


def _trim_heap() -> None:
    """Hand a finished decode task's freed heap back to the OS. glibc
    keeps it mapped: once a large numpy temporary is freed, its mmap
    threshold rises and later ones come from the heap, so a reused Python
    worker would go on holding about 12 MiB of a backfill segment's decode
    garbage between tasks. Not glibc: nothing to do."""
    import ctypes

    try:
        ctypes.CDLL(None).malloc_trim(0)
    except (AttributeError, OSError):
        pass


def segment_decoder(
    spec: TableSpec,
    vectorized: Optional[bool] = None,
    before_values: str = "full",
    xa_outcomes: Optional[dict] = None,
    attach_origin_query: bool = False,
    attach_partition_id: bool = False,
    on_error: str = "fail",
    quarantine_dir: Optional[str] = None,
):
    """The decode of one segment, ``decode(name, content)`` → (its
    ``arrow_schema`` RecordBatches, whether the scalar decoder made them),
    shared by every decode task. Build it while planning the job,
    not inside a task: ``vectorized=None`` then reads the planning
    process's ``SPARK_CDC_SCALAR_DECODE`` (``"1"`` picks the scalar
    decoder). The vectorized kernel (``vector.
    decode_segment_fast``) decodes the segments it can express; the scalar
    ``_FileDecoder`` takes the rest (rare types, partial images, wide
    tables) and, under ``on_error="quarantine"``, any segment the kernel
    fails on, since it quarantines at event grain."""
    if vectorized is None:
        vectorized = os.environ.get("SPARK_CDC_SCALAR_DECODE", "") != "1"

    def decode(name: str, content: bytes):
        batches = None
        if vectorized:
            from .vector import decode_segment_fast

            try:
                batches = decode_segment_fast(
                    content, name, spec, before_values=before_values,
                    xa_outcomes=xa_outcomes,
                    attach_origin_query=attach_origin_query,
                    attach_partition_id=attach_partition_id,
                )
            except Exception:
                if on_error != "quarantine":
                    raise
        if batches is None:
            return _FileDecoder(
                spec, xa_outcomes=xa_outcomes,
                attach_origin_query=attach_origin_query,
                attach_partition_id=attach_partition_id,
                on_error=on_error, quarantine_dir=quarantine_dir,
            ).decode_file(name, content), True
        if quarantine_dir is not None:
            # decoded clean: drop any stale dead-letter record a prior
            # run left behind
            _FileDecoder(spec, quarantine_dir=quarantine_dir)._write_quarantine(name)
        return batches, False

    return decode


def _segment_sort_key(name: str) -> tuple[str, int]:
    """Decode/replay order of rotation segments: (prefix, numeric suffix).
    MySQL numbers segments with a growing decimal extension, so plain
    lexicographic ordering breaks at a digit rollover
    (mysql-bin.999999 → mysql-bin.1000000); compare the suffix as an int.
    Suffix-less names rank by whole name with suffix -1."""
    import re

    m = re.match(r"^(.*)\.(\d+)$", name)
    return (m.group(1), int(m.group(2))) if m else (name, -1)


def pack_segments(sizes: dict[str, int], k: int) -> list[list[str]]:
    """Segment paths packed into at most ``k`` decode tasks by byte size:
    longest-processing-time first (each segment, largest first, joins the
    lightest task so far), the static form of DS2's work stealing. Tasks
    come heaviest first, so the longest one is scheduled first; inside a
    task its segments keep rotation order."""
    import heapq

    heap = [(0, 0, i) for i in range(k)]
    bins: list[list[str]] = [[] for _ in range(k)]
    for path in sorted(sizes, key=lambda p: -sizes[p]):
        load, n, i = heapq.heappop(heap)
        bins[i].append(path)
        heapq.heappush(heap, (load + sizes[path], n + 1, i))
    loads = {i: load for load, _, i in heap}
    return [
        sorted(bins[i], key=lambda p: _segment_sort_key(os.path.basename(p)))
        for i in sorted(range(k), key=lambda i: -loads[i])
        if bins[i]
    ]


def segment_tasks(spark: SparkSession, sizes: dict[str, int]) -> DataFrame:
    """The segments ``{path: bytes}`` as a one-column ``path`` frame, packed
    into one task per core (``pack_segments``). Built in the JVM (a range
    of task ids, each exploding its path list from one literal plan), so a
    ``mapInArrow`` over it holds one Python worker per task and no Python
    stage feeds it."""
    tasks = pack_segments(
        sizes, min(len(sizes), spark.sparkContext.defaultParallelism)
    )
    plan = F.from_json(F.lit(json.dumps(tasks)), "array<array<string>>")
    return spark.range(0, len(tasks), 1, max(1, len(tasks))).select(
        F.explode(plan[F.col("id").cast("int")]).alias("path")
    )


def list_dir_entries(binlog_dir: str) -> dict[str, int]:
    """File names (no directories) under a binlog dir and their sizes in
    bytes — local path or any pyarrow.fs URI (s3://, hdfs://, file://),
    mirroring ``_read_bytes`` so a cluster deployment pointing at object
    storage lists the same way it reads."""
    if "://" not in binlog_dir:
        with os.scandir(binlog_dir) as it:
            return {e.name: e.stat().st_size for e in it if e.is_file()}
    from pyarrow import fs as pafs

    filesystem, p = pafs.FileSystem.from_uri(binlog_dir)
    infos = filesystem.get_file_info(pafs.FileSelector(p, recursive=False))
    return {
        info.base_name: info.size
        for info in infos if info.type == pafs.FileType.File
    }


def _join_dir(binlog_dir: str, name: str) -> str:
    if "://" not in binlog_dir:
        return os.path.join(binlog_dir, name)
    return binlog_dir.rstrip("/") + "/" + name


def _list_segments(
    binlog_dir: str, path_filter: Optional[str] = None
) -> dict[str, int]:
    """Driver-side segment listing (cheap metadata op — the same listing
    the resume planner already does): ``{path: bytes}`` in numeric-suffix
    segment order. The glob filter mirrors Hadoop's GlobFilter. Works
    against local dirs and pyarrow.fs URIs (s3://, hdfs://)."""
    import fnmatch

    sizes = list_dir_entries(binlog_dir)
    names = sorted(sizes, key=_segment_sort_key)
    if path_filter:
        # brace-glob {a,b} support like Hadoop's GlobFilter
        if path_filter.startswith("{") and path_filter.endswith("}"):
            allowed = set(path_filter[1:-1].split(","))
            names = [n for n in names if n in allowed]
        else:
            names = [n for n in names if fnmatch.fnmatch(n, path_filter)]
    return {_join_dir(binlog_dir, n): sizes[n] for n in names}


def _read_bytes(path: str) -> bytes:
    """Executor-side segment read; local path or any pyarrow.fs URI."""
    if "://" not in path:
        with open(path, "rb") as f:
            return f.read()
    from pyarrow import fs as pafs

    filesystem, p = pafs.FileSystem.from_uri(path)
    with filesystem.open_input_stream(p) as f:
        return f.read()


def scan_table_maps(content: bytes) -> list[dict]:
    """Metadata-only scan: every TABLE_MAP of a segment (those inside
    TRANSACTION_PAYLOAD wrappers included, at the wrapper's position),
    decoding no row cells. Used by the cheap schema-discovery pass
    (SURVEY.md §4 item 3); ``reader.iter_frames`` does the walk."""
    out = []
    for pos, header, payload, _error in iter_frames(content):
        if header[1] == EventType.TABLE_MAP:
            tm = parse_table_map(payload)
            tm["pos"] = pos
            out.append(tm)
    return out


def discover_columns(spark: SparkSession, binlog_dir: str, spec: TableSpec) -> list[str]:
    """Two-pass schema discovery: union of TABLE_MAP column_names for the
    target table across all segments (additive evolution)."""
    files = segment_tasks(spark, _list_segments(binlog_dir))

    def scan(tasks: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for task in tasks:
            names: set[str] = set()
            for path in task.column("path").to_pylist():
                for tm in scan_table_maps(_read_bytes(path)):
                    if (
                        tm["database_name"] == spec.database
                        and tm["table_name"] == spec.table
                        and tm["column_names"]
                    ):
                        names.update(tm["column_names"])
            yield pa.RecordBatch.from_pydict(
                {"column_name": A.from_objects(sorted(names), pa.string())}
            )

    found = {
        r["column_name"]
        for r in files.mapInArrow(scan, schema="column_name string")
        .distinct()
        .collect()
    }
    # preserve canonical order, drop unknowns
    ordered = [c[0] for c in spec.columns if c[0] in found]
    return ordered
