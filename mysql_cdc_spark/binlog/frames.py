"""Event-frame source: decode binlog events delivered as rows instead of
files (S2/S3 in SURVEY.md §2.1 — the network-transport analog).

A live deployment often lands binlog events in a message bus first (one
frame per message, ordered per stream/partition — the shape a
COM_BINLOG_DUMP relay or a Debezium raw-passthrough produces). This
source decodes that table directly:

    frames(stream string, offset bigint, frame binary)
      → groupBy(stream) → applyInArrow:
           sort by offset, concatenate frames into a synthetic segment
           (magic + frames — byte-identical to the file form, since the
           19-byte headers already frame the events; binlog_reader.rs:39-58)
      → the same vectorized/scalar segment decoders as the file path.

Ordering contract: within one ``stream`` value, offsets must reflect the
server's event order (Kafka per-partition ordering gives this for free);
streams decode independently and in parallel, exactly like rotation
segments. ``src_file`` in the output carries the stream name; ``pos`` is
the byte position within the reassembled stream — monotone in offset.

Each stream group must fit in one task (same bound as a rotation
segment); chunk long-lived streams by offset range upstream, the way the
file path chunks by segment.
"""

from __future__ import annotations

from typing import Optional

import pyarrow as pa
from pyspark.sql import DataFrame

from .constants import MAGIC_NUMBER, EventType
from .decoder import (
    TRANSCRIPTS,
    TableSpec,
    arrow_schema,
    change_event_schema,
    segment_decoder,
)


def decode_event_frames(
    frames: DataFrame,
    spec: TableSpec = TRANSCRIPTS,
    stream_col: str = "stream",
    offset_col: str = "offset",
    frame_col: str = "frame",
    vectorized: Optional[bool] = None,
    checksum_type: Optional[int] = None,
) -> DataFrame:
    """(stream, offset, frame-bytes) rows → change-event DataFrame.

    Checksum handling: a stream's FORMAT_DESCRIPTION frame declares whether
    events carry a CRC32 trailer. The FDE need not arrive first — the
    group's first FDE (by offset) is hoisted to the head of the reassembled
    segment so both decode paths apply its checksum mode to the whole group
    (one server stream has one checksum mode). For streams that carry no
    FDE at all, pass ``checksum_type`` (``constants.ChecksumType``) and a
    synthetic FDE declaring it is prepended. With neither, payloads are
    taken checksum-free: a CRC32 stream with no FDE is *undetectable* from
    bytes alone and would silently mis-parse — callers of such streams must
    supply ``checksum_type``.
    """
    schema = change_event_schema(spec)
    out_schema = arrow_schema(spec)
    decode_segment = segment_decoder(spec, vectorized)

    def decode_group(group: pa.Table) -> pa.Table:
        from .encoder import BinlogWriter

        group = group.sort_by(offset_col)
        name = group.column(stream_col)[0].as_py()
        blobs = group.column(frame_col).to_pylist()
        fde_i = next(
            (
                i
                for i, b in enumerate(blobs)
                if len(b) > 4 and b[4] == EventType.FORMAT_DESCRIPTION
            ),
            None,
        )
        if fde_i is not None and fde_i > 0:
            blobs.insert(0, blobs[fde_i])  # checksum mode applies stream-wide
        elif fde_i is None and checksum_type is not None:
            blobs.insert(0, BinlogWriter.make_fde_frame(checksum_type))
        batches, _scalar = decode_segment(name, MAGIC_NUMBER + b"".join(blobs))
        return pa.Table.from_batches(list(batches), schema=out_schema)

    return frames.groupBy(stream_col).applyInArrow(decode_group, schema=schema)


def split_segment_frames(content: bytes) -> list[tuple[int, bytes]]:
    """Inverse helper (tests/tools): one binlog segment → [(pos, frame)]
    rows, walking the 19-byte header chain."""
    import struct

    from .constants import EVENT_HEADER_SIZE, FIRST_EVENT_POSITION

    if content[:FIRST_EVENT_POSITION] != MAGIC_NUMBER:
        raise ValueError("Invalid binary log file header")
    u32 = struct.Struct("<I").unpack_from
    out = []
    pos = FIRST_EVENT_POSITION
    n = len(content)
    while pos + EVENT_HEADER_SIZE <= n:
        ln = u32(content, pos + 9)[0]
        if ln < EVENT_HEADER_SIZE or pos + ln > n:
            break
        out.append((pos, content[pos : pos + ln]))
        pos += ln
    return out
