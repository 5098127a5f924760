"""Decoder output as pandas for tests: both decoders (``vector.
decode_segment_fast`` and ``decoder._FileDecoder.decode_file``) emit
``pa.RecordBatch`` lists of ``decoder.arrow_schema``; ``to_pandas`` is the
one conversion every test reads them through."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa

_NULLABLE_INTS = {pa.int64(): pd.Int64Dtype(), pa.int32(): pd.Int64Dtype()}


def to_pandas(batches) -> pd.DataFrame:
    """One frame of ``batches`` (an empty frame for none): integer
    columns as nullable ``Int64``, UTC timestamps as naive wall times,
    list values (VECTOR) as Python lists."""
    batches = list(batches)
    if not batches:
        return pd.DataFrame()
    table = pa.Table.from_batches(batches)
    naive = pa.schema([
        pa.field(f.name, pa.timestamp(f.type.unit), f.nullable)
        if pa.types.is_timestamp(f.type) else f
        for f in table.schema
    ])
    df = table.cast(naive).to_pandas(types_mapper=_NULLABLE_INTS.get)
    for f in table.schema:
        if pa.types.is_list(f.type):
            df[f.name] = table.column(f.name).to_pylist()
    return df
