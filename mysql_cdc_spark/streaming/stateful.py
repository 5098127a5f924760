"""Stateful streaming apply via ``applyInPandasWithState`` (ST5/W1 as a
state-store operator).

``stream.py``'s foreachBatch tier keeps the winning order tuple in the
*snapshot* (order-aware MERGE per trigger). This module keeps it in
Spark's **streaming state store** instead — the custom-stateful-operator
formulation: per key (conv_id, turn_idx) the state is the winning
(gtid_seq, pos, row_in_event) tuple, and a trigger's rows are emitted
only when they outrank it. Downstream consumers see an append-only
stream of *state transitions* (op + after image + order tuple); the
current table is the per-key max-by-order reduction of that stream
(``read_transitions_state``).

Why both tiers exist: the MERGE form owns the final table (one writer,
full snapshot); the state-store form is the shape to compose *derived*
streaming consumers from (feature extraction, notification fan-out,
CDC-to-CDC relays) where each key's winner must be tracked incrementally
without rewriting a table per trigger. Same total order, same tie rule
(equal rank re-emits — idempotent redelivery), same delete fence
(deletes emit as tombstone transitions and outrank like any row).

Scale: state is 3 int64 per live key — 10^8 keys ≈ 2.4 GB across the
cluster's state stores, partitioned by the same key hash every other
per-key operator here shuffles on. No watermark: rank handles lateness,
so state never needs time-based eviction (add a TTL timeout only if the
key space itself is unbounded).
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..binlog.decoder import TRANSCRIPTS, TableSpec, change_event_schema
from ..pipeline.order import ORDER_COLS, with_change_key

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("gtid_seq", T.LongType()),
        T.StructField("pos", T.LongType()),
        T.StructField("row_in_event", T.LongType()),
    ]
)


def _transition_schema(spec: TableSpec) -> T.StructType:
    from ..binlog.decoder import _ddl_to_type

    fields = [
        T.StructField(k, _ddl_to_type(d), True)
        for k, d, _ in spec.columns
        if k in spec.primary_key
    ]
    fields.append(T.StructField("op", T.StringType(), True))
    fields += [
        T.StructField(f"after_{n}", _ddl_to_type(d), True)
        for n, d, _ in spec.columns
        if n not in spec.primary_key
    ]
    fields += [T.StructField(c, T.LongType(), True) for c in ORDER_COLS]
    return T.StructType(fields)


def _chunk_winner(pdf: pd.DataFrame) -> Tuple[int, Tuple[int, int, int]]:
    """Index and order tuple of the max-by-(gtid_seq, pos, row_in_event)
    row — one numpy lexsort per Arrow chunk, no per-row Python."""
    import numpy as np

    gs = pdf["gtid_seq"].to_numpy(dtype="float64", na_value=-1.0).astype("int64")
    po = pdf["pos"].to_numpy(dtype="float64", na_value=-1.0).astype("int64")
    ri = pdf["row_in_event"].to_numpy(dtype="float64", na_value=-1.0).astype("int64")
    i = int(np.lexsort((ri, po, gs))[-1])
    return i, (int(gs[i]), int(po[i]), int(ri[i]))


def transitions_stream(
    stream: DataFrame, spec: TableSpec = TRANSCRIPTS
) -> DataFrame:
    """Decoded change-event stream → per-key state-transition stream.

    ``applyInPandasWithState`` over groupBy(primary key): state is the
    winning order tuple; within a trigger the group's max-by-order row is
    compared against it and emitted iff it outranks (ties emit —
    redelivery idempotence, same rule as OrderedBucketedMergeTarget)."""
    keys = list(spec.primary_key)
    out_schema = _transition_schema(spec)
    value_cols = [f"after_{n}" for n, _, _ in spec.columns if n not in keys]
    emit_cols = keys + ["op"] + value_cols + ORDER_COLS

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        best = tuple(state.get) if state.exists else None
        winner = None
        w_rank = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            i, r = _chunk_winner(pdf)
            if w_rank is None or r > w_rank:
                winner, w_rank = pdf.iloc[[i]], r
        if winner is None:
            return
        if best is None or w_rank >= best:
            state.update(w_rank)
            yield winner[emit_cols].reset_index(drop=True)

    gated = stream.filter(F.col("xid").isNotNull())
    gated = with_change_key(gated, keys)
    return gated.groupBy(*[F.col(k) for k in keys]).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_apply_stateful(
    spark: SparkSession,
    changelog_dir: str,
    out_dir: str,
    spec: TableSpec = TRANSCRIPTS,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Run the stateful apply tier: decoded-changelog file stream →
    transitions_stream → append-only parquet transition log. Returns the
    StreamingQuery (caller awaits termination)."""
    reader = spark.readStream.schema(change_event_schema(spec))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(changelog_dir)

    transitions = transitions_stream(stream, spec)
    writer = (
        transitions.writeStream.format("parquet")
        .option("path", out_dir)
        .option(
            "checkpointLocation",
            checkpoint_dir or f"{out_dir}/_stream_checkpoint",
        )
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_transitions_state(
    spark: SparkSession, out_dir: str, spec: TableSpec = TRANSCRIPTS
) -> DataFrame:
    """Current table from the transition log: per-key max-by-order
    reduction (one combinable aggregate), tombstones dropped."""
    keys = list(spec.primary_key)
    value_cols = [n for n, _, _ in spec.columns if n not in keys]
    df = spark.read.parquet(out_dir)
    rank = F.struct(*[F.col(c) for c in ORDER_COLS])
    payload = F.struct(
        F.col("op"), *[F.col(f"after_{c}").alias(c) for c in value_cols]
    )
    return (
        df.groupBy(*keys)
        .agg(F.max_by(payload, rank).alias("_w"))
        .filter(F.col("_w.op") != "delete")
        .select(*keys, *[F.col(f"_w.{c}").alias(c) for c in value_cols])
    )
