"""Event ordering & last-writer-wins dedup (W1 in SURVEY.md §2.5).

The reference is single-threaded, so "ordering" is implicit: file order =
commit order (binlog_client.rs:112-114). Distributed replay makes it
explicit: the total order of a change event is

    (gtid_seq, pos, row_in_event)

— GTID sequence is the transaction commit order; ``pos`` (byte offset,
header chain per event_header.rs:24) orders events *within* a transaction;
``row_in_event`` breaks ties inside multi-row events. Ordering by commit
order rather than raw file position makes duplicate redelivery safe: a
re-sent transaction lands at a later file position but keeps its original
gtid_seq, so it can never outrank a newer transaction on the same key
(ST5 idempotence, uuid_set.rs:46-48). For GTID-less streams pass
``order_cols=["src_file", "pos", "row_in_event"]``.

TRANSACTION_PAYLOAD streams (MySQL binlog_transaction_compression) splice
a whole transaction's events out of one wrapper frame, so they all share
the wrapper's on-disk ``pos``; the decoders keep the order total by
numbering ``row_in_event`` cumulatively across the frames of one wrapper
(binlog/compressed.py). Plain frames never share a ``pos``, so their
``row_in_event`` stays the familiar per-event index.

Multi-source caveat: ``gtid_seq`` values from different ``gtid_source``
uuids are not mutually ordered, so the default order is only total within
one source. That matches replication reality — cross-origin writes to the
same key have no defined global order — and is safe when key spaces are
source-disjoint (tested). For a multi-writer same-key deployment pass an
application timestamp as the leading order column.

Skew: hot conversations concentrate updates on few (conv_id, turn_idx) keys.
``last_writer_wins`` supports an explicit **salted two-phase reduce**
(north_star requirement): phase 1 reduces within (key, salt) groups —
spreading one hot key over ``salt_buckets`` reducers — phase 2 reduces the
per-salt winners. Spark's partial aggregation (map-side combine) already
absorbs most skew for max_by; the salt path is for the adversarial case
where a single key exceeds what one reducer's combine pass should own, and
is measured in BENCH.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ORDER_COLS = ["gtid_seq", "pos", "row_in_event"]


def with_change_key(changes: DataFrame, key_names: list[str]) -> DataFrame:
    """Key of a change row: after-image for insert/update, before-image for
    delete (row_data.rs:18-24 before/after model)."""
    out = changes
    for k in key_names:
        out = out.withColumn(k, F.coalesce(F.col(f"after_{k}"), F.col(f"before_{k}")))
    return out


def last_writer_wins(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str] | None = None,
    payload_cols: list[str] | None = None,
    salt_buckets: int = 0,
) -> DataFrame:
    """Reduce to the last change per key under the total order.

    Implemented as an *aggregation* (``max_by(payload, order)``), not a
    window: a window (`row_number` over partitionBy(key)) must shuffle and
    sort every event; max_by gets map-side partial aggregation — each task
    pre-reduces its local events per key before the shuffle, so the shuffle
    carries at most (keys × tasks) rows instead of all events. At 10^10
    events over ~10^8 keys that is the difference between shuffling 10^10
    and ~10^8 rows.
    """
    order_cols = order_cols or ORDER_COLS
    payload_cols = payload_cols or [
        c for c in df.columns if c not in key_cols
    ]
    ordv = F.struct(*[F.col(c) for c in order_cols])
    payload = F.struct(*[F.col(c) for c in payload_cols])

    if salt_buckets and salt_buckets > 1:
        salted = df.withColumn(
            "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in order_cols]), F.lit(salt_buckets))
        )
        phase1 = salted.groupBy(*key_cols, "_salt").agg(
            F.max_by(payload, ordv).alias("_win")
        )
        ord2 = F.struct(*[F.col(f"_win.{c}") for c in order_cols])
        phase2 = phase1.groupBy(*key_cols).agg(F.max_by(F.col("_win"), ord2).alias("_win"))
    else:
        phase2 = df.groupBy(*key_cols).agg(F.max_by(payload, ordv).alias("_win"))

    return phase2.select(*key_cols, *[F.col(f"_win.{c}").alias(c) for c in payload_cols])


def apply_column_defaults(
    df: DataFrame, spec, row_image: str = "full"
) -> DataFrame:
    """MySQL instant-ADD-COLUMN semantics over decoded change rows: a
    column added with a literal ``DEFAULT`` (``TableSpec.defaults``)
    reads as that default for events logged while it did not yet exist —
    its ``after_present`` bit clear. FULL images fill every non-delete op
    (the server logs whole rows, so a clear bit means the column was
    absent from the table); MINIMAL images fill inserts only (updates
    legitimately omit unchanged columns; the per-column LWW then falls
    back to the insert's defaulted value). Sets the presence bit so the
    carried mask treats the default as carried. Pure codegen
    projections, no exchange. Shared by the batch Replayer and the
    streaming apply tier."""
    defaults = tuple(getattr(spec, "defaults", ()) or ())
    if not defaults:
        return df
    name_to_ci = {c: i for i, (c, _, _) in enumerate(spec.columns)}
    ddl = {n: d for n, d, _ in spec.columns}
    for col, lit in defaults:
        ci = name_to_ci[col]
        absent = (
            F.shiftright(F.col("after_present"), ci).bitwiseAND(F.lit(1)) == 0
        )
        if row_image == "minimal":
            cond = absent & (F.col("op") == "insert")
        else:
            cond = absent & (F.col("op") != "delete")
        df = df.withColumn(
            f"after_{col}",
            F.when(cond, F.expr(f"CAST({lit} AS {ddl[col]})")).otherwise(
                F.col(f"after_{col}")
            ),
        ).withColumn(
            "after_present",
            F.when(
                cond, F.col("after_present").bitwiseOR(F.lit(1 << ci))
            ).otherwise(F.col("after_present")),
        )
    return df


def last_writer_wins_partial(
    df: DataFrame,
    key_cols: list[str],
    spec,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Per-COLUMN last-writer-wins for partial row images
    (binlog_row_image=MINIMAL: updates carry only PK + changed columns,
    deletes only the PK — row_parser.rs:108-111).

    One aggregation pass per key computes, for every canonical column,
    the value of the latest event that *carried* it (``after_present``
    bit set, masked ``max_by``), plus the overall last op and a delete
    fence: a column winner older than the key's last delete is dead — the
    delete cleared it and only a later insert (full image) can restore
    it. Output: keys + op + order cols of the last event + ``after_<c>``
    + ``carried_mask`` (bit ci set ⇔ the merged state should take
    ``after_<c>`` for column ci; unset ⇔ keep the stored value).

    Same shuffle shape as the full-image ``last_writer_wins`` — map-side
    combinable aggregates, one exchange on the key."""
    order_cols = order_cols or ORDER_COLS
    ordv = F.struct(*[F.col(c) for c in order_cols])
    last_fields = list(
        dict.fromkeys(
            ["op"] + order_cols + ["src_file", "pos", "gtid_source", "gtid_seq", "xid"]
        )
    )
    last_payload = F.struct(*[F.col(c) for c in last_fields])

    aggs = [
        F.max_by(last_payload, ordv).alias("_last"),
        F.max(F.when(F.col("op") == "delete", ordv)).alias("_fence"),
    ]
    for ci, (name, _ddl, _kind) in enumerate(spec.columns):
        bit = F.shiftright(F.col("after_present"), ci).bitwiseAND(F.lit(1)) == 1
        aggs.append(
            F.max_by(
                F.struct(F.col(f"after_{name}").alias("v"), ordv.alias("o")),
                F.when(bit, ordv),
            ).alias(f"_w_{name}")
        )
    agg = df.groupBy(*key_cols).agg(*aggs)

    carried_bits = []
    # per-column winners own the ``after_<col>`` names: an order override
    # that leads with a payload column (e.g. ``after_ts`` for multi-writer
    # timestamp ordering) must not also pass it through from ``_last`` —
    # a duplicate output name breaks every downstream reference
    winner_names = {f"after_{name}" for name, _, _ in spec.columns}
    sel = [*key_cols, F.col("_last.op").alias("op")]
    seen = set(key_cols) | {"op"}
    for c in [*order_cols, "src_file", "gtid_source", "xid"]:
        if c in seen or c in winner_names:
            continue
        sel.append(F.col(f"_last.{c}").alias(c))
        seen.add(c)
    for ci, (name, _ddl, _kind) in enumerate(spec.columns):
        w = F.col(f"_w_{name}")
        alive = w.isNotNull() & (
            F.col("_fence").isNull() | (w["o"] > F.col("_fence"))
        )
        sel.append(F.when(alive, w["v"]).alias(f"after_{name}"))
        carried_bits.append(F.when(alive, F.lit(1 << ci)).otherwise(F.lit(0)))
    carried = carried_bits[0]
    for b in carried_bits[1:]:
        carried = carried + b
    sel.append(carried.cast("long").alias("carried_mask"))
    return agg.select(*sel)


def lww_window(df: DataFrame, key_cols: list[str], order_cols: list[str] | None = None) -> DataFrame:
    """Window-function formulation of W1 (row_number desc == 1).

    Provided for parity with the survey's operator inventory and for
    verification (same result as last_writer_wins); the aggregate form above
    is the scale path.
    """
    from pyspark.sql.window import Window

    order_cols = order_cols or ORDER_COLS
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def scd2_history(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str] | None = None,
    value_cols: list[str] | None = None,
    dedup_cols: list[str] | None = None,
) -> DataFrame:
    """Materialize the change stream as SCD **Type-2 history**: one row per
    surviving version of each key, with validity bounds in the stream's
    total order — the audit-table sink mode, complementing the
    last-writer-wins upsert (the reference hands events to user code,
    README.md:61; history materialization is the other thing users build).

    Input: change rows with ``key_cols`` (post ``with_change_key``),
    ``op`` ('insert'/'update'/'delete'), ``after_<col>`` for every
    ``value_cols`` entry, and the order columns. Output per version:

    - key cols, ``version`` (1-based per key, deletes don't take a slot)
    - value cols (bare names, from the opening event's after-image)
    - ``valid_from_<o>`` / ``valid_to_<o>`` for each order col —
      ``valid_to_*`` NULL means the version is still current
    - ``is_current``, ``closed_by_delete``

    Redeliveries (ST5) are dropped first via ``dedup_cols`` (default:
    key + order tuple). A redelivered transaction keeps its gtid_seq but
    lands at a later ``pos``, so for GTID streams pass
    ``dedup_cols=[*keys, "gtid_seq", "row_in_event"]`` — the transaction
    identity — or the duplicate would mint a spurious version (LWW is
    naturally immune; history is not). Scale: one hash exchange + one
    sort per key partition;
    ``lead`` and the running version counter share the same window spec,
    so Catalyst plans a single Sort. Incremental use: MERGE each batch's
    history on (key, is_current) to close the previous current row.
    """
    from pyspark.sql.window import Window

    order_cols = order_cols or ORDER_COLS
    value_cols = value_cols or [
        c[len("after_"):]
        for c in df.columns
        if c.startswith("after_") and c[len("after_"):] not in key_cols
    ]
    d = df.dropDuplicates(dedup_cols or [*key_cols, *order_cols])
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c) for c in order_cols])
    nxt = F.lead(
        F.struct(*[F.col(c) for c in order_cols], F.col("op"))
    ).over(w)
    running = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c) for c in order_cols]
    ).rowsBetween(Window.unboundedPreceding, 0)
    h = d.select(
        *key_cols,
        "op",
        *[F.col(f"after_{c}").alias(f"_v_{c}") for c in value_cols],
        *order_cols,
        nxt.alias("_next"),
        F.sum((F.col("op") != "delete").cast("int")).over(running).alias("_ver"),
    )
    return h.filter(F.col("op") != "delete").select(
        *key_cols,
        F.col("_ver").alias("version"),
        *[F.col(f"_v_{c}").alias(c) for c in value_cols],
        *[F.col(c).alias(f"valid_from_{c}") for c in order_cols],
        *[F.col(f"_next.{c}").alias(f"valid_to_{c}") for c in order_cols],
        F.col("_next").isNull().alias("is_current"),
        F.coalesce(F.col("_next.op") == "delete", F.lit(False)).alias(
            "closed_by_delete"
        ),
    )


def gate_complete_transactions(changes: DataFrame) -> DataFrame:
    """ST2: only events whose transaction committed inside the replayed
    range may advance state (binlog_client.rs:69-99 — gtid cached at
    GtidEvent, flushed only at Xid/COMMIT). Decode marks uncommitted tails
    with NULL xid. ``Replayer.run_batch`` gates in the decode task
    (``decoder.SegmentStats.applied``); this Spark form serves callers
    decoding without ``stats`` and is the reference tests compare it to."""
    return changes.filter(F.col("xid").isNotNull())


def filter_covered_gtids(changes: DataFrame, intervals_df: DataFrame) -> DataFrame:
    """ST3/ST5 resume filter: drop events already covered by the ledger's
    GtidSet, as a broadcast range anti-join. The Spark reference form of
    the decode task's covered-GTID filter (``decoder.covered_rows``, which
    ``Replayer`` batches use); tests and the benchmark's traced plan
    prefixes compare against it."""
    if intervals_df.isEmpty():
        return changes
    cond = (
        (changes["gtid_source"] == intervals_df["uuid"])
        & (changes["gtid_seq"] >= intervals_df["start"])
        & (changes["gtid_seq"] <= intervals_df["end"])
    )
    return changes.join(F.broadcast(intervals_df), cond, "left_anti")
