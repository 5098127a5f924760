"""SURVEY.md §2 CDC operators expressed over the driver's ``events`` table.

The binlog-native implementations live in ``mysql_cdc_spark.binlog`` /
``mysql_cdc_spark.pipeline`` and are exercised by the pytest golden fixtures
(reference parity). This module re-expresses the *same operator semantics*
over the driver's synthetic ``events`` stream table
``(event_id, ts, user_id, event_type, value, props)`` so the external
correctness harness can diff each one against a DuckDB oracle.

Mapping (operator id → reference file:line → here):

- W1  last-writer-wins dedup        binlog_client.rs:112-114 (order contract)
- W2  forward-fill association      row_parser.rs:18-20 (TableMap precedes)
- J2  group-open/close association  binlog_client.rs:74-96 (Gtid..Xid group)
- A1  interval-set collapse         uuid_set.rs:29-98 (GtidSet add/collapse)
- A2  last-wins per domain          gtid_list.rs:51-60 (MariaDB GtidList)
- A3  position max per file         binlog_client.rs:101-117 (commit)
- P3  event-type filter             binlog_client.rs:105-116
- J1  dimension lookup join         event_parser.rs:30,117-119 (table-map)
- ST5 duplicate suppression         uuid_set.rs:46-48 (idempotent add)

All are pure DataFrame ops — Catalyst gets full pushdown/pruning; the only
shuffles are the ones the semantics require (groupBy on the operator key).
Scale notes are on each function.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import load


# ---------------------------------------------------------------------------
# W1 — last-writer-wins dedup (aggregate form: map-side partial combine).
# ---------------------------------------------------------------------------

def w1_lww_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final state per user under the stream's total order (ts, event_id).

    ``max_by(payload, order)`` not a row_number window: partial aggregation
    pre-reduces each map task to ≤1 row per key before the shuffle, so at
    10^10 events / 10^8 keys the shuffle carries ~keys×tasks rows, not every
    event (see pipeline/order.py:last_writer_wins — same operator on binlog
    change rows).
    """
    ev = load(spark, sf_dir, "events")
    ordv = F.struct(F.col("ts"), F.col("event_id"))
    payload = F.struct(F.col("event_id"), F.col("ts"), F.col("event_type"), F.col("value"))
    return (
        ev.groupBy("user_id")
        .agg(F.max_by(payload, ordv).alias("w"), F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.event_id").alias("last_event_id"),
            F.col("w.event_type").alias("last_event_type"),
            F.round(F.col("w.value"), 4).alias("last_value"),
            "n_events",
        )
    )


W1_SQL = """
WITH ranked AS (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_events
  FROM events
)
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
       round(value, 4) AS last_value, n_events
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# A1 — interval-set collapse (GtidSet algebra as gaps-and-islands).
# ---------------------------------------------------------------------------

def a1_interval_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse each user's set of event_ids into maximal contiguous
    intervals — the distributed formulation of GtidSet.add_gtid's
    extend/merge/collapse rules (uuid_set.rs:29-98): consecutive ids join
    one interval, gaps split intervals.

    ``event_id - row_number()`` is constant within a contiguous run, so one
    window + one groupBy; both shuffle on user_id only. The per-source
    interval index the reference maintains incrementally falls out of one
    pass here.
    """
    ev = load(spark, sf_dir, "events").select("user_id", "event_id")
    w = Window.partitionBy("user_id").orderBy("event_id")
    runs = ev.withColumn("grp", F.col("event_id") - F.row_number().over(w))
    return (
        runs.groupBy("user_id", "grp")
        .agg(
            F.min("event_id").alias("interval_start"),
            F.max("event_id").alias("interval_end"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.min("interval_start").alias("first_id"),
            F.max("interval_end").alias("last_id"),
            F.sum(F.col("interval_end") - F.col("interval_start") + 1).alias("covered"),
        )
    )


A1_SQL = """
WITH runs AS (
  SELECT user_id, event_id,
         event_id - row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS grp
  FROM events
), intervals AS (
  SELECT user_id, grp, min(event_id) AS interval_start, max(event_id) AS interval_end
  FROM runs GROUP BY user_id, grp
)
SELECT user_id, count(*) AS n_intervals, min(interval_start) AS first_id,
       max(interval_end) AS last_id,
       sum(interval_end - interval_start + 1)::BIGINT AS covered
FROM intervals GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# A2 — last-wins per (domain) — MariaDB GtidList semantics.
# ---------------------------------------------------------------------------

def a2_last_wins_per_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (user_id, event_type) keep only the latest value — GtidList's
    replace-in-place per domain_id (gtid_list.rs:51-60) generalized to a
    composite domain. Single max_by aggregation."""
    ev = load(spark, sf_dir, "events")
    ordv = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.max_by(F.col("event_id"), ordv).alias("latest_event_id"),
            F.round(F.max_by(F.col("value"), ordv), 4).alias("latest_value"),
        )
    )


A2_SQL = """
WITH ranked AS (
  SELECT user_id, event_type, event_id, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type, event_id AS latest_event_id,
       round(value, 4) AS latest_value
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# A3 — monotone position max (commit position advance).
# ---------------------------------------------------------------------------

def a3_position_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max(position) per stream — binlog_client.rs:101-117's commit rule
    aggregated per event_type 'file'."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.max("event_id").alias("max_position"),
            F.count(F.lit(1)).alias("n_events"),
            # epoch micros, not a raw timestamp: keeps the oracle diff
            # independent of timestamp rendering/zone conventions
            F.unix_micros(F.max("ts").cast("timestamp")).alias("max_ts_us"),
        )
    )


A3_SQL = """
SELECT event_type, max(event_id) AS max_position, count(*) AS n_events,
       epoch_us(max(ts)) AS max_ts_us
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# W2/J2 — forward-fill group association (Gtid opens, events inherit).
# ---------------------------------------------------------------------------

def w2_forward_fill_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treat each 'signup' as a group-opening control row (the Gtid event,
    binlog_client.rs:74-96) and forward-fill its event_id onto every
    subsequent event of that user — then aggregate events per session.

    ``last(..., ignorenulls)`` over rowsBetween(unboundedPreceding, 0) is
    the same window the binlog pipeline uses to attach TABLE_MAP/GTID to
    row events (order.py / SURVEY §2.5 W2-W3). One shuffle on user_id.
    """
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = ev.withColumn(
        "session_id",
        F.last(
            F.when(F.col("event_type") == "signup", F.col("event_id")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        filled.filter(F.col("session_id").isNotNull())
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
    )


W2_SQL = """
WITH filled AS (
  SELECT user_id, value,
         last_value(CASE WHEN event_type = 'signup' THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM events
)
SELECT user_id, session_id, count(*) AS n_events,
       round(sum(value), 4) AS session_value
FROM filled WHERE session_id IS NOT NULL
GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# P4/ST2 — transaction-boundary gate (complete groups only).
# ---------------------------------------------------------------------------

def p4_txn_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BEGIN/COMMIT gating over the stream: 'signup' opens a group,
    'purchase' commits it; only events of *committed* groups may advance
    state (binlog_client.rs:88-95 — rows buffer until COMMIT; uncommitted
    tails are dropped by the gate, decoder.py emits them with NULL xid).

    Two windows, one shuffle: forward-fill the group id, then a windowed
    max marks groups containing a commit."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grouped = ev.withColumn(
        "txn_id",
        F.last(
            F.when(F.col("event_type") == "signup", F.col("event_id")),
            ignorenulls=True,
        ).over(w),
    ).filter(F.col("txn_id").isNotNull())
    wg = Window.partitionBy("user_id", "txn_id")
    gated = grouped.withColumn(
        "committed",
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).over(wg),
    ).filter(F.col("committed") == 1)
    return gated.groupBy("user_id", "txn_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("txn_value"),
    )


P4_SQL = """
WITH grouped AS (
  SELECT user_id, event_id, event_type, value,
         last_value(CASE WHEN event_type = 'signup' THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS txn_id
  FROM events
), gated AS (
  SELECT *, max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id, txn_id) AS committed
  FROM grouped WHERE txn_id IS NOT NULL
)
SELECT user_id, txn_id, count(*) AS n_events,
       round(sum(value), 4) AS txn_value
FROM gated WHERE committed = 1
GROUP BY user_id, txn_id
"""


# ---------------------------------------------------------------------------
# P3 — predicate + projection (pushdown demo).
# ---------------------------------------------------------------------------

def p3_event_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type filter + projection: Catalyst pushes both into the parquet scan
    (PushedFilters: In(event_type, ...); ReadSchema: 3 of 6 columns) —
    the consumer-side variant match of binlog_client.rs:105-116."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin("purchase", "signup"))
        .filter(F.col("value") > 5.0)
        .select("event_id", "user_id", "event_type")
    )


P3_SQL = """
SELECT event_id, user_id, event_type
FROM events
WHERE event_type IN ('purchase', 'signup') AND value > 5.0
"""


# ---------------------------------------------------------------------------
# J1 — broadcast dimension lookup join (table-map cache).
# ---------------------------------------------------------------------------

def j1_dim_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dim N:1 lookup — the distributed form of the parser's
    table_id → TableMapEvent HashMap (event_parser.rs:30,117-119).

    ``F.broadcast`` pins a BroadcastHashJoin: the dim (customer×nation,
    ~10^3 rows even at SF100) ships to every executor; the 10^10-row fact
    side never shuffles. Aggregation after the join gets map-side combine.
    """
    ev = load(spark, sf_dir, "events")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_mktsegment")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    joined = ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey, "inner")
    return (
        joined.groupBy("n_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


J1_SQL = """
SELECT n.n_name, c.c_mktsegment, count(*) AS n_events,
       round(sum(e.value), 4) AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name, c.c_mktsegment
"""


# ---------------------------------------------------------------------------
# ST5 — duplicate suppression (idempotent re-delivery).
# ---------------------------------------------------------------------------

def st5_duplicate_suppression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union the stream with a re-delivered slice of itself, then dedup to
    exactly-once on the event id — add_gtid's covered-check
    (uuid_set.rs:46-48) as a distributed aggregate. Output proves the
    duplicate copies collapsed: global counts equal the original stream's.
    """
    ev = load(spark, sf_dir, "events")
    redelivered = ev.filter(F.col("event_id") % 10 == 3)  # deterministic replay slice
    unioned = ev.unionByName(redelivered)
    deduped = unioned.groupBy("event_id").agg(
        # min, not first: deterministic regardless of partition order (the
        # values are equal copies, but the plan shouldn't rely on that)
        F.min("user_id").alias("user_id"),
        F.max("ts").alias("ts"),
    )
    return deduped.agg(
        F.count(F.lit(1)).alias("n_unique_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.unix_micros(F.max("ts").cast("timestamp")).alias("max_ts_us"),
    )


ST5_SQL = """
WITH unioned AS (
  SELECT event_id, user_id, ts FROM events
  UNION ALL
  SELECT event_id, user_id, ts FROM events WHERE event_id % 10 = 3
), deduped AS (
  SELECT event_id, max(ts) AS ts, min(user_id) AS user_id
  FROM unioned GROUP BY event_id
)
SELECT count(*) AS n_unique_events, count(DISTINCT user_id) AS n_users,
       epoch_us(max(ts)) AS max_ts_us
FROM deduped
"""


# ---------------------------------------------------------------------------
# W4 — gap-based sessionization (streaming session-window analog).
# ---------------------------------------------------------------------------

_SESSION_GAP_S = 3600  # a new session starts after an hour of silence


def w4_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows over the event stream — the batch twin
    of Structured Streaming's ``session_window`` (and of the stateful
    per-key timeout an ``applyInPandasWithState`` operator maintains):
    a >1h silence per user starts a new session.

    Gaps-and-islands: one ``lag`` + one running ``sum`` over the same
    (user_id, ts) window — a single shuffle on user_id, then an ordinary
    aggregate. No state store needed in batch; at 10^10 events the
    partitioning matches every other per-user operator here."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gapped = ev.withColumn(
        "new_session",
        F.when(
            us - F.lag(us).over(w) > _SESSION_GAP_S * 1_000_000,
            1,
        ).otherwise(0),
    ).withColumn("session_idx", F.sum("new_session").over(w))
    return (
        gapped.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.min("ts").cast("timestamp")).alias("start_us"),
            F.unix_micros(F.max("ts").cast("timestamp")).alias("end_us"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
    )


W4_SQL = f"""
WITH gapped AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                   > {_SESSION_GAP_S}::BIGINT * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS session_idx
  FROM gapped
)
SELECT user_id, session_idx::BIGINT AS session_idx, count(*) AS n_events,
       epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
       round(sum(value), 4) AS session_value
FROM sess GROUP BY user_id, session_idx
"""


def j3_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join, the temporal-join operator Spark lacks as a
    built-in: for every ``click`` event, the most recent ``view`` event by
    the same user at or before the click (left: clicks with no prior view
    keep NULLs).

    Composition instead of an inequality join: tag views side=0 and
    clicks side=1, union, then one window per user ordered by
    (ts, side) forward-fills the last-seen view columns onto each click —
    ONE shuffle on user_id and one sort, versus the
    BroadcastNestedLoop/cartesian plan a naive ``ts_a <= ts_b`` join
    compiles to. At 10^10 events this is the same exchange every other
    per-user operator here uses; for heavy single-user skew, pre-bucket
    ts coarsely and carry the bucket into the key (same trick as
    ``j4_range_join``). Ties need no tiebreak: (user_id, ts) is unique in
    the stream, and an equal-ts view sorts before its click (side 0 < 1)
    to make the join inclusive. All gap arithmetic in integer micros.

    Oracle: DuckDB's native ``ASOF LEFT JOIN``.
    """
    ev = load(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("t"),
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("event_id").alias("view_event_id"),
        F.col("ts").cast("timestamp").alias("view_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("t"),
        F.lit(1).alias("side"),
        "event_id",
        F.lit(None).cast("long").alias("view_event_id"),
        F.lit(None).cast("timestamp").alias("view_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = views.unionByName(clicks).select(
        "user_id",
        "t",
        "side",
        "event_id",
        F.last("view_event_id", ignorenulls=True).over(w).alias("view_event_id"),
        F.last("view_ts", ignorenulls=True).over(w).alias("view_ts"),
    )
    return filled.filter(F.col("side") == 1).select(
        "event_id",
        "user_id",
        F.unix_micros("t").alias("click_us"),
        "view_event_id",
        F.unix_micros("view_ts").alias("view_us"),
        (F.unix_micros("t") - F.unix_micros("view_ts")).alias("gap_us"),
    )


J3_SQL = """
SELECT c.event_id,
       c.user_id,
       epoch_us(c.ts) AS click_us,
       v.event_id AS view_event_id,
       epoch_us(v.ts) AS view_us,
       epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON c.user_id = v.user_id AND c.ts >= v.ts
"""


_RANGE_W_S = 3600  # attribution window


def j4_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join (interval self-join): view→purchase attribution
    pairs — a purchase by the same user within (0, 1h] after a view.

    Spark has no range-join optimizer rule (a naive ``b.ts > a.ts AND
    b.ts <= a.ts + 1h`` equi-less join compiles to a nested-loop plan),
    so bucket time by the window width: a view lives in ONE bucket
    (floor(us / W)); each purchase probes TWO consecutive buckets
    (its own and the previous — any qualifying view must be in one of
    them, and exactly one, so no dedup pass). The join is then a plain
    equi-join on (user_id, bucket) with the exact predicate as a
    post-filter — shuffle carries each purchase twice, never a cross
    product. The bucketed-pair count bounds the work regardless of how
    long the stream is; skewed users split across time buckets for free.
    """
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w_us = _RANGE_W_S * 1_000_000
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_event_id"),
        us.alias("view_us"),
        F.floor(us / w_us).alias("bucket"),
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_event_id"),
            us.alias("purchase_us"),
            F.explode(
                F.array(F.floor(us / w_us), F.floor(us / w_us) - 1)
            ).alias("bucket"),
        )
    )
    return (
        views.join(purchases, ["user_id", "bucket"])
        .filter(
            (F.col("purchase_us") > F.col("view_us"))
            & (F.col("purchase_us") <= F.col("view_us") + w_us)
        )
        .select(
            "user_id",
            "view_event_id",
            "purchase_event_id",
            "view_us",
            "purchase_us",
            (F.col("purchase_us") - F.col("view_us")).alias("gap_us"),
        )
    )


J4_SQL = f"""
SELECT a.user_id,
       a.event_id AS view_event_id,
       b.event_id AS purchase_event_id,
       epoch_us(a.ts) AS view_us,
       epoch_us(b.ts) AS purchase_us,
       epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'view' AND b.event_type = 'purchase'
 AND epoch_us(b.ts) > epoch_us(a.ts)
 AND epoch_us(b.ts) <= epoch_us(a.ts) + {_RANGE_W_S}::BIGINT * 1000000
"""


# ---------------------------------------------------------------------------
# W5 — SCD Type-2 history materialization (the audit-table sink mode;
# pipeline twin: pipeline/order.py:scd2_history over decoded change rows).
# ---------------------------------------------------------------------------

def w5_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's purchase stream as Type-2 history: every event opens a
    version valid until the next event (NULL = still current).

    One hash exchange (user_id) + one sort; ``row_number`` and both
    ``lead``s share the window spec, so Catalyst plans a single Window
    over a single Sort. At 10^10 events this is the same shuffle class as
    the LWW aggregate, but it keeps every version instead of one — the
    right tool when the sink is an audit/history table.
    """
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        F.row_number().over(w).alias("version"),
        "event_id",
        F.round("value", 4).alias("value"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


W5_SQL = """
SELECT user_id,
       row_number() OVER w AS version,
       event_id,
       round(value, 4) AS value,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       lead(ts) OVER w IS NULL AS is_current
FROM events
WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# ---------------------------------------------------------------------------
# W6 — change-data-feed between two state versions (pipeline twin:
# pipeline/target.py:snapshot_diff / Replayer.read_changes).
# ---------------------------------------------------------------------------

def _lww_state(ev: DataFrame) -> DataFrame:
    """Per-user LWW image (the replicated-state analog used by W6/W7)."""
    payload = F.struct("event_id", "event_type", "value")
    ordv = F.struct("ts", "event_id")
    return (
        ev.groupBy("user_id")
        .agg(F.max_by(payload, ordv).alias("w"))
        .select(
            "user_id",
            F.col("w.event_id").alias("event_id"),
            F.col("w.event_type").alias("event_type"),
            F.col("w.value").alias("value"),
        )
    )


def w6_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change feed between the LWW state at a stream cutoff
    (event_id ≤ max/2) and the final state — the events-table analog of
    ``target.read_changes``: one row per user whose image changed, typed
    ``insert`` (user appeared after the cutoff) or ``update`` (their last
    event changed). Append-only stream → no deletes, same classification
    CASE as the snapshot diff.

    Plan shape: the cutoff is a 1-row broadcast (no driver collect), the
    two LWW aggregates partial-combine map-side, and the diff is one
    key-partitioned full-outer join — identical shuffle class to the
    pipeline's ``snapshot_diff``. Unchanged users (same last event id)
    are filtered before projection."""
    ev = load(spark, sf_dir, "events")
    cut = ev.agg((F.max("event_id") / 2).cast("long").alias("_cut"))
    ev = ev.crossJoin(F.broadcast(cut))
    s_old = _lww_state(ev.filter(F.col("event_id") <= F.col("_cut"))).select(
        F.col("user_id"),
        F.col("event_id").alias("_o_id"),
    )
    s_new = _lww_state(ev).select(
        "user_id",
        F.col("event_id").alias("_n_id"),
        F.col("event_type").alias("_n_type"),
        F.col("value").alias("_n_val"),
    )
    j = s_old.join(s_new, on="user_id", how="full_outer")
    change_type = (
        F.when(F.col("_o_id").isNull(), F.lit("insert"))
        .when(F.col("_n_id").isNull(), F.lit("delete"))
        .when(F.col("_o_id") != F.col("_n_id"), F.lit("update"))
    )
    return (
        j.withColumn("change_type", change_type)
        .filter(F.col("change_type").isNotNull())
        .select(
            "user_id",
            "change_type",
            F.col("_n_id").alias("last_event_id"),
            F.col("_n_type").alias("last_event_type"),
            F.round("_n_val", 4).alias("last_value"),
        )
    )


W6_SQL = """
WITH cut AS (SELECT (max(event_id) // 2)::BIGINT AS c FROM events),
ranked_old AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events, cut WHERE event_id <= cut.c
), s_old AS (SELECT user_id, event_id FROM ranked_old WHERE rn = 1),
ranked_new AS (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
), s_new AS (
  SELECT user_id, event_id, event_type, value FROM ranked_new WHERE rn = 1
), classified AS (
  SELECT coalesce(n.user_id, o.user_id) AS user_id,
         CASE WHEN o.user_id IS NULL THEN 'insert'
              WHEN n.user_id IS NULL THEN 'delete'
              WHEN o.event_id <> n.event_id THEN 'update' END AS change_type,
         n.event_id AS last_event_id,
         n.event_type AS last_event_type,
         round(n.value, 4) AS last_value
  FROM s_old o FULL OUTER JOIN s_new n ON o.user_id = n.user_id
)
SELECT * FROM classified WHERE change_type IS NOT NULL
"""


# ---------------------------------------------------------------------------
# W7 — incremental aggregate maintenance (pipeline twin:
# pipeline/ivm.py:MaterializedAggView). The Spark side maintains the
# GROUP BY through two delta folds; the oracle recomputes it directly
# from the final state — equality proves the delta algebra.
# ---------------------------------------------------------------------------

def w7_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY last_event_type over the per-user LWW state, maintained
    *incrementally* across three stream prefixes (event_id ≤ max/3,
    ≤ 2·max/3, all): view₁ = agg(state₁), then each step folds the signed
    contributions of the state diff — an updated user subtracts their old
    image from its group and adds the new image to its (possibly
    different) group. The measures are a count and a DECIMAL(18,2) sum,
    so the fold is exact and must equal the oracle's direct recompute
    over the final state bit-for-bit.

    Scale note: this is the plan ``MaterializedAggView.refresh`` runs per
    batch — delta-sized aggregates joined against a |groups|-sized view,
    never a rescan of replicated state (here the "states" are derived
    in-plan because the harness input is the raw stream)."""
    ev = load(spark, sf_dir, "events")
    cut = ev.agg(
        (F.max("event_id") / 3).cast("long").alias("_c1"),
        (F.max("event_id") * 2 / 3).cast("long").alias("_c2"),
    )
    ev = ev.crossJoin(F.broadcast(cut))
    dval = F.round(F.col("value"), 2).cast("decimal(18,2)")

    def state(pred) -> DataFrame:
        return _lww_state(ev.filter(pred)).select(
            "user_id", "event_id", "event_type", dval.alias("dval")
        )

    s1 = state(F.col("event_id") <= F.col("_c1"))
    s2 = state(F.col("event_id") <= F.col("_c2"))
    s3 = state(F.lit(True))

    def agg_of(state_df: DataFrame) -> DataFrame:
        return state_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("dval").alias("tv"),
        )

    def delta(sa: DataFrame, sb: DataFrame) -> DataFrame:
        o = sa.select(
            "user_id",
            F.col("event_id").alias("_o_id"),
            F.col("event_type").alias("_o_type"),
            F.col("dval").alias("_o_val"),
        )
        n = sb.select(
            "user_id",
            F.col("event_id").alias("_n_id"),
            F.col("event_type").alias("_n_type"),
            F.col("dval").alias("_n_val"),
        )
        j = o.join(n, on="user_id", how="full_outer")
        changed = F.col("_o_id").isNull() | F.col("_n_id").isNull() | (
            F.col("_o_id") != F.col("_n_id")
        )
        out_entry = F.when(
            F.col("_o_id").isNotNull() & changed,
            F.struct(
                F.lit(-1).alias("_sign"),
                F.col("_o_type").alias("event_type"),
                F.col("_o_val").alias("dval"),
            ),
        )
        in_entry = F.when(
            F.col("_n_id").isNotNull() & changed,
            F.struct(
                F.lit(1).alias("_sign"),
                F.col("_n_type").alias("event_type"),
                F.col("_n_val").alias("dval"),
            ),
        )
        signed = j.select(
            F.explode(F.array(out_entry, in_entry)).alias("e")
        ).filter(F.col("e").isNotNull())
        return signed.groupBy(F.col("e.event_type").alias("event_type")).agg(
            F.sum("e._sign").cast("long").alias("d_n"),
            F.sum(F.col("e._sign") * F.col("e.dval")).alias("d_tv"),
        )

    def fold(view: DataFrame, d: DataFrame) -> DataFrame:
        m = view.join(d, on="event_type", how="full_outer")
        return m.select(
            "event_type",
            (
                F.coalesce(F.col("n_users"), F.lit(0))
                + F.coalesce(F.col("d_n"), F.lit(0))
            ).alias("n_users"),
            (
                F.coalesce(F.col("tv"), F.lit(0))
                + F.coalesce(F.col("d_tv"), F.lit(0))
            ).alias("tv"),
        ).filter(F.col("n_users") > 0)

    view = fold(fold(agg_of(s1), delta(s1, s2)), delta(s2, s3))
    return view.select(
        F.col("event_type").alias("last_event_type"),
        F.col("n_users").cast("long").alias("n_users"),
        F.round(F.col("tv"), 2).cast("double").alias("total_value"),
    )


W7_SQL = """
WITH ranked AS (
  SELECT user_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
), state AS (
  SELECT user_id, event_type, round(value, 2)::DECIMAL(18,2) AS dval
  FROM ranked WHERE rn = 1
)
SELECT event_type AS last_event_type,
       count(*) AS n_users,
       (round(sum(dval), 2))::DOUBLE AS total_value
FROM state GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# F11 — JSON column codec end-to-end (beyond-reference; binlog/jsonb.py).
# ---------------------------------------------------------------------------

def jsonb_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MySQL JSON binary ("jsonb") codec, end-to-end through the engine's
    own kernels: build the wire blob a JSON column carries in WRITE_ROWS
    (``encode_jsonb``), then decode it back to canonical JSON text with
    the same ``jsonb_to_text`` the row decoder applies to kind ``"json"``
    columns (the reference stops at the raw blob, row_parser.rs:174-175).

    Exercises every scalar family (int16 inline, bool/null literals,
    string, opaque NEWDECIMAL) plus nested array + object key ordering
    (MySQL stores keys sorted by (length, bytes)). mapInPandas at
    Arrow-batch granularity: a single codegen'd 4-column scan into one
    Python stage, zero shuffles, blob bytes never leave the task. The
    oracle constructs the identical canonical text (MySQL ', '/': '
    spacing, storage key order) by SQL string concatenation — any
    encode-or-decode defect breaks text equality on every row."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )

    def batch(it):
        import pandas as pd

        from ..binlog.jsonb import encode_jsonb, jsonb_to_text

        for pdf in it:
            texts = []
            for did, lang, src, n in zip(
                pdf["doc_id"], pdf["lang"], pdf["source"], pdf["n_chars"]
            ):
                n = int(n)
                v = {
                    "n": n,
                    "t": [True, None, n % 7],
                    "id": int(did),
                    "amt": Decimal(f"{n}.25"),
                    "src": str(src),
                    "lang": str(lang),
                }
                texts.append(jsonb_to_text(encode_jsonb(v)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "json_text": texts})

    return docs.mapInPandas(batch, "doc_id long, json_text string")


# storage key order: sorted by (byte length, bytes) → n, t, id, amt, src, lang
JSONB_SQL = """
SELECT doc_id,
       '{"n": ' || n_chars
       || ', "t": [true, null, ' || (n_chars % 7)
       || '], "id": ' || doc_id
       || ', "amt": ' || n_chars || '.25'
       || ', "src": "' || source
       || '", "lang": "' || lang || '"}' AS json_text
FROM documents
"""


def geometry_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MySQL GEOMETRY codec end-to-end: build the column blob (4-byte
    SRID + WKB) with ``encode_geometry`` and decode it back to WKT with
    the same ``geometry_to_wkt`` the row decoder applies to kind
    ``"geometry"`` columns (the reference returns the raw blob,
    row_parser.rs:174-175). Same plan shape as jsonb_roundtrip: one
    codegen'd scan into one Arrow-batched Python stage, zero shuffles.
    Coordinates are integer-derived so the oracle can build the exact
    text with integer concatenation (no float-formatting ambiguity)."""
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def batch(it):
        import pandas as pd

        from ..binlog.geometry import encode_geometry, geometry_to_wkt

        for pdf in it:
            texts = []
            for did in pdf["doc_id"]:
                did = int(did)
                blob = encode_geometry(
                    ("point", (did % 180 + 0.5, did % 90)),
                    srid=4326 if did % 2 else 0,
                )
                texts.append(geometry_to_wkt(blob))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "wkt": texts})

    return docs.mapInPandas(batch, "doc_id long, wkt string")


GEOMETRY_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 1 THEN 'SRID=4326;' ELSE '' END
       || 'POINT(' || (doc_id % 180) || '.5 ' || (doc_id % 90) || ')' AS wkt
FROM documents
"""


# doc_id % 5 picks the column charset; literal must survive its codec
_CHARSET_CASES = [
    (8, "cp1252", "café £9"),        # latin1 (MySQL latin1 = cp1252)
    (51, "cp1251", "привет мир"),    # cp1251 cyrillic
    (54, "utf-16-be", "Ψαλμός ✓"),   # utf16 (BE, no BOM)
    (28, "gbk", "中文文本"),          # gbk
    (255, "utf-8", "plain ünïcode"),  # utf8mb4_0900_ai_ci
]


def charset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset-aware string decode end-to-end (beyond-reference — the
    reference hardwires UTF-8, extensions.rs read_string): per row, pick
    a column charset by ``doc_id % 5`` (latin1/cp1251/utf16/gbk/utf8mb4),
    encode a deterministic text in that charset — the bytes a real server
    logs for a VARCHAR of that collation — build the length-prefixed
    VARCHAR cell, and decode it back through the engine's own kernel
    (``parse_string_cell`` + ``codec_for_collation``, the same pair both
    decode paths apply from TABLE_MAP charset metadata). mapInPandas, one
    codegen'd scan, zero shuffles. The oracle reconstructs the identical
    text in SQL, so a wrong collation→codec mapping breaks equality on
    every row of that charset."""
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def batch(it):
        import pandas as pd

        from ..binlog.charset import codec_for_collation
        from ..binlog.kernels import parse_string_cell

        for pdf in it:
            texts, charsets = [], []
            for did in pdf["doc_id"]:
                collation, codec, literal = _CHARSET_CASES[int(did) % 5]
                raw = f"{literal} #{int(did)}".encode(codec)
                cell = bytes([len(raw)]) + raw  # metadata<256 → 1-byte prefix
                value, _ = parse_string_cell(
                    cell, 0, 64, codec_for_collation(collation)
                )
                texts.append(value)
                charsets.append(codec)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "charset": charsets, "text": texts}
            )

    return docs.mapInPandas(batch, "doc_id long, charset string, text string")


CHARSET_SQL = """
SELECT doc_id,
       CASE doc_id % 5
         WHEN 0 THEN 'cp1252' WHEN 1 THEN 'cp1251' WHEN 2 THEN 'utf-16-be'
         WHEN 3 THEN 'gbk' ELSE 'utf-8' END AS charset,
       CASE doc_id % 5
         WHEN 0 THEN 'café £9'
         WHEN 1 THEN 'привет мир'
         WHEN 2 THEN 'Ψαλμός ✓'
         WHEN 3 THEN '中文文本'
         ELSE 'plain ünïcode' END || ' #' || doc_id AS text
FROM documents
"""


def partial_json_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MySQL 8 ``binlog_row_value_options=PARTIAL_JSON`` end-to-end
    (beyond-reference — the reference's event enum stops before type 39):
    per Arrow batch, write a real PARTIAL_UPDATE_ROWS_EVENT binlog
    segment whose after-images carry JSON *diff vectors* (REPLACE +
    INSERT member/element + REMOVE, WL#2955 / sql/json_diff.cc wire
    layout), then decode it through the engine's own reader — which
    expands each diff against the before-image document
    (binlog/partial.py) — and render the applied documents to canonical
    JSON text.

    Scale shape: one writer + reader per Arrow batch inside
    ``mapInPandas`` — a single codegen'd scan into one Python stage,
    zero shuffles, frame bytes never leave the task; this is exactly the
    per-segment splice the replay pipeline runs. The oracle constructs
    the post-diff document text directly in SQL, so any defect in path
    parsing, diff application, or the jsonb codec breaks equality on
    every row."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")

    def batch(it):
        import pandas as pd

        from ..binlog.constants import ColumnType
        from ..binlog.encoder import BinlogWriter
        from ..binlog.jsonb import encode_jsonb, jsonb_to_text
        from ..binlog.partial import (
            DIFF_INSERT,
            DIFF_REMOVE,
            DIFF_REPLACE,
            PartialJson,
        )
        from ..binlog.reader import BinlogFileReader

        ctypes = [ColumnType.LONGLONG, ColumnType.JSON]
        cmeta = [0, 4]
        for pdf in it:
            pairs = []
            for did, lang, n in zip(pdf["doc_id"], pdf["lang"], pdf["n_chars"]):
                did, n = int(did), int(n)
                before = {"rev": n, "tags": [str(lang), "x"], "keep": "drop me"}
                diffs = [
                    (DIFF_REPLACE, "$.rev", n + 1),
                    (DIFF_INSERT, "$.tags[1]", "ins"),
                    (DIFF_REMOVE, "$.keep", None),
                    (DIFF_INSERT, "$.note", f"d{did}"),
                ]
                pairs.append(
                    ([did, encode_jsonb(before)], [did, PartialJson(diffs)])
                )
            w = BinlogWriter("partial.000001")
            w.write_table_map(31, "app", "docs", ctypes, cmeta, [False, True])
            w.write_partial_update_rows(31, ctypes, cmeta, pairs)
            ids, texts = [], []
            for _h, _p, kind, ev in BinlogFileReader(w.getvalue(), "partial.000001"):
                if kind == "update_rows":
                    for _before, after in ev["rows"]:
                        ids.append(after[0])
                        texts.append(jsonb_to_text(after[1]))
            yield pd.DataFrame({"doc_id": ids, "json_text": texts})

    return docs.mapInPandas(batch, "doc_id long, json_text string")


# applied doc {"rev": n+1, "tags": [lang, "ins", "x"], "note": "d<id>"};
# MySQL storage key order sorts by (byte length, bytes) → rev, note, tags
PARTIAL_JSON_SQL = """
SELECT doc_id,
       '{"rev": ' || (n_chars + 1)
       || ', "note": "d' || doc_id
       || '", "tags": ["' || lang || '", "ins", "x"]}' AS json_text
FROM documents
"""


def jsonb_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path query over decoded jsonb text: the blob → text decode
    hands off to Spark's native, codegen'd ``get_json_object`` — the
    composition a CDC consumer actually runs (decode once, query fields
    JVM-side forever after). Aggregates by an extracted field so the
    oracle discriminates on path semantics, not just text equality."""
    rt = jsonb_roundtrip(spark, sf_dir)
    return (
        rt.select(
            F.get_json_object("json_text", "$.lang").alias("lang"),
            F.get_json_object("json_text", "$.n").cast("long").alias("n"),
            F.get_json_object("json_text", "$.t[2]").cast("long").alias("t2"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("total_chars"),
            F.sum("t2").alias("total_mod7"),
        )
    )


JSONB_EXTRACT_SQL = f"""
WITH rt AS ({JSONB_SQL}),
ex AS (
  SELECT json_extract_string(json_text, '$.lang') AS lang,
         json_extract(json_text, '$.n')::BIGINT AS n,
         json_extract(json_text, '$.t[2]')::BIGINT AS t2
  FROM rt
)
SELECT lang, count(*) AS n_docs, sum(n)::BIGINT AS total_chars,
       sum(t2)::BIGINT AS total_mod7
FROM ex GROUP BY lang
"""


def vector_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MySQL 9 VECTOR(n) column end-to-end (beyond-reference — the
    reference enum predates MySQL 9, event_type.rs): per Arrow batch,
    pack each embedding as the WL#16081 wire form (packed little-endian
    float32 behind a blob length prefix), write a real WRITE_ROWS binlog
    segment with a VECTOR column, and decode it back through the
    engine's vectorized fast path (``decode_segment_fast`` — the exact
    code the replay pipeline runs), yielding a Spark ``array<float>``
    column. The CDC route for embedding tables feeding the ANN ops.

    Scale shape: one writer + vectorized reader per Arrow batch inside
    ``mapInArrow`` — a single codegen'd scan into one Python stage,
    zero shuffles, frame bytes never leave the task. The checksum
    (sum of floor(x*1000) over exactly-widened float32 values) is
    computed JVM-side on the decoded array, so any defect in the wire
    pack, the lane gather, or the float32 round-trip shifts it."""
    from ..binlog.decoder import TableSpec

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    spec = TableSpec(
        database="ml", table="emb",
        columns=(("vec_id", "bigint", "int"),
                 ("embedding", "array<float>", "vector")),
        primary_key=("vec_id",),
    )

    def batch(it):
        import numpy as np
        import pyarrow as pa

        from ..binlog.constants import ColumnType
        from ..binlog.encoder import BinlogWriter
        from ..binlog.vector import decode_segment_fast

        ctypes = [ColumnType.LONGLONG, ColumnType.VECTOR]
        cmeta = [0, 4]
        for rb in it:
            w = BinlogWriter("vec.000001")
            w.write_mysql_gtid("24bc7850-2c16-11e6-a073-0242ac110012", 1)
            w.write_query("BEGIN", database="ml")
            w.write_table_map(41, "ml", "emb", ctypes, cmeta, [False, True])
            rows = [
                [int(vid), np.asarray(vec, dtype="<f4").tobytes()]
                for vid, vec in zip(
                    rb.column("vec_id").to_pylist(),
                    rb.column("embedding").to_pylist(),
                )
            ]
            w.write_rows(41, ctypes, cmeta, rows)
            w.write_xid(1)
            decoded = decode_segment_fast(w.getvalue(), "vec.000001", spec)
            assert decoded is not None, "vector kind fell back"
            for out in decoded:
                yield pa.RecordBatch.from_arrays(
                    [out.column("after_vec_id"), out.column("after_embedding")],
                    names=["vec_id", "embedding"],
                )

    decoded = emb.mapInArrow(batch, "vec_id long, embedding array<float>")
    return decoded.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.expr(
            "aggregate(transform(embedding,"
            " x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)),"
            " 0L, (a, x) -> a + x)"
        ).alias("qsum"),
    )


# floor(x*1000) over DOUBLE-widened float32s — both engines run the same
# IEEE ops, so equality is exact (no float-formatting ambiguity)
VECTOR_SQL = """
SELECT vec_id,
       len(embedding) AS dim,
       CAST(list_sum(list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT)
         AS qsum
FROM embeddings
"""


QUERIES = {
    "w1_lww_last_event": w1_lww_last_event,
    "a1_interval_collapse": a1_interval_collapse,
    "a2_last_wins_per_domain": a2_last_wins_per_domain,
    "a3_position_max": a3_position_max,
    "w2_forward_fill_session": w2_forward_fill_session,
    "p4_txn_gate": p4_txn_gate,
    "p3_event_filter": p3_event_filter,
    "j1_dim_lookup_join": j1_dim_lookup_join,
    "st5_duplicate_suppression": st5_duplicate_suppression,
    "w4_sessionize": w4_sessionize,
    "j3_asof_join": j3_asof_join,
    "j4_range_join": j4_range_join,
    "w5_scd2_history": w5_scd2_history,
    "w6_change_feed": w6_change_feed,
    "w7_incremental_agg": w7_incremental_agg,
    "jsonb_roundtrip": jsonb_roundtrip,
    "jsonb_extract": jsonb_extract,
    "geometry_roundtrip": geometry_roundtrip,
    "charset_roundtrip": charset_roundtrip,
    "partial_json_apply": partial_json_apply,
    "vector_roundtrip": vector_roundtrip,
}

ORACLES = {
    "w1_lww_last_event": W1_SQL,
    "a1_interval_collapse": A1_SQL,
    "a2_last_wins_per_domain": A2_SQL,
    "a3_position_max": A3_SQL,
    "w2_forward_fill_session": W2_SQL,
    "p4_txn_gate": P4_SQL,
    "p3_event_filter": P3_SQL,
    "j1_dim_lookup_join": J1_SQL,
    "st5_duplicate_suppression": ST5_SQL,
    "w4_sessionize": W4_SQL,
    "j3_asof_join": J3_SQL,
    "j4_range_join": J4_SQL,
    "w5_scd2_history": W5_SQL,
    "w6_change_feed": W6_SQL,
    "w7_incremental_agg": W7_SQL,
    "jsonb_roundtrip": JSONB_SQL,
    "jsonb_extract": JSONB_EXTRACT_SQL,
    "geometry_roundtrip": GEOMETRY_SQL,
    "charset_roundtrip": CHARSET_SQL,
    "partial_json_apply": PARTIAL_JSON_SQL,
    "vector_roundtrip": VECTOR_SQL,
}
