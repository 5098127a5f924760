"""Incremental view maintenance over the CDC-replicated table.

A ``MaterializedAggView`` keeps a GROUP BY aggregate of the replicated
state continuously fresh WITHOUT recomputing it: each refresh pulls the
row-level change feed since the last maintained snapshot version
(``target.read_changes(..., images="both")``) and folds signed delta
contributions into the stored aggregate —

- an ``insert`` adds the new row's contribution to its group;
- a ``delete`` subtracts the old row's contribution from its group;
- an ``update`` subtracts from the OLD image's group and adds to the NEW
  image's group (the two may differ — group migration is the case naive
  delta schemes get wrong, so each change explodes into up to two signed
  image rows rather than one "diff" row).

Why this matters at scale: the replicated table is the 100 TB object; a
per-batch ``GROUP BY`` over it is a full scan per refresh. The delta fold
reads only the changed rows (manifest-pruned on the bucketed target),
aggregates a batch-sized frame, and joins it against the view — which is
``|groups|``-sized, usually millions of times smaller than the table.
This is the standard IVM algebra for distributive aggregates (COUNT and
SUM here; AVG = SUM/COUNT at read time). MIN/MAX are *not* maintainable
from deltas alone (a deleted maximum needs a rescan of its group) and are
deliberately not offered.

Exactness: measures are summed in whatever type the expression yields —
use integer or DECIMAL expressions when the view must equal a full
recompute bit-for-bit (float addition is order-sensitive); the tests pin
decimal/integer measures byte-equal against recompute.

Commit protocol: the view keeps its own tiny versioned store
(``<dir>/v{N}`` parquet + ``meta.json``). Data is written first; the
atomic ``meta.json`` replace is the commit point, recording which target
snapshot version the view reflects. A crash between the two leaves an
orphan data dir that the next refresh overwrites — same pattern as the
replayer's snapshot/ledger split, and idempotent because refresh always
diffs ``meta.target_version → target latest``.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..binlog.decoder import TableSpec, TRANSCRIPTS
from .target import micros_ts


class MaterializedAggView:
    """Incrementally-maintained ``SELECT group_cols, count(*), SUM(expr)...
    FROM <replicated table> GROUP BY group_cols``.

    ``measures`` maps output column name -> SQL expression over the
    table's columns (evaluated per row image); each is maintained as a
    running SUM. ``n_rows`` (COUNT(*)) is always maintained and defines
    group liveness: groups whose count reaches 0 leave the view.
    """

    def __init__(
        self,
        store_dir: str,
        group_cols: list[str],
        measures: dict[str, str],
        spec: TableSpec = TRANSCRIPTS,
    ):
        if not measures:
            raise ValueError("at least one measure expression is required")
        reserved = set(group_cols) | {"n_rows"}
        clash = reserved & set(measures)
        if clash:
            raise ValueError(f"measure names clash with group/count cols: {clash}")
        self.store_dir = store_dir
        self.group_cols = list(group_cols)
        self.measures = dict(measures)
        self.spec = spec
        os.makedirs(store_dir, exist_ok=True)

    # -- tiny versioned store -------------------------------------------------

    def _meta_path(self) -> str:
        return os.path.join(self.store_dir, "meta.json")

    def _meta(self) -> dict:
        if not os.path.exists(self._meta_path()):
            return {"view_version": 0, "target_version": 0}
        with open(self._meta_path()) as f:
            return json.load(f)

    def _data_path(self, view_version: int) -> str:
        return os.path.join(self.store_dir, f"v{view_version:08d}")

    def read(self, spark: SparkSession) -> DataFrame:
        """The maintained aggregate as of the last committed refresh."""
        meta = self._meta()
        if meta["view_version"] == 0:
            fields = ", ".join(
                [f"{c} string" for c in self.group_cols]
                + ["n_rows long"]
                + [f"{m} double" for m in self.measures]
            )
            return spark.createDataFrame([], fields)
        return spark.read.parquet(self._data_path(meta["view_version"]))

    # -- delta fold -----------------------------------------------------------

    def _signed_contributions(self, feed: DataFrame) -> DataFrame:
        """Explode each change row into up to two signed image rows:
        (-1, old image) when the key existed before, (+1, new image) when
        it exists after. Group columns and measure expressions are then
        evaluated per image with the table's own column names."""
        keys = list(self.spec.primary_key)
        vals = [n for n, _, _ in self.spec.columns if n not in keys]

        def img(prefix: str):
            return F.struct(
                *[F.col(k).alias(k) for k in keys],
                *[F.col(f"{prefix}_{c}").alias(c) for c in vals],
            )

        old_entry = F.when(
            F.col("change_type") != "insert",
            F.struct(F.lit(-1).alias("_sign"), img("old").alias("_img")),
        )
        new_entry = F.when(
            F.col("change_type") != "delete",
            F.struct(F.lit(1).alias("_sign"), img("new").alias("_img")),
        )
        exploded = feed.select(
            F.explode(F.array(old_entry, new_entry)).alias("e")
        ).filter(F.col("e").isNotNull())
        return exploded.select(F.col("e._sign").alias("_sign"), "e._img.*")

    def _delta(self, feed: DataFrame) -> DataFrame:
        contrib = self._signed_contributions(feed)
        aggs = [F.sum("_sign").cast("long").alias("_d_n_rows")] + [
            F.sum(F.col("_sign") * F.expr(expr)).alias(f"_d_{name}")
            for name, expr in self.measures.items()
        ]
        return contrib.groupBy(*self.group_cols).agg(*aggs)

    def refresh(self, spark: SparkSession, target, to_version: int | None = None) -> int:
        """Fold all changes between the view's maintained target version
        and ``to_version`` (default: the target's newest snapshot) into
        the view. Returns the new view version (unchanged if already
        fresh). Safe to call after every batch or lazily after many — the
        fold is associative, so one big diff equals the composition of
        per-batch diffs."""
        meta = self._meta()
        if to_version is None:
            versions = [
                int(p[1:])
                for p in os.listdir(os.path.join(target.store_dir, "snapshots"))
                if p.startswith("v")
            ]
            to_version = max(versions, default=0)
        if to_version <= meta["target_version"]:
            return meta["view_version"]

        feed = target.read_changes(
            spark, meta["target_version"], to_version, images="both"
        )
        delta = self._delta(feed)

        if meta["view_version"] == 0:
            # first refresh: the delta IS the view — no join against an
            # empty frame, and the measures keep the sum's native type
            # (long / decimal / double) for all later refreshes to match
            folded = delta.select(
                *self.group_cols,
                F.col("_d_n_rows").alias("n_rows"),
                *[F.col(f"_d_{m}").alias(m) for m in self.measures],
            ).filter(F.col("n_rows") > 0)
        else:
            state = spark.read.parquet(self._data_path(meta["view_version"]))
            # null-safe join: a NULL group value is a real group (GROUP BY
            # keeps it); a plain equi-join would never match it and the
            # view would grow duplicate null-group rows
            cond = None
            for c in self.group_cols:
                piece = state[c].eqNullSafe(delta[c])
                cond = piece if cond is None else cond & piece
            merged = state.join(delta, on=cond, how="full_outer")
            folded = merged.select(
                *[
                    F.coalesce(state[c], delta[c]).alias(c)
                    for c in self.group_cols
                ],
                (
                    F.coalesce(F.col("n_rows"), F.lit(0))
                    + F.coalesce(F.col("_d_n_rows"), F.lit(0))
                ).alias("n_rows"),
                *[
                    (
                        F.coalesce(F.col(m), F.lit(0))
                        + F.coalesce(F.col(f"_d_{m}"), F.lit(0))
                    ).alias(m)
                    for m in self.measures
                ],
            ).filter(F.col("n_rows") > 0)

        new_version = meta["view_version"] + 1
        out = self._data_path(new_version)
        if os.path.exists(out):
            shutil.rmtree(out)  # orphan from a crashed refresh
        with micros_ts(spark):
            folded.coalesce(1).write.option("compression", "zstd").parquet(out)
        tmp = self._meta_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {"view_version": new_version, "target_version": to_version}, f
            )
        os.replace(tmp, self._meta_path())
        return new_version

    # -- verification helper --------------------------------------------------

    def recompute(self, spark: SparkSession, target, version: int) -> DataFrame:
        """Full GROUP BY over the state at ``version`` — the O(table)
        definition the incremental fold must equal (used by tests and by
        offline audits; never on the refresh path)."""
        state = target.read(spark, version)
        aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")] + [
            F.sum(F.expr(expr)).alias(name) for name, expr in self.measures.items()
        ]
        return state.groupBy(*self.group_cols).agg(*aggs)
