"""OrderedBucketedMergeTarget: the streaming tier's outrank guard and
tombstones on the bucket-pruned copy-on-write layout.

Pins (a) the outrank semantics (out-of-order images lose, older deletes
cannot resurrect, equal-rank redelivery idempotent), (b) the pruning property — a merge's snapshot
holds ONLY the touched buckets, untouched buckets splice by manifest —
and (c) the maintenance ops carry tombstones and order tuples forward
(rebucket, prune_tombstones).
"""

import json
import os
from datetime import datetime

import pytest

from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS
from mysql_cdc_spark.pipeline.target import OrderedBucketedMergeTarget

NET_SCHEMA = (
    "conv_id string, turn_idx int, op string, after_role string, "
    "after_text string, after_tool string, after_ts timestamp, "
    "gtid_seq long, pos long, row_in_event int"
)

TS = datetime(2024, 1, 1)


def _net(spark, rows):
    return spark.createDataFrame(rows, NET_SCHEMA)


def _bkt(path, buckets=8):
    return OrderedBucketedMergeTarget(str(path), TRANSCRIPTS, buckets=buckets)


class TestOrderingSemantics:
    def test_out_of_order_merge_keeps_newer(self, spark, tmp_path):
        tgt = _bkt(tmp_path / "st")
        v1 = tgt.merge(
            spark,
            _net(spark, [("c", 0, "update", "user", "NEW", None, TS, 10, 100, 0)]),
            0,
        )
        v2 = tgt.merge(
            spark,
            _net(spark, [("c", 0, "insert", "user", "OLD", None, TS, 5, 50, 0)]),
            v1,
        )
        assert tgt.read(spark, v2).toPandas()["text"].tolist() == ["NEW"]
        v3 = tgt.merge(
            spark,
            _net(spark, [("c", 0, "delete", None, None, None, None, 7, 70, 0)]),
            v2,
        )
        assert tgt.read(spark, v3).count() == 1  # older delete loses
        v4 = tgt.merge(
            spark,
            _net(spark, [("c", 0, "delete", None, None, None, None, 20, 200, 0)]),
            v3,
        )
        assert tgt.read(spark, v4).count() == 0  # newer delete wins
        # tombstone persisted: a later out-of-order insert below the delete
        # rank must NOT resurrect the row
        v5 = tgt.merge(
            spark,
            _net(spark, [("c", 0, "insert", "user", "ZOMBIE", None, TS, 15, 150, 0)]),
            v4,
        )
        assert tgt.read(spark, v5).count() == 0

    def test_equal_rank_redelivery_is_idempotent(self, spark, tmp_path):
        tgt = _bkt(tmp_path / "st")
        row = ("c", 1, "update", "user", "SAME", None, TS, 10, 100, 0)
        v1 = tgt.merge(spark, _net(spark, [row]), 0)
        v2 = tgt.merge(spark, _net(spark, [row]), v1)
        assert tgt.read(spark, v2).toPandas()["text"].tolist() == ["SAME"]

    def test_state_parity_with_plain_ordered(self, spark, tmp_path):
        """A merge sequence with duplicate keys per net, an older delete
        outranked, a late insert below a tombstone and an update lands on
        the state the outrank rule dictates."""
        bkt = _bkt(tmp_path / "bkt")
        batches = [
            [("a", i % 3, "insert", "user", f"t{i}", None, TS, i, i * 10, 0)
             for i in range(1, 6)],
            [("b", 0, "insert", "user", "b0", None, TS, 9, 90, 0),
             ("a", 1, "delete", None, None, None, None, 8, 80, 0)],
            [("a", 1, "insert", "user", "late", None, TS, 6, 60, 0)],  # loses to del@8
            [("b", 0, "update", "user", "b0v2", None, TS, 12, 120, 0)],
        ]
        vb = 0
        for rows in batches:
            vb = bkt.merge(spark, _net(spark, rows), vb)
        cols = ["conv_id", "turn_idx", "text"]
        got = sorted(tuple(r) for r in bkt.read(spark, vb).select(*cols).collect())
        assert got == [("a", 0, "t3"), ("a", 2, "t5"), ("b", 0, "b0v2")]


class TestPruning:
    def test_merge_writes_only_touched_buckets(self, spark, tmp_path):
        tgt = _bkt(tmp_path / "st", buckets=16)
        # seed many conversations
        v1 = tgt.merge(
            spark,
            _net(spark, [
                (f"conv-{i}", 0, "insert", "user", f"t{i}", None, TS, i + 1, 10, 0)
                for i in range(40)
            ]),
            0,
        )
        with open(os.path.join(str(tmp_path / "st"), "snapshots", f"v{v1:08d}", "manifest.json")) as f:
            m1 = json.load(f)
        # touch ONE conversation
        v2 = tgt.merge(
            spark,
            _net(spark, [("conv-7", 0, "update", "user", "edited", None, TS, 99, 990, 0)]),
            v1,
        )
        snap2 = os.path.join(str(tmp_path / "st"), "snapshots", f"v{v2:08d}")
        written = {
            d for d in os.listdir(os.path.join(snap2, "data"))
            if d.startswith("_bucket=")
        }
        assert len(written) == 1  # exactly the touched bucket
        with open(os.path.join(snap2, "manifest.json")) as f:
            m2 = json.load(f)
        carried = {b for b, p in m2.items() if p == m1.get(b)}
        assert len(carried) == len(m2) - 1  # all others by reference
        got = tgt.read(spark, v2).toPandas()
        assert sorted(got[got["conv_id"] == "conv-7"]["text"]) == ["edited"]
        assert len(got) == 40


class TestMaintenance:
    def test_rebucket_carries_tombstones(self, spark, tmp_path):
        tgt = _bkt(tmp_path / "st", buckets=4)
        v1 = tgt.merge(
            spark,
            _net(spark, [
                ("a", 0, "insert", "user", "live", None, TS, 1, 10, 0),
                ("d", 0, "insert", "user", "doomed", None, TS, 2, 20, 0),
            ]),
            0,
        )
        v2 = tgt.merge(
            spark,
            _net(spark, [("d", 0, "delete", None, None, None, None, 9, 90, 0)]),
            v1,
        )
        v3 = tgt.rebucket(spark, 16, v2)
        assert tgt.read(spark, v3).toPandas()["text"].tolist() == ["live"]
        # tombstone survived the rebucket: an older insert cannot resurrect
        v4 = tgt.merge(
            spark,
            _net(spark, [("d", 0, "insert", "user", "zombie", None, TS, 5, 50, 0)]),
            v3,
        )
        assert tgt.read(spark, v4).toPandas()["text"].tolist() == ["live"]

    def test_prune_tombstones_respects_watermark(self, spark, tmp_path):
        tgt = _bkt(tmp_path / "st", buckets=4)
        v1 = tgt.merge(
            spark,
            _net(spark, [
                ("a", 0, "insert", "user", "live", None, TS, 1, 10, 0),
                ("old", 0, "delete", None, None, None, None, 3, 30, 0),
                ("new", 0, "delete", None, None, None, None, 50, 500, 0),
            ]),
            0,
        )
        v2 = tgt.prune_tombstones(spark, v1, min_live_order=10)
        full = tgt.read_with_order(spark, v2).toPandas()
        # the below-watermark tombstone is gone, the above-watermark kept
        dels = full[full["_deleted"]]
        assert dels["conv_id"].tolist() == ["new"]
        assert tgt.read(spark, v2).toPandas()["text"].tolist() == ["live"]

    def test_merge_partial_refused(self, spark, tmp_path):
        tgt = _bkt(tmp_path / "st")
        with pytest.raises(ValueError, match="MINIMAL"):
            tgt.merge_partial(spark, None, 0)
