"""OrderedMergeOnReadTarget: the outrank guard and tombstones on the
delta-append (merge-on-read) layout — the streaming tier's
write-amplification fix.

Pins (a) identical ordering semantics to the ordered copy-on-write sinks
(out-of-order images lose, older deletes cannot resurrect, equal-rank
redelivery idempotent) resolved at READ time across delta chains, (b)
merges write only delta files, (c) compact folds chains but KEEPS
tombstones (a late out-of-order insert still loses after compaction),
(d) prune_tombstones ages them under the redelivery watermark, (e)
state parity with OrderedBucketedMergeTarget over an adversarial
shuffled merge sequence, and (f) the sink drives apply_stream
end-to-end.
"""

import os
from datetime import datetime

import pytest

from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS
from mysql_cdc_spark.pipeline.mor import OrderedMergeOnReadTarget
from mysql_cdc_spark.pipeline.target import OrderedBucketedMergeTarget

NET_SCHEMA = (
    "conv_id string, turn_idx int, op string, after_role string, "
    "after_text string, after_tool string, after_ts timestamp, "
    "gtid_seq long, pos long, row_in_event int"
)

TS = datetime(2024, 1, 1)


def _net(spark, rows):
    return spark.createDataFrame(rows, NET_SCHEMA)


def _mor(path, buckets=8):
    return OrderedMergeOnReadTarget(str(path), TRANSCRIPTS, buckets=buckets)


class TestOrderingSemantics:
    def test_out_of_order_and_tombstones(self, spark, tmp_path):
        tgt = _mor(tmp_path / "st")
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
        v5 = tgt.merge(
            spark,
            _net(spark, [("c", 0, "insert", "user", "ZOMBIE", None, TS, 15, 150, 0)]),
            v4,
        )
        assert tgt.read(spark, v5).count() == 0  # tombstone holds

    def test_equal_rank_redelivery_is_idempotent(self, spark, tmp_path):
        tgt = _mor(tmp_path / "st")
        row = ("c", 1, "update", "user", "SAME", None, TS, 10, 100, 0)
        v1 = tgt.merge(spark, _net(spark, [row]), 0)
        v2 = tgt.merge(spark, _net(spark, [row]), v1)
        assert tgt.read(spark, v2).toPandas()["text"].tolist() == ["SAME"]

    def test_state_parity_with_ordered_cow(self, spark, tmp_path):
        cow = OrderedBucketedMergeTarget(
            str(tmp_path / "cow"), TRANSCRIPTS, buckets=4
        )
        mor = _mor(tmp_path / "mor", buckets=4)
        batches = [
            [("a", i % 3, "insert", "user", f"t{i}", None, TS, i, i * 10, 0)
             for i in range(1, 6)],
            [("b", 0, "insert", "user", "b0", None, TS, 9, 90, 0),
             ("a", 1, "delete", None, None, None, None, 8, 80, 0)],
            [("a", 1, "insert", "user", "late", None, TS, 6, 60, 0)],  # loses to del@8
            [("b", 0, "update", "user", "b0v2", None, TS, 12, 120, 0)],
        ]
        vc = vm = 0
        for rows in batches:
            vc = cow.merge(spark, _net(spark, rows), vc)
            vm = mor.merge(spark, _net(spark, rows), vm)
        cols = ["conv_id", "turn_idx", "text"]
        c = cow.read(spark, vc).select(*cols).toPandas().sort_values(cols).reset_index(drop=True)
        m = mor.read(spark, vm).select(*cols).toPandas().sort_values(cols).reset_index(drop=True)
        assert c.equals(m)

    def test_minimal_images_refused(self, spark, tmp_path):
        tgt = _mor(tmp_path / "st")
        with pytest.raises(ValueError, match="MINIMAL"):
            tgt.merge_partial(spark, None, 0)


class TestMergeOnReadProperty:
    def test_merges_write_only_deltas(self, spark, tmp_path):
        tgt = _mor(tmp_path / "st", buckets=4)
        v = 0
        for i in range(1, 5):
            v = tgt.merge(
                spark,
                _net(spark, [(f"c{i}", 0, "insert", "user", f"v{i}", None, TS,
                              i, i * 10, 0)]),
                v,
            )
        snaps_root = os.path.join(str(tmp_path / "st"), "snapshots")
        for name in sorted(os.listdir(snaps_root)):
            assert not os.path.exists(os.path.join(snaps_root, name, "data"))
        assert sum(tgt.delta_stats(v).values()) == 4

    def test_compact_keeps_tombstones(self, spark, tmp_path):
        """After compaction a late out-of-order insert must STILL lose to
        the (now base-resident) tombstone."""
        tgt = _mor(tmp_path / "st", buckets=2)
        v1 = tgt.merge(
            spark,
            _net(spark, [("c", 0, "insert", "user", "v1", None, TS, 5, 50, 0)]),
            0,
        )
        v2 = tgt.merge(
            spark,
            _net(spark, [("c", 0, "delete", None, None, None, None, 10, 100, 0)]),
            v1,
        )
        v3 = tgt.compact(spark, v2, min_deltas=1)
        assert v3 == v2 + 1
        assert all(n == 0 for n in tgt.delta_stats(v3).values())
        assert tgt.read(spark, v3).count() == 0
        wo = tgt.read_with_order(spark, v3).toPandas()
        assert wo["_deleted"].tolist() == [True]  # tombstone survived compact
        v4 = tgt.merge(
            spark,
            _net(spark, [("c", 0, "insert", "user", "ZOMBIE", None, TS, 7, 70, 0)]),
            v3,
        )
        assert tgt.read(spark, v4).count() == 0

    def test_prune_tombstones_watermark(self, spark, tmp_path):
        tgt = _mor(tmp_path / "st", buckets=2)
        v = tgt.merge(
            spark,
            _net(spark, [
                ("old", 0, "delete", None, None, None, None, 5, 50, 0),
                ("new", 0, "delete", None, None, None, None, 50, 500, 0),
                ("live", 0, "insert", "user", "x", None, TS, 3, 30, 0),
            ]),
            0,
        )
        v2 = tgt.prune_tombstones(spark, v, min_live_order=10)
        wo = tgt.read_with_order(spark, v2).toPandas()
        # the aged tombstone (seq 5 < 10) is gone; the recent one and the
        # live row survive
        assert sorted(wo["conv_id"]) == ["live", "new"]
        assert tgt.read(spark, v2).toPandas()["conv_id"].tolist() == ["live"]

    def test_rebucket_carries_tombstones(self, spark, tmp_path):
        tgt = _mor(tmp_path / "st", buckets=2)
        v = tgt.merge(
            spark,
            _net(spark, [
                ("gone", 0, "delete", None, None, None, None, 9, 90, 0),
                ("live", 0, "insert", "user", "x", None, TS, 3, 30, 0),
            ]),
            0,
        )
        v2 = tgt.rebucket(spark, 8, v)
        wo = tgt.read_with_order(spark, v2).toPandas()
        assert sorted(wo["conv_id"]) == ["gone", "live"]
        assert tgt.read(spark, v2).toPandas()["conv_id"].tolist() == ["live"]
        # the carried tombstone still fences a late insert below its rank
        v3 = tgt.merge(
            spark,
            _net(spark, [("gone", 0, "insert", "user", "Z", None, TS, 4, 40, 0)]),
            v2,
        )
        assert tgt.read(spark, v3).toPandas()["conv_id"].tolist() == ["live"]


class TestStreaming:
    def test_stream_apply_end_to_end(self, spark, tmp_path):
        """The sink drives the streaming apply tier (availableNow) —
        including an out-of-order second trigger delivering OLDER events,
        which must not regress state — and ``read_stream_state``
        auto-detects the merge-on-read layout."""
        from mysql_cdc_spark.binlog.decoder import decode_binlog_dir
        from mysql_cdc_spark.fixtures import (
            apply_changelog_oracle,
            generate_changelog,
            write_binlog_files,
        )
        from mysql_cdc_spark.streaming.stream import (
            read_stream_state,
            stream_apply,
            write_changelog,
        )

        txns = generate_changelog(
            n_conversations=15, max_turns=5, n_extra_ops=50, seed=23,
            duplicate_txns=2,
        )
        binlog = str(tmp_path / "binlog")
        write_binlog_files(txns, binlog, txns_per_file=20)
        changes = decode_binlog_dir(spark, binlog, TRANSCRIPTS).persist()
        half_seq = max(t.seq for t in txns) // 2
        changelog = str(tmp_path / "changelog")
        store = str(tmp_path / "store")

        # trigger 1: newer events only; trigger 2: the older half arrives late
        write_changelog(changes.filter(f"gtid_seq > {half_seq}"), changelog)
        q = stream_apply(
            spark, changelog, store, available_now=True,
            target=_mor(store, buckets=4),
        )
        q.awaitTermination(120)
        write_changelog(
            changes.filter(f"gtid_seq <= {half_seq}"), changelog, mode="append"
        )
        q2 = stream_apply(
            spark, changelog, store, available_now=True,
            target=_mor(store, buckets=4),
        )
        q2.awaitTermination(120)
        changes.unpersist()

        oracle = apply_changelog_oracle(txns)
        state = (
            read_stream_state(spark, store)
            .orderBy("conv_id", "turn_idx")
            .toPandas()
            .reset_index(drop=True)
        )
        assert state["text"].tolist() == oracle["text"].tolist()


class TestProperty:
    """For ANY random sequence of keyed upsert/delete events chopped into
    arbitrary merge batches in arbitrary order (redelivery included), the
    merge-on-read fold must equal the ordered CoW sink's state — the two
    implementations are independent (outrank-at-write vs
    outrank-at-read), so agreement pins both."""

    def test_random_sequences_match_ordered_cow(self, spark, tmp_path):
        import random

        from mysql_cdc_spark.pipeline.target import OrderedBucketedMergeTarget

        for case in range(4):
            rnd = random.Random(1000 + case)
            events = []
            for seq in range(1, rnd.randint(10, 30)):
                conv = f"c{rnd.randint(0, 4)}"
                turn = rnd.randint(0, 2)
                if rnd.random() < 0.25:
                    events.append(
                        (conv, turn, "delete", None, None, None, None,
                         seq, seq * 10, 0)
                    )
                else:
                    events.append(
                        (conv, turn, "upsert", "user", f"v{seq}", None, TS,
                         seq, seq * 10, 0)
                    )
            # chop into batches, shuffle batch order, duplicate one batch
            rnd.shuffle(events)
            batches = [
                events[i : i + rnd.randint(1, 4)]
                for i in range(0, len(events), 3)
            ]
            batches = [b for b in batches if b]
            if len(batches) > 1:
                batches.append(batches[rnd.randrange(len(batches))])  # redelivery
            # one row per key per merge call (the net contract): split
            # batches further so no batch holds two events for one key
            def split(b):
                out, seen = [[]], set()
                for row in b:
                    k = (row[0], row[1])
                    if k in seen:
                        out.append([])
                        seen = set()
                    out[-1].append(row)
                    seen.add(k)
                return out

            cow = OrderedBucketedMergeTarget(
                str(tmp_path / f"cow{case}"), TRANSCRIPTS, buckets=4
            )
            mor = _mor(tmp_path / f"mor{case}", buckets=4)
            vc = vm = 0
            for b in batches:
                for piece in split(b):
                    vc = cow.merge(spark, _net(spark, piece), vc)
                    vm = mor.merge(spark, _net(spark, piece), vm)
            if case % 2:
                vm = mor.compact(spark, vm, min_deltas=1)
            cols = ["conv_id", "turn_idx", "text"]
            c = (
                cow.read(spark, vc).select(*cols).toPandas()
                .sort_values(cols).reset_index(drop=True)
            )
            m = (
                mor.read(spark, vm).select(*cols).toPandas()
                .sort_values(cols).reset_index(drop=True)
            )
            assert c.equals(m), f"case {case}: MoR state diverged from CoW"


class TestStreamingAutoCompact:
    def test_stream_auto_compact_bounds_chains(self, spark, tmp_path):
        from mysql_cdc_spark.binlog.decoder import decode_binlog_dir
        from mysql_cdc_spark.fixtures import (
            apply_changelog_oracle,
            generate_changelog,
            write_binlog_files,
        )
        from mysql_cdc_spark.streaming.stream import (
            read_stream_state,
            stream_apply,
            write_changelog,
        )

        txns = generate_changelog(
            n_conversations=12, max_turns=4, n_extra_ops=40, seed=37,
        )
        binlog = str(tmp_path / "binlog")
        write_binlog_files(txns, binlog, txns_per_file=10)
        changes = decode_binlog_dir(spark, binlog, TRANSCRIPTS)
        changelog = str(tmp_path / "changelog")
        write_changelog(changes, changelog)
        store = str(tmp_path / "store")
        tgt = _mor(store, buckets=4)
        q = stream_apply(
            spark, changelog, store, available_now=True,
            max_files_per_trigger=1, target=tgt, auto_compact=2,
        )
        q.awaitTermination(180)
        from mysql_cdc_spark.pipeline.target import latest_committed_version

        stats = tgt.delta_stats(latest_committed_version(store))
        assert max(stats.values(), default=0) < 2
        oracle = apply_changelog_oracle(txns)
        state = (
            read_stream_state(spark, store)
            .orderBy("conv_id", "turn_idx")
            .toPandas()
            .reset_index(drop=True)
        )
        assert state["text"].tolist() == oracle["text"].tolist()


class TestStoreConversion:
    def test_ordered_cow_store_continues_as_ordered_mor(self, spark, tmp_path):
        """Adopting an ordered-CoW store: its base tombstones must stay
        deletes (a blanket upsert conversion would resurrect them), its
        order tuples must keep outranking late deltas."""
        cow = OrderedBucketedMergeTarget(
            str(tmp_path / "st"), TRANSCRIPTS, buckets=4
        )
        v1 = cow.merge(
            spark,
            _net(spark, [
                ("live", 0, "insert", "user", "x", None, TS, 20, 200, 0),
                ("gone", 0, "insert", "user", "y", None, TS, 5, 50, 0),
            ]),
            0,
        )
        v2 = cow.merge(
            spark,
            _net(spark, [("gone", 0, "delete", None, None, None, None, 9, 90, 0)]),
            v1,
        )
        mor = _mor(tmp_path / "st", buckets=4)
        # a late out-of-order insert below both the tombstone's rank and
        # live's stored rank: nothing may change
        v3 = mor.merge(
            spark,
            _net(spark, [
                ("gone", 0, "insert", "user", "Z", None, TS, 7, 70, 0),
                ("live", 0, "update", "user", "OLD", None, TS, 10, 100, 0),
            ]),
            v2,
        )
        state = mor.read(spark, v3).toPandas().sort_values("conv_id")
        assert state["conv_id"].tolist() == ["live"]
        assert state["text"].tolist() == ["x"]
        # and a genuinely newer delta wins
        v4 = mor.merge(
            spark,
            _net(spark, [("live", 0, "update", "user", "NEW", None, TS, 30, 300, 0)]),
            v3,
        )
        assert mor.read(spark, v4).toPandas()["text"].tolist() == ["NEW"]


class TestTieBreakDeterminism:
    def test_exact_order_tie_resolves_to_latest_written(self, spark, tmp_path):
        """Two contributions sharing an order tuple but differing in
        payload (NULL/non-unique order columns, e.g. gtid-less streams)
        must resolve deterministically to the LATEST-WRITTEN one — the
        MoR twin of the ordered CoW sink's incoming-row-wins tie rule."""
        tgt = _mor(tmp_path / "st")
        v1 = tgt.merge(
            spark,
            _net(spark, [("c", 0, "insert", "user", "FIRST", None, TS, 10, 100, 0)]),
            0,
        )
        v2 = tgt.merge(
            spark,
            _net(spark, [("c", 0, "update", "user", "SECOND", None, TS, 10, 100, 0)]),
            v1,
        )
        assert tgt.read(spark, v2).toPandas()["text"].tolist() == ["SECOND"]
        # and the rule survives compaction: the compacted base ranks as
        # generation -1, so a post-compact tie again goes to the new write
        v3 = tgt.compact(spark, v2, min_deltas=1)
        v4 = tgt.merge(
            spark,
            _net(spark, [("c", 0, "update", "user", "THIRD", None, TS, 10, 100, 0)]),
            v3,
        )
        assert tgt.read(spark, v4).toPandas()["text"].tolist() == ["THIRD"]

    def test_null_order_tie_resolves_to_latest_written(self, spark, tmp_path):
        tgt = _mor(tmp_path / "st2")
        v1 = tgt.merge(
            spark,
            _net(spark, [("c", 1, "insert", "user", "A", None, TS, None, None, None)]),
            0,
        )
        v2 = tgt.merge(
            spark,
            _net(spark, [("c", 1, "update", "user", "B", None, TS, None, None, None)]),
            v1,
        )
        assert tgt.read(spark, v2).toPandas()["text"].tolist() == ["B"]
