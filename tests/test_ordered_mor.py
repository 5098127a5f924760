"""OrderedBucketedMergeTarget appending with position deletes: the outrank
guard and tombstones when a merge appends the winning rows to a bucket
instead of rewriting it.

Each store is seeded with a base of filler rows (``_seed``), so the
buckets the tests touch may append (the layout's rule (c)). Pins (a) the
ordering semantics on appended chains (out-of-order images lose, older
deletes cannot resurrect, equal-rank redelivery idempotent, exact and
NULL order ties go to the incoming row), (b) merges append and record
the positions they replace, (c) compact rewrites chains but KEEPS
tombstones (a late out-of-order insert still loses after it), (d)
prune_tombstones ages them under the redelivery watermark, (e) state
equal to a Python outrank oracle over random shuffled merge sequences,
(f) the sink drives stream_apply end-to-end, and (g) a store of the
retired ordered merge-on-read layout opens and continues here.
"""

import json
import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS
from mysql_cdc_spark.pipeline.target import (
    OrderedBucketedMergeTarget,
    open_store,
    write_decision,
)

NET_SCHEMA = (
    "conv_id string, turn_idx int, op string, after_role string, "
    "after_text string, after_tool string, after_ts timestamp, "
    "gtid_seq long, pos long, row_in_event int"
)

TS = datetime(2024, 1, 1)
SEED_ROWS = 400


def _net(spark, rows):
    return spark.createDataFrame(rows, NET_SCHEMA)


def _mor(path, buckets=8):
    return OrderedBucketedMergeTarget(str(path), TRANSCRIPTS, buckets=buckets)


def _seed(spark, tgt, version=0):
    """Commit ``SEED_ROWS`` filler rows at order tuple 0 on ``version``:
    a base large enough that a few test rows per bucket may append."""
    return tgt.merge(spark, _net(spark, [
        (f"~seed{i:04d}", 0, "insert", "user", "s", None, TS, 0, 0, 0)
        for i in range(SEED_ROWS)
    ]), version)


def _live(df):
    return df.filter(~F.col("conv_id").startswith("~seed"))


def _texts(spark, tgt, v):
    return _live(tgt.read(spark, v)).toPandas()["text"].tolist()


def _appended(tgt, v_from, v_to):
    """(buckets appended, positions deleted) over commits v_from+1..v_to."""
    out = [write_decision(tgt.store_dir, v - 1, v) for v in range(v_from + 1, v_to + 1)]
    return (
        sum(d["buckets_appended"] for d in out),
        sum(d["positions_deleted"] for d in out),
    )


class TestOrderingSemantics:
    def test_out_of_order_and_tombstones(self, spark, tmp_path):
        tgt = _mor(tmp_path / "st")
        v0 = _seed(spark, tgt)
        v1 = tgt.merge(
            spark,
            _net(spark, [("c", 0, "update", "user", "NEW", None, TS, 10, 100, 0)]),
            v0,
        )
        v2 = tgt.merge(
            spark,
            _net(spark, [("c", 0, "insert", "user", "OLD", None, TS, 5, 50, 0)]),
            v1,
        )
        assert _texts(spark, tgt, v2) == ["NEW"]
        v3 = tgt.merge(
            spark,
            _net(spark, [("c", 0, "delete", None, None, None, None, 7, 70, 0)]),
            v2,
        )
        assert _live(tgt.read(spark, v3)).count() == 1  # older delete loses
        v4 = tgt.merge(
            spark,
            _net(spark, [("c", 0, "delete", None, None, None, None, 20, 200, 0)]),
            v3,
        )
        assert _live(tgt.read(spark, v4)).count() == 0  # newer delete wins
        v5 = tgt.merge(
            spark,
            _net(spark, [("c", 0, "insert", "user", "ZOMBIE", None, TS, 15, 150, 0)]),
            v4,
        )
        assert _live(tgt.read(spark, v5)).count() == 0  # tombstone holds
        # the two winners appended; the newer delete replaced NEW's
        # stored row, and the losers left their bucket as it was
        assert _appended(tgt, v0, v5) == (2, 1)
        assert _appended(tgt, v3, v4) == (1, 1)

    def test_equal_rank_redelivery_is_idempotent(self, spark, tmp_path):
        tgt = _mor(tmp_path / "st")
        v0 = _seed(spark, tgt)
        row = ("c", 1, "update", "user", "SAME", None, TS, 10, 100, 0)
        v1 = tgt.merge(spark, _net(spark, [row]), v0)
        v2 = tgt.merge(spark, _net(spark, [row]), v1)
        assert _texts(spark, tgt, v2) == ["SAME"]
        assert _appended(tgt, v1, v2) == (1, 1)

    def test_state_parity_with_ordered_cow(self, spark, tmp_path):
        """The same merges into an appending (seeded) store and a store
        too small to append, whose every merge rewrites."""
        cow = _mor(tmp_path / "cow", buckets=4)
        mor = _mor(tmp_path / "mor", buckets=4)
        batches = [
            [("a", i % 3, "insert", "user", f"t{i}", None, TS, i, i * 10, 0)
             for i in range(1, 4)],
            [("b", 0, "insert", "user", "b0", None, TS, 9, 90, 0),
             ("a", 1, "delete", None, None, None, None, 8, 80, 0)],
            [("a", 1, "insert", "user", "late", None, TS, 6, 60, 0)],  # loses to del@8
            [("b", 0, "update", "user", "b0v2", None, TS, 12, 120, 0)],
        ]
        vc = 0
        vm = v0 = _seed(spark, mor)
        for rows in batches:
            vc = cow.merge(spark, _net(spark, rows), vc)
            vm = mor.merge(spark, _net(spark, rows), vm)
        assert _appended(cow, 0, vc)[0] == 0
        assert all(x > 0 for x in _appended(mor, v0, vm))
        cols = ["conv_id", "turn_idx", "text"]
        c = cow.read(spark, vc).select(*cols).toPandas().sort_values(cols).reset_index(drop=True)
        m = _live(mor.read(spark, vm)).select(*cols).toPandas().sort_values(cols).reset_index(drop=True)
        assert c.equals(m)

    def test_minimal_images_refused(self, spark, tmp_path):
        tgt = _mor(tmp_path / "st")
        with pytest.raises(ValueError, match="MINIMAL"):
            tgt.merge_partial(spark, None, 0)


class TestMergeOnReadProperty:
    def test_merges_write_only_deltas(self, spark, tmp_path):
        """After the seed, each one-row merge appends one dir to one
        bucket's chain: its snapshot holds only that bucket's dir, and
        every other manifest entry carries over unchanged."""
        store = tmp_path / "st"
        tgt = _mor(store, buckets=4)
        v = _seed(spark, tgt)
        for i in range(1, 5):
            before = tgt._load_manifest(v)
            v = tgt.merge(
                spark,
                _net(spark, [(f"c{i}", 0, "insert", "user", f"v{i}", None, TS,
                              i, i * 10, 0)]),
                v,
            )
            after = tgt._load_manifest(v)
            changed = [b for b in after if after[b] != before.get(b)]
            assert len(changed) == 1
            data = os.path.join(tgt.snapshot_path(v), "data")
            assert [d for d in os.listdir(data) if d.startswith("_bucket=")] == [
                f"_bucket={changed[0]}"
            ]
        assert _appended(tgt, v - 4, v) == (4, 0)
        assert sorted(_texts(spark, tgt, v)) == ["v1", "v2", "v3", "v4"]

    def test_compact_keeps_tombstones(self, spark, tmp_path):
        """After compaction a late out-of-order insert must STILL lose to
        the (now rewritten) tombstone."""
        tgt = _mor(tmp_path / "st", buckets=2)
        v0 = _seed(spark, tgt)
        v1 = tgt.merge(
            spark,
            _net(spark, [("c", 0, "insert", "user", "v1", None, TS, 5, 50, 0)]),
            v0,
        )
        v2 = tgt.merge(
            spark,
            _net(spark, [("c", 0, "delete", None, None, None, None, 10, 100, 0)]),
            v1,
        )
        assert _appended(tgt, v0, v2) == (2, 1)
        v3 = tgt.compact(spark, v2, min_deltas=1)
        assert v3 == v2 + 1
        assert all(isinstance(e, str) for e in tgt._load_manifest(v3).values())
        assert _live(tgt.read(spark, v3)).count() == 0
        wo = _live(tgt.read_with_order(spark, v3)).toPandas()
        assert wo["_deleted"].tolist() == [True]  # tombstone survived compact
        v4 = tgt.merge(
            spark,
            _net(spark, [("c", 0, "insert", "user", "ZOMBIE", None, TS, 7, 70, 0)]),
            v3,
        )
        assert _live(tgt.read(spark, v4)).count() == 0

    def test_prune_tombstones_watermark(self, spark, tmp_path):
        tgt = _mor(tmp_path / "st", buckets=2)
        v = tgt.merge(
            spark,
            _net(spark, [
                ("old", 0, "delete", None, None, None, None, 5, 50, 0),
                ("new", 0, "delete", None, None, None, None, 50, 500, 0),
                ("live", 0, "insert", "user", "x", None, TS, 3, 30, 0),
            ]),
            _seed(spark, tgt),
        )
        v2 = tgt.prune_tombstones(spark, v, min_live_order=10)
        wo = _live(tgt.read_with_order(spark, v2)).toPandas()
        # the aged tombstone (seq 5 < 10) is gone; the recent one and the
        # live row survive (the seed rows are live and ranked 0)
        assert sorted(wo["conv_id"]) == ["live", "new"]
        assert _live(tgt.read(spark, v2)).toPandas()["conv_id"].tolist() == ["live"]

    def test_rebucket_carries_tombstones(self, spark, tmp_path):
        tgt = _mor(tmp_path / "st", buckets=2)
        v = tgt.merge(
            spark,
            _net(spark, [
                ("gone", 0, "delete", None, None, None, None, 9, 90, 0),
                ("live", 0, "insert", "user", "x", None, TS, 3, 30, 0),
            ]),
            _seed(spark, tgt),
        )
        assert _appended(tgt, v - 1, v)[0] > 0  # rebucket over a live chain
        v2 = tgt.rebucket(spark, 8, v)
        wo = _live(tgt.read_with_order(spark, v2)).toPandas()
        assert sorted(wo["conv_id"]) == ["gone", "live"]
        assert _live(tgt.read(spark, v2)).toPandas()["conv_id"].tolist() == ["live"]
        # the carried tombstone still fences a late insert below its rank
        v3 = tgt.merge(
            spark,
            _net(spark, [("gone", 0, "insert", "user", "Z", None, TS, 4, 40, 0)]),
            v2,
        )
        assert _live(tgt.read(spark, v3)).toPandas()["conv_id"].tolist() == ["live"]


def _stream_corpus(spark, tmp_path, **knobs):
    from mysql_cdc_spark.binlog.decoder import decode_binlog_dir
    from mysql_cdc_spark.fixtures import generate_changelog, write_binlog_files

    txns = generate_changelog(**knobs)
    binlog = str(tmp_path / "binlog")
    write_binlog_files(txns, binlog, txns_per_file=10)
    return txns, decode_binlog_dir(spark, binlog, TRANSCRIPTS)


def _stream_state(spark, store):
    from mysql_cdc_spark.streaming.stream import read_stream_state

    return (
        _live(read_stream_state(spark, store))
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )


class TestStreaming:
    def test_stream_apply_end_to_end(self, spark, tmp_path):
        """The sink drives the streaming apply tier (availableNow) —
        including an out-of-order second trigger delivering OLDER events,
        which must not regress state — appending to the seeded store, and
        ``read_stream_state`` reopens it through its stamp."""
        from mysql_cdc_spark.fixtures import apply_changelog_oracle
        from mysql_cdc_spark.streaming.stream import stream_apply, write_changelog

        txns, changes = _stream_corpus(
            spark, tmp_path, n_conversations=15, max_turns=5, n_extra_ops=50,
            seed=23, duplicate_txns=2,
        )
        changes = changes.persist()
        half_seq = max(t.seq for t in txns) // 2
        changelog = str(tmp_path / "changelog")
        store = str(tmp_path / "store")
        v0 = _seed(spark, _mor(store, buckets=4))

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

        from mysql_cdc_spark.pipeline.target import latest_committed_version

        tgt = open_store(store, TRANSCRIPTS)
        assert type(tgt) is OrderedBucketedMergeTarget
        assert _appended(tgt, v0, latest_committed_version(store))[0] > 0
        oracle = apply_changelog_oracle(txns)
        assert _stream_state(spark, store)["text"].tolist() == oracle["text"].tolist()


def _outrank_oracle(deliveries):
    """Final live state {key: text} of merging ``deliveries`` (rows in
    merge order) under the outrank rule: per key the row with the highest
    (gtid_seq, pos, row_in_event) wins, a later delivery winning a tie."""
    best = {}
    for row in deliveries:
        key, rank = (row[0], row[1]), tuple(row[7:10])
        if key not in best or rank >= best[key][0]:
            best[key] = (rank, row)
    return {k: r[4] for k, (_, r) in best.items() if r[2] != "delete"}


class TestProperty:
    """For ANY random sequence of keyed upsert/delete events chopped into
    arbitrary merge batches in arbitrary order (redelivery included), the
    appending store's state must equal a Python outrank oracle, with
    compaction mid-sequence in half the cases."""

    def test_random_sequences_match_ordered_cow(self, spark, tmp_path):
        import random

        appended = positions = 0
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

            pieces = [p for b in batches for p in split(b)]
            mor = _mor(tmp_path / f"mor{case}", buckets=4)
            vm = v0 = _seed(spark, mor)
            for i, piece in enumerate(pieces):
                vm = mor.merge(spark, _net(spark, piece), vm)
                if case % 2 and i == len(pieces) // 2:
                    vm = mor.compact(spark, vm, min_deltas=1)
            a, p = _appended(mor, v0, vm)
            appended, positions = appended + a, positions + p
            got = {
                (r["conv_id"], r["turn_idx"]): r["text"]
                for r in _live(mor.read(spark, vm)).collect()
            }
            want = _outrank_oracle([row for piece in pieces for row in piece])
            assert got == want, f"case {case}: state diverged from the oracle"
        assert appended > 0 and positions > 0


class TestStreamingAutoCompact:
    def test_stream_auto_compact_bounds_chains(self, spark, tmp_path, monkeypatch):
        """One file per trigger into a seeded store: with the chain cap
        shrunk to 2, every trigger's merge rewrites a bucket whose chain
        reached it, so no committed manifest holds a longer chain."""
        import mysql_cdc_spark.pipeline.target as target_mod
        from mysql_cdc_spark.fixtures import apply_changelog_oracle
        from mysql_cdc_spark.pipeline.target import latest_committed_version
        from mysql_cdc_spark.streaming.stream import stream_apply, write_changelog

        monkeypatch.setattr(target_mod, "DEFAULT_AUTO_COMPACT", 2)
        txns, changes = _stream_corpus(
            spark, tmp_path, n_conversations=12, max_turns=4, n_extra_ops=40,
            seed=37,
        )
        changelog = str(tmp_path / "changelog")
        write_changelog(changes, changelog)
        store = str(tmp_path / "store")
        tgt = _mor(store, buckets=4)
        v0 = _seed(spark, tgt)
        q = stream_apply(
            spark, changelog, store, available_now=True,
            max_files_per_trigger=1, target=tgt,
        )
        q.awaitTermination(180)
        last = latest_committed_version(store)
        assert last > v0 + 1
        decisions = [
            write_decision(store, v - 1, v) for v in range(v0 + 1, last + 1)
        ]
        assert max(d["max_chain"] for d in decisions) <= 2
        assert sum(d["buckets_appended"] for d in decisions) > 0
        oracle = apply_changelog_oracle(txns)
        assert _stream_state(spark, store)["text"].tolist() == oracle["text"].tolist()


class TestStoreConversion:
    def test_ordered_cow_store_continues_as_ordered_mor(self, spark, tmp_path):
        """A compacted store of the retired ordered merge-on-read layout
        (stamp ``ordered_mor``, entries ``{"base": p, "deltas": []}``,
        tombstones flagged ``_op = 'delete'``) opens as this target: its
        tombstones stay deletes and its order tuples keep outranking late
        rows, and the first commit re-stamps the store."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        store = str(tmp_path / "st")
        cow = _mor(store, buckets=1)
        v1 = cow.merge(
            spark,
            _net(spark, [
                ("live", 0, "insert", "user", "x", None, TS, 20, 200, 0),
                ("gone", 0, "delete", None, None, None, None, 9, 90, 0),
            ]),
            0,
        )
        # rewrite v1 into the retired shape
        (rel,) = cow._load_manifest(v1).values()
        bucket_dir = os.path.join(store, rel)
        for name in os.listdir(bucket_dir):
            if name.endswith(".parquet"):
                path = os.path.join(bucket_dir, name)
                t = pq.read_table(path)
                op = pa.array(
                    ["delete" if d else "upsert"
                     for d in t.column("_deleted").to_pylist()]
                )
                t = t.drop_columns(["_deleted"]).append_column("_op", op)
                pq.write_table(t, path)
        for name in os.listdir(bucket_dir):  # stale Hadoop checksums
            if name.endswith(".crc"):
                os.remove(os.path.join(bucket_dir, name))
        with open(cow._manifest_path(v1), "w") as f:
            json.dump({"0": {"base": rel, "deltas": []}}, f)
        with open(os.path.join(store, "target_family.json"), "w") as f:
            json.dump({"family": "ordered_mor"}, f)

        tgt = open_store(store, TRANSCRIPTS)
        assert type(tgt) is OrderedBucketedMergeTarget
        wo = tgt.read_with_order(spark, v1).toPandas().sort_values("conv_id")
        assert wo["_deleted"].tolist() == [True, False]
        # a late out-of-order insert below both the tombstone's rank and
        # live's stored rank: nothing may change
        v2 = tgt.merge(
            spark,
            _net(spark, [
                ("gone", 0, "insert", "user", "Z", None, TS, 7, 70, 0),
                ("live", 0, "update", "user", "OLD", None, TS, 10, 100, 0),
            ]),
            v1,
        )
        state = tgt.read(spark, v2).toPandas()
        assert state["conv_id"].tolist() == ["live"]
        assert state["text"].tolist() == ["x"]
        # and a genuinely newer row wins
        v3 = tgt.merge(
            spark,
            _net(spark, [("live", 0, "update", "user", "NEW", None, TS, 30, 300, 0)]),
            v2,
        )
        assert tgt.read(spark, v3).toPandas()["text"].tolist() == ["NEW"]
        with open(os.path.join(store, "target_family.json")) as f:
            assert json.load(f)["family"] == "ordered_bucketed_cow"


class TestTieBreakDeterminism:
    def test_exact_order_tie_resolves_to_latest_written(self, spark, tmp_path):
        """Two rows sharing an order tuple but differing in payload
        (NULL/non-unique order columns, e.g. gtid-less streams) resolve
        to the incoming one, whether the bucket appends or, after a
        compact, is read from its rewritten dir."""
        tgt = _mor(tmp_path / "st")
        v0 = _seed(spark, tgt)
        v1 = tgt.merge(
            spark,
            _net(spark, [("c", 0, "insert", "user", "FIRST", None, TS, 10, 100, 0)]),
            v0,
        )
        v2 = tgt.merge(
            spark,
            _net(spark, [("c", 0, "update", "user", "SECOND", None, TS, 10, 100, 0)]),
            v1,
        )
        assert _texts(spark, tgt, v2) == ["SECOND"]
        assert _appended(tgt, v1, v2) == (1, 1)
        v3 = tgt.compact(spark, v2, min_deltas=1)
        v4 = tgt.merge(
            spark,
            _net(spark, [("c", 0, "update", "user", "THIRD", None, TS, 10, 100, 0)]),
            v3,
        )
        assert _texts(spark, tgt, v4) == ["THIRD"]

    def test_null_order_tie_resolves_to_latest_written(self, spark, tmp_path):
        tgt = _mor(tmp_path / "st2")
        v0 = _seed(spark, tgt)
        v1 = tgt.merge(
            spark,
            _net(spark, [("c", 1, "insert", "user", "A", None, TS, None, None, None)]),
            v0,
        )
        v2 = tgt.merge(
            spark,
            _net(spark, [("c", 1, "update", "user", "B", None, TS, None, None, None)]),
            v1,
        )
        assert _texts(spark, tgt, v2) == ["B"]
        assert _appended(tgt, v1, v2) == (1, 1)
