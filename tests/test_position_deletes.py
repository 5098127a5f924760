"""Position-delete appends on the default bucketed store.

``BucketedParquetMergeTarget.merge`` rewrites a touched bucket or appends
the batch's upserts to it as a new data dir plus the positions of the
stored rows they and the deletes replace. One small replay, one file per
commit, pins the appended store against ``apply_changelog_oracle``:

- the state after every commit, by time travel to its version, and the
  change feed between consecutive versions;
- the ledger's write-decision metrics against the manifests;
- ``gc`` keeping every delete file a kept manifest lists;
- a moved store whose path has a space and an ``=`` (relative paths);
- a read with every bucket at ``POSITION_CAP`` (job count and time).
"""

import os
import shutil
import time

import pandas as pd
import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS
from mysql_cdc_spark.fixtures import (
    apply_changelog_oracle,
    generate_changelog,
    write_binlog_files,
)
from mysql_cdc_spark.pipeline.replay import Replayer
from mysql_cdc_spark.pipeline.target import (
    POSITION_CAP,
    BucketedParquetMergeTarget,
    open_store,
    write_decision,
)

TXNS_PER_FILE = 10
KEY = ["conv_id", "turn_idx"]


def _keys(txn_ops, kind):
    return {
        tuple((op.after if kind != "delete" else op.before)[:2])
        for op in txn_ops
        if op.kind == kind
    }


def _rows(df) -> dict:
    """{(conv_id, turn_idx): (text, tool, ts)} of a state frame."""
    pdf = df.toPandas() if hasattr(df, "toPandas") else df
    tool = pdf["tool"] if "tool" in pdf else [None] * len(pdf)
    return {
        (c, int(t)): (x, tl if isinstance(tl, str) else None, pd.Timestamp(ts))
        for c, t, x, tl, ts in zip(
            pdf["conv_id"], pdf["turn_idx"], pdf["text"], tool, pdf["ts"]
        )
    }


@pytest.fixture(scope="module")
def replayed(spark, tmp_path_factory):
    """A 15-commit replay into a 4-bucket store: 3 commits of first
    inserts, then 12 of skewed updates, deletes and re-inserts."""
    txns = generate_changelog(
        n_conversations=30, max_turns=5, n_extra_ops=120, seed=23,
        hot_conversations=3, hot_share=0.5, evolve_after_frac=0.5,
    )
    root = tmp_path_factory.mktemp("posdel")
    binlog = str(root / "binlog")
    write_binlog_files(txns, binlog, txns_per_file=TXNS_PER_FILE)
    store = str(root / "store")
    tgt = BucketedParquetMergeTarget(store, TRANSCRIPTS, buckets=4)
    rep = Replayer(spark, binlog, store, target=tgt)
    res = rep.replay(files_per_batch=1)
    assert len(res.batches) == len(os.listdir(binlog)) >= 10
    entries = rep.ledger.entries()
    oracles = {
        e.snapshot_version: _rows(
            apply_changelog_oracle(txns[: (i + 1) * TXNS_PER_FILE])
        )
        for i, e in enumerate(entries)
    }
    batches = [
        txns[i : i + TXNS_PER_FILE] for i in range(0, len(txns), TXNS_PER_FILE)
    ]
    return rep, entries, oracles, batches, root


def test_corpus_covers_the_append_cases(replayed):
    """The replay holds an update of a key updated the batch before, a
    delete re-inserted in the next batch, a delete of a row stored in a
    delta dir, and a rewrite of a bucket that had appended."""
    rep, entries, _, batches, _ = replayed
    ops = [[op for t in b for op in t.ops] for b in batches]
    assert any(
        _keys(a, "update") & _keys(b, "update") for a, b in zip(ops, ops[1:])
    )
    assert any(
        _keys(a, "delete") & _keys(b, "insert") for a, b in zip(ops, ops[1:])
    )
    tgt = rep.target
    delta_deletes = rewrites = 0
    for old, new in zip(entries, entries[1:]):
        m_old = tgt._load_manifest(old.snapshot_version)
        m_new = tgt._load_manifest(new.snapshot_version)
        for b, e in m_new.items():
            if isinstance(m_old.get(b), dict) and isinstance(e, str):
                rewrites += 1
        for e in m_new.values():
            if isinstance(e, dict) and e["deletes"]:
                deleted = tgt._deleted_positions([e])
                delta_deletes += any(
                    p.rsplit("/", 1)[0] in e["data"][1:] for p in deleted
                )
    assert delta_deletes and rewrites


def test_every_version_reads_its_prefix(spark, replayed):
    """Time travel to each commit's version equals the oracle over the
    transactions up to it, and the change feed between consecutive
    versions equals the diff of the two oracle states."""
    rep, entries, oracles, _, _ = replayed
    tgt = rep.target
    versions = [e.snapshot_version for e in entries]
    for v in versions:
        assert _rows(tgt.read(spark, v)) == oracles[v], f"version {v}"
    for a, b in zip(versions, versions[1:]):
        old, new = oracles[a], oracles[b]
        want = {k: "insert" for k in new.keys() - old.keys()}
        want.update({k: "delete" for k in old.keys() - new.keys()})
        want.update(
            {k: "update" for k in old.keys() & new.keys() if old[k] != new[k]}
        )
        got = {
            (r["conv_id"], r["turn_idx"]): r["change_type"]
            for r in tgt.read_changes(spark, a, b).collect()
        }
        assert got == want, f"changes {a} -> {b}"


def test_ledger_records_the_write_decision(replayed):
    """Each entry's ``buckets_rewritten`` / ``buckets_appended`` /
    ``positions_deleted`` / ``max_chain`` equal the manifests' diff, and
    the replay appends, then rewrites a bucket whose chain had grown."""
    rep, entries, _, _, _ = replayed
    prev = 0
    for e in entries:
        want = write_decision(rep.target.store_dir, prev, e.snapshot_version)
        got = {k: e.metrics[k] for k in want}
        assert got == want
        prev = e.snapshot_version
    m = [e.metrics for e in entries]
    assert m[0]["buckets_appended"] == 0 and m[0]["max_chain"] == 1
    assert any(x["buckets_appended"] and x["positions_deleted"] for x in m)
    grown = [i for i, x in enumerate(m) if x["max_chain"] > 2]
    assert grown and any(
        x["buckets_rewritten"] for x in m[grown[0] + 1 :]
    )


def test_gc_keeps_referenced_delete_files(spark, replayed, tmp_path):
    """``gc(keep_latest=2)`` on a copy keeps every delete file and data
    dir a kept manifest lists, drops the rest, and both versions read."""
    rep, entries, oracles, _, _ = replayed
    store = str(tmp_path / "gc")
    shutil.copytree(rep.target.store_dir, store)
    tgt = BucketedParquetMergeTarget(store, TRANSCRIPTS, buckets=4)
    tgt.gc(keep_latest=2)
    kept = [e.snapshot_version for e in entries[-2:]]
    refs = set().union(*(tgt._manifest_refs(v) for v in kept))
    assert any(r.endswith("deletes.json") for r in refs)
    assert all(os.path.exists(os.path.join(store, r)) for r in refs)
    on_disk = {
        os.path.relpath(os.path.join(d, n), store)
        for d, _, names in os.walk(os.path.join(store, "snapshots"))
        for n in names
        if n == "deletes.json"
    }
    assert on_disk == {r for r in refs if r.endswith("deletes.json")}
    for v in kept:
        assert _rows(tgt.read(spark, v)) == oracles[v]


def test_moved_store_reads(spark, replayed, tmp_path):
    """Delete files hold store-relative paths and a read keys on the
    relative tail of Spark's file URI: a store moved under a name with a
    space and an ``=`` (both change that URI) reads the same rows. Without
    its family stamp the store still sniffs as the default store, and
    under the retired ``mor`` stamp it opens as that store too."""
    rep, entries, oracles, _, _ = replayed
    moved = str(tmp_path / "moved store=1")
    shutil.copytree(rep.target.store_dir, moved)
    os.remove(os.path.join(moved, "target_family.json"))
    v = entries[-1].snapshot_version
    assert any(
        isinstance(e, dict) and e["deletes"]
        for e in rep.target._load_manifest(v).values()
    )
    tgt = open_store(moved, TRANSCRIPTS)
    assert type(tgt) is BucketedParquetMergeTarget
    assert _rows(tgt.read(spark, v)) == oracles[v]
    # under the retired merge-on-read stamp it opens as the same store
    with open(os.path.join(moved, "target_family.json"), "w") as f:
        f.write('{"family": "mor"}')
    tgt = open_store(moved, TRANSCRIPTS)
    assert type(tgt) is BucketedParquetMergeTarget
    assert _rows(tgt.read(spark, v)) == oracles[v]


def test_read_at_the_position_cap(spark, tmp_path, record_property):
    """Every one of 16 buckets at ``POSITION_CAP`` deleted positions: the
    read keeps the 2 Spark jobs of an unfiltered one and its time is
    reported next to the unfiltered read of the same files."""
    buckets = 16
    tgt = BucketedParquetMergeTarget(str(tmp_path / "cap"), TRANSCRIPTS, buckets)
    rows = (
        spark.range(buckets * (POSITION_CAP + 600))
        .select(
            F.format_string("c%06d", F.col("id")).alias("conv_id"),
            F.lit(0).alias("turn_idx"),
        )
        .withColumn("_b", tgt._bucket_expr())
    )
    net = rows.select(
        *KEY, F.lit("insert").alias("op"),
        F.col("conv_id").alias("after_conv_id"),
        F.col("turn_idx").alias("after_turn_idx"),
        F.lit("user").alias("after_role"),
        F.col("conv_id").alias("after_text"),
        F.lit(None).cast("string").alias("after_tool"),
        F.lit(None).cast("timestamp").alias("after_ts"),
    )
    v1 = tgt.merge(spark, net, 0)
    n_rows = tgt.read(spark, v1).count()
    rank = F.row_number().over(Window.partitionBy("_b").orderBy("conv_id"))
    doomed = rows.withColumn("_r", rank).filter(F.col("_r") <= POSITION_CAP)
    v2 = tgt.merge(spark, net.join(doomed.select(*KEY), KEY, "left_semi")
                   .withColumn("op", F.lit("delete")), v1)
    manifest = tgt._load_manifest(v2)
    assert sorted(e["deleted"] for e in manifest.values()) == [POSITION_CAP] * buckets

    def timed_count(df, tag):
        sc = spark.sparkContext
        best = None
        for _ in range(3):
            sc.setJobGroup(tag, tag)
            try:
                t0 = time.perf_counter()
                n = df.count()
                dt = time.perf_counter() - t0
                jobs = len(sc.statusTracker().getJobIdsForGroup(tag))
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            best = dt if best is None else min(best, dt)
        return n, jobs // 3, best

    n, jobs, filtered_s = timed_count(tgt.read(spark, v2), "cap-read")
    paths = [d for e in manifest.values() for d in e["data"]]
    _, _, plain_s = timed_count(tgt._scan(spark, paths), "plain-read")
    assert n == n_rows - buckets * POSITION_CAP
    assert jobs <= 2
    record_property("cap_read_s", round(filtered_s, 3))
    record_property("unfiltered_read_s", round(plain_s, 3))
    print(f"read at the cap: {filtered_s:.3f} s against {plain_s:.3f} s "
          f"unfiltered, {buckets * POSITION_CAP} positions, {jobs} jobs")
