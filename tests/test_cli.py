"""CLI smoke tests: the spark-submit entry (`python -m mysql_cdc_spark`)
drives replay / state / ledger end-to-end and prints machine-readable
JSON lines."""

from __future__ import annotations

import json

import pytest

from mysql_cdc_spark.__main__ import main
from mysql_cdc_spark.fixtures import (
    apply_changelog_oracle,
    count_change_events,
    generate_changelog,
    write_binlog_files,
)


@pytest.fixture()
def fixture_dirs(tmp_path):
    txns = generate_changelog(
        n_conversations=8, max_turns=3, n_extra_ops=12, seed=37
    )
    binlog = str(tmp_path / "binlog")
    write_binlog_files(txns, binlog, txns_per_file=10)
    return txns, binlog, str(tmp_path / "store")


def _first_json(out: str) -> dict:
    for line in out.splitlines():
        if line.startswith("{"):
            return json.loads(line)
    raise AssertionError(f"no JSON line in: {out!r}")


def test_cli_replay_state_ledger(spark, fixture_dirs, capsys):
    txns, binlog, store = fixture_dirs

    rc = main(["replay", "--binlog-dir", binlog, "--store-dir", store])
    assert rc == 0
    rep = _first_json(capsys.readouterr().out)
    assert rep["events"] == count_change_events(txns)
    assert rep["batches"] == 1 and rep["events_per_sec"] > 0

    rc = main([
        "state", "--binlog-dir", binlog, "--store-dir", store, "--limit", "3",
    ])
    assert rc == 0
    state = _first_json(capsys.readouterr().out)
    assert state["rows"] == len(apply_changelog_oracle(txns))

    rc = main(["ledger", "--store-dir", store])
    assert rc == 0
    entries = [
        json.loads(line)
        for line in capsys.readouterr().out.splitlines()
        if line.startswith("{")
    ]
    assert len(entries) == 1
    assert entries[0]["metrics"]["events"] == count_change_events(txns)
    assert "lag_s" in entries[0]["metrics"]


def test_cli_tail_bounded(spark, fixture_dirs, capsys):
    _, binlog, store = fixture_dirs
    rc = main([
        "tail", "--binlog-dir", binlog, "--store-dir", store,
        "--poll-interval", "0.05", "--idle-polls", "2",
    ])
    assert rc == 0
    out = _first_json(capsys.readouterr().out)
    assert out["events"] > 0 and out["polls"] >= 2


def test_cli_bootstrap_then_replay(spark, fixture_dirs, tmp_path, capsys):
    """bootstrap --base <parquet> --at-position, then replay catches up to
    the same final state a from-scratch replay produces."""
    txns, binlog, store = fixture_dirs

    # build the "consistent snapshot": replay half the stream elsewhere
    from mysql_cdc_spark.pipeline.replay import Replayer

    half = Replayer(spark, binlog, str(tmp_path / "half"))
    files = half.pending_files()
    half.run_batch(files[: max(1, len(files) // 2)])
    entry = half.ledger.last()
    base_path = str(tmp_path / "base.parquet")
    half.read_state().write.parquet(base_path)

    rc = main([
        "bootstrap", "--binlog-dir", binlog, "--store-dir", store,
        "--base", base_path,
        "--at-position", entry.max_file, str(entry.max_pos),
    ])
    assert rc == 0
    boot = _first_json(capsys.readouterr().out)
    assert boot["snapshot_version"] == 1 and boot["rows"] > 0
    assert boot["max_file"] == entry.max_file

    rc = main(["replay", "--binlog-dir", binlog, "--store-dir", store])
    assert rc == 0
    _ = capsys.readouterr()

    final = Replayer(spark, binlog, store).read_state()
    got = final.orderBy("conv_id", "turn_idx").toPandas()
    assert got["text"].tolist() == apply_changelog_oracle(txns)["text"].tolist()


def test_cli_purge_and_compact(spark, tmp_path, capsys):
    """Operator surface for the compliance + maintenance ops: replay the
    default store via the library until a batch appends, compact and
    purge one conversation through the CLI (which reopens the store
    through its stamp), and verify the chains are rewritten and the row
    is gone."""
    from mysql_cdc_spark.pipeline.replay import Replayer
    from mysql_cdc_spark.pipeline.target import BucketedParquetMergeTarget

    txns = generate_changelog(
        n_conversations=10, max_turns=4, n_extra_ops=30, seed=41,
    )
    binlog = str(tmp_path / "binlog")
    write_binlog_files(txns, binlog, txns_per_file=10)
    store = str(tmp_path / "store")
    rep = Replayer(
        spark, binlog, store,
        target=BucketedParquetMergeTarget(store, buckets=2),
    )
    rep.replay(files_per_batch=1)
    assert any(e.metrics.get("buckets_appended") for e in rep.ledger.entries())
    victim = rep.read_state().toPandas()["conv_id"].iloc[0]

    rc = main([
        "compact", "--binlog-dir", binlog, "--store-dir", store,
        "--min-deltas", "1",
    ])
    assert rc == 0
    out = _first_json(capsys.readouterr().out)
    assert out["compacted"] is True
    manifest = rep.target._load_manifest(out["snapshot_version"])
    assert all(isinstance(e, str) for e in manifest.values())

    rc = main([
        "purge", "--binlog-dir", binlog, "--store-dir", store,
        "--predicate", f"conv_id = '{victim}'",
    ])
    assert rc == 0
    out = _first_json(capsys.readouterr().out)
    assert out["rows_purged"] > 0 and out["erased"] is True

    state = Replayer(spark, binlog, store).read_state().toPandas()
    assert victim not in set(state["conv_id"])
