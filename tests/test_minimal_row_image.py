"""binlog_row_image=MINIMAL end-to-end: updates carry only PK + changed
columns and deletes only the PK (row_parser.rs:108-111 — "Data is missing
if binlog_row_image != full"). The per-column LWW + carried-column merge
path must reproduce the sequential oracle without nulling untouched
columns."""

from __future__ import annotations

import pandas as pd
import pytest

from mysql_cdc_spark.binlog.constants import ColumnType
from mysql_cdc_spark.binlog.decoder import TRANSCRIPTS, decode_binlog_dir
from mysql_cdc_spark.binlog.encoder import BinlogWriter
from mysql_cdc_spark.fixtures import (
    COLUMN_TYPES,
    PRE_COLUMNS,
    apply_changelog_oracle,
    generate_changelog,
    write_binlog_files,
)
from mysql_cdc_spark.pipeline.replay import Replayer
from decoded import to_pandas

UUID = "24bc7850-2c16-11e6-a073-0242ac110001"


@pytest.fixture(scope="module")
def minimal_stream(tmp_path_factory):
    txns = generate_changelog(
        n_conversations=25, max_turns=5, n_extra_ops=80, seed=21,
        duplicate_txns=4, evolve_after_frac=0.5,
    )
    outdir = str(tmp_path_factory.mktemp("binlog"))
    write_binlog_files(txns, outdir, txns_per_file=30, row_image="minimal")
    return txns, outdir


def _state(rep):
    return (
        rep.read_state().orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    )


def test_minimal_images_decode_with_partial_masks(spark, minimal_stream):
    _, outdir = minimal_stream
    changes = decode_binlog_dir(spark, outdir)
    full_mask = (1 << len(TRANSCRIPTS.columns)) - 1
    upd = changes.filter("op = 'update'")
    assert upd.count() > 0
    # after images must be partial (PK + changed), never the full mask of
    # a 6-column map, and before images must be PK-only (bits 0|1 = 3)
    assert upd.filter(f"after_present = {full_mask}").count() == 0
    assert upd.filter("before_present != 3").count() == 0
    dele = changes.filter("op = 'delete'")
    if dele.count():
        assert dele.filter("before_present != 3").count() == 0


def test_minimal_replay_matches_oracle(spark, minimal_stream, tmp_path):
    txns, outdir = minimal_stream
    rep = Replayer(spark, outdir, str(tmp_path / "store"), row_image="minimal")
    res = rep.replay(files_per_batch=1)
    assert res.events > 0
    got = _state(rep)
    want = apply_changelog_oracle(txns)
    assert got["text"].tolist() == want["text"].tolist()
    assert got["role"].tolist() == want["role"].tolist()
    assert got["tool"].fillna("-").tolist() == want["tool"].fillna("-").tolist()


def test_minimal_resume_exactly_once(spark, minimal_stream, tmp_path):
    txns, outdir = minimal_stream
    store = str(tmp_path / "store")
    r1 = Replayer(spark, outdir, store, row_image="minimal")
    files = r1.pending_files()
    r1.run_batch(files[:1])
    r2 = Replayer(spark, outdir, store, row_image="minimal")
    r2.replay(files_per_batch=1)
    got = _state(r2)
    want = apply_changelog_oracle(txns)
    assert got["text"].tolist() == want["text"].tolist()
    # rerun is a no-op
    r3 = Replayer(spark, outdir, store, row_image="minimal")
    assert r3.replay().events == 0


def test_untouched_columns_survive(spark, tmp_path):
    """The surgical case: a minimal update changing only `text` must keep
    `role`/`ts` from the insert (the full-image path would null them)."""
    ctypes = [COLUMN_TYPES[c][0] for c in PRE_COLUMNS]
    cmeta = [COLUMN_TYPES[c][1] for c in PRE_COLUMNS]
    w = BinlogWriter("binlog.000001")
    w.write_mysql_gtid(UUID, 1)
    w.write_table_map(100, "chat", "transcripts", ctypes, cmeta,
                      [False] * 5, column_names=PRE_COLUMNS)
    w.write_rows(100, ctypes, cmeta,
                 [["c-1", 0, "assistant", "original", 1700000000000]])
    w.write_xid(1)
    # minimal update: before = PK only, after = PK + text
    w.write_mysql_gtid(UUID, 2)
    w.write_table_map(100, "chat", "transcripts", ctypes, cmeta,
                      [False] * 5, column_names=PRE_COLUMNS)
    w.write_update_rows(
        100, ctypes, cmeta,
        [(["c-1", 0, None, None, None], ["c-1", 0, None, "edited", None])],
        before_present=[True, True, False, False, False],
        after_present=[True, True, False, True, False],
    )
    w.write_xid(2)
    outdir = str(tmp_path / "binlog")
    import os

    os.makedirs(outdir)
    w.save(os.path.join(outdir, "binlog.000001"))

    rep = Replayer(spark, outdir, str(tmp_path / "store"), row_image="minimal")
    rep.replay()
    got = _state(rep)
    assert got["text"].tolist() == ["edited"]
    assert got["role"].tolist() == ["assistant"]  # untouched column survives
    assert pd.notna(got["ts"][0])


def test_minimal_segments_take_the_fast_path(spark, minimal_stream):
    """Partial presence patterns are their own subgroups now — MINIMAL
    segments must decode vectorized (no scalar fallback) and match the
    scalar reference decoder exactly."""
    import os

    import numpy as np
    from mysql_cdc_spark.binlog.decoder import _FileDecoder
    from mysql_cdc_spark.binlog.vector import decode_segment_fast

    _, outdir = minimal_stream
    checked = 0
    for name in sorted(os.listdir(outdir)):
        with open(os.path.join(outdir, name), "rb") as f:
            content = f.read()
        frames = decode_segment_fast(content, name, TRANSCRIPTS)
        assert frames is not None, f"{name}: unexpected scalar fallback"
        b = to_pandas(frames)
        a = to_pandas(_FileDecoder(TRANSCRIPTS).decode_file(name, content))
        assert len(a) == len(b)
        for col in a.columns:
            av = a[col]
            bv = b[col]
            if str(bv.dtype).startswith("datetime") or str(av.dtype).startswith("datetime"):
                assert pd.to_datetime(av).tolist() == pd.to_datetime(bv).tolist(), col
            else:
                norm = lambda s: [None if pd.isna(v) else v for v in s.tolist()]
                assert norm(av) == norm(bv), (name, col)
        checked += 1
    assert checked >= 2
