"""MySQL 9 VECTOR(n) column decode (kind "vector", ColumnType 242).

The reference's event enum predates MySQL 9 (event_type.rs), so VECTOR
streams are unreadable by it; WL#16081 stores the column like a blob
whose payload is a packed little-endian float32 array. Both decode
paths must yield identical float lists, and the CDC-ingested column is
a Spark ``array<float>`` ready for the ANN ops in analytics/embeddings.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pytest

from mysql_cdc_spark.binlog.constants import ColumnType
from mysql_cdc_spark.binlog.decoder import TableSpec, _FileDecoder, _vector_to_floats
from mysql_cdc_spark.binlog.encoder import BinlogWriter
from mysql_cdc_spark.binlog.vector import _vectors_from_slices, decode_segment_fast
from mysql_cdc_spark.pipeline.replay import Replayer
from decoded import to_pandas


def _pack(vals) -> bytes:
    return np.asarray(vals, dtype="<f4").tobytes()


def test_converter_golden():
    assert _vector_to_floats(_pack([1.0, -2.5, 0.0])) == [1.0, -2.5, 0.0]
    assert _vector_to_floats(b"") == []
    # float32 precision is preserved exactly (0.1 is not representable;
    # the Python float must be the widened f32 value, not 0.1)
    (v,) = _vector_to_floats(_pack([0.1]))
    assert v == float(np.float32(0.1)) and v != 0.1


def test_converter_rejects_odd_length():
    with pytest.raises(ValueError):
        _vector_to_floats(b"\x00\x00\x00")


def test_ddl_maps_vector():
    from mysql_cdc_spark.binlog.ddl import map_mysql_type

    assert map_mysql_type("VECTOR(768)") == ("array<float>", "vector")
    assert map_mysql_type("vector") == ("array<float>", "vector")


# ------------------------------------------------- e2e through the engine

EMB = TableSpec(
    database="ml",
    table="embeddings",
    columns=(
        ("vec_id", "bigint", "int"),
        ("embedding", "array<float>", "vector"),
        ("ts", "timestamp", "ts_millis"),
    ),
    primary_key=("vec_id",),
)
CTYPES = [ColumnType.LONGLONG, ColumnType.VECTOR, ColumnType.TIMESTAMP2]
CMETA = [0, 4, 3]
COLS = ["vec_id", "embedding", "ts"]
UUID = "24bc7850-2c16-11e6-a073-0242ac110012"


def _write_vec_stream(outdir: str) -> dict:
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.default_rng(20260819)
    payloads = [
        _pack(rng.standard_normal(8)) for _ in range(4)
    ] + [_pack([]), None]  # empty vector and SQL NULL
    w = BinlogWriter("vec.000001")
    state = {}
    for i, p in enumerate(payloads):
        seq = i + 1
        w.write_mysql_gtid(UUID, seq)
        w.write_query("BEGIN", database="ml")
        w.write_table_map(
            700, "ml", "embeddings", CTYPES, CMETA,
            nullability=[False, True, False],
            column_names=COLS, simple_primary_keys=[0],
        )
        row = [i, p, 1700000000000 + i]
        w.write_rows(700, CTYPES, CMETA, [row])
        w.write_xid(seq)
        state[i] = p
    w.save(os.path.join(outdir, "vec.000001"))
    return state


def test_vector_column_replay(spark, tmp_path):
    outdir = str(tmp_path / "binlog")
    state = _write_vec_stream(outdir)
    rep = Replayer(spark, outdir, str(tmp_path / "store"), spec=EMB)
    res = rep.replay()
    assert res.events == len(state)
    got = {r["vec_id"]: r["embedding"] for r in rep.read_state().collect()}
    want = {
        k: (None if v is None else _vector_to_floats(v))
        for k, v in state.items()
    }
    # Arrow round-trips the values through float32 — bit-exact by
    # construction (the Python floats ARE widened float32s)
    assert got == want
    assert got[4] == [] and got[5] is None
    assert len(got[0]) == 8


def test_vector_scalar_fast_parity(tmp_path):
    outdir = str(tmp_path / "binlog")
    _write_vec_stream(outdir)
    with open(os.path.join(outdir, "vec.000001"), "rb") as f:
        content = f.read()
    sc = to_pandas(_FileDecoder(EMB).decode_file("vec.000001", content))
    fast_frames = decode_segment_fast(content, "vec.000001", EMB)
    assert fast_frames is not None, "vector kind fell back to scalar decode"
    fa = to_pandas(fast_frames)
    assert len(sc) == len(fa)
    for col in ("after_vec_id", "after_embedding", "op"):
        assert sc[col].tolist() == fa[col].tolist(), f"{col} differs"


def test_batch_lane_fuzz():
    """_vectors_from_slices must agree with the scalar converter across
    random dims (incl. 0), values (subnormals, inf, nan bit patterns
    survive — the lane is a byte gather, not arithmetic), and NULLs."""
    rng = np.random.default_rng(7)
    blobs = []
    for i in range(500):
        k = i % 5
        if k == 4:
            blobs.append(None)
        elif k == 3:
            blobs.append(_pack([]))
        else:
            dim = int(rng.integers(1, 33))
            vals = rng.standard_normal(dim).astype("<f4")
            if k == 2:  # special values
                vals[0] = np.float32("inf")
                if dim > 1:
                    vals[1] = np.float32(1e-42)  # subnormal
            blobs.append(vals.tobytes())

    data = b"".join(b or b"" for b in blobs)
    buf = np.frombuffer(data, dtype=np.uint8)
    starts, lens, nulls, pos = [], [], [], 0
    for b in blobs:
        starts.append(pos)
        lens.append(len(b) if b else 0)
        nulls.append(b is None)
        pos += len(b) if b else 0
    got = _vectors_from_slices(
        buf, np.array(starts), np.array(lens), np.array(nulls)
    ).to_pylist()
    for g, b in zip(got, blobs):
        if b is None:
            assert g is None
        else:
            want = _vector_to_floats(b)
            assert len(g) == len(want)
            # nan != nan — compare bit patterns
            assert (
                np.asarray(g, dtype="<f4").tobytes()
                == np.asarray(want, dtype="<f4").tobytes()
            )


def test_batch_lane_rejects_odd_length():
    buf = np.frombuffer(b"\x00" * 7, dtype=np.uint8)
    with pytest.raises(ValueError, match="not divisible by 4"):
        _vectors_from_slices(
            buf, np.array([0]), np.array([7]), np.array([False])
        )


def test_table_map_metadata_roundtrip():
    """VECTOR carries 1-byte packlength metadata in TABLE_MAP like the
    blob family (Field_vector rides Field_blob's wire form)."""
    from mysql_cdc_spark.binlog.reader import parse_table_map

    w = BinlogWriter("m.000001")
    w.write_table_map(9, "ml", "embeddings", CTYPES, CMETA,
                      nullability=[False, True, False])
    # last chunk = 19-byte header + payload + 4-byte CRC32
    payload = w.chunks[-1][19:-4]
    tm = parse_table_map(payload)
    assert tm["column_types"] == CTYPES
    assert tm["column_metadata"] == CMETA
