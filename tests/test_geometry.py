"""MySQL GEOMETRY (SRID + WKB) decode/encode (binlog/geometry.py).

The reference returns GEOMETRY columns as the raw blob
(row_parser.rs:174-175); kind "geometry" decodes to WKT text. Golden
bytes are hand-derived from the public WKB layout; both decode paths
must agree.
"""

from __future__ import annotations

import os
import struct

import pytest

from mysql_cdc_spark.binlog import geometry as G
from mysql_cdc_spark.binlog.constants import ColumnType, EventType
from mysql_cdc_spark.binlog.decoder import TableSpec, _FileDecoder
from mysql_cdc_spark.binlog.encoder import BinlogWriter
from mysql_cdc_spark.binlog.vector import decode_segment_fast
from mysql_cdc_spark.pipeline.replay import Replayer
from decoded import to_pandas


def test_point_golden():
    # SRID=0, LE, type=1, x=1.0 y=2.0 — byte-exact
    blob = (
        b"\x00\x00\x00\x00" + b"\x01" + b"\x01\x00\x00\x00"
        + struct.pack("<2d", 1.0, 2.0)
    )
    assert G.geometry_to_wkt(blob) == "POINT(1 2)"
    assert G.encode_geometry(("point", (1.0, 2.0))) == blob


def test_srid_renders_as_ewkt_prefix():
    blob = G.encode_geometry(("point", (-73.99, 40.73)), srid=4326)
    assert G.geometry_to_wkt(blob) == "SRID=4326;POINT(-73.99 40.73)"


def test_big_endian_wkb_decodes():
    blob = b"\x00\x00\x00\x00" + b"\x00" + struct.pack(">I", 1) + struct.pack(
        ">2d", 3.5, -4.25
    )
    assert G.geometry_to_wkt(blob) == "POINT(3.5 -4.25)"


def test_linestring_and_polygon():
    ls = G.encode_geometry(("linestring", [(0, 0), (1, 1), (2, 0)]))
    assert G.geometry_to_wkt(ls) == "LINESTRING(0 0, 1 1, 2 0)"
    pg = G.encode_geometry(
        ("polygon", [[(0, 0), (4, 0), (4, 4), (0, 0)], [(1, 1), (2, 1), (1, 2), (1, 1)]])
    )
    assert (
        G.geometry_to_wkt(pg)
        == "POLYGON((0 0, 4 0, 4 4, 0 0), (1 1, 2 1, 1 2, 1 1))"
    )


def test_multi_and_collection():
    mp = G.encode_geometry(("multipoint", [(1, 2), (3, 4)]))
    assert G.geometry_to_wkt(mp) == "MULTIPOINT((1 2), (3 4))"
    mpoly = G.encode_geometry(
        ("multipolygon", [[[(0, 0), (1, 0), (1, 1), (0, 0)]]])
    )
    assert G.geometry_to_wkt(mpoly) == "MULTIPOLYGON(((0 0, 1 0, 1 1, 0 0)))"
    gc = G.encode_geometry(
        ("geometrycollection", [("point", (9, 9)), ("linestring", [(0, 0), (1, 1)])])
    )
    assert (
        G.geometry_to_wkt(gc)
        == "GEOMETRYCOLLECTION(POINT(9 9), LINESTRING(0 0, 1 1))"
    )


def test_null_and_errors():
    assert G.geometry_to_wkt(None) is None
    assert G.geometry_to_wkt(b"") is None
    with pytest.raises(G.GeometryError, match="SRID"):
        G.geometry_to_wkt(b"\x01\x02")
    with pytest.raises(G.GeometryError, match="byte-order"):
        G.geometry_to_wkt(b"\x00\x00\x00\x00" + b"\x07" + b"\x00" * 12)
    with pytest.raises(G.GeometryError, match="unsupported WKB type"):
        G.geometry_to_wkt(
            b"\x00\x00\x00\x00" + b"\x01" + struct.pack("<I", 99) + b"\x00" * 16
        )
    with pytest.raises(G.GeometryError, match="trailing"):
        blob = G.encode_geometry(("point", (1, 2))) + b"\x00"
        G.geometry_to_wkt(blob)


def test_fractional_coords_roundtrip_text():
    blob = G.encode_geometry(("point", (1.5, -0.125)))
    assert G.geometry_to_wkt(blob) == "POINT(1.5 -0.125)"


# ------------------------------------------------- e2e through the engine

PLACES = TableSpec(
    database="geo",
    table="places",
    columns=(
        ("place_id", "string", "str"),
        ("loc", "string", "geometry"),
        ("ts", "timestamp", "ts_millis"),
    ),
    primary_key=("place_id",),
)
CTYPES = [ColumnType.VARCHAR, ColumnType.GEOMETRY, ColumnType.TIMESTAMP2]
CMETA = [64, 4, 3]
COLS = ["place_id", "loc", "ts"]
UUID = "24bc7850-2c16-11e6-a073-0242ac110011"


def _write_geo_stream(outdir: str) -> dict:
    os.makedirs(outdir, exist_ok=True)
    payloads = [
        G.encode_geometry(("point", (i + 0.5, -i)), srid=4326 if i % 2 else 0)
        for i in range(4)
    ] + [
        G.encode_geometry(("linestring", [(0, 0), (1, 2), (3, 3)])),
        G.encode_geometry(("polygon", [[(0, 0), (2, 0), (2, 2), (0, 0)]])),
    ]
    w = BinlogWriter("geo.000001")
    state = {}
    for i, p in enumerate(payloads):
        seq = i + 1
        w.write_mysql_gtid(UUID, seq)
        w.write_query("BEGIN", database="geo")
        w.write_table_map(
            500, "geo", "places", CTYPES, CMETA,
            nullability=[False, True, False],
            column_names=COLS, simple_primary_keys=[0],
        )
        row = [f"p-{i}", p, 1700000000000 + i]
        w.write_rows(500, CTYPES, CMETA, [row])
        w.write_xid(seq)
        state[row[0]] = p
    w.save(os.path.join(outdir, "geo.000001"))
    return state


def test_geometry_column_replay(spark, tmp_path):
    outdir = str(tmp_path / "binlog")
    state = _write_geo_stream(outdir)
    rep = Replayer(spark, outdir, str(tmp_path / "store"), spec=PLACES)
    res = rep.replay()
    assert res.events == len(state)
    got = {r["place_id"]: r["loc"] for r in rep.read_state().collect()}
    want = {k: G.geometry_to_wkt(v) for k, v in state.items()}
    assert got == want
    assert got["p-1"] == "SRID=4326;POINT(1.5 -1)"
    assert got["p-4"] == "LINESTRING(0 0, 1 2, 3 3)"


def test_geometry_scalar_vector_parity(tmp_path):
    outdir = str(tmp_path / "binlog")
    _write_geo_stream(outdir)
    with open(os.path.join(outdir, "geo.000001"), "rb") as f:
        content = f.read()
    sc = to_pandas(_FileDecoder(PLACES).decode_file("geo.000001", content))
    fast_frames = decode_segment_fast(content, "geo.000001", PLACES)
    assert fast_frames is not None, "geometry kind fell back to scalar decode"
    fa = to_pandas(fast_frames)
    assert len(sc) == len(fa)
    for col in ("after_place_id", "after_loc", "op"):
        assert sc[col].tolist() == fa[col].tolist(), f"{col} differs"


def test_batch_point_kernel_parity_fuzz():
    """The vectorized LE-POINT lane in vector._geometry_texts_from_slices
    must render byte-identically to the recursive scalar decoder across
    random coordinates (integral, fractional, exponent-range), random
    SRIDs, big-endian points, non-point shapes, and NULLs."""
    import random

    import numpy as np

    from mysql_cdc_spark.binlog.vector import _geometry_texts_from_slices

    rng = random.Random(20260818)
    blobs = []
    for i in range(600):
        kind = i % 6
        srid = rng.choice([0, 0, 4326, 3857, 1])
        if kind <= 2:  # LE points dominate, mixed coord shapes
            def coord():
                c = rng.choice([
                    float(rng.randint(-10**6, 10**6)),
                    rng.uniform(-180, 180),
                    rng.uniform(-1e-6, 1e-6),
                    rng.uniform(-1e18, 1e18),
                    -0.0,
                ])
                return c
            blobs.append(G.encode_geometry(("point", (coord(), coord())), srid=srid))
        elif kind == 3:  # big-endian point → fallback path
            x, y = rng.uniform(-50, 50), rng.uniform(-50, 50)
            wkb = struct.pack(">BI2d", 0, 1, x, y)
            blobs.append(struct.pack("<I", srid) + wkb)
        elif kind == 4:
            blobs.append(G.encode_geometry(
                ("linestring", [(rng.randint(0, 9), rng.randint(0, 9)) for _ in range(3)]),
                srid=srid,
            ))
        else:
            blobs.append(None)  # SQL NULL

    data = b"".join(b or b"" for b in blobs)
    buf = np.frombuffer(data, dtype=np.uint8)
    starts, lens, nulls, pos = [], [], [], 0
    for b in blobs:
        starts.append(pos)
        lens.append(len(b) if b else 0)
        nulls.append(b is None)
        pos += len(b) if b else 0
    got = _geometry_texts_from_slices(
        buf, np.array(starts), np.array(lens), np.array(nulls)
    )
    want = [None if b is None else G.geometry_to_wkt(b) for b in blobs]
    assert list(got) == want
