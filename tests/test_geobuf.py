"""Geobuf codec tests: feature round-trip, stream framing, and transcode
parity with the direct GeoJSON->MVT encode path (the reference's
WriteLayerGeobuf contract, write_layer.go:218-267 / write_feature.go:214-351).
"""

import numpy as np
import pytest

from vector_tile_go_spark.codec import geobuf as gb
from vector_tile_go_spark.codec.decode import decode_tile
from vector_tile_go_spark.codec.encode import encode_layer

FEATURES = [
    {"type": "Point", "coordinates": [-122.41, 37.77],
     "properties": {"name": "sf", "pop": 873965, "flag": True}, "id": 7},
    {"type": "MultiPoint", "coordinates": [[10.1, 20.2], [30.3, -40.4]],
     "properties": {"k": 1.5}},
    {"type": "LineString",
     "coordinates": [[0.0, 0.0], [1.0, 1.0], [2.0, 0.5]],
     "properties": {"hwy": "a1"}},
    {"type": "MultiLineString",
     "coordinates": [[[0, 0], [5, 5]], [[1, 1], [2, 3], [4, 4]]],
     "properties": {}},
    {"type": "Polygon",
     "coordinates": [[[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]],
                     [[2, 2], [3, 2], [3, 3], [2, 2]]],
     "properties": {"area": "x"}},
    {"type": "MultiPolygon",
     "coordinates": [[[[0, 0], [4, 0], [4, 4], [0, 0]]],
                     [[[20, 20], [24, 20], [24, 24], [20, 20]]]],
     "properties": {"z": 9}},
]


def _flat(c):
    out = []

    def rec(x):
        if isinstance(x, (int, float)):
            out.append(float(x))
        else:
            for y in x:
                rec(y)
    rec(c)
    return np.array(out)


@pytest.mark.parametrize("feat", FEATURES, ids=[f["type"] for f in FEATURES])
def test_feature_roundtrip(feat):
    b = gb.encode_geobuf_feature(feat["type"], feat["coordinates"],
                                 feat.get("properties"), feat.get("id"))
    fid, props, gt, coords = gb.decode_geobuf_feature(b)
    assert gt == feat["type"]
    assert fid == feat.get("id")
    # 1e7 quantization: coordinates survive to ~1e-7 degrees
    assert np.allclose(_flat(feat["coordinates"]), _flat(coords), atol=1e-6)
    for k, v in feat.get("properties", {}).items():
        if isinstance(v, float):
            assert abs(props[k] - v) < 1e-9
        else:
            assert props[k] == v


def test_stream_framing():
    msgs = [gb.encode_geobuf_feature(f["type"], f["coordinates"],
                                     f.get("properties"), f.get("id"))
            for f in FEATURES]
    blob = gb.frame_stream(msgs)
    assert list(gb.iter_stream(blob)) == msgs


def test_transcode_matches_direct_encode():
    """Geobuf->MVT transcode must be byte-identical to directly encoding the
    quantized features (the reference routes both through the same cursor
    builders, write_feature.go:317-341)."""
    msgs = [gb.encode_geobuf_feature(f["type"], f["coordinates"],
                                     f.get("properties"), f.get("id"))
            for f in FEATURES]
    layer_t = gb.transcode_geobuf_layer(gb.frame_stream(msgs), 0, 0, 0, "l")
    qfeats = []
    for m in msgs:
        fid, props, gt, coords = gb.decode_geobuf_feature(m)
        qfeats.append({"type": gt, "coordinates": coords,
                       "properties": props, "id": fid})
    assert layer_t == encode_layer(qfeats, 0, 0, 0, "l")
    feats = decode_tile(layer_t, 0, 0, 0)
    assert len(feats) == len(FEATURES)


def test_value_variant_preserved_through_transcode():
    """Each of the 7 MVT value wire types survives geobuf->MVT->decode."""
    props = {"s": "str", "f32": np.float32(1.25), "f64": 2.5,
             "i": -3, "u": np.uint64(9), "b": False}
    m = gb.encode_geobuf_feature("Point", [1.0, 2.0], props, 1)
    layer = gb.transcode_geobuf_layer(gb.frame_stream([m]), 0, 0, 0, "l")
    ((_, feat),) = decode_tile(layer, 0, 0, 0)
    got = feat.properties
    assert got["s"] == "str" and got["f64"] == 2.5
    assert abs(float(got["f32"]) - 1.25) < 1e-6
    assert got["i"] == -3 and got["u"] == 9 and got["b"] is False


def test_geobuf_spark_stream_straddles_batches(spark):
    """encode_geobuf_tiles -> transcode_geobuf_tiles over the Arrow carry,
    with one partition at 7 records per Arrow batch so tile groups
    straddle batches: every tile keeps its feature count, and the decoded
    (id, url, mention_idx) set equals the input rows."""
    import pandas as pd

    from vector_tile_go_spark import tilemath as tm
    from vector_tile_go_spark.sparkops.udfs import (encode_geobuf_tiles,
                                                    transcode_geobuf_tiles)
    z, rows = 12, []
    for t in range(5):
        x, y = 700 + t, 1635
        w, s, e, n = tm.tile_bounds(z, x, y)
        for i in range(t + 2):              # 2..6 features per tile
            doc = 10 * t + i + 1
            rows.append((z, x, y, w + (0.1 + 0.1 * i) * (e - w),
                         s + (0.2 + 0.1 * i) * (n - s), doc, f"u{doc}", i))
    pdf = pd.DataFrame(rows, columns=["z", "x", "y", "lng", "lat", "doc_id",
                                      "url", "mention_idx"])
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        gbt = encode_geobuf_tiles(spark.createDataFrame(pdf), n_partitions=1)
        out = transcode_geobuf_tiles(gbt, layer_name="geo").collect()
    finally:
        spark.conf.set(key, old)
    want_n = pdf.groupby(["x", "y"]).size().to_dict()
    assert {(r["x"], r["y"]): r["n_features"] for r in out} == want_n
    got = set()
    for r in out:
        feats = decode_tile(bytes(r["tile_pbf"]), r["z"], r["x"], r["y"])
        assert len(feats) == r["n_features"]
        got |= {(f.feature_id, f.properties["url"],
                 f.properties["mention_idx"]) for _, f in feats}
    assert got == {(d, u, str(m)) for d, u, m in
                   zip(pdf["doc_id"], pdf["url"], pdf["mention_idx"])}
