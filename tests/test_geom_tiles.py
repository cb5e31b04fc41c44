"""Distributed generic-geometry codec: encode_geojson_tiles /
decode_tile_vertices over the Spark path (LineString + Polygon + Multi*),
plus LoadGeometryScaled semantics (read_feature_lazy.go:342-396)."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from vector_tile_go_spark.sparkops.udfs import (decode_tile_vertices,
                                                encode_geojson_tiles)


def _mk_df(spark, rows, nesting=3):
    schema = ("z int, x bigint, y bigint, feature_id bigint, "
              "coords array<array<array<double>>>, props map<string,string>")
    return spark.createDataFrame(rows, schema)


def test_polygon_winding_and_closure(spark):
    # counter-clockwise input ring (screen coords): encoder must reverse it
    ring = [[10.0, 10.0], [20.0, 10.0], [15.0, 20.0]]
    df = _mk_df(spark, [(0, 0, 0, 7, [ring], {"k": "v"})])
    tiles = encode_geojson_tiles(df, "Polygon", layer_name="t")
    v = decode_tile_vertices(tiles).toPandas().sort_values("pt_idx")
    assert list(v["geojson_type"].unique()) == ["Polygon"]
    assert len(v) == 4  # 3 vertices + explicit closing point
    assert v.iloc[0]["ix"] == v.iloc[3]["ix"]
    assert v.iloc[0]["iy"] == v.iloc[3]["iy"]
    # exterior must decode clockwise in tile coords (y down): shoelace > 0
    pts = v[["ix", "iy"]].to_numpy(np.float64)
    w = np.sum((pts[1:, 0] - pts[:-1, 0]) * (pts[1:, 1] + pts[:-1, 1]))
    assert w > 0


def test_linestring_zero_delta_drop(spark):
    # two consecutive identical points: LinePoint drops the duplicate
    line = [[0.0, 0.0], [10.0, 10.0], [10.0, 10.0], [20.0, 0.0]]
    df = _mk_df(spark, [(0, 0, 0, 3, [line], {})])
    tiles = encode_geojson_tiles(df, "LineString", layer_name="t")
    v = decode_tile_vertices(tiles).toPandas()
    assert list(v["geojson_type"].unique()) == ["LineString"]
    assert len(v) == 3  # duplicate dropped (write_geometry.go:116-125)


def test_scaled_decode_round_half_away(spark):
    line = [[-10.0, -10.0], [10.0, 10.0], [30.0, -5.0]]
    df = _mk_df(spark, [(0, 0, 0, 3, [line], {})])
    tiles = encode_geojson_tiles(df, "LineString", layer_name="t")
    v = decode_tile_vertices(tiles, scale_dim=16.0).toPandas()
    for _, r in v.iterrows():
        for a, b in (("ix", "sx"), ("iy", "sy")):
            f = r[a] / 16.0
            expect = int(np.sign(f) * np.floor(abs(f) + 0.5))
            assert r[b] == expect


def test_feature_id_zero_is_absent(spark):
    df = _mk_df(spark, [(0, 0, 0, 0, [[[1.0, 1.0], [2.0, 2.0]]], {})])
    tiles = encode_geojson_tiles(df, "LineString", layer_name="t")
    v = decode_tile_vertices(tiles).toPandas()
    # id 0 is "no id" on the wire (read_tile.go:342-343)
    assert v["feature_id"].isna().all()


def test_multi_features_share_tile_sorted_by_id(spark):
    rows = [(5, 10, 12, 2, [[[1.0, 1.0], [2.0, 2.0]]], {"n": "b"}),
            (5, 10, 12, 1, [[[3.0, 3.0], [4.0, 4.0]]], {"n": "a"})]
    df = _mk_df(spark, rows)
    tiles = encode_geojson_tiles(df, "LineString", layer_name="t")
    assert tiles.count() == 1
    v = decode_tile_vertices(tiles).toPandas()
    assert sorted(v["feature_id"].unique()) == [1, 2]


def test_decode_prop_cols_projection(spark):
    """decode_tiles prop_cols: flat string columns instead of the map, and
    () drops properties entirely — the lazy property projection."""
    import pandas as pd

    from vector_tile_go_spark.sparkops.udfs import (decode_tiles,
                                                    encode_point_tiles)
    pdf = pd.DataFrame({
        "z": [8] * 4, "x": [100, 100, 101, 101], "y": [97] * 4,
        "lng": [-38.0, -38.01, -36.6, -36.61], "lat": [40.0, 40.01, 40.0, 40.01],
        "doc_id": [1, 2, 3, 4],
        "url": [f"https://www.ex.org/doc/{i}" for i in range(4)],
        "mention_idx": ["0", "1", "0", "1"]})
    df = spark.createDataFrame(pdf)
    tiles = encode_point_tiles(df, layer_name="geo",
                               prop_cols=("url", "mention_idx"))
    flat = decode_tiles(tiles, mode="props",
                        prop_cols=("url",)).toPandas()
    assert "url" in flat.columns and "properties" not in flat.columns
    assert sorted(flat["url"]) == sorted(pdf["url"])
    none = decode_tiles(tiles, mode="props", prop_cols=()).toPandas()
    assert "properties" not in none.columns and "url" not in none.columns
    assert len(none) == 4
    full = decode_tiles(tiles, mode="props").toPandas()
    assert sorted(p["url"] for p in full["properties"]) == sorted(pdf["url"])


def test_multilinestring_roundtrip(spark):
    lines = [[[0.0, 0.0], [10.0, 10.0]], [[20.0, 0.0], [30.0, 5.0], [40.0, 0.0]]]
    df = _mk_df(spark, [(0, 0, 0, 3, lines, {})])
    tiles = encode_geojson_tiles(df, "MultiLineString", layer_name="t")
    v = decode_tile_vertices(tiles).toPandas()
    assert list(v["geojson_type"].unique()) == ["MultiLineString"]
    assert sorted(v.groupby("ring_idx").size().tolist()) == [2, 3]


def test_decode_quarantine_corrupt_tiles(spark):
    """quarantine=True: corrupt tile bytes become error rows instead of
    failing the stage (the reference's per-tile panic/recover,
    read_tile.go:79-84, at distributed scale)."""
    import pandas as pd

    from vector_tile_go_spark.codec.encode import encode_layer
    from vector_tile_go_spark.sparkops.udfs import decode_tiles
    good = encode_layer([{"type": "Point", "coordinates": [1.0, 1.0],
                          "properties": {"k": "v"}, "id": 7}], 0, 0, 0, "t")
    # frame claims 5 body bytes but the buffer ends mid-varint -> IndexError
    corrupt = b"\x1a\x05\x0a\x84"
    pdf = pd.DataFrame({"z": [0, 0], "x": [0, 1], "y": [0, 0],
                        "tile_pbf": [good, corrupt]})
    tiles = spark.createDataFrame(pdf)
    out = decode_tiles(tiles, mode="props", quarantine=True).toPandas()
    ok = out[out["error"].isna()]
    bad = out[out["error"].notna()]
    assert len(ok) == 1 and ok.iloc[0]["feature_id"] == 7
    assert len(bad) == 1 and bad.iloc[0]["x"] == 1


def test_decode_error_contract_names_the_tile(spark):
    """One error contract at all six decode entry points: the corrupt tile
    at (0, 1, 0) fails the job with z=0 x=1 y=0 in the message, and under
    quarantine decode_tiles yields exactly one error row for it."""
    import pytest

    from vector_tile_go_spark.codec.encode import encode_layer
    from vector_tile_go_spark.sparkops import udfs
    good = encode_layer([{"type": "Point", "coordinates": [1.0, 1.0],
                          "properties": {"k": "v"}, "id": 7}], 0, 0, 0, "t")
    tiles = spark.createDataFrame(
        [(0, 0, 0, good), (0, 1, 0, b"\x1a\x05\x0a\x84")],
        "z int, x bigint, y bigint, tile_pbf binary")
    entry_points = {
        "decode_tiles": udfs.decode_tiles(tiles),
        "decode_tile_stats": udfs.decode_tile_stats(tiles, distinct_prop="k"),
        "decode_tile_point_agg": udfs.decode_tile_point_agg(
            tiles, lambda z, x, y, px, py, ext: (len(px),), "n bigint"),
        "decode_tile_vertices": udfs.decode_tile_vertices(tiles),
        "decode_tile_props_typed": udfs.decode_tile_props_typed(
            tiles, {"k": "string"}),
        "tile_stats": udfs.tile_stats(tiles),
    }
    for name, df in entry_points.items():
        with pytest.raises(Exception) as err:
            df.collect()
        assert "z=0 x=1 y=0" in str(err.value), name
    out = udfs.decode_tiles(tiles, mode="props", quarantine=True).collect()
    assert [(r["x"], r["feature_id"]) for r in out if r["error"] is None] \
        == [(0, 7)]
    assert [(r["z"], r["x"], r["y"]) for r in out if r["error"]] == [(0, 1, 0)]
    # an id of 2^63 or more (the encoder writes id -1 as 2^64-1) decodes,
    # but does not fit the bigint feature_id: that tile's error, by name
    huge = encode_layer([{"type": "Point", "coordinates": [1.0, 1.0],
                          "properties": {"k": "v"}, "id": -1}], 0, 2, 0, "t")
    tiles = spark.createDataFrame(
        [(0, 0, 0, good), (0, 2, 0, huge)],
        "z int, x bigint, y bigint, tile_pbf binary")
    for name, df in {
            "decode_tiles": udfs.decode_tiles(tiles),
            "decode_tile_vertices": udfs.decode_tile_vertices(tiles),
            "decode_tile_props_typed": udfs.decode_tile_props_typed(
                tiles, {"k": "string"})}.items():
        with pytest.raises(Exception) as err:
            df.collect()
        assert "z=0 x=2 y=0" in str(err.value), name
        assert "18446744073709551615" in str(err.value), name
    out = udfs.decode_tiles(tiles, quarantine=True).collect()
    assert [(r["x"], r["feature_id"], r["error"] is None) for r in out] \
        == [(0, 7, True), (2, None, False)]


def test_multipoint_duplicate_points_through_decode(spark):
    """A bulk-encoded MultiPoint whose MoveTo count outlived its dropped
    zero-delta duplicates decodes at the entry points as in the walk."""
    from vector_tile_go_spark.codec.decode import decode_tile
    from vector_tile_go_spark.sparkops import udfs
    pts = [[10.0, 10.0], [10.0, 10.0], [20.0, 15.0], [20.0, 15.0]]
    tiles = encode_geojson_tiles(_mk_df(spark, [(0, 0, 0, 5, [pts], {})]),
                                 "MultiPoint", layer_name="mp")
    (_, f), = decode_tile(tiles.first()["tile_pbf"], mode="int")
    assert len(f.xs) == 2   # under a count-4 MoveTo header
    (r,) = udfs.decode_tiles(tiles, mode="int").collect()
    assert (r["geojson_type"], r["lng"], r["lat"]) == \
        (f.geojson_type, f.xs[0], f.ys[0])
    (a,) = udfs.decode_tile_point_agg(
        tiles, lambda z, x, y, px, py, ext: (len(px), float(px[0])),
        "n bigint, px0 double").collect()
    assert (a["n"], a["px0"]) == (1, f.xs[0])


def test_bulk_geom_stream_multi_tile_batches(spark):
    """Regression (round 5): the bulk stream's mid-batch emit must trim
    trailing pending rows — with few partitions a single Arrow batch
    carries MANY tiles plus a partial tail, which crashed the kernel's
    exact-coverage assumption before the fix."""
    import pandas as pd
    from pyspark.sql import functions as F

    import vector_tile_go_spark.tilemath as tm
    from vector_tile_go_spark.codec.encode import encode_layer
    z = 6
    rows = []
    for t in range(12):           # 12 tiles, 3 triangles each
        x, y = 10 + t, 20
        w, s, e, n = map(float, tm.tile_bounds(z, x, y))
        for i in range(3):
            tri = [[w + (0.1 + 0.05 * i) * (e - w), s + 0.1 * (n - s)],
                   [w + 0.6 * (e - w), s + (0.2 + 0.1 * i) * (n - s)],
                   [w + 0.3 * (e - w), s + 0.8 * (n - s)]]
            rows.append((z, x, y, i + 1, [tri], {"nk": str(i)}))
    df = spark.createDataFrame(
        rows, "z int, x long, y long, feature_id long, "
              "coords array<array<array<double>>>, "
              "props map<string,string>")
    out = {(r["x"]): r for r in
           encode_geojson_tiles(df, "Polygon", layer_name="g",
                                n_partitions=2).collect()}
    assert len(out) == 12
    for t in range(12):
        x, y = 10 + t, 20
        w, s, e, n = tm.tile_bounds(z, x, y)
        feats = [{"type": "Polygon",
                  "coordinates": [[[w + (0.1 + 0.05 * i) * (e - w),
                                    s + 0.1 * (n - s)],
                                   [w + 0.6 * (e - w),
                                    s + (0.2 + 0.1 * i) * (n - s)],
                                   [w + 0.3 * (e - w), s + 0.8 * (n - s)]]],
                  "properties": {"nk": str(i)}, "id": i + 1}
                 for i in range(3)]
        want = encode_layer(feats, z, x, y, "g", extent_clamp=False)
        assert bytes(out[x]["tile_pbf"]) == want
        assert out[x]["n_features"] == 3


def test_bulk_geom_stream_nonuniform_props_fallback(spark):
    """Rows with differing prop-key sets fall back to the scalar encoder
    INSIDE the bulk stream UDF — output bytes still equal encode_layer."""
    from pyspark.sql import functions as F  # noqa: F401

    import vector_tile_go_spark.tilemath as tm
    from vector_tile_go_spark.codec.encode import encode_layer
    z, x, y = 6, 10, 20
    w, s, e, n = map(float, tm.tile_bounds(z, x, y))
    tri1 = [[w + .1 * (e - w), s + .1 * (n - s)],
            [w + .6 * (e - w), s + .2 * (n - s)],
            [w + .3 * (e - w), s + .8 * (n - s)]]
    tri2 = [[w + .2 * (e - w), s + .1 * (n - s)],
            [w + .7 * (e - w), s + .3 * (n - s)],
            [w + .4 * (e - w), s + .9 * (n - s)]]
    rows = [(z, x, y, 1, [tri1], {"nk": "0"}),
            (z, x, y, 2, [tri2], {"other": "1"})]   # different key set
    df = spark.createDataFrame(
        rows, "z int, x long, y long, feature_id long, "
              "coords array<array<array<double>>>, "
              "props map<string,string>")
    out = encode_geojson_tiles(df, "Polygon", layer_name="g").collect()
    assert len(out) == 1
    feats = [{"type": "Polygon", "coordinates": [tri1],
              "properties": {"nk": "0"}, "id": 1},
             {"type": "Polygon", "coordinates": [tri2],
              "properties": {"other": "1"}, "id": 2}]
    want = encode_layer(feats, z, x, y, "g", extent_clamp=False)
    assert bytes(out[0]["tile_pbf"]) == want


def _arrow_boundary_rows(geom_type, z=6, n_tiles=4, per_tile=3):
    """Rows for every tile of one geometry type: shapes built inside each
    tile, props maps in rotating key order (same key set)."""
    import vector_tile_go_spark.tilemath as tm
    rows, feats = [], {}
    for t in range(n_tiles):
        x, y = 10 + t, 20
        w, s, e, n = map(float, tm.tile_bounds(z, x, y))

        def p(a, b):
            return [w + a * (e - w), s + b * (n - s)]

        for i in range(per_tile):
            d = 0.05 * i
            ring = [p(.1 + d, .1), p(.6, .2 + d), p(.3, .8 - d)]
            hole = [p(.3, .3 + d), p(.35, .35), p(.3 + d, .4)]
            other = [p(.7, .7), p(.9, .75 + d), p(.8, .9)]
            geom, coords = {
                "Point": ([[ring[0]]], ring[0]),
                "LineString": ([ring], ring),
                "MultiPoint": ([ring + [ring[1]]], ring + [ring[1]]),
                "MultiLineString": ([ring, other], [ring, other]),
                "Polygon": ([ring, hole], [ring, hole]),
                "MultiPolygon3": ([ring, other], [[ring], [other]]),
                "MultiPolygon4": ([[ring, hole], [other]],
                                  [[ring, hole], [other]]),
            }[geom_type]
            keys = ["a", "b", "c"]
            keys = keys[i % 3:] + keys[:i % 3]
            props = {k: f"{k}{(t + i) % 2}" for k in keys}
            fid = t * per_tile + i + 1
            rows.append((z, x, y, fid, geom, props))
            feats.setdefault((x, y), []).append(
                {"type": geom_type.rstrip("34"), "coordinates": coords,
                 "properties": props, "id": fid})
    return rows, feats


def test_encode_geom_tiles_arrow_boundary_byte_identity(spark):
    """The mapInArrow encode boundary is byte-identical to encode_layer for
    every bulk geometry type (3- and 4-level MultiPolygon included), with
    map keys in varying order, and with null maps / null values sending
    their tile to the scalar fallback — at 7 records per Arrow batch, so
    tile groups straddle batch boundaries."""
    from vector_tile_go_spark.codec.encode import encode_layer
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        for gt in ("LineString", "MultiPoint", "MultiLineString", "Polygon",
                   "MultiPolygon3", "MultiPolygon4"):
            rows, feats = _arrow_boundary_rows(gt)
            if gt == "Polygon":
                # tile 11: a null map; tile 12: a null value
                rows[3] = rows[3][:5] + (None,)
                feats[(11, 20)][0]["properties"] = {}
                rows[7] = rows[7][:5] + ({"a": None, "b": "x", "c": "y"},)
                feats[(12, 20)][1]["properties"] = {"a": None, "b": "x",
                                                    "c": "y"}
            depth = "array<" * (4 if gt == "MultiPolygon4" else 3)
            df = spark.createDataFrame(
                rows, "z int, x long, y long, feature_id long, "
                      f"coords {depth}double{'>' * depth.count('<')}, "
                      "props map<string,string>")
            # one partition: 12 sorted rows in batches of 7, so the
            # 3-feature tile at rows 6-8 spans two batches
            out = encode_geojson_tiles(df, gt.rstrip("34"), layer_name="g",
                                       n_partitions=1)
            got = {(r["x"], r["y"]): r for r in out.collect()}
            assert sorted(got) == sorted(feats), gt
            for (x, y), fs in feats.items():
                want = encode_layer(fs, 6, x, y, "g", extent_clamp=False)
                assert bytes(got[(x, y)]["tile_pbf"]) == want, (gt, x)
                assert got[(x, y)]["n_features"] == len(fs)
    finally:
        spark.conf.set(key, old)


def test_scalar_route_json_and_point_props_byte_identity(spark):
    """Tile groups the bulk encoder does not take go to the per-tile
    encode_layer oracle inside the same mapInArrow: JSON-string props
    (str/int/float/bool) on Point, LineString, Polygon and 4-level
    MultiPolygon, and Point with map<string,string> props. Every tile is
    byte-identical to encode_layer over the json.loads'd features, at 7
    records per Arrow batch so tile groups straddle batches."""
    import json

    from vector_tile_go_spark.codec.encode import encode_layer
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        for gt, ptype in (("Point", "string"), ("LineString", "string"),
                          ("Polygon", "string"), ("MultiPolygon4", "string"),
                          ("Point", "map<string,string>")):
            rows, feats = _arrow_boundary_rows(gt)
            if ptype == "string":
                by_id = {}
                for i, r in enumerate(rows):
                    fid = r[3]
                    by_id[fid] = json.dumps(
                        {"name": f"n{fid}", "nk": fid, "frac": fid / 7.0,
                         "flag": fid % 2 == 0})
                    rows[i] = r[:5] + (by_id[fid],)
                for fs in feats.values():
                    for f in fs:
                        f["properties"] = json.loads(by_id[f["id"]])
            depth = "array<" * (4 if gt == "MultiPolygon4" else 3)
            df = spark.createDataFrame(
                rows, "z int, x long, y long, feature_id long, "
                      f"coords {depth}double{'>' * depth.count('<')}, "
                      f"props {ptype}")
            out = encode_geojson_tiles(df, gt.rstrip("34"), layer_name="g",
                                       n_partitions=1)
            got = {(r["x"], r["y"]): r for r in out.collect()}
            assert sorted(got) == sorted(feats), (gt, ptype)
            for (x, y), fs in feats.items():
                want = encode_layer(fs, 6, x, y, "g", extent_clamp=False)
                assert bytes(got[(x, y)]["tile_pbf"]) == want, (gt, ptype, x)
                assert got[(x, y)]["n_features"] == len(fs)
    finally:
        spark.conf.set(key, old)


def test_tile_stats_skips_null_tiles(spark):
    """tile_stats skips a null tile_pbf instead of failing the stage."""
    from vector_tile_go_spark.codec.encode import encode_layer
    from vector_tile_go_spark.sparkops.udfs import tile_stats
    good = encode_layer([{"type": "Point", "coordinates": [1.0, 1.0],
                          "properties": {"k": "v"}, "id": 7}], 0, 0, 0, "t")
    df = spark.createDataFrame(
        [(0, 0, 0, good), (0, 1, 0, None)],
        "z int, x bigint, y bigint, tile_pbf binary")
    out = tile_stats(df).collect()
    assert [(r["x"], r["layer"], r["n_features"]) for r in out] == \
        [(0, "t", 1)]


def test_decode_chunks_dense_and_sparse_tiles(spark):
    """Each Arrow batch is projected in chunks (udfs._chunks): a tile over
    the 256 KB chunk budget goes alone, small tiles share a chunk, and the
    entry points yield the walk's rows whatever the split — dense tiles
    included, which take decode_tile_stats' feature-table route."""
    import pyarrow as pa

    from vector_tile_go_spark import tilemath as tm
    from vector_tile_go_spark.codec.decode import decode_tile
    from vector_tile_go_spark.codec.encode import encode_layer
    from vector_tile_go_spark.sparkops import udfs
    rng = np.random.default_rng(3)

    def tile(x, n):
        w, s, e, nn = tm.tile_bounds(8, x, 100)
        return encode_layer(
            [{"type": "Point", "id": i + 1,
              "coordinates": [w + rng.random() * (e - w),
                              s + rng.random() * (nn - s)],
              "properties": {"url": f"u{i % 50}", "pad": f"{i:0100d}"}}
             for i in range(n)], 8, x, 100, "geo")

    rows = [(8, x, 100, tile(x, n))
            for x, n in enumerate((1, 2, 1, 3000, 3000, 100, 1))]
    rb = pa.RecordBatch.from_arrays(
        [pa.array([r[3] for r in rows], pa.binary())], names=["tile_pbf"])
    sizes = [[len(b) for b in c.column(0).to_pylist()]
             for c in udfs._chunks(rb)]
    assert [len(s) for s in sizes] == [3, 1, 1, 2]
    assert all(len(s) == 1 or sum(s) <= udfs._DECODE_BYTES for s in sizes)
    tiles = spark.createDataFrame(
        rows, "z int, x bigint, y bigint, tile_pbf binary").coalesce(1)
    walk = {x: [f for _, f in decode_tile(b, mode="int")]
            for _, x, _, b in rows}
    got = udfs.decode_tiles(tiles, mode="int").collect()
    assert sorted((r["x"], r["feature_id"], r["lng"], r["lat"])
                  for r in got) == sorted(
        (x, f.feature_id, f.xs[0], f.ys[0]) for x, fs in walk.items()
        for f in fs)
    stats = udfs.decode_tile_stats(tiles).collect()
    assert sorted((r["x"], r["n_features"], r["n_urls"]) for r in stats) == [
        (x, len(fs), len({f.properties["url"] for f in fs}))
        for x, fs in sorted(walk.items())]
    assert udfs.decode_tile_vertices(tiles).count() == \
        sum(len(fs) for fs in walk.values())
