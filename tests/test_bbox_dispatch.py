"""Golden tests for the full per-geometry bbox dispatch
(feature_reduce.go:40-191), including the GeometryCollection arm, plus
decoder tolerance for unknown wire geometry types."""

import math

from vector_tile_go_spark.spatial.bbox import (bbox_points, expand_bboxes,
                                               geometry_bbox)


def test_bbox_golden_all_types():
    assert geometry_bbox({"type": "Point", "coordinates": [3.0, -2.0]}) == \
        (3.0, -2.0, 3.0, -2.0)
    assert geometry_bbox({"type": "MultiPoint",
                          "coordinates": [[1, 5], [-3, 2], [4, -1]]}) == \
        (-3, -1, 4, 5)
    assert geometry_bbox({"type": "LineString",
                          "coordinates": [[0, 0], [10, -10], [5, 5]]}) == \
        (0, -10, 10, 5)
    assert geometry_bbox({"type": "MultiLineString",
                          "coordinates": [[[0, 0], [1, 1]],
                                          [[-5, 2], [3, 9]]]}) == (-5, 0, 3, 9)
    assert geometry_bbox({"type": "Polygon",
                          "coordinates": [[[0, 0], [4, 0], [4, 4], [0, 4],
                                           [0, 0]],
                                          [[1, 1], [2, 1], [2, 2], [1, 1]]]}) \
        == (0, 0, 4, 4)
    assert geometry_bbox({"type": "MultiPolygon",
                          "coordinates": [
                              [[[0, 0], [1, 0], [1, 1], [0, 0]]],
                              [[[5, 5], [7, 5], [7, 8], [5, 5]]]]}) == \
        (0, 0, 7, 8)


def test_bbox_geometry_collection_recursive():
    gc = {"type": "GeometryCollection", "geometries": [
        {"type": "Point", "coordinates": [10, 20]},
        {"type": "LineString", "coordinates": [[-4, -6], [0, 0]]},
        {"type": "GeometryCollection", "geometries": [
            {"type": "MultiPoint", "coordinates": [[30, -1]]}]},
    ]}
    assert geometry_bbox(gc) == (-4, -6, 30, 20)
    # empty collection -> empty box (unions as a no-op)
    empty = geometry_bbox({"type": "GeometryCollection", "geometries": []})
    assert empty == (math.inf, math.inf, -math.inf, -math.inf)
    assert expand_bboxes([empty, (1, 2, 3, 4)]) == (1, 2, 3, 4)


def test_bbox_unknown_type_tolerated():
    assert geometry_bbox({"type": "Wat", "coordinates": []}) == \
        (math.inf, math.inf, -math.inf, -math.inf)


def test_bbox_points_matches_reference_loop():
    pts = [[0.5, -0.5], [-2.5, 3.25], [7.0, 7.0]]
    assert bbox_points(pts) == (-2.5, -0.5, 7.0, 7.25 - 0.25)


def test_decode_unknown_geom_type_tolerated():
    """A feature with wire geom_type outside 1..3 (legal varint, spec
    UNKNOWN) must decode without raising: geometry walked, geojson_type
    empty — the engine's form of read_tile.go's default-case skip."""
    from vector_tile_go_spark.codec.decode import decode_tile
    from vector_tile_go_spark.codec.wire import encode_varint

    geom = encode_varint(9) + encode_varint(8) + encode_varint(2)
    feat = bytes([8, 1, 24, 7, 34, len(geom)]) + geom  # geom_type = 7
    body = (bytes([120, 2]) + bytes([10, 3]) + b"geo"
            + bytes([18, len(feat)]) + feat
            + bytes([40, 128, 32]))
    tile = bytes([26, len(body)]) + body
    (name, f), = decode_tile(tile, 0, 0, 0, mode="int")
    assert f.geom_type == 7
    assert f.geojson_type == ""
    assert int(f.xs[0]) == 4 and int(f.ys[0]) == 1


def test_decode_foreign_field_order():
    """Foreign encoders may emit feature/layer fields in any protobuf
    order (geometry before tags, id last, extent before name). The walk
    decoder must produce identical features to the canonical layout —
    and so must the feature-table kernel, without the walk."""
    from vector_tile_go_spark.codec.decode import (bulk_feature_table,
                                                   decode_tile,
                                                   feature_table_walk)
    from vector_tile_go_spark.codec.wire import encode_varint

    # canonical: id, tags, type, geometry
    canon_feat = bytes([8, 7]) + bytes([18, 2, 0, 0]) \
        + bytes([24, 1]) + bytes([34, 3, 9, 8, 2])
    # foreign: geometry, type, tags, id
    foreign_feat = bytes([34, 3, 9, 8, 2]) + bytes([24, 1]) \
        + bytes([18, 2, 0, 0]) + bytes([8, 7])

    def layer(feat, name_first=True):
        key = bytes([26, 1]) + b"k"
        val = bytes([34, 3, 10, 1, 118])  # Value{string "v"}
        name = bytes([10, 3]) + b"geo"
        ext = bytes([40, 128, 32])
        ver = bytes([120, 2])
        if name_first:
            body = ver + name + bytes([18, len(feat)]) + feat + key + val + ext
        else:  # extent and dictionaries BEFORE the name and features
            body = ext + key + val + bytes([18, len(feat)]) + feat + name + ver
        return bytes([26, len(body)]) + body

    outs = []
    for feat, name_first in [(canon_feat, True), (foreign_feat, True),
                             (canon_feat, False), (foreign_feat, False)]:
        buf = layer(feat, name_first)
        (lname, f), = decode_tile(buf, 0, 0, 0, mode="int")
        assert lname == "geo"
        outs.append((f.feature_id, dict(f.properties),
                     int(f.xs[0]), int(f.ys[0])))
    assert all(o == (7, {"k": "v"}, 4, 1) for o in outs), outs

    # the lock-step scan takes both layouts, and both equal the walk
    bufs = [layer(canon_feat, True), layer(foreign_feat, True)]
    table, handled = bulk_feature_table(bufs)
    assert handled.all()
    walk = feature_table_walk(bufs)
    for k in ("tile", "feature_id", "geojson_type", "ix", "iy"):
        assert table[k].tolist() == walk[k].tolist(), k
    for t in (table, walk):
        assert [(t["keys"][k], t["values"][v]) for k, v in
                zip(t["tag_key"], t["tag_val"])] == [("k", "v")] * 2
