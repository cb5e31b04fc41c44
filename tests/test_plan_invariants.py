"""Physical-plan invariants over the registered queries (PLANS.md):

- No CartesianProduct / BroadcastNestedLoopJoin anywhere.
- Python appears only at the codec/kernel boundary: every Python node is
  Arrow-batched (MapInArrow / MapInPandas / FlatMapGroupsInPandas /
  ArrowEvalPython) — never a row-at-a-time BatchEvalPython.
- Every encoder and every decoder crosses as MapInArrow, never as a
  pandas map node.

Queries whose *construction* triggers driver actions (the escalating kNN
rounds, streaming runs, stateful ops) are exercised by their own tests and
the oracle gate; this test covers the declaratively-built plans.
"""

import pytest

SKIP = {
    # construction runs driver actions / streams; plan string not one tree
    "knn", "hex_knn", "events_stream_windows", "events_stateful_totals",
}

BAD_NODES = ("CartesianProduct", "BroadcastNestedLoopJoin")
ROW_PYTHON = ("BatchEvalPython",)


def _plans(spark, sf_dir):
    from vector_tile_go_spark.queries import QUERIES
    for name, fn in QUERIES.items():
        if name in SKIP:
            continue
        df = fn(spark, sf_dir)
        yield name, df._jdf.queryExecution().executedPlan().toString()


def test_no_cartesian_or_nested_loop_joins(spark, sf_dir):
    offenders = []
    for name, plan in _plans(spark, sf_dir):
        for bad in BAD_NODES:
            if bad in plan:
                offenders.append((name, bad))
    assert not offenders, offenders


def test_python_only_at_arrow_batched_boundaries(spark, sf_dir):
    offenders = []
    for name, plan in _plans(spark, sf_dir):
        for bad in ROW_PYTHON:
            if bad in plan:
                offenders.append((name, bad))
    assert not offenders, offenders


PANDAS_MAP = ("MapInPandas", "FlatMapGroupsInPandas")


def test_encoders_cross_one_arrow_boundary(spark, sf_dir):
    """Every encode entry point runs as a streaming mapInArrow: its
    physical plan holds the Arrow map node and no pandas map or grouped-map
    node, so a pandas encode path cannot come back unnoticed."""
    import json

    from pyspark.sql import functions as F

    from vector_tile_go_spark.queries import entities_df
    from vector_tile_go_spark.sparkops.udfs import (
        encode_geobuf_tiles, encode_geojson_tiles, encode_point_tiles,
        encode_point_tiles_salted, transcode_geobuf_tiles)

    e = entities_df(spark, sf_dir).filter(F.col("doc_id") < 50)
    tri = [[[0.1, 0.1], [0.6, 0.2], [0.3, 0.8]]]
    geo = "z int, x long, y long, feature_id long, " \
          "coords array<array<array<double>>>, props "
    by_map = spark.createDataFrame([(0, 0, 0, 1, tri, {"k": "v"})],
                                   geo + "map<string,string>")
    by_json = spark.createDataFrame(
        [(0, 0, 0, 1, [tri[0][:1]], json.dumps({"k": 1}))], geo + "string")
    gb = encode_geobuf_tiles(e)
    plans = {
        "encode_point_tiles": encode_point_tiles(e),
        "encode_point_tiles_salted": encode_point_tiles_salted(e),
        "encode_geojson_tiles[map]": encode_geojson_tiles(by_map, "Polygon"),
        "encode_geojson_tiles[json]": encode_geojson_tiles(by_json, "Point"),
        "encode_geobuf_tiles": gb,
        "transcode_geobuf_tiles": transcode_geobuf_tiles(
            spark.createDataFrame(gb.collect(), gb.schema)),
    }
    for name, df in plans.items():
        assert df.count() > 0, name
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan, (name, plan)
        assert not [n for n in PANDAS_MAP if n in plan], (name, plan)


def test_decoders_cross_one_arrow_boundary(spark):
    """Every decode entry point is one mapInArrow over the feature table:
    its physical plan holds the Arrow map node and no pandas map node."""
    from vector_tile_go_spark.codec.encode import encode_layer
    from vector_tile_go_spark.sparkops import udfs
    good = encode_layer([{"type": "Point", "coordinates": [1.0, 1.0],
                          "properties": {"k": "v"}, "id": 7}], 0, 0, 0, "t")
    tiles = spark.createDataFrame(
        [(0, 0, 0, good)], "z int, x bigint, y bigint, tile_pbf binary")
    plans = {
        "decode_tiles": udfs.decode_tiles(tiles),
        "decode_tile_stats": udfs.decode_tile_stats(tiles, distinct_prop="k"),
        "decode_tile_point_agg": udfs.decode_tile_point_agg(
            tiles, lambda z, x, y, px, py, ext: (len(px),), "n bigint"),
        "decode_tile_vertices": udfs.decode_tile_vertices(tiles),
        "decode_tile_props_typed": udfs.decode_tile_props_typed(
            tiles, {"k": "string"}),
        "tile_stats": udfs.tile_stats(tiles),
    }
    for name, df in plans.items():
        assert df.count() > 0, name
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan, (name, plan)
        assert not [n for n in PANDAS_MAP if n in plan], (name, plan)
