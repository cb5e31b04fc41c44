"""Regression tests for the round-1 advice findings + engine invariants.

1. No row-at-a-time ``F.udf`` anywhere in the package — the only Python
   boundary is the Arrow-batched codec (enforced by source grep, the check
   SURVEY.md §7 promised).
2. Bulk point decode respects mode="props": lng/lat are NaN on BOTH the
   vectorized path and the per-feature walk.
3. Feature ids >= 2^63 (legal uint64 on the wire; produced by the encoder's
   ``fid & 0xFFFFFFFFFFFFFFFF`` on negative ids) decode identically on both
   paths: the feature-table kernel hands the tile to the walk rather than
   wrap the id negative.
4. Corrupt oversized varints in small geometries wrap mod 2^32 exactly like
   the >=256-byte numpy path (no OverflowError divergence).
"""

import math
from pathlib import Path

import numpy as np

from vector_tile_go_spark import tilemath as tm
from vector_tile_go_spark.codec.decode import (bulk_feature_table, decode_tile,
                                               feature_table, parse_tile)
from vector_tile_go_spark.codec.encode import encode_layer

PKG = Path(__file__).resolve().parent.parent / "vector_tile_go_spark"
TILE = (12, 701, 1635)


def _mid(z, x, y):
    w, s, e, n = tm.tile_bounds(z, x, y)
    return [w + 0.37 * (e - w), s + 0.41 * (n - s)]


def test_no_row_udf_in_package():
    hits = []
    for p in PKG.rglob("*.py"):
        src = p.read_text()
        if "F.udf(" in src or "functions.udf(" in src:
            hits.append(str(p))
    assert not hits, f"row-at-a-time F.udf found in: {hits}"


def test_huge_feature_id_bulk_fallback():
    z, x, y = TILE
    feats = [{"id": -1, "type": "Point", "coordinates": _mid(z, x, y),
              "properties": {"url": "a", "mention_idx": "0"}}]
    buf = encode_layer(feats, z, x, y, "geo", extent_clamp=True)
    # wire id is 2^64-1: the kernel's int64 scan would wrap it negative, so
    # it hands the tile back and the walk yields the positive uint64
    _, handled = bulk_feature_table([buf])
    assert handled.tolist() == [False]
    assert feature_table([buf])["feature_id"].tolist() == [2**64 - 1]
    (name, f), = decode_tile(buf, z, x, y, mode="int")
    assert f.feature_id == 2**64 - 1


def test_bulk_path_still_fires_for_normal_ids():
    z, x, y = TILE
    feats = [{"id": i + 1, "type": "Point", "coordinates": _mid(z, x, y),
              "properties": {"url": f"u{i}", "mention_idx": "0"}}
             for i in range(4)]
    buf = encode_layer(feats, z, x, y, "geo", extent_clamp=True)
    table, handled = bulk_feature_table([buf])
    assert handled.tolist() == [True]
    assert table["feature_id"].tolist() == [1, 2, 3, 4]


def test_small_geometry_corrupt_varint_wraps():
    from vector_tile_go_spark.codec.wire import encode_varint

    # hand-build a layer whose geometry contains a 2^35 varint; both the
    # small-path byte loop and the numpy path must wrap it mod 2^32
    big = 1 << 35
    geom = encode_varint(9) + encode_varint(big) + encode_varint(2)
    feat = bytes([8, 1, 24, 1, 34, len(geom)]) + geom
    body = (bytes([120, 2])                      # version=2
            + bytes([10, 3]) + b"geo"            # name
            + bytes([18, len(feat)]) + feat      # feature
            + bytes([40, 128, 32]))              # extent=4096
    tile = bytes([26, len(body)]) + body
    (name, f), = decode_tile(tile, *TILE, mode="int")
    # zigzag(big mod 2^32) == zigzag(0) == 0 is wrong: big % 2^32 == 0, so
    # the wrapped MoveTo dx is zigzag-decode(0) = 0
    assert name == "geo"
    assert int(f.xs[0]) == 0 and int(f.ys[0]) == 1


def test_props_mode_nan_on_bulk_path(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from vector_tile_go_spark.sparkops.udfs import (decode_tiles,
                                                    encode_point_tiles)

    z, x, y = TILE
    rows = []
    for i in range(6):
        lng, lat = _mid(z, x, y)
        rows.append((z, x, y, lng + i * 1e-4, lat, i + 1, f"u{i}", str(i)))
    e = spark.createDataFrame(
        pd.DataFrame(rows, columns=["z", "x", "y", "lng", "lat", "doc_id",
                                    "url", "mention_idx"]))
    tiles = encode_point_tiles(e, layer_name="geo",
                               prop_cols=("url", "mention_idx"))
    feats = decode_tiles(tiles, mode="props").collect()
    assert len(feats) == 6
    for r in feats:
        # props mode never exposes coords: null or NaN on every path —
        # never a tile-local integer coordinate
        for v in (r["lng"], r["lat"]):
            assert v is None or math.isnan(v), f"coords leaked: {v!r}"


def test_padded_length_varint_splice_verbatim():
    """Round-2 advice: a foreign tile with a NON-minimal layer-length varint
    must splice on the recorded frame start, not a re-derived minimal
    varint — the surviving layer's bytes (padding included) stay verbatim."""
    from vector_tile_go_spark.codec import splice
    from vector_tile_go_spark.codec.wire import read_varint

    z, x, y = TILE
    mk = lambda name, i: encode_layer(
        [{"id": i, "type": "Point", "coordinates": _mid(z, x, y),
          "properties": {"url": f"u{i}", "mention_idx": "0"}}],
        z, x, y, name, extent_clamp=True)
    frame_a, frame_b = mk("aaa", 1), mk("bbb", 2)
    # re-frame layer aaa with a padded (2-byte) length varint
    size, body_start = read_varint(frame_a, 1)
    body = frame_a[body_start:]
    assert len(body) == size and size < 128
    padded_a = bytes([0x1A, 0x80 | size, 0x00]) + body
    tile = padded_a + frame_b
    # sanity: still decodes to both layers
    assert [lf.name for lf in parse_tile(tile)] == ["aaa", "bbb"]

    out = splice.remove_layer(tile, "bbb")
    assert out == padded_a, "padded frame must survive byte-verbatim"
    out2 = splice.remove_layers(tile, ["bbb"])
    assert out2 == padded_a
    # filter_layer on bbb must also pass the padded aaa frame through intact
    out3 = splice.filter_layer(tile, "bbb", lambda props, fid: True)
    assert out3.startswith(padded_a)
    # append into bbb: aaa's padded frame passes through verbatim
    out4 = splice.append_features(
        tile, "bbb", [{"type": "Point", "coordinates": _mid(z, x, y),
                       "properties": {"url": "u9", "mention_idx": "1"},
                       "id": 9}], z, x, y)
    assert out4.startswith(padded_a)
    assert {lf.name for lf in parse_tile(out4)} == {"aaa", "bbb"}


def test_knn_boundary_tie_escalates(spark):
    """Round-2 advice: when sqrt(kth) == margin exactly, a point outside the
    searched cells at the SAME distance but smaller tie-break must still be
    found — the satisfied filter must be strict, escalating one more round."""
    import pandas as pd
    from pyspark.sql import functions as F

    from vector_tile_go_spark.spatial.knn import escalating_knn

    # 1-D unit-width integer cells on lng (lat == 0 everywhere).
    q = spark.createDataFrame(pd.DataFrame(
        {"qid": [1], "qlat": [0.0], "qlng": [0.5]})) \
        .withColumn("gx", F.floor("qlng").cast("int"))
    # p2 (doc_id 2) at lng=-1.0 -> cell -1, inside the rad=1 ring,
    #   dist = 1.5 == margin exactly.
    # p1 (doc_id 1) at lng=2.0  -> cell 2, OUTSIDE the rad=1 ring,
    #   dist = 1.5 too, and wins the (dist2, doc_id) tie-break.
    p = spark.createDataFrame(pd.DataFrame(
        {"lat": [0.0, 0.0], "lng": [2.0, -1.0],
         "doc_id": [1, 2], "mention_idx": [0, 0]})) \
        .withColumn("pgx", F.floor("lng").cast("int"))
    p.cache()

    def expand(pending, rad):
        return pending.withColumn(
            "cell", F.explode(F.sequence(F.col("gx") - rad,
                                         F.col("gx") + rad)))

    def join_on(exp, pts):
        return exp["cell"] == pts["pgx"]

    def margin(rad):
        # covered lng interval: [gx - rad, gx + rad + 1]
        return F.least(F.col("qlng") - (F.col("gx") - F.lit(rad)),
                       (F.col("gx") + F.lit(rad) + 1) - F.col("qlng"))

    out = escalating_knn(q, p, k=1, qkey="qid", expand_fn=expand,
                         join_on=join_on, drop_cols=("pgx",),
                         margin_fn=margin, max_rounds=4).collect()
    assert len(out) == 1
    # lax (<=) would settle on doc_id 2 in round 1; strict finds doc_id 1
    assert out[0]["doc_id"] == 1


# ---- round-5 fixes: bulk decode kernel safety (ADVICE r4) ----------------

def _walk_counts(buf, prop="url"):
    """Length-driven per-tile reference walk for the kernel exactness
    invariant: (n_features, n_distinct str values of ``prop``)."""
    feats = decode_tile(buf, mode="props")
    vals = {str(f.properties[prop]) for _, f in feats
            if f.properties.get(prop) is not None}
    return len(feats), len(vals)


def test_bulk_stats_truncated_varint_no_crash():
    from vector_tile_go_spark.codec.decode import bulk_point_tile_stats
    # trailing truncated varint (continuation bits run off the buffer)
    for bad in ([b"\x1a\xff\xff"], [b"", b""], [b"\x1a\x01\x08"],
                [b"\x1a\xff\xff", b"", b"\x1a\x01\x08"]):
        n, nv, handled = bulk_point_tile_stats(bad, "url")
        assert not handled.any()


def test_bulk_stats_corrupt_mixed_with_good():
    from vector_tile_go_spark.codec.decode import bulk_point_tile_stats
    z, x, y = TILE
    feats = [{"id": i + 1, "type": "Point", "coordinates": _mid(z, x, y),
              "properties": {"url": f"u{i % 3}", "mention_idx": str(i)}}
             for i in range(5)]
    good = encode_layer(feats, z, x, y, "geo", extent_clamp=True)
    n, nv, handled = bulk_point_tile_stats(
        [b"\x1a\xff\xff", good, b"\x1a\x01\x08"], "url")
    assert list(handled) == [False, True, False]
    assert (n[1], nv[1]) == _walk_counts(good)


def test_bulk_stats_length_field_fuzz():
    """Single-byte increment fuzz: whenever the kernel claims handled=True
    the counts must equal the length-driven walk (exactness contract —
    crafted length-field disagreements must fall back, ADVICE r4)."""
    from vector_tile_go_spark.codec.decode import bulk_point_tile_stats
    z, x, y = TILE
    feats = [{"id": i + 1, "type": "Point", "coordinates": _mid(z, x, y),
              "properties": {"url": f"u{i}", "mention_idx": "0"}}
             for i in range(3)]
    good = bytes(encode_layer(feats, z, x, y, "geo", extent_clamp=True))
    for pos in range(len(good)):
        mut = good[:pos] + bytes([(good[pos] + 1) & 0xFF]) + good[pos + 1:]
        n, nv, handled = bulk_point_tile_stats([mut], "url")
        if not handled[0]:
            continue
        try:
            expect = _walk_counts(mut)
        except Exception:
            raise AssertionError(
                f"kernel handled byte-{pos} mutant the walk rejects")
        assert (n[0], nv[0]) == expect, f"mutant at byte {pos} diverges"


def test_decode_tile_stats_quarantines_corrupt_bulk_tile(spark):
    """One corrupt <=4KB tile in a batch must not fail the Spark task on
    the default bulk path (ADVICE r4 high)."""
    import pandas as pd

    from vector_tile_go_spark.sparkops.udfs import decode_tile_stats
    z, x, y = TILE
    feats = [{"id": 1, "type": "Point", "coordinates": _mid(z, x, y),
              "properties": {"url": "a", "mention_idx": "0"}}]
    good = bytes(encode_layer(feats, z, x, y, "geo", extent_clamp=True))
    df = spark.createDataFrame(pd.DataFrame(
        {"z": [z, z], "x": [x, x + 1], "y": [y, y],
         "tile_pbf": [good, b"\x1a\xff\xff"]}))
    rows = {(r["x"]): r for r in
            decode_tile_stats(df, distinct_prop="url",
                              quarantine=True).collect()}
    assert rows[x]["n_features"] == 1 and rows[x]["error"] is None
    assert rows[x + 1]["n_features"] == 0 and rows[x + 1]["error"]
