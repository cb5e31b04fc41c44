"""Differential guard for the fused decode+count rewiring (round 3): the
fused decode_tile_stats path must produce exactly the per-tile counts the
unfused decode_tiles + groupBy path does, for every splice/upsert shape
the fused queries now feed through it. Protects future kernel edits from
silently diverging on multi-frame (spliced) tiles."""

from pyspark.sql import functions as F


def _entities(spark, n=400):
    return (spark.range(n)
            .select((F.col("id") % 40).alias("doc_id"),
                    (F.col("id") % 3).alias("mention_idx"),
                    F.lit(8).alias("z"),
                    (F.col("id") % 5 + 100).cast("long").alias("x"),
                    (F.col("id") % 4 + 90).cast("long").alias("y"),
                    (F.col("id") * 0.001 - 38.9).alias("lng"),
                    (F.col("id") * 0.0007 + 22.1).alias("lat"),
                    F.concat(F.lit("https://ex.com/"),
                             (F.col("id") % 40).cast("string")).alias("url")))


def _counts_unfused(tiles):
    from vector_tile_go_spark.sparkops.udfs import decode_tiles
    feats = decode_tiles(tiles, mode="props")
    return {tuple(r[:3]): r[3] for r in
            (feats.groupBy("z", "x", "y")
             .agg(F.count("*").alias("n")).collect())}


def _counts_fused(tiles):
    from vector_tile_go_spark.sparkops.udfs import decode_tile_stats
    return {tuple(r[:3]): r[3] for r in
            decode_tile_stats(tiles)
            .select("z", "x", "y", "n_features").collect()}


def test_fused_equals_unfused_plain_encode(spark):
    from vector_tile_go_spark.sparkops.udfs import encode_point_tiles
    tiles = encode_point_tiles(_entities(spark), layer_name="geo",
                               prop_cols=("mention_idx",)).persist()
    try:
        assert _counts_fused(tiles) == _counts_unfused(tiles)
    finally:
        tiles.unpersist()


def test_fused_equals_unfused_after_splice_upsert(spark):
    # spliced tiles carry TWO layer frames in one buffer (verbatim old +
    # appended new) — the multi-frame union path of decode_tile_stats
    from vector_tile_go_spark.sparkops.compositing import upsert_features
    from vector_tile_go_spark.sparkops.udfs import encode_point_tiles
    e = _entities(spark)
    existing = encode_point_tiles(e.filter(F.col("doc_id") % 3 != 0),
                                  layer_name="geo",
                                  prop_cols=("mention_idx",))
    merged = upsert_features(existing, e.filter(F.col("doc_id") % 3 == 0),
                             layer_name="geo", prop_cols=("mention_idx",),
                             mode="splice").persist()
    try:
        fused, unfused = _counts_fused(merged), _counts_unfused(merged)
        assert fused == unfused
        assert sum(fused.values()) == e.count()
    finally:
        merged.unpersist()


def test_bulk_tile_stats_kernel_edges():
    """Unit edges of the cross-tile fused kernel (round 4): exact parity
    with the per-tile walk on conforming tiles, fallback (handled=False)
    on multi-layer and corrupt buffers, distinct counts with and without
    the prop present, zero-prop tiles."""
    import numpy as np

    from vector_tile_go_spark.codec.decode import (bulk_point_tile_stats,
                                                   decode_feature,
                                                   parse_tile)
    from vector_tile_go_spark.codec.encode import encode_layer
    from vector_tile_go_spark import tilemath as tm

    rng = np.random.default_rng(5)
    z = 9

    def tile(tx, ty, k, props=True, fid0=False, name="geo"):
        w, s, e, n = tm.tile_bounds(z, tx, ty)
        feats = []
        for i in range(k):
            f = {"id": None if (fid0 and i == 0) else i + 1,
                 "type": "Point",
                 "coordinates": [w + (e - w) * rng.random(),
                                 s + (n - s) * rng.random()],
                 "properties": ({"url": f"u{i % 3}", "mention_idx": str(i)}
                                if props else {})}
            feats.append(f)
        return encode_layer(feats, z, tx, ty, name, extent_clamp=True)

    bufs = [
        tile(10, 11, 5),                      # conforming
        tile(12, 13, 1),                      # single feature
        tile(14, 15, 4, props=False),         # no tags field -> fallback
        tile(16, 17, 3, fid0=True),           # id absent -> non-uniform
        tile(18, 19, 2) + tile(18, 19, 3),    # two layer frames -> fallback
        b"\xff\x03garbage",                   # corrupt -> fallback
    ]
    ns, nvs, handled = bulk_point_tile_stats(bufs, "url")
    # reference: the per-tile walk
    for i, buf in enumerate(bufs):
        if not handled[i]:
            continue
        n = nv = 0
        vals = set()
        for lf in parse_tile(buf):
            for span in lf.feature_spans:
                f = decode_feature(lf, span, mode="props")
                if f is None:
                    continue
                n += 1
                v = f.properties.get("url")
                if v is not None:
                    vals.add(str(v))
        assert ns[i] == n and nvs[i] == len(vals), f"tile {i}"
    assert handled[0] and ns[0] == 5 and nvs[0] == 3
    assert handled[1] and ns[1] == 1 and nvs[1] == 1
    # propless features omit the tags field (11 varints/feature, not 13):
    # not the uniform layout — falls back to the per-tile walk
    assert not handled[2]
    assert not handled[4]  # multi-frame tile falls back
    assert not handled[5]  # corrupt tile falls back


def test_bulk_tile_stats_duplicate_dictionary_falls_back():
    """A foreign tile whose value dictionary contains DUPLICATE entries
    must not be fast-pathed: distinct indices would overcount distinct
    strings. Hand-assembled wire bytes (our encoder never emits dups)."""
    from vector_tile_go_spark.codec.decode import bulk_point_tile_stats
    from vector_tile_go_spark.codec.wire import encode_varint

    def varstr(tag, s):
        raw = s.encode()
        return bytes([tag]) + encode_varint(len(raw)) + raw

    def value(s):
        inner = varstr(0x0A, s)
        return b"\x22" + encode_varint(len(inner)) + inner

    def feature(fid, vi):
        parts = (b"\x08" + encode_varint(fid)
                 + b"\x12" + encode_varint(2) + b"\x00" + encode_varint(vi)
                 + b"\x18\x01\x22\x03\x09\x02\x02")
        return b"\x12" + encode_varint(len(parts)) + parts

    body = (varstr(0x0A, "geo") + feature(1, 0) + feature(2, 1)
            + varstr(0x1A, "url")
            + value("dup") + value("dup")          # duplicate dictionary!
            + b"\x28" + encode_varint(4096) + b"\x78\x02")
    tile = b"\x1a" + encode_varint(len(body)) + body

    ns, nvs, handled = bulk_point_tile_stats([tile], "url")
    # either fallback (preferred) or, if handled, the EXACT distinct count
    assert (not handled[0]) or (ns[0] == 2 and nvs[0] == 1)

    # same tile with distinct values IS fast-pathed and exact
    body2 = (varstr(0x0A, "geo") + feature(1, 0) + feature(2, 1)
             + varstr(0x1A, "url") + value("a") + value("b")
             + b"\x28" + encode_varint(4096) + b"\x78\x02")
    tile2 = b"\x1a" + encode_varint(len(body2)) + body2
    ns, nvs, handled = bulk_point_tile_stats([tile2], "url")
    assert handled[0] and ns[0] == 2 and nvs[0] == 2
