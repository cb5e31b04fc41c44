"""Single-threaded codec kernel timings on a fixed tile sample (traced run).

The sample is built at set-up from the workload generators with the run's
seed, so every traced run times the same four kernels on inputs of the same
shape:

- ``encode_fast.encode_point_tiles_bulk`` and ``decode.bulk_point_tile_stats``
  on z8 point tiles of amplified mentions;
- ``encode_fast.encode_geom_tiles_bulk`` and ``decode.decode_tile`` on z10
  two-ring polygon tiles.

Each encoded sample tile is also checked byte for byte against the scalar
oracle ``encode.encode_layer``. Malloc thresholds must be pinned in the
process environment before start-up (run.py does it), as session.py pins
them for the Python workers.
"""

from __future__ import annotations

import time

import numpy as np

import inputs

POINT_SAMPLE_BASE_DOCS = 30
POLYGON_SAMPLE = 1500
REPEATS = 7


def _groups(*keys):
    order = np.lexsort(tuple(reversed(keys)))
    k = [np.asarray(a)[order] for a in keys]
    change = np.zeros(len(order) - 1, dtype=bool)
    for a in k[:2]:
        change |= a[1:] != a[:-1]
    b = np.flatnonzero(change) + 1
    return order, np.concatenate([[0], b]), np.concatenate([b, [len(order)]])


def point_sample(seed: int) -> dict:
    import vector_tile_go_spark.tilemath as tm
    base = inputs.base_doc_ids(seed, POINT_SAMPLE_BASE_DOCS)
    d, j, lat, lng = inputs.mention_arrays(inputs.amplified_doc_ids(base))
    x, y = tm.lnglat_to_tile(lng, lat, inputs.POINT_ZOOM)
    url = np.array([f"https://www.ex.org/doc/{v}" for v in d.tolist()], object)
    mi = np.array([str(v) for v in j.tolist()], object)
    # the encode UDF's sort: tile, then id, then props
    order, starts, ends = _groups(x, y, d, url, mi)
    return {"x": x[order], "y": y[order], "lng": lng[order], "lat": lat[order],
            "ids": d[order], "url": url[order], "mention_idx": mi[order],
            "starts": starts, "ends": ends}


def polygon_sample(seed: int) -> dict:
    p = inputs.polygons(seed, POLYGON_SAMPLE)
    rings = inputs.polygon_rings(p["cx"], p["cy"], p["r"])
    props = inputs.polygon_props(p["levels"], p["feature_id"])
    _, starts, ends = _groups(p["x"], p["y"])  # already tile-sorted
    return {"x": p["x"], "y": p["y"], "ids": p["feature_id"],
            "rows": [[ring.tolist() for ring in poly] for poly in rings],
            "props": props, "starts": starts, "ends": ends}


def _median_time(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times))


def run(seed: int) -> tuple[dict, dict]:
    """-> (per-layer metrics, {"checked": tiles, "mismatched": tiles, ...})."""
    from vector_tile_go_spark.codec import decode, encode, encode_fast

    pt = point_sample(seed)
    z = inputs.POINT_ZOOM
    props = {"url": pt["url"], "mention_idx": pt["mention_idx"]}

    def enc_points():
        return encode_fast.encode_point_tiles_bulk(
            z, pt["x"], pt["y"], pt["lng"], pt["lat"], pt["ids"], props,
            pt["starts"], pt["ends"], "geo")

    point_bufs = enc_points()
    n_pt = len(pt["ids"])
    t_enc_pt = _median_time(enc_points)
    t_dec_pt = _median_time(lambda: decode.bulk_point_tile_stats(point_bufs, "url"))

    pg = polygon_sample(seed)
    zp = inputs.POLYGON_ZOOM
    flat = encode_fast.flatten_geom_rows("Polygon", pg["rows"])
    pcols = {k: np.array([p[k] for p in pg["props"]], object)
             for k in ("kind", "levels", "name")}
    zs = np.full(len(pg["ids"]), zp)

    def enc_polys():
        return encode_fast.encode_geom_tiles_bulk(
            zs, pg["x"], pg["y"], pg["ids"], pcols, pg["starts"], pg["ends"],
            "buildings", "Polygon", *flat)[0]

    poly_bufs = enc_polys()
    n_vert_in = len(flat[0])
    t_enc_pg = _median_time(enc_polys)
    tiles = list(zip(pg["starts"], pg["ends"]))

    def dec_polys():
        n = 0
        for buf, (s, _) in zip(poly_bufs, tiles):
            for _, f in decode.decode_tile(buf, zp, int(pg["x"][s]),
                                           int(pg["y"][s]), mode="int"):
                n += sum(f.ring_lens)
        return n

    n_vert_out = dec_polys()
    t_dec_pg = _median_time(dec_polys)

    # byte identity against the scalar oracle
    bad = 0
    for t, (s, e) in enumerate(zip(pt["starts"], pt["ends"])):
        feats = [{"type": "Point", "id": int(pt["ids"][i]) or None,
                  "coordinates": [float(pt["lng"][i]), float(pt["lat"][i])],
                  "properties": {"url": pt["url"][i],
                                 "mention_idx": pt["mention_idx"][i]}}
                 for i in range(s, e)]
        bad += encode.encode_layer(feats, z, int(pt["x"][s]), int(pt["y"][s]),
                                   "geo", extent_clamp=True) != point_bufs[t]
    for t, (s, e) in enumerate(tiles):
        feats = [{"type": "Polygon", "coordinates": pg["rows"][i],
                  "properties": pg["props"][i], "id": int(pg["ids"][i])}
                 for i in range(s, e)]
        bad += encode.encode_layer(feats, zp, int(pg["x"][s]), int(pg["y"][s]),
                                   "buildings", extent_clamp=False) != poly_bufs[t]

    metrics = {
        "codec.encode_fast.point_us_per_feature": 1e6 * t_enc_pt / n_pt,
        "codec.decode.point_us_per_feature": 1e6 * t_dec_pt / n_pt,
        "codec.encode_fast.polygon_us_per_vertex": 1e6 * t_enc_pg / n_vert_in,
        "codec.decode.polygon_us_per_vertex": 1e6 * t_dec_pg / n_vert_out,
    }
    check = {"checked": len(point_bufs) + len(poly_bufs), "mismatched": int(bad),
             "point_tiles": len(point_bufs), "point_features": n_pt,
             "polygon_tiles": len(poly_bufs), "polygon_vertices_in": n_vert_in,
             "polygon_vertices_out": n_vert_out,
             "polygon_us_per_feature_encode": 1e6 * t_enc_pg / len(pg["ids"]),
             "polygon_us_per_feature_decode": 1e6 * t_dec_pg / len(pg["ids"])}
    return metrics, check
