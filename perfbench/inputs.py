"""Seeded input generators. Pure numpy/pandas: the same seed gives the same
arrays, and the engine only ever sees what these functions return.

Sizes are fixed per workload; the seed moves positions, ids and text, so
two seeds give different inputs of the same shape.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

POINT_ZOOM = 8
POLYGON_ZOOM = 10
AMPLIFY = 96
# amplified ids must keep doc_id * 2654435761 inside a signed long (Spark
# runs ANSI arithmetic, so an overflow would fail the job)
MAX_BASE_DOC_ID = 30_000_000

RING_VERTICES = 32
# footprints fill a POLYGON_BLOCK x POLYGON_BLOCK block of z10 tiles; 6000 of
# them give ~18 per tile, a city-scale building layer
POLYGON_BLOCK = 18

WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "join customer tile map layer point polygon ring road river city park "
    "school store house street bridge tower market lake hill field forest "
    "north south east west river bank train station harbor airport museum "
    "library garden square castle church temple stadium theater hospital "
    "factory farm mine port dock canal tunnel highway avenue lane alley"
).split()


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so resizing one input never
    shifts another's values."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def base_doc_ids(seed: int, n: int) -> np.ndarray:
    """Distinct base document ids, the rows ``AMPLIFY`` replicas fan out
    from (doc_id' = doc_id * AMPLIFY + r, as bench.py amplifies)."""
    ids = rng_for(seed, "docs").choice(MAX_BASE_DOC_ID, size=n, replace=False)
    return np.sort(ids).astype(np.int64)


def amplified_doc_ids(base: np.ndarray, k: int = AMPLIFY) -> np.ndarray:
    return (base[:, None] * k + np.arange(k, dtype=np.int64)[None, :]).ravel()


def mention_arrays(doc_ids: np.ndarray):
    """numpy twin of text/geo.py's mention formulas: doc d carries
    d % 4 mentions (at most 3); returns (doc_id, j, lat, lng)."""
    from vector_tile_go_spark.text import geo
    d = np.repeat(doc_ids, 3)
    j = np.tile(np.arange(3, dtype=np.int64), len(doc_ids))
    keep = j < d % 4
    d, j = d[keep], j[keep]
    lat = ((d * geo.LAT_MULT_DOC + j * geo.LAT_MULT_J) % geo.LAT_MOD
           - geo.LAT_OFF) / 1e6
    lng = ((d * geo.LNG_MULT_DOC + j * geo.LNG_MULT_J) % geo.LNG_MOD
           - geo.LNG_OFF) / 1e6
    return d, j, lat, lng


def nation_keys(seed: int, n: int = 25) -> np.ndarray:
    """Keys of the triangle polygons / kNN query points (polygons.py derives
    both from the key with integer formulas)."""
    return np.sort(rng_for(seed, "nation").choice(
        1_000_000, size=n, replace=False)).astype(np.int64)


def documents(seed: int, n: int, dup_share: float = 0.1) -> pd.DataFrame:
    """(doc_id, text): 10-100 words from a small vocabulary, plus a planted
    share of near-duplicates (a copy of an earlier document with a few
    words replaced), so both MinHash-LSH and SimHash find real pairs."""
    rng = rng_for(seed, "text")
    words = np.array(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            src = texts[int(rng.integers(0, i))].split(" ")
            for p in rng.choice(len(src), size=min(2, len(src)),
                                replace=False):
                src[p] = words[int(rng.integers(0, len(words)))]
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(rng.choice(words, int(rng.integers(10, 101)))))
    ids = np.sort(rng.choice(10_000_000, size=n, replace=False)).astype(np.int64)
    return pd.DataFrame({"doc_id": ids, "text": texts})


def polygons(seed: int, n: int):
    """Two-ring building footprints (exterior + hole, RING_VERTICES each) at
    POLYGON_ZOOM, each centred inside a tile of a seeded block of
    POLYGON_BLOCK x POLYGON_BLOCK tiles.

    Returns a dict of per-feature arrays: feature_id, x, y, cx, cy, r (degrees
    of longitude; the hole has 0.4 r) and levels. Radii are 25-60 tile pixels
    (extent 4096), so no two consecutive vertices quantize to the same point
    and decode yields exactly RING_VERTICES + 1 vertices per ring."""
    import vector_tile_go_spark.tilemath as tm
    rng = rng_for(seed, "polygons")
    z = POLYGON_ZOOM
    side = 1 << z
    # block origin within +-60 deg latitude
    x0 = int(rng.integers(0, side - POLYGON_BLOCK))
    _, y_lo = tm.lnglat_to_tile(0.0, 60.0, z)
    _, y_hi = tm.lnglat_to_tile(0.0, -60.0, z)
    y0 = int(rng.integers(int(y_lo), int(y_hi) - POLYGON_BLOCK))
    tx = x0 + rng.integers(0, POLYGON_BLOCK, size=n)
    ty = y0 + rng.integers(0, POLYGON_BLOCK, size=n)
    w, s, e, nn = tm.tile_bounds(z, tx, ty)
    tile_w = e - w
    px = tile_w / 4096.0
    r = px * rng.uniform(25.0, 60.0, size=n)
    # keep the whole footprint inside its tile
    cx = w + r + (tile_w - 2 * r) * rng.random(n)
    cy = s + r + (nn - s - 2 * r) * rng.random(n)
    order = np.lexsort((cx, ty, tx))
    return {
        "feature_id": np.arange(1, n + 1, dtype=np.int64),
        "x": tx[order].astype(np.int64), "y": ty[order].astype(np.int64),
        "cx": cx[order], "cy": cy[order], "r": r[order],
        "levels": rng.integers(1, 40, size=n)[order].astype(np.int64),
    }


def polygon_rings(cx, cy, r) -> np.ndarray:
    """(n, 2, RING_VERTICES, 2) lng/lat rings: exterior radius r, hole 0.4 r.
    Latitude radius is scaled by cos(lat) so footprints stay round."""
    ang = np.arange(RING_VERTICES) * (2.0 * np.pi / RING_VERTICES)
    cos_lat = np.cos(np.radians(cy))[:, None]
    out = np.empty((len(cx), 2, RING_VERTICES, 2))
    for k, scale in enumerate((1.0, 0.4)):
        out[:, k, :, 0] = cx[:, None] + scale * r[:, None] * np.cos(ang)
        out[:, k, :, 1] = cy[:, None] + scale * r[:, None] * cos_lat * np.sin(ang)
    return out


def polygon_props(levels: np.ndarray, feature_id: np.ndarray) -> list[dict]:
    return [{"kind": "building", "levels": str(int(lv)), "name": f"b{int(f)}"}
            for lv, f in zip(levels, feature_id)]

