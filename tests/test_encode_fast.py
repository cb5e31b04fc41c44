"""The bulk point-layer encoder must be byte-identical to the canonical
per-feature encoder (encode.encode_layer with sorted keys, string values)."""

import numpy as np
import pytest

from vector_tile_go_spark.codec.encode import encode_layer
from vector_tile_go_spark.codec.encode_fast import encode_point_tiles_bulk
from vector_tile_go_spark import tilemath as tm


@pytest.mark.parametrize("seed", [1, 7])
def test_bulk_matches_canonical(seed):
    rng = np.random.default_rng(seed)
    n_tiles, z = 20, 12
    rows = []
    for t in range(n_tiles):
        tx = int(rng.integers(0, 1 << z))
        ty = int(rng.integers(0, 1 << z))
        w, s, e, n = tm.tile_bounds(z, tx, ty)
        k = int(rng.integers(1, 8))
        for i in range(k):
            lng = w + (e - w) * rng.random()
            lat = s + (n - s) * rng.random()
            rows.append((tx, ty, float(lng), float(lat),
                         int(rng.integers(0, 50)),  # ids incl. 0 (absent)
                         f"u{rng.integers(0, 5)}", str(int(rng.integers(0, 3)))))
    rows.sort(key=lambda r: (r[0], r[1], r[4], r[5], r[6]))
    xs = np.array([r[0] for r in rows], dtype=np.int64)
    ys = np.array([r[1] for r in rows], dtype=np.int64)
    lng = np.array([r[2] for r in rows])
    lat = np.array([r[3] for r in rows])
    ids = np.array([r[4] for r in rows], dtype=np.int64)
    urls = np.array([r[5] for r in rows], dtype=object)
    mis = np.array([r[6] for r in rows], dtype=object)

    key = xs * (1 << 32) + ys
    b = np.flatnonzero(np.diff(key) != 0) + 1
    starts = np.concatenate([[0], b])
    ends = np.concatenate([b, [len(rows)]])

    bulk = encode_point_tiles_bulk(z, xs, ys, lng, lat, ids,
                                   {"url": urls, "mention_idx": mis},
                                   starts, ends, "geo")
    for gi, (s_, e_) in enumerate(zip(starts, ends)):
        feats = [{"id": int(ids[i]), "type": "Point",
                  "coordinates": [float(lng[i]), float(lat[i])],
                  "properties": {"url": urls[i], "mention_idx": mis[i]}}
                 for i in range(s_, e_)]
        # canonical path: id=0 must be passed as absent (None)
        for f in feats:
            if f["id"] == 0:
                f["id"] = None
        expected = encode_layer(feats, z, int(xs[s_]), int(ys[s_]), "geo",
                                extent_clamp=True)
        assert bulk[gi] == expected, f"tile group {gi} differs"


def test_bulk_noncontiguous_slices_and_array_z():
    """The streaming encoder passes per-row z arrays and holds back the
    trailing incomplete group, so starts/ends may not cover all rows —
    the bulk encoder must gather exactly the referenced rows."""
    rng = np.random.default_rng(3)
    z = 12
    rows = []
    for t in range(6):
        tx, ty = int(rng.integers(0, 1 << z)), int(rng.integers(0, 1 << z))
        w, s, e, n = tm.tile_bounds(z, tx, ty)
        for i in range(5):
            rows.append((tx, ty, w + (e - w) * rng.random(),
                         s + (n - s) * rng.random(),
                         int(rng.integers(1, 50)), f"u{i}", str(i % 3)))
    rows.sort(key=lambda r: (r[0], r[1], r[4]))
    xs = np.array([r[0] for r in rows], dtype=np.int64)
    ys = np.array([r[1] for r in rows], dtype=np.int64)
    lng = np.array([r[2] for r in rows])
    lat = np.array([r[3] for r in rows])
    ids = np.array([r[4] for r in rows], dtype=np.int64)
    urls = np.array([r[5] for r in rows], dtype=object)
    mis = np.array([r[6] for r in rows], dtype=object)
    z_arr = np.full(len(rows), z, dtype=np.int64)

    key = xs * (1 << 32) + ys
    b = np.flatnonzero(np.diff(key) != 0) + 1
    starts_all = np.concatenate([[0], b])
    ends_all = np.concatenate([b, [len(rows)]])
    # drop the last group (streaming carry) -> non-contiguous coverage
    starts, ends = starts_all[:-1], ends_all[:-1]

    got = encode_point_tiles_bulk(z_arr, xs, ys, lng, lat, ids,
                                  {"url": urls, "mention_idx": mis},
                                  starts, ends, "geo")
    full = encode_point_tiles_bulk(z, xs, ys, lng, lat, ids,
                                   {"url": urls, "mention_idx": mis},
                                   starts_all, ends_all, "geo")
    assert got == full[:-1]


def _bulk_vs_scalar(geom_type, rows_by_tile, props_by_tile, ids_by_tile,
                    extent_clamp=False):
    """Encode the same features via encode_layer (scalar Cursor path) and
    encode_geom_tiles_bulk; return (scalar bytes list, bulk bytes list)."""
    import numpy as np

    from vector_tile_go_spark.codec.encode import encode_layer
    from vector_tile_go_spark.codec.encode_fast import (
        encode_geom_tiles_bulk, flatten_geom_rows)
    tiles = sorted(rows_by_tile)
    scalar = []
    for t in tiles:
        feats = [{"type": geom_type, "coordinates": c, "properties": pr,
                  "id": fid}
                 for c, pr, fid in zip(rows_by_tile[t], props_by_tile[t],
                                       ids_by_tile[t])]
        scalar.append(encode_layer(feats, t[0], t[1], t[2], "g",
                                   extent_clamp=extent_clamp))
    all_rows, all_props, all_ids, xs, ys, zs = [], [], [], [], [], []
    starts, ends = [], []
    for t in tiles:
        starts.append(len(all_rows))
        all_rows.extend(rows_by_tile[t])
        all_props.extend(props_by_tile[t])
        all_ids.extend(ids_by_tile[t])
        ends.append(len(all_rows))
        zs.extend([t[0]] * len(rows_by_tile[t]))
        xs.extend([t[1]] * len(rows_by_tile[t]))
        ys.extend([t[2]] * len(rows_by_tile[t]))
    keys = sorted(all_props[0]) if all_props else []
    prop_cols = {k: np.array([p[k] for p in all_props], dtype=object)
                 for k in keys}
    verts, ring_lens, ring_feat, firsts = flatten_geom_rows(geom_type,
                                                            all_rows)
    bulk, nf = encode_geom_tiles_bulk(
        np.array(zs), np.array(xs), np.array(ys), np.array(all_ids),
        prop_cols, starts, ends, "g", geom_type, verts, ring_lens,
        ring_feat, firsts, clamp=extent_clamp)
    return scalar, bulk


def test_geom_bulk_byte_identity():
    """encode_geom_tiles_bulk == encode_layer byte-for-byte across line/
    polygon shapes: winding reversal, unclosed rings, holes, zero-delta
    drops, degenerate truncation/abort, shared dictionaries, multi-tile."""
    import vector_tile_go_spark.tilemath as tm
    z, x, y = 7, 41, 53
    w, s, e, n = tm.tile_bounds(z, x, y)

    def pt(fx, fy, dx=0, dy=0):
        return [w + fx * (e - w) + dx, s + fy * (n - s) + dy]

    tri = [pt(.1, .1), pt(.5, .1), pt(.3, .5)]            # open ring
    tri_rev = [pt(.1, .1), pt(.3, .5), pt(.5, .1)]        # opposite winding
    hole = [pt(.25, .2), pt(.35, .2), pt(.3, .3)]
    eps = 1e-9                                            # sub-quantum
    cases = {
        "LineString": [
            [pt(.1, .1), pt(.2, .2), pt(.2 + eps, .2 + eps), pt(.4, .1)],
            [pt(.6, .6), pt(.6 + eps, .6)],               # aborted
            [pt(.7, .2), pt(.9, .9)],
        ],
        "MultiLineString": [
            [[pt(.1, .1), pt(.3, .3)], [pt(.5, .5), pt(.5 + eps, .5)],
             [pt(.6, .1), pt(.8, .2)]],                    # middle truncated
        ],
        "Polygon": [
            [tri, hole], [tri_rev], [tri + [tri[0]]],      # closed input
        ],
        "MultiPolygon": [
            [[tri, hole], [[pt(.6, .6), pt(.9, .6), pt(.75, .9)]]],
        ],
    }
    for gt, rows in cases.items():
        rows_by_tile = {(z, x, y): rows, (z, x + 1, y): rows[:1]}
        props = {(z, x, y): [{"nk": str(i % 2), "m": "x"}
                             for i in range(len(rows))],
                 (z, x + 1, y): [{"nk": "9", "m": "x"}]}
        ids = {(z, x, y): list(range(1, len(rows) + 1)),
               (z, x + 1, y): [7]}
        scalar, bulk = _bulk_vs_scalar(gt, rows_by_tile, props, ids)
        for i, (sb, bb) in enumerate(zip(scalar, bulk)):
            assert sb == bb, f"{gt} tile {i}: bulk diverges from scalar"


def test_geom_bulk_clamped_and_noprops():
    z, x, y = 5, 9, 11
    import vector_tile_go_spark.tilemath as tm
    w, s, e, n = tm.tile_bounds(z, x, y)
    line = [[w - 5.0, s + 1.0], [e + 5.0, n - 1.0], [w + 1.0, s + 0.5]]
    rows_by_tile = {(z, x, y): [line]}
    scalar, bulk = _bulk_vs_scalar("LineString", rows_by_tile,
                                   {(z, x, y): [{}]}, {(z, x, y): [3]},
                                   extent_clamp=True)
    assert scalar[0] == bulk[0]


def test_geom_bulk_fuzz_byte_identity():
    """Randomized byte-identity: random geometries (tiny sub-quantum
    segments, out-of-tile coords, mixed winding, open/closed rings,
    wraparound ids) must encode identically on the scalar and bulk paths."""
    import numpy as np

    import vector_tile_go_spark.tilemath as tm
    rng = np.random.default_rng(42)
    z = 6
    for trial in range(10):
        gt = ["LineString", "MultiLineString", "Polygon",
              "MultiPolygon", "MultiPoint"][trial % 5]
        x = int(rng.integers(0, 2**z))
        y = int(rng.integers(0, 2**z))
        w, s, e, n = tm.tile_bounds(z, x, y)

        def rpt():
            fx, fy = rng.uniform(-0.3, 1.3, 2)   # some outside the tile
            return [w + fx * (e - w), s + fy * (n - s)]

        def ring(min_pts=3):
            k = int(rng.integers(min_pts, 8))
            r = [rpt() for _ in range(k)]
            if rng.random() < 0.3:
                r.append(list(r[0]))             # pre-closed
            if rng.random() < 0.3:               # sub-quantum duplicate
                r.insert(1, [r[0][0] + 1e-12, r[0][1]])
            return r

        rows = []
        for _ in range(12):
            if gt == "LineString":
                c = ring(2)
                if rng.random() < 0.25:          # degenerate -> abort
                    p = rpt()
                    c = [p, [p[0] + 1e-12, p[1]]]
                rows.append(c)
            elif gt == "MultiLineString":
                rows.append([ring(2) for _ in range(int(rng.integers(1, 4)))])
            elif gt == "Polygon":
                rows.append([ring() for _ in range(int(rng.integers(1, 3)))])
            elif gt == "MultiPoint":
                pts = [rpt() for _ in range(int(rng.integers(1, 6)))]
                if rng.random() < 0.4:           # sub-quantum duplicate
                    pts.insert(1, [pts[0][0] + 1e-12, pts[0][1]])
                rows.append(pts)
            else:
                rows.append([[ring() for _ in range(int(rng.integers(1, 3)))]
                             for _ in range(int(rng.integers(1, 3)))])
        ids = [int(rng.integers(-2, 2**40)) for _ in rows]
        props = [{"a": str(int(rng.integers(0, 5))),
                  "b": f"v{int(rng.integers(0, 3))}"} for _ in rows]
        rows_by_tile = {(z, x, y): rows}
        scalar, bulk = _bulk_vs_scalar(
            gt, rows_by_tile, {(z, x, y): props}, {(z, x, y): ids},
            extent_clamp=bool(trial % 2))
        assert scalar[0] == bulk[0], f"{gt} trial {trial} diverges"


def test_geom_bulk_degenerate_inputs_raise_like_scalar():
    """Round-5 review: empty rings / zero-ring polygons must RAISE on the
    bulk path (the scalar builders raise too), never silently encode."""
    import numpy as np
    import pytest

    from vector_tile_go_spark.codec.encode_fast import (
        encode_geom_tiles_bulk, flatten_geom_rows)
    with pytest.raises(ValueError, match="empty Polygon"):
        flatten_geom_rows("Polygon", [[]])
    with pytest.raises(ValueError, match="empty polygon in MultiPolygon"):
        flatten_geom_rows("MultiPolygon", [[[], [[[0.0, 0.0], [1.0, 0.0],
                                                  [0.5, 1.0]]]]])
    with pytest.raises(ValueError, match="empty ring"):
        flatten_geom_rows("MultiLineString", [[[]]])
    with pytest.raises(ValueError, match="empty ring"):
        encode_geom_tiles_bulk(
            np.array([5]), np.array([9]), np.array([11]), np.array([1]),
            {}, [0], [1], "g", "Polygon", np.zeros((3, 2)),
            np.array([3, 0]), np.array([0, 0]), np.array([True, False]))


def test_geom_bulk_multipoint_byte_identity():
    """MultiPoint through the bulk kernel: one MoveTo header with the
    ORIGINAL point count, zero-delta duplicates dropped from the stream
    (write_geometry.go:338-344) — byte-identical to the scalar path."""
    import vector_tile_go_spark.tilemath as tm
    z, x, y = 7, 41, 53
    w, s, e, n = tm.tile_bounds(z, x, y)

    def pt(fx, fy):
        return [w + fx * (e - w), s + fy * (n - s)]

    rows = [
        [pt(.1, .1), pt(.5, .5), pt(.5 + 1e-12, .5), pt(.9, .2)],  # dup
        [pt(.3, .3)],
        [pt(.2, .8), pt(.2, .8), pt(.7, .7)],                       # dup
    ]
    rows_by_tile = {(z, x, y): rows, (z, x + 1, y): rows[:1]}
    props = {(z, x, y): [{"nk": str(i)} for i in range(len(rows))],
             (z, x + 1, y): [{"nk": "9"}]}
    ids = {(z, x, y): [1, 2, 3], (z, x + 1, y): [7]}
    scalar, bulk = _bulk_vs_scalar("MultiPoint", rows_by_tile, props, ids)
    for i, (sb, bb) in enumerate(zip(scalar, bulk)):
        assert sb == bb, f"MultiPoint tile {i} diverges"


def test_flatten_geom_arrow_matches_row_flatten():
    """flatten_geom_arrow (Arrow offsets + values buffer) equals
    flatten_geom_rows on the scalar-normalized rows for every bulk type,
    on sliced arrays, with extra lines past the first for LineString /
    MultiPoint rows (only the first is the geometry); non-conforming
    columns return None and empty rings raise like the scalar builders."""
    import pyarrow as pa

    from vector_tile_go_spark.codec.encode_fast import (flatten_geom_arrow,
                                                        flatten_geom_rows)
    rng = np.random.default_rng(5)

    def ring(n):
        return rng.random((n, 2)).round(3).tolist()

    l3 = pa.list_(pa.list_(pa.list_(pa.float64())))
    l4 = pa.list_(l3)
    rows3 = [[ring(int(rng.integers(1, 5))) for _ in range(int(k))]
             for k in rng.integers(1, 4, 12)]
    rows4 = [[[ring(int(rng.integers(1, 5))) for _ in range(int(r))]
              for r in rng.integers(1, 3, int(p))]
             for p in rng.integers(0, 3, 12)]
    for gt, rows, typ in (("LineString", rows3, l3), ("MultiPoint", rows3, l3),
                          ("MultiLineString", rows3, l3),
                          ("Polygon", rows3, l3), ("MultiPolygon", rows3, l3),
                          ("MultiPolygon", rows4, l4)):
        arr = pa.array(rows, typ).slice(3, 7)
        sub = rows[3:10]
        if gt in ("LineString", "MultiPoint"):
            norm = [c[0] for c in sub]
        elif gt == "MultiPolygon" and typ == l3:
            norm = [[[r] for r in c] for c in sub]
        else:
            norm = sub
        got = flatten_geom_arrow(gt, arr)
        want = flatten_geom_rows(gt, norm)
        for g, w in zip(got, want):
            assert g.dtype == w.dtype and np.array_equal(g, w), (gt, typ)
    assert flatten_geom_arrow("Polygon", pa.array(rows4, l4)) is None
    assert flatten_geom_arrow(
        "Polygon", pa.array([[[[1.0, 2.0, 3.0]]]], l3)) is None
    assert flatten_geom_arrow(
        "Polygon", pa.array([[[[1.0, 2.0], None]]], l3)) is None
    with pytest.raises(ValueError):
        flatten_geom_arrow("Polygon", pa.array([[[[0.0, 0.0]], []]], l3))
    with pytest.raises(ValueError):
        flatten_geom_arrow("Polygon", pa.array([[]], l3))
