"""Property-based fuzz of the MVT codec round trip (hypothesis).

The golden fixtures pin exact bytes for canonical inputs; these properties
pin the *machinery* on arbitrary inputs: encode -> decode must preserve
feature structure under the codec's documented lossy rules (quantization,
consecutive-duplicate drop, degenerate-line abort, winding enforcement,
ring closure)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from vector_tile_go_spark.codec.decode import decode_tile
from vector_tile_go_spark.codec.encode import Cursor, encode_layer

coord = st.tuples(st.floats(-179.9, 179.9), st.floats(-80.0, 80.0))


def _quantized(coords, z=3, x=4, y=3):
    cur = Cursor(z, x, y, extent_clamp=False)
    return cur.tile_ints([list(c) for c in coords])


def _dedup_consecutive(pts):
    out = [tuple(pts[0])]
    for p in pts[1:]:
        if tuple(p) != out[-1]:
            out.append(tuple(p))
    return out


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(coord, st.integers(1, 10**9),
                          st.text(max_size=12)), min_size=1, max_size=20))
def test_points_roundtrip(feats):
    features = [{"type": "Point", "coordinates": list(c),
                 "properties": {"k": p}, "id": i}
                for (c, i, p) in feats]
    buf = encode_layer(features, 3, 4, 3, "t", extent_clamp=False)
    out = decode_tile(buf, 3, 4, 3, mode="int")
    assert len(out) == len(feats)
    for (lname, f), (c, i, p) in zip(out, feats):
        assert lname == "t"
        assert f.feature_id == i
        assert f.properties == {"k": p}
        q = _quantized([c])
        assert int(f.xs[0]) == q[0, 0] and int(f.ys[0]) == q[0, 1]


@settings(max_examples=60, deadline=None)
@given(st.lists(coord, min_size=2, max_size=30))
def test_linestring_roundtrip(line):
    buf = encode_layer([{"type": "LineString",
                         "coordinates": [list(c) for c in line],
                         "properties": {}, "id": 1}],
                       3, 4, 3, "t", extent_clamp=False)
    out = decode_tile(buf, 3, 4, 3, mode="int")
    q = _quantized(line)
    kept = _dedup_consecutive(q)
    if len(kept) < 2:
        # degenerate line: the whole feature is aborted
        # (write_feature.go:57-59)
        assert out == []
        return
    assert len(out) == 1
    f = out[0][1]
    got = list(zip(f.xs.astype(int), f.ys.astype(int)))
    assert got == kept


@settings(max_examples=40, deadline=None)
@given(st.lists(coord, min_size=3, max_size=12, unique=True))
def test_polygon_winding_and_closure(ring):
    buf = encode_layer([{"type": "Polygon",
                         "coordinates": [[list(c) for c in ring]],
                         "properties": {}, "id": 1}],
                       2, 1, 1, "t", extent_clamp=False)
    out = decode_tile(buf, 2, 1, 1, mode="int")
    assert len(out) == 1
    f = out[0][1]
    rings = list(f.rings())
    assert len(rings) >= 1
    r = rings[0]
    # decoded ring is explicitly closed
    assert r[0, 0] == r[-1, 0] and r[0, 1] == r[-1, 1]
    # exterior ring decodes clockwise in tile coords (y down):
    # sum (x2-x1)(y2+y1) > 0 — unless quantization collapsed it flat
    w = float(np.sum((r[1:, 0] - r[:-1, 0]) * (r[1:, 1] + r[:-1, 1])))
    assert w >= 0


@settings(max_examples=40, deadline=None)
@given(st.dictionaries(st.text(min_size=1, max_size=8),
                       st.one_of(st.booleans(),
                                 st.integers(-2**40, 2**40),
                                 st.floats(allow_nan=False,
                                           allow_infinity=False),
                                 st.text(max_size=16)),
                       min_size=1, max_size=6))
def test_typed_properties_roundtrip(props):
    buf = encode_layer([{"type": "Point", "coordinates": [10.0, 10.0],
                         "properties": props, "id": 1}],
                       0, 0, 0, "t")
    out = decode_tile(buf, 0, 0, 0, mode="props")
    got = out[0][1].properties
    assert set(got) == set(props)
    for k, v in props.items():
        g = got[k]
        if isinstance(v, bool):
            assert g is v or g == v
        elif isinstance(v, int):
            # negatives wrap through uint64 like the reference
            # (write_primitives.go:222) and read back signed
            assert g == v
        elif isinstance(v, float):
            assert g == v  # float64 bits survive exactly
        else:
            assert g == v


@settings(max_examples=40, deadline=None)
@given(st.lists(st.tuples(coord, st.integers(1, 10**6),
                          st.text(max_size=10)), min_size=1, max_size=10))
def test_geobuf_transcode_roundtrip(feats):
    """geobuf feature stream -> MVT transcode -> decode preserves ids and
    properties; geometry goes through 1e7 quantization + the MVT grid."""
    from vector_tile_go_spark.codec.geobuf import (encode_geobuf_feature,
                                                   transcode_geobuf_layer)
    from vector_tile_go_spark.codec.wire import encode_varint
    blob = bytearray()
    for (c, i, p) in feats:
        m = encode_geobuf_feature("Point", list(c), {"k": p}, i)
        blob += encode_varint(len(m)) + m
    buf = transcode_geobuf_layer(bytes(blob), 2, 1, 1, "t")
    out = decode_tile(buf, 2, 1, 1, mode="props")
    assert len(out) == len(feats)
    for (lname, f), (c, i, p) in zip(out, feats):
        assert f.feature_id == i
        assert f.properties == {"k": p}


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.tuples(coord, st.integers(1, 10**9), st.text(max_size=8)),
             min_size=1, max_size=12),
    st.lists(st.tuples(coord, st.integers(1, 10**9), st.text(max_size=8)),
             min_size=1, max_size=8),
)
def test_splice_append_equals_reencode_fuzz(old, new):
    """append_features(encode(A), B) decodes to the same feature set as
    encode(A + B) for arbitrary point features — ids, properties, and
    quantized coords all survive the dictionary-reuse splice path."""
    from vector_tile_go_spark.codec.splice import append_features

    def mk(rows):
        return [{"type": "Point", "coordinates": list(c),
                 "properties": {"k": p}, "id": i} for (c, i, p) in rows]

    base = encode_layer(mk(old), 3, 4, 3, "t", extent_clamp=False)
    spliced = append_features(base, "t", mk(new), 3, 4, 3,
                              extent_clamp=False)
    reenc = encode_layer(mk(old) + mk(new), 3, 4, 3, "t",
                         extent_clamp=False)

    def decoded(buf):
        return sorted(
            (f.feature_id, tuple(sorted(f.properties.items())),
             int(f.xs[0]), int(f.ys[0]))
            for _, f in decode_tile(buf, 3, 4, 3, mode="int"))

    assert decoded(spliced) == decoded(reenc)


# ---------------------------------------------------------------------------
# the columnar feature-table kernel vs the per-feature decode_tile walk
# ---------------------------------------------------------------------------

import math  # noqa: E402

from vector_tile_go_spark import tilemath as tm  # noqa: E402
from vector_tile_go_spark.codec.decode import (  # noqa: E402
    GEOJSON_TYPES, bulk_feature_table, feature_table, feature_table_walk,
    round_half_away, vertex_rows)
from vector_tile_go_spark.codec.wire import encode_varint  # noqa: E402

_TZ, _TX, _TY = 3, 4, 3
_W, _S, _E, _N = map(float, tm.tile_bounds(_TZ, _TX, _TY))
# tile fractions on a coarse percent grid: duplicates, collinear rings and
# degenerate lines come up often
_frac = st.tuples(st.integers(-20, 120), st.integers(-20, 120))


def _pt(f):
    return [_W + (_E - _W) * f[0] / 100.0, _S + (_N - _S) * f[1] / 100.0]


def _pts(fs):
    return [_pt(f) for f in fs]


_geometry = st.one_of(
    st.tuples(st.just("Point"), _frac.map(_pt)),
    st.tuples(st.just("MultiPoint"),
              st.lists(_frac, min_size=1, max_size=6).map(_pts)),
    st.tuples(st.just("LineString"),
              st.lists(_frac, min_size=2, max_size=8).map(_pts)),
    st.tuples(st.just("MultiLineString"),
              st.lists(st.lists(_frac, min_size=2, max_size=6).map(_pts),
                       min_size=1, max_size=3)),
    st.tuples(st.just("Polygon"),
              st.lists(st.lists(_frac, min_size=3, max_size=7).map(_pts),
                       min_size=1, max_size=3)),
    st.tuples(st.just("MultiPolygon"),
              st.lists(st.lists(st.lists(_frac, min_size=3, max_size=6)
                                .map(_pts), min_size=1, max_size=2),
                       min_size=1, max_size=3)),
)
_feature = st.builds(
    lambda g, fid, k: {"type": g[0], "coordinates": g[1], "id": fid,
                       "properties": {"k": k}},
    _geometry, st.one_of(st.none(), st.just(0), st.integers(1, 2**63 - 1)),
    st.sampled_from(["a", "b", "c"]))
_layer = st.tuples(st.sampled_from(["l0", "l1", "l2"]),
                   st.lists(_feature, min_size=0, max_size=6))


def _encode_tile(layers):
    return b"".join(encode_layer(feats, _TZ, _TX, _TY, name,
                                 extent_clamp=False)
                    for name, feats in layers)


def _rows(table):
    cols = vertex_rows(table)
    names = cols["layer_names"]
    return [(int(t), names[lay], int(f) if ok else None, GEOJSON_TYPES[g],
             int(r), int(p), int(x), int(y))
            for t, lay, f, ok, g, r, p, x, y in zip(
                cols["tile"], cols["layer"], cols["feature_id"],
                cols["fid_valid"], cols["geojson_type"], cols["ring_idx"],
                cols["pt_idx"], cols["ix"], cols["iy"])]


def _outcome(fn, bufs):
    try:
        return ("rows", _rows(fn(bufs)))
    except Exception as e:  # noqa: BLE001 — compared, not swallowed
        return ("error", type(e).__name__, str(e))


def _field(fno, wt, payload):
    key = encode_varint(fno << 3 | wt)
    if wt == 0:
        return key + encode_varint(payload)
    return key + encode_varint(len(payload)) + payload


def _raw_layer(name, feature_bodies):
    body = (_field(15, 0, 2) + _field(1, 2, name.encode())
            + b"".join(_field(2, 2, f) for f in feature_bodies)
            + _field(3, 2, b"k") + _field(4, 2, _field(1, 2, b"v"))
            + _field(5, 0, 4096))
    return _field(3, 2, body)


def _raw_feature(fid, gtype, geom: bytes, order):
    fields = [_field(1, 0, fid), _field(2, 2, b"\x00\x00"),
              _field(3, 0, gtype), _field(4, 2, geom)]
    return b"".join(fields[i] for i in order)


def _cmd(cid, count):
    return (count << 3) | cid


def _zz(v):
    return (v << 1) ^ (v >> 63)


@settings(max_examples=80, deadline=None)
@given(st.lists(st.one_of(st.none(), st.just(b""),
                          st.lists(_layer, min_size=1, max_size=3)
                          .map(_encode_tile)),
                min_size=1, max_size=5),
       st.sampled_from([1.0, 2.0, 3.5, 16.0]))
def test_vertex_kernel_matches_walk_on_encoder_tiles(bufs, dim):
    """Every tile the scalar encoder emits — all six geometry types, holes,
    id 0 / absent, multi-layer, empty and null tiles — is handled by the
    columnar kernel and decodes to the walk's rows, row for row."""
    table, handled = bulk_feature_table(bufs)
    assert handled.all()
    assert _rows(table) == _rows(feature_table_walk(bufs))
    want = [int(math.copysign(math.floor(abs(v / dim) + 0.5), v))
            for v in table["ix"].tolist()]
    assert round_half_away(table["ix"], dim).tolist() == want


def test_vertex_kernel_handles_bulk_encoder_tiles():
    """Tiles from the vectorized encoders (points, lines, polygons with
    holes) never leave the kernel."""
    from vector_tile_go_spark.codec.encode_fast import (
        encode_geom_tiles_bulk, encode_point_tiles_bulk, flatten_geom_rows)
    rng = np.random.default_rng(3)
    n = 40
    x = np.repeat([4, 5], n // 2)
    y = np.full(n, 3)
    ids = np.arange(n, dtype=np.int64)   # id 0 = absent
    starts, ends = np.array([0, n // 2]), np.array([n // 2, n])
    props = {"k": np.array([str(i % 3) for i in range(n)], object)}
    lng = _W + (_E - _W) * rng.random(n) * np.where(x == 4, 1, 2)
    lat = _S + (_N - _S) * rng.random(n)
    bufs = encode_point_tiles_bulk(_TZ, x, y, lng, lat, ids, props, starts,
                                   ends, "p")
    for gt in ("LineString", "MultiLineString", "Polygon", "MultiPolygon"):
        rows = []
        for i in range(n):
            c = rng.random((3, 5, 2))
            rings = [[[float(_W + (_E - _W) * a), float(_S + (_N - _S) * b)]
                      for a, b in r] for r in c]
            rows.append({"LineString": rings[0],
                         "MultiLineString": rings,
                         "Polygon": rings,
                         "MultiPolygon": [rings[:2], rings[2:]]}[gt])
        flat = flatten_geom_rows(gt, rows)
        bufs += encode_geom_tiles_bulk(np.full(n, _TZ), x, y, ids, props,
                                       starts, ends, "g", gt, *flat)[0]
    table, handled = bulk_feature_table(bufs)
    assert handled.all()
    assert _rows(table) == _rows(feature_table_walk(bufs))


@settings(max_examples=120, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 2**40), st.integers(0, 6),
                          st.lists(st.lists(st.tuples(st.integers(-4, 4),
                                                      st.integers(-4, 4)),
                                            min_size=1, max_size=5),
                                   min_size=1, max_size=4),
                          st.permutations(range(4))),
                min_size=1, max_size=4),
       st.integers(1, 3))
def test_vertex_kernel_foreign_field_order(feats, n_layers):
    """Foreign encoders: any field order, any geom type (0 and 4-6
    included), one MoveTo per part — so type-1 parts must merge, and small
    deltas make zero-area and collinear rings that must stay holes."""
    bodies = []
    for fid, gtype, parts, order in feats:
        ints = []
        for pts in parts:
            ints += [_cmd(1, 1), _zz(pts[0][0]), _zz(pts[0][1])]
            if len(pts) > 1:
                ints.append(_cmd(2, len(pts) - 1))
                for px, py in pts[1:]:
                    ints += [_zz(px), _zz(py)]
            if gtype == 3:
                ints.append(_cmd(7, 1))
        geom = b"".join(encode_varint(v) for v in ints)
        bodies.append(_raw_feature(fid, gtype, geom, order))
    tile = b"".join(_raw_layer(f"l{i}", bodies) for i in range(n_layers))
    table, handled = bulk_feature_table([tile])
    assert handled.all()
    assert _rows(table) == _rows(feature_table_walk([tile]))


def _pad(v, width):
    """Non-minimal varint of ``v`` in ``width`` bytes."""
    out = bytearray()
    for i in range(width):
        b = (v >> (7 * i)) & 0x7F
        out.append(b | (0x80 if i < width - 1 else 0))
    return bytes(out)


def test_vertex_kernel_wide_command_ints_fall_back():
    """Command ints wider than 32 bits (a 10-byte varint >= 2^63 among
    them) send the tile to the walk, which masks them to 32 bits."""
    geom = (encode_varint(_cmd(1, 1)) + encode_varint(_zz(3))
            + encode_varint(_zz(4)) + encode_varint((1 << 63) | _cmd(2, 1))
            + encode_varint(_zz(5)) + encode_varint(_zz(6))
            + _pad(_zz(7), 6) + encode_varint(2))
    tile = _raw_layer("w", [_raw_feature(1, 2, geom, (0, 1, 2, 3))])
    _, handled = bulk_feature_table([tile, tile[:0]])
    assert handled.tolist() == [False, True]
    assert _rows(feature_table([tile])) == _rows(feature_table_walk([tile]))


_MUTATIONS = ("truncated_varint", "count_past_end", "unknown_command",
              "non_minimal_varint", "multipoint_header_kept", "huge_id",
              "truncate", "flip")


def _mutated_tile(kind, gtype, pts, pick, xor):
    """A two-feature tile with mutation ``kind`` applied (see _MUTATIONS)."""
    if kind == "multipoint_header_kept":
        gtype = 1
    ints = [_cmd(1, len(pts) if gtype == 1 else 1)]
    for i, (px, py) in enumerate(pts):
        if gtype != 1 and i == 1:
            ints.append(_cmd(2, len(pts) - 1))
        ints += [_zz(px), _zz(py)]
    if gtype == 3:
        ints.append(_cmd(7, 1))
    enc = [encode_varint(v) for v in ints]
    if kind == "truncated_varint":
        enc.append(b"\x80")
    elif kind == "count_past_end":
        enc[0] = encode_varint(_cmd(1, 1))
        enc.insert(3, encode_varint(_cmd(2, 50)))
    elif kind == "unknown_command":
        enc.insert(pick % (len(enc) + 1), encode_varint(_cmd(3 + pick % 3,
                                                             pick % 4)))
    elif kind == "non_minimal_varint":
        i = pick % len(enc)
        enc[i] = _pad(ints[i], 2 + pick % 4)
    elif kind == "multipoint_header_kept":
        enc[0] = encode_varint(_cmd(1, len(pts) + 1 + pick % 3))
    geom = b"".join(enc)
    fid = 2**63 + pick if kind == "huge_id" else 7
    body = _raw_feature(fid, gtype, geom, (0, 1, 2, 3))
    tile = _raw_layer("m", [body, body])
    if kind == "truncate":
        tile = tile[:pick % len(tile)]
    elif kind == "flip":
        b = bytearray(tile)
        b[pick % len(b)] ^= xor
        tile = bytes(b)
    return tile


_mutation = st.builds(
    _mutated_tile, st.sampled_from(_MUTATIONS), st.integers(1, 3),
    st.lists(st.tuples(st.integers(-300, 300), st.integers(-300, 300)),
             min_size=1, max_size=6),
    st.integers(0, 10**6), st.integers(1, 255))


@settings(max_examples=120, deadline=None)
@given(_mutation)
def test_vertex_kernel_mutated_tiles_match_walk(tile):
    """Malformed or quirky tiles give the walk's rows or the walk's
    exception: a truncated trailing varint, a command count past the end
    of the stream, an unknown command, non-minimal varints, a MultiPoint
    header whose count outlived dropped duplicates (the bulk encoder's
    write_geometry.go:338-344 quirk), an id >= 2^63, and random
    truncations/byte flips."""
    assert (_outcome(feature_table, [tile])
            == _outcome(feature_table_walk, [tile]))


# ---------------------------------------------------------------------------
# whole feature rows of the table (every decode entry point projects it)
# against decode_tile, in every mode
# ---------------------------------------------------------------------------

import struct  # noqa: E402

from vector_tile_go_spark.codec.decode import first_vertex  # noqa: E402

_MODES = ("props", "int", "lnglat")


def _value(v):
    return type(v).__name__, repr(v)


def _table_rows(bufs, mode, layers=None):
    """feature_table's whole feature rows, and the tiles it quarantined."""
    errors = []
    t = feature_table(bufs, mode, layers, errors)
    fx, fy = first_vertex(t)
    if mode == "lnglat":
        fx, fy = tm.project_tile_to_lnglat(fx, fy, _TZ, _TX, _TY, t["extent"])
    off = np.concatenate([[0], np.cumsum(t["n_tags"])]).tolist()
    rows = []
    for i in range(len(t["tile"])):
        has = not math.isnan(fx[i])
        rows.append((
            int(t["tile"][i]), t["layer_names"][t["layer"][i]],
            int(t["feature_id"][i]) or None, int(t["geom_type"][i]),
            GEOJSON_TYPES[t["geojson_type"][i]],
            float(fx[i]) if has else None, float(fy[i]) if has else None,
            [(t["keys"][t["tag_key"][j]], _value(t["values"][t["tag_val"][j]]))
             for j in range(off[i], off[i + 1])]))
    return rows, sorted(tile for tile, _ in errors)


def _walk_rows(bufs, mode, layers=None):
    """The same rows straight from decode_tile, tile by tile."""
    rows, errors = [], []
    for t, b in enumerate(bufs):
        if b is None:
            continue
        try:
            feats = decode_tile(bytes(b), _TZ, _TX, _TY, mode, layers)
        except Exception:  # noqa: BLE001 — compared, not swallowed
            errors.append(t)
            continue
        for name, f in feats:
            has = len(f.xs) > 0
            rows.append((t, name, f.feature_id, f.geom_type, f.geojson_type,
                         float(f.xs[0]) if has else None,
                         float(f.ys[0]) if has else None,
                         [(k, _value(v)) for k, v in f.properties.items()]))
    return rows, errors


# the encoder's six Value variants: string, float32, double, int64
# (negatives wrap through uint64), uint64, bool
_typed_value = st.one_of(
    st.text(max_size=6), st.booleans(), st.integers(-2**63, 2**63 - 1),
    st.integers(0, 2**64 - 1).map(np.uint64),
    st.floats(width=32).map(np.float32), st.floats())
_typed_feature = st.builds(
    lambda g, fid, p: {"type": g[0], "coordinates": g[1], "id": fid,
                       "properties": p},
    _geometry, st.one_of(st.none(), st.integers(1, 2**63 - 1)),
    st.dictionaries(st.sampled_from(["a", "b", "c", "d"]), _typed_value,
                    max_size=4))


@settings(max_examples=80, deadline=None)
@given(st.lists(st.one_of(
           st.none(), st.just(b""),
           st.lists(st.tuples(st.sampled_from(["l0", "l1"]),
                              st.lists(_typed_feature, max_size=5)),
                    min_size=1, max_size=3).map(_encode_tile)),
           min_size=1, max_size=4),
       st.sampled_from(_MODES), st.sampled_from([None, ["l0"]]))
def test_feature_table_matches_walk_on_encoder_tiles(bufs, mode, layers):
    """Encoder tiles with typed properties, one or two layers (filtered
    or not), empty and null tiles: the kernel takes every tile, and each
    whole feature row — tile, layer, id, geom type, geojson type, first
    vertex, property list with Python types — equals decode_tile's."""
    _, handled = bulk_feature_table(bufs, mode, layers)
    assert handled.all()
    assert _table_rows(bufs, mode, layers) == _walk_rows(bufs, mode, layers)


# every Value variant on the wire (read_layer.go:97-114), sint64 included
_VALUES = (_field(1, 2, b"s"), b"\x15" + struct.pack("<f", 1.5),
           b"\x19" + struct.pack("<d", -2.25), _field(4, 0, 2**64 - 3),
           _field(5, 0, 7), _field(6, 0, 9), _field(7, 0, 1))


def _typed_layer(feature_bodies):
    """A layer whose key dictionary repeats "a" (ids 0 and 2)."""
    body = (_field(1, 2, b"f")
            + b"".join(_field(2, 2, f) for f in feature_bodies)
            + b"".join(_field(3, 2, k) for k in (b"a", b"b", b"a"))
            + b"".join(_field(4, 2, v) for v in _VALUES))
    return _field(3, 2, body)


def _tagged_feature(fid, gtype, tags, order):
    geom = b"".join(encode_varint(v) for v in (_cmd(1, 1), _zz(3), _zz(4)))
    fields = [_field(1, 0, fid),
              _field(2, 2, b"".join(encode_varint(t) for t in tags)),
              _field(3, 0, gtype), _field(4, 2, geom)]
    return b"".join(fields[i] for i in order)


@settings(max_examples=120, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 2**40), st.integers(0, 4),
                          st.lists(st.integers(0, 9), max_size=9),
                          st.permutations(range(4))),
                min_size=1, max_size=5),
       st.sampled_from(_MODES))
def test_feature_table_foreign_tags(feats, mode):
    """Foreign tags in any field order: all seven Value variants, odd tag
    counts, out-of-range ids (which read ""), and keys repeated by id or
    by string — the walk's dict keeps the last value, so those tiles go
    to the walk."""
    tile = _typed_layer([_tagged_feature(*f) for f in feats])
    assert _table_rows([tile], mode) == _walk_rows([tile], mode)


def test_feature_table_repeated_key_takes_the_walk():
    tile = _typed_layer([_tagged_feature(1, 1, [0, 0, 0, 1], range(4)),
                         _tagged_feature(2, 1, [0, 0, 2, 1], range(4))])
    _, handled = bulk_feature_table([tile], "props")
    assert handled.tolist() == [False]
    rows, errors = _table_rows([tile], "props")
    assert (rows, errors) == _walk_rows([tile], "props")
    assert [r[-1] for r in rows] == [[("a", _value(np.float32(1.5)))]] * 2


@settings(max_examples=120, deadline=None)
@given(_mutation, st.sampled_from(_MODES))
def test_feature_table_mutated_tiles_match_walk(tile, mode):
    """The mutated tiles of the vertex fuzz, in every mode: the table
    holds the walk's rows, and a tile the walk raises on is an error
    entry with no rows, next to a null tile and a good copy."""
    bufs = [tile, None, _raw_layer("ok", [_raw_feature(3, 1, b"\x09\x02\x02",
                                                       range(4))])]
    assert _table_rows(bufs, mode) == _walk_rows(bufs, mode)


def test_multipoint_duplicate_points_decode_like_the_walk():
    """The bulk encoder keeps a MultiPoint's MoveTo count at the original
    point count while it drops zero-delta duplicates (MakeMultiPointFloat,
    write_geometry.go:338-344), so the header claims more points than the
    stream holds. The table — and with it the first-vertex projections
    decode_tiles and decode_tile_point_agg — reads it as the walk does."""
    from vector_tile_go_spark.codec.encode_fast import (
        encode_geom_tiles_bulk, flatten_geom_rows)
    pts = _pts([(10, 10), (10, 10), (50, 20), (50, 20)])
    bufs, _ = encode_geom_tiles_bulk(
        np.full(1, _TZ), np.array([_TX]), np.array([_TY]), np.array([5]),
        {"k": np.array(["v"], object)}, np.array([0]), np.array([1]), "mp",
        "MultiPoint", *flatten_geom_rows("MultiPoint", [pts]))
    (_, f), = decode_tile(bufs[0], mode="int")
    assert len(f.xs) == 2   # a count-4 MoveTo header over two pairs
    for mode in _MODES:
        _, handled = bulk_feature_table(bufs, mode)
        assert handled.all()
        assert _table_rows(bufs, mode) == _walk_rows(bufs, mode)
