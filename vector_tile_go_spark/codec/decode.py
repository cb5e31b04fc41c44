"""MVT tile decoder: bytes -> layers -> features.

From-scratch re-creation of the reference read path:

- tile/layer frame parse + dictionaries  (read_tile.go:20-44, read_layer.go:31-152)
- feature parse (id/tags/type/geometry)  (read_feature_lazy.go:66-134)
- command-stream walk, ring->polygon assembly, inverse projection
  (read_tile.go:228-340, read_feature_lazy.go:162-291)

DOCUMENTED DEVIATION: the reference decodes every MoveTo after the first as
an *absolute* position for geom types 1 and 3 (read_tile.go:231-235), which
contradicts both the MVT spec and its own encoder (the cursor carries across
rings/parts on write, write_geometry.go:242-247). This decoder follows the
spec — the cursor continues across all parts for all types — so that
decode(encode(x)) is the identity on quantized geometry; the reference's
round-trip tests only exercised decoded-feature equivalence, which this
preserves. It also handles MoveTo runs with count > 1 (MultiPoint headers,
cmd 0x11 etc.), which the reference's literal ``geom[pos] == 9`` check
(read_tile.go:229) cannot parse.

Laziness: the reference's lazy Feature defers geometry decode until
LoadGeometry (read_feature_lazy.go:66-134). Here the same work-avoidance is
achieved by *mode* — 'props' skips geometry entirely, 'int' skips the
inverse projection, 'lnglat' does the full job — chosen by the Spark layer
from the query's projected columns (Catalyst column pruning).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .. import tilemath as tm
from .values import read_value
from .wire import read_key, read_varint, varint_decode_all

GEOM_TYPE_NAME = {1: "Point", 2: "LineString", 3: "Polygon"}


@dataclass
class LayerFrame:
    """Parsed layer header: the reference's lazy Layer (read_layer.go:11-26).

    ``feature_spans`` are byte ranges into ``buf`` — features stay undecoded
    until asked for, mirroring the byte-offset slice at read_layer.go:50-54."""
    name: str
    extent: int
    version: int
    keys: list
    values: list
    feature_spans: list  # (start, end) byte offsets of feature bodies
    buf: bytes
    start: int = 0
    end: int = 0
    # raw byte spans (incl. field tag + length prefix) for zero-copy splice
    # re-emit (the reference's ToLayerWrite/CleanLayer byte reuse,
    # read_layer.go:168-280, operations.go:26-54)
    feature_frame_spans: list = field(default_factory=list)
    dict_spans: list = field(default_factory=list)  # key+value fields, in order
    # byte offset of the layer's 0x1a field tag in buf (frame start incl.
    # tag + length varint). -1 = unknown (frame built by hand); splice ops
    # then fall back to deriving it from a minimal length varint.
    frame_start: int = -1


@dataclass
class DecodedFeature:
    feature_id: int | None
    geom_type: int
    properties: dict
    # geometry as flat arrays: all points concatenated; ring_lens = points
    # per ring/part; poly_ring_counts = rings per polygon (type 3 only)
    xs: np.ndarray = field(default_factory=lambda: np.zeros(0))
    ys: np.ndarray = field(default_factory=lambda: np.zeros(0))
    ring_lens: list = field(default_factory=list)
    poly_ring_counts: list = field(default_factory=list)
    geojson_type: str = ""

    def rings(self):
        """Yield (n, 2) arrays per ring/part."""
        off = 0
        for ln in self.ring_lens:
            yield np.stack([self.xs[off:off + ln], self.ys[off:off + ln]], axis=1)
            off += ln

    def coordinates(self):
        """Nested-list GeoJSON coordinates for the inferred geojson_type."""
        rings = [r.tolist() for r in self.rings()]
        t = self.geojson_type
        if t == "Point":
            return rings[0][0]
        if t == "MultiPoint":
            return rings[0]
        if t == "LineString":
            return rings[0]
        if t == "MultiLineString":
            return rings
        if t == "Polygon":
            return rings
        if t == "MultiPolygon":
            out, off = [], 0
            for c in self.poly_ring_counts:
                out.append(rings[off:off + c])
                off += c
            return out
        return rings


def parse_tile(buf: bytes) -> list[LayerFrame]:
    """NewTile (read_tile.go:20-44): parse only layer frames, lazily."""
    layers = []
    pos, n = 0, len(buf)
    while pos < n:
        tag_pos = pos
        fieldno, wt, pos = read_key(buf, pos)
        if fieldno == 3 and wt == 2:
            size, pos = read_varint(buf, pos)
            lf = parse_layer(buf, pos, pos + size)
            # actual frame start (tag byte), robust to padded (non-minimal)
            # length varints in foreign tiles — splice ops reuse it verbatim
            lf.frame_start = tag_pos
            layers.append(lf)
            pos += size
        elif wt == 0:
            _, pos = read_varint(buf, pos)
        elif wt == 2:
            size, pos = read_varint(buf, pos)
            pos += size
        elif wt == 5:
            pos += 4
        elif wt == 1:
            pos += 8
        else:
            break
    return layers


def parse_layer(buf: bytes, pos: int, end: int) -> LayerFrame:
    """NewLayer (read_layer.go:31-152): single pass collecting name, feature
    byte spans (bodies skipped), key strings, value variants, extent,
    version.

    Hot loop: the field key and length varints are inlined with a
    single-byte fast path (field keys here are always 1 byte; lengths
    usually are) and the branch chain is ordered by field frequency
    (features 2, values 4, keys 3, then the rare ones) — this loop runs
    once per field of every layer of every tile and its Python overhead
    was ~45% of the bulk-decode cost before inlining."""
    name, extent, version = "", 4096, 2
    keys, values, spans = [], [], []
    frame_spans, dict_spans = [], []
    start = pos
    spans_append = spans.append
    frames_append = frame_spans.append
    dicts_append = dict_spans.append
    values_append = values.append
    while pos < end:
        tag_start = pos
        k = buf[pos]
        if k < 0x80:
            pos += 1
        else:
            k, pos = read_varint(buf, pos)
        fieldno = k >> 3
        wt = k & 7
        if wt == 2:
            n = buf[pos]
            if n < 0x80:
                pos += 1
            else:
                n, pos = read_varint(buf, pos)
            nxt = pos + n
            if fieldno == 2:
                spans_append((pos, nxt))
                frames_append((tag_start, nxt))
            elif fieldno == 4:
                # inline fast path for the dominant single-string Value
                # message (read_value's generic switch costs ~3x on
                # dictionary-heavy tiles)
                if n >= 2 and buf[pos] == 0x0A:
                    slen, p2 = read_varint(buf, pos + 1)
                    if p2 + slen == nxt:
                        values_append(
                            buf[p2:p2 + slen].decode("utf-8", "replace"))
                    else:
                        values_append(read_value(buf, pos, nxt))
                else:
                    values_append(read_value(buf, pos, nxt))
                dicts_append((tag_start, nxt))
            elif fieldno == 3:
                keys.append(buf[pos:nxt].decode("utf-8", "replace"))
                dicts_append((tag_start, nxt))
            elif fieldno == 1:
                name = buf[pos:nxt].decode("utf-8", "replace")
            pos = nxt
        elif wt == 0:
            v = buf[pos]
            if v < 0x80:
                pos += 1
            else:
                v, pos = read_varint(buf, pos)
            if fieldno == 5:
                extent = v
            elif fieldno == 15:
                version = v
        elif wt == 5:
            pos += 4
        elif wt == 1:
            pos += 8
        else:
            break
    if not extent:
        extent = 4096  # read_layer.go:145-147 default
    return LayerFrame(name, extent, version, keys, values, spans, buf,
                      start, end, frame_spans, dict_spans)


def decode_geometry_cmds(cmds: np.ndarray, geom_type: int):
    """Command stream -> (xs, ys, ring_lens) in tile-int coords.

    Spec-correct walk: the cursor carries across all MoveTo/LineTo runs (see
    module docstring for the deviation from read_tile.go:231-235). Zigzag
    per DeltaDim (read_feature_lazy.go:24-31); counts are trusted but
    clipped to the available parameter pairs (corrupt-tolerant like the
    reference's ``pos+1 < len(geom)`` guard, read_tile.go:250)."""
    n = len(cmds)
    if n < 64:
        return _decode_geometry_cmds_py(
            cmds if isinstance(cmds, list) else np.asarray(cmds).tolist(), n)
    cmds = np.asarray(cmds, dtype=np.uint32)
    # Pass 1 walks COMMAND ints only (O(#parts), not O(#vertices)),
    # recording parameter runs and part boundaries. Because the cursor
    # carries across every MoveTo/LineTo run, the whole geometry is ONE
    # cumulative sum over all deltas in stream order — pass 2 is a gather +
    # zigzag + two cumsums, with no per-vertex Python.
    runs: list = []       # (param_start, n_pairs)
    part_lens: list = []  # points per part
    pos = 0
    cur = 0
    while pos < n:
        cmd = int(cmds[pos])
        cmd_id = cmd & 0x7
        count = cmd >> 3
        pos += 1
        if cmd_id == 1:  # MoveTo: starts a new part
            if cur:
                part_lens.append(cur)
                cur = 0
            avail = min(count, (n - pos) // 2)
            if avail:
                runs.append((pos, avail))
                cur += avail
            pos += avail * 2
        elif cmd_id == 2:  # LineTo: extends the current part
            avail = min(count, (n - pos) // 2)
            if avail:
                runs.append((pos, avail))
                cur += avail
            pos += avail * 2
        elif cmd_id == 7:  # ClosePath: ring boundary (closing point implied)
            pass
        else:  # unknown command: skip (corrupt-tolerant)
            pass
    if cur:
        part_lens.append(cur)
    if not runs:
        return np.zeros(0), np.zeros(0), []
    if len(runs) == 1:
        p0, a0 = runs[0]
        params = cmds[p0:p0 + 2 * a0]
    else:
        params = cmds[np.concatenate(
            [np.arange(p, p + 2 * a) for p, a in runs])]
    d = tm.zigzag_decode(params)
    xs = np.cumsum(d[0::2], dtype=np.float64)
    ys = np.cumsum(d[1::2], dtype=np.float64)
    return xs, ys, part_lens


def _decode_geometry_cmds_py(cmds: list, n: int):
    """Pure-python twin of the vectorized walk for short command streams
    (points, short lines) — numpy's fixed per-call overhead dominates below
    ~64 command ints. Semantics identical: cursor carries across parts,
    zigzag per DeltaDim, counts clipped to available pairs."""
    xs, ys, ring_lens = [], [], []
    cur = 0  # points in current part
    cx = cy = 0
    pos = 0
    while pos < n:
        cmd = cmds[pos]
        cmd_id = cmd & 0x7
        count = cmd >> 3
        pos += 1
        if cmd_id == 1:
            if cur:
                ring_lens.append(cur)
                cur = 0
            avail = min(count, (n - pos) >> 1)
            for _ in range(avail):
                a = cmds[pos]
                b = cmds[pos + 1]
                pos += 2
                cx += -((a + 1) >> 1) if a & 1 else a >> 1
                cy += -((b + 1) >> 1) if b & 1 else b >> 1
                xs.append(cx)
                ys.append(cy)
                cur += 1
        elif cmd_id == 2:
            avail = min(count, (n - pos) >> 1)
            for _ in range(avail):
                a = cmds[pos]
                b = cmds[pos + 1]
                pos += 2
                cx += -((a + 1) >> 1) if a & 1 else a >> 1
                cy += -((b + 1) >> 1) if b & 1 else b >> 1
                xs.append(cx)
                ys.append(cy)
                cur += 1
        # cmd 7 (ClosePath) and unknown commands: no params, no-op
    if cur:
        ring_lens.append(cur)
    if not xs:
        return np.zeros(0), np.zeros(0), []
    return (np.asarray(xs, dtype=np.float64),
            np.asarray(ys, dtype=np.float64), ring_lens)


def decode_geometry_cmds_ref_compat(cmds, geom_type: int):
    """Reference-DECODER-parity walk (read_tile.go:222-280), opt-in.

    The reference's eager decoder deviates from the MVT spec in two ways,
    both reproduced here bit-for-bit so this engine can match the
    reference's own decoded output on geometry the reference itself
    round-trips:

    - a part starts only at the literal command int 9 (MoveTo, count 1 —
      read_tile.go:230); multi-count MoveTos never occur in its output.
    - the first point of every part after the first is read as an
      ABSOLUTE zigzag coordinate unless geom_type == 2 (read_tile.go:
      231-235: ``pos != 1 && geom_type == 2`` continues the cursor, the
      else branch does ``DeltaDim(geom[pos])`` with no cursor add). Per
      spec (and this codec's default decoder) the cursor carries across
      every part; for multi-ring polygons written by a spec encoder —
      including the reference's OWN writer, write_geometry.go:261-270 —
      the reference decoder therefore reconstructs later rings at the
      wrong position. That asymmetry is the documented reason the default
      stays spec-correct (see module docstring); this twin exists for
      byte-parity testing against reference-decoded fixtures.

    Same return shape as decode_geometry_cmds: (xs, ys, part_lens)."""
    cmds = list(cmds)
    n = len(cmds)
    xs: list = []
    ys: list = []
    part_lens: list = []
    pos = 0
    cx = cy = 0
    first = True
    while pos < n:
        if cmds[pos] == 9 and pos + 2 < n:
            pos += 1
            a, b = cmds[pos], cmds[pos + 1]
            dxv = -((a + 1) >> 1) if a & 1 else a >> 1
            dyv = -((b + 1) >> 1) if b & 1 else b >> 1
            if not first and geom_type == 2:
                cx += dxv
                cy += dyv
            else:
                cx, cy = dxv, dyv  # ABSOLUTE restart (read_tile.go:234)
            first = False
            pos += 2
            xs.append(cx)
            ys.append(cy)
            cur = 1
            if pos < n:
                # one following run, length taken from the raw int with NO
                # command-id check (read_tile.go:243-245)
                length = cmds[pos] >> 3
                pos += 1
                endpos = pos + length * 2
                while pos < endpos and pos + 1 < n:
                    a, b = cmds[pos], cmds[pos + 1]
                    cx += -((a + 1) >> 1) if a & 1 else a >> 1
                    cy += -((b + 1) >> 1) if b & 1 else b >> 1
                    xs.append(cx)
                    ys.append(cy)
                    cur += 1
                    pos += 2
            part_lens.append(cur)
        else:
            pos += 1  # ClosePath(15) / anything else: skipped byte-wise
    return (np.asarray(xs, dtype=np.float64),
            np.asarray(ys, dtype=np.float64), part_lens)


def _signed_area(ring: np.ndarray) -> float:
    """SignedArea (read_feature_lazy.go:34-51): shoelace with wrap term; the
    ring includes its closing duplicate point."""
    x, y = ring[:, 0], ring[:, 1]
    xj = np.roll(x, 1)
    yj = np.roll(y, 1)
    return float(np.sum((xj - x) * (y + yj)))


def decode_feature(layer: LayerFrame, span, mode: str = "lnglat",
                   z: int = 0, x: int = 0, y: int = 0) -> DecodedFeature | None:
    """Decode one feature body. mode: 'props' | 'int' | 'lnglat'."""
    buf = layer.buf
    pos, end = span
    fid = None
    geom_type = 0
    props: dict = {}
    geom_span = None
    while pos < end:
        fieldno, wt, pos = read_key(buf, pos)
        if fieldno == 1 and wt == 0:
            fid, pos = read_varint(buf, pos)
        elif fieldno == 2 and wt == 2:
            n, pos = read_varint(buf, pos)
            # tag arrays are tiny (2 ints per property): a plain byte loop
            # beats numpy's fixed per-call overhead by ~25x here; the
            # vectorized varint_decode_all only wins on long packed arrays
            end_t = pos + n
            tags = []
            v = shift = 0
            while pos < end_t:
                b = buf[pos]
                pos += 1
                v |= (b & 0x7F) << shift
                if b & 0x80:
                    shift += 7
                else:
                    tags.append(v)
                    v = shift = 0
            # dictionary join; out-of-range -> "" (read_tile.go:193-204)
            nk, nv = len(layer.keys), len(layer.values)
            for i in range(0, len(tags) - 1, 2):
                ki, vi = tags[i], tags[i + 1]
                k = layer.keys[ki] if ki < nk else ""
                val = layer.values[vi] if vi < nv else ""
                props[k] = val
        elif fieldno == 3 and wt == 0:
            geom_type, pos = read_varint(buf, pos)
        elif fieldno == 4 and wt == 2:
            n, pos = read_varint(buf, pos)
            geom_span = (pos, pos + n)
            pos += n
        elif wt == 0:
            _, pos = read_varint(buf, pos)
        elif wt == 2:
            n, pos = read_varint(buf, pos)
            pos += n
        else:
            break
    feat = DecodedFeature(feature_id=fid if fid else None,
                          geom_type=geom_type, properties=props)
    if mode == "props" or geom_span is None:
        feat.geojson_type = GEOM_TYPE_NAME.get(geom_type, "")
        return feat
    span_len = geom_span[1] - geom_span[0]
    if span_len < 112:
        # small-geometry fast path (points, short lines): plain byte loop,
        # no numpy per-call overhead (measured crossover ≈ 112 bytes)
        g0, g1 = geom_span
        vals = []
        v = shift = 0
        p = g0
        while p < g1:
            b = buf[p]
            p += 1
            v |= (b & 0x7F) << shift
            if b & 0x80:
                shift += 7
            else:
                # mask to 32 bits so corrupt oversized varints wrap exactly
                # like the >=256-byte path's uint64->uint32 array cast
                vals.append(v & 0xFFFFFFFF)
                v = shift = 0
        cmds = np.asarray(vals, dtype=np.uint32)
    else:
        cmds = varint_decode_all(np.frombuffer(buf, np.uint8, span_len, geom_span[0]))
    xs, ys, ring_lens = decode_geometry_cmds(cmds, geom_type)
    feat.xs, feat.ys, feat.ring_lens = xs, ys, ring_lens

    if geom_type == 3:
        _assemble_polygons(feat)
    else:
        _infer_simple_type(feat)

    if mode == "lnglat" and len(feat.xs):
        feat.xs, feat.ys = tm.project_tile_to_lnglat(
            feat.xs, feat.ys, z, x, y, layer.extent)
    return feat


def _infer_simple_type(feat: DecodedFeature):
    """Geom-type inference for types 1/2 (read_tile.go:318-332)."""
    if feat.geom_type == 1:
        npts = int(len(feat.xs))
        feat.ring_lens = [npts] if npts else []
        feat.geojson_type = "Point" if npts == 1 else "MultiPoint"
    elif feat.geom_type == 2:
        feat.geojson_type = ("LineString" if len(feat.ring_lens) <= 1
                             else "MultiLineString")
    else:
        feat.geojson_type = ""


def _assemble_polygons(feat: DecodedFeature):
    """Ring -> polygon assembly (read_tile.go:278-307): close unclosed rings,
    then rings with SignedArea < 0 start a new polygon; >= 0 append as hole
    to the previous polygon (sign inverted vs write side: the y-axis flips).

    Flat-array implementation: ring closure via a single batched np.insert,
    all signed areas in one shoelace + add.reduceat — no per-ring stack/roll
    (zero-length rings fall back to the per-ring twin)."""
    lens = feat.ring_lens
    nr = len(lens)
    if nr == 0:
        feat.xs = np.zeros(0)
        feat.ys = np.zeros(0)
        feat.poly_ring_counts = []
        feat.geojson_type = "MultiPolygon"
        return
    if nr == 1 and lens[0] > 0:
        # single-ring fast path (the dominant shape): one ring is always
        # one polygon — no signed area, no cumsum machinery; just closure
        xs, ys = feat.xs, feat.ys
        if xs[0] != xs[-1] or ys[0] != ys[-1]:
            xs = np.append(xs, xs[0])
            ys = np.append(ys, ys[0])
            feat.xs, feat.ys = xs, ys
            feat.ring_lens = [lens[0] + 1]
        feat.poly_ring_counts = [1]
        feat.geojson_type = "Polygon"
        return
    if min(lens) == 0:
        _assemble_polygons_perring(feat)
        return
    xs, ys = feat.xs, feat.ys
    lens_a = np.asarray(lens, dtype=np.int64)
    ends = np.cumsum(lens_a)
    starts = ends - lens_a
    open_mask = ((xs[starts] != xs[ends - 1]) | (ys[starts] != ys[ends - 1]))
    if open_mask.any():
        # close unclosed rings: insert each ring's first point at its end
        ins_at = ends[open_mask]
        xs = np.insert(xs, ins_at, xs[starts[open_mask]])
        ys = np.insert(ys, ins_at, ys[starts[open_mask]])
        lens_a = lens_a + open_mask.astype(np.int64)
        ends = np.cumsum(lens_a)
        starts = ends - lens_a
    if nr == 1:
        groups = [1]
    else:
        xprev = np.empty_like(xs)
        xprev[1:] = xs[:-1]
        xprev[starts] = xs[ends - 1]
        yprev = np.empty_like(ys)
        yprev[1:] = ys[:-1]
        yprev[starts] = ys[ends - 1]
        areas = np.add.reduceat((xprev - xs) * (ys + yprev), starts)
        groups = []
        for a in areas:
            if a < 0 or not groups:
                groups.append(1)
            else:
                groups[-1] += 1
    feat.xs = xs
    feat.ys = ys
    feat.ring_lens = lens_a.tolist()
    feat.poly_ring_counts = groups
    feat.geojson_type = "Polygon" if len(groups) == 1 else "MultiPolygon"


def _assemble_polygons_perring(feat: DecodedFeature):
    """Per-ring twin of _assemble_polygons for the degenerate zero-length
    ring case (reduceat needs strictly increasing offsets)."""
    closed = []
    for r in feat.rings():
        if len(r) and (r[0, 0] != r[-1, 0] or r[0, 1] != r[-1, 1]):
            r = np.vstack([r, r[:1]])
        closed.append(r)
    if len(closed) == 1:
        groups = [1]
    else:
        groups = []
        for r in closed:
            if not len(r):
                continue
            if _signed_area(r) < 0 or not groups:
                groups.append(1)
            else:
                groups[-1] += 1
    feat.xs = np.concatenate([r[:, 0] for r in closed]) if closed else np.zeros(0)
    feat.ys = np.concatenate([r[:, 1] for r in closed]) if closed else np.zeros(0)
    feat.ring_lens = [len(r) for r in closed]
    feat.poly_ring_counts = groups
    feat.geojson_type = "Polygon" if len(groups) == 1 else "MultiPolygon"


def decode_tile(buf: bytes, z: int = 0, x: int = 0, y: int = 0,
                mode: str = "lnglat", layers: list[str] | None = None):
    """ReadTile (read_tile.go:77-359): full decode of every feature of every
    layer. Returns list of (layer_name, DecodedFeature). ``layers`` filters
    by name without touching other layers' bytes (lazy-scan pruning)."""
    out = []
    for lf in parse_tile(buf):
        if layers is not None and lf.name not in layers:
            continue
        for span in lf.feature_spans:
            f = decode_feature(lf, span, mode, z, x, y)
            if f is not None:
                out.append((lf.name, f))
    return out


def _read_varints_at(buf: np.ndarray, pos: np.ndarray):
    """Vectorized varint reads at ARBITRARY byte positions -> (values,
    nbytes). One masked pass per continuation byte — the random-access
    companion of wire.varint_decode_all's stream decoder."""
    n = len(pos)
    val = np.zeros(n, dtype=np.uint64)
    nb = np.zeros(n, dtype=np.int64)
    idx = np.arange(n)
    p = np.asarray(pos, dtype=np.int64).copy()
    shift = 0
    while len(idx) and shift < 70:
        b = buf[p[idx]].astype(np.uint64)
        val[idx] |= (b & np.uint64(0x7F)) << np.uint64(shift)
        nb[idx] += 1
        p[idx] += 1
        idx = idx[(b & np.uint64(0x80)) != 0]
        shift += 7
    return val, nb


_SCAN_MAX_KEYS = 8


def bulk_scan_point_tiles(bufs: list):
    """SIMT-style layer-frame scan: walk the protobuf fields of EVERY
    single-layer tile in lock-step numpy passes (one iteration per field
    ordinal, masked to still-active tiles) instead of a per-tile Python
    field loop (parse_tile/parse_layer, ~30 us/tile — the cost floor the
    per-tile walk could not get under, see the r3 note in memory).

    MVT layer field numbers are <= 15, so field keys are always ONE byte;
    layers contain only wiretypes 0 and 2 — anything else marks the tile
    non-conforming (fallback to the classic walk).

    Returns a dict of per-tile arrays:
      ok            conforms to the single-frame layout
      feat_start/feat_end  contiguous feature-frames byte region
      n_feat        number of feature fields
      n_keys/n_vals dictionary sizes
      key_spans     (m, MAXK, 2) start/len of key fields (-1 padded)
      val_tile/val_start/val_len  flat value-field spans (for dedup checks)
      name_span     (m, 2) layer-name span
    plus the concatenated uint8 buffer and per-tile offsets."""
    m = len(bufs)
    lens = np.array([len(b) for b in bufs], dtype=np.int64)
    offs = np.concatenate([[0], np.cumsum(lens)])
    # 10 zero sentinel bytes (max varint width) so _read_varints_at can
    # never index past the buffer on a truncated trailing varint — the
    # over-run checks below then mark the tile ok=False instead of the
    # kernel raising IndexError (ADVICE r4 high). Also makes the
    # all-empty-batch safe-index at [0] valid.
    buf = np.frombuffer(b"".join(bufs) + b"\x00" * 10, dtype=np.uint8)
    starts = offs[:-1]
    end = offs[1:]
    ok = lens > 2
    safe = np.where(ok, starts, 0)
    ok &= buf[safe] == 0x1A
    blen, bnb = _read_varints_at(buf, np.where(ok, starts + 1, 0))
    body_start = starts + 1 + bnb
    ok &= (body_start + blen.astype(np.int64)) == end

    pos = np.where(ok, body_start, end).astype(np.int64)
    n_feat = np.zeros(m, dtype=np.int64)
    feat_start = np.full(m, -1, dtype=np.int64)
    feat_end = np.full(m, -1, dtype=np.int64)
    feat_closed = np.zeros(m, dtype=bool)   # non-feature field after feats
    n_keys = np.zeros(m, dtype=np.int64)
    n_vals = np.zeros(m, dtype=np.int64)
    key_spans = np.full((m, _SCAN_MAX_KEYS, 2), -1, dtype=np.int64)
    name_span = np.full((m, 2), -1, dtype=np.int64)
    vt_parts, vs_parts, vl_parts = [], [], []

    while True:
        act = np.flatnonzero((pos < end) & ok)
        if not len(act):
            break
        k = buf[pos[act]]
        bad = k >= 0x80
        if bad.any():
            ok[act[bad]] = False
            act = act[~bad]
            if not len(act):
                break
            k = k[~bad]
        fieldno = (k >> 3).astype(np.int64)
        wt = (k & 7).astype(np.int64)
        is2 = wt == 2
        is0 = wt == 0
        bad = ~(is2 | is0)
        if bad.any():
            ok[act[bad]] = False
            keep = ~bad
            act, fieldno, wt, is2, is0 = (act[keep], fieldno[keep], wt[keep],
                                          is2[keep], is0[keep])
            if not len(act):
                break
        nxt = np.empty(len(act), dtype=np.int64)
        # wt==2: length-delimited
        a2 = np.flatnonzero(is2)
        if len(a2):
            ln, nb = _read_varints_at(buf, pos[act[a2]] + 1)
            cstart = pos[act[a2]] + 1 + nb
            nxt[a2] = cstart + ln.astype(np.int64)
            f2 = fieldno[a2]
            t2 = act[a2]
            feats = f2 == 2
            if feats.any():
                tf = t2[feats]
                # frame start includes the field tag byte
                fs = pos[tf]
                new = feat_start[tf] == -1
                feat_start[tf] = np.where(new, fs, feat_start[tf])
                feat_end[tf] = nxt[a2[feats]]
                # a feature field after the run closed -> non-contiguous
                ok[tf[feat_closed[tf]]] = False
            nonfeat = ~feats
            closed_now = t2[nonfeat & (n_feat[t2] > 0)]
            feat_closed[closed_now] = True
            n_feat[t2[feats]] += 1
            keysf = f2 == 3
            if keysf.any():
                tk = t2[keysf]
                slot = n_keys[tk]
                over = slot >= _SCAN_MAX_KEYS
                ok[tk[over]] = False
                tk, slot = tk[~over], slot[~over]
                sel = keysf.copy()
                sel[keysf] = ~over
                key_spans[tk, slot, 0] = cstart[sel]
                key_spans[tk, slot, 1] = ln[sel].astype(np.int64)
                n_keys[t2[keysf]] += 1
            valsf = f2 == 4
            if valsf.any():
                vt_parts.append(t2[valsf])
                vs_parts.append(cstart[valsf])
                vl_parts.append(ln[valsf].astype(np.int64))
                n_vals[t2[valsf]] += 1
            namef = f2 == 1
            if namef.any():
                name_span[t2[namef], 0] = cstart[namef]
                name_span[t2[namef], 1] = ln[namef].astype(np.int64)
        a0 = np.flatnonzero(is0)
        if len(a0):
            _, nb0 = _read_varints_at(buf, pos[act[a0]] + 1)
            nxt[a0] = pos[act[a0]] + 1 + nb0
            closed_now = act[a0][n_feat[act[a0]] > 0]
            feat_closed[closed_now] = True
        over = nxt > end[act]
        if over.any():
            ok[act[over]] = False
        pos[act] = np.where(ok[act], nxt, end[act])

    ok &= n_feat > 0
    return {
        "buf": buf, "offs": offs, "ok": ok,
        "feat_start": feat_start, "feat_end": feat_end, "n_feat": n_feat,
        "n_keys": n_keys, "n_vals": n_vals, "key_spans": key_spans,
        "val_tile": (np.concatenate(vt_parts) if vt_parts
                     else np.zeros(0, np.int64)),
        "val_start": (np.concatenate(vs_parts) if vs_parts
                      else np.zeros(0, np.int64)),
        "val_len": (np.concatenate(vl_parts) if vl_parts
                    else np.zeros(0, np.int64)),
        "name_span": name_span,
    }


def bulk_point_tile_stats(bufs: list, distinct_prop: str,
                          layers: list | None = None):
    """Cross-TILE fused stats kernel: per-tile (n_features, n_distinct
    values of ``distinct_prop``) with NO per-tile Python walk — framing
    comes from bulk_scan_point_tiles' lock-step field scan, feature
    payloads from ONE varint boundary pass over the concatenation of all
    conforming tiles' feature regions (the decode twin of the vectorized
    bulk encoder). Per-tile Python is only memoized key-name lookups and
    the value-dictionary distinctness check (O(distinct values)).

    Returns (n_arr, nv_arr, handled); handled[i] False -> caller runs the
    per-tile fallback. Exactness guards: distinct dictionary INDICES
    stand in for distinct strings only when every value field is a
    single-string Value message with pure-ASCII payload (byte-distinct
    <=> string-distinct) and the tile's dictionary is duplicate-free;
    anything else — multi-frame tiles, non-uniform features, uint64 ids,
    non-string/non-ASCII values, dup dictionaries — falls back."""
    from .encode_fast import _varlen_u64
    m = len(bufs)
    n_arr = np.zeros(m, dtype=np.int64)
    nv_arr = np.zeros(m, dtype=np.int64)
    handled = np.zeros(m, dtype=bool)
    if not m:
        return n_arr, nv_arr, handled
    scan = bulk_scan_point_tiles(bufs)
    buf = scan["buf"]
    ok = scan["ok"].copy()
    if not ok.any():
        return n_arr, nv_arr, handled

    # --- layer-name filter (memoized byte-sig -> str)
    if layers is not None:
        name_cache: dict = {}
        ns_, nl_ = scan["name_span"][:, 0], scan["name_span"][:, 1]
        for ti in np.flatnonzero(ok).tolist():
            sig = bytes(buf[ns_[ti]:ns_[ti] + nl_[ti]]) if ns_[ti] >= 0 \
                else b""
            nm = name_cache.get(sig)
            if nm is None:
                nm = sig.decode("utf-8", "replace")
                name_cache[sig] = nm
            if nm not in layers:
                handled[ti] = True   # zero-count tile, same as the walk
                ok[ti] = False

    # --- value dictionary checks: every value a single-string ASCII
    # message, byte-distinct within its tile
    vt, vs, vl = scan["val_tile"], scan["val_start"], scan["val_len"]
    keep = ok[vt]
    vt, vs, vl = vt[keep], vs[keep], vl[keep]
    if len(vt):
        good = (vl >= 2) & (buf[np.where(vl >= 2, vs, 0)] == 0x0A)
        slen, snb = _read_varints_at(buf, np.where(good, vs + 1, 0))
        plen = slen.astype(np.int64)
        good &= (1 + snb + plen) == vl
        pstart = vs + 1 + snb
        plen_m = np.where(good, plen, 0)
        total = int(plen_m.sum())
        if total:
            gather = (np.repeat(pstart - np.concatenate(
                [[0], np.cumsum(plen_m)[:-1]]), plen_m)
                + np.arange(total))
            pay = buf[gather]
            poff = np.concatenate([[0], np.cumsum(plen_m)])
            na_cum = np.concatenate(
                [[0], np.cumsum(pay >= 0x80, dtype=np.int64)])
            good &= (na_cum[poff[1:]] - na_cum[poff[:-1]]) == 0
        ok[np.unique(vt[~good])] = False
        # per-tile byte-distinctness, vectorized: within each payload
        # length, lexsort (tile, payload bytes) and flag tiles with equal
        # adjacent rows — no per-value Python
        live = good & ok[vt]
        if live.any():
            t_live = vt[live]
            ps_l, pl_l = pstart[live], plen[live]
            for L in np.unique(pl_l).tolist():
                s = np.flatnonzero(pl_l == L)
                if L == 0:
                    cnt = np.bincount(t_live[s], minlength=m)
                    ok[np.flatnonzero(cnt > 1)] = False
                    continue
                mat = buf[(ps_l[s][:, None]
                           + np.arange(L)).ravel()].reshape(len(s), L)
                order = np.lexsort((*mat.T[::-1], t_live[s]))
                tt = t_live[s][order]
                mo = mat[order]
                if len(tt) > 1:
                    same = ((tt[1:] == tt[:-1])
                            & (mo[1:] == mo[:-1]).all(axis=1))
                    ok[tt[1:][same]] = False

    if not ok.any():
        return n_arr, nv_arr, handled

    # --- pack every conforming tile's feature region into one buffer,
    # one varint boundary pass for all of them
    tiles_sel = np.flatnonzero(ok)
    fs = scan["feat_start"][tiles_sel]
    fe = scan["feat_end"][tiles_sel]
    region_lens = fe - fs
    rtotal = int(region_lens.sum())
    gather = (np.repeat(fs - np.concatenate(
        [[0], np.cumsum(region_lens)[:-1]]), region_lens)
        + np.arange(rtotal))
    raw = buf[gather]
    ends = (raw & 0x80) == 0
    offs = np.concatenate([[0], np.cumsum(region_lens)])
    ends_cum = np.concatenate([[0], np.cumsum(ends, dtype=np.int64)])
    n_varints = ends_cum[offs[1:]] - ends_cum[offs[:-1]]
    feats = scan["n_feat"][tiles_sel]
    per = n_varints // np.maximum(feats, 1)
    conform = ((n_varints == per * feats) & (per >= 13)
               & ((per - 13) % 2 == 0))
    if not conform.any():
        return n_arr, nv_arr, handled
    all_vals = varint_decode_all(raw)
    voffs = np.concatenate([[0], np.cumsum(n_varints)])

    key_spans = scan["key_spans"]
    n_keys_all = scan["n_keys"]
    n_vals_all = scan["n_vals"]

    for width in np.unique(per[conform]).tolist():
        gsel = np.flatnonzero(conform & (per == width))
        gfeats = feats[gsel]
        take = np.concatenate(
            [np.arange(voffs[g], voffs[g] + feats[g] * width) for g in gsel])
        Vu = all_vals[take].reshape(-1, int(width))
        if bool((Vu[:, 3] >= np.uint64(1) << np.uint64(63)).any()):
            continue  # uint64 ids: per-tile walk keeps them positive
        V = Vu.astype(np.int64)
        p2 = int(width) - 13
        t = 6 + p2
        ok_rows = ((V[:, 0] == 0x12) & (V[:, 2] == 0x08) & (V[:, 4] == 0x12)
                   & (V[:, t] == 0x18) & (V[:, t + 1] == 1)
                   & (V[:, t + 2] == 0x22) & (V[:, t + 4] == 9))
        # Length-field validation (ADVICE r4): the framing above is purely
        # positional, so confirm the wire LENGTH fields agree with the
        # minimal-varint byte widths of the values actually in each slot —
        # payload_len == bytes of the packed tag varints, geom_len ==
        # bytes of (MoveTo cmd + 2 zigzags), parts_len == bytes of the
        # whole feature body after it. Any disagreement (crafted tiles,
        # non-minimal varints) falls back to the length-driven walk.
        VL = _varlen_u64(Vu.ravel()).reshape(Vu.shape)
        ok_rows &= ((V[:, 1] == VL[:, 2:].sum(axis=1))
                    & (V[:, 5] == (VL[:, 6:6 + p2].sum(axis=1) if p2 else 0))
                    & (V[:, t + 3] == VL[:, t + 4:].sum(axis=1)))
        row_tile = np.repeat(np.arange(len(gsel)), gfeats)
        row_offs = np.concatenate([[0], np.cumsum(gfeats)])
        grp_ok = np.logical_and.reduceat(ok_rows, row_offs[:-1]) \
            if len(ok_rows) else np.zeros(0, bool)
        key_idx = V[:, 6:6 + p2:2]
        val_idx = V[:, 7:7 + p2:2] if p2 else np.zeros((len(V), 1), np.int64)
        first_rows = key_idx[row_offs[:-1]] if p2 else key_idx
        tsel = tiles_sel[gsel]
        if p2:
            key_uniform = np.logical_and.reduceat(
                (key_idx == first_rows[row_tile]).all(axis=1), row_offs[:-1])
            grp_ok &= key_uniform
            max_val_t = np.maximum.reduceat(val_idx.max(axis=1),
                                            row_offs[:-1])
            grp_ok &= ((first_rows.max(axis=1) < n_keys_all[tsel])
                       & (max_val_t < n_vals_all[tsel]))
        # distinct_prop -> tag column per tile, computed once per UNIQUE
        # (key-region bytes, first-row) group: identical key-region bytes
        # imply identical key dictionaries, so tiles group by content and
        # only one representative per group decodes its key strings
        j_arr = np.full(len(gsel), -1, dtype=np.int64)
        gi_ok = np.flatnonzero(grp_ok)
        if len(gi_ok) and p2:
            tisel = tsel[gi_ok]
            nk = n_keys_all[tisel]
            k_lo = key_spans[tisel, 0, 0]
            k_hi = (key_spans[tisel, nk - 1, 0]
                    + key_spans[tisel, nk - 1, 1])
            reg_len = k_hi - k_lo
            for L in np.unique(reg_len).tolist():
                s = np.flatnonzero(reg_len == L)
                mat = buf[(k_lo[s][:, None]
                           + np.arange(L)).ravel()].reshape(len(s), L)
                combo = np.concatenate(
                    [mat.astype(np.int64), first_rows[gi_ok[s]]], axis=1)
                _, first_of, inv = np.unique(combo, axis=0,
                                             return_index=True,
                                             return_inverse=True)
                jg = np.empty(len(first_of), dtype=np.int64)
                for u, rep in enumerate(first_of.tolist()):
                    ti = tisel[s[rep]]
                    names0 = [
                        bytes(buf[ks:ks + kl]).decode("utf-8", "replace")
                        for kk in first_rows[gi_ok[s[rep]]].tolist()
                        for ks, kl in [key_spans[ti][int(kk)]]]
                    jg[u] = (names0.index(distinct_prop)
                             if distinct_prop in names0 else -1)
                j_arr[gi_ok[s]] = jg[inv]
        has_j = grp_ok & (j_arr >= 0)
        if has_j.any():
            K = int(val_idx.max()) + 1
            jr = np.where(j_arr[row_tile] >= 0, j_arr[row_tile], 0)
            val_j = val_idx[np.arange(len(val_idx)), jr]
            sel_rows = has_j[row_tile]
            uniq = np.unique(row_tile[sel_rows] * K + val_j[sel_rows])
            nv_per = np.bincount(uniq // K, minlength=len(gsel))
        else:
            nv_per = np.zeros(len(gsel), dtype=np.int64)
        n_arr[tsel[grp_ok]] = gfeats[grp_ok]
        nv_arr[tsel[has_j]] = nv_per[has_j]
        handled[tsel[grp_ok]] = True
    return n_arr, nv_arr, handled


# ---------------------------------------------------------------------------
# the feature table: one row per feature of a batch of tiles, built by the
# columnar kernel or, per tile, by the per-feature walk (its oracle).
# Every decode entry point is a projection of it.
#
#   tile          index of the feature's tile in the input list
#   layer         index into ``layer_names``
#   extent        the layer's extent (float64, as the projection reads it)
#   feature_id    uint64; 0 = no id (null)
#   geom_type     the raw MVT geom type
#   geojson_type  index into GEOJSON_TYPES: inferred from the geometry, or
#                 GEOM_TYPE_NAME's name in mode 'props' and for a feature
#                 without a geometry field, as decode_feature does
#   n_rings -> ring_len -> ix, iy   ring CSR in tile ints (empty in 'props')
#   n_tags -> tag_key, tag_val      tag CSR: indices into ``keys``/``values``
# ---------------------------------------------------------------------------

GEOJSON_TYPES = ("", "Point", "MultiPoint", "LineString", "MultiLineString",
                 "Polygon", "MultiPolygon")
_GEOJSON_CODE = {name: i for i, name in enumerate(GEOJSON_TYPES)}
_FEATURE_COLS = ("tile", "layer", "extent", "feature_id", "geom_type",
                 "geojson_type", "n_rings", "n_tags")
_LISTS = ("layer_names", "keys", "values")


def feature_table_walk(bufs: list, mode: str = "int", layers=None,
                       errors: list | None = None) -> dict:
    """decode_tile's per-feature walk over a list of tile bytes (None = null
    tile, skipped) -> the feature table. It is the oracle bulk_feature_table
    is tested against, and its fallback for the tiles it does not take.
    Mode 'props' skips geometry, any other mode decodes tile ints. A tile
    the walk raises on is appended to ``errors`` as (tile index, exception)
    and yields no rows; with ``errors`` None the exception propagates."""
    inner = "props" if mode == "props" else "int"
    tile, layer, extent, gj, n_rings, ring_len, n_tags = ([] for _ in range(7))
    fids, gtypes, xs, ys = [], [], [], []
    names: dict = {}
    keys, values = [], []
    for t, b in enumerate(bufs):
        if b is None:
            continue
        try:
            feats = [(lf, decode_feature(lf, span, inner))
                     for lf in parse_tile(bytes(b))
                     if layers is None or lf.name in layers
                     for span in lf.feature_spans]
            # inside the try: an id or type too wide for its column is this
            # tile's error, not the batch's
            fids.append(np.array([f.feature_id or 0 for _, f in feats],
                                 np.uint64))
            gtypes.append(np.array([f.geom_type for _, f in feats], np.int64))
        except Exception as e:  # noqa: BLE001 — the caller's error contract
            if errors is None:
                raise
            errors.append((t, e))
            continue
        for lf, f in feats:
            tile.append(t)
            layer.append(names.setdefault(lf.name, len(names)))
            extent.append(lf.extent)
            gj.append(_GEOJSON_CODE[f.geojson_type])
            n_rings.append(len(f.ring_lens))
            ring_len.extend(f.ring_lens)
            xs.append(f.xs)
            ys.append(f.ys)
            n_tags.append(len(f.properties))
            keys.extend(f.properties)
            values.extend(f.properties.values())
    tags = np.arange(len(keys))
    return {
        "tile": np.array(tile, np.int64), "layer": np.array(layer, np.int64),
        "extent": np.array(extent, np.float64),
        "feature_id": np.concatenate([*fids, np.zeros(0, np.uint64)]),
        "geom_type": np.concatenate([*gtypes, np.zeros(0, np.int64)]),
        "geojson_type": np.array(gj, np.int8),
        "n_rings": np.array(n_rings, np.int64),
        "n_tags": np.array(n_tags, np.int64),
        "ring_len": np.array(ring_len, np.int64),
        "ix": np.concatenate([*xs, np.zeros(0)]).astype(np.int64),
        "iy": np.concatenate([*ys, np.zeros(0)]).astype(np.int64),
        "tag_key": tags, "tag_val": tags.copy(),
        "layer_names": list(names), "keys": keys, "values": values,
    }


def _excl_cumsum(a: np.ndarray) -> np.ndarray:
    out = np.zeros(len(a), np.int64)
    if len(a) > 1:
        np.cumsum(a[:-1], out=out[1:])
    return out


def _ragged(counts: np.ndarray, idx: np.ndarray) -> np.ndarray:
    """Positions, in a CSR child array with ``counts`` children per parent,
    of the children of parents ``idx``, in that order."""
    n = counts[idx]
    return (np.repeat(_excl_cumsum(counts)[idx] - _excl_cumsum(n), n)
            + np.arange(int(n.sum())))


def _scan_feature_fields(buf, fs, fe, lim):
    """Lock-step field scan over every feature body at once (the
    bulk_scan_point_tiles idiom, one numpy pass per field ordinal): the
    last id, geom type and geometry span and the tags span of each
    feature, as decode_feature reads them. ``ok`` is False where the walk
    could differ or raise — a multi-byte field key, a wire type other than
    0/2, a varint wider than 9 bytes (ids >= 2^63 included), a second tags
    field, or any read past the tile's own bytes (``lim``)."""
    n = len(fs)
    ok = np.ones(n, bool)
    fid = np.zeros(n, np.int64)
    gtype = np.zeros(n, np.int64)
    ts = np.zeros(n, np.int64)
    te = np.zeros(n, np.int64)
    gs = np.zeros(n, np.int64)
    ge = np.zeros(n, np.int64)
    pos = fs.copy()
    act = np.flatnonzero(pos < fe)
    top = len(buf) - 1
    while len(act):
        p, cap = pos[act], lim[act]
        k = buf[np.minimum(p, top)].astype(np.int64)
        wt, fno = k & 7, k >> 3
        bad = (p >= cap) | (k >= 0x80) | ((wt != 0) & (wt != 2))
        v, nb = _read_varints_at(buf, np.where(bad, 0, p + 1))
        val_end = p + 1 + nb
        bad |= (nb > 9) | (val_end > cap)
        v = np.where(bad, 0, v).astype(np.int64)
        is2 = wt == 2
        bad |= is2 & (v > cap - val_end)
        nxt = np.where(is2 & ~bad, val_end + v, val_end)
        ok[act[bad]] = False
        good = ~bad
        a, fno, is2, v = act[good], fno[good], is2[good], v[good]
        val_end, nxt = val_end[good], nxt[good]
        m = ~is2 & (fno == 1)
        fid[a[m]] = v[m]
        m = ~is2 & (fno == 3)
        gtype[a[m]] = v[m]
        m = is2 & (fno == 2)
        ok[a[m][te[a[m]] > 0]] = False
        ts[a[m]] = val_end[m]
        te[a[m]] = nxt[m]
        m = is2 & (fno == 4)
        gs[a[m]] = val_end[m]
        ge[a[m]] = nxt[m]
        pos[a] = nxt
        act = a[nxt < fe[a]]
    return ok, fid, gtype, ts, te, gs, ge


def _terminated(buf, s, e) -> np.ndarray:
    """Spans that are empty or end on a varint's last byte. An unterminated
    trailing varint decodes differently in the walk (tags drop it, the
    geometry's short and long paths differ), and it must not merge into
    the next span of a one-pass decode."""
    return (e == s) | (buf[np.maximum(e - 1, 0)] < 0x80)


def _span_varints(buf, s, e):
    """The varints of many byte spans in ONE varint_decode_all pass:
    span i holds values[first[i]:end[i]]; ``nbytes`` is each value's byte
    width."""
    ln = e - s
    so = _excl_cumsum(ln)
    raw = buf[np.repeat(s - so, ln) + np.arange(int(ln.sum()))]
    term = raw < 0x80
    tcum = np.concatenate([[0], np.cumsum(term, dtype=np.int64)])
    nbytes = np.diff(np.concatenate([[-1], np.flatnonzero(term)]))
    return varint_decode_all(raw), tcum[so], tcum[so + ln], nbytes


def _walk_commands(vals, vs, ve):
    """Lock-step command walk over every feature's command ints at once
    (one numpy pass per command ordinal) with decode_geometry_cmds'
    semantics: MoveTo/LineTo runs clipped to the available pairs, every
    MoveTo opens a new part, ClosePath and unknown commands take no
    parameters. Returns the runs sorted feature-major: (feature, first
    parameter index, pairs, part number)."""
    rf, rp, ra, rpart = [], [], [], []
    part = np.zeros(len(vs), np.int64)
    pos = vs.copy()
    act = np.flatnonzero(pos < ve)
    while len(act):
        c = vals[pos[act]]
        cid, cnt = c & 7, c >> 3
        p1 = pos[act] + 1
        move = cid == 1
        part[act[move]] += 1
        avail = np.where(move | (cid == 2),
                         np.minimum(cnt, (ve[act] - p1) // 2), 0)
        has = avail > 0
        rf.append(act[has])
        rp.append(p1[has])
        ra.append(avail[has])
        rpart.append(part[act[has]])
        pos[act] = p1 + 2 * avail
        act = act[pos[act] < ve[act]]
    if not rf:
        z = np.zeros(0, np.int64)
        return z, z, z, z
    rf = np.concatenate(rf)
    order = np.argsort(rf, kind="stable")
    return (rf[order], np.concatenate(rp)[order], np.concatenate(ra)[order],
            np.concatenate(rpart)[order])


def _decode_geometry(buf, gs, ge, gtype, live):
    """Steps 4-7 of bulk_feature_table over the geometry spans of the
    ``live`` features -> (bad, n_rings, ring_len, ring_feat, x, y,
    inferred geojson code); ``bad`` marks the features whose command ints
    the walk reads differently."""
    nf = len(gs)
    vals, vs, ve, nbytes = _span_varints(buf, gs, np.where(live, ge, gs))
    # command ints must fit uint32 in at most 5 bytes, so the walk's
    # 32-bit masks and casts are no-ops
    big = (vals >= np.uint64(1 << 32)) | (nbytes > 5)
    bad = np.zeros(nf, bool)
    if big.any():
        bad[np.repeat(np.arange(nf), ve - vs)[big]] = True
        vals[big] = 0   # keep run counts non-negative in the walk below
    vals = vals.astype(np.int64)

    # --- 4. command runs; 5. vertices (cursor reset per feature)
    rf, rp, ra, rpart = _walk_commands(vals, vs, ve)
    nv = int(ra.sum())
    run_of_v = np.repeat(np.arange(len(ra)), ra)
    pidx = rp[run_of_v] + 2 * (np.arange(nv) - np.repeat(_excl_cumsum(ra), ra))
    dx = vals[pidx]
    dy = vals[pidx + 1]
    dx = (dx >> 1) ^ -(dx & 1)
    dy = (dy >> 1) ^ -(dy & 1)
    fv = rf[run_of_v]
    x = np.cumsum(dx)
    y = np.cumsum(dy)
    if nv:
        fstart = np.flatnonzero(np.concatenate([[True], fv[1:] != fv[:-1]]))
        per = np.diff(np.append(fstart, nv))
        x -= np.repeat(x[fstart] - dx[fstart], per)
        y -= np.repeat(y[fstart] - dy[fstart], per)

    # --- rings: parts split at MoveTo; type 1 merges its parts
    pv = np.where(gtype[fv] == 1, 0, rpart[run_of_v])
    brk = np.ones(nv, bool)
    brk[1:] = (fv[1:] != fv[:-1]) | (pv[1:] != pv[:-1])
    rs = np.flatnonzero(brk)
    rlen = np.diff(np.append(rs, nv))
    rfeat = fv[rs]

    # --- 6. close open type-3 rings (one gather), then signed areas
    poly = gtype[rfeat] == 3
    re_ = rs + rlen - 1
    opened = poly & ((x[rs] != x[re_]) | (y[rs] != y[re_]))
    if opened.any():
        new_len = rlen + opened
        ring_of = np.repeat(np.arange(len(rs)), new_len)
        iw = np.arange(int(new_len.sum())) - np.repeat(_excl_cumsum(new_len),
                                                       new_len)
        src = rs[ring_of] + np.where(iw < rlen[ring_of], iw, 0)
        x, y = x[src], y[src]
        rlen = new_len
        rs = _excl_cumsum(rlen)
        re_ = rs + rlen - 1
    nrings = np.bincount(rfeat, minlength=nf)
    first = np.ones(len(rs), bool)
    first[1:] = rfeat[1:] != rfeat[:-1]
    n_neg = np.zeros(nf, np.int64)
    if poly.any():
        xf, yf = x.astype(np.float64), y.astype(np.float64)
        xprev = np.empty_like(xf)
        yprev = np.empty_like(yf)
        xprev[1:], yprev[1:] = xf[:-1], yf[:-1]
        xprev[rs], yprev[rs] = xf[re_], yf[re_]
        area = np.add.reduceat((xprev - xf) * (yf + yprev), rs)
        n_neg = np.bincount(rfeat[poly & ~first & (area < 0)], minlength=nf)

    # --- 7. geojson type per feature
    npts = np.bincount(rfeat, weights=rlen, minlength=nf)
    gj = np.select(
        [gtype == 1, gtype == 2, gtype == 3],
        [np.where(npts == 1, _GEOJSON_CODE["Point"],
                  _GEOJSON_CODE["MultiPoint"]),
         np.where(nrings <= 1, _GEOJSON_CODE["LineString"],
                  _GEOJSON_CODE["MultiLineString"]),
         np.where((nrings > 0) & (n_neg == 0), _GEOJSON_CODE["Polygon"],
                  _GEOJSON_CODE["MultiPolygon"])], 0)
    return bad, nrings, rlen, rfeat, x, y, gj


def bulk_feature_table(bufs: list, mode: str = "int", layers=None):
    """Columnar decode of a whole batch of tiles into the feature table —
    the kernel twin of feature_table_walk, with no per-feature Python:

    1. parse_tile layer frames give the feature spans, and their key and
       value dictionaries concatenate into batch-level lists;
    2. a lock-step field scan reads the id, type, tags span and geometry
       span of every feature (_scan_feature_fields);
    3. ONE varint_decode_all pass decodes every feature's tags into
       indices of the batch lists (out of range -> "", read_tile.go:193-204);

    and, unless mode is 'props' (_decode_geometry):

    4. one more pass decodes every geometry's command ints, and a lock-step
       command walk finds the MoveTo/LineTo runs (_walk_commands);
    5. one zigzag decode and one cumsum give the vertices, the cursor
       reset per feature;
    6. type-3 rings are closed with one gather and their signed areas
       summed with one add.reduceat, to infer Polygon vs MultiPolygon
       (read_tile.go:278-307);
    7. type-1 parts merge into one ring, as _infer_simple_type does.

    Returns (table, handled): the table holds the handled tiles only;
    handled[i] is False where the kernel cannot reproduce the walk exactly
    (parse errors, truncated fields, ids or tag ids >= 2^63, unknown wire
    types, a second tags field, a key repeated within a feature, an
    unterminated trailing varint, a command int >= 2^32) — the caller runs
    the walk for those tiles."""
    m = len(bufs)
    handled = np.zeros(m, bool)
    tlen = np.array([0 if b is None else len(b) for b in bufs], np.int64)
    toff = _excl_cumsum(tlen)
    # 10 zero sentinel bytes: varint reads never index past the buffer
    buf = np.frombuffer(b"".join(b for b in bufs if b is not None)
                        + b"\x00" * 10, np.uint8)
    names: dict = {}
    keys, values = [""], [""]   # index 0 is what an out-of-range id reads
    spans, frames, extents = [], [], []
    for t, b in enumerate(bufs):
        if b is None:
            handled[t] = True
            continue
        try:
            lfs = parse_tile(bytes(b))
        except Exception:  # noqa: BLE001 — the walk re-raises it
            continue
        handled[t] = True
        for lf in lfs:
            if lf.feature_spans and (layers is None or lf.name in layers):
                spans.append(np.asarray(lf.feature_spans, np.int64) + toff[t])
                frames.append((t, names.setdefault(lf.name, len(names)),
                               len(keys), len(lf.keys), len(values),
                               len(lf.values), len(lf.feature_spans)))
                extents.append(lf.extent)
                keys += lf.keys
                values += lf.values
    if not spans:
        return feature_table_walk([]), handled
    frames = np.array(frames, np.int64)
    f_tile, f_layer, f_koff, f_nk, f_voff, f_nv = np.repeat(
        frames[:, :6], frames[:, 6], axis=0).T
    f_ext = np.repeat(np.array(extents, np.float64), frames[:, 6])
    spans = np.concatenate(spans)
    nf = len(spans)

    # --- 2. fields
    ok, fid, gtype, ts, te, gs, ge = _scan_feature_fields(
        buf, spans[:, 0], spans[:, 1], (toff + tlen)[f_tile])
    ok &= _terminated(buf, ts, te)
    if mode != "props":
        ok &= _terminated(buf, gs, ge)
    handled[f_tile[~ok]] = False

    # --- 3. tags: (key, value) pairs -> batch dictionary indices
    tv, tfirst, tend, nbytes = _span_varints(
        buf, ts, np.where(handled[f_tile], te, ts))
    wide = nbytes > 9
    handled[f_tile[np.repeat(np.arange(nf), tend - tfirst)[wide]]] = False
    tv = np.where(wide, 0, tv).astype(np.int64)
    n_tags = (tend - tfirst) // 2
    pf = np.repeat(np.arange(nf), n_tags)
    pi = tfirst[pf] + 2 * (np.arange(len(pf)) - _excl_cumsum(n_tags)[pf])
    k, v = tv[pi], tv[pi + 1]
    tag_key = np.where(k < f_nk[pf], f_koff[pf] + k, 0)
    tag_val = np.where(v < f_nv[pf], f_voff[pf] + v, 0)
    # a key repeated within a feature — by string, so duplicate dictionary
    # entries and out-of-range ids count — keeps one entry in the walk's dict
    code: dict = {}
    kc = np.array([code.setdefault(s, len(code)) for s in keys],
                  np.int64)[tag_key]
    o = np.lexsort((kc, pf))
    dup = (pf[o][1:] == pf[o][:-1]) & (kc[o][1:] == kc[o][:-1])
    handled[f_tile[pf[o][1:][dup]]] = False

    plain = np.select([gtype == 1, gtype == 2, gtype == 3],
                      [_GEOJSON_CODE[GEOM_TYPE_NAME[i]] for i in (1, 2, 3)], 0)
    if mode == "props":
        nrings = np.zeros(nf, np.int64)
        rlen = rfeat = x = y = np.zeros(0, np.int64)
        gj = plain
    else:
        bad, nrings, rlen, rfeat, x, y, gj = _decode_geometry(
            buf, gs, ge, gtype, handled[f_tile])
        handled[f_tile[bad]] = False
        gj = np.where(ge > 0, gj, plain)   # no geometry field: un-inferred

    keep = handled[f_tile]
    keep_r = keep[rfeat]
    keep_v = np.repeat(keep_r, rlen)
    keep_t = keep[pf]
    return {
        "tile": f_tile[keep], "layer": f_layer[keep], "extent": f_ext[keep],
        "feature_id": fid[keep].astype(np.uint64),
        "geom_type": gtype[keep], "geojson_type": gj[keep].astype(np.int8),
        "n_rings": nrings[keep], "n_tags": n_tags[keep],
        "ring_len": rlen[keep_r], "ix": x[keep_v], "iy": y[keep_v],
        "tag_key": tag_key[keep_t], "tag_val": tag_val[keep_t],
        "layer_names": list(names), "keys": keys, "values": values,
    }, handled


def take_features(table: dict, idx) -> dict:
    """The features ``idx`` of a feature table, in that order, with their
    rings, vertices and tags; the dictionaries stay as they are."""
    ri = _ragged(table["n_rings"], idx)
    vi = _ragged(table["ring_len"], ri)
    ti = _ragged(table["n_tags"], idx)
    out = {k: table[k][idx] for k in _FEATURE_COLS}
    out.update(ring_len=table["ring_len"][ri], ix=table["ix"][vi],
               iy=table["iy"][vi], tag_key=table["tag_key"][ti],
               tag_val=table["tag_val"][ti])
    out.update({k: table[k] for k in _LISTS})
    return out


def _merge_tables(a: dict, b: dict) -> dict:
    """Two feature tables as one, features in tile order (stable)."""
    c = {k: np.concatenate([a[k], b[k]]) for k in a if k not in _LISTS}
    for col, lst in (("layer", "layer_names"), ("tag_key", "keys"),
                     ("tag_val", "values")):
        c[col][len(a[col]):] += len(a[lst])
    c.update({k: a[k] + b[k] for k in _LISTS})
    return take_features(c, np.argsort(c["tile"], kind="stable"))


def feature_table(bufs: list, mode: str = "int", layers=None,
                  errors: list | None = None) -> dict:
    """The feature table of a batch of tiles: the columnar kernel, with the
    walk for exactly the tiles the kernel hands back. Features come out in
    tile order, the same rows as feature_table_walk(bufs, mode, layers,
    errors), and the same exception or ``errors`` entry for a tile the
    walk raises on."""
    table, handled = bulk_feature_table(bufs, mode, layers)
    if handled.all():
        return table
    rest = [None if h else b for b, h in zip(bufs, handled)]
    return _merge_tables(table, feature_table_walk(rest, mode, layers, errors))


def _verts_per_feature(table: dict) -> np.ndarray:
    nr = table["n_rings"]
    c = np.concatenate([[0], np.cumsum(table["ring_len"])])
    ends = np.cumsum(nr)
    return c[ends] - c[ends - nr]


def first_vertex(table: dict):
    """(x, y) of each feature's first vertex in tile ints, float64 — NaN
    for a feature without vertices (every feature in mode 'props')."""
    nv = _verts_per_feature(table)
    has = nv > 0
    at = _excl_cumsum(nv)[has]
    fx = np.full(len(nv), np.nan)
    fy = np.full(len(nv), np.nan)
    fx[has] = table["ix"][at]
    fy[has] = table["iy"][at]
    return fx, fy


def prop_index(table: dict, key: str) -> np.ndarray:
    """Per feature, the index into ``values`` of property ``key``, or -1
    where the feature lacks it (a table holds a key once per feature)."""
    nf = len(table["tile"])
    hit = np.array([k == key for k in table["keys"]], bool)[table["tag_key"]]
    idx = np.full(nf, -1, np.int64)
    idx[np.repeat(np.arange(nf), table["n_tags"])[hit]] = \
        table["tag_val"][hit]
    return idx


def vertex_rows(table: dict) -> dict:
    """The vertex-row projection of a feature table: one row per vertex of
    every feature that has vertices — tile, layer (index into
    ``layer_names``), feature_id + fid_valid (id 0 / absent = null),
    geojson_type (index into GEOJSON_TYPES), ring_idx (ring within its
    feature), pt_idx (vertex within its ring), ix, iy."""
    nr, rl = table["n_rings"], table["ring_len"]
    cnt = _verts_per_feature(table)
    fid = table["feature_id"]
    ring_in_feat = np.arange(len(rl)) - np.repeat(_excl_cumsum(nr), nr)
    return {
        "tile": np.repeat(table["tile"], cnt),
        "layer": np.repeat(table["layer"], cnt),
        "feature_id": np.repeat(fid, cnt),
        "fid_valid": np.repeat(fid != 0, cnt),
        "geojson_type": np.repeat(table["geojson_type"], cnt),
        "ring_idx": np.repeat(ring_in_feat, rl).astype(np.int32),
        "pt_idx": (np.arange(int(rl.sum()))
                   - np.repeat(_excl_cumsum(rl), rl)).astype(np.int32),
        "ix": table["ix"], "iy": table["iy"],
        "layer_names": table["layer_names"],
    }


def round_half_away(v, dim: float) -> np.ndarray:
    """pbf.Round(v/dim, .5, 0) of LoadGeometryScaled
    (read_feature_lazy.go:342-396): round half away from zero."""
    s = np.asarray(v, np.float64) / float(dim)
    return (np.sign(s) * np.floor(np.abs(s) + 0.5)).astype(np.int64)
