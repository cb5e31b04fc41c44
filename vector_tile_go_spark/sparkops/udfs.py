"""Spark-facing codec operators: sorted-stream encode, map-batch decode.

The one unavoidable Python boundary in the engine is the MVT byte codec —
everything before (extraction, tile assignment) and after (aggregation,
joins) stays JVM-side. Every UDF is Arrow-batched; no per-row Python
anywhere. Every encode entry point has one plan shape (_encode_plan):
repartition on the tile key, sortWithinPartitions, then one streaming
``mapInArrow`` whose sorted-group carry (_stream_sorted_arrow_groups)
hands whole tile groups to a bulk kernel or, per tile, to the scalar
encode_layer oracle; output batches are built straight from numpy arrays.
Every decode entry point is one mapInArrow (_decode_plan) over a
projection of the feature table of each bounded chunk of an Arrow batch
(decode.feature_table: the columnar kernel, with the per-feature walk for
the tiles it hands back), under one per-tile error contract (_tile_error).

Scale notes (the 100 TB story):
- encode shuffles once on (z, x, y) — the same explicit boundary the
  reference hits when grouping features into layers (SURVEY.md EP3). Hot
  tiles (urban cells / hot domains) are handled by salting: encode partial
  layers per salt, then binary-concat them — valid because MVT layer bytes
  are self-framing (write_layer.go:172-174) and feature frames within a
  layer are order-independent for readers.
- decode is embarrassingly parallel per tile row; column pruning upstream
  picks the 'props'/'int'/'lnglat' mode so unneeded geometry is never
  decoded (the reference's lazy-read win, README.md:46).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TILE_SCHEMA = "z int, x bigint, y bigint, layer string, tile_pbf binary, n_features int"


def _col(rb, name: str) -> np.ndarray:
    return rb.column(name).to_numpy(zero_copy_only=False)


def _prop_strings(col) -> np.ndarray:
    """Arrow prop column -> object ndarray of str for the encoders. Null-free
    string columns pass through; anything else keeps pandas' astype(str)
    rendering (None -> 'None', NaN -> 'nan', ints with nulls -> '1.0')."""
    import pyarrow as pa
    vals = col.to_numpy(zero_copy_only=False)
    if pa.types.is_string(col.type) and not col.null_count:
        return vals
    return pd.Series(vals).astype(str).to_numpy()


def _tile_batch(zs, xs, ys, layer_name: str, bufs, n_features, salt=None):
    """One output RecordBatch of TILE_SCHEMA (plus ``salt int`` when given),
    built with the declared types (numpy's int64 defaults would not match
    ``z int``)."""
    import pyarrow as pa
    arrays = [pa.array(np.asarray(zs), pa.int32()),
              pa.array(np.asarray(xs), pa.int64()),
              pa.array(np.asarray(ys), pa.int64()),
              pa.array([layer_name] * len(bufs), pa.string()),
              pa.array(bufs, pa.binary()),
              pa.array(np.asarray(n_features), pa.int32())]
    names = ["z", "x", "y", "layer", "tile_pbf", "n_features"]
    if salt is not None:
        arrays.append(pa.array(np.asarray(salt), pa.int32()))
        names.append("salt")
    return pa.RecordBatch.from_arrays(arrays, names=names)


def _stream_sorted_arrow_groups(batches, emit, group_cols=("z", "x", "y")):
    """The sorted-batch carry over RecordBatches: rows arrive sorted by
    ``group_cols``; emit(rb, starts, ends) gets a slice that its tile
    groups cover exactly, and the last (possibly incomplete) group is
    carried into the next batch by Arrow concatenation — nested and map
    columns included, no conversion. One Python call per Arrow batch
    (thousands of tiles), not one per tile as a grouped map would pay."""
    import pyarrow as pa
    pending = None
    for rb in batches:
        if pending is not None:
            rb = pa.RecordBatch.from_arrays(
                [pa.concat_arrays([p, c])
                 for p, c in zip(pending.columns, rb.columns)],
                schema=rb.schema)
            pending = None
        m = rb.num_rows
        if not m:
            continue
        change = np.zeros(m - 1, dtype=bool)
        for c in group_cols:
            v = _col(rb, c)
            change |= v[1:] != v[:-1]
        boundaries = np.flatnonzero(change) + 1
        starts = np.concatenate([[0], boundaries])
        ends = np.concatenate([boundaries, [m]])
        if len(starts) > 1:
            yield emit(rb.slice(0, int(ends[-2])), starts[:-1], ends[:-1])
        pending = rb.slice(int(starts[-1]))
    if pending is not None and pending.num_rows:
        yield emit(pending, np.array([0]), np.array([pending.num_rows]))


def _encode_plan(df: DataFrame, emit, schema: str, sort_cols,
                 n_partitions: int | None = None,
                 group_cols=("z", "x", "y")) -> DataFrame:
    """The one encode plan: repartition on ``group_cols`` (the tile key),
    sortWithinPartitions on ``group_cols + sort_cols`` (deterministic
    feature order), then one streaming mapInArrow over the carry."""
    if n_partitions is None:
        n_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    df = (df.repartition(n_partitions, *group_cols)
          .sortWithinPartitions(*group_cols, *sort_cols))

    def run(batches):
        return _stream_sorted_arrow_groups(batches, emit, group_cols)

    return df.mapInArrow(run, schema)


def _point_emit(layer_name: str, prop_cols: tuple[str, ...], extent: int,
                id_col: str, salted: bool = False):
    """emit() of the point encoders: every tile group of the batch in one
    encode_point_tiles_bulk call."""
    from ..codec.encode_fast import encode_point_tiles_bulk

    def emit(rb, starts, ends):
        zs, xs, ys = _col(rb, "z"), _col(rb, "x"), _col(rb, "y")
        bufs = encode_point_tiles_bulk(
            zs, xs, ys, _col(rb, "lng"), _col(rb, "lat"),
            np.asarray(_col(rb, id_col), dtype=np.int64),
            {c: _prop_strings(rb.column(c)) for c in prop_cols},
            starts, ends, layer_name, extent)
        return _tile_batch(zs[starts], xs[starts], ys[starts], layer_name,
                           bufs, ends - starts,
                           _col(rb, "salt")[starts] if salted else None)

    return emit


def encode_point_tiles(entities: DataFrame, layer_name: str = "geo",
                       prop_cols: tuple[str, ...] = ("url", "mention_idx"),
                       extent: int = 4096, n_partitions: int | None = None,
                       id_col: str = "doc_id") -> DataFrame:
    """(z, x, y, lng, lat, <id_col>, props...) -> one MVT layer per tile.

    Plan: one shuffle — repartition on the tile key + sortWithinPartitions
    (z, x, y, id, props) — then a single streaming mapInArrow that encodes
    every tile of the partition (deterministic feature order from the
    sort). This is the reference's EP3 boundary (SURVEY.md §3) with the
    per-group UDF overhead amortized across whole Arrow batches and no
    pandas materialization on either side (the zero-copy path of
    SURVEY §2.10)."""
    df = entities.select("z", "x", "y", "lng", "lat", id_col, *prop_cols)
    return _encode_plan(df, _point_emit(layer_name, prop_cols, extent, id_col),
                        TILE_SCHEMA, (id_col, *prop_cols), n_partitions)


def encode_point_tiles_salted(entities: DataFrame, layer_name: str = "geo",
                              prop_cols: tuple[str, ...] = ("url", "mention_idx"),
                              n_salts: int = 8, id_col: str = "doc_id") -> DataFrame:
    """Skew-resistant encode: hash-salt the tile group key, encode partial
    layers per (tile, salt), then binary-concat partials per tile.

    Concat of serialized layers is a valid multi-layer tile (compositing,
    README.md:142-191); readers that merge same-named layers see one logical
    layer. The final concat is a tiny per-tile agg, so the heavy encode work
    spreads over n_salts times more tasks for hot tiles."""
    df = (entities.select("z", "x", "y", "lng", "lat", id_col, *prop_cols)
          .withColumn("salt",
                      F.pmod(F.xxhash64(id_col), F.lit(n_salts)).cast("int")))
    partials = _encode_plan(
        df, _point_emit(layer_name, prop_cols, 4096, id_col, salted=True),
        TILE_SCHEMA + ", salt int", (id_col, *prop_cols),
        group_cols=("z", "x", "y", "salt")).drop("layer")
    # per-tile binary concat of the (few) partials, ordered by salt for
    # determinism; this is the O(1) compositing union — no re-encode.
    # F.aggregate + F.concat stays JVM-side (whole-stage codegen), no
    # Python round-trip for the merge.
    return (partials
            .groupBy("z", "x", "y")
            .agg(F.sort_array(F.collect_list(F.struct("salt", "tile_pbf"))).alias("ps"),
                 F.sum("n_features").cast("int").alias("n_features"))
            .select("z", "x", "y", F.lit(layer_name).alias("layer"),
                    F.aggregate(F.col("ps.tile_pbf"),
                                F.lit(b"").cast("binary"),
                                lambda acc, b: F.concat(acc, b))
                    .alias("tile_pbf"), "n_features"))


def _zxy(rb, rows) -> list:
    """Arrow arrays of z (int32), x and y (int64) for the input ``rows``."""
    import pyarrow as pa
    return [pa.array(_col(rb, k)[rows].astype(dt))
            for k, dt in (("z", np.int32), ("x", np.int64), ("y", np.int64))]


def _tile_error(rb, t: int, exc: Exception, quarantine: bool) -> str:
    """The one decode error contract, the reference's per-tile
    panic/recover (read_tile.go:79-84) at scale: a tile the walk raises on
    fails the task with its z/x/y named or, under ``quarantine``, becomes
    one error row carrying the returned message."""
    z, x, y = (rb.column(c)[t].as_py() for c in ("z", "x", "y"))
    msg = f"tile z={z} x={x} y={y}: {exc!r}"
    if quarantine:
        return msg[:200]
    raise ValueError(msg) from exc


def _decode_table(rb, mode: str, layers=None, quarantine: bool = False,
                  rows=None, ids: bool = False):
    """The feature table (decode.feature_table) of the tiles ``rows``
    (default all) of one chunk of (z, x, y, tile_pbf) under the error
    contract -> (table, error tiles, error messages), tiles as row indices
    of the chunk. ``ids``: the projection emits feature_id as bigint, so a
    tile with an id >= 2^63 is that tile's error too."""
    from ..codec.decode import feature_table, take_features
    bufs = rb.column("tile_pbf").to_pylist()
    rows = np.arange(len(bufs)) if rows is None else rows
    errors: list = []
    table = feature_table([bufs[i] for i in rows], mode, layers, errors)
    table["tile"] = rows[table["tile"]]
    errors = [(rows[t], e) for t, e in errors]
    fid, tile = table["feature_id"], table["tile"]
    if ids and (fid >= np.uint64(1 << 63)).any():
        bad = np.unique(tile[fid >= np.uint64(1 << 63)])
        errors += [(i, OverflowError(f"feature id {fid[tile == i].max()} "
                                     "does not fit bigint")) for i in bad]
        errors.sort(key=lambda e: e[0])
        table = take_features(table, np.flatnonzero(~np.isin(tile, bad)))
    msgs = [_tile_error(rb, t, e, quarantine) for t, e in errors]
    return table, np.array([t for t, _ in errors], np.int64), msgs


# The decode plan projects each Arrow batch in chunks of at most
# _DECODE_CHUNK tiles and _DECODE_BYTES wire bytes (a bigger tile goes
# alone), whatever the batch size. 256 KB: the kernels' int64 temporaries
# expand ~30x over the wire bytes, so this keeps each chunk's temporaries
# ~8 MB (cache-adjacent, under the host's streaming-pass inflation
# threshold, BASELINE.md r3/r4).
_DECODE_CHUNK = 1024
_DECODE_BYTES = 1 << 18


def _chunks(rb):
    """An Arrow batch of (z, x, y, tile_pbf) as consecutive slices within
    the chunk caps."""
    import pyarrow.compute as pc
    size = pc.binary_length(rb.column("tile_pbf")).fill_null(0).to_numpy()
    cum = np.cumsum(size, dtype=np.int64)
    lo = 0
    while lo < rb.num_rows:
        cap = (cum[lo - 1] if lo else 0) + _DECODE_BYTES
        hi = min(lo + _DECODE_CHUNK,
                 max(lo + 1, int(np.searchsorted(cum, cap, "right"))))
        yield rb.slice(lo, hi - lo)
        lo = hi


def _decode_plan(tiles: DataFrame, schema, project) -> DataFrame:
    """The one decode plan: (z, x, y, tile_pbf) through one mapInArrow.
    project(chunk) turns each chunk (_chunks) of an Arrow batch into an
    output batch of ``schema`` (a pyarrow schema), or None when it has no
    rows."""
    from pyspark.sql.pandas.types import from_arrow_schema

    def run(batches):
        for rb in batches:
            for chunk in _chunks(rb):
                out = project(chunk)
                if out is not None and out.num_rows:
                    yield out

    return tiles.select("z", "x", "y", "tile_pbf").mapInArrow(
        run, from_arrow_schema(schema))


def _ddl_schema(ddl: str):
    """A Spark DDL column list as a pyarrow schema, parsed where the plan
    is built (the parser needs the active SparkContext)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType
    return to_arrow_schema(StructType.fromDDL(ddl))


def decode_tiles(tiles: DataFrame, mode: str = "lnglat",
                 layers: list[str] | None = None,
                 prop_cols: tuple[str, ...] | None = None,
                 quarantine: bool = False) -> DataFrame:
    """tiles(z, x, y, tile_pbf) -> feature rows: a point-centric projection
    of the feature table. (lng, lat) is each feature's first vertex, all
    inverse-projected in ONE vectorized call per batch (the per-feature
    Project of read_feature_lazy.go:54-63); it is null for a feature
    without vertices and in mode 'props', which skips geometry and keeps
    the un-inferred geojson_type. Full geometry consumers use
    decode_tile_vertices.

    ``properties`` is a map<string,string> written straight from the
    table's tag offsets and gathered dictionaries (str() once per
    dictionary entry). ``prop_cols`` projects named properties to flat
    string columns instead — the reference's lazy property projection
    (README.md:34) pushed into the UDF; () drops properties entirely.

    ``quarantine``: a corrupt tile becomes ONE row with the ``error``
    column set (null feature fields) instead of failing the stage."""
    import pyarrow as pa
    fields = [("z", pa.int32()), ("x", pa.int64()), ("y", pa.int64()),
              ("layer", pa.string()), ("feature_id", pa.int64()),
              ("geom_type", pa.int32()), ("geojson_type", pa.string()),
              ("lng", pa.float64()), ("lat", pa.float64())]
    if prop_cols is None:
        fields.append(("properties", pa.map_(pa.string(), pa.string())))
    else:
        fields += [(c, pa.string()) for c in prop_cols]
    if quarantine:
        fields.append(("error", pa.string()))
    schema = pa.schema(fields)

    def project(rb):
        from .. import tilemath as tm
        from ..codec.decode import GEOJSON_TYPES, first_vertex, prop_index
        t, err, msgs = _decode_table(
            rb, "props" if mode == "props" else "int", layers, quarantine,
            ids=True)
        nf, ne = len(t["tile"]), len(err)
        rows = np.concatenate([t["tile"], err])

        def pad(a, fill=0):   # error rows follow the feature rows
            return np.concatenate([a, np.full(ne, fill, a.dtype)])

        def take(names, idx):   # null on error rows and where idx < 0
            idx = pad(np.asarray(idx, np.int64), -1)
            return names.take(pa.array(idx, mask=idx < 0))

        px, py = (pad(v, np.nan) for v in first_vertex(t))
        if mode == "lnglat":
            px, py = tm.project_tile_to_lnglat(
                px, py, *(_col(rb, k)[rows] for k in ("z", "x", "y")),
                pad(t["extent"], 1.0))
        fid = pad(t["feature_id"])
        vals = pa.array([str(v) for v in t["values"]], pa.string())
        arrays = _zxy(rb, rows) + [
            take(pa.array(t["layer_names"], pa.string()), t["layer"]),
            pa.array(fid, pa.int64(), mask=fid == 0),
            pa.array(pad(t["geom_type"]), pa.int32(),
                     mask=np.arange(nf + ne) >= nf),
            take(pa.array(GEOJSON_TYPES, pa.string()), t["geojson_type"]),
            pa.array(px, mask=np.isnan(px)), pa.array(py, mask=np.isnan(py))]
        if prop_cols is None:
            arrays.append(pa.MapArray.from_arrays(
                np.concatenate([[0], np.cumsum(pad(t["n_tags"]))])
                .astype(np.int32),
                pa.array(t["keys"], pa.string()).take(t["tag_key"]),
                vals.take(t["tag_val"])))
        else:
            arrays += [take(vals, prop_index(t, c)) for c in prop_cols]
        if quarantine:
            arrays.append(pa.array([None] * nf + msgs, pa.string()))
        return pa.RecordBatch.from_arrays(arrays, schema=schema)

    return _decode_plan(tiles, schema, project)


# decode_tile_stats sends tiles of at most _STATS_KERNEL_MAX_TILE bytes to
# bulk_point_tile_stats and larger ones to the feature table. The kernel's
# lock-step scan pays one set of numpy passes per feature ordinal of the
# densest tile in its chunk, so it loses on dense tiles. Uniform z8 point
# tiles, one ~256 KB chunk at a time (tools/bench_geom_decode.py, 4-vCPU VM),
# µs/feature kernel vs table: 6.4 vs 11.9 at 79 B, 3.8 vs 4.1 at 418 B,
# 4.8 vs 2.6 at 1.5 KB, 8.0 vs 2.4 at 3.7 KB, 41 vs 2.4 at 50 KB.
_STATS_KERNEL_MAX_TILE = 4096


def decode_tile_stats(tiles: DataFrame, layers: list[str] | None = None,
                      distinct_prop: str = "url",
                      out_col: str = "n_urls",
                      quarantine: bool = False) -> DataFrame:
    """Fused decode+aggregate: per-tile feature count and distinct values of
    one property, computed INSIDE the decode UDF — ~1 output row per tile
    instead of 1 per feature crossing the python->JVM Arrow boundary.

    Semantically identical to
    ``decode_tiles(mode="props").groupBy(z,x,y).agg(count(*),
    countDistinct(properties[distinct_prop]))`` for the count-shaped
    round-trip queries, because the encoders emit exactly one row per
    (z, x, y): the per-tile group is already complete within the row, so
    the aggregation needs no shuffle at all. Multi-frame tiles (salted
    concat / composites) count every frame.

    This is the engine's answer to the decode-return scaling bottleneck
    (BASELINE.md §scaling): the contended Arrow return traffic drops by
    ~features-per-tile (10^3x for dense tiles) for queries that only need
    per-tile aggregates.

    Conforming tiles of at most 4 KB take the cross-tile point kernel
    (decode.bulk_point_tile_stats); every other tile is a count plus a
    distinct count over the feature table. ``quarantine``: a corrupt tile
    becomes one zero-count row with ``error`` set instead of failing the
    stage — the decode_tiles contract."""
    import pyarrow as pa
    schema = pa.schema(
        [("z", pa.int32()), ("x", pa.int64()), ("y", pa.int64()),
         ("n_features", pa.int64()), (out_col, pa.int64())]
        + ([("error", pa.string())] if quarantine else []))

    def project(rb):
        from ..codec.decode import bulk_point_tile_stats, prop_index
        bufs = rb.column("tile_pbf").to_pylist()
        n = np.zeros(len(bufs), np.int64)
        nv = np.zeros(len(bufs), np.int64)
        handled = np.zeros(len(bufs), bool)
        small = np.flatnonzero([b is not None and
                                len(b) <= _STATS_KERNEL_MAX_TILE
                                for b in bufs])
        # a kernel exception leaves the chunk to the feature table, whose
        # walk applies the error contract per tile
        try:
            n[small], nv[small], handled[small] = bulk_point_tile_stats(
                [bufs[i] for i in small], distinct_prop, layers)
        except Exception:  # noqa: BLE001 — isolate chunk
            pass
        rest = np.flatnonzero(~handled)
        t, err, msgs = _decode_table(rb, "props", layers, quarantine, rest)
        n[rest] = np.bincount(t["tile"], minlength=len(bufs))[rest]
        idx = prop_index(t, distinct_prop)
        code: dict = {}
        vcode = np.array([code.setdefault(str(v), len(code))
                          for v in t["values"]], np.int64)
        has = idx >= 0
        k = max(len(code), 1)
        pairs = np.unique(t["tile"][has] * k + vcode[idx[has]])
        nv[rest] = np.bincount(pairs // k, minlength=len(bufs))[rest]
        rows = np.concatenate([np.flatnonzero(n), err])
        arrays = _zxy(rb, rows) + [pa.array(n[rows]), pa.array(nv[rows])]
        if quarantine:
            arrays.append(pa.array([None] * (len(rows) - len(err)) + msgs,
                                   pa.string()))
        return pa.RecordBatch.from_arrays(arrays, schema=schema)

    return _decode_plan(tiles, schema, project)


def decode_tile_point_agg(tiles: DataFrame, agg_fn, agg_schema: str,
                          layers: list[str] | None = None) -> DataFrame:
    """Pluggable member of the fused decode+aggregate family
    (decode_tile_stats is the count/distinct instance): ONE Arrow return
    row per tile, with ``agg_fn(z, x, y, pxs, pys, extents) -> tuple``
    computed inside the UDF over the tile's decoded first-coordinate
    arrays (tile ints, float64; extents per point). Any per-tile aggregate
    of point coordinates — count, in-tile check, bbox, cell histogram —
    can ride this without paying the one-row-per-feature Arrow return
    (the decode-return scaling bottleneck, BASELINE.md §scaling).

    Coordinate semantics match decode_tiles(mode='int'): the slices are
    the feature table's first vertices, every feature contributing its
    first vertex and empty geometries NaN (so counts include them,
    coordinate predicates exclude them — same as the unfused groupBy plan).

    INPUT CONTRACT (same as decode_tile_stats): ONE row per (z, x, y)
    tile key. The aggregate runs per input ROW, not per key — feeding a
    key split across multiple rows yields duplicate (z, x, y) output
    rows, diverging from the unfused decode+groupBy plan. Composite
    partial-union tiles first (sparkops.compositing.composite)."""
    import pyarrow as pa
    schema = _ddl_schema(f"z int, x bigint, y bigint, {agg_schema}")

    def project(rb):
        from ..codec.decode import first_vertex
        t, _, _ = _decode_table(rb, "int", layers)
        tile, start, count = np.unique(t["tile"], return_index=True,
                                       return_counts=True)
        fx, fy = first_vertex(t)
        ext = t["extent"]
        rows = [(z, x, y, *agg_fn(z, x, y, fx[s:s + c], fy[s:s + c],
                                  ext[s:s + c]))
                for z, x, y, s, c in zip(
                    *(_col(rb, k)[tile].tolist() for k in ("z", "x", "y")),
                    start.tolist(), count.tolist())]
        if rows:
            return pa.RecordBatch.from_arrays(
                [pa.array(c, f.type, from_pandas=True)
                 for c, f in zip(zip(*rows), schema)], schema=schema)

    return _decode_plan(tiles, schema, project)


def encode_geobuf_tiles(entities: DataFrame,
                        prop_cols: tuple[str, ...] = ("url", "mention_idx"),
                        id_col: str = "doc_id",
                        n_partitions: int | None = None) -> DataFrame:
    """(z, x, y, lng, lat, id, props...) -> one geobuf feature STREAM per
    tile — the alternate-source codec (murphy214/geobuf; the reference's
    WriteLayerGeobuf input, write_layer.go:218-267).

    Same single-shuffle plan as encode_point_tiles; the geobuf feature
    framing itself is a small per-feature kernel inside the Arrow batch
    (compat ingestion codec, not the bulk hot path)."""
    import pyarrow as pa

    from ..codec.geobuf import encode_geobuf_feature
    from ..codec.wire import encode_varint

    def emit(rb, starts, ends):
        zs, xs, ys = _col(rb, "z"), _col(rb, "x"), _col(rb, "y")
        lng, lat, ids = _col(rb, "lng"), _col(rb, "lat"), _col(rb, id_col)
        pvals = {c: _prop_strings(rb.column(c)) for c in prop_cols}
        blobs = []
        for s, e in zip(starts.tolist(), ends.tolist()):
            blob = bytearray()
            for i in range(s, e):
                m = encode_geobuf_feature(
                    "Point", [float(lng[i]), float(lat[i])],
                    {c: pvals[c][i] for c in prop_cols}, int(ids[i]))
                blob += encode_varint(len(m)) + m
            blobs.append(bytes(blob))
        return pa.RecordBatch.from_arrays(
            [pa.array(zs[starts], pa.int32()), pa.array(xs[starts], pa.int64()),
             pa.array(ys[starts], pa.int64()), pa.array(blobs, pa.binary()),
             pa.array(ends - starts, pa.int32())],
            names=["z", "x", "y", "geobuf", "n_features"])

    df = entities.select("z", "x", "y", "lng", "lat", id_col, *prop_cols)
    return _encode_plan(
        df, emit, "z int, x bigint, y bigint, geobuf binary, n_features int",
        (id_col, *prop_cols), n_partitions)


def transcode_geobuf_tiles(gb_tiles: DataFrame,
                           layer_name: str = "geo") -> DataFrame:
    """Per-tile geobuf stream -> serialized MVT layer (WriteLayerGeobuf,
    write_layer.go:218-267). Embarrassingly parallel per tile row (a plain
    mapInArrow, no shuffle); output is byte-identical to the direct encode
    path of the quantized features."""
    from ..codec.geobuf import transcode_geobuf_layer

    def run(batches):
        for rb in batches:
            zs, xs, ys = _col(rb, "z"), _col(rb, "x"), _col(rb, "y")
            bufs = [transcode_geobuf_layer(blob, z, x, y, layer_name)
                    for z, x, y, blob in zip(zs.tolist(), xs.tolist(),
                                             ys.tolist(),
                                             rb.column("geobuf").to_pylist())]
            yield _tile_batch(zs, xs, ys, layer_name, bufs,
                              _col(rb, "n_features"))

    return gb_tiles.mapInArrow(run, TILE_SCHEMA)


_BULK_GEOM_TYPES = ("MultiPoint", "LineString", "MultiLineString",
                    "Polygon", "MultiPolygon")


def _uniform_map_props(props):
    """map<string,string> column -> (row_ok, keynames, values) for the
    bulk encoder, read from the MapArray offsets/keys/items (pyarrow 16's
    list kernels reject map<>). A row conforms when its map is non-null,
    holds no null value, and has the key set of the first such row in any
    order. ``values`` is a (rows, keys) object array of str whose columns
    follow the sorted ``keynames``; only conforming rows are filled."""
    n = len(props)
    offs = props.offsets.to_numpy().astype(np.int64)
    lens = np.diff(offs)
    lo, hi = int(offs[0]), int(offs[-1])
    row_of = np.repeat(np.arange(n), lens)
    ok = ~props.is_null().to_numpy(zero_copy_only=False)
    items = props.items.slice(lo, hi - lo)
    if items.null_count:
        ok[row_of[items.is_null().to_numpy(zero_copy_only=False)]] = False
    if not ok.any():
        return ok, [], np.empty((n, 0), object)
    enc = props.keys.slice(lo, hi - lo).dictionary_encode()
    names = np.asarray(enc.dictionary.to_pylist(), dtype=object)
    by_name = np.argsort(names)
    rank = np.empty(len(names), np.int64)
    rank[by_name] = np.arange(len(names))
    code = rank[enc.indices.to_numpy()]
    i0 = int(np.argmax(ok))
    k = int(lens[i0])
    ok &= lens == k
    rows = np.flatnonzero(ok)
    vals = np.empty((n, k), object)
    if not k:
        return ok, [], vals
    ent = np.flatnonzero(ok[row_of])
    ent = ent[np.lexsort((code[ent], row_of[ent]))]
    mat = code[ent].reshape(-1, k)
    ref = mat[np.searchsorted(rows, i0)]
    if bool((ref[1:] == ref[:-1]).any()):   # duplicate keys in one map
        return np.zeros(n, bool), [], np.empty((n, 0), object)
    ok[rows[~(mat == ref).all(axis=1)]] = False
    vals[rows] = items.to_numpy(zero_copy_only=False)[ent].reshape(-1, k)
    return ok, names[by_name][ref].tolist(), vals


def _keep_features(flat, keep):
    """Restrict flatten output to the features where ``keep`` is set,
    renumbering ring_feat densely."""
    verts, ring_lens, ring_feat, first = flat
    rk = keep[ring_feat]
    return (verts[np.repeat(rk, ring_lens)], ring_lens[rk],
            (np.cumsum(keep) - 1)[ring_feat[rk]], first[rk])


def encode_geojson_tiles(features: DataFrame, geom_type: str,
                         layer_name: str = "features",
                         extent: int = 4096,
                         extent_clamp: bool = False,
                         n_partitions: int | None = None) -> DataFrame:
    """Generic-geometry encode: rows of (z, x, y, feature_id, coords, props)
    -> one MVT layer per tile, byte-identical to the LayerEncoder
    (WriteLayer, write_layer.go:127-175): LineString/Polygon/Multi* command
    streams, winding enforcement and ring closure.

    ``coords`` is ``array<array<array<double>>>`` (Polygon rings / an array
    of lines); for LineString and MultiPoint the geometry is ``coords[0]``,
    for Point ``coords[0][0]``. MultiPolygon also accepts 4-level
    ``array<array<array<array<double>>>>`` — [polygon][ring][pt][xy],
    holes included; the column's nesting depth decides, not a per-row
    probe. ``props`` is ``map<string,string>`` or a JSON object string
    (str/int/float/bool values survive as the typed MVT Value variants).

    Same plan shape as encode_point_tiles: ONE repartition on the tile key
    + sortWithinPartitions + a streaming mapInArrow. Routing happens per
    tile group inside it: MultiPoint/line/polygon rows with
    ``map<string,string>`` props take the bulk encoder
    (encode_geom_tiles_bulk), which vectorizes projection/winding/delta/
    varint across every tile in the Arrow batch — geometry read by
    flatten_geom_arrow from the ``coords`` ListArray offsets and values
    buffer, props from the MapArray offsets/keys/items, no per-feature
    Python. Every other tile group goes to the scalar encode_layer oracle:
    Point shapes, JSON props, and groups holding a null map, a null prop
    value, a null feature_id, a key set other than the batch's (compared
    order-insensitively) or coords that do not conform. Bytes are
    identical either way (pinned by tests/test_encode_fast.py and
    tests/test_geom_tiles.py).

    This gives polygon-heavy workloads (building footprints, parcels —
    billions of rows) the same cost model as the point firehose instead of
    per-feature Python Cursor builders (reference equivalent:
    write_geometry.go:108-378, one cost model for every type)."""
    import json

    from pyspark.sql.types import MapType, StringType

    from ..codec.encode import encode_layer
    from ..codec.encode_fast import (_list_depth, encode_geom_tiles_bulk,
                                     flatten_geom_arrow)

    ptype = features.schema["props"].dataType
    bulk = (geom_type in _BULK_GEOM_TYPES
            and isinstance(ptype, MapType)
            and isinstance(ptype.keyType, StringType)
            and isinstance(ptype.valueType, StringType))

    def scalar_tile(sub) -> bytes:
        four_level = _list_depth(sub.column("coords").type) == 4

        def normalize(c):
            if geom_type == "Point":
                return c[0][0]
            if geom_type in ("LineString", "MultiPoint"):
                return c[0]
            if geom_type == "MultiPolygon" and not four_level:
                return [[ring] for ring in c]   # one ring per polygon
            return c

        def props(p):
            if isinstance(p, str):
                # JSON-typed properties: str/int/float/bool survive as the
                # MVT Value variant types (codec/values.py write_value)
                p = json.loads(p)
            return dict(p) if p is not None else {}

        feats = [{"type": geom_type, "coordinates": normalize(c),
                  "properties": props(p), "id": int(f)}
                 for f, c, p in zip(sub.column("feature_id").to_pylist(),
                                    sub.column("coords").to_pylist(),
                                    sub.column("props").to_pylist())]
        z, x, y = (int(sub.column(c)[0].as_py()) for c in ("z", "x", "y"))
        return encode_layer(feats, z, x, y, layer_name, extent=extent,
                            extent_clamp=extent_clamp)

    def emit(rb, starts, ends):
        zs, xs, ys = _col(rb, "z"), _col(rb, "x"), _col(rb, "y")
        lens = ends - starts
        tile_ok = np.zeros(len(starts), bool)
        bufs = [None] * len(starts)
        if bulk:
            fid_col = rb.column("feature_id")
            row_ok, keynames, vals = _uniform_map_props(rb.column("props"))
            flat = flatten_geom_arrow(geom_type, rb.column("coords"))
            if flat is None:
                row_ok[:] = False
            if fid_col.null_count:
                row_ok &= ~fid_col.is_null().to_numpy(zero_copy_only=False)
            tile_ok = np.logical_and.reduceat(row_ok, starts)
        if tile_ok.any():
            keep = np.repeat(tile_ok, lens)
            if not keep.all():
                flat = _keep_features(flat, keep)
            kl = lens[tile_ok]
            ke = np.cumsum(kl)
            out, _ = encode_geom_tiles_bulk(
                zs[keep], xs[keep], ys[keep],
                fid_col.to_numpy(zero_copy_only=False)[keep].astype(np.int64),
                {k: vals[keep, j] for j, k in enumerate(keynames)},
                ke - kl, ke, layer_name, geom_type, *flat,
                extent=extent, clamp=extent_clamp)
            for t, b in zip(np.flatnonzero(tile_ok).tolist(), out):
                bufs[t] = b
        for t in np.flatnonzero(~tile_ok).tolist():
            bufs[t] = scalar_tile(rb.slice(int(starts[t]), int(lens[t])))
        return _tile_batch(zs[starts], xs[starts], ys[starts], layer_name,
                           bufs, lens)

    df = features.select("z", "x", "y", "feature_id", "coords", "props")
    return _encode_plan(df, emit, TILE_SCHEMA, ("feature_id",), n_partitions)


def decode_tile_vertices(tiles: DataFrame, scale_dim: float | None = None) -> DataFrame:
    """Full-geometry decode to exploded vertex rows in tile-local integer
    coords — the LoadGeometry int path (read_feature_lazy.go:162-291).

    The vertex-row projection (decode.vertex_rows) of the feature table:
    all tiles of an Arrow batch decode in one set of numpy passes, and the
    output batch is built straight from its arrays — ``layer`` and
    ``geojson_type`` by dictionary take, ``feature_id`` as int64 with a
    null mask (id 0 or no id). A tile the kernel cannot reproduce exactly
    takes the per-feature walk, for that tile only. Null tiles are skipped.

    With ``scale_dim`` also emits coords scaled by 1/dim with
    round-half-away-from-zero — ConvertGeometry / LoadGeometryScaled
    (read_feature_lazy.go:342-396, ``pbf.Round(x/dim, .5, 0)``)."""
    import pyarrow as pa

    fields = [("z", pa.int32()), ("x", pa.int64()), ("y", pa.int64()),
              ("layer", pa.string()), ("feature_id", pa.int64()),
              ("geojson_type", pa.string()), ("ring_idx", pa.int32()),
              ("pt_idx", pa.int32()), ("ix", pa.int64()), ("iy", pa.int64())]
    if scale_dim is not None:
        fields += [("sx", pa.int64()), ("sy", pa.int64())]
    schema = pa.schema(fields)

    def project(rb):
        from ..codec.decode import GEOJSON_TYPES, round_half_away, vertex_rows
        c = vertex_rows(_decode_table(rb, "int", ids=True)[0])
        arrays = _zxy(rb, c["tile"]) + [
            pa.array(c["layer_names"], pa.string()).take(c["layer"]),
            pa.array(c["feature_id"], pa.int64(), mask=~c["fid_valid"]),
            pa.array(GEOJSON_TYPES, pa.string()).take(c["geojson_type"]),
            pa.array(c["ring_idx"]), pa.array(c["pt_idx"]),
            pa.array(c["ix"]), pa.array(c["iy"])]
        if scale_dim is not None:
            arrays += [pa.array(round_half_away(c["ix"], scale_dim)),
                       pa.array(round_half_away(c["iy"], scale_dim))]
        return pa.RecordBatch.from_arrays(arrays, schema=schema)

    return _decode_plan(tiles, schema, project)


def decode_tile_props_typed(tiles: DataFrame,
                            prop_schema: dict[str, str]) -> DataFrame:
    """Decode features to flat TYPED property columns — the 7-type MVT
    Value variant (write_primitives.go:202-243 / read_layer.go:97-114)
    surviving the distributed round trip with python-native types: a
    typed gather from the feature table's value dictionary.

    ``prop_schema``: {prop_name: spark_type} e.g. {"nk": "bigint",
    "frac": "double", "flag": "boolean", "name": "string"}. Adds a
    ``ptypes`` column with the decoded python type names (sorted by prop)
    so tests/oracles can assert type preservation, not just values."""
    import pyarrow as pa

    names = sorted(prop_schema)
    schema = _ddl_schema("feature_id bigint, ptypes string, " + ", ".join(
        f"{c} {prop_schema[c]}" for c in names))

    def project(rb):
        from ..codec.decode import prop_index
        t, _, _ = _decode_table(rb, "props", ids=True)
        vals = np.empty(len(t["values"]) + 1, object)  # [-1]: missing
        vals[:-1] = t["values"]
        tname = np.array([type(v).__name__ for v in vals], object)
        idx = [prop_index(t, c) for c in names]
        ptypes = tname[idx[0]]
        for i in idx[1:]:
            ptypes = ptypes + "," + tname[i]
        fid = t["feature_id"]
        return pa.RecordBatch.from_arrays(
            [pa.array(fid, pa.int64(), mask=fid == 0),
             pa.array(ptypes, pa.string())]
            + [pa.array(vals[i].tolist(), f.type, from_pandas=True)
               for i, f in zip(idx, list(schema)[2:])], schema=schema)

    return _decode_plan(tiles, schema, project)


def tile_stats(tiles: DataFrame) -> DataFrame:
    """Header-only scan: layer names + feature counts without decoding
    features — the NewTile lazy-catalog path (read_tile.go:20-44). Null
    tiles are skipped and a tile that fails to parse raises with its
    z/x/y, as in every other decode entry point."""
    import pyarrow as pa
    schema = pa.schema(
        [("z", pa.int32()), ("x", pa.int64()), ("y", pa.int64()),
         ("layer", pa.string())]
        + [(c, pa.int32()) for c in ("n_features", "extent", "version",
                                     "n_keys", "n_values")])

    def project(rb):
        from ..codec.decode import parse_tile
        rows = []
        for t, b in enumerate(rb.column("tile_pbf").to_pylist()):
            if b is None:
                continue
            try:
                frames = parse_tile(b)
            except Exception as e:  # noqa: BLE001
                _tile_error(rb, t, e, quarantine=False)   # raises
            rows += [(t, lf.name, len(lf.feature_spans), lf.extent,
                      lf.version, len(lf.keys), len(lf.values))
                     for lf in frames]
        if rows:
            cols = list(zip(*rows))
            return pa.RecordBatch.from_arrays(
                _zxy(rb, np.array(cols[0], np.int64))
                + [pa.array(c, f.type) for c, f in zip(cols[1:],
                                                      list(schema)[3:])],
                schema=schema)

    return _decode_plan(tiles, schema, project)
