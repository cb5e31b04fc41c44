"""Spark-facing codec operators: sorted-stream encode, map-batch decode.

The one unavoidable Python boundary in the engine is the MVT byte codec —
everything before (extraction, tile assignment) and after (aggregation,
joins) stays JVM-side. Every UDF is Arrow-batched; no per-row Python
anywhere. Every encode entry point has one plan shape (_encode_plan):
repartition on the tile key, sortWithinPartitions, then one streaming
``mapInArrow`` whose sorted-group carry (_stream_sorted_arrow_groups)
hands whole tile groups to a bulk kernel or, per tile, to the scalar
encode_layer oracle; output batches are built straight from numpy arrays.
Full-geometry decode is a mapInArrow over the columnar vertex kernel; the
remaining decode entry points still cross as pandas frames (mapInPandas).

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

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TILE_SCHEMA = "z int, x bigint, y bigint, layer string, tile_pbf binary, n_features int"

FEATURE_SCHEMA = ("z int, x bigint, y bigint, layer string, feature_id bigint, "
                  "geom_type int, geojson_type string, lng double, lat double, "
                  "properties map<string,string>")


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


def decode_tiles(tiles: DataFrame, mode: str = "lnglat",
                 layers: list[str] | None = None,
                 prop_cols: tuple[str, ...] | None = None,
                 quarantine: bool = False) -> DataFrame:
    """tiles(z, x, y, tile_pbf) -> feature rows. Point-centric projection:
    emits (lng, lat) of the first coordinate for point features; full
    geometry consumers use decode_tile_vertices.

    ``prop_cols``: project named properties to flat string columns instead
    of the map<string,string> — the reference's lazy property projection
    (README.md:34) pushed into the UDF; flat columns skip the Arrow/JVM map
    builders, which dominate wide decodes.

    ``quarantine``: corrupt tiles become rows with the ``error`` column set
    (null feature fields) instead of failing the stage — the distributed
    form of the reference's per-tile panic/recover (read_tile.go:79-84)."""
    want_geom = mode != "props"
    # decode to tile ints; inverse-project the whole Arrow batch in ONE
    # vectorized call (the per-feature Project of the reference,
    # read_feature_lazy.go:54-63, amortized batch-wide)
    inner_mode = "int" if want_geom else "props"

    def decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .. import tilemath as tm
        from ..codec.decode import bulk_point_layer, decode_feature, parse_tile
        for pdf in batches:
            # Two accumulators, merged IN ORDER at batch end: bulk point
            # layers append whole numpy segments (no per-feature Python —
            # the r4 VERDICT's remaining interpreter cost on full-feature
            # decodes); the per-feature walk and error rows append scalars,
            # flushed into a segment whenever a bulk segment arrives.
            segs: list[dict] = []
            cz, cx, cy, clay, cid, cgt, cgj = [], [], [], [], [], [], []
            cpx, cpy, cext, cprops, cerr = [], [], [], [], []
            pcols = {c: [] for c in (prop_cols or ())}

            def flush_scalar():
                if not cz:
                    return
                seg = {"z": np.asarray(cz, np.int64),
                       "x": np.asarray(cx, np.int64),
                       "y": np.asarray(cy, np.int64),
                       "layer": np.asarray(clay, object),
                       "fid": np.asarray(cid, object),
                       "gt": np.asarray(cgt, object),
                       "gj": np.asarray(cgj, object),
                       "px": np.asarray(cpx, np.float64),
                       "py": np.asarray(cpy, np.float64),
                       "ext": np.asarray(cext, np.int64),
                       "err": np.asarray(cerr, object)}
                if prop_cols is None:
                    seg["props"] = np.asarray(cprops, object)
                else:
                    for c in prop_cols:
                        seg[c] = np.asarray(pcols[c], object)
                segs.append(seg)
                for lst in (cz, cx, cy, clay, cid, cgt, cgj, cpx, cpy,
                            cext, cprops, cerr, *pcols.values()):
                    lst.clear()

            def emit_error(z, x, y, msg):
                # corrupt-tile quarantine (SURVEY.md §4: the reference's
                # panic/recover per-tile isolation, read_tile.go:79-84,
                # becomes an error row instead of a failed job — at 10^12
                # docs one bad tile must not kill the stage)
                cz.append(z)
                cx.append(x)
                cy.append(y)
                clay.append(None)
                cid.append(None)
                cgt.append(None)
                cgj.append(None)
                cpx.append(np.nan)
                cpy.append(np.nan)
                cext.append(4096)
                cerr.append(msg[:200])
                if prop_cols is None:
                    cprops.append({})
                else:
                    for c in prop_cols:
                        pcols[c].append(None)

            for z, x, y, buf in zip(pdf["z"], pdf["x"], pdf["y"], pdf["tile_pbf"]):
                if buf is None:
                    continue
                z, x, y = int(z), int(x), int(y)
                try:
                    frames = parse_tile(bytes(buf))
                except Exception as e:  # noqa: BLE001 — quarantine, not crash
                    if quarantine:
                        emit_error(z, x, y, f"parse: {e!r}")
                        continue
                    raise
                for lf in frames:
                    if layers is not None and lf.name not in layers:
                        continue
                    bulk = bulk_point_layer(lf)
                    if bulk is not None:
                        ids, key_idx, val_idx, px, py, n_props = bulk
                        n = len(ids)
                        # uniform key layout + in-range dictionary indices
                        # required for the vectorized join (our encoder
                        # always satisfies both; foreign tiles fall back)
                        if (n and bool((key_idx == key_idx[0]).all())
                                and bool((key_idx[0] < len(lf.keys)).all())
                                and bool((val_idx < len(lf.values)).all())):
                            flush_scalar()
                            fid_obj = ids.astype(object)
                            fid_obj[ids == 0] = None
                            seg = {
                                "z": np.full(n, z, np.int64),
                                "x": np.full(n, x, np.int64),
                                "y": np.full(n, y, np.int64),
                                "layer": np.full(n, lf.name, object),
                                "fid": fid_obj,
                                "gt": np.full(n, 1, object),
                                "gj": np.full(n, "Point", object),
                                "err": np.full(n, None, object),
                            }
                            if want_geom:
                                seg["px"] = px.astype(np.float64)
                                seg["py"] = py.astype(np.float64)
                                seg["ext"] = np.full(n, lf.extent, np.int64)
                            else:
                                # match the per-feature walk: props mode
                                # never exposes coords (lng/lat = NaN)
                                seg["px"] = np.full(n, np.nan)
                                seg["py"] = np.full(n, np.nan)
                                seg["ext"] = np.full(n, 4096, np.int64)
                            # str() once per DICTIONARY entry, then gather —
                            # O(distinct values), not O(features x props)
                            vals_str = np.array([str(v) for v in lf.values],
                                                dtype=object)
                            names0 = [lf.keys[k] if k < len(lf.keys) else ""
                                      for k in key_idx[0].tolist()]
                            if prop_cols is None:
                                colvals = [vals_str[val_idx[:, j]]
                                           for j in range(n_props)]
                                seg["props"] = np.array(
                                    [{names0[j]: colvals[j][r]
                                      for j in range(n_props)}
                                     for r in range(n)], dtype=object)
                            else:
                                for c in prop_cols:
                                    if c in names0:
                                        j = names0.index(c)
                                        seg[c] = vals_str[val_idx[:, j]]
                                    else:
                                        seg[c] = np.full(n, None, object)
                            segs.append(seg)
                            continue
                    for span in lf.feature_spans:
                        try:
                            f = decode_feature(lf, span, mode=inner_mode)
                        except Exception as e:  # noqa: BLE001
                            if quarantine:
                                emit_error(z, x, y, f"feature: {e!r}")
                                continue
                            raise
                        if f is None:
                            continue
                        cz.append(z)
                        cx.append(x)
                        cy.append(y)
                        clay.append(lf.name)
                        cid.append(f.feature_id)
                        cgt.append(f.geom_type)
                        cgj.append(f.geojson_type)
                        cerr.append(None)
                        if want_geom and len(f.xs):
                            cpx.append(f.xs[0])
                            cpy.append(f.ys[0])
                            cext.append(lf.extent)
                        else:
                            cpx.append(np.nan)
                            cpy.append(np.nan)
                            cext.append(4096)
                        p = f.properties
                        if prop_cols is None:
                            cprops.append({k: str(v) for k, v in p.items()})
                        else:
                            for c in prop_cols:
                                v = p.get(c)
                                pcols[c].append(None if v is None else str(v))
            flush_scalar()
            if not segs:
                continue  # empty batch: yielding nothing beats fighting
                # pandas' float64 default dtype for empty object columns
            col = {k: np.concatenate([s[k] for s in segs])
                   for k in segs[0]}
            if mode == "lnglat":
                lngs, lats = tm.project_tile_to_lnglat(
                    col["px"], col["py"], col["z"],
                    col["x"].astype(np.float64),
                    col["y"].astype(np.float64), col["ext"])
            else:
                lngs, lats = col["px"], col["py"]
            data = {"z": pd.Series(col["z"], dtype="int32"),
                    "x": pd.Series(col["x"], dtype="int64"),
                    "y": pd.Series(col["y"], dtype="int64"),
                    "layer": col["layer"], "feature_id": col["fid"],
                    "geom_type": col["gt"],
                    "geojson_type": col["gj"], "lng": lngs, "lat": lats}
            if prop_cols is None:
                data["properties"] = col["props"]
            else:
                for c in prop_cols:
                    data[c] = col[c]
            if quarantine:
                data["error"] = col["err"]
            yield pd.DataFrame(data)

    if prop_cols is None:
        schema = FEATURE_SCHEMA
    elif prop_cols:
        schema = FEATURE_SCHEMA.replace(
            "properties map<string,string>",
            ", ".join(f"{c} string" for c in prop_cols))
    else:  # properties projected away entirely
        schema = FEATURE_SCHEMA.replace(
            ", properties map<string,string>", "")
    if quarantine:
        schema += ", error string"
    return tiles.mapInPandas(decode_batch, schema)


# decode_tile_stats' batch-kernel routing: tiles above _BULK_DECODE_MAX_TILE
# bytes take the per-tile walk; the rest go to the kernel in chunks of at
# most _BULK_DECODE_CHUNK tiles and _BULK_DECODE_BYTES wire bytes. 256 KB:
# the kernel's int64 matrices expand ~30x, so this keeps each chunk's
# temporaries ~8 MB (cache-adjacent, under the host's streaming-pass
# inflation threshold).
_BULK_DECODE_MAX_TILE = 4096
_BULK_DECODE_CHUNK = 1024
_BULK_DECODE_BYTES = 1 << 18


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
    concat / composites) union the distinct sets across frames in Python.

    This is the engine's answer to the decode-return scaling bottleneck
    (BASELINE.md §scaling): the contended Arrow return traffic drops by
    ~features-per-tile (10^3x for dense tiles) for queries that only need
    per-tile aggregates. Null property values are excluded from the
    distinct count (countDistinct semantics).

    ``quarantine``: corrupt tiles become zero-count rows with ``error``
    set instead of failing the stage — same isolation contract as
    ``decode_tiles(quarantine=True)`` (read_tile.go:79-84 at scale)."""

    def tile_counts(buf: bytes) -> tuple[int, int]:
        from ..codec.decode import bulk_point_layer, decode_feature, parse_tile
        n = 0
        vals: set = set()
        for lf in parse_tile(buf):
            if layers is not None and lf.name not in layers:
                continue
            bulk = bulk_point_layer(lf)
            if bulk is not None:
                ids, key_idx, val_idx, _, _, n_props = bulk
                if (len(ids) and bool((key_idx == key_idx[0]).all())
                        and bool((key_idx[0] < len(lf.keys)).all())
                        and bool((val_idx < len(lf.values)).all())):
                    n += len(ids)
                    names0 = [lf.keys[k] for k in key_idx[0].tolist()]
                    if distinct_prop in names0:
                        j = names0.index(distinct_prop)
                        varr = np.asarray(lf.values, dtype=object)
                        # distinct over unique dictionary indices, then map
                        # to values (robust to foreign tiles with
                        # duplicated dictionary entries)
                        for v in varr[np.unique(val_idx[:, j])]:
                            if v is not None:
                                vals.add(str(v))
                    continue
            for span in lf.feature_spans:
                f = decode_feature(lf, span, mode="props")
                if f is None:
                    continue
                n += 1
                v = f.properties.get(distinct_prop)
                if v is not None:
                    vals.add(str(v))
        return n, len(vals)

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..codec.decode import bulk_point_tile_stats
        for pdf in batches:
            # cross-tile fused fast path: one varint pass over the whole
            # batch's conforming tiles (per-tile numpy setup amortized —
            # the decode-side twin of the bulk encoder)
            keep = [(int(z), int(x), int(y), bytes(buf))
                    for z, x, y, buf in zip(pdf["z"], pdf["x"], pdf["y"],
                                            pdf["tile_pbf"])
                    if buf is not None]
            if not keep:
                continue
            bufs = [r[3] for r in keep]
            # The batch kernel wins where the per-tile walk's fixed numpy
            # setup dominates — SPARSE tiles (few features). On dense tiles
            # (KBs of features each) the walk is already amortized and the
            # kernel's big streaming temporaries lose (the 4-vCPU bench VM's
            # guest kernel inflates sustained streaming passes ~10x,
            # BASELINE.md r3/r4). Route by tile size; chunk the sparse set by
            # tiles AND bytes so the working set stays cache-resident.
            ns = np.zeros(len(bufs), dtype=np.int64)
            nvs = np.zeros(len(bufs), dtype=np.int64)
            handled = np.zeros(len(bufs), dtype=bool)
            small = [i for i, b in enumerate(bufs)
                     if len(b) <= _BULK_DECODE_MAX_TILE]
            lo = 0
            while lo < len(small):
                hi, acc = lo, 0
                while hi < len(small) and hi - lo < _BULK_DECODE_CHUNK and \
                        acc < _BULK_DECODE_BYTES:
                    acc += len(bufs[small[hi]])
                    hi += 1
                sel = small[lo:hi]
                # Any kernel exception degrades this chunk to the
                # quarantined per-tile walk (handled stays False) — one
                # corrupt tile must never fail the Spark task (ADVICE r4
                # high: decode_tile_stats' per-tile isolation contract).
                try:
                    cns, cnvs, ch = bulk_point_tile_stats(
                        [bufs[i] for i in sel], distinct_prop, layers)
                except Exception:  # noqa: BLE001 — isolate chunk
                    lo = hi
                    continue
                for k, i in enumerate(sel):
                    ns[i], nvs[i], handled[i] = cns[k], cnvs[k], ch[k]
                lo = hi
            rows = []
            for i, (z, x, y, buf) in enumerate(keep):
                if handled[i]:
                    if ns[i]:
                        rows.append((z, x, y, int(ns[i]), int(nvs[i]), None)
                                    if quarantine else
                                    (z, x, y, int(ns[i]), int(nvs[i])))
                    continue
                if quarantine:
                    try:
                        n, nv = tile_counts(buf)
                    except Exception as e:  # noqa: BLE001 — isolate tile
                        rows.append((z, x, y, 0, 0, f"decode: {e!r}"[:200]))
                        continue
                    if n:
                        rows.append((z, x, y, n, nv, None))
                else:
                    n, nv = tile_counts(buf)
                    if n:
                        rows.append((z, x, y, n, nv))
            if rows:
                cols = ["z", "x", "y", "n_features", out_col]
                if quarantine:
                    cols.append("error")
                yield pd.DataFrame(rows, columns=cols)

    schema = f"z int, x bigint, y bigint, n_features bigint, {out_col} bigint"
    if quarantine:
        schema += ", error string"
    return tiles.mapInPandas(stats, schema)


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

    Coordinate semantics match decode_tiles(mode='int'): point layers via
    the bulk decoder, other features contribute their first vertex, and
    empty geometries contribute NaN (so counts include them, coordinate
    predicates exclude them — same as the unfused groupBy plan).

    INPUT CONTRACT (same as decode_tile_stats): ONE row per (z, x, y)
    tile key. The aggregate runs per input ROW, not per key — feeding a
    key split across multiple rows yields duplicate (z, x, y) output
    rows, diverging from the unfused decode+groupBy plan. Composite
    partial-union tiles first (sparkops.compositing.composite)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..codec.decode import bulk_point_layer, decode_feature, parse_tile
        for pdf in batches:
            rows = []
            for z, x, y, buf in zip(pdf["z"], pdf["x"], pdf["y"],
                                    pdf["tile_pbf"]):
                if buf is None:
                    continue
                z, x, y = int(z), int(x), int(y)
                xs_parts, ys_parts, ext_parts = [], [], []
                for lf in parse_tile(bytes(buf)):
                    if layers is not None and lf.name not in layers:
                        continue
                    bulk = bulk_point_layer(lf)
                    if bulk is not None:
                        # coords only: the dictionary-uniformity checks of
                        # the props decoders don't apply here
                        px, py = bulk[3], bulk[4]
                        xs_parts.append(np.asarray(px, dtype=np.float64))
                        ys_parts.append(np.asarray(py, dtype=np.float64))
                        ext_parts.append(np.full(len(px), lf.extent,
                                                 dtype=np.float64))
                        continue
                    for span in lf.feature_spans:
                        f = decode_feature(lf, span, mode="int")
                        if f is None:
                            continue
                        if len(f.xs):
                            xs_parts.append(np.asarray(f.xs[:1], np.float64))
                            ys_parts.append(np.asarray(f.ys[:1], np.float64))
                        else:
                            xs_parts.append(np.array([np.nan]))
                            ys_parts.append(np.array([np.nan]))
                        ext_parts.append(np.array([lf.extent], np.float64))
                if not xs_parts:
                    continue
                rows.append((z, x, y, *agg_fn(
                    z, x, y, np.concatenate(xs_parts),
                    np.concatenate(ys_parts), np.concatenate(ext_parts))))
            if rows:
                yield pd.DataFrame(
                    rows, columns=["z", "x", "y"] +
                    [c.strip().split()[0] for c in agg_schema.split(",")])

    return tiles.mapInPandas(run, f"z int, x bigint, y bigint, {agg_schema}")


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

    mapInArrow over the columnar vertex kernel (decode.decode_vertex_rows):
    all tiles of an Arrow batch decode in one set of numpy passes, and the
    output batch is built straight from its arrays — ``layer`` and
    ``geojson_type`` by dictionary take, ``feature_id`` as int64 with a
    null mask (id 0 or no id). A tile the kernel cannot reproduce exactly
    takes the per-feature walk, for that tile only. Null tiles are skipped.

    With ``scale_dim`` also emits coords scaled by 1/dim with
    round-half-away-from-zero — ConvertGeometry / LoadGeometryScaled
    (read_feature_lazy.go:342-396, ``pbf.Round(x/dim, .5, 0)``)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    fields = [("z", pa.int32()), ("x", pa.int64()), ("y", pa.int64()),
              ("layer", pa.string()), ("feature_id", pa.int64()),
              ("geojson_type", pa.string()), ("ring_idx", pa.int32()),
              ("pt_idx", pa.int32()), ("ix", pa.int64()), ("iy", pa.int64())]
    if scale_dim is not None:
        fields += [("sx", pa.int64()), ("sy", pa.int64())]
    out_schema = pa.schema(fields)

    def run(batches):
        from ..codec.decode import (GEOJSON_TYPES, decode_vertex_rows,
                                    round_half_away)
        gj_names = pa.array(GEOJSON_TYPES, pa.string())
        for rb in batches:
            c = decode_vertex_rows(rb.column("tile_pbf").to_pylist())
            t = c["tile"]
            if not len(t):
                continue
            zs, xs, ys = (rb.column(k).to_numpy(zero_copy_only=False)[t]
                          for k in ("z", "x", "y"))
            arrays = [
                pa.array(zs.astype(np.int32)), pa.array(xs.astype(np.int64)),
                pa.array(ys.astype(np.int64)),
                pa.array(c["layer_names"], pa.string()).take(c["layer"]),
                pa.array(c["feature_id"], pa.int64(), mask=~c["fid_valid"]),
                gj_names.take(c["geojson_type"]),
                pa.array(c["ring_idx"]), pa.array(c["pt_idx"]),
                pa.array(c["ix"]), pa.array(c["iy"])]
            if scale_dim is not None:
                arrays += [pa.array(round_half_away(c["ix"], scale_dim)),
                           pa.array(round_half_away(c["iy"], scale_dim))]
            yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    return tiles.select("z", "x", "y", "tile_pbf").mapInArrow(
        run, from_arrow_schema(out_schema))


def decode_tile_props_typed(tiles: DataFrame,
                            prop_schema: dict[str, str]) -> DataFrame:
    """Decode features to flat TYPED property columns — the 7-type MVT
    Value variant (write_primitives.go:202-243 / read_layer.go:97-114)
    surviving the distributed round trip with python-native types.

    ``prop_schema``: {prop_name: spark_type} e.g. {"nk": "bigint",
    "frac": "double", "flag": "boolean", "name": "string"}. Adds a
    ``ptypes`` column with the decoded python type names (sorted by prop)
    so tests/oracles can assert type preservation, not just values."""
    from ..codec.decode import decode_feature, parse_tile

    names = sorted(prop_schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict[str, list] = {"feature_id": [], "ptypes": []}
            for c in names:
                cols[c] = []
            for buf in pdf["tile_pbf"]:
                if buf is None:
                    continue
                for lf in parse_tile(bytes(buf)):
                    for span in lf.feature_spans:
                        f = decode_feature(lf, span, mode="props")
                        if f is None:
                            continue
                        cols["feature_id"].append(f.feature_id)
                        tags = []
                        for c in names:
                            v = f.properties.get(c)
                            cols[c].append(v)
                            tags.append(type(v).__name__)
                        cols["ptypes"].append(",".join(tags))
            yield pd.DataFrame(cols)

    schema = "feature_id bigint, ptypes string, " + ", ".join(
        f"{c} {prop_schema[c]}" for c in names)
    return tiles.mapInPandas(run, schema)


def tile_stats(tiles: DataFrame) -> DataFrame:
    """Header-only scan: layer names + feature counts without decoding
    features — the NewTile lazy-catalog path (read_tile.go:20-44). Null
    tiles are skipped, as in every other decode entry point."""
    from ..codec.decode import parse_tile

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for z, x, y, buf in zip(pdf["z"], pdf["x"], pdf["y"], pdf["tile_pbf"]):
                if buf is None:
                    continue
                for lf in parse_tile(bytes(buf)):
                    rows.append((int(z), int(x), int(y), lf.name,
                                 len(lf.feature_spans), lf.extent, lf.version,
                                 len(lf.keys), len(lf.values)))
            yield pd.DataFrame(rows, columns=["z", "x", "y", "layer",
                                              "n_features", "extent", "version",
                                              "n_keys", "n_values"])

    return tiles.mapInPandas(
        stats, "z int, x bigint, y bigint, layer string, n_features int, "
               "extent int, version int, n_keys int, n_values int")
