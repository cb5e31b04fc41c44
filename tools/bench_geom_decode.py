"""Decode microbench: the per-feature decode_tile walk against the
columnar feature-table kernel (decode.bulk_feature_table), the decode twin
of tools/bench_geom_encode.py.

Usage:  python tools/bench_geom_decode.py [seed] [ntiles] [feats_per_tile] [verts]

Two samples, both encoded with the bulk encoders:

- one seeded two-ring (exterior + hole) polygon sample: µs/vertex and
  µs/feature;
- the z8 point tiles of the repo benchmark's kernel sample
  (perfbench/kernels.py point_sample, same seed): µs/feature. This is the
  shape decode_tiles and decode_tile_point_agg project, which no benchmark
  workload runs.

Each sample is timed for both decoders over the same tiles (median of
repeats, single thread), after a check that they return identical rows.

A third section times decode_tile_stats' two routes on uniform point tiles
of growing size — bulk_point_tile_stats against the feature table plus its
count/distinct — the measurement behind the 4 KB tile-size cap in
sparkops/udfs.py.
Standalone numpy benches on this kind of host need the glibc malloc
thresholds pinned, or cold page faults invert the results; the script
re-executes itself with MALLOC_MMAP_THRESHOLD_/MALLOC_TRIM_THRESHOLD_ set
when they are missing.
"""
import os
import sys
import time

_PIN = {"MALLOC_MMAP_THRESHOLD_": "268435456",
        "MALLOC_TRIM_THRESHOLD_": "268435456"}
if any(os.environ.get(k) != v for k, v in _PIN.items()):
    os.execve(sys.executable, [sys.executable, *sys.argv],
              {**os.environ, **_PIN})

import numpy as np  # noqa: E402

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import vector_tile_go_spark.tilemath as tm  # noqa: E402
from vector_tile_go_spark.codec.decode import (  # noqa: E402
    bulk_feature_table, bulk_point_tile_stats, feature_table,
    feature_table_walk, prop_index, vertex_rows)
from vector_tile_go_spark.codec.encode_fast import (  # noqa: E402
    encode_geom_tiles_bulk, encode_point_tiles_bulk, flatten_geom_rows)

REPEATS = 7


def sample(seed: int, ntiles: int, fpt: int, vpr: int):
    rng = np.random.default_rng(seed)
    z = 10
    rows, ids, xs, ys, starts, ends = [], [], [], [], [], []
    for _ in range(ntiles):
        tx, ty = int(rng.integers(0, 1024)), int(rng.integers(200, 800))
        w, s, e, n = tm.tile_bounds(z, tx, ty)
        starts.append(len(rows))
        ang = np.linspace(0, 2 * np.pi, vpr, endpoint=False)
        for i in range(fpt):
            cx = w + rng.random() * (e - w)
            cy = s + rng.random() * (n - s)
            r = (e - w) * 0.03
            rows.append([np.stack([cx + r * np.cos(ang),
                                   cy + r * np.sin(ang)], 1).tolist(),
                         np.stack([cx + .4 * r * np.cos(ang),
                                   cy + .4 * r * np.sin(ang)], 1).tolist()])
            ids.append(i + 1)
            xs.append(tx)
            ys.append(ty)
        ends.append(len(rows))
    props = {"kind": np.array(["building"] * len(rows), dtype=object)}
    bufs, _ = encode_geom_tiles_bulk(
        np.full(len(rows), z), np.array(xs), np.array(ys), np.array(ids),
        props, starts, ends, "buildings", "Polygon",
        *flatten_geom_rows("Polygon", rows))
    return bufs, len(rows)


def point_sample(seed: int):
    import inputs
    import kernels
    pt = kernels.point_sample(seed)
    bufs = encode_point_tiles_bulk(
        inputs.POINT_ZOOM, pt["x"], pt["y"], pt["lng"], pt["lat"], pt["ids"],
        {"url": pt["url"], "mention_idx": pt["mention_idx"]},
        pt["starts"], pt["ends"], "geo")
    return bufs, len(pt["ids"])


def median_time(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times))


def rows(table) -> dict:
    """Vertex rows plus each feature's (key, value) list, comparable
    across the two decoders (their dictionaries are laid out differently)."""
    out = vertex_rows(table)
    off = np.concatenate([[0], np.cumsum(table["n_tags"])])
    out["props"] = [[(table["keys"][table["tag_key"][j]],
                      table["values"][table["tag_val"][j]])
                     for j in range(off[i], off[i + 1])]
                    for i in range(len(table["tile"]))]
    return out


def bench(name: str, bufs, nfeat: int):
    walk = rows(feature_table_walk(bufs))
    table, handled = bulk_feature_table(bufs)
    assert handled.all(), "kernel handed tiles back to the walk"
    kern = rows(table)
    for k, v in walk.items():
        same = v == kern[k] if isinstance(v, list) else (
            v.dtype == kern[k].dtype and np.array_equal(v, kern[k]))
        assert same, f"{name}: rows differ in {k}"
    nv = len(walk["ix"])
    t_walk = median_time(lambda: feature_table_walk(bufs))
    t_kern = median_time(lambda: bulk_feature_table(bufs))
    print(f"{name}: tiles={len(bufs)} features={nfeat} vertices={nv} "
          f"bytes={sum(map(len, bufs))} rows identical")
    for label, t in (("walk", t_walk), ("kernel", t_kern)):
        print(f"  {label:7s} {t:.4f}s  {1e6 * t / nv:.3f} us/vertex  "
              f"{1e6 * t / nfeat:.1f} us/feature")
    print(f"  speedup: {t_walk / t_kern:.1f}x")


def stats_routes(seed: int):
    """µs/feature of decode_tile_stats' kernel and feature-table routes on
    uniform z8 point tiles, each route fed one ~256 KB chunk at a time."""
    rng = np.random.default_rng(seed)
    print("decode_tile_stats routes, uniform point tiles:")
    for fpt in (1, 8, 32, 64, 80, 128, 256, 1024):
        nt = max(2000 // fpt, 8)
        tx = np.repeat(rng.integers(0, 256, nt), fpt)
        ty = np.repeat(rng.integers(60, 190, nt), fpt)
        w, s, e, n = (np.array(b) for b in zip(*(tm.tile_bounds(8, x, y)
                                                 for x, y in zip(tx, ty))))
        k = nt * fpt
        starts = np.arange(nt) * fpt
        bufs = encode_point_tiles_bulk(
            8, tx, ty, w + rng.random(k) * (e - w), s + rng.random(k) * (n - s),
            np.arange(1, k + 1),
            {"url": np.array([f"https://s{i % 97}.example/p{i % 1013}"
                              for i in range(k)], object),
             "mention_idx": np.array([str(i % 7) for i in range(k)], object)},
            starts, starts + fpt, "geo")
        per = max(1, (1 << 18) // len(bufs[0]))
        chunks = [bufs[i:i + per] for i in range(0, nt, per)]

        def kernel():
            for c in chunks:
                assert bulk_point_tile_stats(c, "url")[2].all()

        def table():
            for c in chunks:
                prop_index(feature_table(c, "props"), "url")

        tk, tt = median_time(kernel), median_time(table)
        print(f"  {len(bufs[0]):6d} B/tile  kernel {1e6 * tk / k:6.2f}  "
              f"table {1e6 * tt / k:6.2f} us/feature")


def main():
    args = [int(a) for a in sys.argv[1:]]
    seed, ntiles, fpt, vpr = args + [7, 300, 20, 32][len(args):]
    bench("polygons", *sample(seed, ntiles, fpt, vpr))
    bench("points", *point_sample(seed))
    stats_routes(seed)


if __name__ == "__main__":
    main()
