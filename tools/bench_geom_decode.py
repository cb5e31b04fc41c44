"""Polygon vertex-decode microbench: the per-feature decode_tile walk
against the columnar kernel (decode.bulk_decode_vertices), the decode twin
of tools/bench_geom_encode.py.

Usage:  python tools/bench_geom_decode.py [seed] [ntiles] [feats_per_tile] [verts]

Builds one seeded two-ring (exterior + hole) polygon sample, encodes it
with the bulk encoder, then times both decoders over the same tiles
(median of repeats, single thread), checks that they return identical
vertex rows, and prints µs/vertex and µs/feature for each. Standalone
numpy benches on this kind of host need the glibc malloc thresholds
pinned, or cold page faults invert the results; the script re-executes
itself with MALLOC_MMAP_THRESHOLD_/MALLOC_TRIM_THRESHOLD_ set when they
are missing.
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

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import vector_tile_go_spark.tilemath as tm  # noqa: E402
from vector_tile_go_spark.codec.decode import (  # noqa: E402
    bulk_decode_vertices, decode_vertices_walk)
from vector_tile_go_spark.codec.encode_fast import (  # noqa: E402
    encode_geom_tiles_bulk, flatten_geom_rows)

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


def median_time(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times))


def main():
    args = [int(a) for a in sys.argv[1:]]
    seed, ntiles, fpt, vpr = args + [7, 300, 20, 32][len(args):]
    bufs, nfeat = sample(seed, ntiles, fpt, vpr)
    walk = decode_vertices_walk(bufs)
    cols, handled = bulk_decode_vertices(bufs)
    assert handled.all(), "kernel handed tiles back to the walk"
    for k, v in walk.items():
        same = v == cols[k] if k == "layer_names" else (
            v.dtype == cols[k].dtype and np.array_equal(v, cols[k]))
        assert same, f"rows differ in {k}"
    nv = len(walk["ix"])
    t_walk = median_time(lambda: decode_vertices_walk(bufs))
    t_kern = median_time(lambda: bulk_decode_vertices(bufs))
    print(f"tiles={len(bufs)} features={nfeat} vertices={nv} "
          f"bytes={sum(map(len, bufs))} rows identical")
    for name, t in (("walk", t_walk), ("kernel", t_kern)):
        print(f"{name:7s} {t:.4f}s  {1e6 * t / nv:.3f} us/vertex  "
              f"{1e6 * t / nfeat:.1f} us/feature")
    print(f"speedup: {t_walk / t_kern:.1f}x")


if __name__ == "__main__":
    main()
