"""Tests of the benchmark itself (not of the engine).

    python -m pytest perfbench/tests -q

Run from the repository root; the Spark test starts a local[2] session.
"""

import hashlib
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import eventlog  # noqa: E402
import inputs  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


def all_inputs(seed):
    base = inputs.base_doc_ids(seed, 200)
    d, j, lat, lng = inputs.mention_arrays(inputs.amplified_doc_ids(base))
    p = inputs.polygons(seed, 500)
    return {"base": base, "mentions": (d, j, lat, lng),
            "docs": inputs.documents(seed, 300), "nation": inputs.nation_keys(seed),
            "polygons": tuple(p[k] for k in sorted(p))}


def digest(*arrays) -> str:
    h = hashlib.sha256()
    for a in arrays:
        if isinstance(a, pd.DataFrame):
            for c in a.columns:
                h.update(pd.util.hash_pandas_object(a[c], index=False).values.tobytes())
        else:
            h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()


def digests(seed):
    return {k: digest(*(v if isinstance(v, tuple) else (v,)))
            for k, v in all_inputs(seed).items()}


def test_same_seed_same_inputs():
    assert digests(7) == digests(7)


def test_other_seed_other_inputs_same_sizes():
    a, b = all_inputs(7), all_inputs(8)
    da, db = digests(7), digests(8)
    for k in da:
        assert da[k] != db[k], k
    assert len(a["base"]) == len(b["base"])
    assert len(a["docs"]) == len(b["docs"])
    assert len(a["nation"]) == len(b["nation"])
    assert [len(x) for x in a["polygons"]] == [len(x) for x in b["polygons"]]
    # mention count follows doc_id % 4, so it moves with the seed but stays
    # near 1.5 per amplified document
    for m in (a["mentions"], b["mentions"]):
        assert abs(len(m[0]) / (200 * inputs.AMPLIFY) - 1.5) < 0.1


def test_polygons_stay_inside_their_tile():
    import vector_tile_go_spark.tilemath as tm
    p = inputs.polygons(3, 400)
    rings = inputs.polygon_rings(p["cx"], p["cy"], p["r"])
    w, s, e, n = tm.tile_bounds(inputs.POLYGON_ZOOM, p["x"], p["y"])
    assert (rings[..., 0].min(axis=(1, 2)) > w).all()
    assert (rings[..., 0].max(axis=(1, 2)) < e).all()
    assert (rings[..., 1].min(axis=(1, 2)) > s).all()
    assert (rings[..., 1].max(axis=(1, 2)) < n).all()


def test_eventlog_parser_on_recorded_log():
    files = eventlog.event_files(os.path.join(HERE, "data"))
    assert [os.path.basename(f) for f in files] == ["events_1_local-1"]
    groups = eventlog.per_group(eventlog.read_events(files))
    s1, s2 = groups["s1"], groups["s2"]
    assert (s1["jobs"], s1["tasks"]) == (2, 5)
    assert (s2["jobs"], s2["tasks"]) == (2, 3)
    assert s1["python_bytes_in"] == 41984
    assert s1["python_bytes_out"] == 40704
    assert s1["python_run_s"] == pytest.approx(4.159)
    assert s1["python_init_s"] == pytest.approx(2.611 + 1.719)
    assert s1["executor_cpu_s"] == pytest.approx((808673426 + 81627700) / 1e9)
    assert s1["task_run_s"] == pytest.approx(5.002)
    assert s1["gc_s"] == pytest.approx(0.111)
    assert s1["shuffle_write_bytes"] == 1137
    assert s2["shuffle_write_bytes"] == 118
    assert s2["python_bytes_in"] == 0
    assert len(s1["intervals"]) == 2

    # attribute: a parent span over both groups' jobs, children per group
    (a0, _), (_, b1) = sorted(s1["intervals"])[0], sorted(s2["intervals"])[-1]
    root = {"id": "r", "name": "iteration", "parent": None,
            "start": a0 / 1e3 - 1.0, "end": b1 / 1e3, "dur": b1 / 1e3 - a0 / 1e3 + 1.0}
    kids = [{"id": g, "name": g, "parent": "r", "start": root["start"],
             "end": root["end"], "dur": root["dur"]} for g in ("s1", "s2")]
    sp = [root, *kids]
    attr = eventlog.attribute(sp, groups, spans.descendants(sp))
    assert attr["s1"]["python_bytes_in"] == 41984
    assert attr["r"]["python_bytes_in"] == 0
    # the root's first second runs no job
    assert attr["r"]["unattributed_share"] >= 1.0 / root["dur"] - 1e-9


def test_covered_ms_unions_overlaps():
    assert eventlog.covered_ms([(0, 10), (5, 20), (30, 40)]) == 30
    assert eventlog.covered_ms([]) == 0


def test_self_times():
    sp = [{"id": "a", "parent": None, "dur": 5.0},
          {"id": "b", "parent": "a", "dur": 2.0},
          {"id": "c", "parent": "a", "dur": 1.5},
          {"id": "d", "parent": "b", "dur": 0.5}]
    st = spans.self_times(sp)
    assert st == {"a": 1.5, "b": 1.5, "c": 1.5, "d": 0.5}


def test_benchmark_json_units_match_emitted_units():
    import json

    from worker import unit_of
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert unit_of(m["name"]) == m["unit"], m["name"]


def test_tail_percentile():
    assert stats.tail_percentile(10) is None
    assert stats.tail_percentile(20) == 50
    assert stats.tail_percentile(100) == 90
    s = stats.summary(list(range(1, 21)))
    assert s["n"] == 20 and s["median"] == 10.5 and s["tail_pct"] == 50


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from vector_tile_go_spark.session import get_spark
    s = get_spark("perfbench-tests", cores=2, shuffle_partitions=4)
    yield s


def test_checker_counts_flipped_tile_byte(spark):
    """One flipped byte in one tile read back from the store is one failed
    operation; the untouched round trip has none."""
    from pyspark.sql import functions as F

    from vector_tile_go_spark.sparkops.udfs import (decode_tile_stats,
                                                    encode_point_tiles)
    from vector_tile_go_spark.text.pages import assign_tiles

    import workloads
    mentions = workloads.amplified_mentions(
        spark, inputs.base_doc_ids(5, 4)).persist()
    expected = (assign_tiles(mentions, inputs.POINT_ZOOM)
                .groupBy("z", "x", "y")
                .agg(F.count("*").alias("n"), F.countDistinct("url").alias("nu")))
    tiles = encode_point_tiles(assign_tiles(mentions, inputs.POINT_ZOOM),
                               layer_name="geo",
                               prop_cols=("url", "mention_idx")).persist()
    rows = sorted(tiles.collect(), key=lambda r: (r.x, r.y))
    assert len(rows) > 10

    def failures(back_rows):
        back = spark.createDataFrame(back_rows, tiles.schema)
        return workloads.point_tile_failures(
            expected, tiles, back, decode_tile_stats(back, quarantine=True))

    assert failures(rows) == 0
    victim = max(range(len(rows)), key=lambda i: len(rows[i].tile_pbf))
    buf = bytearray(rows[victim].tile_pbf)
    buf[len(buf) // 2] ^= 0x01
    flipped = [r.asDict() for r in rows]
    flipped[victim]["tile_pbf"] = bytes(buf)
    assert failures(flipped) == 1
