"""The three benchmark workloads.

Each workload builds its Spark inputs from the seed (``load``), computes
its expected outputs independently at set-up (``reference``), and runs one
verified job per ``iterate`` call, recording a span around each call into
an engine layer. ``iterate`` returns (operations attempted, operations
failed); a mismatch counts as failed operations and never aborts the run.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import inputs

# Spark 4 runs ANSI arithmetic: a plain sum of xxhash64 values overflows, so
# every hash is reduced with pmod first (sum of <= 2^31 values stays exact)
HASH_MOD = 2147483647
DECODE_ROUTE_BYTES = 4096  # decode_tile_stats' batch-kernel tile-size limit


def checksum(*cols) -> F.Column:
    return F.sum(F.pmod(F.xxhash64(*cols), F.lit(HASH_MOD)))


def tile_properties(tiles: DataFrame, vertices_per_feature: float) -> dict:
    """Workload-property record of an encoded tile table."""
    r = tiles.agg(
        F.count("*").alias("tiles"),
        F.sum("n_features").alias("features"),
        F.percentile(F.length("tile_pbf"), F.array(F.lit(0.5), F.lit(0.99)))
        .alias("p"),
        F.avg((F.length("tile_pbf") > DECODE_ROUTE_BYTES).cast("double"))
        .alias("big"),
        F.percentile("n_features", 0.5).alias("fpt50")).first()
    return {"tiles": int(r.tiles), "features": int(r.features),
            "tile_bytes_p50": float(r.p[0]), "tile_bytes_p99": float(r.p[1]),
            "share_tiles_over_4096B": float(r.big),
            "features_per_tile_mean": r.features / max(1, r.tiles),
            "features_per_tile_p50": float(r.fpt50),
            "vertices_per_feature": vertices_per_feature}


# spans whose self time is a per-layer metric
CODEC_SPANS = ("text.pages.assign", "sparkops.udfs.encode",
               "store.tilestore.write", "store.tilestore.read",
               "sparkops.udfs.decode")


class Workload:
    name = ""
    # JIT and codegen settle over the first two iterations (point_firehose on
    # a 4-core host: 8.5 s, 5.1 s, then ~3.5 s)
    warmup_iterations = 2
    layer_spans = CODEC_SPANS

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.properties: dict = {}

    def load(self, spark: SparkSession) -> None:
        raise NotImplementedError

    def reference(self, spark: SparkSession) -> None:
        raise NotImplementedError

    def iterate(self, spark: SparkSession, tr, trace_id: str,
                record_properties: bool = False) -> tuple[int, int]:
        raise NotImplementedError

    def cleanup(self, spark: SparkSession) -> None:
        """Drop what the last iteration cached (untimed, between iterations)."""
        for df in getattr(self, "_cached", ()):
            df.unpersist()
        self._cached = ()

    def throughput(self, job_s: float, counts: dict, stage_s: dict) -> dict:
        """Workload-specific end-to-end metrics from the median job time and
        the span counts of the last measured iteration."""
        enc = counts["sparkops.udfs.encode"]
        return {"tiles_per_s": enc["tiles"] / job_s,
                "vertices_per_s": self.n_features * self.vertices_per_feature / job_s,
                "tile_bytes_per_feature": enc["bytes_out"] / enc["features"]}


def amplified_mentions(spark: SparkSession, base: np.ndarray) -> DataFrame:
    """bench.amplified_entities over seeded base documents: replica r of
    doc d becomes doc_id' = d * AMPLIFY + r, and doc_id' carries
    doc_id' % 4 geo mentions (text/geo.py formulas)."""
    from vector_tile_go_spark.text import geo
    k = inputs.AMPLIFY
    n_parts = spark.sparkContext.defaultParallelism * 2
    d = spark.createDataFrame(pd.DataFrame({"doc_id": base})).repartition(n_parts)
    amp = (d.withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
           .select((F.col("doc_id") * k + F.col("r")).alias("doc_id")))
    j = (amp.withColumn("mention_idx", F.explode(F.sequence(F.lit(0), F.lit(2))))
         .filter(F.col("mention_idx") < F.col("doc_id") % 4))
    return j.select(
        "doc_id", "mention_idx",
        (geo.lat_udeg_col(F.col("doc_id"), F.col("mention_idx")) / 1e6).alias("lat"),
        (geo.lng_udeg_col(F.col("doc_id"), F.col("mention_idx")) / 1e6).alias("lng"),
        F.concat(F.lit("https://www.ex.org/doc/"),
                 F.col("doc_id").cast("string")).alias("url"))


# --------------------------------------------------------------------------
# point_firehose
# --------------------------------------------------------------------------

def point_tile_failures(expected: DataFrame, tiles: DataFrame, back: DataFrame,
                        stats: DataFrame) -> int:
    """Tiles that fail either check: decoded (n_features, n_urls) against the
    expected per-tile counts, or the bytes read back from the store against
    the bytes encoded. Each bad tile counts once."""
    keys = ["z", "x", "y"]
    dec = stats.select(*keys, F.col("n_features").alias("got_n"),
                       F.col("n_urls").alias("got_u"))
    bad_counts = (expected.join(dec, keys, "full_outer")
                  .filter(~F.col("n").eqNullSafe(F.col("got_n"))
                          | ~F.col("nu").eqNullSafe(F.col("got_u")))
                  .select(*keys))
    bad_bytes = (tiles.select(*keys, F.col("tile_pbf").alias("a"))
                 .join(back.select(*keys, F.col("tile_pbf").alias("b")),
                       keys, "full_outer")
                 .filter(~F.col("a").eqNullSafe(F.col("b")))
                 .select(*keys))
    return bad_counts.union(bad_bytes).distinct().count()


class PointFirehose(Workload):
    """Web-page mentions -> z8 tiles -> encode -> tile store -> decode."""
    name = "point_firehose"
    base_docs = 400
    vertices_per_feature = 1

    def load(self, spark):
        base = inputs.base_doc_ids(self.seed, self.base_docs)
        self.mentions = amplified_mentions(spark, base).persist()
        self.n_features = self.mentions.count()
        self.store = os.path.join(self.work, "tilestore")

    def reference(self, spark):
        from vector_tile_go_spark.text.pages import assign_tiles
        exp = (assign_tiles(self.mentions, inputs.POINT_ZOOM)
               .groupBy("z", "x", "y")
               .agg(F.count("*").alias("n"),
                    F.countDistinct("url").alias("nu"))).persist()
        r = exp.agg(F.count("*").alias("t"), F.sum("n").alias("f"),
                    checksum("z", "x", "y", "n", "nu").alias("c")).first()
        self.expected = exp
        self.ref = (int(r.t), int(r.f), int(r.c))
        self.operations = int(r.t)

    def iterate(self, spark, tr, trace_id, record_properties=False):
        from vector_tile_go_spark.sparkops.udfs import (decode_tile_stats,
                                                        encode_point_tiles)
        from vector_tile_go_spark.store.tilestore import read_tiles, write_tiles
        from vector_tile_go_spark.text.pages import assign_tiles
        with tr.span("iteration", trace_id):
            with tr.span("text.pages.assign") as c:
                ents = assign_tiles(self.mentions, inputs.POINT_ZOOM).persist()
                c["rows"] = ents.count()
            with tr.span("sparkops.udfs.encode") as c:
                tiles = encode_point_tiles(ents, layer_name="geo",
                                           prop_cols=("url", "mention_idx")).persist()
                r = tiles.agg(F.count("*").alias("t"),
                              F.sum("n_features").alias("f"),
                              F.sum(F.length("tile_pbf")).alias("b"),
                              checksum("z", "x", "y", "tile_pbf").alias("c")).first()
                c.update(tiles=int(r.t), features=int(r.f), bytes_out=int(r.b))
            if record_properties:
                self.properties = tile_properties(tiles, 1.0)
            with tr.span("store.tilestore.write") as c:
                shutil.rmtree(self.store, ignore_errors=True)
                write_tiles(tiles, self.store)
                c["bytes_written"] = dir_bytes(self.store)
            with tr.span("store.tilestore.read") as c:
                back = read_tiles(spark, self.store).persist()
                rb = back.agg(F.count("*").alias("t"),
                              checksum("z", "x", "y", "tile_pbf").alias("c")).first()
                c["tiles"] = int(rb.t)
            with tr.span("sparkops.udfs.decode") as c:
                stats = decode_tile_stats(back, quarantine=True)
                rd = stats.agg(F.count("*").alias("t"),
                               F.sum("n_features").alias("f"),
                               checksum("z", "x", "y", "n_features", "n_urls")
                               .alias("c"),
                               F.count("error").alias("e")).first()
                c["rows_out"] = int(rd.t)
            with tr.span("perfbench.verify"):
                got = (int(rd.t), int(rd.f or 0), int(rd.c or 0))
                ok = (got == self.ref and int(rd.e) == 0 and rb.t == r.t
                      and rb.c == r.c)
                failed = 0 if ok else max(1, point_tile_failures(
                    self.expected, tiles, back, stats))
        self._cached = (ents, tiles, back)
        return self.operations, min(failed, self.operations)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# --------------------------------------------------------------------------
# polygon_tiles
# --------------------------------------------------------------------------

class PolygonTiles(Workload):
    """Two-ring building footprints -> z10 tiles -> bulk geometry encode ->
    vertex decode -> JVM aggregate."""
    name = "polygon_tiles"
    n_polygons = 6000
    vertices_per_feature = 2 * inputs.RING_VERTICES

    def load(self, spark):
        p = inputs.polygons(self.seed, self.n_polygons)
        self.gen = p
        pdf = pd.DataFrame({"feature_id": p["feature_id"], "x": p["x"],
                            "y": p["y"], "cx": p["cx"], "cy": p["cy"],
                            "r": p["r"], "levels": p["levels"]})
        step = 2.0 * np.pi / inputs.RING_VERTICES

        def ring(scale: float) -> F.Column:
            lat_r = F.col("r") * F.cos(F.radians("cy"))
            return F.transform(
                F.sequence(F.lit(0), F.lit(inputs.RING_VERTICES - 1)),
                lambda i: F.array(
                    F.col("cx") + scale * F.col("r") * F.cos(i * step),
                    F.col("cy") + scale * lat_r * F.sin(i * step)))

        n_parts = spark.sparkContext.defaultParallelism * 2
        self.polys = (spark.createDataFrame(pdf).repartition(n_parts)
                      .select(F.lit(inputs.POLYGON_ZOOM).alias("z"), "x", "y",
                              "feature_id",
                              F.array(ring(1.0), ring(0.4)).alias("coords"),
                              F.create_map(
                                  F.lit("kind"), F.lit("building"),
                                  F.lit("levels"), F.col("levels").cast("string"),
                                  F.lit("name"), F.concat(
                                      F.lit("b"), F.col("feature_id").cast("string")))
                              .alias("props"))
                      .persist())
        self.n_features = self.polys.count()

    def reference(self, spark):
        # the generator's counts: every ring gains one closing vertex
        per_feature = 2 * (inputs.RING_VERTICES + 1)
        t = (pd.DataFrame({"x": self.gen["x"], "y": self.gen["y"]})
             .groupby(["x", "y"]).size().reset_index(name="nf"))
        t["z"] = inputs.POLYGON_ZOOM
        t["nv"] = t["nf"] * per_feature
        exp = spark.createDataFrame(t[["z", "x", "y", "nv", "nf"]]).select(
            F.col("z").cast("int"), "x", "y", "nv", "nf").persist()
        r = exp.agg(checksum("z", "x", "y", "nv", "nf").alias("c")).first()
        self.expected = exp
        self.ref = (len(t), int(t["nv"].sum()), self.n_features, int(r.c))
        self.operations = len(t)

    def iterate(self, spark, tr, trace_id, record_properties=False):
        from vector_tile_go_spark.sparkops.udfs import (decode_tile_vertices,
                                                        encode_geojson_tiles)
        with tr.span("iteration", trace_id):
            with tr.span("sparkops.udfs.encode") as c:
                tiles = encode_geojson_tiles(self.polys, "Polygon",
                                             layer_name="buildings").persist()
                r = tiles.agg(F.count("*").alias("t"),
                              F.sum("n_features").alias("f"),
                              F.sum(F.length("tile_pbf")).alias("b")).first()
                c.update(tiles=int(r.t), features=int(r.f), bytes_out=int(r.b))
            if record_properties:
                self.properties = tile_properties(
                    tiles, 2.0 * (inputs.RING_VERTICES + 1))
            with tr.span("sparkops.udfs.decode") as c:
                per_tile = (decode_tile_vertices(tiles)
                            .groupBy("z", "x", "y")
                            .agg(F.count("*").alias("nv"),
                                 F.countDistinct("feature_id").alias("nf")))
                rd = per_tile.agg(F.count("*").alias("t"),
                                  F.sum("nv").alias("v"), F.sum("nf").alias("f"),
                                  checksum("z", "x", "y", "nv", "nf").alias("c")
                                  ).first()
                c["rows_out"] = int(rd.v or 0)
            with tr.span("perfbench.verify"):
                got = (int(rd.t), int(rd.v or 0), int(rd.f or 0), int(rd.c or 0))
                failed = 0
                if got != self.ref:
                    keys = ["z", "x", "y"]
                    failed = max(1, self.expected.join(
                        per_tile.select(*keys, F.col("nv").alias("gv"),
                                        F.col("nf").alias("gf")),
                        keys, "full_outer")
                        .filter(~F.col("nv").eqNullSafe(F.col("gv"))
                                | ~F.col("nf").eqNullSafe(F.col("gf"))).count())
        self._cached = (tiles,)
        return self.operations, min(failed, self.operations)


# --------------------------------------------------------------------------
# join_dedup
# --------------------------------------------------------------------------

QUERY_SPANS = {"pip_join": "spatial.pip.pip_join", "knn": "spatial.knn.knn_join",
               "minhash_lsh": "text.dedup.minhash_lsh",
               "simhash": "text.dedup.simhash"}
QUERIES = tuple(QUERY_SPANS)


def normalize_rows(rows, float_cols=()) -> list[tuple]:
    """Sorted tuples; float columns rounded to 12 significant digits."""
    out = []
    for r in rows:
        r = list(r)
        for i in float_cols:
            r[i] = float(f"{float(r[i]):.12g}")
        out.append(tuple(int(v) if isinstance(v, (int, np.integer)) else v
                         for v in r))
    return sorted(out)


class JoinDedup(Workload):
    """Spatial joins over the amplified entities and near-duplicate
    detection over the documents: JVM-bound, no MVT codec."""
    name = "join_dedup"
    warmup_iterations = 1
    layer_spans = CODEC_SPANS + tuple(QUERY_SPANS.values())
    base_docs = 500
    n_docs = 2000

    def load(self, spark):
        d = os.path.join(self.work, "inputs")
        os.makedirs(d, exist_ok=True)
        self.inputs_dir = d
        base = inputs.base_doc_ids(self.seed, self.base_docs)
        self.amplified = inputs.amplified_doc_ids(base)
        pd.DataFrame({"n_nationkey": inputs.nation_keys(self.seed)}).to_parquet(
            os.path.join(d, "nation.parquet"), index=False)
        self.docs_pdf = inputs.documents(self.seed, self.n_docs)
        self.docs_pdf.to_parquet(os.path.join(d, "documents.parquet"), index=False)
        ents_path = os.path.join(d, "entities.parquet")
        (amplified_mentions(spark, base)
         .select("lat", "lng", "doc_id", "mention_idx")
         .write.mode("overwrite").parquet(ents_path))
        from vector_tile_go_spark.spatial.polygons import (query_points,
                                                           triangles_df)
        self.ents = spark.read.parquet(ents_path)
        self.tri = triangles_df(spark, d)
        self.qpts = query_points(spark, d)
        self.docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        self.n_features = self.ents.count() + self.docs.count()
        self.operations = len(QUERIES)

    def reference(self, spark):
        """DuckDB oracle SQL from queries.oracle_queries() over the same
        inputs: the amplified doc ids stand in for ``documents`` in the
        spatial queries, the generated texts in the dedup ones."""
        import duckdb

        from vector_tile_go_spark.queries import oracle_queries
        sql = oracle_queries()
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        con.register("nation", pd.read_parquet(
            os.path.join(self.inputs_dir, "nation.parquet")))
        amp = pd.DataFrame({"doc_id": self.amplified})
        con.register("documents", amp)
        ref = {"pip_join": normalize_rows(con.execute(sql["pip_join"]).fetchall()),
               "knn": normalize_rows(con.execute(sql["knn"]).fetchall(), (4,))}
        con.unregister("documents")
        con.register("documents", self.docs_pdf)
        ref["minhash_lsh"] = normalize_rows(con.execute(sql["minhash_lsh"]).fetchall())
        ref["simhash"] = normalize_rows(con.execute(sql["simhash_pairs"]).fetchall())
        con.close()
        self.ref = ref
        self.result_sizes = {k: len(v) for k, v in ref.items()}

    def run_queries(self, tr) -> dict[str, list]:
        from vector_tile_go_spark.spatial.knn import knn_join
        from vector_tile_go_spark.spatial.pip import pip_join
        from vector_tile_go_spark.text.dedup import minhash_lsh_pairs, simhash_pairs
        got = {}
        with tr.span("spatial.pip.pip_join") as c:
            got["pip_join"] = (pip_join(self.ents, self.tri,
                                        point_cols=("doc_id", "mention_idx"))
                               .groupBy("n_nationkey")
                               .agg(F.count("*").alias("n_inside"),
                                    F.countDistinct("doc_id").alias("n_docs"))
                               .collect())
            c["rows_out"] = len(got["pip_join"])
        with tr.span("spatial.knn.knn_join") as c:
            got["knn"] = (knn_join(self.qpts, self.ents, k=5)
                          .select("qid", "rank", "doc_id",
                                  F.col("mention_idx").alias("j"), "dist2")
                          .collect())
            c["rows_out"] = len(got["knn"])
        with tr.span("text.dedup.minhash_lsh") as c:
            got["minhash_lsh"] = (minhash_lsh_pairs(self.docs, threshold=0.3)
                                  .select("da", "db", "n_common", "n_union")
                                  .collect())
            c["rows_out"] = len(got["minhash_lsh"])
        with tr.span("text.dedup.simhash") as c:
            got["simhash"] = (simhash_pairs(self.docs, max_hamming=3)
                              .select("da", "db", "hamming").collect())
            c["rows_out"] = len(got["simhash"])
        return got

    def iterate(self, spark, tr, trace_id, record_properties=False):
        with tr.span("iteration", trace_id):
            got = self.run_queries(tr)
            with tr.span("perfbench.verify"):
                failed = sum(
                    normalize_rows(got[q], (4,) if q == "knn" else ()) != self.ref[q]
                    for q in QUERIES)
        if record_properties:
            words = self.docs_pdf["text"].str.count(" ") + 1
            self.properties = {
                "points": int(self.n_features - len(self.docs_pdf)),
                "documents": len(self.docs_pdf),
                "polygons": int(inputs.nation_keys(self.seed).size),
                "words_per_document_mean": float(words.mean()),
                "result_rows": self.result_sizes}
        return self.operations, failed

    def throughput(self, job_s, counts, stage_s):
        return {f"query_s.{q}": stage_s[s]["median"] for q, s in QUERY_SPANS.items()}

    def cleanup(self, spark):
        # minhash/simhash cache their intermediates; Spark shares cache
        # entries by plan, so a leftover would speed up the next iteration
        spark.catalog.clearCache()


WORKLOADS = {w.name: w for w in (PointFirehose, PolygonTiles, JoinDedup)}
