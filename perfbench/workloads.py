"""The three benchmark workloads: the timed job, its output check and the
traced per-layer run.

Every job reads generated files from disk and writes under a fresh
output directory. ``check`` returns a list of problems (empty when the
output is right). ``trace`` runs the job once whole, then each layer's
public entry point on its own with the output materialized (persist +
count, or the layer's own write) so that time lands on the layer that did
the work, closes the tracer and returns the per-layer metrics.
"""

from __future__ import annotations

import gzip
import os

import numpy as np
import pyarrow.parquet as pq

N_BUCKETS = 16          # validate stage buckets (jobs/run_pipeline.py)
# one wave of all 16 buckets; run_pipeline.py's default is four waves of
# four, whose fixed Spark cost (~2 s a wave) would not fit the run budget
BUCKETS_PER_WAVE = 16
IMG_RES, IMG_ZOOM = 7, 7
PT_RES, PT_ZOOM = 10, 12
MVT_RES = 3


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's ``.crc`` and marker
    files are not data."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            if not n.startswith((".", "_")):
                files += 1
    return files, size


def _count_lines(path: str) -> int:
    n = 0
    for name in sorted(os.listdir(path)):
        if name.startswith("part-"):
            with gzip.open(os.path.join(path, name), "rb") as f:
                n += sum(1 for _ in f)
    return n


def _read_polygons(path: str) -> list[tuple]:
    """[(poly_id, outer, [holes])] as closed (N, 2) float arrays."""
    out = []
    for r in pq.read_table(path).to_pylist():
        ring = lambda pts: np.asarray([[p["lon"], p["lat"]] for p in pts])  # noqa: E731
        out.append((r["poly_id"], ring(r["ring"]), [ring(h) for h in r["holes"] or []]))
    return out


def _np_hits(px: np.ndarray, py: np.ndarray, outer: np.ndarray,
             holes: list[np.ndarray]) -> int:
    """Points inside ``outer`` and outside every hole, by the Spark-free
    even-odd ray cast of ``pyref``."""
    from osm2geojson_spark.pyref import _pip_many_np

    m = ((px >= outer[:, 0].min()) & (px <= outer[:, 0].max())
         & (py >= outer[:, 1].min()) & (py <= outer[:, 1].max()))
    x, y = px[m], py[m]
    inside = _pip_many_np(x, y, outer)
    for h in holes:
        inside &= ~_pip_many_np(x, y, h)
    return int(inside.sum())


def _compare(name: str, got, want, errs: list[str]) -> None:
    if got != want:
        errs.append(f"{name}: got {got}, want {want}")


def _candidates(points, polygons, res: int) -> int:
    """(point, polygon) pairs that share a cover cell — what the PIP
    residual has to test. Counted outside every span."""
    from pyspark.sql import functions as F

    from osm2geojson_spark.functions.cells import cell_expr
    from osm2geojson_spark.spatial.pip import polygon_cover_cells

    cover = polygons.select(
        F.explode(polygon_cover_cells(F.col("ring"), res)).alias("cell"))
    cells = points.select(cell_expr(F.col("lon"), F.col("lat"), res).alias("cell"))
    return cells.join(cover, "cell").count()


# ------------------------------------------------------------------ osm
class OsmPlanet:
    name = "osm_planet"
    STREAMS = ("pois", "ways", "relations")

    def job(self, spark, meta: dict, out: str):
        from osm2geojson_spark.pipeline import osm_to_geojson

        return osm_to_geojson(spark, meta["path"], out, distributed=True)

    def check(self, spark, meta: dict, out: str, res) -> list[str]:
        exp, errs = meta["expect"], []
        for s in self.STREAMS:
            _compare(s, _count_lines(os.path.join(out, f"osm-{s}.gz")), exp[s], errs)
        _compare("quarantine", res["quarantine"].count(), exp["quarantine"], errs)
        return errs

    def trace(self, spark, meta: dict, out: str, tr) -> tuple[dict, list[str]]:
        from osm2geojson_spark.operators.osm_join import assemble_relations, assemble_ways
        from osm2geojson_spark.operators.postprocess import (
            node_features, relation_features, way_features)
        from osm2geojson_spark.sources.kv_text import write_jsonlines
        from osm2geojson_spark.sources.osm_xml import (
            parse_osm_blobs, read_osm_blobs_distributed)

        whole = os.path.join(out, "whole")
        with tr.span("job"):
            with tr.span("pipeline.osm_to_geojson"):
                res = self.job(spark, meta, whole)
        errs = self.check(spark, meta, whole, res)
        spark.catalog.clearCache()

        with tr.span("layers"):
            with tr.span("sources.osm_xml.read") as c:
                blobs = read_osm_blobs_distributed(spark, meta["path"]).persist()
                c["blobs"] = blobs.count()
            with tr.span("sources.osm_xml.parse") as c:
                tabs = {k: v.persist() for k, v in parse_osm_blobs(blobs).items()}
                for k, v in tabs.items():
                    c[k] = v.count()
            with tr.span("operators.osm_join.assemble_ways") as c:
                ways = assemble_ways(tabs["nodes"], tabs["ways"]).persist()
                c["ways"] = ways.count()
            with tr.span("operators.osm_join.assemble_relations") as c:
                rels = assemble_relations(tabs["nodes"], tabs["relations"], ways).persist()
                c["relations"] = rels.count()
            with tr.span("operators.postprocess.features") as c:
                feats = {"pois": node_features(tabs["nodes"]),
                         "ways": way_features(ways),
                         "relations": relation_features(rels)}
                feats = {k: v.persist() for k, v in feats.items()}
                for k, v in feats.items():
                    c[k] = v.count()
            sink = os.path.join(out, "layers")
            with tr.span("sources.kv_text.write") as c:
                for k, v in feats.items():
                    write_jsonlines(v, os.path.join(sink, f"osm-{k}.gz"))
                c["bytes"] = dir_stats(sink)[1]

        tr.finish()
        parse = tr.get("sources.osm_xml.parse")["counts"]
        feat = tr.get("operators.postprocess.features")["counts"]
        exp = meta["expect"]
        entities = parse["nodes"] + parse["ways"] + parse["relations"]
        _compare("layers.entities", entities, exp["entities"], errs)
        _compare("layers.quarantine", parse["quarantine"], exp["quarantine"], errs)
        for s in self.STREAMS:
            _compare(f"layers.{s}", feat[s], exp[s], errs)
        read, whole_call = tr.get("sources.osm_xml.read"), tr.get("pipeline.osm_to_geojson")
        m = {
            "sources.osm_xml.read_s": read["dur_s"],
            "sources.osm_xml.read_tasks": read["max_stage_tasks"],
            "sources.osm_xml.read_cpu_util": read["cpu_util"],
            "sources.osm_xml.parse_s": tr.get("sources.osm_xml.parse")["dur_s"],
            "sources.osm_xml.entities": entities,
            "sources.osm_xml.quarantined": parse["quarantine"],
            "pipeline.osm_to_geojson.stages": whole_call["stages"],
            "pipeline.osm_to_geojson.tasks": whole_call["tasks"],
            "operators.osm_join.assemble_ways_s":
                tr.get("operators.osm_join.assemble_ways")["dur_s"],
            "operators.osm_join.assemble_relations_s":
                tr.get("operators.osm_join.assemble_relations")["dur_s"],
            "operators.postprocess.features_s":
                tr.get("operators.postprocess.features")["dur_s"],
            "operators.postprocess.features_per_entity":
                sum(feat.values()) / max(1, entities),
            "sources.kv_text.write_s": tr.get("sources.kv_text.write")["dur_s"],
            "sources.kv_text.bytes": tr.get("sources.kv_text.write")["counts"]["bytes"],
        }
        return m, errs


# ------------------------------------------------------------------ tiles
def _rollup(hits, zoom: int, id_col: str, n_col: str):
    from pyspark.sql import functions as F

    from osm2geojson_spark.spatial.tiles import assign_tiles

    return assign_tiles(hits, zoom=zoom).groupBy("poly_id", "tile_id").agg(
        F.count("*").alias(n_col), F.min(id_col).alias(f"first_{id_col}"))


def _check_hits(path: str, n_col: str, want: dict, errs: list[str]) -> None:
    """Per-polygon totals of a rollup against numpy hit counts."""
    roll = pq.read_table(path, columns=["poly_id", n_col]).to_pydict()
    got: dict = {}
    for pid, n in zip(roll["poly_id"], roll[n_col]):
        if pid in want:
            got[pid] = got.get(pid, 0) + n
    _compare("hits per polygon", got, {p: n for p, n in want.items() if n}, errs)


def _check_mvt(path: str, px: np.ndarray, py: np.ndarray, seed: int,
               errs: list[str], sample: int = 3) -> None:
    """Every point lands in some tile; the busiest tile and a seeded
    sample of others re-encode byte-identically with
    ``pyref.ref_vector_tiles`` over the points of that tile."""
    from osm2geojson_spark.pyref import ref_vector_tiles

    tiles = pq.read_table(path).to_pydict()
    _compare("mvt points", sum(tiles["n_pts"]), len(px), errs)
    order = np.argsort(tiles["n_pts"])[::-1]
    rng = np.random.default_rng(seed)
    pick = [int(order[0])] + [int(i) for i in rng.choice(
        order[1:], min(sample - 1, len(order) - 1), replace=False)]
    n = 1 << (MVT_RES + 12)  # extent 4096 = 2**12 pixels a side
    ix = np.clip(np.floor((px - (-180.0)) / 360.0 * n), 0, n - 1).astype(np.int64) >> 12
    iy = np.clip(np.floor((py - (-90.0)) / 180.0 * n), 0, n - 1).astype(np.int64) >> 12
    key = np.zeros(len(px), np.int64)
    for b in range(MVT_RES):
        key |= ((ix >> b) & 1) << (2 * b) | ((iy >> b) & 1) << (2 * b + 1)
    for i in pick:
        t = tiles["tile"][i]
        m = key == t
        ref = ref_vector_tiles(list(zip(px[m].tolist(), py[m].tolist())), res=MVT_RES)
        got = [(t, tiles["n_features"][i], tiles["n_pts"][i], tiles["mvt"][i].hex().upper())]
        if ref != got:
            errs.append(f"mvt tile {t}: differs from pyref.ref_vector_tiles")


def _spatial_metrics(tr, pts, polys, res: int) -> dict:
    """PIP, rollup and MVT figures of a traced run; candidate pairs are
    counted here, outside every span."""
    roll = tr.get("spatial.tiles.rollup")["counts"]
    mvt = tr.get("spatial.mvt.render")["counts"]
    n_cand = _candidates(pts, polys, res)
    n_hits = tr.get("spatial.pip.join")["counts"]["hits"]
    return {
        "spatial.pip.join_s": tr.get("spatial.pip.join")["dur_s"],
        "spatial.pip.candidates": n_cand,
        "spatial.pip.hits": n_hits,
        "spatial.pip.precision": n_hits / n_cand if n_cand else 0.0,
        "spatial.tiles.rollup_s": tr.get("spatial.tiles.rollup")["dur_s"],
        "spatial.tiles.tiles": roll["tiles"],
        "spatial.tiles.max_rows_per_tile": roll["max_rows_per_tile"],
        "spatial.mvt.render_s": tr.get("spatial.mvt.render")["dur_s"],
        "spatial.mvt.tiles": mvt["tiles"],
        "spatial.mvt.features": mvt["features"],
        "spatial.mvt.bytes_per_tile": mvt["bytes"] / mvt["tiles"] if mvt["tiles"] else 0.0,
    }


def _trace_spatial(tr, pts, polys, res: int, zoom: int, id_col: str, n_col: str):
    """PIP, tile rollup and MVT rendering, one span each, each output
    persisted and counted."""
    from pyspark.sql import functions as F

    from osm2geojson_spark.spatial.mvt import vector_tiles
    from osm2geojson_spark.spatial.pip import point_in_polygon_join

    with tr.span("spatial.pip.join") as c:
        hits = point_in_polygon_join(pts, polys, res=res).persist()
        c["hits"] = hits.count()
    with tr.span("spatial.tiles.rollup") as c:
        roll = _rollup(hits, zoom, id_col, n_col).persist()
        c["tiles"] = roll.count()
    with tr.span("spatial.mvt.render") as c:
        mvt = vector_tiles(pts, res=MVT_RES).persist()
        c["tiles"] = mvt.count()
    # figures read back from the persisted outputs, outside the spans
    tr.get("spatial.tiles.rollup")["counts"]["max_rows_per_tile"] = (
        roll.agg(F.max(n_col)).first()[0] or 0)
    mvt_c = tr.get("spatial.mvt.render")["counts"]
    mvt_c["features"], mvt_c["bytes"] = mvt.agg(
        F.sum("n_features"), F.sum(F.length("mvt"))).first()


# ------------------------------------------------------------------ images
class ImageTiles:
    """The jobs/run_pipeline.py stage chain: bucketed validate checkpoint,
    quarantine split, PIP against the polygons, tile assignment and the
    per-(poly, tile) rollup through a stage checkpoint (its metrics-table
    appends left out), plus MVT tiles of the valid images' locations."""

    name = "image_tiles"

    @staticmethod
    def _bucket():
        from pyspark.sql import functions as F

        return F.pmod(F.xxhash64("image_id"), F.lit(N_BUCKETS)).cast("int")

    def _validate_stage(self, spark, root: str, imgs, fn):
        from osm2geojson_spark.plans.checkpoint import run_bucketed_stage

        return run_bucketed_stage(spark, root, "validate", imgs, fn, self._bucket(),
                                  n_buckets=N_BUCKETS, buckets_per_wave=BUCKETS_PER_WAVE)

    def job(self, spark, meta: dict, out: str):
        from osm2geojson_spark.operators.images import quarantine_split, validate_images
        from osm2geojson_spark.plans.checkpoint import run_stage
        from osm2geojson_spark.spatial.mvt import vector_tiles
        from osm2geojson_spark.spatial.pip import point_in_polygon_join

        imgs = spark.read.parquet(meta["images"])
        polys = spark.read.parquet(meta["polygons"])
        validated = self._validate_stage(
            spark, out, imgs,
            lambda df: validate_images(df.drop("_bucket")).withColumn(
                "_bucket", self._bucket()))
        good, bad = quarantine_split(validated)
        n_good, n_bad = good.count(), bad.count()
        pts = imgs.select("image_id", "lon", "lat").join(good.select("image_id"), "image_id")
        run_stage(spark, out, "tile_rollup", lambda: _rollup(
            point_in_polygon_join(pts, polys, res=IMG_RES), IMG_ZOOM, "image_id", "n_images"))
        vector_tiles(pts, res=MVT_RES).write.parquet(os.path.join(out, "tiles"))
        return {"ok": n_good, "quarantined": n_bad}

    def _expected(self, meta: dict) -> tuple:
        """Coordinates of the valid images and their numpy hit counts."""
        if "_expected" not in meta:
            t = pq.read_table(meta["images"], columns=["image_id", "lon", "lat"])
            bad = set(meta["corrupt_ids"])
            keep = np.asarray([i not in bad for i in t.column("image_id").to_pylist()])
            px = t.column("lon").to_numpy()[keep]
            py = t.column("lat").to_numpy()[keep]
            hits = {pid: _np_hits(px, py, o, h)
                    for pid, o, h in _read_polygons(meta["polygons"])}
            meta["_expected"] = (px, py, hits)
        return meta["_expected"]

    def check(self, spark, meta: dict, out: str, res) -> list[str]:
        exp, errs = meta["expect"], []
        _compare("ok", res["ok"], exp["ok"], errs)
        _compare("quarantined", res["quarantined"], exp["quarantined"], errs)
        px, py, hits = self._expected(meta)
        _check_hits(os.path.join(out, "tile_rollup", "data"), "n_images", hits, errs)
        _check_mvt(os.path.join(out, "tiles"), px, py, meta["seed"], errs)
        return errs

    def trace(self, spark, meta: dict, out: str, tr) -> tuple[dict, list[str]]:
        from osm2geojson_spark.operators.images import quarantine_split, validate_images

        whole = os.path.join(out, "whole")
        with tr.span("job"):
            res = self.job(spark, meta, whole)
        errs = self.check(spark, meta, whole, res)
        spark.catalog.clearCache()

        imgs = spark.read.parquet(meta["images"])
        polys = spark.read.parquet(meta["polygons"])
        root = os.path.join(out, "layers")
        with tr.span("layers"):
            with tr.span("operators.images.validate") as c:
                validated = validate_images(imgs).persist()
                c["rows"] = validated.count()
            good, bad = quarantine_split(validated)
            n_bad = bad.count()

            # the checkpoint writes already-validated rows, so its span
            # holds the bucketed write and lineage, not the decode
            def fn(todo):
                return validated.join(todo.select("image_id", "_bucket"), "image_id")

            with tr.span("plans.checkpoint.bucketed_write"):
                self._validate_stage(spark, root, imgs, fn)
            with tr.span("plans.checkpoint.resume") as c:
                c["rows"] = self._validate_stage(spark, root, imgs, fn).count()
            pts = imgs.select("image_id", "lon", "lat").join(good.select("image_id"), "image_id")
            _trace_spatial(tr, pts, polys, IMG_RES, IMG_ZOOM, "image_id", "n_images")
        tr.finish()
        files, size = dir_stats(os.path.join(root, "validate", "data"))
        exp = meta["expect"]
        val = tr.get("operators.images.validate")
        _compare("layers.rows", val["counts"]["rows"], meta["rows"], errs)
        _compare("layers.quarantined", n_bad, exp["quarantined"], errs)
        _compare("layers.resume_rows", tr.get("plans.checkpoint.resume")["counts"]["rows"],
                 meta["rows"], errs)
        _compare("layers.hits", tr.get("spatial.pip.join")["counts"]["hits"],
                 sum(self._expected(meta)[2].values()), errs)
        m = {
            "operators.images.validate_s": val["dur_s"],
            "operators.images.us_per_image": val["dur_s"] * 1e6 / max(1, meta["rows"]),
            "operators.images.quarantined": n_bad,
            "operators.images.cpu_util": val["cpu_util"],
            "plans.checkpoint.bucketed_write_s":
                tr.get("plans.checkpoint.bucketed_write")["dur_s"],
            "plans.checkpoint.files_written": files,
            "plans.checkpoint.bytes_written": size,
            "plans.checkpoint.resume_s": tr.get("plans.checkpoint.resume")["dur_s"],
            **_spatial_metrics(tr, pts, polys, IMG_RES),
        }
        return m, errs


# ------------------------------------------------------------------ points
class PointTiles:
    """PIP of many points against many polygons, tile rollup, and MVT
    rendering of all points."""

    name = "point_tiles"
    SAMPLE_POLYGONS = 24

    def job(self, spark, meta: dict, out: str):
        from osm2geojson_spark.spatial.mvt import vector_tiles
        from osm2geojson_spark.spatial.pip import point_in_polygon_join

        pts = spark.read.parquet(meta["points"])
        polys = spark.read.parquet(meta["polygons"])
        hits = point_in_polygon_join(pts, polys, res=PT_RES)
        _rollup(hits, PT_ZOOM, "point_id", "n_points").write.parquet(
            os.path.join(out, "rollup"))
        vector_tiles(pts, res=MVT_RES).write.parquet(os.path.join(out, "tiles"))
        return None

    def _expected(self, meta: dict) -> tuple:
        """All point coordinates and numpy hit counts of a seeded sample
        of polygons."""
        if "_expected" not in meta:
            t = pq.read_table(meta["points"], columns=["lon", "lat"])
            px, py = t.column("lon").to_numpy(), t.column("lat").to_numpy()
            polys = _read_polygons(meta["polygons"])
            rng = np.random.default_rng(meta["seed"])
            pick = rng.choice(len(polys), min(self.SAMPLE_POLYGONS, len(polys)),
                              replace=False)
            hits = {polys[i][0]: _np_hits(px, py, polys[i][1], polys[i][2])
                    for i in sorted(pick)}
            meta["_expected"] = (px, py, hits)
        return meta["_expected"]

    def check(self, spark, meta: dict, out: str, res) -> list[str]:
        px, py, hits = self._expected(meta)
        errs: list[str] = []
        _check_hits(os.path.join(out, "rollup"), "n_points", hits, errs)
        _check_mvt(os.path.join(out, "tiles"), px, py, meta["seed"], errs)
        return errs

    def trace(self, spark, meta: dict, out: str, tr) -> tuple[dict, list[str]]:
        whole = os.path.join(out, "whole")
        with tr.span("job"):
            self.job(spark, meta, whole)
        errs = self.check(spark, meta, whole, None)
        spark.catalog.clearCache()

        pts = spark.read.parquet(meta["points"])
        polys = spark.read.parquet(meta["polygons"])
        with tr.span("layers"):
            _trace_spatial(tr, pts, polys, PT_RES, PT_ZOOM, "point_id", "n_points")
        tr.finish()
        return _spatial_metrics(tr, pts, polys, PT_RES), errs


WORKLOADS = {w.name: w for w in (OsmPlanet(), ImageTiles(), PointTiles())}
