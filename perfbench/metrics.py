"""Metric names and units, and which end-to-end metric each per-layer
metric should move on which workload. ``BENCHMARK.json`` lists the same
names; ``smoke.py`` checks that the two agree."""

from __future__ import annotations

# name: (unit, better)
END_TO_END = {
    "job_s": ("s", "lower"),            # median wall time of the timed jobs
    "rows_per_s": ("rows/s", "higher"),  # input rows / job_s
    "setup_s": ("s", "lower"),          # median of the in-run session set-ups
    "peak_rss_mb": ("MB", "lower"),     # VmHWM of the driver JVM and its Python workers
    "output_bytes": ("B", "lower"),     # bytes one job writes under its output directory
}

OSM, IMG, PTS = "osm_planet", "image_tiles", "point_tiles"
ALL = (OSM, IMG, PTS)

# name: (unit, better, end-to-end metrics it should move, workloads that
# exercise it; on the others it reads 0)
PER_LAYER = {
    "session.start_s": ("s", "lower", "setup_s", ALL),
    "sources.osm_xml.read_s": ("s", "lower", "job_s rows_per_s", (OSM,)),
    "sources.osm_xml.read_tasks": ("count", "higher", "job_s rows_per_s", (OSM,)),
    "sources.osm_xml.read_cpu_util": ("ratio", "higher", "job_s rows_per_s", (OSM,)),
    "sources.osm_xml.parse_s": ("s", "lower", "job_s", (OSM,)),
    "sources.osm_xml.entities": ("count", "higher", "job_s", (OSM,)),
    "sources.osm_xml.quarantined": ("count", "lower", "job_s", (OSM,)),
    "pipeline.osm_to_geojson.stages": ("count", "lower", "job_s", (OSM,)),
    "pipeline.osm_to_geojson.tasks": ("count", "lower", "job_s", (OSM,)),
    "operators.osm_join.assemble_ways_s": ("s", "lower", "job_s peak_rss_mb", (OSM,)),
    "operators.osm_join.assemble_relations_s": ("s", "lower", "job_s peak_rss_mb", (OSM,)),
    "operators.postprocess.features_s": ("s", "lower", "job_s", (OSM,)),
    "operators.postprocess.features_per_entity": ("ratio", "higher", "job_s", (OSM,)),
    "sources.kv_text.write_s": ("s", "lower", "job_s output_bytes", (OSM,)),
    "sources.kv_text.bytes": ("B", "lower", "job_s output_bytes", (OSM,)),
    "operators.images.validate_s": ("s", "lower", "job_s", (IMG,)),
    "operators.images.us_per_image": ("us", "lower", "job_s", (IMG,)),
    "operators.images.quarantined": ("count", "lower", "job_s", (IMG,)),
    "operators.images.cpu_util": ("ratio", "higher", "job_s", (IMG,)),
    "plans.checkpoint.bucketed_write_s": ("s", "lower", "job_s output_bytes", (IMG,)),
    "plans.checkpoint.files_written": ("count", "lower", "job_s output_bytes", (IMG,)),
    "plans.checkpoint.bytes_written": ("B", "lower", "job_s output_bytes", (IMG,)),
    "plans.checkpoint.resume_s": ("s", "lower", "none today", (IMG,)),
    "spatial.pip.join_s": ("s", "lower", "job_s", (PTS, IMG)),
    "spatial.pip.candidates": ("count", "lower", "job_s", (PTS, IMG)),
    "spatial.pip.hits": ("count", "higher", "job_s", (PTS, IMG)),
    "spatial.pip.precision": ("ratio", "higher", "job_s", (PTS, IMG)),
    "spatial.tiles.rollup_s": ("s", "lower", "job_s", (PTS, IMG)),
    "spatial.tiles.tiles": ("count", "higher", "job_s", (PTS, IMG)),
    "spatial.tiles.max_rows_per_tile": ("count", "lower", "job_s", (PTS, IMG)),
    "spatial.mvt.render_s": ("s", "lower", "job_s output_bytes", (PTS, IMG)),
    "spatial.mvt.tiles": ("count", "higher", "job_s output_bytes", (PTS, IMG)),
    "spatial.mvt.features": ("count", "higher", "job_s output_bytes", (PTS, IMG)),
    "spatial.mvt.bytes_per_tile": ("B", "lower", "job_s output_bytes", (PTS, IMG)),
    # the whole job, run once untraced inside the traced run
    "job.stages": ("count", "lower", "job_s", ALL),
    "job.tasks": ("count", "lower", "job_s", ALL),
    "job.failed_tasks": ("count", "lower", "job_s", ALL),
    "job.cpu_util": ("ratio", "higher", "job_s", ALL),
    # tracing overhead: layer spans summed against the untraced job
    "trace.job_s": ("s", "lower", "job_s", ALL),
    "trace.span_sum_s": ("s", "lower", "job_s", ALL),
    "trace.overhead_ratio": ("ratio", "lower", "none", ALL),
}
