"""Seeded input generators for the three benchmark workloads.

Each generator writes its files under ``<root>/<workload>-<size>-s<seed>/``
and then ``meta.json``, which holds the row count and every figure the
output check needs. A directory whose ``meta.json`` exists is reused, so
generation runs outside every timed region and only once per seed and
size. Generators are Spark-free; the program only ever sees their files.

    python3 perfbench/gen.py --workload osm_planet --seed 7 [--size bench]
"""

from __future__ import annotations

import argparse
import bz2
import json
import math
import os
import random
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("osm_planet", "image_tiles", "point_tiles")

SIZES = {
    "osm_planet": {
        "tiny": dict(nodes=2_000, ways=250, relations=20, malformed=3, coordless=4),
        "bench": dict(nodes=20_000, ways=2_500, relations=100, malformed=6, coordless=10),
    },
    "image_tiles": {
        "tiny": dict(images=90, polygons=12),
        "bench": dict(images=480, polygons=50),
    },
    "point_tiles": {
        "tiny": dict(points=5_000, polygons=60),
        "bench": dict(points=100_000, polygons=2_000),
    },
}

NODES_PER_BLOCK = 50
POI_CATEGORIES = (("amenity", "cafe"), ("amenity", "restaurant"),
                  ("shop", "bakery"), ("tourism", "museum"))


def _write_meta(d: str, meta: dict) -> None:
    tmp = os.path.join(d, "meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1)
    os.rename(tmp, os.path.join(d, "meta.json"))


# ------------------------------------------------------------------ osm
def _block_coords(rng: random.Random, n_blocks: int) -> list[tuple]:
    return [(rng.uniform(-170.0, 170.0), rng.uniform(-75.0, 75.0),
             rng.uniform(0.002, 0.02)) for _ in range(n_blocks)]


def gen_osm(d: str, seed: int, nodes: int, ways: int, relations: int,
            malformed: int, coordless: int) -> dict:
    """A planet-shaped OSM XML dump as one bz2 file.

    Nodes sit on circles of ``NODES_PER_BLOCK`` around block centres, so
    a way over consecutive nodes of one block is an arc and a closed way
    a convex ring. A fifth of the nodes carry tags (three in four of those
    a name and a category, so they become POIs); half the ways are named
    (open: highway, closed: building); a quarter of the ways are closed;
    relations are multipolygons over closed ways, one in ten unnamed and
    so dropped. Malformed blobs have no id; coordinate-less nodes are
    named cafes. Both go to quarantine."""
    rng = random.Random(seed)
    n_blocks = max(1, nodes // NODES_PER_BLOCK)
    centres = _block_coords(rng, n_blocks)
    out = ["<?xml version='1.0' encoding='UTF-8'?>",
           '<osm version="0.6" generator="perfbench">']
    bad_at = set(rng.sample(range(nodes), malformed))
    n_pois = 0
    for i in range(nodes):
        nid = i + 1
        cx, cy, r = centres[min(i // NODES_PER_BLOCK, n_blocks - 1)]
        a = 2 * math.pi * (i % NODES_PER_BLOCK) / NODES_PER_BLOCK
        head = (f'  <node id="{nid}" version="2" timestamp="2020-01-01T00:00:00Z" '
                f'lat="{cy + r * math.sin(a):.7f}" lon="{cx + r * math.cos(a):.7f}"')
        if rng.random() < 0.2:
            k, v = POI_CATEGORIES[rng.randrange(len(POI_CATEGORIES))]
            tags = [f'    <tag k="{k}" v="{v}"/>']
            if rng.random() < 0.75:
                amp = " &amp; Sons" if rng.random() < 0.1 else ""
                tags.insert(0, f'    <tag k="name" v="Place {nid}{amp}"/>')
                n_pois += 1
            out.append(head + ">")
            out.extend(tags)
            out.append("  </node>")
        else:
            out.append(head + "/>")
        if i in bad_at:
            out.append(f'  <node version="1" lat="{cy:.7f}" lon="{cx:.7f}"/>')
    for j in range(coordless):
        out.append(f'  <node id="{nodes + 1 + j}" version="1">')
        out.append(f'    <tag k="name" v="Lost {j}"/>')
        out.append('    <tag k="amenity" v="cafe"/>')
        out.append("  </node>")

    way0 = 10 ** (len(str(nodes + coordless)) + 1)
    closed_ids, n_way_feats = [], 0
    for w in range(ways):
        wid = way0 + w
        b = rng.randrange(n_blocks)
        k = rng.randint(4, 8)
        start = b * NODES_PER_BLOCK + rng.randrange(NODES_PER_BLOCK - k) + 1
        refs = list(range(start, start + k))
        closed = rng.random() < 0.25
        if closed:
            refs.append(start)
            closed_ids.append(wid)
        out.append(f'  <way id="{wid}" version="1">')
        out.extend(f'    <nd ref="{r}"/>' for r in refs)
        if rng.random() < 0.5:
            cat = ("building", "yes") if closed else ("highway", "residential")
            out.append(f'    <tag k="name" v="Way {wid}"/>')
            out.append(f'    <tag k="{cat[0]}" v="{cat[1]}"/>')
            n_way_feats += 1
        out.append("  </way>")

    rel0 = way0 * 10
    relations = min(relations, len(closed_ids))
    outers = rng.sample(closed_ids, relations)
    n_rel_feats = 0
    for r in range(relations):
        members = [outers[r]]
        if rng.random() < 0.2:
            extra = closed_ids[rng.randrange(len(closed_ids))]
            if extra != outers[r]:
                members.append(extra)
        out.append(f'  <relation id="{rel0 + r}" version="1">')
        out.extend(f'    <member type="way" ref="{m}" role="outer"/>'
                   for m in members)
        out.append('    <tag k="type" v="multipolygon"/>')
        out.append('    <tag k="leisure" v="park"/>')
        if rng.random() < 0.9:
            out.append(f'    <tag k="name" v="Park {r}"/>')
            n_rel_feats += 1
        out.append("  </relation>")
    out.append("</osm>")
    data = ("\n".join(out) + "\n").encode()
    path = os.path.join(d, "planet.osm.bz2")
    with open(path, "wb") as f:
        f.write(bz2.compress(data, 9))
    blobs = nodes + malformed + coordless + ways + relations
    return {
        "path": "planet.osm.bz2", "rows": blobs, "xml_bytes": len(data),
        "bz2_bytes": os.path.getsize(path),
        "expect": {"pois": n_pois, "ways": n_way_feats,
                   "relations": n_rel_feats,
                   "quarantine": malformed + coordless,
                   "entities": nodes + ways + relations},
    }


# ------------------------------------------------------------------ polygons
def _ring(rng: np.random.Generator, cx: float, cy: float, r: float,
          n: int, lo: float) -> list[dict]:
    """Closed star-shaped ring: ``n`` vertices at sorted angles, radius
    in [lo*r, r] — simple by construction."""
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, n))
    rad = r * rng.uniform(lo, 1.0, n)
    pts = [{"lon": float(cx + a * math.cos(t)), "lat": float(cy + a * math.sin(t))}
           for t, a in zip(ang, rad)]
    return pts + [pts[0]]


def _polygons(rng: np.random.Generator, n: int, cities: list[tuple],
              city_frac: float, city_sigma: float, city_r: tuple,
              world_r: tuple, hole_frac: float) -> list[dict]:
    """``city_frac`` of the polygons cluster around ``cities``; the rest
    spread over the world. A ``hole_frac`` share carry one hole inside
    the outer ring's inner radius."""
    rows = []
    for pid in range(n):
        if rng.random() < city_frac:
            cx, cy = cities[pid % len(cities)]
            cx += rng.normal(0.0, city_sigma)
            cy += rng.normal(0.0, city_sigma)
            r = rng.uniform(*city_r)
        else:
            cx, cy = rng.uniform(-170.0, 170.0), rng.uniform(-75.0, 75.0)
            r = rng.uniform(*world_r)
        ring = _ring(rng, cx, cy, r, int(rng.integers(6, 25)), 0.6)
        holes = ([_ring(rng, cx, cy, 0.3 * r, 6, 0.5)]
                 if rng.random() < hole_frac else None)
        rows.append({"poly_id": pid, "ring": ring, "holes": holes})
    return rows


def _write_polygons(path: str, rows: list[dict]) -> None:
    pt = pa.struct([("lon", pa.float64()), ("lat", pa.float64())])
    schema = pa.schema([("poly_id", pa.int64()), ("ring", pa.list_(pt)),
                        ("holes", pa.list_(pa.list_(pt)))])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def _write_parts(path: str, table, parts: int = 4) -> None:
    """``table`` as ``parts`` parquet files under ``path``, so a scan
    has one input split per core."""
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


# ------------------------------------------------------------------ images
# the hot "cities" of synth.images._coords_for: 1x1 degree boxes
IMAGE_CITIES = [(-59.5, -9.5), (-19.5, 10.5), (20.5, 30.5)]


def gen_images(d: str, seed: int, images: int, polygons: int) -> dict:
    """Image+caption rows (synth.images.make_image_row) rotating through
    all nine codecs, ~3% corrupt (truncated payload, or a stored phash
    that disagrees with the pixels), plus ~50 polygons, a third of them
    around the image hot spots."""
    from osm2geojson_spark.synth.images import FMTS_TIFF, make_image_row

    rng = np.random.default_rng(seed)
    base = 2 * (seed % 1_000_003) * images
    rows, bad_ids = [], []
    for i in range(images):
        row = list(make_image_row(base + 2 * i, FMTS_TIFF))
        if rng.random() < 0.03:
            if rng.random() < 0.5:
                row[1] = row[1][:12]
            else:
                row[6] ^= 1
            bad_ids.append(row[0])
        rows.append(row)
    cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash", "lon", "lat"]
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows]) for i in range(len(cols))], names=cols)
    table = table.cast(pa.schema([
        ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
        ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
        ("phash", pa.int64()), ("lon", pa.float64()), ("lat", pa.float64())]))
    _write_parts(os.path.join(d, "images"), table)
    poly_path = os.path.join(d, "polygons.parquet")
    _write_polygons(poly_path, _polygons(
        rng, polygons, IMAGE_CITIES, city_frac=0.35, city_sigma=0.4,
        city_r=(0.2, 0.6), world_r=(3.0, 12.0), hole_frac=0.1))
    return {"images": "images", "polygons": "polygons.parquet",
            "rows": images, "corrupt_ids": bad_ids,
            "expect": {"ok": images - len(bad_ids), "quarantined": len(bad_ids)}}


# ------------------------------------------------------------------ points
POINT_CITIES = [(2.35, 48.85), (-74.0, 40.7), (139.7, 35.7)]


def gen_points(d: str, seed: int, points: int, polygons: int) -> dict:
    """Points, 30% in three hot cities (gaussian, sigma 0.5 deg), the rest
    uniform; polygons 6-24-vertex rings, 60% in the cities, a tenth with
    a hole."""
    rng = np.random.default_rng(seed)
    hot = rng.random(points) < 0.3
    city = rng.integers(0, len(POINT_CITIES), points)
    cxy = np.asarray(POINT_CITIES)[city]
    lon = np.where(hot, cxy[:, 0] + rng.normal(0.0, 0.5, points),
                   rng.uniform(-180.0, 180.0, points))
    lat = np.where(hot, cxy[:, 1] + rng.normal(0.0, 0.5, points),
                   rng.uniform(-85.0, 85.0, points))
    _write_parts(os.path.join(d, "points"),
                 pa.table({"point_id": np.arange(points, dtype=np.int64),
                           "lon": lon, "lat": lat}))
    poly_path = os.path.join(d, "polygons.parquet")
    _write_polygons(poly_path, _polygons(
        rng, polygons, POINT_CITIES, city_frac=0.6, city_sigma=0.6,
        city_r=(0.02, 0.15), world_r=(0.5, 3.0), hole_frac=0.1))
    return {"points": "points", "polygons": "polygons.parquet",
            "rows": points}


INPUT_FILES = ("path", "images", "points", "polygons")
GENERATORS = {"osm_planet": gen_osm, "image_tiles": gen_images,
              "point_tiles": gen_points}


def ensure_inputs(root: str, workload: str, seed: int, size: str) -> dict:
    """Return the meta of the cached inputs, generating them first if the
    cache has none for this (workload, size, seed)."""
    d = os.path.join(root, f"{workload}-{size}-s{seed}")
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        if os.path.exists(d):
            shutil.rmtree(d)  # a generation that died half-way
        os.makedirs(d)
        meta = GENERATORS[workload](d, seed, **SIZES[workload][size])
        meta.update(workload=workload, seed=seed, size=size)
        _write_meta(d, meta)
    with open(meta_path) as f:
        meta = json.load(f)
    for k in INPUT_FILES:
        if k in meta:
            meta[k] = os.path.join(d, meta[k])
    return meta


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", default="bench", choices=("tiny", "bench"))
    ap.add_argument("--root", default=".bench_work/cache")
    args = ap.parse_args(argv)
    meta = ensure_inputs(args.root, args.workload, args.seed, args.size)
    json.dump(meta, sys.stdout, indent=1)
    print()
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
