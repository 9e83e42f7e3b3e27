"""Traced runs: the per-layer side of the benchmark.

``replay_convert`` repeats ``engine.run``'s calls in the engine's order,
through each layer's public function, writing every intermediate to a
scratch parquet file under its own span, so each layer is timed with its
output materialized. ``trace_queries`` runs the query sequence once with
one span per query. ``kernels`` times the NumPy kernels single-threaded
in the driver on arrays drawn from the workload's own inputs.
"""

from __future__ import annotations

import os
import time
import uuid
from collections import defaultdict

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from osm2shp_spark.functions import geometry, hexgrid, s2
from osm2shp_spark.functions import image as img
from osm2shp_spark.functions.udfs import (
    HEX_RESOLUTIONS,
    with_geometry_meta,
    with_point_cells,
    with_way_cells,
)
from osm2shp_spark.operators.assemble import assemble_ways_auto
from osm2shp_spark.operators.classify import classify_nodes
from osm2shp_spark.operators.skew import adaptive_cells
from osm2shp_spark.operators.spatial import pip_join
from osm2shp_spark.plans.manifest import Manifest, partition_lineage
from osm2shp_spark.sources.tables import write_partitioned

import ops
import reference as R
from spans import rows_out

#: engine.run's defaults, which the convert op uses
S2_LEVEL = 12
BASE_RES = HEX_RESOLUTIONS[2]
HOT_THRESHOLD = 1000


class LayerStats:
    """Per-layer sums over the spans recorded for each layer name."""

    def __init__(self, tracer):
        self.tr = tracer
        self.values: dict[str, float] = defaultdict(float)

    def record(self, layer: str, sp, keys: tuple[str, ...]) -> None:
        c = self.tr.counters(sp)
        self.values[f"{layer}.s"] += sp.s
        for k in keys:
            self.values[f"{layer}.{k}"] += c[k]


def replay_convert(spark, tracer, in_dir: str, out_dir: str, scratch: str, ref):
    """Replay one convert op layer by layer. Returns (metrics, choices);
    the final outputs land in ``out_dir`` exactly as engine.run writes
    them, so the caller checks them like any other op's. ``ref`` (the
    input's ConvertReference) gives the ratio denominators."""
    st = LayerStats(tracer)
    choices = {}
    snapshot = uuid.uuid4().hex
    manifest = Manifest(spark, os.path.join(out_dir, "_manifest"))
    nodes, ways, images = ops.load_convert_inputs(spark, in_dir)

    def step(layer, build, name, keys=("task_cpu_s",)):
        path = os.path.join(scratch, name)
        with tracer.span(layer) as sp:
            df = build()
            if isinstance(df, tuple):
                df, choices[layer] = df
            df.write.mode("overwrite").parquet(path)
        st.record(layer, sp, keys)
        return spark.read.parquet(path), sp

    def export(df, stage):
        path = os.path.join(out_dir, stage)
        layer = "sources.tables.write_partitioned"
        with tracer.span(layer) as sp:
            write_partitioned(df, path, ["layer"])
        st.record(layer, sp, ())
        nbytes, files = R.dir_bytes(path)
        st.values[f"{layer}.bytes"] += nbytes
        st.values[f"{layer}.files"] += files
        layer = "plans.manifest.partition_lineage"
        with tracer.span(layer) as sp:
            written = spark.read.schema(df.schema).parquet(path).withColumn(
                "part_key",
                F.xxhash64("layer") + F.pmod(F.xxhash64(F.col(df.columns[0])), F.lit(256)),
            )
            manifest.append(partition_lineage(written, stage, "part_key", snapshot))
        st.record(layer, sp, ("jobs",))

    a_layer = "operators.assemble.assemble_ways_auto"
    assembled, sp = step(
        a_layer, lambda: assemble_ways_auto(nodes, ways, return_strategy=True), "assembled",
        ("driver_s", "jobs", "task_cpu_s", "shuffle_write_bytes", "spill_bytes"),
    )
    st.values[f"{a_layer}.resolved_ratio"] = assembled.count() / max(ref.routed_ways, 1)
    geom, _ = step("functions.udfs.with_geometry_meta", lambda: with_geometry_meta(assembled), "geom")
    cells, _ = step(
        "functions.udfs.with_way_cells",
        lambda: with_way_cells(geom, s2_level=S2_LEVEL, hex_resolutions=HEX_RESOLUTIONS),
        "way_cells",
    )
    export(cells, "ways")

    classified, _ = step("operators.classify.classify_nodes", lambda: classify_nodes(nodes), "nodes", ())
    point_cells, _ = step(
        "functions.udfs.with_point_cells",
        lambda: with_point_cells(classified, s2_level=S2_LEVEL, hex_resolutions=HEX_RESOLUTIONS),
        "point_cells",
    )
    export(point_cells, "points")

    image_cells, _ = step(
        "functions.udfs.with_point_cells",
        lambda: with_point_cells(images, s2_level=S2_LEVEL, hex_resolutions=HEX_RESOLUTIONS),
        "image_cells",
    )
    s_layer = "operators.skew.adaptive_cells"
    indexed, _ = step(
        s_layer,
        lambda: adaptive_cells(image_cells, base_res=BASE_RES, hot_threshold=HOT_THRESHOLD,
                               cell_col=f"hex_r{BASE_RES}"),
        "adaptive", ("jobs",),
    )
    st.values[f"{s_layer}.hot_cells"] = (
        indexed.filter(F.col("cell_res") > BASE_RES).select(f"hex_r{BASE_RES}").distinct().count()
    )
    polys = (
        spark.read.parquet(os.path.join(out_dir, "ways"))
        .filter(F.col("kind") == "polygon")
        .select(F.col("way_id").alias("poly_id"), "layer", "lons", "lats")
    )
    p_layer = "operators.spatial.pip_join"
    pip_out, sp = step(
        p_layer, lambda: pip_join(indexed, polys, tuple(indexed.columns), ("poly_id", "layer")),
        "classified", ("driver_s", "jobs", "shuffle_write_bytes"),
    )
    nodes_ = tracer.plan_nodes(sp)
    choices["operators.spatial.pip_join.refine"] = (
        "arrow" if any("MapInPandas" in n for n, _ in nodes_) else "jvm"
    )
    # the JVM refine is fused into the join condition, so the plan shows
    # no candidate count; the bbox-cut pairs come from the reference
    st.values[f"{p_layer}.refine_hit_ratio"] = pip_out.count() / max(ref.pip_candidates, 1)
    export(pip_out, "images_classified")
    with open(os.path.join(out_dir, "crs.txt"), "w") as f:
        f.write("EPSG:4326\n")
    return dict(st.values), choices


def trace_queries(spark, tracer, tables) -> tuple[dict, dict, dict]:
    """One pass over the query sequence, one span per query. Returns
    (metrics, choices, results by query name)."""
    values: dict[str, float] = {}
    choices, results = {}, {}
    for q in ops.QUERIES:
        spark.catalog.clearCache()
        with tracer.span(q.layer) as sp:
            got, choice = ops.run_query(spark, q, tables)
        results[q.name] = got
        if choice is not None:
            choices[q.layer] = choice
        c = tracer.counters(sp)
        key = f"query.{q.layer}"
        values[f"{key}.s"] = sp.s
        for k in ("jobs", "task_cpu_s", "shuffle_write_bytes", "driver_s"):
            values[f"{key}.{k}"] = c[k]
        if q.name in ("minhash_dups", "phash_dups"):
            cand = max(rows_out(tracer.plan_nodes(sp), "Join"), default=0.0)
            values[f"{key}.verify_hit_ratio"] = got.num_rows / max(cand, 1.0)
    return values, choices, results


def _ns_per(fn, units: int, min_s: float = 0.2) -> float:
    """Median ns per unit over repeats of ``fn`` (at least ``min_s``)."""
    samples, t_end = [], time.perf_counter() + min_s
    while len(samples) < 3 or time.perf_counter() < t_end:
        t0 = time.perf_counter_ns()
        fn()
        samples.append((time.perf_counter_ns() - t0) / units)
    return float(np.median(samples))


def kernels(convert_in: str, convert_out: str, payloads: str, n_points: int = 20000) -> dict:
    """ns-per-unit of each NumPy kernel, with the work count beside it."""
    imgs = pq.read_table(os.path.join(convert_in, "images.parquet")).slice(0, n_points)
    lon = imgs["lon"].to_numpy()
    lat = imgs["lat"].to_numpy()
    ways = pq.read_table(os.path.join(convert_out, "ways")).to_pandas()
    rings = ways[ways["kind"] == "polygon"]
    ring_x = [np.asarray(x, np.float64) for x in rings["lons"]]
    ring_y = [np.asarray(y, np.float64) for y in rings["lats"]]
    pip_pts = 500
    edges = pip_pts * sum(len(x) - 1 for x in ring_x)
    bbox = [np.array([x.min() for x in ways["lons"]]), np.array([y.min() for y in ways["lats"]]),
            np.array([x.max() for x in ways["lons"]]), np.array([y.max() for y in ways["lats"]])]
    n_vertices = int(sum(len(x) for x in ways["lons"]))
    pay = pq.read_table(payloads).to_pandas()
    decoded = [img.decode_image(b, f) for b, f in zip(pay["bytes"], pay["fmt"])]
    pixels = int(sum(a.shape[0] * a.shape[1] for a in decoded))
    return {
        "functions.hexgrid.hex_cells_multi.points": len(lon),
        "functions.hexgrid.hex_cells_multi.ns_per_point": _ns_per(
            lambda: hexgrid.hex_cells_multi(lon, lat, HEX_RESOLUTIONS), len(lon)),
        "functions.s2.cell_id.points": len(lon),
        "functions.s2.cell_id.ns_per_point": _ns_per(lambda: s2.cell_id(lat, lon, S2_LEVEL), len(lon)),
        "functions.s2.bbox_covering_batch.bboxes": len(bbox[0]),
        "functions.s2.bbox_covering_batch.ns_per_bbox": _ns_per(
            lambda: s2.bbox_covering_batch(*bbox, S2_LEVEL), len(bbox[0])),
        "functions.geometry.points_in_polygons.edges": edges,
        "functions.geometry.points_in_polygons.ns_per_edge": _ns_per(
            lambda: geometry.points_in_polygons(lon[:pip_pts], lat[:pip_pts], np.arange(len(ring_x)), ring_x, ring_y), edges),
        "functions.geometry.wkb_for.vertices": n_vertices,
        "functions.geometry.wkb_for.ns_per_vertex": _ns_per(
            lambda: [geometry.wkb_for(k, x, y) for k, x, y in zip(ways["kind"], ways["lons"], ways["lats"])],
            n_vertices),
        "functions.image.decode_image.pixels": pixels,
        "functions.image.decode_image.ns_per_pixel": _ns_per(
            lambda: [img.decode_image(b, f) for b, f in zip(pay["bytes"], pay["fmt"])], pixels),
        "functions.image.average_phash.images": len(decoded),
        "functions.image.average_phash.ns_per_image": _ns_per(
            lambda: [img.average_phash(a) for a in decoded], len(decoded)),
    }
