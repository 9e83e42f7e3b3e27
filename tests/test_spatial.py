"""Spatial operator tests: PIP vs brute force on general (non-rect)
polygons, kNN vs brute force with haversine, cell-column plumbing."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from conftest import SF_SMALL
from parity import canon_rows

from osm2shp_spark.functions import geometry as G
from osm2shp_spark.functions.udfs import with_geometry_meta, with_point_cells
from osm2shp_spark.operators.assemble import assemble_ways
from osm2shp_spark.operators.spatial import (
    knn_join_auto,
    pip_join,
    tile_vector_stats,
)
from osm2shp_spark.sources.synthetic import (
    synthetic_images,
    synthetic_nodes,
    synthetic_ways,
)


def test_pip_general_polygons_vs_brute_force(spark):
    """Non-rectangular (triangle/pentagon) polygons: engine pip_join must
    equal O(n*m) NumPy brute force."""
    rng = np.random.default_rng(21)
    n = 2000
    pts = pd.DataFrame(
        {
            "pid": np.arange(n),
            "lon": rng.uniform(7.9, 9.1, n),
            "lat": rng.uniform(46.9, 48.1, n),
        }
    )
    polys = []
    for g in range(12):
        cx, cy = rng.uniform(8, 9), rng.uniform(47, 48)
        k = rng.integers(3, 8)
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        rad = rng.uniform(0.05, 0.25, k)
        polys.append(
            {
                "poly_id": g,
                "lons": (cx + rad * np.cos(ang)).tolist(),
                "lats": (cy + rad * np.sin(ang)).tolist(),
            }
        )
    brute = set()
    for p in polys:
        m = G.points_in_polygon(
            pts.lon.to_numpy(), pts.lat.to_numpy(),
            np.array(p["lons"]), np.array(p["lats"]),
        )
        brute |= {(int(i), p["poly_id"]) for i in pts.pid[m]}

    sp_pts = spark.createDataFrame(pts)
    sp_polys = spark.createDataFrame(
        pd.DataFrame(polys), schema="poly_id LONG, lons ARRAY<DOUBLE>, lats ARRAY<DOUBLE>"
    )
    got = {
        (r.pid, r.poly_id)
        for r in pip_join(sp_pts, sp_polys, ("pid",), ("poly_id",)).collect()
    }
    assert got == brute


def test_pip_jvm_refine_equals_arrow_refine(spark):
    """The zero-Python higher-order-function PNPOLY refine (auto
    default for short rings) must be bit-identical to the vectorized
    NumPy/Arrow refine on general polygons — same IEEE operation
    order, same half-open crossing convention, same closed-ring
    normalization."""
    from osm2shp_spark.operators.spatial import pip_join
    from osm2shp_spark.sources.synthetic import synthetic_rects

    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    rects = synthetic_rects(spark, SF_SMALL)
    mx = "(lon_min + lon_max) / 2"
    my = "(lat_min + lat_max) / 2"
    diamonds = rects.select(
        "rect_id",
        "layer",
        F.expr(f"array(lon_min, {mx}, lon_max, {mx}, lon_min)").alias("lons"),
        F.expr(f"array({my}, lat_min, {my}, lat_max, {my})").alias("lats"),
    )
    jvm = pip_join(imgs, diamonds, ("image_id",), ("rect_id",), refine="jvm")
    arrow = pip_join(imgs, diamonds, ("image_id",), ("rect_id",), refine="arrow")
    assert canon_rows(jvm.toPandas()) == canon_rows(arrow.toPandas())
    assert jvm.count() > 0


def test_knn_fallback_engages_and_stays_exact(spark):
    """Tiny tile size forces most points through the provable-radius
    escape of the shuffle path; result must still equal brute force."""
    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    nodes = synthetic_nodes(spark, SF_SMALL).filter("id > 0").select(
        F.col("id").alias("node_id"), "lon", "lat"
    ).limit(50)
    a = knn_join_auto(
        imgs, nodes, k=2, tile_size=0.001, max_broadcast_features=0
    ).toPandas()
    b = knn_join_auto(  # one tile: pure brute
        imgs, nodes, k=2, tile_size=10.0, max_broadcast_features=0
    ).toPandas()
    assert canon_rows(a) == canon_rows(b)


def test_knn_summary_cache_bounded_across_calls(spark):
    """The kNN shuffle path persists its per-point top-k summary;
    repeated calls in one session must not leak one O(points)
    CacheManager entry per call — the live-summary registry evicts
    beyond its bound, and eviction does not break a still-held result
    (it recomputes, bit-identical). The globe-sized tile resolves every
    point in the first pass, so no ring-expansion localCheckpoint RDD
    adds to the persistent-RDD count. Only RDDs persisted during this
    test count: ring rounds of earlier kNN calls in the session (the
    gate's shuffle-path row, the fallback tests) leave localCheckpoint
    RDDs that clearCache does not drop."""
    from osm2shp_spark.operators import spatial as S

    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    nodes = synthetic_nodes(spark, SF_SMALL).filter("id > 0").select(
        F.col("id").alias("node_id"), "lon", "lat"
    ).limit(50)
    spark.catalog.clearCache()
    S._LIVE_SUMMARIES.clear()
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())

    def knn():
        return knn_join_auto(
            imgs, nodes, k=2, tile_size=1000.0, max_broadcast_features=0
        )

    first = knn()
    expect = canon_rows(first.toPandas())
    for _ in range(S._MAX_LIVE_SUMMARIES + 2):
        assert knn().count() > 0
    assert len(S._LIVE_SUMMARIES) == S._MAX_LIVE_SUMMARIES
    added = set(jsc.getPersistentRDDs().keys()) - before
    assert len(added) <= S._MAX_LIVE_SUMMARIES
    # `first`'s summary was evicted above; re-executing it must
    # recompute and still match
    assert canon_rows(first.toPandas()) == expect


def test_knn_oversize_fallback_never_broadcasts_features(spark):
    """r6 (VERDICT r5 #1): when the feature table is over the broadcast
    budget, the brute fallback must resolve stragglers by iterative
    tile-ring expansion — no BroadcastExchange of the feature side in
    the very regime where the planner refused to broadcast it. A tiny
    tile size forces most points through the fallback, so the ring
    path actually runs (multiple widening rounds), and the rows must
    equal the in-budget broadcast path's bit for bit."""
    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    nodes = synthetic_nodes(spark, SF_SMALL).filter("id > 0").select(
        F.col("id").alias("node_id"), "lon", "lat"
    ).limit(50)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        over = knn_join_auto(
            imgs, nodes, k=2, tile_size=0.001, max_broadcast_features=10
        )
        plan = over._jdf.queryExecution().explainString(
            over._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "BroadcastExchange" not in plan
        under = knn_join_auto(imgs, nodes, k=2, tile_size=0.001)
        assert canon_rows(over.toPandas()) == canon_rows(under.toPandas())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_knn_no_fallback_subtree_when_all_resolved(spark):
    """r6: with every point provably resolved in its 3x3 ring, the
    returned plan must contain no fallback machinery at all (the
    always-planned BroadcastExchange of the full feature table was the
    r5 verdict's scale-killer — it built its relation even when the
    unresolved set was empty)."""
    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    nodes = synthetic_nodes(spark, SF_SMALL).filter("id > 0").select(
        F.col("id").alias("node_id"), "lon", "lat"
    )
    # one globe-sized tile: every point sees every feature, all resolve
    out = knn_join_auto(
        imgs, nodes, k=2, tile_size=1000.0, max_broadcast_features=0
    )
    plan = out._jdf.queryExecution().explainString(
        out._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # no fallback signature nodes: no broadcast cross join, no window,
    # and no ring-round checkpoint scan ("Union" would be ambiguous —
    # the synthetic node fixture itself contains one)
    assert "BroadcastNestedLoopJoin" not in plan and "Window" not in plan
    assert out.count() > 0


def test_knn_broadcast_oversize_falls_back_to_shuffle(spark):
    """The kNN selector guards the broadcast path's driver collect:
    above the feature budget it routes to the shuffle path (identical
    rows) instead of toPandas()-ing an unbounded table."""
    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    nodes = synthetic_nodes(spark, SF_SMALL).filter("id > 0").select(
        F.col("id").alias("node_id"), "lon", "lat"
    ).limit(50)
    over = knn_join_auto(imgs, nodes, k=2, max_broadcast_features=10)
    under = knn_join_auto(imgs, nodes, k=2)
    # the oversize call must NOT be the mapInPandas broadcast plan
    plan = over._jdf.queryExecution().explainString(
        over._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "MapInPandas" not in plan
    assert canon_rows(over.toPandas()) == canon_rows(under.toPandas())


def test_tile_stats_row_count_positive(spark):
    imgs = synthetic_images(spark, SF_SMALL)
    nodes = synthetic_nodes(spark, SF_SMALL).filter("id > 0").select("id", "lon", "lat")
    df = tile_vector_stats(imgs, nodes).toPandas()
    assert (df.n_images + df.n_features > 0).all()
    assert df.n_images.sum() == imgs.count()


def test_point_cell_columns(spark):
    df = with_point_cells(
        synthetic_images(spark, SF_SMALL).limit(200), s2_level=12
    ).toPandas()
    assert {"s2_cell", "s2_token", "hex_r7", "hex_r12"} <= set(df.columns)
    # all points in one small bbox share coarse cells mostly; uniqueness
    # grows with resolution
    assert df.hex_r12.nunique() >= df.hex_r7.nunique()
    # s2 token is the hex id with trailing zeros stripped
    for t, c in zip(df.s2_token[:20], df.s2_cell[:20]):
        assert format(np.uint64(c), "016x").rstrip("0") == t


def test_geometry_meta_columns(spark):
    ways = assemble_ways(
        synthetic_nodes(spark, SF_SMALL), synthetic_ways(spark, SF_SMALL)
    )
    df = with_geometry_meta(ways).limit(50).toPandas()
    assert df.wkb.map(len).gt(9).all()
    assert df.geom_digest.map(len).eq(40).all()
    assert (df.lon_min <= df.lon_max).all()


def test_pip_s2_equals_flat_grid(spark):
    """The S2-covering prefilter path must produce exactly the
    flat-grid path's rows (same exact refine, different superset
    prefilter)."""
    from pyspark.sql import functions as F

    from parity import canon_rows

    from osm2shp_spark.operators.spatial import pip_join, pip_join_s2
    from osm2shp_spark.sources.synthetic import synthetic_images, synthetic_rects
    from conftest import SF_SMALL

    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    rects = synthetic_rects(spark, SF_SMALL).select(
        "rect_id",
        "layer",
        F.array("lon_min", "lon_max", "lon_max", "lon_min", "lon_min").alias("lons"),
        F.array("lat_min", "lat_min", "lat_max", "lat_max", "lat_min").alias("lats"),
    )
    a = canon_rows(pip_join(imgs, rects, ("image_id",), ("rect_id", "layer")).toPandas())
    b = canon_rows(pip_join_s2(imgs, rects, ("image_id",), ("rect_id", "layer")).toPandas())
    assert a == b and len(a) > 0
    # ride-along ring path (above the broadcast vertex budget): same rows
    c = canon_rows(
        pip_join_s2(
            imgs, rects, ("image_id",), ("rect_id", "layer"),
            broadcast_rings=False,
        ).toPandas()
    )
    assert a == c


def test_pnpoly_sql_bit_parity_randomized(spark):
    """Adversarial bit-parity check of the JVM refine kernel: evaluate
    ``pnpoly_sql`` directly over (point, ring) pairs and compare each
    boolean to the NumPy ``points_in_polygon`` kernel.

    Coordinates are snapped to 1/8 grid steps (exact binary fractions)
    so boundary coincidences actually happen: points ON vertices and
    edges, horizontal/vertical edges (division by zero in the crossing
    intercept), duplicate consecutive vertices, closed rings, and
    degenerate <3-vertex rings all occur in the sample. The two
    implementations share IEEE op order and the half-open crossing
    convention, so every pair must agree exactly.
    """
    from osm2shp_spark.operators.spatial import (
        _strip_closed_ring,
        _with_ring_edges,
        pnpoly_sql,
    )

    rng = np.random.default_rng(1234)
    rings = []
    for g in range(40):
        k = int(rng.integers(2, 9))  # includes degenerate 2-vertex rings
        xs = np.round(rng.uniform(0, 4, k) * 8) / 8
        ys = np.round(rng.uniform(0, 4, k) * 8) / 8
        if g % 3 == 0 and k >= 3:  # close a third of the rings
            xs = np.append(xs, xs[0])
            ys = np.append(ys, ys[0])
        if g % 5 == 0 and k >= 3:  # force a horizontal edge
            ys[1] = ys[0]
        if g % 7 == 0 and k >= 4:  # duplicate consecutive vertex
            xs[2], ys[2] = xs[1], ys[1]
        rings.append({"gid": g, "lons": xs.tolist(), "lats": ys.tolist()})

    npts = 80
    px = np.round(rng.uniform(0, 4, npts) * 8) / 8
    py = np.round(rng.uniform(0, 4, npts) * 8) / 8
    # plant exact vertex hits
    px[:10] = [r["lons"][0] for r in rings[:10]]
    py[:10] = [r["lats"][0] for r in rings[:10]]

    expect = {}
    for r in rings:
        m = G.points_in_polygon(px, py, np.array(r["lons"]), np.array(r["lats"]))
        for i in np.flatnonzero(m):
            expect[(int(i), r["gid"])] = True

    polys = spark.createDataFrame(
        pd.DataFrame(rings), schema="gid LONG, lons ARRAY<DOUBLE>, lats ARRAY<DOUBLE>"
    )
    polys = _with_ring_edges(_strip_closed_ring(polys))
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(npts), "_px": px, "_py": py})
    )
    got = {
        (r.pid, r.gid)
        for r in pts.crossJoin(polys.select("gid", "_edges"))
        .filter(F.expr(pnpoly_sql("_px", "_py")))
        .collect()
    }
    assert got == set(expect)


def test_pnpoly_sql_matches_kernel_at_huge_coordinates(spark):
    """Near 1e308 the edge differences overflow to inf; the JVM refine
    must overflow the same way as the NumPy kernel (and not raise)."""
    from osm2shp_spark.operators.spatial import _with_ring_edges, pnpoly_sql

    s = 1.5e308
    ring = {"lons": [-s, s, s], "lats": [-1.0, 1.0, -1.0]}
    px = np.array([0.0, 0.0, -s / 2, s, 1e308])
    py = np.array([-0.5, 0.5, -0.75, 2.0, -1e308])
    expect = G.points_in_polygon(px, py, np.array(ring["lons"]), np.array(ring["lats"]))
    polys = _with_ring_edges(
        spark.createDataFrame([ring], "lons ARRAY<DOUBLE>, lats ARRAY<DOUBLE>")
    )
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(len(px)), "_px": px, "_py": py})
    )
    got = {
        r.pid: r.inside
        for r in pts.crossJoin(polys.select("_edges"))
        .select("pid", F.expr(pnpoly_sql("_px", "_py")).alias("inside"))
        .collect()
    }
    assert [got[i] for i in range(len(px))] == expect.tolist()


class TestKnnShufflePlan:
    """The kNN shuffle path keys its top-k aggregate by tile, so the
    candidate set never re-shuffles after the tile join."""

    def _inputs(self, spark):
        imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
        nodes = (
            synthetic_nodes(spark, SF_SMALL)
            .filter("id > 0")
            .select(F.col("id").alias("node_id"), "lon", "lat")
            .limit(200)
        )
        return imgs, nodes

    def test_topk_aggregate_reuses_join_partitioning(self, spark, monkeypatch):
        """With broadcast disabled, HashPartitioning(tile) satisfies the
        tile-keyed top-k aggregate's ClusteredDistribution (subset
        rule) — candidates must never re-shuffle between the join and
        the aggregate. localCheckpoint is identity-patched (on the
        classic class — instances override the pyspark.sql.DataFrame
        base) so the pre-checkpoint subtree stays visible to explain."""
        from pyspark.sql.classic.dataframe import DataFrame as _DF

        monkeypatch.setattr(
            _DF, "localCheckpoint", lambda self, *a, **kw: self
        )
        monkeypatch.setattr(_DF, "persist", lambda self, *a, **kw: self)
        # earlier knn tests leave the persisted topk in the
        # CacheManager; it would substitute InMemoryRelation for the
        # matching subtree here and hide the aggregate from explain
        spark.catalog.clearCache()
        imgs, nodes = self._inputs(spark)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        def simple_plan(df) -> str:
            # simple mode: one line per node, tree-adjacent — the
            # child-chain scan below depends on that layout
            return df._jdf.queryExecution().explainString(
                df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "simple"
                )
            )

        try:
            plan = simple_plan(
                knn_join_auto(imgs, nodes, k=2, max_broadcast_features=0)
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

        def exchange_under_topk_agg(plan: str, key_marker: str) -> bool:
            """True if a FINAL collect_list aggregate whose keys
            contain ``key_marker`` re-shuffles its candidates: walking
            down from it, an Exchange before the partial aggregate
            means the candidate set crossed the wire."""
            lines = plan.splitlines()
            hits = []
            for i, line in enumerate(lines):
                if (
                    "collect_list" not in line
                    or "partial_collect_list" in line
                    or key_marker not in line.split("functions=")[0]
                ):
                    continue
                for nxt in lines[i + 1 :]:
                    if "partial_collect_list" in nxt:
                        hits.append(False)
                        break
                    if "Exchange" in nxt:
                        hits.append(True)
                        break
            assert hits, f"no top-k aggregate keyed by {key_marker} found"
            return any(hits)

        # tile-keyed aggregate rides the join's HashPartitioning(tile):
        # the full-candidate-set exchange must be gone ...
        assert not exchange_under_topk_agg(plan, "tile_x")
        # ... while the fixture's unresolved points run ring rounds
        # whose bare-_pid aggregate follows a (_sx, _sy) join and does
        # re-shuffle — the control that the walk above sees exchanges
        assert exchange_under_topk_agg(plan, "_pid")
