"""Spatial joins (N3/N4/N5): point-in-polygon, exact kNN, tile↔vector.

Design (SURVEY §4.2): spatial predicates are translated into
*relational* ones — an equi-join on grid tile ids as the prefilter,
then an exact vectorized refine — so Catalyst plans, shuffles and
AQE-skew-handles them like any other join. No custom strategy needed.

Two cell schemes coexist:

- the **flat grid** (``tile_x = floor(lon/ts)``, ``tile_y =
  floor(lat/ts)``) drives join *prefilters* — its covering is a
  trivially exact superset (rectangle of tiles over a bbox), and it is
  portable to the DuckDB oracle, so the whole join is value-checked;
- the **hierarchical cells** (S2 tokens + hex res 7-12,
  ``functions.udfs.with_point_cells``) are the index/rollup columns
  the north rule mandates; the adaptive-split operator re-indexes hot
  tiles at finer resolution.

Exactness: PIP refines with the ray-cast kernel; kNN is *provably*
exact — after the 3x3-tile candidate pass, any point that cannot show
k neighbors inside the guaranteed-covered radius (distance to the
explored-region boundary) falls back to a wider search: a batched
full scan of the broadcast feature arrays when the feature table fits
the budget, widening super-tile ring joins when it does not (r6 —
never a full-table broadcast in the shuffle regime). The oracle
comparison (vs brute force SQL) checks this end to end.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2shp_spark.functions import geometry as G
from osm2shp_spark.operators._livecache import LiveCacheRegistry

#: default tile size in degrees (prefilter grid)
TILE_SIZE = 0.05
#: cos(47.5 deg) — fixed reference latitude of the local metric; the
#: full repr literal is shared verbatim with the SQL oracles so both
#: engines compute bit-identical distances.
COS_REF = 0.6755902076156602
COS_REF2 = COS_REF * COS_REF


def dlit(x: float) -> str:
    """DOUBLE literal portable to both Spark and DuckDB (Spark parses
    bare decimals as DECIMAL; an exponent forces DOUBLE in both)."""
    r = repr(float(x))
    return r if ("e" in r or "E" in r) else r + "e0"


def dist2_expr(lon_a: str, lat_a: str, lon_b: str, lat_b: str) -> str:
    """Squared equirectangular distance, identical text for Spark and
    DuckDB (pure arithmetic — no trig at query time, so IEEE-identical
    across engines; see COS_REF)."""
    return (
        f"(({lon_a} - {lon_b}) * ({lon_a} - {lon_b}) * {dlit(COS_REF2)}"
        f" + ({lat_a} - {lat_b}) * ({lat_a} - {lat_b}))"
    )


def tile_expr(col: str, tile_size: float = TILE_SIZE) -> str:
    return f"CAST(floor({col} / {dlit(tile_size)}) AS BIGINT)"


def with_tiles(
    df: DataFrame, lon_col: str = "lon", lat_col: str = "lat", tile_size: float = TILE_SIZE
) -> DataFrame:
    return df.withColumn("tile_x", F.expr(tile_expr(lon_col, tile_size))).withColumn(
        "tile_y", F.expr(tile_expr(lat_col, tile_size))
    )


# ---------------------------------------------------------------------------
# N3: point-in-polygon join
# ---------------------------------------------------------------------------

#: broadcast budget for polygon rings (vertices ≈ 16 B each → ~160 MB)
MAX_BROADCAST_VERTICES = 10_000_000

#: longest ring the JVM higher-order-function refine handles before the
#: operator falls back to the vectorized NumPy/Arrow refine (the HOF
#: evaluates ~n interpreted edge tests per candidate row; NumPy's SIMD
#: loop wins on very long rings, the JVM path wins everywhere else by
#: never leaving the executor)
MAX_JVM_RING_VERTS = 1024


def pnpoly_sql(px: str, py: str, edges: str = "_edges") -> str:
    """Even-odd ray-cast containment as a pure Spark SQL expression —
    the exact PNPOLY kernel of :func:`functions.geometry.
    points_in_polygon`, evaluated JVM-side via higher-order
    ``filter`` + crossing-count parity, so the refine never crosses
    the Python/Arrow channel.

    Operates on a per-polygon EDGE array (``_with_ring_edges``:
    struct<lons=x1, lats=y1, _x2, _y2> per edge, built ONCE on the
    dimension side), so the per-candidate predicate is one small
    lambda — no ``element_at``/``sequence`` index algebra in the hot
    filter, which keeps the final join stage inside whole-stage
    codegen limits.

    Bit-parity with the NumPy kernel: identical IEEE operation order
    (``xi = x1 + (py - y1)/(y2 - y1) * (x2 - x1)``; SQL ``/`` and
    ``*`` associate left-to-right exactly like the NumPy expression),
    identical half-open crossing convention, and horizontal edges
    self-neutralize the same way (division by zero → ±Inf/NaN, the
    crossing comparison is false, matching ``cond`` being false).
    Rings with fewer than 3 vertices are never inside, as in the
    kernel."""
    crossing = (
        f"((e.lats > {py}) != (e._y2 > {py})) AND "
        f"({px} < e.lons + ({py} - e.lats) / (e._y2 - e.lats) * (e._x2 - e.lons))"
    )
    return (
        f"(size({edges}) >= 3 AND "
        f"(size(filter({edges}, e -> {crossing})) % 2) = 1)"
    )


def _with_ring_edges(polygons: DataFrame) -> DataFrame:
    """Add ``_edges``: the ring's directed edge list (v_i → v_{i+1},
    wrapping) as one array of structs, computed once per polygon on
    the dimension side. Expects OPEN rings (see
    ``_strip_closed_ring``).

    Note: when the polygon source is itself a wide expression tree
    (e.g. the synthetic fixtures), the fused dimension-side
    WholeStageCodegen can exceed janino's 64 KB method limit and that
    ONE tiny stage falls back to interpreted eval — harmless by
    construction (it is the dimension side, linear in polygon count);
    the hot point-side join + refine stage compiles normally."""
    rot = lambda c: (  # noqa: E731 — rotate-left by one
        f"concat(slice({c}, 2, greatest(size({c}) - 1, 0)), "
        f"array(try_element_at({c}, 1)))"
    )
    return (
        polygons.withColumn("_x2", F.expr(rot("lons")))
        .withColumn("_y2", F.expr(rot("lats")))
        .withColumn("_edges", F.expr("arrays_zip(lons, lats, _x2, _y2)"))
        .drop("_x2", "_y2")
    )


def _axis_rect_sql(lons: str, lats: str) -> str:
    """SQL twin of :func:`_is_axis_rect` on an OPEN 4-vertex ring: the
    edges alternate vertical/horizontal (either winding, any starting
    corner) ⟺ the vertices are the bbox corners in traversal order.
    Degenerate (zero-area) rings also match both patterns but have an
    empty strict-bbox interior, so routing them to the rect fast path
    is exact. ``try_element_at``: codegen subexpression elimination
    may evaluate the vertex probes before the size guard, and strict
    ``element_at`` throws on shorter rings — NULL probes make every
    equality NULL → the pattern is false, same routing."""
    e = lambda c, i: f"try_element_at({c}, {i})"  # noqa: E731
    p1 = (
        f"{e(lons, 1)} = {e(lons, 2)} AND {e(lats, 2)} = {e(lats, 3)} AND "
        f"{e(lons, 3)} = {e(lons, 4)} AND {e(lats, 4)} = {e(lats, 1)}"
    )
    p2 = (
        f"{e(lats, 1)} = {e(lats, 2)} AND {e(lons, 2)} = {e(lons, 3)} AND "
        f"{e(lats, 3)} = {e(lats, 4)} AND {e(lons, 4)} = {e(lons, 1)}"
    )
    return f"(size({lons}) = 4 AND (({p1}) OR ({p2})))"


def _strip_closed_ring(polygons: DataFrame) -> DataFrame:
    """Drop the closing duplicate vertex (first == last) from the ring
    arrays — the same normalization the NumPy kernel applies per call,
    done ONCE on the dimension side so the JVM refine expression works
    on open rings. bbox min/max are unaffected.

    The stripped arrays are re-emitted through a single-element
    ``inline`` Generate. That Generate is a projection-collapse
    boundary: without it, every downstream reference (16 vertex probes
    in ``_axis_rect_sql``, two rotations + the 4-way ``arrays_zip`` in
    ``_with_ring_edges``) inlines the full strip CASE — and when the
    ring source is itself a wide expression (the synthetic fixtures),
    the collapsed dimension-side Project blows past janino's 64 KB
    method limit. That compile attempt is doomed but not free: it
    failed on EVERY execution (failures are not cached), ~0.8 s of
    driver wall per pip_rect run before the interpreted fallback.
    Measured: pip_rect 1.54 s -> 0.66 s, compile failures 1/run -> 0.
    The Generate costs one struct per polygon row, no shuffle — free
    at any scale next to the join it feeds."""
    closed = (
        (F.size("lons") >= 2)
        & (F.element_at("lons", 1) == F.element_at("lons", -1))
        & (F.element_at("lats", 1) == F.element_at("lats", -1))
    )
    stripped = polygons.withColumn(
        "lons",
        F.when(closed, F.expr("slice(lons, 1, size(lons) - 1)")).otherwise(
            F.col("lons")
        ),
    ).withColumn(
        "lats",
        F.when(closed, F.expr("slice(lats, 1, size(lats) - 1)")).otherwise(
            F.col("lats")
        ),
    )
    from osm2shp_spark.operators._parallel import collapse_barrier

    return collapse_barrier(stripped)


def _refine_candidates_jvm(cand: DataFrame, out_cols: list[str]) -> DataFrame:
    """Zero-Python exact refine: one pipelined JVM filter directly on
    the join output — axis-rect rings take the strict-bbox fast test,
    everything else the higher-order PNPOLY expression. No second read
    of the candidate subtree (the rect/general split is a CASE, not a
    plan fork), no Arrow round-trip, so the refine scales exactly like
    the tile equi-join feeding it. The rect-ness flag ``_isrect`` was
    evaluated once per polygon on the dimension side (see the callers)
    — the per-candidate filter stays small enough for whole-stage
    codegen."""
    keep = (
        "CASE WHEN _isrect THEN "
        "(_px > _lon_min AND _px < _lon_max AND "
        "_py > _lat_min AND _py < _lat_max) "
        f"ELSE {pnpoly_sql('_px', '_py', '_edges')} END"
    )
    return cand.filter(F.expr(keep)).select(*out_cols)


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    point_cols: tuple[str, ...],
    poly_cols: tuple[str, ...],
    tile_size: float = TILE_SIZE,
    broadcast_rings: bool | None = None,
    max_broadcast_vertices: int = MAX_BROADCAST_VERTICES,
    refine: str = "auto",
    max_jvm_ring_verts: int = MAX_JVM_RING_VERTS,
) -> DataFrame:
    """Inner spatial join: rows of ``points`` inside rows of ``polygons``.

    ``points`` needs (lon, lat) + ``point_cols`` to carry through;
    ``polygons`` needs (lons, lats arrays) + ``poly_cols`` — the FIRST
    poly col must uniquely identify a polygon.

    Plan: polygons explode over their bbox tile rectangle (pure
    Catalyst ``sequence``+``explode`` — exact superset cover), points
    compute their tile, equi-join on tile, bbox pre-cut, then the
    exact ray-cast refine.

    ``refine`` picks the refine engine (``'auto'`` by the polygon-side
    max ring length, from the same one-aggregate pre-pass as the
    broadcast estimate — both table stats in production):

    - ``'jvm'`` (auto default up to ``max_jvm_ring_verts``-vertex
      rings): the PNPOLY ray-cast runs as a higher-order SQL filter
      pipelined straight after the join (:func:`pnpoly_sql`) — zero
      Python workers, zero Arrow serde, bit-identical results to the
      NumPy kernel. The ring arrays ride the (dimension-side) join
      rows; under the vertex budget the whole tiled polygon side is
      hash-broadcast so the big point table never shuffles at all.
    - ``'arrow'`` (auto fallback for very long rings, where NumPy's
      SIMD edge loop beats per-edge interpreted expressions): the
      previous vectorized ``mapInPandas`` refine. There
      ``broadcast_rings`` (None = auto by total-vertex budget)
      decides whether rings travel as ONE numpy broadcast keyed by
      polygon id (slim Arrow payload) or ride the join rows (no
      driver collect at 100x polygon scale).
    """
    est = polygons.agg(
        F.sum(F.size("lons")).alias("verts"),
        F.max(F.size("lons")).alias("max_verts"),
    ).collect()[0]
    total_verts = int(est["verts"] or 0)
    if refine == "auto":
        refine = "jvm" if int(est["max_verts"] or 0) <= max_jvm_ring_verts else "arrow"
    if broadcast_rings is None:
        broadcast_rings = total_verts <= max_broadcast_vertices
    pts = with_tiles(points, tile_size=tile_size).select(
        *point_cols,
        F.col("lon").alias("_px"),
        F.col("lat").alias("_py"),
        "tile_x",
        "tile_y",
    )
    ts = float(tile_size)
    poly_key = poly_cols[0]
    if refine == "jvm":
        polygons = _strip_closed_ring(polygons)
    polys = (
        polygons.withColumn("_lon_min", F.array_min("lons"))
        .withColumn("_lon_max", F.array_max("lons"))
        .withColumn("_lat_min", F.array_min("lats"))
        .withColumn("_lat_max", F.array_max("lats"))
        .withColumn(
            "tile_x",
            F.explode(
                F.sequence(
                    F.expr(tile_expr("_lon_min", ts)), F.expr(tile_expr("_lon_max", ts))
                )
            ),
        )
        .withColumn(
            "tile_y",
            F.explode(
                F.sequence(
                    F.expr(tile_expr("_lat_min", ts)), F.expr(tile_expr("_lat_max", ts))
                )
            ),
        )
    )
    if refine == "jvm":
        # rect-ness + edge list decided ONCE per polygon (dimension
        # side), not per candidate — the refine filter stays one small
        # lambda, inside whole-stage codegen limits
        polys = _with_ring_edges(
            polys.withColumn("_isrect", F.expr(_axis_rect_sql("lons", "lats")))
        )
        ring_cols = ["_edges", "_isrect"]
    else:
        ring_cols = [] if broadcast_rings else ["lons", "lats"]
    polys = polys.select(
        *poly_cols, *ring_cols,
        "_lon_min", "_lon_max", "_lat_min", "_lat_max", "tile_x", "tile_y",
    )
    if refine == "jvm" and broadcast_rings:
        # dimension side fits the budget → hash-broadcast the tiled
        # polygon table: the point side never shuffles and the refine
        # filter pipelines inside the scan stage
        polys = F.broadcast(polys)
    cand = pts.join(polys, ["tile_x", "tile_y"], "inner").filter(
        (F.col("_px") >= F.col("_lon_min"))
        & (F.col("_px") <= F.col("_lon_max"))
        & (F.col("_py") >= F.col("_lat_min"))
        & (F.col("_py") <= F.col("_lat_max"))
    )
    out_cols = list(point_cols) + list(poly_cols)
    if refine == "jvm":
        return _refine_candidates_jvm(cand, out_cols)
    return _refine_candidates(
        cand, points, polygons, poly_key, out_cols, broadcast_rings, ring_cols
    )


def _refine_candidates(
    cand: DataFrame,
    points: DataFrame,
    polygons: DataFrame,
    poly_key: str,
    out_cols: list[str],
    broadcast_rings: bool,
    ring_cols: list[str],
) -> DataFrame:
    """Shared exact-PIP refine stage (flat-grid and S2-covering
    prefilters both feed it): bbox-cut candidates → rect fast path
    entirely JVM-side → vectorized ray-cast for the rest."""
    # slim the Arrow payload: the refine needs only coords + carried
    # columns — the bbox doubles stay JVM-side (the round trip is the
    # stage's bandwidth bill at ~10^7 candidates)
    refine_cols = list(dict.fromkeys(out_cols + ["_px", "_py"] + ring_cols))
    schema = cand.select(*out_cols).schema

    rings_bc = None
    rect_keys: list = []
    if broadcast_rings:
        ring_pdf = polygons.select(poly_key, "lons", "lats").toPandas()
        rings = {}
        for k, lo, la in zip(ring_pdf[poly_key], ring_pdf["lons"], ring_pdf["lats"]):
            rx = np.asarray(lo, np.float64)
            ry = np.asarray(la, np.float64)
            rings[k] = (rx, ry)
            if _is_axis_rect(rx, ry):
                rect_keys.append(k.item() if hasattr(k, "item") else k)
        rings_bc = points.sparkSession.sparkContext.broadcast(rings)

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            px = pdf["_px"].to_numpy(np.float64)
            py = pdf["_py"].to_numpy(np.float64)
            codes, uniques = pd.factorize(pdf[poly_key], sort=False)
            for code, key in enumerate(uniques):
                idx = np.flatnonzero(codes == code)
                if rings_bc is not None:
                    rx, ry = rings_bc.value[key]
                else:
                    rx = np.asarray(pdf["lons"].iloc[idx[0]], np.float64)
                    ry = np.asarray(pdf["lats"].iloc[idx[0]], np.float64)
                keep[idx] = G.points_in_polygon(px[idx], py[idx], rx, ry)
            if keep.any():
                yield pdf.loc[keep, out_cols]

    if rect_keys and rings_bc is not None:
        # rectangle fast path: for an axis-aligned ring the strict bbox
        # cut IS the PIP answer for interior/exterior points, so these
        # candidates never leave the JVM (vertical edges make the
        # ray-cast x-intersection exact in doubles). Points exactly ON
        # a rect edge follow the bbox (excluded) rather than the
        # ray-cast half-open convention — boundary behavior is
        # documented as convention, not contract.
        is_rect = F.col(poly_key).isin(rect_keys)
        rect_hits = cand.filter(is_rect).filter(
            (F.col("_px") > F.col("_lon_min"))
            & (F.col("_px") < F.col("_lon_max"))
            & (F.col("_py") > F.col("_lat_min"))
            & (F.col("_py") < F.col("_lat_max"))
        ).select(*out_cols)
        general = cand.filter(~is_rect).select(*refine_cols)
        if len(rect_keys) == len(rings_bc.value):
            return rect_hits
        return rect_hits.unionByName(general.mapInPandas(refine, schema=schema))

    return cand.select(*refine_cols).mapInPandas(refine, schema=schema)


def pip_join_s2(
    points: DataFrame,
    polygons: DataFrame,
    point_cols: tuple[str, ...],
    poly_cols: tuple[str, ...],
    max_cells_per_poly: int = 64,
    max_level: int = 14,
    broadcast_rings: bool | None = None,
    max_broadcast_vertices: int = MAX_BROADCAST_VERTICES,
    refine: str = "auto",
    max_jvm_ring_verts: int = MAX_JVM_RING_VERTS,
) -> DataFrame:
    """PIP join prefiltered by S2 covering tokens instead of flat-grid
    tiles — the north rule's 'S2 covering tokens for point-in-polygon
    layer classification' as a relational equi-join: polygons explode
    over their bbox covering at a fleet-wide level, points compute
    their single level-L token, join on token, then the shared exact
    refine. Identical results to :func:`pip_join` (equivalence- and
    oracle-tested).

    Level selection: the finest level whose WORST bbox covering fits
    ``max_cells_per_poly`` — one tiny driver pre-pass over bbox spans
    (production: a table stat). A fleet-wide level keeps the join a
    single-key equi-join; per-row adaptive levels are the flat-grid
    path's adaptive-cell territory.

    The covering UDF is fully Arrow-batched: bboxes are computed
    JVM-side (``array_min``/``array_max``) and the whole batch goes
    through ONE vectorized :func:`s2.bbox_covering_batch` call — no
    per-polygon Python. ``broadcast_rings=None`` auto-selects by the
    same vertex budget as :func:`pip_join`; above it the rings ride
    the join rows instead of a driver collect + broadcast.
    """
    from pyspark.sql import types as T

    from osm2shp_spark.functions import s2 as S2
    from osm2shp_spark.functions.udfs import s2_token_udf

    poly_key = poly_cols[0]
    spans = (
        polygons.select(
            (F.array_max("lons") - F.array_min("lons")).alias("dx"),
            (F.array_max("lats") - F.array_min("lats")).alias("dy"),
            F.array_min("lons").alias("x0"),
            F.array_min("lats").alias("y0"),
            F.size("lons").alias("verts"),
        )
        .agg(
            F.max("dx").alias("dx"),
            F.max("dy").alias("dy"),
            F.min("x0").alias("x0"),
            F.min("y0").alias("y0"),
            F.sum("verts").alias("verts"),
            F.max("verts").alias("max_verts"),
        )
        .collect()[0]
    )
    if refine == "auto":
        refine = (
            "jvm" if int(spans["max_verts"] or 0) <= max_jvm_ring_verts else "arrow"
        )
    if broadcast_rings is None:
        broadcast_rings = int(spans["verts"] or 0) <= max_broadcast_vertices
    level = 1
    for lv in range(max_level, 0, -1):
        try:
            S2.bbox_covering(
                spans["x0"], spans["y0"],
                spans["x0"] + float(spans["dx"] or 0.0),
                spans["y0"] + float(spans["dy"] or 0.0),
                lv, max_cells=max_cells_per_poly,
            )
            level = lv
            break
        except ValueError:
            continue

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def cover_tokens(
        x0: pd.Series, y0: pd.Series, x1: pd.Series, y1: pd.Series
    ) -> pd.Series:
        ids = S2.bbox_covering_batch(
            x0.to_numpy(np.float64), y0.to_numpy(np.float64),
            x1.to_numpy(np.float64), y1.to_numpy(np.float64),
            level, max_cells=max_cells_per_poly,
        )
        # one vectorized token pass over ALL coverings (flatten →
        # single hexlify-batched S2.token → split back) — no
        # per-polygon Python formatting
        if not ids:
            return pd.Series([], dtype=object)
        lens = np.fromiter((len(a) for a in ids), np.int64, count=len(ids))
        toks = S2.token(np.concatenate(ids))
        return pd.Series(np.split(toks, np.cumsum(lens)[:-1]))

    if refine == "jvm":
        polygons = _strip_closed_ring(polygons)
    polys = (
        polygons.withColumn("_lon_min", F.array_min("lons"))
        .withColumn("_lon_max", F.array_max("lons"))
        .withColumn("_lat_min", F.array_min("lats"))
        .withColumn("_lat_max", F.array_max("lats"))
        .withColumn(
            "_tok",
            F.explode(
                cover_tokens("_lon_min", "_lat_min", "_lon_max", "_lat_max")
            ),
        )
    )
    if refine == "jvm":
        polys = _with_ring_edges(
            polys.withColumn("_isrect", F.expr(_axis_rect_sql("lons", "lats")))
        )
        ring_cols = ["_edges", "_isrect"]
    else:
        ring_cols = [] if broadcast_rings else ["lons", "lats"]
    polys = polys.select(
        *poly_cols, *ring_cols,
        "_lon_min", "_lon_max", "_lat_min", "_lat_max", "_tok",
    )
    if refine == "jvm" and broadcast_rings:
        polys = F.broadcast(polys)
    pts = points.select(
        *point_cols,
        F.col("lon").alias("_px"),
        F.col("lat").alias("_py"),
        s2_token_udf(level)(F.col("lon"), F.col("lat")).alias("_tok"),
    )
    cand = pts.join(polys, "_tok", "inner").filter(
        (F.col("_px") >= F.col("_lon_min"))
        & (F.col("_px") <= F.col("_lon_max"))
        & (F.col("_py") >= F.col("_lat_min"))
        & (F.col("_py") <= F.col("_lat_max"))
    )
    out_cols = list(point_cols) + list(poly_cols)
    if refine == "jvm":
        return _refine_candidates_jvm(cand, out_cols)
    return _refine_candidates(
        cand, points, polygons, poly_key, out_cols, broadcast_rings, ring_cols
    )


def _is_axis_rect(rx: np.ndarray, ry: np.ndarray) -> bool:
    """True when the ring is exactly an axis-aligned rectangle (its
    vertices are the 4 bbox corners)."""
    if len(rx) >= 2 and rx[0] == rx[-1] and ry[0] == ry[-1]:
        rx, ry = rx[:-1], ry[:-1]
    if len(rx) != 4:
        return False
    xs, ys = set(rx.tolist()), set(ry.tolist())
    if len(xs) != 2 or len(ys) != 2:
        return False
    corners = set(zip(rx.tolist(), ry.tolist()))
    x0, x1 = sorted(xs)
    y0, y1 = sorted(ys)
    return corners == {(x0, y0), (x1, y0), (x1, y1), (x0, y1)}


# ---------------------------------------------------------------------------
# N4: exact kNN nearest-feature join
# ---------------------------------------------------------------------------

#: broadcast budget for the feature side of kNN (rows ≈ 24 B each)
MAX_BROADCAST_FEATURES = 10_000_000


def _knn_shuffle(
    points: DataFrame,
    features: DataFrame,
    k: int,
    point_id: str,
    feature_id: str,
    tile_size: float,
) -> DataFrame:
    """Shuffle path of :func:`knn_join_auto` (feature table over the
    broadcast budget) → (point_id, rank, feature_id, dist2).

    Features explode to their 3x3 tile neighborhood and equi-join
    points on tile (shuffle-friendly, skew handled by AQE). A point's
    result is provably exact when its kth distance is within the
    guaranteed-covered radius (one full tile ring in the scaled
    metric); the remainder resolves by iterative tile-ring expansion
    (:func:`_knn_ring_expand` — never a full-table broadcast in the
    very regime where the feature table failed the budget). The
    fallback subtree is built only when the materialized top-k summary
    actually contains unresolved points; the summary count also means
    this function triggers the candidate join eagerly (the result
    DataFrame then reads the persisted summary).

    Candidate diet (r6): the provable-radius cut ``dist2 <= rho2``
    rides the tile join's condition, so candidates beyond the
    guaranteed-covered radius never reach the top-k aggregate —
    identical results (a point is resolved iff it has >= k features
    inside the covered disc, and those ARE its k nearest), ~4x fewer
    aggregate input rows at uniform density (measured sf0.1: 8.67M ->
    2.12M candidate rows; the left join still emits one null-extended
    row for points with no in-radius candidate, which keeps the
    single-scan unresolved bookkeeping intact).

    The per-point top-k aggregate is keyed by ``(tile_x, tile_y,
    _pid)``, not ``_pid``. Identical groups — a point sits in exactly
    one tile — but the join's HashPartitioning(tile) already satisfies
    the aggregate's ClusteredDistribution (subset rule), so candidates
    never leave their join partition (measured 4x at sf0.1 during the
    r5 rewrite, commit 3cd18e5; plan-asserted in tests/test_spatial.py
    TestKnnShufflePlan). Over the broadcast budget the 9x exploded
    feature side (> 90M rows) is far above the session's
    autoBroadcastJoinThreshold, so the planner picks a shuffle join.
    """
    # the ±1-tile neighborhood explode rides the FEATURE side: a
    # feature in tile t is a candidate for points in t's 3x3 ring ⟺
    # a point in tile p sees features from p's 3x3 ring — the same
    # candidate set either way, but the dimension table is the small
    # side, so the 9x row fan-out (and the shuffle it feeds) stays off
    # the big point table
    feats = (
        with_tiles(features, tile_size=tile_size)
        .withColumn("_dx", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
        .withColumn("_dy", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
        .select(
            F.col(feature_id).alias("_fid"),
            F.col("lon").alias("_flon"),
            F.col("lat").alias("_flat"),
            (F.col("tile_x") + F.col("_dx")).alias("tile_x"),
            (F.col("tile_y") + F.col("_dy")).alias("tile_y"),
        )
    )
    pts = with_tiles(points, tile_size=tile_size).select(
        F.col(point_id).alias("_pid"),
        F.col("lon").alias("_plon"),
        F.col("lat").alias("_plat"),
        "tile_x",
        "tile_y",
    )
    d2 = dist2_expr("_plon", "_plat", "_flon", "_flat")
    # Per-point top-k as an AGGREGATE (slice(array_sort(collect_list)))
    # instead of a row_number window. Equivalent ordering — array_sort
    # on struct(dist2, _fid) is the same (dist2 ASC, _fid ASC) total
    # order the window used — but the physical plan is much cheaper:
    # the window path pays a map-side UnsafeExternalSorter sort of the
    # FULL candidate set (string point ids in the sort key) before
    # Spark 4's WindowGroupLimit(Partial) can truncate it; the agg
    # path replaces that one big row sort with a codegen'd array_sort
    # per point (~ring-count elements each). Measured at sf0.1
    # local[32] during the r5 rewrite (commit 3cd18e5): topk-stage
    # shuffle regime 5.56s -> 1.36s.
    #
    # groupBy(tile_x, tile_y, _pid) reuses the join's
    # HashPartitioning(tile) via the subset rule — candidates NEVER
    # cross the wire, only the k survivors per point move on. The point
    # table is scanned exactly once: the tile join is LEFT outer, so
    # zero-candidate points reach the persisted topk summary and the
    # fallback set is read off that summary instead of a second
    # full-table anti-join scan.
    tile_keys = ["tile_x", "tile_y"]
    # guaranteed covered radius: one tile in every direction; lon tiles
    # shrink by COS_REF in the scaled metric
    rho2 = (tile_size * COS_REF) ** 2
    # LEFT join, not inner: a point whose 3x3 ring holds no feature
    # still gets one (null-candidate) row, so EVERY point appears in
    # the topk summary below and the unresolved set can be read off
    # that persisted summary — the big point table is scanned exactly
    # ONCE (the old inner-join shape needed a second full scan for the
    # fallback anti-join; at 10^12-point scale that second scan is the
    # single largest avoidable cost in the operator).
    # The dist2 <= rho2 cut is PART of the join condition: candidates
    # outside the covered disc can never contribute to a resolved
    # point's top-k, and unresolved points recompute from scratch in
    # the fallback — so dropping them here is result-identical and
    # starves the aggregate of ~3/4 of its input (measured sf0.1:
    # 8.67M -> 2.12M candidate rows; see docstring).
    p, f = pts.alias("p"), feats.alias("f")
    cond = (
        (F.col("p.tile_x") == F.col("f.tile_x"))
        & (F.col("p.tile_y") == F.col("f.tile_y"))
        & (F.expr(d2) <= F.lit(rho2))
    )
    cand = p.join(f, cond, "left").select(
        *[F.col(f"p.{c}").alias(c) for c in tile_keys],
        "_pid", "_plon", "_plat", "_fid", F.expr(d2).alias("dist2"),
    )
    topk = (
        cand.groupBy(*tile_keys, "_pid")
        .agg(
            # when() guards the null-candidate rows of the left join:
            # when -> NULL entries, which collect_list skips
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_fid").isNotNull(),
                            F.struct("dist2", "_fid"),
                        )
                    )
                ),
                1,
                k,
            ).alias("_top"),
            F.first("_plon").alias("_plon"),
            F.first("_plat").alias("_plat"),
        )
        .select(
            "_pid",
            "_plon",
            "_plat",
            F.size("_top").alias("_n"),
            F.expr(
                "transform(_top, (p, i) -> struct("
                "cast(i + 1 as int) as rank, p._fid as _fid, p.dist2 as dist2))"
            ).alias("_hits"),
        )
        # Referenced three times downstream (solved / anti-join /
        # fallback), so materialize once. With the old window plan,
        # localCheckpoint beat persist (AQE pinning cost 3x); with the
        # agg plan the economics flip — re-measured end-to-end at
        # sf0.1 local[32]: persist 1.32s vs localCheckpoint 4.94s vs
        # recompute-3x 6.14s (the checkpoint's rdd-compile pays a
        # non-AQE pass over the whole subtree; the cached plan is
        # already exchange-free). MEMORY_AND_DISK default spills the
        # per-point summary at scale instead of OOMing.
        .persist()
    )
    # every collected candidate already satisfies dist2 <= rho2 (join
    # condition), so "resolved" collapses to having k of them: those k
    # ARE the k nearest (the disc is guaranteed fully covered)
    solved = (
        topk.filter(F.col("_n") >= k)
        .select("_pid", F.explode("_hits").alias("h"))
        .select(
            F.col("_pid").alias(point_id),
            F.col("h.rank").alias("rank"),
            F.col("h._fid").alias(feature_id),
            F.col("h.dist2").alias("dist2"),
        )
    )
    # fallback: ring-expanding search for unresolved points, read off
    # the persisted summary — NOT a second scan of the point table. The
    # count below materializes the summary (one job; every downstream
    # consumer then reads the cache) and gates the whole fallback
    # subtree: when nothing is unresolved the returned plan contains
    # no ring machinery at all.
    unresolved = topk.filter(F.col("_n") < k).select("_pid", "_plon", "_plat")
    _register_summary(topk)
    if unresolved.count() == 0:
        return solved
    brute = _knn_ring_expand(
        unresolved, features, k, point_id, feature_id, tile_size
    )
    return solved.unionByName(brute)


def _knn_ring_expand(
    unresolved: DataFrame,
    features: DataFrame,
    k: int,
    point_id: str,
    feature_id: str,
    tile_size: float,
) -> DataFrame:
    """Straggler resolution for the over-budget regime: widen the
    explored region by doubling a SUPER-TILE size (radius 2, 4, 8, ...
    base tiles — O(log tiles) rounds to cover the global feature
    extent) and re-join each round as a plain equi-join on the
    super-tile key — the feature table is NEVER broadcast wholesale
    (it just failed the broadcast budget; OOMing the driver with it is
    the failure mode this path exists to avoid).

    Per round the remaining points explode over their 3x3 SUPER-tile
    ring — a constant 9x fan-out at every radius (an explicit
    (2r+1)^2 base-tile explode would grow quadratically with r) —
    while features carry their single super-tile, recomputed per round
    by one map-only expression on the tile ints. Exactness: a point
    inside super-tile s has its whole [−r, +r] base-tile neighborhood
    inside the 3x3 super-ring, so the covered disc has scaled radius
    r*ts*COS_REF; a point with >= k candidates inside that disc is
    exactly resolved (same argument as the 3x3 base pass). The final
    round is the one whose super-ring covers the whole feature tile
    bbox from every remaining point — there the candidate set is
    complete and every point resolves unconditionally.

    Each round joins only the still-unresolved points (re-persisted
    per round so lineage does not compound); the feature side streams
    through the equi-join, and AQE/the planner remain free to pick the
    join strategy per round from actual sizes.
    """
    feats = with_tiles(features, tile_size=tile_size).select(
        F.col(feature_id).alias("_fid"),
        F.col("lon").alias("_flon"),
        F.col("lat").alias("_flat"),
        "tile_x",
        "tile_y",
    )
    # global feature tile bbox: the termination bound (one
    # partial-aggregated column-pruned pass; a table stat in production)
    bb = feats.agg(
        F.min("tile_x").alias("x0"),
        F.max("tile_x").alias("x1"),
        F.min("tile_y").alias("y0"),
        F.max("tile_y").alias("y1"),
    ).collect()[0]
    out_schema = (
        f"{point_id} {dict((fl.name, fl.dataType.simpleString()) for fl in unresolved.schema.fields)['_pid']}, "
        f"rank INT, {feature_id} {dict((fl.name, fl.dataType.simpleString()) for fl in feats.schema.fields)['_fid']}, "
        "dist2 DOUBLE"
    )
    spark = unresolved.sparkSession
    if bb["x0"] is None:
        # no features at all: brute force over an empty table yields no
        # rows for any point — return the empty result directly
        return spark.createDataFrame([], out_schema)
    d2 = dist2_expr("_plon", "_plat", "_flon", "_flat")
    ts = float(tile_size)
    # localCheckpoint (eager) throughout the loop: every round's piece
    # stays referenced by the final result, so lineage must be cut per
    # round or a recompute would re-derive all earlier rounds
    remaining = (
        unresolved.withColumn("_ptx", F.expr(tile_expr("_plon", ts)))
        .withColumn("_pty", F.expr(tile_expr("_plat", ts)))
        .localCheckpoint()
    )
    offs = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    pieces: list[DataFrame] = []
    r = 2
    while True:
        ext = remaining.agg(
            F.min(F.floor(F.col("_ptx") / r)).alias("x0"),
            F.max(F.floor(F.col("_ptx") / r)).alias("x1"),
            F.min(F.floor(F.col("_pty") / r)).alias("y0"),
            F.max(F.floor(F.col("_pty") / r)).alias("y1"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        if ext["n"] == 0:
            break
        # the 3x3 super-ring at size r covers the feature bbox from
        # EVERY remaining point ⟺ even the extreme points' rings
        # contain the bbox's super-tile extent
        complete = (
            ext["x1"] - 1 <= bb["x0"] // r
            and ext["x0"] + 1 >= bb["x1"] // r
            and ext["y1"] - 1 <= bb["y0"] // r
            and ext["y0"] + 1 >= bb["y1"] // r
        )
        sfeats = feats.withColumn(
            "_sx", F.floor(F.col("tile_x") / r)
        ).withColumn("_sy", F.floor(F.col("tile_y") / r)).drop(
            "tile_x", "tile_y"
        )
        ring = (
            remaining.withColumn("_dx", F.explode(offs))
            .withColumn("_dy", F.explode(offs))
            .select(
                "_pid",
                "_plon",
                "_plat",
                (F.floor(F.col("_ptx") / r) + F.col("_dx")).alias("_sx"),
                (F.floor(F.col("_pty") / r) + F.col("_dy")).alias("_sy"),
            )
        )
        rho2_r = (r * ts * COS_REF) ** 2
        cand = ring.join(sfeats, ["_sx", "_sy"], "inner").select(
            "_pid", "_plon", "_plat", "_fid", F.expr(d2).alias("dist2")
        )
        if not complete:
            cand = cand.filter(F.col("dist2") <= F.lit(rho2_r))
        # localCheckpoint, not persist: pieces from EVERY round stay
        # referenced by the final result, and an LRU-evicted persist
        # would recompute its whole remaining-chain lineage —
        # compounding across rounds. The checkpoint materializes the
        # (straggler-sized) round summary eagerly and truncates the
        # lineage, so round n never re-derives rounds 1..n-1.
        topr = (
            cand.groupBy("_pid")
            .agg(
                F.slice(
                    F.array_sort(F.collect_list(F.struct("dist2", "_fid"))),
                    1,
                    k,
                ).alias("_top"),
                F.first("_plon").alias("_plon"),
                F.first("_plat").alias("_plat"),
            )
            .select(
                "_pid",
                "_plon",
                "_plat",
                F.size("_top").alias("_n"),
                F.expr(
                    "transform(_top, (p, i) -> struct("
                    "cast(i + 1 as int) as rank, p._fid as _fid, "
                    "p.dist2 as dist2))"
                ).alias("_hits"),
            )
            .localCheckpoint()
        )
        done = topr if complete else topr.filter(F.col("_n") >= k)
        pieces.append(
            done.select("_pid", F.explode("_hits").alias("h")).select(
                F.col("_pid").alias(point_id),
                F.col("h.rank").alias("rank"),
                F.col("h._fid").alias(feature_id),
                F.col("h.dist2").alias("dist2"),
            )
        )
        if complete:
            break
        # anti-join on the resolved ids, NOT topr's _n < k rows: a
        # point with an empty ring this round has no topr row at
        # all (inner join) and must still carry forward
        remaining = remaining.join(
            topr.filter(F.col("_n") >= k).select("_pid"),
            "_pid",
            "left_anti",
        ).localCheckpoint()
        r *= 2
    out = pieces[0]
    for piece in pieces[1:]:
        out = out.unionByName(piece)
    return out


#: live persisted top-k summaries, oldest first. CacheManager holds
#: persisted plans until explicit unpersist (ContextCleaner only
#: reclaims RDD-level state), so without a bound a long-lived session
#: calling the kNN shuffle path in a loop accumulates one O(points)
#: cache entry per call. A result-lifetime hook (weakref.finalize on the returned
#: DataFrame) is the obvious alternative but breaks under composition:
#: any ``.select()``/``union`` wrapper drops the Python object before
#: materialization and the summary would unpersist pre-execution. The
#: LRU bound keeps caching intact for any consumption pattern of the
#: most recent calls while capping live entries.
_MAX_LIVE_SUMMARIES = 4
_SUMMARY_REGISTRY = LiveCacheRegistry(_MAX_LIVE_SUMMARIES)
#: test-visible alias of the registry's live list (oldest first)
_LIVE_SUMMARIES = _SUMMARY_REGISTRY.entries


def _register_summary(df: DataFrame) -> None:
    _SUMMARY_REGISTRY.register(df)


def _knn_broadcast(
    points: DataFrame,
    features: DataFrame,
    k: int,
    point_id: str,
    feature_id: str,
    tile_size: float,
) -> DataFrame:
    """Zero-shuffle exact kNN for broadcastable feature sets (the named-
    place dimension table stays small even at planet scale). Identical
    semantics and bit-identical distances to :func:`_knn_shuffle` (same
    IEEE arithmetic, same (dist2, id) tie-break): features are bucketed
    by tile into a numpy broadcast; each points partition groups its
    points by tile (all points in a tile share one candidate set),
    computes the full tile-vs-candidates distance matrix in one NumPy
    op, applies the provable-radius test per row, and falls back to a
    batched full matrix scan for the rare unprovable points — all in
    one ``mapInPandas`` pass, no shuffle, no per-row Python.

    Tie-break vectorization: candidate columns are pre-sorted by
    feature id once per tile, so a *stable* argsort on dist2 alone
    reproduces the (dist2, id) lexicographic order row-wise in one
    C-level call.

    The driver collect is unguarded here: :func:`knn_join_auto` calls
    this only after its count proved the feature table in budget.
    """
    feat_pdf = features.select(feature_id, "lon", "lat").toPandas()
    # global feature order by id: with columns pre-sorted by id, a
    # stable sort on dist2 == lexsort((id, dist2))
    g_order = np.argsort(feat_pdf[feature_id].to_numpy(), kind="stable")
    fid = feat_pdf[feature_id].to_numpy()[g_order]
    flon = feat_pdf["lon"].to_numpy(np.float64)[g_order]
    flat = feat_pdf["lat"].to_numpy(np.float64)[g_order]
    tx = np.floor(flon / tile_size).astype(np.int64)
    ty = np.floor(flat / tile_size).astype(np.int64)
    buckets: dict[tuple[int, int], np.ndarray] = {}
    order = np.lexsort((ty, tx))
    sorted_keys = np.stack([tx[order], ty[order]], axis=1)
    starts = np.flatnonzero(
        np.concatenate(([True], np.any(np.diff(sorted_keys, axis=0) != 0, axis=1)))
    )
    bounds = np.append(starts, len(order))
    for i, s in enumerate(starts):
        key = (int(sorted_keys[s, 0]), int(sorted_keys[s, 1]))
        # keep each bucket id-sorted (order[] picks ascending positions
        # within a tile, and positions are already id-sorted globally)
        buckets[key] = np.sort(order[s : bounds[i + 1]])
    bc = points.sparkSession.sparkContext.broadcast((buckets, fid, flon, flat))
    rho2 = (tile_size * COS_REF) ** 2
    ts = float(tile_size)

    out_schema = (
        f"{point_id} {dict((f.name, f.dataType.simpleString()) for f in points.schema.fields)[point_id]}, "
        f"rank INT, {feature_id} {dict((f.name, f.dataType.simpleString()) for f in features.schema.fields)[feature_id]}, "
        "dist2 DOUBLE"
    )

    def run(batches):
        buckets_, fid_, flon_, flat_ = bc.value
        n_feat = len(fid_)

        def topk_matrix(plon: np.ndarray, plat: np.ndarray, cand: np.ndarray):
            """(m,) points vs (n,) id-sorted candidate idx → per-row
            top-min(k,n) candidate indices + dist2, (dist2, id)-ordered."""
            dlon = plon[:, None] - flon_[cand][None, :]
            dlat = plat[:, None] - flat_[cand][None, :]
            d2 = dlon * dlon * COS_REF2 + dlat * dlat
            o = np.argsort(d2, axis=1, kind="stable")[:, : min(k, len(cand))]
            return cand[o], np.take_along_axis(d2, o, axis=1)

        def emit(pids_sel, top_i, top_d, rows_out):
            m, kk = top_i.shape
            rows_out.append(
                pd.DataFrame(
                    {
                        point_id: np.repeat(pids_sel, kk),
                        "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32), m),
                        feature_id: fid_[top_i.ravel()],
                        "dist2": top_d.ravel(),
                    }
                )
            )

        for pdf in batches:
            if pdf.empty:
                continue
            pids = pdf[point_id].to_numpy()
            plons = pdf["lon"].to_numpy(np.float64)
            plats = pdf["lat"].to_numpy(np.float64)
            ptx = np.floor(plons / ts).astype(np.int64)
            pty = np.floor(plats / ts).astype(np.int64)
            out_frames: list[pd.DataFrame] = []
            unsolved_idx: list[np.ndarray] = []
            # group points by tile — every point in a tile shares the
            # identical 3x3 candidate set, so the distance matrix and
            # top-k run once per tile, fully vectorized
            _, inv = np.unique(
                np.stack([ptx, pty], axis=1), axis=0, return_inverse=True
            )
            order_p = np.argsort(inv, kind="stable")
            grp_starts = np.flatnonzero(
                np.concatenate(([True], np.diff(inv[order_p]) != 0))
            )
            grp_bounds = np.append(grp_starts, len(order_p))
            for gi, gs in enumerate(grp_starts):
                sel = order_p[gs : grp_bounds[gi + 1]]
                t_x, t_y = int(ptx[sel[0]]), int(pty[sel[0]])
                cand_parts = [
                    buckets_.get((t_x + dx, t_y + dy))
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
                cand_parts = [c for c in cand_parts if c is not None]
                if cand_parts:
                    # concatenating id-sorted buckets needs one re-sort
                    cand = np.sort(np.concatenate(cand_parts))
                    top_i, top_d = topk_matrix(plons[sel], plats[sel], cand)
                    if top_i.shape[1] >= k:
                        # col -1 IS the kth distance (shape[1]==k here)
                        solved = top_d[:, -1] <= rho2
                    else:
                        solved = np.zeros(len(sel), dtype=bool)
                    if solved.any():
                        emit(pids[sel[solved]], top_i[solved], top_d[solved], out_frames)
                    if not solved.all():
                        unsolved_idx.append(sel[~solved])
                else:
                    unsolved_idx.append(sel)
            if unsolved_idx:
                # batched exact fallback: one matrix vs ALL features
                sel = np.concatenate(unsolved_idx)
                top_i, top_d = topk_matrix(
                    plons[sel], plats[sel], np.arange(n_feat)
                )
                emit(pids[sel], top_i, top_d, out_frames)
            if out_frames:
                yield pd.concat(out_frames, ignore_index=True)

    from osm2shp_spark.operators._parallel import ensure_min_parallelism

    # the numpy kernel is partition-parallel only — a 1-split point
    # scan would run it in one task (r6, guide §2.5); identity when the
    # scan already splits wide enough
    return ensure_min_parallelism(
        points.select(point_id, "lon", "lat")
    ).mapInPandas(run, schema=out_schema)


def knn_join_auto(
    points: DataFrame,
    features: DataFrame,
    k: int,
    point_id: str = "image_id",
    feature_id: str = "node_id",
    tile_size: float = TILE_SIZE,
    max_broadcast_features: int = MAX_BROADCAST_FEATURES,
    return_strategy: bool = False,
) -> DataFrame:
    """Exact k nearest features per point → (point_id, rank, feature_id,
    dist2) — the one public kNN entry point. Local equirectangular
    metric (see COS_REF), ties broken by feature id — fully
    deterministic.

    Strategy: the zero-shuffle broadcast path (:func:`_knn_broadcast`)
    when the feature table fits ``max_broadcast_features`` (named-place
    dimension tables stay small even at planet scale), else the
    shuffle path (:func:`_knn_shuffle`: tile equi-join +
    provable-radius exactness + AQE skew splitting + ring-expanding
    fallback). Both paths are bit-identical (same IEEE distance, same
    tie-break); the count pre-pass is metadata-backed on
    parquet/Iceberg. ``return_strategy`` also returns the choice.
    """
    n = features.count()
    if n <= max_broadcast_features:
        choice, out = "broadcast", _knn_broadcast(
            points, features, k, point_id, feature_id, tile_size
        )
    else:
        choice, out = "shuffle", _knn_shuffle(
            points, features, k, point_id, feature_id, tile_size
        )
    return (out, choice) if return_strategy else out


# ---------------------------------------------------------------------------
# N5: raster-tile ↔ vector-layer join
# ---------------------------------------------------------------------------

def tile_vector_stats(
    points: DataFrame,
    features: DataFrame,
    tile_size: float = TILE_SIZE,
) -> DataFrame:
    """Per-tile rollup joining image points with vector features:
    (tile_x, tile_y, n_images, n_features). Tiles with no features or
    no images keep 0 on the missing side (full outer semantics).
    Pure Catalyst: two partial-aggregated groupBys + one join on the
    tile key — the cheapest possible plan at 100 TB.
    """
    pt = (
        with_tiles(points, tile_size=tile_size)
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_images"))
    )
    ft = (
        with_tiles(features, tile_size=tile_size)
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_features"))
    )
    return (
        pt.join(ft, ["tile_x", "tile_y"], "full_outer")
        .select(
            "tile_x",
            "tile_y",
            F.coalesce("n_images", F.lit(0)).alias("n_images"),
            F.coalesce("n_features", F.lit(0)).alias("n_features"),
        )
    )
