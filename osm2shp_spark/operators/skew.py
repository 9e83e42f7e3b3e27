"""Skew handling (N6): salted two-stage geometry assembly for
mega-ways, histogram-driven adaptive cell splitting for hot tiles.

AQE's skew-join splitting (enabled in session defaults) covers the
shuffle-join side; this module covers the two cases AQE can't:

- **mega-way collect_list skew**: a 20k-ref way funnels 20k rows into
  one reducer key. ``assemble_ways_salted`` splits each way's refs
  into fixed-size positional chunks (salt = pos / chunk), assembles
  chunks in a first groupBy (bounded per-key fan-in), then
  concatenates ordered chunks in a second, tiny groupBy. Ordered
  aggregation composes because the salt *is* the position prefix —
  sort by chunk id, flatten, and the original order is restored.
- **hot-cell fan-out**: dense urban tiles blow up cell-equi-joins.
  ``adaptive_cells`` computes a cell histogram, broadcasts the hot
  set (count > threshold), and re-indexes only those points at the
  next-finer resolution — the adaptive cell splitting the north rule
  names.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2shp_spark.functions.udfs import hex_cell_udf
from osm2shp_spark.operators._livecache import LiveCacheRegistry
from osm2shp_spark.operators.classify import classify_ways, staged_nodes

DEFAULT_CHUNK = 1024


def assemble_ways_salted(
    nodes: DataFrame, ways: DataFrame, chunk: int = DEFAULT_CHUNK,
    defer_filters: bool = False,
) -> DataFrame:
    """Skew-proof variant of ``assemble.assemble_ways`` — identical
    output (equivalence-tested), bounded reducer keys.

    Stage 1 groups on (way_id, pos DIV chunk): no key sees more than
    ``chunk`` rows regardless of way size. Stage 2 groups the per-way
    chunk summaries (≤ n_refs/chunk rows per way — 20 for a 20k-ref
    mega-way at the default chunk), flattens in chunk order.
    """
    from osm2shp_spark.rules import pair_kind_sql, pair_layer_sql, way_pair_idx_sql

    if chunk > 32767:
        raise ValueError("chunk must fit smallint in-chunk positions (<= 32767)")
    classified = classify_ways(ways, defer_filters=defer_filters)
    # same tinyint (layer, kind) coding as assemble_ways: 1 byte of
    # classification through the exploded join + BOTH groupBy shuffles.
    # Exchange diet: global order = (chunk_id, pos % chunk), so only
    # the smallint in-chunk offset rides the shuffles — the full int
    # pos never leaves the map side (pos < n_refs can exceed smallint
    # on mega-ways, pos % chunk < chunk never does). chunk_id as int is
    # always safe: pos comes from posexplode and is itself a 32-bit
    # int, so chunk_id = pos / chunk <= 2^31 / chunk fits by construction.
    exploded = (
        classified.select(
            F.col("id").alias("way_id"),
            F.expr(way_pair_idx_sql()).alias("_li"),
            "n_refs",
            F.posexplode("refs").alias("pos", "ref"),
        )
        .withColumn("chunk_id", (F.col("pos") / F.lit(chunk)).cast("int"))
        .withColumn("pos", (F.col("pos") % F.lit(chunk)).cast("smallint"))
    )
    build = staged_nodes(nodes)
    joined = exploded.join(build, exploded.ref == build.id, "inner").select(
        "way_id", "_li", "n_refs", "chunk_id", "pos", "lon", "lat"
    )
    chunks = joined.groupBy("way_id", "_li", "n_refs", "chunk_id").agg(
        F.count(F.lit(1)).alias("chunk_n"),
        F.array_sort(F.collect_list(F.struct("pos", "lon", "lat"))).alias("pts"),
    )
    return (
        chunks.groupBy("way_id", "_li", "n_refs")
        .agg(
            F.sum("chunk_n").alias("n_resolved"),
            F.flatten(
                F.expr(
                    "transform(array_sort(collect_list(struct(chunk_id, pts))), c -> c.pts)"
                )
            ).alias("pts"),
        )
        .filter(F.col("n_resolved") == F.col("n_refs"))
        .select(
            "way_id",
            F.expr(pair_layer_sql("_li")).alias("layer"),
            F.expr(pair_kind_sql("_li")).alias("kind"),
            F.col("n_refs").cast("int").alias("n_pts"),
            F.expr("transform(pts, p -> p.lon)").alias("lons"),
            F.expr("transform(pts, p -> p.lat)").alias("lats"),
        )
    )


def cell_histogram(points: DataFrame, cell_col: str) -> DataFrame:
    """Per-cell row counts (the pre-pass feeding salt factors and the
    adaptive split). One partial-aggregated shuffle."""
    return points.groupBy(cell_col).agg(F.count(F.lit(1)).alias("n"))


def adaptive_cells(
    points: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    base_res: int = 8,
    hot_threshold: int = 1000,
    max_extra_levels: int = 2,
    cell_col: str | None = None,
) -> DataFrame:
    """Add ``cell_adaptive`` (+ ``cell_res``): the base-res hex cell,
    except points in hot cells (count > threshold) re-index one (or
    more) resolution(s) finer until the histogram cools or
    ``max_extra_levels`` is hit.

    Iterative pre-pass: histogram → broadcast hot set → conditional
    re-index. The loop runs on aggregated counts only (tiny), never on
    the point table.

    ``cell_col``: an existing column already holding the base-res hex
    cell id (e.g. ``hex_r{base_res}`` from ``with_point_cells``) —
    reusing it skips a full-table Arrow pass through the cell UDF.
    """
    base = (
        F.col(cell_col)
        if cell_col is not None
        else hex_cell_udf(base_res)(F.col(lon_col), F.col(lat_col))
    )
    out = points.withColumn("cell_adaptive", base).withColumn(
        "cell_res", F.lit(base_res)
    )
    for extra in range(1, max_extra_levels + 1):
        res = base_res + extra
        # persist the level input (r6, ADVICE r5): it is referenced by
        # the histogram pre-pass AND both branches of the
        # filter-then-union below, so without it every extra level
        # re-evaluates the previous level's full union (with its
        # Arrow re-index) ~3x — compounding 3^levels upstream
        # recomputations. The LRU registry bounds live cache entries
        # across calls exactly like the kNN summary registry.
        out = out.persist()
        _register_level(out)
        hist = cell_histogram(
            out.filter(F.col("cell_res") == res - 1), "cell_adaptive"
        ).filter(F.col("n") > hot_threshold)
        hot = hist.select(F.col("cell_adaptive").alias("_hot_cell"))
        # filter-then-union, NOT a CASE WHEN around the UDF: Spark
        # extracts a pandas UDF inside a conditional into its own
        # ArrowEvalPython node evaluated for EVERY row (when() only
        # selects afterward), which would charge all points a full
        # Arrow pass per extra level — the re-index must run on the
        # hot subset only, as documented
        joined = out.join(
            F.broadcast(hot), out.cell_adaptive == hot._hot_cell, "left_outer"
        )
        cold = joined.filter(F.col("_hot_cell").isNull()).drop("_hot_cell")
        hot_pts = (
            joined.filter(F.col("_hot_cell").isNotNull())
            .drop("_hot_cell")
            .withColumn(
                "cell_adaptive", hex_cell_udf(res)(F.col(lon_col), F.col(lat_col))
            )
            .withColumn("cell_res", F.lit(res))
        )
        out = cold.unionByName(hot_pts)
    return out


#: live persisted per-level inputs of adaptive_cells — the level input
#: cannot be unpersisted eagerly because the returned (lazy) union
#: still references it, so the shared bounded registry caps live
#: entries (see operators._livecache).
_LEVEL_REGISTRY = LiveCacheRegistry(4)
_register_level = _LEVEL_REGISTRY.register


def salt_column(df: DataFrame, key_col: str, factor: int) -> DataFrame:
    """Generic salting helper: deterministic salt in [0, factor) for
    repartition-before-hot-aggregation patterns."""
    return df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(key_col)), F.lit(factor))
    ).repartition(F.col(key_col), F.col("_salt"))
