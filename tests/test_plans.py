"""Physical-plan assertions: the Catalyst behaviors the 100 TB design
relies on must actually appear in the plans (pushdown, pruning,
broadcast, no cartesian products in joins that must scale)."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_SMALL

from osm2shp_spark.operators.assemble import assemble_ways
from osm2shp_spark.operators.classify import staged_nodes
from osm2shp_spark.operators.spatial import pip_join, tile_vector_stats
from osm2shp_spark.sources.tables import register_driver_tables
from osm2shp_spark.sources.synthetic import (
    synthetic_images,
    synthetic_nodes,
    synthetic_rects,
    synthetic_ways,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_to_parquet(spark):
    register_driver_tables(spark, SF_SMALL)
    df = spark.table("lineitem").filter(F.col("l_orderkey") == 42).select("l_quantity")
    p = _plan(df)
    assert "PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)]" in p


def test_column_pruning_staged_nodes(spark):
    """The join build side must scan only the columns it projects —
    Catalyst pruning pushes the 3-column schema into the part scan."""
    df = staged_nodes(synthetic_nodes(spark, SF_SMALL))
    p = _plan(df)
    # part has 6 columns; the staged projection needs p_partkey only
    # (lon/lat derive from it) — p_name must NOT be read for the
    # id>0-filtered branch... it is needed for tag_name in the union
    # source, so assert at least that p_type/p_brand/p_retailprice are
    # pruned away
    assert "p_type" not in p and "p_brand" not in p and "p_retailprice" not in p


def test_assembly_has_no_cartesian(spark):
    df = assemble_ways(
        synthetic_nodes(spark, SF_SMALL), synthetic_ways(spark, SF_SMALL)
    )
    p = _plan(df)
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p or "ShuffledHashJoin" in p


def test_pip_prefilter_is_equi_join(spark):
    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    rects = synthetic_rects(spark, SF_SMALL).select(
        "rect_id",
        "layer",
        F.array("lon_min", "lon_max", "lon_max", "lon_min", "lon_min").alias("lons"),
        F.array("lat_min", "lat_min", "lat_max", "lat_max", "lat_min").alias("lats"),
    )
    p = _plan(pip_join(imgs, rects, ("image_id",), ("rect_id", "layer")))
    # the spatial predicate must have become a relational equi-join on
    # tile keys — never a cartesian/BNLJ over the full tables
    assert "CartesianProduct" not in p
    assert "tile_x" in p and "tile_y" in p


def test_assembly_shuffles_carry_tinyint_rule_index(spark):
    """The (layer, kind) strings must NOT ride the exploded ref join /
    reassembly shuffles — classification travels as the 1-byte _li
    pair index and decodes after the aggregate."""
    df = assemble_ways(
        synthetic_nodes(spark, SF_SMALL), synthetic_ways(spark, SF_SMALL)
    )
    p = _plan(df)
    assert "_li" in p
    # decode arrays appear once, above the final aggregate
    assert "roadbig_line" in p


def test_pip_jvm_refine_never_leaves_the_jvm(spark):
    """The default (short-ring) PIP plan must contain NO Python
    execution node — the PNPOLY refine is a higher-order SQL filter —
    and must hash-broadcast the tiled polygon dimension under the
    vertex budget, so the point table neither shuffles nor crosses
    the Arrow channel."""
    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    rects = synthetic_rects(spark, SF_SMALL).select(
        "rect_id",
        "layer",
        F.array("lon_min", "lon_max", "lon_max", "lon_min", "lon_min").alias("lons"),
        F.array("lat_min", "lat_min", "lat_max", "lat_max", "lat_min").alias("lats"),
    )
    p = _plan(pip_join(imgs, rects, ("image_id",), ("rect_id", "layer")))
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p
    assert "BatchEvalPython" not in p
    assert "BroadcastHashJoin" in p
    assert "Exchange hashpartitioning" not in p  # point side: no shuffle


def test_tile_stats_partial_aggregation(spark):
    imgs = synthetic_images(spark, SF_SMALL)
    places = synthetic_nodes(spark, SF_SMALL).filter("id > 0").select("id", "lon", "lat")
    p = _plan(tile_vector_stats(imgs, places))
    # map-side partial aggregation before the shuffle (two-phase agg)
    assert p.count("HashAggregate") >= 4


def test_way_assembly_min_vertex_filter_before_join(spark):
    """The min-vertex/layer filters must run before the explode+join
    (the reference filters before resolution too, handler.cc:112-116)."""
    df = assemble_ways(
        synthetic_nodes(spark, SF_SMALL), synthetic_ways(spark, SF_SMALL)
    )
    p = _plan(df)
    assert "Generate" in p  # the posexplode is present
    assert "CASE WHEN" in p  # layer/kind classification stayed in plan


def test_auto_strategy_selection(spark):
    """The size-estimate auto-selectors must pick the documented paths
    and stay result-equivalent to the pinned paths."""
    from parity import canon_rows

    from osm2shp_spark.operators.assemble import assemble_ways_auto
    from osm2shp_spark.operators.spatial import knn_join_auto

    nodes = synthetic_nodes(spark, SF_SMALL)
    ways = synthetic_ways(spark, SF_SMALL)
    # default: the Catalyst general path
    df, strategy = assemble_ways_auto(nodes, ways, return_strategy=True)
    assert strategy == "general"
    assert canon_rows(df.toPandas()) == canon_rows(
        assemble_ways(nodes, ways).toPandas()
    )
    # mega-way threshold trips -> salted (checked first, highest risk)
    _, strategy = assemble_ways_auto(
        nodes, ways, mega_threshold=2, return_strategy=True
    )
    assert strategy == "salted"
    # small feature table -> zero-shuffle broadcast kNN
    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    feats = nodes.filter("id > 0").selectExpr("id AS node_id", "lon", "lat")
    _, strategy = knn_join_auto(imgs, feats, k=3, return_strategy=True)
    assert strategy == "broadcast"
    _, strategy = knn_join_auto(
        imgs, feats, k=3, max_broadcast_features=1, return_strategy=True
    )
    assert strategy == "shuffle"


def test_pip_auto_broadcast_selection(spark):
    """pip_join's default must auto-broadcast small polygon sets and
    switch the rings onto the join rows above the vertex budget
    (both paths produce identical rows)."""
    from parity import canon_rows

    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    rects = synthetic_rects(spark, SF_SMALL).select(
        "rect_id",
        "layer",
        F.array("lon_min", "lon_max", "lon_max", "lon_min", "lon_min").alias("lons"),
        F.array("lat_min", "lat_min", "lat_max", "lat_max", "lat_min").alias("lats"),
    )
    auto = pip_join(imgs, rects, ("image_id",), ("rect_id", "layer"))
    rows_auto = canon_rows(auto.toPandas())
    # above-budget: rings ride the join rows (no driver collect)
    riding = pip_join(
        imgs, rects, ("image_id",), ("rect_id", "layer"),
        max_broadcast_vertices=1,
    )
    assert canon_rows(riding.toPandas()) == rows_auto


def test_way_assembly_salted_plan_is_two_stage(spark):
    """The registered mega-way query must actually execute the salted
    two-stage aggregation: the chunk salt key appears in the plan and
    there are two grouping stages (chunked assembly + chunk concat),
    each with partial aggregation."""
    from osm2shp_spark import queries as Q

    df = Q.q_way_assembly_salted(spark, SF_SMALL)
    p = _plan(df)
    assert "chunk_id" in p
    # collect_list aggregations surface as ObjectHashAggregate (or
    # SortAggregate fallback); two groupBys x (partial + final) = 4
    assert p.count("ObjectHashAggregate") + p.count("SortAggregate") >= 4
    assert "CartesianProduct" not in p


def test_zorder_read_query_pushes_key_ranges(spark):
    """The registered zorder_bbox_read query's scan must carry the
    zkey range predicates as PushedFilters (file/row-group pruning),
    plus the exact lon/lat refine."""
    from osm2shp_spark import queries as Q

    p = _plan(Q.REGISTRY["zorder_bbox_read"][0](spark, SF_SMALL))
    assert "PushedFilters" in p and "zkey" in p
    assert "GreaterThanOrEqual(zkey" in p or "LessThanOrEqual(zkey" in p


def test_ivf_flat_plan_shape(spark):
    """IVF assignment is an INTENTIONAL broadcast nested-loop of rows x
    n_cells (the standard IVF indexing bill); everything else must be
    hash joins — never an unbroadcast cartesian."""
    from osm2shp_spark import queries as Q

    p = _plan(Q.q_ann_cosine_ivf(spark, SF_SMALL))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # the n_cells assignment
    assert "BroadcastHashJoin" in p  # the cell-candidate join


def test_corpus_curation_plan_shape(spark):
    """The curation pipeline must stay all-JVM hash joins + partial
    aggregates (no cartesian, no Python stage)."""
    from osm2shp_spark import queries as Q

    p = _plan(Q.REGISTRY["corpus_curation"][0](spark, SF_SMALL))
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_defer_filters_keeps_classification_off_the_scan(spark):
    """r6: with ``defer_filters`` the classification predicates must
    NOT be extracted and pushed to the base-table scan (where the
    optimizer re-expands them into a per-base-row boolean tower on a
    possibly 1-split, single-task stage). The scan node's DataFilters
    carried the expanded ``CASE WHEN ... THEN true`` tower before the
    fix."""
    df = assemble_ways(
        synthetic_nodes(spark, SF_SMALL),
        synthetic_ways(spark, SF_SMALL),
        defer_filters=True,
    )
    p = _plan(df)
    assert "DataFilters: [CASE WHEN" not in p
    # the collapse barriers are single-element inline Generates
    assert "inline(array(struct" in p


def test_defer_filters_default_still_pushes(spark):
    """The default (parquet-shaped inputs) must keep pushdown — the
    barrier is opt-in, not a blanket pessimization."""
    df = assemble_ways(
        synthetic_nodes(spark, SF_SMALL), synthetic_ways(spark, SF_SMALL)
    )
    p = _plan(df)
    assert "inline(array(struct" not in p


def test_pip_dimension_side_has_collapse_barrier(spark):
    """r6: the polygon dimension side materializes the stripped rings
    through an inline Generate so the 16-probe rect test + edge
    rotation reference attributes instead of re-inlining the strip
    CASE (which blew past janino's 64 KB limit and paid a doomed
    compile on every execution)."""
    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    rects = synthetic_rects(spark, SF_SMALL).select(
        "rect_id",
        "layer",
        F.array("lon_min", "lon_max", "lon_max", "lon_min", "lon_min").alias("lons"),
        F.array("lat_min", "lat_min", "lat_max", "lat_max", "lat_min").alias("lats"),
    )
    p = _plan(pip_join(imgs, rects, ("image_id",), ("rect_id", "layer")))
    assert "inline(array(struct" in p


def test_collapse_barrier_rejects_unknown_keep(spark):
    """A misspelled ``keep`` name must fail loudly: silently dropping
    it would lose the partitioning reuse it was passed to preserve."""
    import pytest

    from osm2shp_spark.operators._parallel import collapse_barrier

    df = spark.range(3).withColumn("v", F.col("id") * 2)
    assert collapse_barrier(df, keep=("id",)).columns == ["id", "v"]
    with pytest.raises(ValueError, match="nope"):
        collapse_barrier(df, keep=("id", "nope"))
