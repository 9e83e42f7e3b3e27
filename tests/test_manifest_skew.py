"""Lineage manifest resumability (kill/restart) + skew operator
equivalence tests."""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import functions as F

from conftest import SF_SMALL
from parity import canon_rows

from osm2shp_spark.operators.assemble import assemble_ways
from osm2shp_spark.operators.skew import (
    adaptive_cells,
    assemble_ways_salted,
    cell_histogram,
)
from osm2shp_spark.plans.manifest import Manifest, partition_lineage, run_stage_resumable
from osm2shp_spark.sources.synthetic import (
    synthetic_images,
    synthetic_nodes,
    synthetic_ways,
)


def test_salted_assembly_equivalent(spark):
    nodes = synthetic_nodes(spark, SF_SMALL)
    ways = synthetic_ways(spark, SF_SMALL)
    a = assemble_ways(nodes, ways).toPandas()
    b = assemble_ways_salted(nodes, ways, chunk=3).toPandas()  # tiny chunk → many salts
    assert canon_rows(a) == canon_rows(b)


def test_adaptive_cells_split_hot_only(spark):
    imgs = synthetic_images(spark, SF_SMALL)
    out = adaptive_cells(imgs, base_res=5, hot_threshold=50, max_extra_levels=2)
    pdf = out.toPandas()
    # hot cluster (lon ~8.5, lat ~47.5) should refine; sparse cells stay
    assert (pdf.cell_res > 5).any()
    assert (pdf.cell_res == 5).any()
    # no refined cell may still exceed the threshold at its final level
    # unless it exhausted max_extra_levels
    hist = pdf.groupby(["cell_adaptive", "cell_res"]).size()
    over = hist[hist > 50]
    assert all(res == 7 for (_, res) in over.index)


def test_adaptive_cells_gate_exercises_both_reindex_levels(spark):
    """The registered adaptive_cells gate query (sf0.01, base_res=7,
    threshold=20) must actually take the hot-cell re-index branch at
    BOTH extra levels — res 8 (first split) and res 9 (re-split of a
    still-hot cell) — otherwise the gate row only evidences the cold
    path."""
    from conftest import SF_MED

    from osm2shp_spark import queries as Q

    pdf = Q.q_adaptive_cells(spark, SF_MED).toPandas()
    assert set(pdf.cell_res.unique()) == {7, 8, 9}


def test_lineage_digest_order_insensitive(spark):
    df = synthetic_images(spark, SF_SMALL).select("img_key", "image_id", "lon", "lat")
    part = df.withColumn("part_key", F.col("img_key") % 7)
    a = partition_lineage(part, "s1", "part_key", snapshot_id="x").toPandas()
    b = partition_lineage(
        part.orderBy(F.rand(seed=3)).repartition(17), "s1", "part_key", snapshot_id="x"
    ).toPandas()
    ka = a.sort_values("part_key")[["part_key", "row_count", "digest"]]
    kb = b.sort_values("part_key")[["part_key", "row_count", "digest"]]
    assert ka.values.tolist() == kb.values.tolist()


def _digests(lineage) -> dict:
    return {r.part_key: (r.row_count, r.digest) for r in lineage.collect()}


def test_lineage_digest_changes_only_edited_partition(spark):
    part = (
        synthetic_images(spark, SF_SMALL)
        .select("img_key", "image_id", "lon", "lat")
        .withColumn("part_key", F.col("img_key") % 7)
    )
    victim = part.orderBy("img_key").first()
    edited = part.withColumn(
        "lon",
        F.when(F.col("img_key") == victim.img_key, F.col("lon") + 1e-9).otherwise(
            F.col("lon")
        ),
    )
    a = _digests(partition_lineage(part, "s", "part_key", snapshot_id="x"))
    b = _digests(partition_lineage(edited, "s", "part_key", snapshot_id="x"))
    assert a.keys() == b.keys()
    changed = {k for k in a if a[k] != b[k]}
    assert changed == {victim.part_key}
    assert a[victim.part_key][0] == b[victim.part_key][0]


def test_lineage_digests_nested_binary_and_null_columns(spark):
    df = spark.createDataFrame(
        [
            (1, b"\x00\xffwkb", [1.0, float("nan")], {"name": "a"}, None),
            (1, None, None, None, "x"),
            (2, b"", [], {}, "y"),
            (2, b"\x01", [None, 2.5], {"k": None}, None),
        ],
        "part_key BIGINT, wkb BINARY, lons ARRAY<DOUBLE>, "
        "tags MAP<STRING,STRING>, name STRING",
    )
    got = _digests(partition_lineage(df, "s", "part_key", snapshot_id="x"))
    assert {k: n for k, (n, _) in got.items()} == {1: 2, 2: 2}
    assert all(len(d) == 64 for _, d in got.values())
    assert got[1][1] != got[2][1]
    # a null and an empty value must not collide
    swapped = df.withColumn("wkb", F.when(F.col("wkb").isNull(), F.lit(b"")))
    assert _digests(partition_lineage(swapped, "s", "part_key", "x")) != got


def test_lineage_digests_timestamps_to_the_microsecond(spark):
    micros = 1_700_000_000_123_456
    df = spark.range(4).select(
        (F.col("id") % 2).alias("part_key"),
        F.timestamp_micros(F.lit(micros) + F.col("id")).alias("ts"),
        F.array(F.timestamp_micros(F.lit(micros))).alias("tss"),
    )
    # rows 0 and 1 differ only in the microsecond of ts
    shifted = df.withColumn(
        "ts",
        F.when(F.col("part_key") == 0, F.col("ts") + F.expr("INTERVAL 1 MICROSECOND"))
        .otherwise(F.col("ts")),
    )
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc = _digests(partition_lineage(df, "s", "part_key", "x"))
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        assert _digests(partition_lineage(df, "s", "part_key", "x")) == utc
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    moved = _digests(partition_lineage(shifted, "s", "part_key", "x"))
    assert moved[1] == utc[1] and moved[0] != utc[0]


def test_lineage_plan_has_no_python_exec(spark):
    part = (
        synthetic_images(spark, SF_SMALL)
        .select("img_key", "image_id", "lon", "lat")
        .withColumn("part_key", F.col("img_key") % 7)
    )
    plan = partition_lineage(part, "s", "part_key")._jdf.queryExecution()
    text = plan.optimizedPlan().toString() + plan.executedPlan().toString()
    for node in ("FlatMapGroupsInPandas", "ArrowEvalPython", "MapInPandas"):
        assert node not in text


def test_engine_counts_match_written_rows(spark, tmp_path):
    from osm2shp_spark import engine
    from osm2shp_spark.sources.synthetic import synthetic_nodes, synthetic_ways

    res = engine.run(
        spark,
        synthetic_nodes(spark, SF_SMALL),
        synthetic_ways(spark, SF_SMALL),
        str(tmp_path / "out"),
        images=synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat"),
        hex_resolutions=(7, 9, 12),
    )
    key = {
        "ways": "exported_ways",
        "points": "exported_nodes",
        "images_classified": "classified_images",
    }
    for name, path in res.outputs.items():
        assert res.counts[key[name]] == spark.read.parquet(path).count(), name
    m = Manifest(spark, str(tmp_path / "out" / "_manifest")).read()
    sums = m.groupBy("stage").agg(F.sum("row_count").alias("n")).collect()
    per_stage = {r.stage: r.n for r in sums}
    assert per_stage == {name: res.counts[key[name]] for name in res.outputs}


def test_resume_skips_completed_partitions(spark, tmp_path):
    out_dir = str(tmp_path / "out")
    man_dir = str(tmp_path / "manifest")
    df = (
        synthetic_images(spark, SF_SMALL)
        .select("img_key", "image_id", "lon", "lat")
        .withColumn("part_key", F.col("img_key") % 5)
    )

    def xform(d):
        return d.withColumn("lon2", F.col("lon") * 2)

    # first run: only partitions 0-2 (simulated partial run then crash)
    first = df.filter(F.col("part_key") <= 2)
    r1 = run_stage_resumable(spark, first, "double", "part_key", xform, out_dir, man_dir)
    assert r1.count() == first.count()

    # restart over the FULL input: only partitions 3-4 must process
    r2 = run_stage_resumable(spark, df, "double", "part_key", xform, out_dir, man_dir)
    got_keys = {r.part_key for r in r2.select("part_key").distinct().collect()}
    assert got_keys == {3, 4}

    # final output is complete and byte-identical to a clean one-shot run
    final = spark.read.parquet(out_dir)
    assert final.count() == df.count()
    clean = xform(df)
    assert canon_rows(final.toPandas()) == canon_rows(clean.toPandas())

    # third run: nothing pending
    m = Manifest(spark, man_dir)
    assert m.pending(df, "double", "part_key").count() == 0


def test_cell_histogram_sums_to_total(spark):
    imgs = synthetic_images(spark, SF_SMALL)
    from osm2shp_spark.functions.udfs import hex_cell_udf

    pts = imgs.withColumn("c", hex_cell_udf(7)(F.col("lon"), F.col("lat")))
    h = cell_histogram(pts, "c").toPandas()
    assert h.n.sum() == imgs.count()


def test_resume_heals_unrecorded_partitions_without_duplicates(spark, tmp_path):
    """Crash window between data append and manifest append: the data
    for a partition is fully committed but unrecorded. The resume must
    record its lineage from disk and NOT re-append its rows."""
    out_dir = str(tmp_path / "out")
    man_dir = str(tmp_path / "manifest")
    df = (
        synthetic_images(spark, SF_SMALL)
        .select("img_key", "image_id", "lon", "lat")
        .withColumn("part_key", F.col("img_key") % 5)
    )

    def xform(d):
        return d.withColumn("lon2", F.col("lon") * 2)

    run_stage_resumable(spark, df, "heal", "part_key", xform, out_dir, man_dir)
    n = spark.read.parquet(out_dir).count()
    # simulate the crash window: data committed, manifest rows lost
    import shutil

    shutil.rmtree(man_dir)
    r2 = run_stage_resumable(spark, df, "heal", "part_key", xform, out_dir, man_dir)
    assert r2.count() == 0  # nothing reprocessed
    assert spark.read.parquet(out_dir).count() == n  # no duplicate rows
    m = Manifest(spark, man_dir)
    assert m.pending(df, "heal", "part_key").count() == 0  # manifest healed


def _resume_run(spark, root, df, xform, split):
    """Run ``df`` through run_stage_resumable in one go (``split`` None)
    or as a partial run of keys <= split, a lost manifest (so the
    resume heals it from disk) and a full resume. Returns the output
    rows and the manifest's (stage, key, count, digest) lines."""
    out_dir, man_dir = os.path.join(root, "out"), os.path.join(root, "manifest")
    if split is not None:
        first = df.filter(F.col("part_key") <= split)
        r1 = run_stage_resumable(spark, first, "s", "part_key", xform, out_dir, man_dir)
        assert r1.count() == first.count()
        shutil.rmtree(man_dir)
    r2 = run_stage_resumable(spark, df, "s", "part_key", xform, out_dir, man_dir)
    # the returned slice is evaluated after the manifest append
    rest = df if split is None else df.filter(F.col("part_key") > split)
    assert r2.count() == rest.count()
    rows = canon_rows(spark.read.parquet(out_dir).toPandas())
    lineage = sorted(
        tuple(r)
        for r in Manifest(spark, man_dir)
        .read()
        .select("stage", "part_key", "row_count", "digest")
        .collect()
    )
    return rows, lineage


def test_resume_after_heal_matches_one_shot_run(spark, tmp_path):
    """Healed orphans, the resumed slice and their lineage are the
    same as a single uninterrupted run's."""
    df = (
        synthetic_images(spark, SF_SMALL)
        .select("img_key", "image_id", "lon", "lat")
        .withColumn("part_key", F.col("img_key") % 5)
    )

    def xform(d):
        return d.withColumn("lon2", F.col("lon") * 2)

    once = _resume_run(spark, str(tmp_path / "once"), df, xform, None)
    resumed = _resume_run(spark, str(tmp_path / "resumed"), df, xform, 2)
    assert resumed == once
    assert len(once[1]) == 5
