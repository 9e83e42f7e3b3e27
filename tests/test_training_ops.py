"""Training-data pipeline operator tests: dedup recall/precision on
injected duplicates, LSH behavior, exact-vs-approx agreement."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from conftest import SF_SMALL

from osm2shp_spark import queries as Q
from osm2shp_spark.operators.dedup import minhash_near_dups, simhash_near_dups
from osm2shp_spark.operators.similarity import cosine_topk


def test_exact_dedup_finds_injected_dups(spark):
    df = Q.q_exact_dedup(spark, SF_SMALL).toPandas()
    dups = df[df.n_dups > 1]
    # every 10th doc has a case-changed copy → one dup group each
    assert len(dups) > 0
    assert (dups.n_dups == 2).all()
    # keeper is always the original (smaller id)
    assert (dups.keeper < 1000000).all()


def test_minhash_catches_exact_dups_with_full_recall(spark):
    """Identical normalized texts have identical signatures → always
    collide in every band; the injected dup pairs must all surface."""
    docs = Q._docs_aug(spark, SF_SMALL)
    pairs = minhash_near_dups(docs, threshold=0.99).toPandas()
    injected = {
        (int(r.doc_id), int(r.doc_id) + 1000000)
        for r in docs.filter("doc_id < 1000000 AND doc_id % 10 = 0").collect()
    }
    got = {(int(a), int(b)) for a, b in zip(pairs.doc_a, pairs.doc_b)}
    assert injected <= got


def test_simhash_catches_exact_dups(spark):
    docs = Q._docs_aug(spark, SF_SMALL)
    pairs = simhash_near_dups(docs, max_hamming=0).toPandas()
    injected = {
        (int(r.doc_id), int(r.doc_id) + 1000000)
        for r in docs.filter("doc_id < 1000000 AND doc_id % 10 = 0").collect()
    }
    got = {(int(a), int(b)) for a, b in zip(pairs.doc_a, pairs.doc_b)}
    assert injected <= got
    assert (pairs.hamming == 0).all()


def test_embedding_near_dups_full_recall_on_injected(spark):
    df = Q.q_embedding_near_dups(spark, SF_SMALL).toPandas()
    emb_n = spark.table("embeddings").count()
    expected = {
        (v, v + 1000000) for v in range(0, emb_n, 25)
    }
    got = {(int(a), int(b)) for a, b in zip(df.vec_a, df.vec_b)}
    # scalar-affine perturbation keeps cosine ≈ 1 → banded LSH must
    # recover every injected pair
    assert expected <= got


def test_lsh_topk_subset_of_exact_ranking(spark):
    """Every (probe, neighbor) the LSH path returns must appear in the
    exact full ranking with identical cosine (the re-rank is exact)."""
    emb = spark.table("embeddings") if "embeddings" in [
        t.name for t in spark.catalog.listTables()
    ] else None
    if emb is None:
        from osm2shp_spark.sources.tables import register_driver_tables

        register_driver_tables(spark, SF_SMALL)
        emb = spark.table("embeddings")
    probes = emb.filter("vec_id % 50 = 0")
    exact = cosine_topk(emb, probes, k=1000).toPandas()
    approx = Q.q_ann_cosine_lsh(spark, SF_SMALL).toPandas()
    exact_map = {
        (int(r.probe_id), int(r.neighbor_id)): r.cosine for _, r in exact.iterrows()
    }
    for _, r in approx.iterrows():
        key = (int(r.probe_id), int(r.neighbor_id))
        assert key in exact_map
        assert r.cosine == exact_map[key]


def test_jaccard_blocked_never_crosses_blocks(spark):
    docs = Q._docs(spark, SF_SMALL)
    pairs = Q.q_jaccard_pairs(spark, SF_SMALL)
    src = docs.select("doc_id", "source")
    joined = (
        pairs.join(src.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("source", "src_a"), "doc_a")
        .join(src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("source", "src_b"), "doc_b")
    )
    assert joined.filter(F.col("src_a") != F.col("src_b")).count() == 0


def test_lang_id_deterministic_and_total(spark):
    df = Q.q_lang_id(spark, SF_SMALL).toPandas()
    assert df.pred_lang.notna().all()
    df2 = Q.q_lang_id(spark, SF_SMALL).toPandas()
    assert df.sort_values("doc_id").pred_lang.tolist() == df2.sort_values("doc_id").pred_lang.tolist()


def test_jaccard_block_size_guard(spark):
    """One mega-block must fail fast (or be skipped) instead of going
    quadratic — the documented scale guard."""
    import pytest as _pytest

    from osm2shp_spark.operators.dedup import jaccard_pairs_blocked
    from osm2shp_spark.sources.tables import register_driver_tables

    register_driver_tables(spark, SF_SMALL)
    docs = spark.table("documents")
    with _pytest.raises(ValueError, match="max_block_size"):
        jaccard_pairs_blocked(docs, 0.5, max_block_size=1).count()
    # skip mode drops the oversize blocks and proceeds
    assert (
        jaccard_pairs_blocked(
            docs, 0.5, max_block_size=1, on_oversize="skip"
        ).count()
        == 0
    )


def test_stratified_sample_deterministic_and_quota(spark):
    from osm2shp_spark.operators.sampling import DEFAULT_RATES

    a = Q.q_stratified_sample(spark, SF_SMALL).toPandas()
    b = Q.q_stratified_sample(spark, SF_SMALL).toPandas()
    # rerun-idempotent: identical membership and splits
    key = lambda d: sorted(map(tuple, d.values.tolist()))
    assert key(a) == key(b)
    assert set(a.split) <= {"train", "val", "test"}
    # every kept row respects its stratum quota
    for _, r in a.iterrows():
        assert r.bucket < DEFAULT_RATES.get(r.lang, 1000)
    # split fractions roughly 8/1/1 over kept rows
    frac_train = (a.split == "train").mean()
    assert 0.6 < frac_train < 0.95


def test_stratified_sample_is_map_only(spark):
    plan = (
        Q.q_stratified_sample(spark, SF_SMALL)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # zero-shuffle map-filter


def test_multimodal_pairs_canonical_election(spark):
    from osm2shp_spark.sources.fixtures import (
        generate_images_pdf,
        images_count_for_sf,
    )

    df = Q.q_multimodal_pairs(spark, SF_SMALL).toPandas()
    n = images_count_for_sf(SF_SMALL)
    assert len(df) == n
    # exactly one canonical pair per distinct phash
    n_phash = generate_images_pdf(n).phash.nunique()
    assert int(df.is_canonical.sum()) == n_phash
    # languages are from the closed set (or undetermined)
    assert set(df.pred_lang) <= {"de", "en", "es", "fr", "zh", "und"}
    assert (df.n_bpe_tokens > 0).all()


def test_quality_score_empty_text_no_ansi_crash(spark):
    """An empty document must not abort the job under Spark 4's default
    ANSI mode (the punct/n_chars division): NULL punct_ratio, score via
    the ELSE branches — matching the DuckDB twin's x/0 -> NULL."""
    import duckdb

    from osm2shp_spark.operators.text import quality_score, quality_score_oracle

    docs = spark.createDataFrame(
        [(1, ""), (2, "the quick brown fox, it is fine.")], "doc_id INT, text STRING"
    )
    got = quality_score(docs).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert got.punct_ratio.isna()[0]
    want = (
        duckdb.sql(
            quality_score_oracle(
                "SELECT 1 AS doc_id, '' AS text "
                "UNION ALL SELECT 2, 'the quick brown fox, it is fine.'"
            )
        )
        .df()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert got.quality.tolist() == want.quality.tolist()
    assert got.stop_hits.tolist() == want.stop_hits.tolist()


def test_cosine_topk_zero_norm_vector_no_ansi_crash(spark):
    """An all-zero embedding must not abort the job (ANSI divide by
    zero in the norm product): its cosine is NULL and it ranks below
    every real neighbor."""
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
        (3, [0.0, 0.0]),  # zero-norm
        (4, [0.5, 0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    out = cosine_topk(df, df.filter("vec_id = 1"), k=3).toPandas()
    assert len(out) == 3
    by_rank = out.sort_values("rank")
    # the zero vector is last (NULL cosine sorts after real values desc)
    assert by_rank.neighbor_id.tolist()[-1] == 3
    assert np.isnan(by_rank.cosine.tolist()[-1])


def test_stratified_sample_negative_keys_respect_quota(spark):
    """Signed keys (snowflake-style ids) must still land in [0, 1000)
    buckets and obey the stratum quota — and the shared bucket_sql text
    must agree with DuckDB on the same rows."""
    import duckdb

    from osm2shp_spark.operators.sampling import (
        stratified_sample,
        stratified_sample_oracle,
    )

    rows = [(i, "en") for i in range(-500, 0)] + [(i, "de") for i in range(500)]
    docs = spark.createDataFrame(rows, "doc_id LONG, lang STRING")
    got = stratified_sample(docs).toPandas()
    assert (got.bucket >= 0).all() and (got.bucket < 1000).all()
    for _, r in got.iterrows():
        assert r.bucket < {"en": 200, "de": 500}[r.lang]
    # en quota 200/1000 must actually bite on the negative-key stratum
    assert 0 < (got.lang == "en").sum() < 500
    src = (
        "SELECT * FROM (SELECT UNNEST(range(-500, 0)) AS doc_id, 'en' AS lang) "
        "UNION ALL "
        "SELECT * FROM (SELECT UNNEST(range(0, 500)) AS doc_id, 'de' AS lang)"
    )
    want = duckdb.sql(stratified_sample_oracle(src)).df()
    key = lambda d: sorted(map(tuple, d[["doc_id", "bucket", "split"]].values.tolist()))
    assert key(got) == key(want)


def test_cosine_topk_numpy_path_bit_identical_to_sql(spark):
    """r6: the broadcast-numpy cosine scorer must reproduce the SQL
    fold path bit for bit — same cosines (IEEE order preserved), same
    tie-breaks, NULL for zero-norm vectors — including a corpus with
    exact-duplicate vectors (cosine ties at the top-k boundary) and an
    all-zero vector."""
    import pandas as pd

    from osm2shp_spark.sources.tables import register_driver_tables

    register_driver_tables(spark, SF_SMALL)
    emb = spark.table("embeddings")
    probes = emb.filter("vec_id % 50 = 0")
    a = (
        cosine_topk(emb, probes, k=5, max_broadcast_probes=None)
        .toPandas()
        .sort_values(["probe_id", "rank"])
        .reset_index(drop=True)
    )
    b = (
        cosine_topk(emb, probes, k=5)
        .toPandas()
        .sort_values(["probe_id", "rank"])
        .reset_index(drop=True)
    )
    assert a.equals(b)

    # adversarial: duplicated vectors (boundary ties) + zero vector
    base = [[float((i * 7 + j) % 5 - 2) for j in range(4)] for i in range(6)]
    rows = []
    vid = 0
    for copies, vec in zip((3, 3, 2, 1, 1, 1), base):
        for _ in range(copies):
            rows.append((vid, vec))
            vid += 1
    rows.append((vid, [0.0, 0.0, 0.0, 0.0]))  # zero-norm -> NULL cosine
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pr = df.filter("vec_id in (0, 3, 11)")
    x = (
        cosine_topk(df, pr, k=4, max_broadcast_probes=None)
        .toPandas()
        .sort_values(["probe_id", "rank"])
        .reset_index(drop=True)
    )
    y = (
        cosine_topk(df, pr, k=4)
        .toPandas()
        .sort_values(["probe_id", "rank"])
        .reset_index(drop=True)
    )
    assert x.equals(y)
