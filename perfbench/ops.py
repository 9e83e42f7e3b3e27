"""The benchmark's operations, all through the engine's public API.

``convert`` is one CLI-equivalent op: load + ``extract_tags`` +
``engine.run`` with lineage on, into a fresh output dir. ``QUERIES`` is
the fixed read-only query sequence of ``query_mix``; each entry builds
its DataFrame from the staged tables and names the DuckDB reference
its first result is checked against.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import functions as F

from osm2shp_spark import engine
from osm2shp_spark.operators.classify import extract_tags
from osm2shp_spark.operators.dedup import minhash_near_dups, minhash_near_dups_oracle
from osm2shp_spark.operators.images import decode_stats, phash_near_dups
from osm2shp_spark.operators.similarity import cosine_topk
from osm2shp_spark.operators.spatial import (
    COS_REF2,
    knn_join_auto,
    pip_join,
    tile_vector_stats,
)

import reference as R

KNN_K = 3
TOPK_K = 5
PHASH_MAX_HAMMING = 4
MINHASH_THRESHOLD = 0.5
TILE_SIZE = 0.005
#: every TOPK_PROBE_EVERY-th embedding is a cosine probe
TOPK_PROBE_EVERY = 250


def load_convert_inputs(spark, in_dir: str):
    def read(name):
        return spark.read.parquet(os.path.join(in_dir, f"{name}.parquet"))

    return extract_tags(read("nodes")), extract_tags(read("ways")), read("images")


def convert(spark, in_dir: str, out_dir: str, lineage: bool = True):
    """One convert op, as the CLI runs it with ``--images``."""
    nodes, ways, images = load_convert_inputs(spark, in_dir)
    return engine.run(spark, nodes, ways, out_dir, images=images, with_lineage=lineage)


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

@dataclass
class QueryTables:
    """Paths of everything the queries read: one convert's outputs and
    the generated side tables."""

    convert_out: str
    qimages: str
    payloads: str
    n_knn: int
    n_docs: int
    n_topk: int


def _places(spark, t: QueryTables):
    return spark.read.parquet(os.path.join(t.convert_out, "points")).select("node_id", "lon", "lat")


def _polys(spark, t: QueryTables):
    return (
        spark.read.parquet(os.path.join(t.convert_out, "ways"))
        .filter(F.col("kind") == "polygon")
        .select(F.col("way_id").alias("poly_id"), "layer", "lons", "lats")
    )


def _vertices(spark, t: QueryTables):
    return spark.read.parquet(os.path.join(t.convert_out, "ways")).select(
        F.explode(F.arrays_zip("lons", "lats")).alias("v")
    ).select(F.col("v.lons").alias("lon"), F.col("v.lats").alias("lat"))


def _qimages(spark, t: QueryTables):
    return spark.read.parquet(t.qimages)


def q_knn(spark, t):
    pts = _qimages(spark, t).filter(F.col("image_id") <= t.n_knn).select("image_id", "lon", "lat")
    return knn_join_auto(pts, _places(spark, t), k=KNN_K, return_strategy=True)


def q_pip(spark, t):
    pts = _qimages(spark, t).select("image_id", "lon", "lat")
    return pip_join(pts, _polys(spark, t), ("image_id",), ("poly_id", "layer"))


def q_tile_join(spark, t):
    return tile_vector_stats(_qimages(spark, t), _vertices(spark, t), tile_size=TILE_SIZE)


def q_decode(spark, t):
    return decode_stats(spark.read.parquet(t.payloads).drop("mean_px"))


def q_phash(spark, t):
    return phash_near_dups(spark.read.parquet(t.payloads), max_hamming=PHASH_MAX_HAMMING)


def q_minhash(spark, t):
    docs = _qimages(spark, t).filter(F.col("image_id") <= t.n_docs).select(
        F.col("image_id").alias("doc_id"), F.col("caption").alias("text")
    )
    return minhash_near_dups(docs, threshold=MINHASH_THRESHOLD)


def q_topk(spark, t):
    emb = _qimages(spark, t).filter(F.col("image_id") <= t.n_topk).select(
        F.col("image_id").alias("vec_id"), "embedding"
    )
    probes = emb.filter(F.col("vec_id") % TOPK_PROBE_EVERY == 0)
    return cosine_topk(emb, probes, k=TOPK_K)


# --- DuckDB references (same column order as the engine's output) ---------

def _ref_knn(t):
    return f"""
WITH p AS (SELECT image_id, lon, lat FROM read_parquet('{t.qimages}') WHERE image_id <= {t.n_knn}),
f AS ({R.parquet_dir(os.path.join(t.convert_out, 'points'), 'node_id, lon, lat')}),
d AS (
    SELECT p.image_id, f.node_id,
           ((p.lon - f.lon) * (p.lon - f.lon) * {COS_REF2!r}e0
            + (p.lat - f.lat) * (p.lat - f.lat)) AS dist2
    FROM p, f
)
SELECT image_id, CAST(row_number() OVER (PARTITION BY image_id ORDER BY dist2, node_id) AS INTEGER) AS rank,
       node_id, dist2
FROM d QUALIFY rank <= {KNN_K}
"""


def _ref_pip(t):
    return R.pip_sql(
        f"SELECT image_id, lon, lat FROM read_parquet('{t.qimages}')",
        "SELECT way_id AS poly_id, layer, lons, lats FROM ("
        + R.parquet_dir(os.path.join(t.convert_out, "ways"))
        + ") WHERE kind = 'polygon'",
    )


def _ref_tile_join(t):
    ts = f"{TILE_SIZE!r}e0"  # a DOUBLE literal, as the engine writes it
    tile = f"CAST(floor(lon / {ts}) AS BIGINT) AS tile_x, CAST(floor(lat / {ts}) AS BIGINT) AS tile_y"
    return f"""
WITH pt AS (SELECT tile_x, tile_y, count(*) AS n_images FROM (
        SELECT {tile} FROM read_parquet('{t.qimages}')) GROUP BY ALL),
v AS (SELECT unnest(lons) AS lon, unnest(lats) AS lat FROM ({R.parquet_dir(os.path.join(t.convert_out, 'ways'))})),
ft AS (SELECT tile_x, tile_y, count(*) AS n_features FROM (SELECT {tile} FROM v) GROUP BY ALL)
SELECT coalesce(pt.tile_x, ft.tile_x) AS tile_x, coalesce(pt.tile_y, ft.tile_y) AS tile_y,
       coalesce(n_images, 0) AS n_images, coalesce(n_features, 0) AS n_features
FROM pt FULL OUTER JOIN ft ON pt.tile_x = ft.tile_x AND pt.tile_y = ft.tile_y
"""


def _ref_decode(t):
    # every payload is lossless: decode must succeed, match its stored
    # size and phash, and report the generator's pixel mean
    return f"""
SELECT image_id, fmt, w, h, true AS decode_ok, true AS width_matches,
       true AS phash_matches, mean_px, 1e9::DOUBLE AS psnr, caption
FROM read_parquet('{t.payloads}')
"""


def _ref_phash(t):
    return f"""
WITH p AS (SELECT image_id, phash FROM read_parquet('{t.payloads}'))
SELECT a.image_id AS img_a, b.image_id AS img_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
FROM p a JOIN p b ON a.image_id < b.image_id
WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_MAX_HAMMING}
"""


def _ref_minhash(t):
    docs = (
        f"SELECT image_id AS doc_id, caption AS text FROM read_parquet('{t.qimages}') "
        f"WHERE image_id <= {t.n_docs}"
    )
    return minhash_near_dups_oracle(docs, MINHASH_THRESHOLD)


def _ref_topk(t):
    return f"""
WITH e AS (SELECT image_id AS vec_id, embedding FROM read_parquet('{t.qimages}') WHERE image_id <= {t.n_topk}),
p AS (SELECT * FROM e WHERE vec_id % {TOPK_PROBE_EVERY} = 0),
s AS (SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(p.embedding, e.embedding) AS cosine
      FROM p, e WHERE p.vec_id != e.vec_id)
SELECT probe_id, CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank,
       neighbor_id, cosine
FROM s QUALIFY rank <= {TOPK_K}
"""


@dataclass(frozen=True)
class Query:
    name: str
    layer: str  # public function the query exercises
    build: Callable
    reference: Callable
    exact: bool = True  # False: compare the last column by COSINE_TOL


QUERIES: tuple[Query, ...] = (
    Query("knn", "operators.spatial.knn_join_auto", q_knn, _ref_knn),
    Query("pip", "operators.spatial.pip_join", q_pip, _ref_pip),
    Query("tile_join", "operators.spatial.tile_vector_stats", q_tile_join, _ref_tile_join),
    Query("decode", "operators.images.decode_stats", q_decode, _ref_decode),
    Query("phash_dups", "operators.images.phash_near_dups", q_phash, _ref_phash),
    Query("minhash_dups", "operators.dedup.minhash_near_dups", q_minhash, _ref_minhash),
    Query("topk", "operators.similarity.cosine_topk", q_topk, _ref_topk, exact=False),
)


def run_query(spark, q: Query, t: QueryTables):
    """Build and fully materialize one query; returns (arrow table,
    selector choice or None). The Arrow collect is part of the op: it is
    how a caller receives the result."""
    built = q.build(spark, t)
    df, choice = built if isinstance(built, tuple) else (built, None)
    return df.toArrow(), choice


def check_query(con, q: Query, t: QueryTables, got) -> list[str]:
    """Compare one query result (an Arrow table) with its reference."""
    con.register("got", got)
    try:
        ref = q.reference(t)
        cols = ", ".join(got.column_names)
        if q.exact:
            if R.table_hash(con, f"SELECT {cols} FROM got") != R.table_hash(con, f"SELECT {cols} FROM ({ref})"):
                return [f"{q.name}: result differs from the reference"]
            return []
        key = got.column_names[:-1]
        last = got.column_names[-1]
        bad = con.execute(f"""
SELECT count(*) FROM (SELECT {cols} FROM got) g
FULL OUTER JOIN ({ref}) r USING ({', '.join(key)})
WHERE g.{last} IS NULL OR r.{last} IS NULL OR abs(g.{last} - r.{last}) > {R.COSINE_TOL}
""").fetchone()[0]
        n_ref = con.execute(f"SELECT count(*) FROM ({ref})").fetchone()[0]
        if bad or n_ref != got.num_rows:
            return [f"{q.name}: {bad} rows differ from the reference ({got.num_rows} vs {n_ref})"]
        return []
    finally:
        con.unregister("got")


def arrow_hash(con, got) -> tuple[int, int]:
    con.register("got", got)
    try:
        return R.table_hash(con, "SELECT * FROM got")
    finally:
        con.unregister("got")


def query_input_rows(con, t: QueryTables) -> dict[str, int]:
    """Rows each query reads, for rows_per_cpu_s."""
    one = lambda sql: int(con.execute(sql).fetchone()[0])  # noqa: E731
    q = f"read_parquet('{t.qimages}')"
    n_img = one(f"SELECT count(*) FROM {q}")
    n_pay = one(f"SELECT count(*) FROM read_parquet('{t.payloads}')")
    ways = R.parquet_dir(os.path.join(t.convert_out, "ways"))
    n_places = one(f"SELECT count(*) FROM ({R.parquet_dir(os.path.join(t.convert_out, 'points'))})")
    n_polys = one(f"SELECT count(*) FROM ({ways}) WHERE kind = 'polygon'")
    n_verts = one(f"SELECT sum(len(lons)) FROM ({ways})")
    return {
        "knn": min(n_img, t.n_knn) + n_places,
        "pip": n_img + n_polys,
        "tile_join": n_img + n_verts,
        "decode": n_pay,
        "phash_dups": n_pay,
        "minhash_dups": min(n_img, t.n_docs),
        "topk": min(n_img, t.n_topk),
    }
