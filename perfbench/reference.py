"""Output checks: DuckDB recomputations over the generated parquet.

The convert reference re-derives exported ways, points and classified
images from the raw inputs, with the layer rules that
``osm2shp_spark.rules`` emits as SQL; the PIP reference is a brute-force
ray cast over polygon edges. The query references are brute force
(kNN, phash pairs, tile counts, cosine top-k) or the engine's published
DuckDB twin (MinHash). Every comparison is by order-insensitive content
hash (sum of DuckDB row hashes) or, for cosine values, by tolerance.
"""

from __future__ import annotations

import os

import duckdb

from osm2shp_spark.rules import (
    NAME_WIDTH,
    TAG_KEYS,
    min_vertex_sql,
    node_layer_sql,
    tag_col,
    way_kind_sql,
    way_layer_sql,
)

#: cosine values may differ in the last bits between the engine's fold
#: and DuckDB's list_cosine_similarity
COSINE_TOL = 1e-9


def connect(temp_dir: str | None = None) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    if temp_dir is not None:
        con.execute(f"SET temp_directory = '{temp_dir}'")
    return con


def _tags(path: str) -> str:
    cols = ", ".join(
        f"map_extract(tags, '{k}')[1] AS {tag_col(k)}" for k in TAG_KEYS
    )
    return f"SELECT * EXCLUDE (tags), {cols} FROM read_parquet('{path}')"


def table_hash(con, sql: str) -> tuple[int, int]:
    """(rows, order-insensitive content hash) of a query's result."""
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash(t)::HUGEINT), 0) FROM ({sql}) t"
    ).fetchone()
    return int(n), int(h)


def parquet_dir(path: str, cols: str = "*") -> str:
    return (
        f"SELECT {cols} FROM read_parquet('{path}/**/*.parquet', "
        "hive_partitioning = true)"
    )


def pip_sql(points_sql: str, polys_sql: str) -> str:
    """Brute-force even-odd ray cast of every point against every
    polygon whose bbox holds it; (image_id, poly_id, layer) per hit.
    Same crossing rule and arithmetic order as the engine's kernel."""
    return f"""
WITH pts AS ({points_sql}),
polys AS (
    SELECT poly_id, layer,
           CASE WHEN len(lons) >= 2 AND lons[1] = lons[-1] AND lats[1] = lats[-1]
                THEN list_slice(lons, 1, len(lons) - 1) ELSE lons END AS xs,
           CASE WHEN len(lons) >= 2 AND lons[1] = lons[-1] AND lats[1] = lats[-1]
                THEN list_slice(lats, 1, len(lats) - 1) ELSE lats END AS ys
    FROM ({polys_sql})
),
boxes AS (
    SELECT poly_id, layer, list_min(xs) AS x0, list_max(xs) AS x1,
           list_min(ys) AS y0, list_max(ys) AS y1
    FROM polys WHERE len(xs) >= 3
),
edges AS (
    SELECT poly_id, unnest(xs) AS ex1, unnest(ys) AS ey1,
           unnest(list_concat(list_slice(xs, 2, len(xs)), [xs[1]])) AS ex2,
           unnest(list_concat(list_slice(ys, 2, len(ys)), [ys[1]])) AS ey2
    FROM polys WHERE len(xs) >= 3
),
cand AS (
    SELECT p.image_id, p.lon, p.lat, b.poly_id, b.layer
    FROM pts p JOIN boxes b
      ON p.lon >= b.x0 AND p.lon <= b.x1 AND p.lat >= b.y0 AND p.lat <= b.y1
)
SELECT c.image_id, c.poly_id, c.layer
FROM cand c JOIN edges e ON c.poly_id = e.poly_id
GROUP BY c.image_id, c.poly_id, c.layer
HAVING sum(CASE WHEN ((e.ey1 > c.lat) != (e.ey2 > c.lat))
                 AND (c.lon < e.ex1 + (c.lat - e.ey1) / (e.ey2 - e.ey1) * (e.ex2 - e.ex1))
                THEN 1 ELSE 0 END) % 2 = 1
"""


class ConvertReference:
    """Expected convert outputs for one generated input directory."""

    def __init__(self, con, in_dir: str):
        self.con = con
        nodes = os.path.join(in_dir, "nodes.parquet")
        ways = os.path.join(in_dir, "ways.parquet")
        images = os.path.join(in_dir, "images.parquet")
        con.execute(f"CREATE OR REPLACE TEMP VIEW ref_nodes AS {_tags(nodes)}")
        con.execute(f"CREATE OR REPLACE TEMP VIEW ref_ways_raw AS {_tags(ways)}")
        con.execute(f"CREATE OR REPLACE TEMP VIEW ref_images AS SELECT * FROM read_parquet('{images}')")
        con.execute(f"""
CREATE OR REPLACE TEMP TABLE ref_routed AS
SELECT id, refs, n_refs, kind, {way_layer_sql('kind')} AS layer
FROM (SELECT *, {way_kind_sql()} AS kind, len(refs) AS n_refs FROM ref_ways_raw)
WHERE {min_vertex_sql('kind', 'n_refs')} AND {way_layer_sql('kind')} IS NOT NULL
""")
        con.execute("""
CREATE OR REPLACE TEMP TABLE ref_ways AS
WITH ex AS (
    SELECT id, layer, kind, n_refs, unnest(refs) AS ref,
           unnest(generate_series(1, len(refs))) AS pos
    FROM ref_routed
),
j AS (
    SELECT ex.*, n.lon, n.lat FROM ex JOIN ref_nodes n ON ex.ref = n.id AND n.id > 0
)
SELECT id AS way_id, layer, kind, CAST(n_refs AS INTEGER) AS n_pts,
       list(lon ORDER BY pos) AS lons, list(lat ORDER BY pos) AS lats
FROM j GROUP BY id, layer, kind, n_refs HAVING count(*) = n_refs
""")
        con.execute(f"""
CREATE OR REPLACE TEMP TABLE ref_points AS
SELECT id AS node_id, layer, substring({tag_col('name')}, 1, {NAME_WIDTH}) AS name, lon, lat
FROM (SELECT *, {node_layer_sql()} AS layer FROM ref_nodes
      WHERE id > 0 AND {tag_col('name')} IS NOT NULL)
WHERE layer IS NOT NULL
""")
        con.execute("CREATE OR REPLACE TEMP TABLE ref_polys AS "
                    "SELECT way_id AS poly_id, layer, lons, lats FROM ref_ways WHERE kind = 'polygon'")
        con.execute(
            "CREATE OR REPLACE TEMP TABLE ref_classified AS "
            + pip_sql("SELECT image_id, lon, lat FROM ref_images", "SELECT * FROM ref_polys")
        )
        self.routed_ways = con.execute("SELECT count(*) FROM ref_routed").fetchone()[0]
        # point/polygon pairs that pass the bbox pre-cut: the refine's input
        self.pip_candidates = con.execute("""
SELECT count(*) FROM ref_images p JOIN (
    SELECT list_min(lons) AS x0, list_max(lons) AS x1, list_min(lats) AS y0, list_max(lats) AS y1
    FROM ref_polys) b
  ON p.lon >= b.x0 AND p.lon <= b.x1 AND p.lat >= b.y0 AND p.lat <= b.y1
""").fetchone()[0]
        self.expected = {
            "ways": table_hash(con, "SELECT way_id, layer, kind, n_pts, lons, lats FROM ref_ways"),
            "points": table_hash(con, "SELECT node_id, layer, name, lon, lat FROM ref_points"),
            "images_classified": table_hash(con, "SELECT image_id, poly_id, layer FROM ref_classified"),
        }
        self.layer_counts = {
            name: dict(con.execute(
                f"SELECT layer, count(*) FROM {tbl} GROUP BY layer ORDER BY layer"
            ).fetchall())
            for name, tbl in (("ways", "ref_ways"), ("points", "ref_points"),
                              ("images_classified", "ref_classified"))
        }

    def check(self, out_dir: str) -> list[str]:
        """Mismatches between ``out_dir`` (one engine.run) and the
        reference: per-layer counts and content of each output."""
        cols = {
            "ways": "way_id, layer, kind, n_pts, lons, lats",
            "points": "node_id, layer, name, lon, lat",
            "images_classified": "image_id, poly_id, layer",
        }
        errors = []
        for name, c in cols.items():
            sql = parquet_dir(os.path.join(out_dir, name), c)
            got = dict(self.con.execute(
                f"SELECT layer, count(*) FROM ({sql}) GROUP BY layer ORDER BY layer"
            ).fetchall())
            if got != self.layer_counts[name]:
                errors.append(f"{name}: layer counts {got} != {self.layer_counts[name]}")
            if table_hash(self.con, sql) != self.expected[name]:
                errors.append(f"{name}: content differs from the reference")
        return errors


def convert_output_hash(con, out_dir: str) -> dict:
    """Full-row content hash of every output table of one op."""
    return {
        name: table_hash(con, parquet_dir(os.path.join(out_dir, name)))
        for name in ("ways", "points", "images_classified")
    }


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files
