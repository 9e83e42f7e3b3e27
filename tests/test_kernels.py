"""Geometry + cell-index kernel tests (NumPy level, no Spark)."""

from __future__ import annotations

import warnings

import numpy as np
import pytest

from osm2shp_spark.functions import geometry as G
from osm2shp_spark.functions import hexgrid, s2


class TestRayCast:
    def test_square(self):
        px = np.array([0.5, 1.5, 0.0, 0.999, -0.1])
        py = np.array([0.5, 0.5, 2.0, 0.001, 0.5])
        poly_x = np.array([0.0, 1.0, 1.0, 0.0])
        poly_y = np.array([0.0, 0.0, 1.0, 1.0])
        assert list(G.points_in_polygon(px, py, poly_x, poly_y)) == [
            True, False, False, True, False,
        ]

    def test_closed_ring_equivalent_to_open(self):
        rng = np.random.default_rng(3)
        px, py = rng.uniform(-2, 2, 500), rng.uniform(-2, 2, 500)
        x = np.array([0.0, 1.0, 1.5, 0.5, -0.5])
        y = np.array([0.0, -0.3, 1.0, 1.8, 0.9])
        open_r = G.points_in_polygon(px, py, x, y)
        closed = G.points_in_polygon(px, py, np.append(x, x[0]), np.append(y, y[0]))
        assert (open_r == closed).all()

    def test_concave(self):
        # U-shape: the notch is outside
        x = np.array([0, 3, 3, 2, 2, 1, 1, 0], float)
        y = np.array([0, 0, 3, 3, 1, 1, 3, 3], float)
        inside = G.points_in_polygon(
            np.array([1.5, 0.5, 2.5]), np.array([2.0, 2.0, 2.0]), x, y
        )
        assert list(inside) == [False, True, True]

    def test_near_horizontal_edge(self):
        # the bottom edge rises by a subnormal 1e-310: only the first
        # probe's y lies on its span, the others are far above/below
        x = np.array([0.0, 10.0, 10.0, 0.0])
        y = np.array([0.0, 1e-310, 1.0, 1.0])
        px = np.array([5.0, 5.0, 5.0, 5.0, 20.0])
        py = np.array([5e-311, 0.5, 1e6, -1e6, 0.5])
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            inside = G.points_in_polygon(px, py, x, y)
        assert list(inside) == [True, True, False, False, False]

    def test_huge_coordinates(self):
        # edge differences overflow a float at this scale: the slanted
        # edge spans 3e308 in x, so its crossing abscissa is inf and
        # every crossing probe counts it. Geometrically (0, -0.5) and
        # (-s/2, -0.75) lie inside; the pinned IEEE answer is the one
        # spatial.pnpoly_sql gives too (test_spatial checks that).
        s = 1.5e308
        x = np.array([-s, s, s])
        y = np.array([-1.0, 1.0, -1.0])
        px = np.array([0.0, 0.0, -s / 2, s])
        py = np.array([-0.5, 0.5, -0.75, 2.0])
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            inside = G.points_in_polygon(px, py, x, y)
        assert list(inside) == [False, False, False, False]


class TestDouglasPeucker:
    def test_collinear_collapses(self):
        xs = np.linspace(0, 1, 50)
        ys = np.zeros(50)
        sx, sy = G.simplify(xs, ys, 1e-9)
        assert len(sx) == 2

    def test_preserves_beyond_eps(self):
        xs = np.array([0.0, 0.5, 1.0])
        ys = np.array([0.0, 0.4, 0.0])
        sx, _ = G.simplify(xs, ys, 0.2)
        assert len(sx) == 3
        sx, _ = G.simplify(xs, ys, 0.5)
        assert len(sx) == 2

    def test_endpoints_always_kept(self):
        rng = np.random.default_rng(9)
        xs, ys = rng.uniform(0, 1, 40), rng.uniform(0, 1, 40)
        sx, sy = G.simplify(xs, ys, 0.3)
        assert sx[0] == xs[0] and sx[-1] == xs[-1]


class TestCleaning:
    def test_snap_and_dedup(self):
        xs = np.array([0.0001, 0.0002, 0.5001])
        ys = np.array([0.0001, 0.0002, 0.5001])
        sx = G.snap_to_grid(xs, 0.001)
        dx, dy = G.drop_consecutive_duplicates(sx, G.snap_to_grid(ys, 0.001))
        assert len(dx) == 2

    def test_degenerate(self):
        assert G.is_degenerate_line(np.array([1.0, 1.0]), np.array([2.0, 2.0]))
        assert not G.is_degenerate_line(np.array([1.0, 2.0]), np.array([2.0, 2.0]))


class TestWKB:
    def test_point_roundtrip_bytes(self):
        b = G.wkb_point(8.5, 47.25)
        assert b[0] == 1 and len(b) == 21
        assert np.frombuffer(b[5:], np.float64).tolist() == [8.5, 47.25]

    def test_polygon_autoclose(self):
        b = G.wkb_polygon(np.array([0.0, 1.0, 1.0]), np.array([0.0, 0.0, 1.0]))
        n = int.from_bytes(b[9:13], "little")
        assert n == 4  # ring closed

    def test_digest_stable(self):
        a = G.geometry_digest(G.wkb_linestring(np.array([1.0, 2.0]), np.array([3.0, 4.0])))
        b = G.geometry_digest(G.wkb_linestring(np.array([1.0, 2.0]), np.array([3.0, 4.0])))
        c = G.geometry_digest(G.wkb_linestring(np.array([2.0, 1.0]), np.array([3.0, 4.0])))
        assert a == b != c


class TestHaversine:
    def test_known_distance(self):
        # 1 degree of latitude ≈ 111.2 km
        d = G.haversine_m(0.0, 0.0, 0.0, 1.0)
        assert abs(d - 111195) < 100

    def test_symmetry_zero(self):
        assert G.haversine_m(8.5, 47.5, 8.5, 47.5) == 0.0


class TestS2:
    def test_face_cell_tokens(self):
        # canonical level-0 tokens from the S2 cell id layout
        toks = [
            s2.token(s2.parent(s2.face_ij_to_id(np.array([f]), np.array([0]), np.array([0])), 0))[0]
            for f in range(6)
        ]
        assert toks == ["1", "3", "5", "7", "9", "b"]

    def test_leaf_roundtrip(self):
        rng = np.random.default_rng(42)
        lat = rng.uniform(-89, 89, 2000)
        lng = rng.uniform(-180, 180, 2000)
        ids = s2.cell_id(lat, lng)
        f, i, j = s2.id_to_face_ij(ids)
        assert (s2.face_ij_to_id(f, i, j) == ids).all()

    @pytest.mark.parametrize("level", [0, 7, 12, 20, 29])
    def test_parent_contains_leaf(self, level):
        rng = np.random.default_rng(1)
        ids = s2.cell_id(rng.uniform(-80, 80, 500), rng.uniform(-180, 180, 500))
        p = s2.parent(ids, level)
        lsb = s2.lsb_for_level(level)
        assert ((ids >= p - lsb + np.uint64(1)) & (ids <= p + lsb - np.uint64(1))).all()
        assert (s2.level_of(p) == level).all()

    def test_center_maps_back(self):
        rng = np.random.default_rng(5)
        p = s2.parent(
            s2.cell_id(rng.uniform(-60, 60, 300), rng.uniform(-170, 170, 300)), 11
        )
        clat, clng = s2.cell_center_latlng(p)
        assert (s2.cell_id(clat, clng, 11) == p).all()

    def test_token_roundtrip(self):
        ids = s2.cell_id(np.array([47.5]), np.array([8.5]), 12)
        assert s2.token_to_id(s2.token(ids)[0]) == int(ids[0])

    def test_bbox_covering_superset(self):
        rng = np.random.default_rng(7)
        cov = s2.bbox_covering(8.0, 47.0, 9.0, 48.0, 11)
        pts = s2.parent(
            s2.cell_id(rng.uniform(47, 48, 3000), rng.uniform(8, 9, 3000)), 11
        )
        assert np.isin(pts, cov).all()

    def test_bbox_covering_batch_matches_scalar(self):
        """The Arrow-batch covering (one vectorized pass over n bboxes)
        must be byte-identical to the scalar function per row."""
        rng = np.random.default_rng(13)
        x0 = rng.uniform(8, 8.9, 60)
        y0 = rng.uniform(47, 47.9, 60)
        x1 = x0 + rng.uniform(0.001, 0.1, 60)
        y1 = y0 + rng.uniform(0.001, 0.1, 60)
        for level in (8, 11, 13):
            batch = s2.bbox_covering_batch(x0, y0, x1, y1, level, max_cells=256)
            for k in range(60):
                scalar = s2.bbox_covering(
                    float(x0[k]), float(y0[k]), float(x1[k]), float(y1[k]),
                    level, max_cells=256,
                )
                assert np.array_equal(batch[k], scalar), (level, k)

    def test_bbox_covering_batch_budget(self):
        import pytest

        with pytest.raises(ValueError, match="max_cells"):
            s2.bbox_covering_batch(
                np.array([8.0]), np.array([47.0]),
                np.array([9.0]), np.array([48.0]), 14, max_cells=16,
            )


class TestHexGrid:
    def test_pack_unpack(self):
        rng = np.random.default_rng(2)
        lon, lat = rng.uniform(7, 10, 1000), rng.uniform(46, 49, 1000)
        for res in (7, 9, 12):
            c = hexgrid.hex_cell(lon, lat, res)
            r, q, rr = hexgrid.unpack(c)
            assert (r == res).all()
            assert (hexgrid.pack(res, q, rr) == c).all()

    def test_determinism_and_locality(self):
        lon = np.array([8.5, 8.5 + 1e-9])
        lat = np.array([47.5, 47.5])
        c = hexgrid.hex_cell(lon, lat, 12)
        assert c[0] == c[1]

    def test_center_round_trips(self):
        rng = np.random.default_rng(8)
        lon, lat = rng.uniform(7, 10, 500), rng.uniform(46, 49, 500)
        for res in (7, 10):
            c = hexgrid.hex_cell(lon, lat, res)
            clon, clat = hexgrid.hex_center(c)
            assert (hexgrid.hex_cell(clon, clat, res) == c).all()

    def test_k_ring_sizes(self):
        c = int(hexgrid.hex_cell(np.array([8.5]), np.array([47.5]), 9)[0])
        assert len(hexgrid.k_ring(c, 1)) == 7
        assert len(hexgrid.k_ring(c, 2)) == 19

    def test_neighbor_distance(self):
        c = int(hexgrid.hex_cell(np.array([8.5]), np.array([47.5]), 9)[0])
        ring = hexgrid.k_ring(c, 1)
        dists = sorted(hexgrid.grid_distance(c, int(x)) for x in ring)
        assert dists == [0, 1, 1, 1, 1, 1, 1]

    def test_aperture_seven_cell_area_ratio(self):
        # counts of points per cell shrink ~7x per res step
        rng = np.random.default_rng(11)
        lon, lat = rng.uniform(8, 9, 20000), rng.uniform(47, 48, 20000)
        n5 = len(np.unique(hexgrid.hex_cell(lon, lat, 5)))
        n6 = len(np.unique(hexgrid.hex_cell(lon, lat, 6)))
        assert 4 < n6 / n5 < 10


def test_way_cells_covering_superset(spark):
    """North-rule geometry cells: every vertex's S2 cell at the chosen
    cover level must be inside the way's covering token set, and every
    vertex hex cell must appear in the per-res cell arrays."""
    import numpy as np

    from osm2shp_spark.functions import hexgrid, s2
    from osm2shp_spark.functions.udfs import with_way_cells
    from osm2shp_spark.operators.assemble import assemble_ways
    from osm2shp_spark.sources.synthetic import synthetic_nodes, synthetic_ways
    from conftest import SF_SMALL

    assembled = assemble_ways(
        synthetic_nodes(spark, SF_SMALL), synthetic_ways(spark, SF_SMALL)
    )
    rows = (
        with_way_cells(assembled, hex_resolutions=(7, 9))
        .select("lons", "lats", "s2_cover_level", "s2_cover_tokens",
                "hex_r7_cells", "hex_r9_cells")
        .limit(100)
        .collect()
    )
    assert rows
    for r in rows:
        lo = np.array(r.lons)
        la = np.array(r.lats)
        toks = set(r.s2_cover_tokens)
        vert_toks = s2.token(s2.cell_id(la, lo, r.s2_cover_level))
        assert set(vert_toks) <= toks, "covering missed a vertex cell"
        assert set(hexgrid.hex_cell(lo, la, 7).tolist()) == set(r.hex_r7_cells)
        assert set(hexgrid.hex_cell(lo, la, 9).tolist()) == set(r.hex_r9_cells)


def test_decode_ppm_truncated_comment_raises():
    """A header comment without a trailing newline must raise, not spin
    forever on the out-of-range slice."""
    from osm2shp_spark.functions.image import decode_ppm

    with pytest.raises(ValueError, match="truncated"):
        decode_ppm(b"P6 #no newline ever")


def test_block_mean_resize_upscale_no_nan():
    """Output axes larger than the source must degrade to nearest-
    neighbor sampling, never NaN from empty block slices."""
    from osm2shp_spark.functions.image import _block_mean_resize

    src = np.arange(16, dtype=np.float64).reshape(4, 4)
    up = _block_mean_resize(src, 8, 8)
    assert not np.isnan(up).any()
    # downscale values unchanged by the clamp (blocks already non-empty)
    down = _block_mean_resize(src, 2, 2)
    assert down.tolist() == [[2.5, 4.5], [10.5, 12.5]]


def test_way_cells_udf_empty_geometry_no_hang(spark):
    """A zero-vertex geometry row must produce empty cell arrays — the
    adaptive covering loop once swallowed the ValueError from min() on
    an empty array and spun forever."""
    from osm2shp_spark.functions.udfs import with_way_cells

    df = spark.createDataFrame(
        [(1, [8.1, 8.2], [47.1, 47.2]), (2, [], [])],
        "way_id INT, lons ARRAY<DOUBLE>, lats ARRAY<DOUBLE>",
    )
    got = {r.way_id: r for r in with_way_cells(df).collect()}
    assert got[2].s2_cover_tokens == [] and got[2].hex_r7_cells == []
    assert len(got[1].s2_cover_tokens) > 0 and len(got[1].hex_r7_cells) > 0
