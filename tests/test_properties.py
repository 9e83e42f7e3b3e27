"""Property-based tests (hypothesis) for the pure-NumPy kernels.

These check the *mathematical contracts* the operators rely on — the
Douglas-Peucker distance guarantee, the hex-grid id bijection and
center stability, PNPOLY against an exact convex half-plane oracle —
over randomized inputs, complementing the fixed-fixture parity tests
and the DuckDB value gate. All pure NumPy: no SparkSession needed.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from osm2shp_spark.functions.geometry import (
    douglas_peucker_mask,
    points_in_polygon,
)
from osm2shp_spark.functions import hexgrid as H

# ---------------------------------------------------------------------------
# Douglas-Peucker: the eps guarantee
# ---------------------------------------------------------------------------

coord = st.floats(
    min_value=-180.0, max_value=180.0, allow_nan=False, allow_infinity=False
)


def _chord_dist(xs, ys, a, b):
    """Perpendicular distance of points strictly between kept anchors a
    and b to the chord (a, b) — the SAME formula as the kernel, so the
    guarantee holds exactly, not within a tolerance."""
    seg_x, seg_y = xs[a + 1 : b], ys[a + 1 : b]
    dx, dy = xs[b] - xs[a], ys[b] - ys[a]
    norm = np.sqrt(dx * dx + dy * dy)
    if norm == 0.0:
        return np.sqrt(
            (seg_x - xs[a]) * (seg_x - xs[a]) + (seg_y - ys[a]) * (seg_y - ys[a])
        )
    return np.abs(dy * seg_x - dx * seg_y + xs[b] * ys[a] - ys[b] * xs[a]) / norm


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.tuples(coord, coord), min_size=2, max_size=60),
    st.floats(min_value=1e-6, max_value=1.0),
)
def test_dp_mask_distance_guarantee(pts, eps):
    """Contract of the reference's `v.generalize method=douglas`
    (mapgen.sh:59-86): endpoints survive, and every DROPPED vertex lies
    within eps of the chord between the kept anchors around it — the
    recursion's stopping condition, checked here over the final mask."""
    xs = np.array([p[0] for p in pts])
    ys = np.array([p[1] for p in pts])
    keep = douglas_peucker_mask(xs, ys, eps)
    assert keep[0] and keep[-1]
    kept = np.flatnonzero(keep)
    for a, b in zip(kept[:-1], kept[1:]):
        if b - a >= 2:
            assert (_chord_dist(xs, ys, int(a), int(b)) <= eps).all()


# ---------------------------------------------------------------------------
# Hex grid: id bijection + center stability
# ---------------------------------------------------------------------------

lon_s = st.floats(min_value=-179.0, max_value=179.0, allow_nan=False)
lat_s = st.floats(min_value=-85.0, max_value=85.0, allow_nan=False)
res_s = st.integers(min_value=7, max_value=12)


@settings(max_examples=200, deadline=None)
@given(res_s, st.integers(-(2**29), 2**29 - 1), st.integers(-(2**29), 2**29 - 1))
def test_hex_pack_unpack_bijection(res, q, r):
    res2, q2, r2 = H.unpack(H.pack(res, np.array([q]), np.array([r])))
    assert (int(res2[0]), int(q2[0]), int(r2[0])) == (res, q, r)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(lon_s, lat_s), min_size=1, max_size=32), res_s)
def test_hex_center_maps_to_own_cell(pts, res):
    """A cell's center must index back to that cell at the same res —
    the consistency the tile rollups and adaptive re-index rely on
    (breaks if _axial_round mishandles the rounding ties)."""
    lon = np.array([p[0] for p in pts])
    lat = np.array([p[1] for p in pts])
    cells = H.hex_cell(lon, lat, res)
    clon, clat = H.hex_center(cells)
    assert (H.hex_cell(clon, clat, res) == cells).all()


# ---------------------------------------------------------------------------
# PNPOLY vs an exact convex half-plane oracle
# ---------------------------------------------------------------------------


def _convex_hull(px, py):
    """Andrew monotone chain, CCW, no collinear points kept."""
    pts = sorted(set(zip(px, py)))
    if len(pts) < 3:
        return None

    def half(points):
        out = []
        for p in points:
            while (
                len(out) >= 2
                and (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
                <= 0
            ):
                out.pop()
            out.append(p)
        return out

    lower, upper = half(pts), half(pts[::-1])
    hull = lower[:-1] + upper[:-1]
    return hull if len(hull) >= 3 else None


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.tuples(coord, coord), min_size=3, max_size=20),
    st.lists(st.tuples(coord, coord), min_size=1, max_size=50),
)
def test_pnpoly_matches_convex_halfplane_oracle(poly_pts, probes):
    """On a convex CCW ring, containment has an exact independent
    oracle: every edge cross product positive. PNPOLY (the engine's
    refine kernel and its SQL twin's bit-parity reference) must agree
    for every probe not near an edge line (the half-open boundary
    convention is deliberately unspecified there)."""
    hull = _convex_hull([p[0] for p in poly_pts], [p[1] for p in poly_pts])
    if hull is None:
        return
    hx = np.array([p[0] for p in hull])
    hy = np.array([p[1] for p in hull])
    px = np.array([p[0] for p in probes])
    py = np.array([p[1] for p in probes])
    x2, y2 = np.roll(hx, -1), np.roll(hy, -1)
    cross = np.empty((len(hull), len(px)))
    for i in range(len(hull)):
        cross[i] = (x2[i] - hx[i]) * (py - hy[i]) - (y2[i] - hy[i]) * (px - hx[i])
    edge_len = np.hypot(x2 - hx, y2 - hy)  # no underflow to 0 on tiny edges
    clear = (np.abs(cross) / edge_len[:, None] > 1e-9).all(axis=0)
    if not clear.any():
        return
    oracle = (cross > 0).all(axis=0)
    got = points_in_polygon(px, py, hx, hy)
    assert (got[clear] == oracle[clear]).all()
