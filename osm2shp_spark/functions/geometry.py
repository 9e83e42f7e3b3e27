"""Pure-NumPy geometry kernels (no shapely/pyproj in this environment).

These run inside Arrow-vectorized pandas UDFs / applyInPandas — never
per-row Python in the hot path. They cover:

- exact point-in-polygon (ray casting) — the refine step of the N3
  spatial join,
- haversine distance — kNN exact scoring,
- Douglas–Peucker simplification — parity with the GRASS
  ``v.generalize method=douglas`` step (reference mapgen.sh:59,68,77,86),
- snap-to-grid quantization + dedup/degenerate cleaning — parity with
  ``v.clean snap,break,rmdupl`` / ``rmline`` (mapgen.sh:60-61,69-70),
- WKB encoding + SHA-1 digests — content-addressed geometry lineage
  (WKB per the public OGC SFA spec, little-endian).
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

EARTH_RADIUS_M = 6371008.8  # mean Earth radius (IUGG)


# ---------------------------------------------------------------------------
# point in polygon
# ---------------------------------------------------------------------------

def points_in_polygon(
    px: np.ndarray, py: np.ndarray, poly_x: np.ndarray, poly_y: np.ndarray
) -> np.ndarray:
    """Vectorized even-odd ray cast: bool per point.

    The ring may be open or closed (first==last); both handled. Points
    exactly on an edge follow the half-open crossing convention
    (deterministic, but fixtures avoid boundary coincidences).
    The arithmetic is bit-identical to ``spatial.pnpoly_sql``: near
    1e308 edge differences overflow to inf as they do in the JVM, and
    the result is whatever IEEE gives, without a warning.
    """
    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    x = np.asarray(poly_x, np.float64)
    y = np.asarray(poly_y, np.float64)
    if len(x) >= 2 and x[0] == x[-1] and y[0] == y[-1]:
        x, y = x[:-1], y[:-1]
    n = len(x)
    inside = np.zeros(len(px), dtype=bool)
    if n < 3:
        return inside
    x1, y1 = x, y
    x2, y2 = np.roll(x, -1), np.roll(y, -1)
    with np.errstate(over="ignore", invalid="ignore"):
        for i in range(n):
            idx = np.flatnonzero((y1[i] > py) != (y2[i] > py))
            if not idx.size:
                continue
            # crossing points only: their py lies between y1 and y2, so
            # |t| <= 1 even on a near-horizontal edge
            t = (py[idx] - y1[i]) / (y2[i] - y1[i])
            inside[idx] ^= px[idx] < x1[i] + t * (x2[i] - x1[i])
    return inside


def points_in_polygons(
    px: np.ndarray,
    py: np.ndarray,
    poly_ids: np.ndarray,
    rings_x: list[np.ndarray],
    rings_y: list[np.ndarray],
) -> tuple[np.ndarray, np.ndarray]:
    """All (point_idx, poly_idx) containment pairs for a candidate batch.

    Used as the exact refine after the cell-equi-join prefilter, where
    each batch is one cell's points x that cell's candidate polygons.
    """
    hits_p, hits_g = [], []
    for gi, (rx, ry) in enumerate(zip(rings_x, rings_y)):
        mask = points_in_polygon(px, py, rx, ry)
        idx = np.flatnonzero(mask)
        hits_p.append(idx)
        hits_g.append(np.full(len(idx), gi, dtype=np.int64))
    if not hits_p:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(hits_p), np.concatenate(hits_g)


# ---------------------------------------------------------------------------
# distances
# ---------------------------------------------------------------------------

def haversine_m(lon1, lat1, lon2, lat2) -> np.ndarray:
    """Great-circle distance in meters (vectorized, broadcasting)."""
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(a, np.float64)) for a in (lon1, lat1, lon2, lat2))
    dlon = lon2 - lon1
    dlat = lat2 - lat1
    h = np.sin(dlat / 2) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2) ** 2
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.minimum(h, 1.0)))


def polyline_length_m(lons: np.ndarray, lats: np.ndarray) -> float:
    if len(lons) < 2:
        return 0.0
    return float(
        haversine_m(lons[:-1], lats[:-1], lons[1:], lats[1:]).sum()
    )


# ---------------------------------------------------------------------------
# simplification (Douglas–Peucker; GRASS v.generalize parity)
# ---------------------------------------------------------------------------

def douglas_peucker_mask(xs: np.ndarray, ys: np.ndarray, eps: float) -> np.ndarray:
    """Keep-mask for perpendicular-distance DP with threshold ``eps``
    (same planar-degree threshold semantics as the reference's GRASS
    step: 0.002 for big/medium roads + rail, 0.001 for small roads).

    Iterative stack implementation; distances vectorized per segment.
    """
    xs = np.asarray(xs, np.float64)
    ys = np.asarray(ys, np.float64)
    n = len(xs)
    keep = np.zeros(n, dtype=bool)
    if n == 0:
        return keep
    keep[0] = keep[-1] = True
    if n <= 2:
        return keep
    stack = [(0, n - 1)]
    while stack:
        a, b = stack.pop()
        if b - a < 2:
            continue
        seg_x = xs[a + 1 : b]
        seg_y = ys[a + 1 : b]
        dx = xs[b] - xs[a]
        dy = ys[b] - ys[a]
        # sqrt(dx*dx + dy*dy), NOT np.hypot: hypot is a different
        # (correctly-rounded two-norm) algorithm, and the DuckDB DP
        # oracle can only express the sqrt form — identical text =
        # identical IEEE results = identical keep decisions at the
        # eps boundary. No overflow risk at coordinate magnitudes.
        norm = np.sqrt(dx * dx + dy * dy)
        if norm == 0.0:
            d = np.sqrt(
                (seg_x - xs[a]) * (seg_x - xs[a])
                + (seg_y - ys[a]) * (seg_y - ys[a])
            )
        else:
            d = np.abs(dy * seg_x - dx * seg_y + xs[b] * ys[a] - ys[b] * xs[a]) / norm
        imax = int(np.argmax(d))
        if d[imax] > eps:
            split = a + 1 + imax
            keep[split] = True
            stack.append((a, split))
            stack.append((split, b))
    return keep


def simplify(xs: np.ndarray, ys: np.ndarray, eps: float) -> tuple[np.ndarray, np.ndarray]:
    m = douglas_peucker_mask(xs, ys, eps)
    return np.asarray(xs)[m], np.asarray(ys)[m]


# ---------------------------------------------------------------------------
# cleaning (GRASS v.clean parity: snap, rmdupl, rmline)
# ---------------------------------------------------------------------------

def snap_to_grid(xs: np.ndarray, eps: float) -> np.ndarray:
    """Quantize coordinates to an ``eps`` grid (v.clean tool=snap)."""
    return np.round(np.asarray(xs, np.float64) / eps) * eps


def drop_consecutive_duplicates(xs: np.ndarray, ys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Remove consecutive duplicate vertices (v.clean tool=rmdupl)."""
    xs = np.asarray(xs, np.float64)
    ys = np.asarray(ys, np.float64)
    if len(xs) == 0:
        return xs, ys
    keep = np.ones(len(xs), dtype=bool)
    keep[1:] = (xs[1:] != xs[:-1]) | (ys[1:] != ys[:-1])
    return xs[keep], ys[keep]


def is_degenerate_line(xs: np.ndarray, ys: np.ndarray) -> bool:
    """v.clean tool=rmline: fewer than 2 distinct vertices / zero length."""
    xs2, _ = drop_consecutive_duplicates(xs, ys)
    return len(xs2) < 2


# ---------------------------------------------------------------------------
# WKB + digests (OGC SFA little-endian)
# ---------------------------------------------------------------------------

_WKB_POINT = 1
_WKB_LINESTRING = 2
_WKB_POLYGON = 3


def wkb_point(lon: float, lat: float) -> bytes:
    return struct.pack("<BIdd", 1, _WKB_POINT, lon, lat)


def wkb_linestring(lons: np.ndarray, lats: np.ndarray) -> bytes:
    n = len(lons)
    coords = np.empty((n, 2), np.float64)
    coords[:, 0] = lons
    coords[:, 1] = lats
    return struct.pack("<BII", 1, _WKB_LINESTRING, n) + coords.tobytes()


def wkb_polygon(lons: np.ndarray, lats: np.ndarray) -> bytes:
    """Single-ring polygon; ring closed on the fly if needed."""
    lons = np.asarray(lons, np.float64)
    lats = np.asarray(lats, np.float64)
    if len(lons) == 0 or lons[0] != lons[-1] or lats[0] != lats[-1]:
        lons = np.append(lons, lons[:1])
        lats = np.append(lats, lats[:1])
    n = len(lons)
    coords = np.empty((n, 2), np.float64)
    coords[:, 0] = lons
    coords[:, 1] = lats
    return struct.pack("<BIII", 1, _WKB_POLYGON, 1, n) + coords.tobytes()


def wkb_for(kind: str, lons, lats) -> bytes:
    lons = np.asarray(lons, np.float64)
    lats = np.asarray(lats, np.float64)
    if kind == "point":
        return wkb_point(float(lons[0]), float(lats[0]))
    if kind == "polygon":
        return wkb_polygon(lons, lats)
    return wkb_linestring(lons, lats)


def geometry_digest(wkb: bytes) -> str:
    return hashlib.sha1(wkb).hexdigest()


def bbox(lons, lats) -> tuple[float, float, float, float]:
    lons = np.asarray(lons, np.float64)
    lats = np.asarray(lats, np.float64)
    return float(lons.min()), float(lats.min()), float(lons.max()), float(lats.max())
