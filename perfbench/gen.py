"""Seeded input generator for the benchmark (numpy, pyarrow and zlib only).

Every table is a pure function of ``(seed, size)``. The image payloads
come from this file's own PPM/PNG writer and average-hash, so a change
to the engine's codecs cannot change the inputs the engine is given.
See README.md for why each property exists.
"""

from __future__ import annotations

import os
import struct
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: OSM API cap on refs per way
OSM_MAX_REFS = 2000

# (tag pairs, share of ways) per way class: every way rule of
# osm2shp_spark.rules, plus tags that no rule takes
_LINE_CLASSES = [
    ([("highway", "motorway")], 0.04),
    ([("highway", "trunk")], 0.04),
    ([("highway", "primary")], 0.08),
    ([("highway", "secondary")], 0.10),
    ([("railway", "rail")], 0.05),
    ([("waterway", "river")], 0.04),
    ([("waterway", "canal")], 0.02),
    ([("highway", "residential")], 0.22),
    ([("waterway", "stream")], 0.05),
    # natural=wood is a line, not an area (the upstream "woord" typo)
    ([("natural", "wood")], 0.03),
    ([("building", "yes")], 0.05),
]
_RING_CLASSES = [
    ([("natural", "water")], 0.16),
    ([("landuse", "forest")], 0.05),
    # area=yes turns a road into a polygon, which no road rule accepts
    ([("highway", "primary"), ("area", "yes")], 0.02),
    ([("natural", "water"), ("landuse", "reservoir")], 0.01),
    ([("building", "yes"), ("area", "yes")], 0.04),
]
_PLACE_VALUES = ["city", "town", "suburb", "village", "hamlet"]
_WORDS = (
    "river bridge harbor forest square tower market station lake canal "
    "street garden hill castle church school field meadow road north "
    "south east west old new little great upper lower red blue green "
    "quiet vast narrow long short bright dark early late winter summer"
).split()


#: ``pip_join`` refines rings over 1024 vertices with its Arrow path
MEGA_RING_MIN = 1100


@dataclass(frozen=True)
class ConvertSize:
    """Shape of one convert input. ``mega_rings`` water rings get
    MEGA_RING_MIN to OSM_MAX_REFS refs."""

    grid_x: int
    grid_y: int
    n_ways: int
    n_images: int
    refs_hi: int
    heavy_tail: bool
    mega_rings: int = 0


def _offsets(lengths: np.ndarray) -> np.ndarray:
    return np.concatenate(([0], np.cumsum(lengths))).astype(np.int32)


def _tag_map(keys: list[list[str]], vals: list[list[str]]) -> pa.Array:
    lens = np.array([len(k) for k in keys], np.int64)
    flat_k = [k for ks in keys for k in ks]
    flat_v = [v for vs in vals for v in vs]
    return pa.MapArray.from_arrays(
        pa.array(_offsets(lens)), pa.array(flat_k, pa.string()),
        pa.array(flat_v, pa.string()),
    )


def _ref_count(rng, size: ConvertSize, n: int, ring: bool) -> np.ndarray:
    """Ref counts with a fixed distribution (quantiles, not draws), in
    seeded order, so the work per op does not depend on the seed."""
    lo = 4 if ring else 2
    u = (np.arange(n) + 0.5) / n
    if size.heavy_tail:
        # Pareto tail: most ways are short, a few reach the OSM cap
        counts = lo + np.floor(6 * ((1 - u) ** (-1 / 1.3) - 1))
    else:
        counts = lo + np.floor(u * (size.refs_hi - lo + 1))
    return rng.permutation(np.minimum(counts, size.refs_hi).astype(np.int64))


def _exact(rng, n: int, share: float) -> np.ndarray:
    """Boolean mask with exactly round(share * n) seeded True entries."""
    mask = np.zeros(n, bool)
    mask[rng.permutation(n)[: int(round(share * n))]] = True
    return mask


def _line_walk(rng, gx: int, gy: int, n: int) -> np.ndarray:
    """Grid cells of a persistent random walk (a road or river)."""
    x, y = int(rng.integers(0, gx)), int(rng.integers(0, gy))
    dx, dy = [(1, 0), (-1, 0), (0, 1), (0, -1)][int(rng.integers(0, 4))]
    turns = rng.random(n) < 0.2
    out = np.empty(n, np.int64)
    for i in range(n):
        out[i] = y * gx + x
        if turns[i]:
            dx, dy = dy, dx if rng.random() < 0.5 else -dx
        if not (0 <= x + dx < gx):
            dx = -dx
        if not (0 <= y + dy < gy):
            dy = -dy
        x, y = x + dx, y + dy
    return out


def _zone(gx: int, gy: int) -> tuple[int, int, int]:
    """(x, y, side) in grid cells of the reserved square that holds the
    dense-spot lake; no other ring's bbox overlaps it."""
    return int(gx * 0.45), int(gy * 0.45), 10


def _place(rng, gx: int, gy: int, w: int, h: int) -> tuple[int, int]:
    """Seeded corner of a w x h bbox clear of the reserved zone."""
    zx, zy, zs = _zone(gx, gy)
    for _ in range(1000):
        x0, y0 = int(rng.integers(0, gx - w)), int(rng.integers(0, gy - h))
        if x0 + w < zx or x0 > zx + zs or y0 + h < zy or y0 > zy + zs:
            break
    return x0, y0


def _ring_walk(rng, gx: int, gy: int, n: int) -> np.ndarray:
    """Closed ring of ``n`` refs (first == last) around a thin box, so
    even a 2000-ref lake covers a small area, not the whole map."""
    per = max(n - 1, 4)
    half = per // 2
    # the shape depends on n only, so the ref count does too
    b = max(1, min(half - 1, 1 + n % 6))
    a = min(max(half - b, 1), gx - 2)
    x0, y0 = _place(rng, gx, gy, a, b)
    xs = list(range(x0, x0 + a)) + [x0 + a] * b + list(range(x0 + a, x0, -1)) + [x0] * b
    ys = [y0] * a + list(range(y0, y0 + b)) + [y0 + b] * a + list(range(y0 + b, y0, -1))
    cells = (np.array(ys[:per]) * gx + np.array(xs[:per])).astype(np.int64)
    return np.append(cells, cells[0])


def _comb_ring(rng, gx: int, gy: int, n: int) -> np.ndarray:
    """Closed ring of about ``n`` refs whose top edge meanders in
    columns ``tooth`` cells high: a long ring on a small footprint."""
    tooth = 20
    w = max((n - 3) // (tooth + 2) - 1, 2)  # (w + 1) * (tooth + 2) + 3 refs
    x0, y0 = _place(rng, gx, gy, w + 1, tooth + 4)
    yb = y0 + 2
    cells = [(x, y0) for x in range(x0, x0 + w + 1)] + [(x0 + w, y0 + 1)]
    for i, x in enumerate(range(x0 + w, x0 - 1, -1)):
        ys = range(yb, yb + tooth + 1)
        cells += [(x, y) for y in (ys if i % 2 == 0 else reversed(ys))]
    cells.append((x0, y0 + 1))
    out = np.array([y * gx + x for x, y in cells], np.int64)
    return np.append(out, out[0])


def convert_tables(seed: int, size: ConvertSize) -> dict[str, pa.Table]:
    """OSM-shaped ``nodes``/``ways`` with a raw ``tags`` map, plus
    geotagged ``images`` (image_id, lon, lat)."""
    rng = np.random.default_rng(seed)
    gx, gy = size.grid_x, size.grid_y
    n_nodes = gx * gy
    lon0, lat0, step = 8.40, 47.30, 0.0009
    cx, cy = np.arange(n_nodes) % gx, np.arange(n_nodes) // gx
    lon = lon0 + (cx + rng.uniform(-0.35, 0.35, n_nodes)) * step
    lat = lat0 + (cy + rng.uniform(-0.35, 0.35, n_nodes)) * step
    # odd ids in shuffled order; even ids never exist (orphan refs)
    ids = (rng.permutation(n_nodes).astype(np.int64) * 2 + 1) + 10_000_000

    node_keys: list[list[str]] = [[] for _ in range(n_nodes)]
    node_vals: list[list[str]] = [[] for _ in range(n_nodes)]
    tagged = np.flatnonzero(_exact(rng, n_nodes, 0.04))
    for j, i in enumerate(tagged):
        if j % 10 < 7:
            node_keys[i] = ["place"]
            node_vals[i] = [_PLACE_VALUES[j % 5]]
            if j % 20 < 17:
                node_keys[i].append("name")
                node_vals[i].append(_name(rng, long=j % 20 == 0))
        else:
            node_keys[i] = ["amenity", "name"]
            node_vals[i] = ["cafe", _name(rng)]
    nodes = pa.table({
        "id": pa.array(ids),
        "lon": pa.array(lon),
        "lat": pa.array(lat),
        "tags": _tag_map(node_keys, node_vals),
    })

    classes = _LINE_CLASSES + _RING_CLASSES
    probs = np.array([p for _, p in classes])
    counts = np.floor(probs / probs.sum() * size.n_ways).astype(int)
    counts[0] += size.n_ways - counts.sum()
    cls = rng.permutation(np.repeat(np.arange(len(classes)), counts))
    is_ring = cls >= len(_LINE_CLASSES)
    # the special rings come first, so the ref-count multiset of the
    # rest is a fixed set of quantiles whatever the seed
    water = [i for i, (tags, _) in enumerate(classes) if tags == [("natural", "water")]][0]
    water_ways = np.flatnonzero(cls == water)
    mega = water_ways[: size.mega_rings]
    # the dense-spot lake, in the reserved zone: every seed puts the
    # dense spot inside exactly one small polygon
    lake = int(water_ways[size.mega_rings])
    zx, zy, _ = _zone(gx, gy)
    box = [(x, zy + 3) for x in range(zx + 3, zx + 7)] + [(zx + 7, y) for y in range(zy + 3, zy + 7)]
    box += [(x, zy + 7) for x in range(zx + 7, zx + 3, -1)] + [(zx + 3, y) for y in range(zy + 7, zy + 3, -1)]
    lake_cells = np.array([y * gx + x for x, y in box + box[:1]], np.int64)
    special = np.zeros(size.n_ways, bool)
    special[mega] = special[lake] = True
    # 1 % of ways are one-ref lines, below the min-vertex rule
    lines = np.flatnonzero(~is_ring)
    short = np.zeros(size.n_ways, bool)
    short[lines[_exact(rng, len(lines), size.n_ways * 0.01 / len(lines))]] = True
    n_refs = np.ones(size.n_ways, np.int64)
    for mask, ring in ((is_ring & ~special, True), (~is_ring & ~short, False)):
        n_refs[mask] = _ref_count(rng, size, int(mask.sum()), ring)
    n_refs[mega] = np.linspace(MEGA_RING_MIN, OSM_MAX_REFS, len(mega)).astype(np.int64)
    n_refs[lake] = len(lake_cells)
    # ~2 % of refs orphaned: 8 % of ways lose a quarter of their refs,
    # so every such way is dropped whole; the special rings stay intact
    broken = _exact(rng, size.n_ways, 0.08)
    broken[special] = False
    mega_set = set(mega.tolist())
    refs, keys, vals = [], [], []
    for w in range(size.n_ways):
        n = int(n_refs[w])
        if w == lake:
            cells = lake_cells
        elif w in mega_set:
            cells = _comb_ring(rng, gx, gy, n)
        elif is_ring[w]:
            cells = _ring_walk(rng, gx, gy, n)
        else:
            cells = _line_walk(rng, gx, gy, n)
        r = ids[cells]
        if broken[w]:
            hit = rng.random(len(r)) < 0.25
            hit[int(rng.integers(0, len(r)))] = True
            r = np.where(hit, r + 1, r)
        refs.append(r)
        tags = classes[cls[w]][0]
        keys.append([k for k, _ in tags] + ["name"])
        vals.append([v for _, v in tags] + [_name(rng)])
    lens = np.array([len(r) for r in refs], np.int64)
    ways = pa.table({
        "id": pa.array(np.arange(size.n_ways, dtype=np.int64) * 3 + 500_000_000),
        "refs": pa.ListArray.from_arrays(
            pa.array(_offsets(lens)), pa.array(np.concatenate(refs))
        ),
        "tags": _tag_map(keys, vals),
    })

    centre = (lon0 + (zx + 5) * step, lat0 + (zy + 5) * step)
    images = image_points(rng, size.n_images, lon0, lat0, gx * step, gy * step, centre)
    return {"nodes": nodes, "ways": ways, "images": images}


#: engine.run's adaptive_hot_threshold is 1000 points per cell
DENSE_MIN = 1200


def image_points(rng, n: int, lon0: float, lat0: float, w: float, h: float,
                 centre: tuple[float, float]) -> pa.Table:
    """Geotagged points; 10 % of them, but at least DENSE_MIN, sit
    around ``centre``, so that its cell is hot."""
    lon = lon0 + rng.uniform(0, w, n)
    lat = lat0 + rng.uniform(0, h, n)
    dense = _exact(rng, n, min(max(0.10, DENSE_MIN / n), 0.5))
    hx, hy = centre
    lon[dense] = hx + rng.uniform(-5e-5, 5e-5, int(dense.sum()))
    lat[dense] = hy + rng.uniform(-5e-5, 5e-5, int(dense.sum()))
    return pa.table({
        "image_id": pa.array(np.arange(n, dtype=np.int64) + 1),
        "lon": pa.array(lon),
        "lat": pa.array(lat),
    })


def _name(rng, long: bool = False) -> str:
    n = int(rng.integers(12, 20)) if long else int(rng.integers(1, 4))
    return " ".join(_WORDS[int(i)] for i in rng.integers(0, len(_WORDS), n))


# ---------------------------------------------------------------------------
# query_mix side table: captions, embeddings, pixel payloads
# ---------------------------------------------------------------------------

def encode_ppm(arr: np.ndarray) -> bytes:
    h, w, _ = arr.shape
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def encode_png(arr: np.ndarray) -> bytes:
    """RGB8 PNG, filter 0 on every scanline."""
    h, w, _ = arr.shape

    def chunk(typ: bytes, data: bytes) -> bytes:
        body = typ + data
        return struct.pack(">I", len(data)) + body + struct.pack(">I", zlib.crc32(body))

    raw = np.zeros((h, w * 3 + 1), np.uint8)
    raw[:, 1:] = arr.reshape(h, w * 3)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
        + chunk(b"IEND", b"")
    )


def average_hash(arr: np.ndarray) -> int:
    """64-bit average hash: 8x8 block means of the channel-mean gray
    image, bit i set where block i (row-major) is above the mean."""
    gray = arr.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    small = np.array([
        [gray[ys[i]:max(ys[i + 1], ys[i] + 1), xs[j]:max(xs[j + 1], xs[j] + 1)].mean()
         for j in range(8)]
        for i in range(8)
    ])
    bits = (small > small.mean()).ravel()
    v = sum(1 << i for i in range(64) if bits[i])
    return v - (1 << 64) if v >= 1 << 63 else v


def _pixels(rng, w: int, h: int) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    fx, fy = rng.uniform(0.5, 3.0, 2)
    base = 128 + 90 * np.sin(xx / w * np.pi * fx) + 60 * np.cos(yy / h * np.pi * fy)
    return np.stack(
        [np.clip(base + rng.normal(0, 10, (h, w)) + 25 * (c - 1), 0, 255) for c in range(3)],
        axis=2,
    ).astype(np.uint8)


def query_tables(seed: int, n_rows: int, n_payloads: int, n_docs: int, dim: int = 64) -> dict[str, pa.Table]:
    """``qimages`` (image_id, lon, lat, caption, embedding) plus
    ``payloads`` (decode_stats' input schema) for the first
    ``n_payloads`` rows. Near-duplicates are injected into captions
    (first ``n_docs`` rows), embeddings and pixels."""
    rng = np.random.default_rng(seed + 7919)
    pts = image_points(rng, n_rows, 8.40, 47.30, 0.0009 * 125, 0.0009 * 100, (8.45, 47.34))
    words = np.array(_WORDS)
    lens = rng.integers(12, 20, n_rows)
    picks = rng.integers(0, len(_WORDS), (n_rows, 19))
    captions = [" ".join(words[picks[i, : lens[i]]]) for i in range(n_rows)]
    # ~8 % of the first n_docs captions: an earlier caption, one word changed
    for i in np.flatnonzero(_exact(rng, min(n_docs, n_rows), 0.08)):
        if i < 50:
            continue
        w = captions[int(rng.integers(0, i))].split()
        w[int(rng.integers(0, len(w)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        captions[i] = " ".join(w)
    emb = rng.normal(0, 1, (n_rows, dim))
    dups = np.flatnonzero(_exact(rng, n_rows, 0.04))
    src = rng.integers(0, n_rows, len(dups))
    emb[dups] = emb[src] + rng.normal(0, 0.01, (len(dups), dim))
    qimages = pa.table({
        "image_id": pts["image_id"],
        "lon": pts["lon"],
        "lat": pts["lat"],
        "caption": pa.array(captions, pa.string()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(n_rows + 1, dtype=np.int32) * dim), pa.array(emb.ravel())
        ),
    })

    rows = {k: [] for k in ("image_id", "bytes", "w", "h", "fmt", "caption", "phash", "mean_px")}
    arrays: list[np.ndarray] = []
    for i in range(n_payloads):
        if i >= 10 and i % 16 == 0:
            # near-duplicate picture: a copy with light noise
            arr = _noisy_copy(rng, arrays[int(rng.integers(0, i))])
        else:
            arr = _pixels(rng, int(rng.integers(24, 72)), int(rng.integers(24, 72)))
        arrays.append(arr)
        fmt = "png" if i % 2 else "ppm"
        h, w, _ = arr.shape
        rows["image_id"].append(f"img-{i:08d}")
        rows["bytes"].append(encode_png(arr) if fmt == "png" else encode_ppm(arr))
        rows["w"].append(w)
        rows["h"].append(h)
        rows["fmt"].append(fmt)
        rows["caption"].append(captions[i])
        rows["phash"].append(average_hash(arr))
        rows["mean_px"].append(float(arr.mean()))
    payloads = pa.table({
        "image_id": pa.array(rows["image_id"], pa.string()),
        "bytes": pa.array(rows["bytes"], pa.binary()),
        "w": pa.array(rows["w"], pa.int32()),
        "h": pa.array(rows["h"], pa.int32()),
        "fmt": pa.array(rows["fmt"], pa.string()),
        "caption": pa.array(rows["caption"], pa.string()),
        "phash": pa.array(rows["phash"], pa.int64()),
        "mean_px": pa.array(rows["mean_px"], pa.float64()),
    })
    return {"qimages": qimages, "payloads": payloads}


def _noisy_copy(rng, arr: np.ndarray) -> np.ndarray:
    noise = rng.integers(-3, 4, arr.shape)
    return np.clip(arr.astype(np.int16) + noise, 0, 255).astype(np.uint8)


def write_tables(tables: dict[str, pa.Table], out_dir: str, row_group_size: int | None = None) -> dict[str, int]:
    """Write each table to ``<out_dir>/<name>.parquet``; return bytes."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, row_group_size=row_group_size)
        sizes[name] = os.path.getsize(path)
    return sizes
