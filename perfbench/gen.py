"""Seeded input generation for the spatial-query benchmark.

Inputs are made here with numpy and written as plain Parquet files (WKB
geometry columns) with pyarrow, so no change to the engine can change
what the benchmark feeds it. Each workload's files live under
``<cache>/<workload>-s<seed>-<sizes>-g<generator hash>/`` and are reused
when present. The arrays the oracles need are always read back from the
files, so a cache hit and a fresh generation give the same arrays.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the benchmark's own input sizes, one per workload (see README.md)
SIZES = {
    "pip_join": {"points": 20_000, "regions_x": 18, "regions_y": 16},
    "knn_join": {"probes": 16, "pois": 210_000, "k": 5},
    "window_scan": {"pages": 40_000, "parts": 8, "windows": 512},
}

DOMAIN = (0.0, 0.0, 72.0, 64.0)  # xmin, ymin, xmax, ymax of every workload
LANGS = np.array(["en", "de", "fr", "es", "ja", "zh", "ru", "pt", "it", "ar"])

_POINT_HEADER = struct.pack("<BI", 1, 1)


def wkb_points(x: np.ndarray, y: np.ndarray) -> list:
    """Little-endian WKB POINT bytes for each (x, y)."""
    xy = np.empty((len(x), 2), dtype="<f8")
    xy[:, 0] = x
    xy[:, 1] = y
    raw = xy.tobytes()
    return [_POINT_HEADER + raw[16 * i:16 * i + 16] for i in range(len(x))]


def wkb_polygon(ring: np.ndarray) -> bytes:
    """Little-endian WKB POLYGON with one closed exterior ring."""
    closed = np.vstack([ring, ring[:1]]).astype("<f8")
    return struct.pack("<BIII", 1, 3, 1, len(closed)) + closed.tobytes()


def hotspots(rng: np.random.Generator, n: int = 48, zipf_a: float = 1.1):
    """Hotspot centres, Zipf weights by rank and per-hotspot spread. Spread
    falls with rank (a heavy hotspot is a metro area, a light one a town),
    so only the positions change with the seed, not how dense the densest
    spot is."""
    xmin, ymin, xmax, ymax = DOMAIN
    cx = rng.uniform(xmin + 2, xmax - 2, n)
    cy = rng.uniform(ymin + 2, ymax - 2, n)
    w = 1.0 / np.arange(1, n + 1) ** zipf_a
    sigma = np.exp(np.linspace(np.log(2.5), np.log(0.15), n))
    return cx, cy, w / w.sum(), sigma


def clustered_points(rng: np.random.Generator, n: int, spots, background: float = 0.1):
    """Points skewed around Zipf-weighted `spots` (geotag-like), with a
    uniform background share, clipped to the domain."""
    xmin, ymin, xmax, ymax = DOMAIN
    cx, cy, w, sigma = spots
    h = rng.choice(len(w), size=n, p=w)
    x = cx[h] + rng.normal(0.0, 1.0, n) * sigma[h]
    y = cy[h] + rng.normal(0.0, 1.0, n) * sigma[h]
    bg = rng.random(n) < background
    x[bg] = rng.uniform(xmin, xmax, bg.sum())
    y[bg] = rng.uniform(ymin, ymax, bg.sum())
    eps = 1e-9
    return np.clip(x, xmin + eps, xmax - eps), np.clip(y, ymin + eps, ymax - eps)


def lattice_cell(x: np.ndarray, y: np.ndarray, nx: int, ny: int) -> np.ndarray:
    """Index (row-major) of the nx x ny lattice cell holding each point."""
    xmin, ymin, xmax, ymax = DOMAIN
    i = np.clip(((x - xmin) / (xmax - xmin) * nx).astype(int), 0, nx - 1)
    j = np.clip(((y - ymin) / (ymax - ymin) * ny).astype(int), 0, ny - 1)
    return j * nx + i


def admin_regions(rng: np.random.Generator, nx: int, ny: int, density: np.ndarray):
    """Non-overlapping irregular star-shaped polygons, one per cell of an
    nx x ny lattice over the domain. Each ring's radius varies with angle
    inside (0.18, 0.49) of the cell size, so polygons never leave their
    cell; vertex counts are spread log-evenly over 16..512.

    Vertex counts go to cells by the rank of their point count `density`,
    in one fixed shuffled order: where the hotspots fall changes with the
    seed, but the k-th densest cell always gets the same vertex count, so
    the refine work per point does not."""
    xmin, ymin, xmax, ymax = DOMAIN
    cw, ch = (xmax - xmin) / nx, (ymax - ymin) / ny
    rings = []
    n = nx * ny
    by_rank = np.exp(np.linspace(np.log(16), np.log(512), n))[
        np.random.default_rng(0).permutation(n)]
    nverts = np.empty(n, dtype=int)
    nverts[np.argsort(-density, kind="stable")] = np.rint(by_rank).astype(int)
    for j in range(ny):
        for i in range(nx):
            nv = nverts[j * nx + i]
            theta = np.sort(rng.uniform(0, 2 * np.pi, nv))
            # smooth low-frequency wobble plus per-vertex jitter
            k = rng.integers(2, 7)
            phase = rng.uniform(0, 2 * np.pi)
            r = 0.34 + 0.1 * np.sin(k * theta + phase) + rng.uniform(-0.05, 0.05, nv)
            r = np.clip(r, 0.18, 0.49)
            cx = xmin + (i + 0.5) * cw
            cy = ymin + (j + 0.5) * ch
            rings.append(np.column_stack([cx + r * cw * np.cos(theta),
                                          cy + r * ch * np.sin(theta)]))
    return rings


def _write(path: str, table: pa.Table) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


class Inputs:
    """One workload's generated files and the arrays its oracle needs."""

    def __init__(self, root: str, files: dict, arrays: dict, generated: bool):
        self.root = root
        self.files = files
        self.arrays = arrays
        self.generated = generated


def _xy_from_table(t: pa.Table, col: str):
    """x/y of a column of 21-byte little-endian WKB points."""
    raw = b"".join(t.column(col).to_pylist())
    xy = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 21)[:, 5:].copy().view("<f8")
    return xy[:, 0].copy(), xy[:, 1].copy()


def _rings_from_wkb(values) -> list:
    rings = []
    for v in values:
        n = struct.unpack_from("<I", v, 9)[0]
        pts = np.frombuffer(v, dtype="<f8", count=2 * n, offset=13).reshape(n, 2)
        rings.append(pts[:-1].copy())
    return rings


def make_inputs(cache: str, workload: str, seed: int) -> Inputs:
    """Generate (or reload) the inputs of `workload` for `seed`."""
    size = SIZES[workload]
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    # a hash of this file keys the cache too, so an edited generator
    # never reuses inputs made by an older one
    with open(__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:10]
    root = os.path.join(cache, f"{workload}-s{seed}-{tag}-g{version}")
    done = os.path.join(root, "_DONE")
    generated = not os.path.exists(done)
    if generated:
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        # workload name folded into the seed so workloads never share draws
        salt = sum(workload.encode())
        rng = np.random.default_rng([seed, salt])
        _GENERATORS[workload](rng, root, size)
        open(done, "w").close()
    files, arrays = _LOADERS[workload](root)
    return Inputs(root, files, arrays, generated)


def _gen_pip(rng, root, size):
    nx, ny = size["regions_x"], size["regions_y"]
    x, y = clustered_points(rng, size["points"], hotspots(rng))
    density = np.bincount(lattice_cell(x, y, nx, ny), minlength=nx * ny)
    rings = admin_regions(rng, nx, ny, density)
    _write(os.path.join(root, "regions.parquet"), pa.table({
        "rid": pa.array(np.arange(len(rings), dtype=np.int32)),
        "geom": pa.array([wkb_polygon(r) for r in rings], pa.binary()),
    }))
    _write(os.path.join(root, "pts.parquet"), pa.table({
        "pid": pa.array(np.arange(len(x), dtype=np.int64)),
        "geom": pa.array(wkb_points(x, y), pa.binary()),
    }))


def _load_pip(root):
    files = {"regions": os.path.join(root, "regions.parquet"),
             "pts": os.path.join(root, "pts.parquet")}
    pts = pq.read_table(files["pts"])
    x, y = _xy_from_table(pts, "geom")
    rings = _rings_from_wkb(v.as_py() for v in pq.read_table(files["regions"]).column("geom"))
    return files, {"x": x, "y": y, "rings": rings}


def _gen_knn(rng, root, size):
    spots = hotspots(rng, 64)
    bx, by = clustered_points(rng, size["pois"], spots)
    # probes drawn from the same hotspot mixture as the POIs, so most land
    # in dense areas and a few in sparse ones
    px, py = clustered_points(rng, size["probes"], spots)
    _write(os.path.join(root, "pois.parquet"), pa.table({
        "bid": pa.array(np.arange(len(bx), dtype=np.int64)),
        "geom": pa.array(wkb_points(bx, by), pa.binary()),
    }))
    _write(os.path.join(root, "pts.parquet"), pa.table({
        "pid": pa.array(np.arange(len(px), dtype=np.int64)),
        "geom": pa.array(wkb_points(px, py), pa.binary()),
    }))


def _load_knn(root):
    files = {"pois": os.path.join(root, "pois.parquet"),
             "pts": os.path.join(root, "pts.parquet")}
    px, py = _xy_from_table(pq.read_table(files["pts"]), "geom")
    bx, by = _xy_from_table(pq.read_table(files["pois"]), "geom")
    return files, {"px": px, "py": py, "bx": bx, "by": by}


def _gen_window(rng, root, size):
    spots = hotspots(rng)
    cx, cy, w, sigma = spots
    x, y = clustered_points(rng, size["pages"], spots)
    lang = LANGS[np.minimum(rng.zipf(1.6, size["pages"]) - 1, len(LANGS) - 1)]
    pages = pa.table({
        "url_id": pa.array(np.arange(len(x), dtype=np.int64)),
        "lang": pa.array(lang.astype(str)),
        "geometry": pa.array(wkb_points(x, y), pa.binary()),
    })
    # arrival order, split into equal part files so the scan (and the
    # GeoParquet dataset written from it) has one partition per part
    os.makedirs(os.path.join(root, "pages"))
    step = -(-len(x) // size["parts"])
    for i in range(size["parts"]):
        _write(os.path.join(root, "pages", f"part-{i:03d}.parquet"),
               pages.slice(i * step, step))
    # windows centred on hotspots (by weight) within half a hotspot spread,
    # side log-uniform, so the selected share spans roughly 0.01%..5% of
    # the pages
    n = size["windows"]
    h = rng.choice(len(w), size=n, p=w)
    half = np.exp(rng.uniform(np.log(0.08), np.log(1.6), n))
    aspect = np.exp(rng.uniform(np.log(0.5), np.log(2.0), n))
    ox = rng.normal(0.0, 0.5, n) * sigma[h]
    oy = rng.normal(0.0, 0.5, n) * sigma[h]
    _write(os.path.join(root, "windows.parquet"), pa.table({
        "xmin": cx[h] + ox - half * aspect, "ymin": cy[h] + oy - half / aspect,
        "xmax": cx[h] + ox + half * aspect, "ymax": cy[h] + oy + half / aspect,
    }))


def _load_window(root):
    files = {"pages": os.path.join(root, "pages"),
             "windows": os.path.join(root, "windows.parquet")}
    t = pq.read_table(files["pages"])
    x, y = _xy_from_table(t, "geometry")
    win = pq.read_table(files["windows"]).to_pandas().to_numpy(np.float64)
    return files, {"x": x, "y": y, "lang": t.column("lang").to_numpy(zero_copy_only=False),
                   "windows": win}


_GENERATORS = {"pip_join": _gen_pip, "knn_join": _gen_knn, "window_scan": _gen_window}
_LOADERS = {"pip_join": _load_pip, "knn_join": _load_knn, "window_scan": _load_window}
