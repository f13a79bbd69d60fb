"""The benchmark's own result oracles (numpy only, no engine code)."""

from __future__ import annotations

import numpy as np


def points_in_ring(x: np.ndarray, y: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd test of points against one ring (open: last vertex is not a
    repeat of the first). Points exactly on an edge may land either way;
    the benchmark's random coordinates hit an edge with probability 0."""
    inside = np.zeros(len(x), dtype=bool)
    xj, yj = ring[-1]
    for xi, yi in ring:
        crosses = (yi > y) != (yj > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            xcross = (xj - xi) * (y - yi) / (yj - yi) + xi
        inside ^= crosses & (x < xcross)
        xj, yj = xi, yi
    return inside


def pip_counts(x: np.ndarray, y: np.ndarray, rings) -> dict:
    """{region id: number of points inside} for regions with any point;
    region ids are positions in `rings`."""
    out = {}
    for rid, ring in enumerate(rings):
        (x0, y0), (x1, y1) = ring.min(axis=0), ring.max(axis=0)
        sel = np.flatnonzero((x >= x0) & (x <= x1) & (y >= y0) & (y <= y1))
        n = int(points_in_ring(x[sel], y[sel], ring).sum())
        if n:
            out[rid] = n
    return out


def knn_distances(px, py, bx, by, k: int) -> np.ndarray:
    """Sorted distances from each probe to its k nearest build points,
    shape (len(px), k), by brute force."""
    out = np.empty((len(px), k))
    for i in range(len(px)):
        d = np.sqrt((bx - px[i]) ** 2 + (by - py[i]) ** 2)
        out[i] = np.sort(np.partition(d, k - 1)[:k])
    return out


def knn_check(rows, px, py, bx, by, k: int, sample: np.ndarray) -> int:
    """Mismatch count of a kNN result `rows` of (probe id, build id).

    Every probe must have exactly k distinct neighbours. For the probes in
    `sample`, the sorted distances to the returned neighbours must equal
    the brute-force k nearest distances: distances, not ids, so a correct
    result that orders equidistant neighbours differently still passes."""
    got = {}
    for pid, bid in rows:
        got.setdefault(int(pid), []).append(int(bid))
    bad = sum(1 for p in range(len(px))
              if len(got.get(p, ())) != k or len(set(got[p])) != k)
    want = knn_distances(px[sample], py[sample], bx, by, k)
    for row, p in zip(want, sample):
        ids = np.array(got.get(int(p), []), dtype=np.int64)
        if len(ids) != k:
            continue  # already counted
        d = np.sort(np.sqrt((bx[ids] - px[p]) ** 2 + (by[ids] - py[p]) ** 2))
        if not np.allclose(d, row, rtol=1e-12, atol=0.0):
            bad += 1
    return bad


def window_groups(x, y, lang, window) -> dict:
    """{lang: (count, mean x)} of the points inside the closed box
    `window` = (xmin, ymin, xmax, ymax) — ST_Intersects for points."""
    xmin, ymin, xmax, ymax = window
    sel = (x >= xmin) & (x <= xmax) & (y >= ymin) & (y <= ymax)
    out = {}
    for g in np.unique(lang[sel]):
        m = sel & (lang == g)
        out[str(g)] = (int(m.sum()), float(x[m].mean()))
    return out


def window_check(rows, want: dict) -> bool:
    """True when result rows (lang, count, avg x) match `want`."""
    got = {str(r[0]): (int(r[1]), float(r[2])) for r in rows}
    if got.keys() != want.keys():
        return False
    return all(got[g][0] == want[g][0]
               and np.isclose(got[g][1], want[g][1], rtol=1e-9, atol=1e-9)
               for g in want)
