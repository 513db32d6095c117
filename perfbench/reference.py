"""Driver-side reference answers for the round checks.

They use neither Spark nor geospark's cell layer: candidates come from
bounding boxes, exact tests from the geometry kernels (point location,
intersects), tile ids from the published cell-id layout, and kNN from
brute force.  Rows are summed through `row_hash`, which Spark evaluates
identically (`spark_row_hash`) with plain bigint arithmetic that cannot
overflow under ANSI mode.
"""

from __future__ import annotations

import zlib

import numpy as np

MOD = 2147483647
_MULT = (1000003, 7919, 131, 31, 7)

# geospark.cells.cellid.DEFAULT_GRID: id = morton(ix, iy) << 6 | level,
# ix in the even bits, over [x0, x0 + span) on both axes
GRID_X0 = GRID_Y0 = -1048576.0
GRID_SPAN = 4194304.0


def row_hash(*cols) -> int:
    """Sum over rows of (Σ_i (c_i mod M) · k_i) mod M, for int columns."""
    acc = np.zeros(len(cols[0]), dtype=np.int64)
    for c, k in zip(cols, _MULT):
        acc += (np.asarray(c, dtype=np.int64) % MOD) * k
    return int((acc % MOD).sum())


def spark_row_hash(*cols):
    """The Spark column expression whose sum equals `row_hash`."""
    from pyspark.sql import functions as F

    acc = None
    for c, k in zip(cols, _MULT):
        term = F.pmod(c.cast("long"), F.lit(MOD)) * F.lit(k)
        acc = term if acc is None else acc + term
    return F.pmod(acc, F.lit(MOD))


def crc32s(values) -> np.ndarray:
    return np.fromiter((zlib.crc32(v.encode() if isinstance(v, str) else v) for v in values),
                       dtype=np.int64, count=len(values))


def tile_ids(x: np.ndarray, y: np.ndarray, level: int) -> np.ndarray:
    n = 1 << level
    ix = np.clip((x - GRID_X0) / GRID_SPAN * n, 0, n - 1).astype(np.int64)
    iy = np.clip((y - GRID_Y0) / GRID_SPAN * n, 0, n - 1).astype(np.int64)
    m = np.zeros(len(x), dtype=np.int64)
    for b in range(level):
        m |= ((ix >> b) & 1) << (2 * b)
        m |= ((iy >> b) & 1) << (2 * b + 1)
    return (m << 6) | level


def point_in_polygons(polys, x: np.ndarray, y: np.ndarray):
    """(point index, polygon index) for each point inside or on each
    polygon.  polys: list of (envelope, PreparedPolygon)."""
    from geospark.geom import predicates as gpred

    order = np.argsort(x, kind="stable")
    xs = x[order]
    pts, owners = [], []
    for i, ((x0, y0, x1, y1), pp) in enumerate(polys):
        lo, hi = np.searchsorted(xs, x0, "left"), np.searchsorted(xs, x1, "right")
        cand = order[lo:hi]
        cand = cand[(y[cand] >= y0) & (y[cand] <= y1)]
        if len(cand):
            hit = cand[pp.locate_batch(x[cand], y[cand]) != gpred.EXTERIOR]
            pts.append(hit)
            owners.append(np.full(len(hit), i))
    if not pts:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(pts), np.concatenate(owners)


def prepare(wkbs):
    """[(envelope, PreparedPolygon)] for polygon WKBs."""
    from geospark.geom import core as gc
    from geospark.geom import predicates as gpred

    out = []
    for w in wkbs:
        g = gc.from_wkb(w)
        out.append((g.envelope(), gpred.PreparedPolygon(g)))
    return out


def intersecting_pairs(left_wkbs, right_wkbs):
    """(left index, right index) of every intersecting polygon pair."""
    from geospark.geom import core as gc
    from geospark.geom import predicates as gpred

    lg = [gc.from_wkb(w) for w in left_wkbs]
    rg = [gc.from_wkb(w) for w in right_wkbs]
    le = np.array([g.envelope() for g in lg])
    re_ = np.array([g.envelope() for g in rg])
    li, ri = [], []
    for j, (x0, y0, x1, y1) in enumerate(re_):
        cand = np.flatnonzero((le[:, 0] <= x1) & (le[:, 2] >= x0) & (le[:, 1] <= y1) & (le[:, 3] >= y0))
        for i in cand:
            if gpred.intersects(lg[i], rg[j]):
                li.append(i)
                ri.append(j)
    return np.asarray(li, dtype=np.int64), np.asarray(ri, dtype=np.int64)


def knn(qid, qx, qy, bid, bx, by, n: int, rng: float):
    """(qid, bid, rank) of the n nearest build points within rng of each
    query, nearest first, ties broken by build id."""
    out_q, out_b, out_r = [], [], []
    for q, x, y in zip(qid, qx, qy):
        dx, dy = np.abs(bx - x), np.abs(by - y)
        d = np.sqrt(dx * dx + dy * dy)
        near = np.flatnonzero(d <= rng)
        top = near[np.lexsort((bid[near], d[near]))][:n]
        out_q += [q] * len(top)
        out_b += list(bid[top])
        out_r += list(range(1, len(top) + 1))
    return np.asarray(out_q, np.int64), np.asarray(out_b, np.int64), np.asarray(out_r, np.int64)
