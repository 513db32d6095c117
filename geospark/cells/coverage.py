"""Polygon → covering cell set.

Cover at a level: a candidate cell of the bbox cover is kept iff
  (a) a cell corner is inside/on the polygon, or
  (b) a polygon vertex is encoded into the cell, or
  (c) a polygon edge intersects the cell rectangle, widened by
      ulp_margin and open on the grid's border rows and columns.
All three tests are vectorized over the bbox-candidate cell set.  The
widening makes the cover conservative against the cell encoder: every
point inside or on the polygon encodes (CellGrid.cell_xy, which rounds
and clamps) to a cell of its cover.  Optionally compacted (4 siblings
→ parent) to keep the build-side small for broadcast joins.
"""

from __future__ import annotations

import numpy as np

from ..geom.core import Geometry
from ..geom.predicates import PreparedPolygon
from .cellid import CellGrid, compact as compact_cells, unpack

# Cell bounds are widened by this many ulps of the largest coordinate
# in play (the grid's corners and the polygon's vertices).  That covers
# the float rounding of the cell encode, which can put a point a few
# ulps outside its cell's exact bounds, and of the crossing test's
# x-intercept, which can land a few ulps right of its edge's max x.  A
# wider margin only adds cells and edges; a narrower one can drop a
# deciding one.
_BAND_ULPS = 64


def ulp_margin(grid: CellGrid, coords) -> float:
    """_BAND_ULPS ulps of the largest finite |coordinate| among the
    grid's corners and `coords`."""
    gmax = max(abs(grid.x0), abs(grid.y0), abs(grid.x0 + grid.span), abs(grid.y0 + grid.span))
    c = np.abs(np.asarray(coords, dtype=np.float64)).ravel()
    return _BAND_ULPS * float(np.spacing(max(gmax, c[np.isfinite(c)].max(initial=0.0))))


def cover_geometry(
    g: Geometry,
    grid: CellGrid,
    level: int,
    exact: bool = True,
    do_compact: bool = False,
) -> np.ndarray:
    """Cells at `level` overlapping geometry g (int64 ids).

    exact=False returns the (conservative) bbox cover — always a
    superset; the join refine step removes false candidates either way.
    """
    env = g.envelope()
    if env is None:
        return np.empty(0, dtype=np.int64)
    cand = grid.cover_bbox(*env, level)
    if not exact or len(cand) <= 4:
        return compact_cells(cand) if do_compact else cand
    keep = _overlap_mask(g, grid, cand, level)
    out = cand[keep]
    return compact_cells(out) if do_compact else out


def _overlap_mask(g: Geometry, grid: CellGrid, cand: np.ndarray, level: int) -> np.ndarray:
    s = grid.cell_size(level)
    _, ix, iy = unpack(cand)
    cxmin = grid.x0 + ix * s
    cymin = grid.y0 + iy * s
    cxmax = cxmin + s
    cymax = cymin + s
    n = len(cand)
    keep = np.zeros(n, dtype=bool)

    pp = PreparedPolygon(g)

    # (a) any cell corner inside/on polygon — 4 vectorized PIP batches
    for dx in (0.0, s):
        for dy in (0.0, s):
            m = ~keep
            if not m.any():
                break
            loc = pp.covers_batch(cxmin[m] + dx, cymin[m] + dy)
            keep[np.nonzero(m)[0][loc]] = True

    # (b) any polygon vertex in a cell — bucket vertices with the
    # encoder itself, so rounding and clamping agree with the probes
    c = g.all_coords()
    if not keep.all() and len(c):
        vix, viy = grid.cell_xy(c[:, 0], c[:, 1], level)
        keep |= np.isin(ix * (1 << 32) + iy, vix * (1 << 32) + viy)

    # (c) polygon edge × widened cell rectangle (slab test)
    todo = np.nonzero(~keep)[0]
    if len(todo):
        margin = ulp_margin(grid, c)
        last = (1 << level) - 1
        ix, iy = ix[todo], iy[todo]
        rxmin = np.where(ix == 0, -np.inf, cxmin[todo] - margin)
        rymin = np.where(iy == 0, -np.inf, cymin[todo] - margin)
        rxmax = np.where(ix == last, np.inf, cxmax[todo] + margin)
        rymax = np.where(iy == last, np.inf, cymax[todo] + margin)
        edges = []
        for arr in g.coords_iter():
            if len(arr) >= 2:
                edges.append((arr[:-1], arr[1:]))
        if edges:
            p = np.concatenate([e[0] for e in edges])
            q = np.concatenate([e[1] for e in edges])
            hit = _seg_rect_any(p, q, rxmin, rymin, rxmax, rymax)
            keep[todo[hit]] = True
    return keep


def _seg_rect_any(p, q, rxmin, rymin, rxmax, rymax) -> np.ndarray:
    """For each rect, does any segment (p→q) intersect it?  Liang-Barsky
    clip, vectorized (E × R), chunked over edges."""
    nr = len(rxmin)
    out = np.zeros(nr, dtype=bool)
    for s in range(0, len(p), 1024):
        P = p[s : s + 1024]
        Q = q[s : s + 1024]
        x1, y1 = P[:, 0][:, None], P[:, 1][:, None]
        x2, y2 = Q[:, 0][:, None], Q[:, 1][:, None]
        dx = x2 - x1
        dy = y2 - y1
        t0 = np.zeros_like(x1 + rxmin[None, :])
        t1 = np.ones_like(t0)
        ok = np.ones_like(t0, dtype=bool)
        for pcoef, qcoef in (
            (-dx, x1 - rxmin[None, :]),
            (dx, rxmax[None, :] - x1),
            (-dy, y1 - rymin[None, :]),
            (dy, rymax[None, :] - y1),
        ):
            with np.errstate(divide="ignore", invalid="ignore"):
                r = qcoef / np.where(pcoef == 0, 1, pcoef)
            par_out = (pcoef == 0) & (qcoef < 0)
            ok &= ~par_out
            ent = (pcoef < 0)
            t0 = np.where(ok & ent, np.maximum(t0, r), t0)
            t1 = np.where(ok & (pcoef > 0), np.minimum(t1, r), t1)
        hit = ok & (t0 <= t1)
        out |= hit.any(axis=0)
        if out.all():
            break
    return out
