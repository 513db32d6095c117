"""Binary predicates & measures — the spatial-join predicate kernels.

Semantics follow the reference (core.clj:266-275 intersects?/touches?/
covers?/overlaps?/contains?/distance, index.clj:124-160 refine modes).
The hot path is `PreparedPolygon.contains_batch`: one polygon prepared
once per partition, tested against a whole numpy batch of points —
this is the Spark-side analogue of the reference preparing the query
geometry once per R-tree probe (index.clj:135).
"""

from __future__ import annotations

import math
from typing import List, Optional, Tuple

import numpy as np

from .core import (
    GEOMETRYCOLLECTION,
    LINESTRING,
    MULTILINESTRING,
    MULTIPOINT,
    MULTIPOLYGON,
    POINT,
    POLYGON,
    Geometry,
)
from .ops import _linework, area, centroid, parts_of, polygons_of

EXTERIOR, BOUNDARY, INTERIOR = 0, 1, 2

# (point, edge) rows per vectorized chunk in locate_batch and
# locate_pairs: bounds each chunk's temporaries to a few hundred MB
_CHUNK_ROWS = 4_000_000


# ---------------------------------------------------------------------------
# prepared polygon: vectorized point-location
# ---------------------------------------------------------------------------

class PreparedPolygon:
    """Edge arrays of a polygon/multipolygon, precomputed once; point
    location for batches of points is fully vectorized numpy.

    For large polygons an additional per-edge y-bucket index cuts the
    O(E·P) work down; built lazily when edge count ≥ 256.
    """

    __slots__ = ("x1", "y1", "x2", "y2", "bbox", "_ybuckets", "_nb", "_ymin", "_yh")

    def __init__(self, g: Geometry):
        edges = []
        for rings in _poly_rings(g):
            for r in rings:
                if len(r) >= 2:
                    edges.append((r[:-1], r[1:]))
        if edges:
            p = np.concatenate([e[0] for e in edges])
            q = np.concatenate([e[1] for e in edges])
            self.x1, self.y1 = p[:, 0].copy(), p[:, 1].copy()
            self.x2, self.y2 = q[:, 0].copy(), q[:, 1].copy()
            self.bbox = (
                min(self.x1.min(), self.x2.min()),
                min(self.y1.min(), self.y2.min()),
                max(self.x1.max(), self.x2.max()),
                max(self.y1.max(), self.y2.max()),
            )
        else:
            self.x1 = self.y1 = self.x2 = self.y2 = np.empty(0)
            self.bbox = (math.inf, math.inf, -math.inf, -math.inf)
        self._ybuckets = None
        self._nb = 0
        self._ymin = 0.0
        self._yh = 1.0

    def _ensure_index(self):
        if self._ybuckets is not None or len(self.x1) < 256:
            return
        nb = int(math.sqrt(len(self.x1))) + 1
        ymin, ymax = self.bbox[1], self.bbox[3]
        h = (ymax - ymin) / nb or 1.0
        lo = np.floor((np.minimum(self.y1, self.y2) - ymin) / h).astype(np.int64)
        hi = np.floor((np.maximum(self.y1, self.y2) - ymin) / h).astype(np.int64)
        lo = np.clip(lo, 0, nb - 1)
        hi = np.clip(hi, 0, nb - 1)
        buckets = [[] for _ in range(nb)]
        for e in range(len(lo)):
            for b in range(lo[e], hi[e] + 1):
                buckets[b].append(e)
        self._ybuckets = [np.array(b, dtype=np.int64) for b in buckets]
        self._nb = nb
        self._ymin = ymin
        self._yh = h

    def locate_batch(self, px: np.ndarray, py: np.ndarray) -> np.ndarray:
        """0=exterior 1=boundary 2=interior for each point (crossing
        number with explicit on-segment boundary test)."""
        n = len(px)
        out = np.zeros(n, dtype=np.int8)
        if len(self.x1) == 0:
            return out
        xmin, ymin, xmax, ymax = self.bbox
        inside_bbox = (px >= xmin) & (px <= xmax) & (py >= ymin) & (py <= ymax)
        idx = np.nonzero(inside_bbox)[0]
        if len(idx) == 0:
            return out
        self._ensure_index()
        if self._ybuckets is not None and len(idx) <= len(self.x1):
            # per-point edge subset via y-buckets (few points, big polygon)
            for i in idx:
                b = int((py[i] - self._ymin) / self._yh)
                b = min(max(b, 0), self._nb - 1)
                e = self._ybuckets[b]
                out[i] = self._locate_one(px[i], py[i], e)
            return out
        # full vectorization (many points): chunk points to bound memory
        CH = max(1, _CHUNK_ROWS // max(1, len(self.x1)))
        for s in range(0, len(idx), CH):
            sel = idx[s : s + CH]
            out[sel] = self._locate_many(px[sel], py[sel])
        return out

    def _locate_many(self, px, py) -> np.ndarray:
        x1, y1, x2, y2 = self.x1, self.y1, self.x2, self.y2
        PX = px[:, None]
        PY = py[:, None]
        # boundary: point on segment
        minx = np.minimum(x1, x2)
        maxx = np.maximum(x1, x2)
        miny = np.minimum(y1, y2)
        maxy = np.maximum(y1, y2)
        cross = (x2 - x1) * (PY - y1) - (y2 - y1) * (PX - x1)
        on = (
            (cross == 0)
            & (PX >= minx)
            & (PX <= maxx)
            & (PY >= miny)
            & (PY <= maxy)
        ).any(axis=1)
        # crossing number (half-open rule avoids double counting vertices)
        cond = ((y1 <= PY) & (y2 > PY)) | ((y2 <= PY) & (y1 > PY))
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (PY - y1) * (x2 - x1) / (y2 - y1)
        crossings = (cond & (PX < xint)).sum(axis=1)
        res = np.where(crossings % 2 == 1, INTERIOR, EXTERIOR).astype(np.int8)
        res[on] = BOUNDARY
        return res

    def _locate_one(self, x, y, e) -> int:
        x1, y1, x2, y2 = self.x1[e], self.y1[e], self.x2[e], self.y2[e]
        cross = (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
        on = (
            (cross == 0)
            & (x >= np.minimum(x1, x2))
            & (x <= np.maximum(x1, x2))
            & (y >= np.minimum(y1, y2))
            & (y <= np.maximum(y1, y2))
        )
        if on.any():
            return BOUNDARY
        cond = ((y1 <= y) & (y2 > y)) | ((y2 <= y) & (y1 > y))
        if not cond.any():
            return EXTERIOR
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1[cond] + (y - y1[cond]) * (x2[cond] - x1[cond]) / (y2[cond] - y1[cond])
        return INTERIOR if (x < xint).sum() % 2 == 1 else EXTERIOR

    def covers_batch(self, px, py) -> np.ndarray:
        return self.locate_batch(px, py) != EXTERIOR

    def contains_strict_batch(self, px, py) -> np.ndarray:
        return self.locate_batch(px, py) == INTERIOR


def locate_pairs(px, py, box, lo, hi, x1, y1, x2, y2, edge_ids=None) -> np.ndarray:
    """Point location of many (point, polygon) pairs in one vectorized
    pass: pair i locates (px[i], py[i]) against the edges
    edge_ids[lo[i]:hi[i]] of the concatenated edge arrays x1, y1, x2,
    y2 (edges lo[i]:hi[i] when edge_ids is None), and is EXTERIOR
    outside its polygon's bbox box[i] = (xmin, ymin, xmax, ymax).

    The arithmetic is PreparedPolygon._locate_many's, op for op, over
    flattened (pair, edge) rows reduced per pair with np.bincount.  An
    edge changes a point's answer only if min(y1, y2) <= py <= max(y1,
    y2) and px is not right of it, so any edge set that holds those
    edges gives locate_batch's answer exactly."""
    out = np.zeros(len(px), dtype=np.int8)
    cnt = hi - lo
    live = np.flatnonzero(
        (cnt > 0)
        & (px >= box[:, 0]) & (px <= box[:, 2])
        & (py >= box[:, 1]) & (py <= box[:, 3])
    )
    cnt = cnt[live]
    ends = np.cumsum(cnt)
    s = 0
    while s < len(live):
        # chunk: consecutive pairs holding at most _CHUNK_ROWS edge rows
        e = max(s + 1, int(np.searchsorted(ends, ends[s] - cnt[s] + _CHUNK_ROWS, "right")))
        sel, c = live[s:e], cnt[s:e]
        row = np.repeat(np.arange(len(sel)), c)
        eid = np.repeat(lo[sel] - (np.cumsum(c) - c), c) + np.arange(len(row))
        if edge_ids is not None:
            eid = edge_ids[eid]
        ex1, ey1, ex2, ey2 = x1[eid], y1[eid], x2[eid], y2[eid]
        PX, PY = px[sel][row], py[sel][row]
        cross = (ex2 - ex1) * (PY - ey1) - (ey2 - ey1) * (PX - ex1)
        on = (
            (cross == 0)
            & (PX >= np.minimum(ex1, ex2))
            & (PX <= np.maximum(ex1, ex2))
            & (PY >= np.minimum(ey1, ey2))
            & (PY <= np.maximum(ey1, ey2))
        )
        cond = ((ey1 <= PY) & (ey2 > PY)) | ((ey2 <= PY) & (ey1 > PY))
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = ex1 + (PY - ey1) * (ex2 - ex1) / (ey2 - ey1)
        crossings = np.bincount(row[cond & (PX < xint)], minlength=len(sel))
        res = np.where(crossings % 2 == 1, INTERIOR, EXTERIOR).astype(np.int8)
        res[np.bincount(row[on], minlength=len(sel)) > 0] = BOUNDARY
        out[sel] = res
        s = e
    return out


def _poly_rings(g: Geometry):
    if g.gtype == POLYGON:
        yield g.parts
    elif g.gtype == MULTIPOLYGON:
        yield from g.parts
    elif g.gtype == GEOMETRYCOLLECTION:
        for c in g.parts:
            yield from _poly_rings(c)


# ---------------------------------------------------------------------------
# segment intersection tests
# ---------------------------------------------------------------------------

def _orient(ax, ay, bx, by, cx, cy) -> float:
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def _on_seg(ax, ay, bx, by, px, py) -> bool:
    return (
        min(ax, bx) <= px <= max(ax, bx)
        and min(ay, by) <= py <= max(ay, by)
        and _orient(ax, ay, bx, by, px, py) == 0
    )


def segments_intersect_any(a: np.ndarray, b: np.ndarray, proper_only=False) -> bool:
    """Any segment of polyline a intersects any segment of b.
    Vectorized all-pairs orientation test, chunked."""
    if len(a) < 2 or len(b) < 2:
        return False
    a1, a2 = a[:-1], a[1:]
    b1, b2 = b[:-1], b[1:]
    # bbox prefilter per pair
    for s in range(0, len(a1), 512):
        A1, A2 = a1[s : s + 512], a2[s : s + 512]
        r = _seg_pairs_intersect(A1, A2, b1, b2, proper_only)
        if r:
            return True
    return False


def _seg_pairs_intersect(a1, a2, b1, b2, proper_only) -> bool:
    ax1, ay1 = a1[:, 0][:, None], a1[:, 1][:, None]
    ax2, ay2 = a2[:, 0][:, None], a2[:, 1][:, None]
    bx1, by1 = b1[:, 0][None, :], b1[:, 1][None, :]
    bx2, by2 = b2[:, 0][None, :], b2[:, 1][None, :]
    # bbox overlap
    ok = (
        (np.minimum(ax1, ax2) <= np.maximum(bx1, bx2))
        & (np.maximum(ax1, ax2) >= np.minimum(bx1, bx2))
        & (np.minimum(ay1, ay2) <= np.maximum(by1, by2))
        & (np.maximum(ay1, ay2) >= np.minimum(by1, by2))
    )
    if not ok.any():
        return False
    d1 = (ax2 - ax1) * (by1 - ay1) - (ay2 - ay1) * (bx1 - ax1)
    d2 = (ax2 - ax1) * (by2 - ay1) - (ay2 - ay1) * (bx2 - ax1)
    d3 = (bx2 - bx1) * (ay1 - by1) - (by2 - by1) * (ax1 - bx1)
    d4 = (bx2 - bx1) * (ay2 - by1) - (by2 - by1) * (ax2 - bx1)
    proper = ok & (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) & (
        ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))
    )
    if proper.any():
        return True
    if proper_only:
        return False
    touch = ok & ((d1 == 0) | (d2 == 0) | (d3 == 0) | (d4 == 0))
    if not touch.any():
        return False
    # confirm collinear/endpoint touches with exact on-segment tests —
    # vectorized over ALL candidates (a truncation here silently missed
    # real touches past the cap on large geometries)
    ii, jj = np.nonzero(touch)
    sax1, say1 = ax1[ii, 0], ay1[ii, 0]
    sax2, say2 = ax2[ii, 0], ay2[ii, 0]
    sbx1, sby1 = bx1[0, jj], by1[0, jj]
    sbx2, sby2 = bx2[0, jj], by2[0, jj]

    def on_seg(sx, sy, ex, ey, px, py):
        cross = (ex - sx) * (py - sy) - (ey - sy) * (px - sx)
        return (
            (cross == 0)
            & (np.minimum(sx, ex) <= px) & (px <= np.maximum(sx, ex))
            & (np.minimum(sy, ey) <= py) & (py <= np.maximum(sy, ey))
        )

    hit = (
        on_seg(sax1, say1, sax2, say2, sbx1, sby1)
        | on_seg(sax1, say1, sax2, say2, sbx2, sby2)
        | on_seg(sbx1, sby1, sbx2, sby2, sax1, say1)
        | on_seg(sbx1, sby1, sbx2, sby2, sax2, say2)
    )
    return bool(hit.any())


def has_proper_crossing(a: Geometry, b: Geometry) -> bool:
    for la in _linework(a):
        for lb in _linework(b):
            if segments_intersect_any(la, lb, proper_only=True):
                return True
    return False


def _boundaries_touch(a: Geometry, b: Geometry) -> bool:
    for la in _linework(a):
        for lb in _linework(b):
            if segments_intersect_any(la, lb):
                return True
    return False


# ---------------------------------------------------------------------------
# point location against any geometry
# ---------------------------------------------------------------------------

def locate_point(g: Geometry, x: float, y: float) -> int:
    """Locate a point against any geometry: EXTERIOR/BOUNDARY/INTERIOR."""
    t = g.gtype
    if t == POINT:
        if len(g.parts) and g.parts[0, 0] == x and g.parts[0, 1] == y:
            return INTERIOR
        return EXTERIOR
    if t == MULTIPOINT:
        if len(g.parts) and ((g.parts[:, 0] == x) & (g.parts[:, 1] == y)).any():
            return INTERIOR
        return EXTERIOR
    if t in (LINESTRING, MULTILINESTRING):
        lines = [g.parts] if t == LINESTRING else g.parts
        for c in lines:
            if len(c) < 2:
                continue
            closed = np.array_equal(c[0], c[-1])
            for i in range(len(c) - 1):
                if _on_seg(c[i, 0], c[i, 1], c[i + 1, 0], c[i + 1, 1], x, y):
                    if not closed and (
                        (x == c[0, 0] and y == c[0, 1]) or (x == c[-1, 0] and y == c[-1, 1])
                    ):
                        return BOUNDARY
                    return INTERIOR
        return EXTERIOR
    if t in (POLYGON, MULTIPOLYGON):
        pp = PreparedPolygon(g)
        return int(pp.locate_batch(np.array([x]), np.array([y]))[0])
    best = EXTERIOR
    for c in g.parts:
        loc = locate_point(c, x, y)
        best = max(best, loc)
    return best


# ---------------------------------------------------------------------------
# the named predicates (reference: core.clj:266-271)
# ---------------------------------------------------------------------------

def _dim(g: Geometry) -> int:
    t = g.gtype
    if t in (POINT, MULTIPOINT):
        return 0
    if t in (LINESTRING, MULTILINESTRING):
        return 1
    if t in (POLYGON, MULTIPOLYGON):
        return 2
    return max((_dim(c) for c in g.parts), default=0)


def _interior_sample(g: Geometry) -> Optional[Tuple[float, float]]:
    """A point in g's interior (for area geoms: centroid if interior,
    else a scanline fallback)."""
    if g.is_empty():
        return None
    d = _dim(g)
    if d == 0:
        c = g.all_coords()
        return (float(c[0, 0]), float(c[0, 1]))
    if d == 1:
        for c in _linework(g):
            if len(c) >= 2:
                return (float((c[0, 0] + c[1, 0]) / 2), float((c[0, 1] + c[1, 1]) / 2))
        return None
    pp = PreparedPolygon(g)
    cen = centroid(g)
    if not cen.is_empty():
        x, y = float(cen.parts[0, 0]), float(cen.parts[0, 1])
        if pp.locate_batch(np.array([x]), np.array([y]))[0] == INTERIOR:
            return (x, y)
    # scanline at mid-y: midpoint of the widest interior chord
    xmin, ymin, xmax, ymax = pp.bbox
    y = (ymin + ymax) / 2.0
    xs = np.unique(np.concatenate([pp.x1, pp.x2]))
    cand_x = (xs[:-1] + xs[1:]) / 2.0 if len(xs) > 1 else xs
    ys = np.full(len(cand_x), y)
    loc = pp.locate_batch(cand_x, ys)
    good = np.nonzero(loc == INTERIOR)[0]
    if len(good):
        return (float(cand_x[good[0]]), y)
    return None


def _interiors_intersect(a: Geometry, b: Geometry) -> bool:
    da, db = _dim(a), _dim(b)
    if da == 2 and db == 2:
        if has_proper_crossing(a, b):
            return True
        pa, pb = PreparedPolygon(a), PreparedPolygon(b)
        for g_from, pp in ((b, pa), (a, pb)):
            c = np.unique(g_from.all_coords(), axis=0)
            if len(c) and (pp.locate_batch(c[:, 0], c[:, 1]) == INTERIOR).any():
                return True
        for g_from, pp in ((a, pb), (b, pa)):
            s = _interior_sample(g_from)
            if s and pp.locate_batch(np.array([s[0]]), np.array([s[1]]))[0] == INTERIOR:
                return True
        # the sampling heuristics above all miss when every corner of
        # the overlap region lies ON both boundaries and neither
        # centroid falls inside the other (e.g. same-x-extent boxes
        # overlapping in a strip).  Cheap reject first: a degenerate
        # envelope overlap (zero width/height) cannot hold 2D interior.
        ea, eb = a.envelope(), b.envelope()
        if min(ea[2], eb[2]) <= max(ea[0], eb[0]) or min(ea[3], eb[3]) <= max(ea[1], eb[1]):
            return False
        # exact decision via the overlay kernel: interiors of two area
        # geometries intersect iff their intersection has positive area
        from .overlay import intersection as _ov_intersection
        from .ops import area as _ov_area

        try:
            return _ov_area(_ov_intersection(a, b)) > 0.0
        except Exception:
            return False  # overlay failure → keep the heuristic verdict
    if 0 in (da, db):
        pts = a if da == 0 else b
        other = b if da == 0 else a
        c = pts.all_coords()
        for x, y in c:
            if locate_point(other, x, y) == INTERIOR:
                return True
        return False
    # line/line or line/area
    if da == 2 or db == 2:
        line = a if da == 1 else b
        poly = b if da == 1 else a
        pp = PreparedPolygon(poly)
        for c in _linework(line):
            mids = (c[:-1] + c[1:]) / 2.0
            pts = np.vstack([c, mids])
            if (pp.locate_batch(pts[:, 0], pts[:, 1]) == INTERIOR).any():
                return True
        if has_proper_crossing(line, poly):
            return True
        return False
    # line vs line: proper crossing or collinear overlap at a midpoint
    if has_proper_crossing(a, b):
        return True
    for c in _linework(a):
        mids = (c[:-1] + c[1:]) / 2.0
        pts = np.vstack([c[1:-1], mids]) if len(c) > 2 else mids
        for x, y in pts:
            if locate_point(b, x, y) == INTERIOR and locate_point(a, x, y) == INTERIOR:
                return True
    for c in _linework(b):
        mids = (c[:-1] + c[1:]) / 2.0
        for x, y in mids:
            if locate_point(a, x, y) == INTERIOR and locate_point(b, x, y) == INTERIOR:
                return True
    return False


def intersects(a: Geometry, b: Geometry) -> bool:
    if a.is_empty() or b.is_empty():
        return False
    ea, eb = a.envelope(), b.envelope()
    if ea[2] < eb[0] or eb[2] < ea[0] or ea[3] < eb[1] or eb[3] < ea[1]:
        return False
    da, db = _dim(a), _dim(b)
    # any vertex of one on/in the other
    if da == 2:
        pp = PreparedPolygon(a)
        c = b.all_coords()
        if (pp.locate_batch(c[:, 0], c[:, 1]) != EXTERIOR).any():
            return True
    if db == 2:
        pp = PreparedPolygon(b)
        c = a.all_coords()
        if (pp.locate_batch(c[:, 0], c[:, 1]) != EXTERIOR).any():
            return True
    if da == 0:
        return any(
            locate_point(b, x, y) != EXTERIOR for x, y in a.all_coords()
        )
    if db == 0:
        return any(
            locate_point(a, x, y) != EXTERIOR for x, y in b.all_coords()
        )
    return _boundaries_touch(a, b)


def touches(a: Geometry, b: Geometry) -> bool:
    """Boundaries meet, interiors don't (core.clj:267)."""
    if not intersects(a, b):
        return False
    return not _interiors_intersect(a, b)


def covers(a: Geometry, b: Geometry) -> bool:
    """a covers b: no point of b is in a's exterior (core.clj:268)."""
    if a.is_empty() or b.is_empty():
        return False
    ea, eb = a.envelope(), b.envelope()
    if eb[0] < ea[0] or eb[1] < ea[1] or eb[2] > ea[2] or eb[3] > ea[3]:
        return False
    da = _dim(a)
    if da == 2:
        pp = PreparedPolygon(a)
        c = b.all_coords()
        if (pp.locate_batch(c[:, 0], c[:, 1]) == EXTERIOR).any():
            return False
        # b's edges must not properly cross a's boundary
        if has_proper_crossing(a, b):
            return False
        # a sample of b's interior must not fall in a hole of a
        s = _interior_sample(b)
        if s and pp.locate_batch(np.array([s[0]]), np.array([s[1]]))[0] == EXTERIOR:
            return False
        # midpoints of b's segments (catches chords through a's exterior)
        for c2 in _linework(b):
            mids = (c2[:-1] + c2[1:]) / 2.0
            if len(mids) and (pp.locate_batch(mids[:, 0], mids[:, 1]) == EXTERIOR).any():
                return False
        return True
    if da == 1:
        # line covers line/points
        for x, y in b.all_coords():
            if locate_point(a, x, y) == EXTERIOR:
                return False
        for c2 in _linework(b):
            mids = (c2[:-1] + c2[1:]) / 2.0
            for x, y in mids:
                if locate_point(a, x, y) == EXTERIOR:
                    return False
        return _dim(b) <= 1
    # points cover points
    if _dim(b) > 0:
        return False
    ca = {(x, y) for x, y in a.all_coords()}
    return all((x, y) in ca for x, y in b.all_coords())


def contains(a: Geometry, b: Geometry) -> bool:
    """a contains b: covers + some of b in a's interior (core.clj:270)."""
    if not covers(a, b):
        return False
    c = b.all_coords()
    da = _dim(a)
    if da == 2:
        pp = PreparedPolygon(a)
        if (pp.locate_batch(c[:, 0], c[:, 1]) == INTERIOR).any():
            return True
        s = _interior_sample(b)
        return bool(
            s and pp.locate_batch(np.array([s[0]]), np.array([s[1]]))[0] == INTERIOR
        )
    for x, y in c:
        if locate_point(a, x, y) == INTERIOR:
            return True
    return False


def overlaps(a: Geometry, b: Geometry) -> bool:
    """Same-dimension partial interior overlap (core.clj:269)."""
    if _dim(a) != _dim(b):
        return False
    if not _interiors_intersect(a, b):
        return False
    return not covers(a, b) and not covers(b, a)


def within(a: Geometry, b: Geometry) -> bool:
    return contains(b, a)


# ---------------------------------------------------------------------------
# distance / closest points (core.clj:275, 507-514)
# ---------------------------------------------------------------------------

def _seg_point_dist2(c: np.ndarray, px: float, py: float):
    """Min squared distance from point to polyline + witness point."""
    if len(c) == 1:
        dx, dy = px - c[0, 0], py - c[0, 1]
        return dx * dx + dy * dy, (float(c[0, 0]), float(c[0, 1]))
    a = c[:-1]
    b = c[1:]
    ab = b - a
    ap = np.array([px, py]) - a
    denom = (ab * ab).sum(axis=1)
    t = np.where(denom > 0, (ap * ab).sum(axis=1) / np.where(denom > 0, denom, 1), 0.0)
    t = np.clip(t, 0.0, 1.0)
    proj = a + ab * t[:, None]
    d2 = ((proj - [px, py]) ** 2).sum(axis=1)
    i = int(np.argmin(d2))
    return float(d2[i]), (float(proj[i, 0]), float(proj[i, 1]))


def distance(a: Geometry, b: Geometry) -> float:
    return closest_points(a, b)[0]


def closest_points(a: Geometry, b: Geometry):
    """(distance, point_on_a, point_on_b) — order-preserving like
    reference closest-points-on (core.clj:507-514)."""
    if intersects(a, b):
        # any common point; use a vertex of b inside a or intersection pt
        for x, y in b.all_coords():
            if locate_point(a, x, y) != EXTERIOR:
                return 0.0, (x, y), (x, y)
        for x, y in a.all_coords():
            if locate_point(b, x, y) != EXTERIOR:
                return 0.0, (x, y), (x, y)
        return 0.0, None, None
    best = (math.inf, None, None)
    lwa = _linework(a) or [a.all_coords()]
    lwb = _linework(b) or [b.all_coords()]
    for ca in lwa:
        for cb in lwb:
            for x, y in cb:
                d2, w = _seg_point_dist2(ca, x, y)
                if d2 < best[0]:
                    best = (d2, w, (float(x), float(y)))
            for x, y in ca:
                d2, w = _seg_point_dist2(cb, x, y)
                if d2 < best[0]:
                    best = (d2, (float(x), float(y)), w)
    return math.sqrt(best[0]), best[1], best[2]


def bbox_distance(ea, eb) -> float:
    """Distance between two envelopes (the R-tree rect distance used by
    reference kNN, index.clj:95-104)."""
    dx = max(0.0, max(ea[0], eb[0]) - min(ea[2], eb[2]))
    dy = max(0.0, max(ea[1], eb[1]) - min(ea[3], eb[3]))
    return math.hypot(dx, dy)
