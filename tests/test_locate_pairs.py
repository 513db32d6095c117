"""The one point-in-polygon kernel, gpred.locate_pairs, against the
oracle PreparedPolygon.locate_batch: over the cell-banded edge lists of
build_cell_index (pip_join's broadcast plan, which the flagship runs),
and end to end through the flagship and pip_join on a polygon of more
than 10,000 vertices.  Also
the cell cover those paths probe: every point the oracle puts inside or
on a polygon must encode to a cell of the polygon's cover."""

import numpy as np
import pandas as pd

from geospark.cells.cellid import DEFAULT_GRID
from geospark.cells.coverage import cover_geometry
from geospark.geom import core as gc
from geospark.geom.predicates import EXTERIOR, PreparedPolygon, locate_pairs
from geospark.ops.joins import _candidate_pairs, build_cell_index

GRID = DEFAULT_GRID
LEVEL = 12
CS = GRID.cell_size(LEVEL)  # 1024: x - x0 rounds, so cell boundaries are ulp-sensitive
TOP, RIGHT = GRID.y0 + GRID.span, GRID.x0 + GRID.span


def bx(k):
    return GRID.x0 + k * CS


def by(k):
    return GRID.y0 + k * CS


def down(v):
    return float(np.nextafter(v, -np.inf))


def up(v):
    return float(np.nextafter(v, np.inf))


def box(x0, y0, x1, y1):
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]


def ring(pts):
    return list(pts) + [pts[0]]


def _polygons():
    """Shapes whose edges sit on, or one ulp off, cell boundaries, plus
    holed, multi-part and out-of-domain polygons."""
    X, Y = bx(1500), by(1500)
    X2, Y2 = bx(1510), by(1510)
    cb = bx(1520), by(1520)
    d = bx(1530), by(1530)
    e = bx(1540), by(1540)
    left, bottom = by(100), bx(100)
    polys = [
        # vertical edge one ulp left of a cell boundary; the polygon
        # reaches into the cell right of it further up the same row
        gc.polygon(ring([(X - 3000, Y + 50), (down(X), Y + 50), (down(X), Y + 500),
                         (X + 200, Y + 500), (X + 200, Y + 900), (X - 3000, Y + 900)])),
        # the same one ulp below a row boundary
        gc.polygon(ring([(X2 + 50, Y2 - 3000), (X2 + 50, down(Y2)), (X2 + 500, down(Y2)),
                         (X2 + 500, Y2 + 200), (X2 + 900, Y2 + 200), (X2 + 900, Y2 - 3000)])),
        # horizontal edges exactly on band boundaries, and one ulp off
        gc.polygon(box(cb[0] + 10, cb[1], bx(1522) - 10, by(1522))),
        gc.polygon(box(cb[0] + 20, up(by(1523)), bx(1525), down(by(1525)))),
        # holed polygon on cell boundaries, hole one ulp inside them
        gc.polygon(box(d[0], d[1], bx(1533), by(1533)),
                   holes=[box(bx(1531), up(by(1531)), bx(1532), down(by(1532)))]),
        # multipolygon: a small square on a cell corner and a triangle
        # with diagonal edges through cell corners
        gc.multi_polygon([
            box(e[0] - 5, e[1] - 5, e[0] + 5, e[1] + 5),
            ring([(bx(1541), by(1541)), (bx(1543), by(1541) + 7), (bx(1542) + 3, by(1543))]),
        ]),
        # straddling each border of the grid, with a hole outside the
        # domain: points there are clamped into the border cells
        gc.polygon(box(GRID.x0 - 3000, left, GRID.x0 + 500, left + 1000),
                   holes=[box(GRID.x0 - 2000, left + 200, GRID.x0 - 1000, left + 800)]),
        gc.polygon(box(bottom, GRID.y0 - 3000, bottom + 1000, GRID.y0 + 500),
                   holes=[box(bottom + 200, GRID.y0 - 2000, bottom + 800, GRID.y0 - 1000)]),
        gc.polygon(box(bx(200), TOP - 500, bx(200) + 1000, TOP + 3000),
                   holes=[box(bx(200) + 200, TOP + 1000, bx(200) + 800, TOP + 2000)]),
        gc.polygon(box(RIGHT - 500, by(200), RIGHT + 3000, by(200) + 1000),
                   holes=[box(RIGHT + 1000, by(200) + 200, RIGHT + 2000, by(200) + 800)]),
        # wholly outside the domain
        gc.polygon(box(GRID.x0 - 9000, by(300), GRID.x0 - 5000, by(300) + 2000),
                   holes=[box(GRID.x0 - 8000, by(300) + 500, GRID.x0 - 6000, by(300) + 1500)]),
    ]
    return [(i, gc.to_wkb(g)) for i, g in enumerate(polys)]


def _ulps(values, k=2):
    out = []
    for v in values:
        lo = hi = v
        out.append(v)
        for _ in range(k):
            lo, hi = down(lo), up(hi)
            out += [lo, hi]
    return out


def _axis(vmin, vmax, origin, verts):
    """Cell boundaries around [vmin, vmax] and the vertex coordinates,
    each with its neighbours up to two ulps either side."""
    ks = range(int(np.floor((vmin - origin) / CS)) - 1, int(np.floor((vmax - origin) / CS)) + 2)
    return np.unique(_ulps([origin + k * CS for k in ks] + list(verts)))


def _probe_points(rows, rng):
    xs, ys = [], []
    for _, wkb in rows:
        pp = PreparedPolygon(gc.from_wkb(wkb))
        x0, y0, x1, y1 = pp.bbox
        # on vertices and along edges
        for t in (0.0, 0.25, 0.5, 0.75):
            xs.append(pp.x1 + t * (pp.x2 - pp.x1))
            ys.append(pp.y1 + t * (pp.y2 - pp.y1))
        # a lattice of boundary and vertex coordinates ± ulps
        ax = _axis(x0, x1, GRID.x0, np.r_[pp.x1, [GRID.x0, RIGHT]])
        ay = _axis(y0, y1, GRID.y0, np.r_[pp.y1, [GRID.y0, TOP]])
        ax = ax[(ax >= x0 - CS) & (ax <= x1 + CS)]
        ay = ay[(ay >= y0 - CS) & (ay <= y1 + CS)]
        gx, gy = np.meshgrid(ax, ay)
        xs.append(gx.ravel())
        ys.append(gy.ravel())
        # random, bbox plus a margin
        xs.append(rng.uniform(x0 - 100, x1 + 100, 400))
        ys.append(rng.uniform(y0 - 100, y1 + 100, 400))
        # NaN coordinates at the polygon
        xs.append(np.array([np.nan, x0 + 1, np.nan]))
        ys.append(np.array([y0 + 1, np.nan, np.nan]))
    return np.concatenate(xs), np.concatenate(ys)


def _kernel_and_oracle(rows, px, py, level=LEVEL):
    idx = build_cell_index(rows, GRID, level)
    entry, pt = _candidate_pairs(GRID.encode_points(px, py, level), idx["cell_keys"], idx["starts"])
    poly = idx["members"][entry]
    got = locate_pairs(
        px[pt], py[pt], idx["ebox"][poly], idx["band_lo"][entry], idx["band_hi"][entry],
        idx["ex1"], idx["ey1"], idx["ex2"], idx["ey2"], idx["band"],
    )
    want = np.empty_like(got)
    for i, (_, wkb) in enumerate(rows):
        sel = np.flatnonzero(poly == i)
        want[sel] = PreparedPolygon(gc.from_wkb(wkb)).locate_batch(px[pt[sel]], py[pt[sel]])
    return idx, got, want


def test_locate_pairs_matches_locate_batch_on_banded_edges():
    rows = _polygons()
    px, py = _probe_points(rows, np.random.RandomState(5))
    _, got, want = _kernel_and_oracle(rows, px, py)
    assert len(got) > 10_000
    # every answer class is exercised, including out-of-domain cells
    assert set(np.unique(want)) == {0, 1, 2}
    np.testing.assert_array_equal(got, want)


def test_locate_pairs_unbanded_edge_lists():
    """pip_join's shuffle-plan form: whole edge lists, edge_ids=None,
    chunked."""
    rows = _polygons()
    px, py = _probe_points(rows, np.random.RandomState(6))
    pps = [PreparedPolygon(gc.from_wkb(w)) for _, w in rows]
    eoff = np.cumsum([0] + [len(pp.x1) for pp in pps])
    slot = np.arange(len(px)) % len(pps)
    got = locate_pairs(
        px, py, np.asarray([pp.bbox for pp in pps])[slot], eoff[:-1][slot], eoff[1:][slot],
        *(np.concatenate([getattr(pp, a) for pp in pps]) for a in ("x1", "y1", "x2", "y2")),
    )
    want = np.empty_like(got)
    for i, pp in enumerate(pps):
        want[slot == i] = pp.locate_batch(px[slot == i], py[slot == i])
    np.testing.assert_array_equal(got, want)


def _large_polygon(n=12_000):
    """A wavy ring of n vertices on a 0.01 grid (so '%.2f' page tokens
    hit its vertices exactly) with one hole."""
    t = np.linspace(0.0, 2 * np.pi, n, endpoint=False)
    r = 20_000.0 * (1 + 0.15 * np.sin(9 * t))
    shell = np.round(np.c_[500_000.0 + r * np.cos(t), 400_000.0 + r * np.sin(t)], 2)
    hole = box(495_000.0, 395_000.0, 505_000.0, 405_000.0)
    return gc.polygon(ring([tuple(p) for p in shell]), holes=[hole])


def _large_polygon_points(g, rng, n=2000):
    pp = PreparedPolygon(g)
    x0, y0, x1, y1 = pp.bbox
    px = np.round(np.r_[rng.uniform(x0, x1, n), pp.x1[::60], pp.x1[5]], 2)
    py = np.round(np.r_[rng.uniform(y0, y1, n), pp.y1[::60], pp.y1[5] + 1e-2], 2)
    return px, py, pp.locate_batch(px, py)


def test_large_polygon_kernel():
    g = _large_polygon()
    rows = [(0, gc.to_wkb(g))]
    px, py, _ = _large_polygon_points(g, np.random.RandomState(1))
    idx, got, want = _kernel_and_oracle(rows, px, py)
    n_edges = len(idx["ex1"])
    assert n_edges > 10_000 and len(idx["cell_keys"]) >= 100
    # edge lists are shared per cell row, not copied per entry
    assert len(idx["band"]) < len(idx["members"]) * n_edges / 20
    np.testing.assert_array_equal(got, want)
    # and one point alone
    _, got1, want1 = _kernel_and_oracle(rows, px[-1:], py[-1:])
    np.testing.assert_array_equal(got1, want1)


def test_large_polygon_flagship_and_pip_join(spark):
    from geospark.ops.flagship import geocode_pip_tile
    from geospark.ops.joins import pip_join

    g = _large_polygon()
    polys = spark.createDataFrame(pd.DataFrame({"poly_id": [7], "geom": [gc.to_wkb(g)]}))
    px, py, loc = _large_polygon_points(g, np.random.RandomState(2))
    for sel in (np.arange(len(px)), np.flatnonzero(loc != EXTERIOR)[-1:]):
        want = {(int(i), 7) for i in sel[loc[sel] != EXTERIOR]}
        assert len(want) > 0
        pages = spark.createDataFrame(pd.DataFrame({
            "page_id": sel.astype(np.int64),
            "url": [f"https://p{i}.example.org/" for i in sel],
            "html": [f"<p>geo:{px[i]:.2f},{py[i]:.2f}</p>".encode() for i in sel],
        }))
        fl = geocode_pip_tile(pages, polys, level=LEVEL, tile_level=14).toPandas()
        assert set(zip(fl["page_id"], fl["poly_id"])) == want
        pts = spark.createDataFrame(pd.DataFrame({"point_id": sel, "x": px[sel], "y": py[sel]}))
        pj = pip_join(pts, polys, level=LEVEL).toPandas()
        assert set(zip(pj["point_id"], pj["poly_id"])) == want


def _ulp_edge_polygons():
    """Rectangles with one edge one or two ulps either side of a cell
    boundary, each spanning three cells along that edge, so the middle
    cell holds no vertex and only the edge test can bring it into the
    cover.  Points on a right or top edge just below a boundary round
    up into the next cell (x - x0 has a coarser ulp than x)."""
    offsets = (down, lambda v: down(down(v)), up, lambda v: up(up(v)))
    polys = []
    for k, f in enumerate(offsets):
        c = 1500 + 8 * k  # columns and rows away from the other shapes
        X, Y = f(bx(c)), f(by(c))
        lo, hi = by(c) + 50, by(c + 3) - 50  # three rows
        polys.append(gc.polygon(box(X - 3000, lo, X, hi)))  # right edge at X
        polys.append(gc.polygon(box(X, lo, X + 3000, hi)))  # left edge at X
        lo, hi = bx(c) + 50, bx(c + 3) - 50  # three columns
        polys.append(gc.polygon(box(lo, Y - 3000, hi, Y)))  # top edge at Y
        polys.append(gc.polygon(box(lo, Y, hi, Y + 3000)))  # bottom edge at Y
    return [(i, gc.to_wkb(g)) for i, g in enumerate(polys)]


def _located_pairs(rows, px, py):
    """{(point, polygon)} that locate_batch puts inside or on."""
    out = set()
    for pid, wkb in rows:
        loc = PreparedPolygon(gc.from_wkb(wkb)).locate_batch(px, py)
        out |= {(int(i), pid) for i in np.flatnonzero(loc != EXTERIOR)}
    return out


def test_cover_holds_every_located_point():
    # a polygon left of the domain over six rows: its points clamp into
    # column 0, where only the rows holding a vertex have one
    outside = gc.polygon(box(GRID.x0 - 9000, by(400) + 10, GRID.x0 - 5000, by(405) + 10))
    rows = _ulp_edge_polygons() + _polygons() + [(99, gc.to_wkb(outside))]
    px, py = _probe_points(rows, np.random.RandomState(8))
    cells = GRID.encode_points(px, py, LEVEL)
    checked = 0
    for pid, wkb in rows:
        g = gc.from_wkb(wkb)
        inside = PreparedPolygon(g).locate_batch(px, py) != EXTERIOR
        missing = ~np.isin(cells[inside], cover_geometry(g, GRID, LEVEL))
        assert not missing.any(), (pid, px[inside][missing][:3], py[inside][missing][:3])
        checked += int(inside.sum())
    assert checked > 10_000


def test_cover_through_pip_join_and_flagship(spark):
    from geospark.ops.flagship import geocode_pip_tile
    from geospark.ops.joins import pip_join

    rows = _ulp_edge_polygons()
    px, py = _probe_points(rows, np.random.RandomState(9))
    ok = np.isfinite(px) & np.isfinite(py)
    px, py = px[ok], py[ok]
    want = _located_pairs(rows, px, py)
    assert len(want) > 1000
    polys = spark.createDataFrame(pd.DataFrame({
        "poly_id": [pid for pid, _ in rows], "geom": [wkb for _, wkb in rows],
    }))
    pts = spark.createDataFrame(pd.DataFrame({"point_id": np.arange(len(px)), "x": px, "y": py}))
    pj = pip_join(pts, polys, level=LEVEL).toPandas()
    assert set(zip(pj["point_id"], pj["poly_id"])) == want
    # repr() round-trips the float, so the flagship parses the same point
    pages = spark.createDataFrame(pd.DataFrame({
        "page_id": np.arange(len(px)),
        "url": [f"https://p{i}.example.org/" for i in range(len(px))],
        "html": [f"<p>geo:{float(x)!r},{float(y)!r}</p>".encode() for x, y in zip(px, py)],
    }))
    fl = geocode_pip_tile(pages, polys, level=LEVEL, tile_level=14).toPandas()
    assert set(zip(fl["page_id"], fl["poly_id"])) == want
