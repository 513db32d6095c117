"""cut-line / split-line / noder / polygonize / overlay / buffer tests —
golden values from core_test.clj and noder_test.clj."""

import numpy as np
import pytest

from geospark.geom import core as C, linear as L, noding as N, ops as O, overlay as OV
from geospark.geom.buffer import buffer as gbuffer
from tests.conftest import wkt_set


def wkts(gs):
    return [C.to_wkt(g) for g in gs]


def robust_polygon(cx, cy, r0, n, seed, spikes=0.0):
    """Deterministic seven-lobed polygon of n vertices around (cx, cy),
    radius r0 ± 30%, vertex radii jittered in full double precision;
    spikes > 0 pushes every tenth vertex out by that much."""
    r = np.random.RandomState(seed)
    t = np.linspace(0.0, 2 * np.pi, n, endpoint=False)
    rad = r0 * (1 + 0.3 * np.sin(7 * t)) * (1 + 0.05 * r.uniform(-1, 1, n))
    rad[::10] += spikes
    return C.polygon(np.column_stack([cx + rad * np.cos(t), cy + rad * np.sin(t)]))


def ulp_nudged(g, seed, rotate=0.0):
    """g's shell with each coordinate moved by -3, 0 or +3 ulps after
    an optional rotation by `rotate` radians about its first vertex,
    in reversed vertex order."""
    xy = np.asarray(g.parts[0], dtype=np.float64)[:-1]
    x0, y0 = xy[0]
    c, s_ = np.cos(rotate), np.sin(rotate)
    x = x0 + (xy[:, 0] - x0) * c - (xy[:, 1] - y0) * s_
    y = y0 + (xy[:, 0] - x0) * s_ + (xy[:, 1] - y0) * c
    r = np.random.RandomState(seed)
    x = x + r.choice([-3, 0, 3], len(x)) * np.spacing(x)
    y = y + r.choice([-3, 0, 3], len(y)) * np.spacing(y)
    return C.polygon(np.column_stack([x, y])[::-1])


class TestCutLine:
    # core_test.clj:139-184, bit-exact including reversed orientations
    def setup_method(self):
        self.ls = C.line_string([[0, 0], [0, 10], [10, 10], [10, 0], [0, 0]])
        self.ring = C.linear_ring([[0, 0], [0, 10], [10, 10], [10, 0], [0, 0]])

    def test_no_intersections(self):
        r = L.cut_line(self.ls, C.line_string([[-1, -1], [10, -1]]))
        assert wkts(r) == ["LINESTRING (0 0, 10 0, 10 10, 0 10, 0 0)"]

    def test_no_intersections_ring(self):
        r = L.cut_line(self.ring, C.line_string([[-1, -1], [10, -1]]))
        assert wkts(r) == ["LINEARRING (0 0, 0 10, 10 10, 10 0, 0 0)"]

    def test_one_intersection(self):
        r = L.cut_line(self.ls, C.line_string([[-1, -1], [1, 5], [1, -1]]))
        assert wkts(r) == [
            "LINESTRING (0 2, 0 0)",
            "LINESTRING (1 0, 10 0, 10 10, 0 10, 0 2)",
            "LINESTRING (0 0, 1 0)",
        ]

    def test_one_intersection_ring(self):
        r = L.cut_line(self.ring, C.line_string([[-1, -1], [1, 5], [1, -1]]))
        assert wkts(r) == [
            "LINESTRING (1 0, 0 0, 0 2)",
            "LINESTRING (1 0, 10 0, 10 10, 0 10, 0 2)",
        ]

    def test_two_intersections_exact_double(self):
        r = L.cut_line(self.ls, C.line_string([[-1, -1], [1, 5], [1, -1], [3, 5], [3, -1]]))
        assert wkts(r) == [
            "LINESTRING (0 2, 0 0)",
            "LINESTRING (3 0, 10 0, 10 10, 0 10, 0 2)",
            "LINESTRING (1.3333333333333357 0, 3 0)",
            "LINESTRING (1 0, 1.3333333333333357 0)",
            "LINESTRING (0 0, 1 0)",
        ]

    def test_two_intersections_ring_wraparound(self):
        r = L.cut_line(self.ring, C.line_string([[-1, -1], [1, 5], [1, -1], [3, 6], [-1, 6]]))
        assert wkts(r) == [
            "LINESTRING (1 0, 0 0, 0 2)",
            "LINESTRING (0 6, 0 2)",
            "LINESTRING (1.2857142857142847 0, 10 0, 10 10, 0 10, 0 6)",
            "LINESTRING (1 0, 1.2857142857142847 0)",
        ]


def test_split_line():
    halves = L.split_line(C.line_string([[0, 0], [10, 0]]), C.point(3, 5))
    assert wkts(halves) == ["LINESTRING (0 0, 3 5)", "LINESTRING (3 5, 10 0)"]


def test_plain_noding():
    # noder_test.clj:8-24: cross → 4 segments, 5 endpoints
    lines = [C.line_string([[-1, 0], [1, 0]]), C.line_string([[0, -1], [0, 1]])]
    noded = N.node(lines)
    assert len(noded) == 4
    eps = set()
    for g, _src in noded:
        for p in O.endpoints_of(g):
            eps.add((p.parts[0, 0], p.parts[0, 1]))
    assert eps == {(-1, 0), (1, 0), (0, 1), (0, -1), (0, 0)}


def test_node_with_others():
    # noder_test.clj:26-47
    lines = [C.line_string([[0, 0], [10, 0]]), C.line_string([[0, 20], [10, 20]])]
    pts = [C.point(3, 5), C.point(3, 15)]
    cur, mapping = N.node_with_others(lines, pts)
    assert wkt_set(cur) == wkt_set(
        [
            "LINESTRING (0 0, 3 0)",
            "LINESTRING (3 0, 10 0)",
            "LINESTRING (0 20, 3 20)",
            "LINESTRING (3 20, 10 20)",
            "LINESTRING (3 0, 3 5)",
            "LINESTRING (3 20, 3 15)",
        ]
    )
    assert C.to_wkt(mapping[0]) == "POINT (3 5)"
    assert C.to_wkt(mapping[1]) == "POINT (3 15)"


def test_connect_faces():
    # noder_test.clj:49-63: face connector prefers the face midpoint
    line = [C.line_string([[0, 0], [10, 1]])]
    square = C.polygon([[4, 1], [6, 1], [6, 3], [4, 3], [4, 1]])
    _, m0 = N.node_with_others(line, [square])
    _, m1 = N.node_with_others(
        line, [square], connect=lambda l, t: N.connect_faces(2, 1, l, t)
    )
    assert C.to_wkt(m0[0]) == "POINT (6 1)"
    assert C.to_wkt(m1[0]) == "POINT (5 1)"


def test_snap_endpoints():
    # endpoints within 10cm get snapped; collapsed lines dropped
    lines = [
        C.line_string([[0, 0], [10, 0]]),
        C.line_string([[10.0005, 0.0005], [20, 0]]),
    ]
    out = N.snap_endpoints(lines, 10.0)
    assert len(out) == 2
    assert (out[1].parts[0] == [10.0, 0.0]).all()


def test_cut_polygon():
    # core_test.clj:64-69
    sq = C.polygon([[0, 0], [0, 10], [10, 10], [10, 0], [0, 0]])
    parts = N.cut_polygon(sq, [C.line_string([[0, 5], [10, 5]])])
    assert wkt_set(parts) == wkt_set(
        [
            "POLYGON ((0 0, 0 5, 10 5, 10 0, 0 0))",
            "POLYGON ((0 5, 0 10, 10 10, 10 5, 0 5))",
        ]
    )
    # empty paths → identity
    assert N.cut_polygon(sq, []) == [sq]


class TestOverlay:
    def test_union_lines_golden(self):
        # core_test.clj:71-85
        u = OV.union(
            C.from_wkt("MULTILINESTRING ((0 0, 10 10), (10 0, 0 10))"),
            C.from_wkt("LINESTRING (3 0, 3 10)"),
        )
        assert wkt_set(O.line_strings_of(u)) == wkt_set(
            [
                "LINESTRING (0 0, 3 3)",
                "LINESTRING (3 3, 5 5)",
                "LINESTRING (5 5, 10 10)",
                "LINESTRING (10 0, 5 5)",
                "LINESTRING (5 5, 3 7)",
                "LINESTRING (3 7, 0 10)",
                "LINESTRING (3 0, 3 3)",
                "LINESTRING (3 3, 3 7)",
                "LINESTRING (3 7, 3 10)",
            ]
        )

    def test_intersection_goldens(self):
        # core_test.clj:87-94
        assert C.geom_eq(
            OV.intersection(C.from_wkt("LINESTRING (0 0, 3 3)"), C.from_wkt("LINESTRING (0 0, 3 3)")),
            C.from_wkt("LINESTRING (0 0, 3 3)"),
        )
        assert C.geom_eq(
            OV.intersection(C.from_wkt("LINESTRING (0 0, 3 3)"), C.from_wkt("LINESTRING (3 0, 0 3)")),
            C.from_wkt("POINT (1.5 1.5)"),
        )

    def test_area_ops(self):
        a = C.from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
        b = C.from_wkt("POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))")
        assert O.area(OV.intersection(a, b)) == 25.0
        assert O.area(OV.union(a, b)) == 175.0
        assert O.area(OV.difference(a, b)) == 75.0
        assert O.area(OV.sym_difference(a, b)) == 150.0

    def test_difference_makes_hole(self):
        a = C.from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
        inner = C.from_wkt("POLYGON ((3 3, 7 3, 7 7, 3 7, 3 3))")
        d = OV.difference(a, inner)
        assert O.area(d) == 84.0
        assert d.gtype == C.POLYGON and len(d.parts) == 2

    def test_overlay_robustness_fixtures(self):
        # core_test.clj:96-114 — float-limit polygons: no exception,
        # valid output (values not asserted by the reference either).
        # In-repo stand-ins at the reference cases' magnitudes: a large
        # polygon at British National Grid metres against a copy whose
        # vertices moved by a few ulps (near-coincident edges
        # everywhere), and two lon/lat polygons near (117.25, 31.8)
        # differing by an ulp-scale rotation
        a = robust_polygon(530123.4567890123, 180456.7890123456, 1500.0, 160, seed=1)
        b = ulp_nudged(a, seed=2)
        d = OV.difference(a, b)
        assert OV.is_valid(d)
        x = robust_polygon(117.25, 31.8321987654321, 0.05, 120, seed=3)
        y = ulp_nudged(x, seed=4, rotate=1e-13)
        i = OV.intersection(x, y)
        assert O.area(i) >= 0.0

    def test_unary_union_dissolve(self):
        mp = C.from_wkt(
            "MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0)), ((10 0, 20 0, 20 10, 10 10, 10 0)))"
        )
        u = OV.union(mp)
        assert O.area(u) == 200.0
        assert u.gtype == C.POLYGON

    def test_make_valid_bowtie(self):
        bow = C.from_wkt("POLYGON ((0 0, 10 10, 10 0, 0 10, 0 0))")
        fixed = OV.make_valid(bow)
        assert O.area(fixed) == 50.0
        assert OV.is_valid(fixed)
        # linestrings pass through (core_test.clj:49-52)
        ls = C.from_wkt("LINESTRING (0 0, 10 10, 2 2)")
        assert C.geom_eq(OV.make_valid(ls), ls)


class TestBuffer:
    def test_point_disc(self):
        d = gbuffer(C.point(0, 0), 10)
        assert OV.is_valid(d)
        assert 310 < O.area(d) < 315  # 32-gon of r=10 ≈ 312.14

    def test_caps(self):
        assert abs(O.area(gbuffer(C.line_string([[0, 0], [10, 0]]), 1, 2, cap="square")) - 24.0) < 1e-6
        assert abs(O.area(gbuffer(C.line_string([[0, 0], [10, 0]]), 1, 2, cap="flat")) - 20.0) < 1e-6

    def test_polygon_buffers(self):
        sq = C.from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
        grown = gbuffer(sq, 2, 2, cap="square", join="mitre", mitre_limit=2)
        assert abs(O.area(grown) - 196.0) < 1e-6
        shrunk = gbuffer(sq, -2)
        assert abs(O.area(shrunk) - 36.0) < 1e-6

    @pytest.mark.slow
    def test_buffer_validity_fixtures(self):
        # core_test.clj:116-120 — double-buffer the captured polygons,
        # assert validity only
        # stand-in for the captured polygon2.wkt: a jagged 300-vertex
        # polygon in BNG metres with 30 m spikes a few metres wide, so
        # the inward buffer cuts them off and the outward one regrows
        p2 = robust_polygon(451234.56789012345, 206789.01234567891, 400.0, 300, seed=5, spikes=30.0)
        r2 = gbuffer(gbuffer(p2, -10, 2, cap="square", join="mitre", mitre_limit=2), 15, 2, cap="square", join="mitre", mitre_limit=2)
        assert OV.is_valid(r2)


class TestMixedDimOverlay:
    def test_line_minus_area(self):
        l = C.from_wkt("LINESTRING (-5 5, 15 5)")
        sq = C.from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
        d = OV.difference(l, sq)
        assert abs(O.length(d) - 10.0) < 1e-9
        assert wkt_set(O.line_strings_of(d)) == wkt_set(
            ["LINESTRING (-5 5, 0 5)", "LINESTRING (10 5, 15 5)"]
        )

    def test_line_sym_difference(self):
        a = C.from_wkt("LINESTRING (0 0, 10 0)")
        b = C.from_wkt("LINESTRING (5 0, 15 0)")
        sd = OV.sym_difference(a, b)
        assert abs(O.length(sd) - 10.0) < 1e-9

    def test_points_minus_area(self):
        p = C.from_wkt("MULTIPOINT ((5 5), (20 20))")
        sq = C.from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
        d = OV.difference(p, sq)
        assert C.geom_eq(d, C.from_wkt("POINT (20 20)"))

    def test_sliver_subpixel_consistency(self):
        # regression for the ε-ladder: sub-pixel sliver B must not
        # break the difference boundary (hypothesis-found case)
        a = C.from_wkt("POLYGON ((0 0, 2 0, 0 999999, 0 0))")
        b = C.from_wkt("POLYGON ((0 0, 0.333 0, 1000000 1, 0 0))")
        d = OV.difference(a, b)
        assert abs(O.area(d) - O.area(a)) < 1.0
