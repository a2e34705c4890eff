"""Computed DE-9IM matrices for line×line and line×polygon (geo/de9im.py).

Expected strings are the JTS RelateOp matrices for the same fixtures
(derived by hand from the DE-9IM definition; JTS itself is not available
offline).  Pure numpy — no Spark session needed.
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geomesa_spark.geo import de9im, wkt


def L(s):
    return wkt.parse_wkt(s).coords


def P(s):
    return wkt.parse_wkt(s).coords  # list of rings


SQUARE = "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"


class TestLineLine:
    def test_equal(self):
        a = L("LINESTRING (0 0, 10 0)")
        assert de9im.line_line_matrix(a, a) == "1FFF0FFF2"

    def test_contains_subsegment(self):
        a = L("LINESTRING (0 0, 10 0)")
        b = L("LINESTRING (2 0, 5 0)")
        assert de9im.line_line_matrix(a, b) == "101FF0FF2"
        # transpose = within
        assert de9im.line_line_matrix(b, a) == de9im.transpose("101FF0FF2")

    def test_partial_overlap(self):
        a = L("LINESTRING (0 0, 5 0)")
        b = L("LINESTRING (3 0, 8 0)")
        assert de9im.line_line_matrix(a, b) == "1010F0102"

    def test_cross(self):
        a = L("LINESTRING (-1 0, 1 0)")
        b = L("LINESTRING (0 -1, 0 1)")
        assert de9im.line_line_matrix(a, b) == "0F1FF0102"

    def test_endpoint_touch(self):
        a = L("LINESTRING (0 0, 1 0)")
        b = L("LINESTRING (1 0, 2 0)")
        assert de9im.line_line_matrix(a, b) == "FF1F00102"

    def test_t_touch_interior(self):
        a = L("LINESTRING (0 0, 2 0)")
        b = L("LINESTRING (1 0, 1 1)")
        assert de9im.line_line_matrix(a, b) == "F01FF0102"

    def test_disjoint(self):
        a = L("LINESTRING (0 0, 1 0)")
        b = L("LINESTRING (0 2, 1 2)")
        assert de9im.line_line_matrix(a, b) == "FF1FF0102"

    def test_closed_line_empty_boundary(self):
        ring = L("LINESTRING (0 0, 1 0, 1 1, 0 1, 0 0)")
        b = L("LINESTRING (0.5 -0.5, 0.5 0.5)")
        assert de9im.line_line_matrix(ring, b) == "0F1FFF102"

    def test_vertex_touch_no_cross(self):
        # V-shaped line's apex resting on another line's interior
        a = L("LINESTRING (0 1, 1 0, 2 1)")
        b = L("LINESTRING (-1 0, 3 0)")
        m = de9im.line_line_matrix(a, b)
        assert m[0] == "0"  # apex is interior to both
        assert m == "0F1FF0102"


class TestLinePolygon:
    def test_crossing_through(self):
        a = L("LINESTRING (-1 0.5, 2 0.5)")
        assert de9im.line_poly_matrix(a, P(SQUARE)) == "101FF0212"

    def test_within(self):
        a = L("LINESTRING (0.2 0.5, 0.8 0.5)")
        assert de9im.line_poly_matrix(a, P(SQUARE)) == "1FF0FF212"

    def test_along_edge(self):
        a = L("LINESTRING (0 0, 1 0)")
        assert de9im.line_poly_matrix(a, P(SQUARE)) == "F1FF0F212"

    def test_disjoint(self):
        a = L("LINESTRING (2 2, 3 3)")
        assert de9im.line_poly_matrix(a, P(SQUARE)) == "FF1FF0212"

    def test_half_in(self):
        a = L("LINESTRING (-1 0.5, 0.5 0.5)")
        assert de9im.line_poly_matrix(a, P(SQUARE)) == "1010F0212"

    def test_touch_boundary_from_outside(self):
        a = L("LINESTRING (-1 0, 0 0)")  # endpoint touches the corner
        # interior disjoint, one endpoint on the boundary, other outside
        assert de9im.line_poly_matrix(a, P(SQUARE)) == "FF1F00212"

    def test_hole_matters(self):
        donut = P(
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"
        )
        a = L("LINESTRING (4.5 5, 5.5 5)")  # entirely inside the hole
        m = de9im.line_poly_matrix(a, donut)
        assert m[0] == "F" and m[2] == "1"  # interior∩interior empty, line in exterior

    def test_transpose_poly_line(self):
        within = de9im.line_poly_matrix(L("LINESTRING (0.2 0.5, 0.8 0.5)"), P(SQUARE))
        assert de9im.transpose(within) == "102FF1FF2"


class TestConsistencyWithPredicates:
    """The matrix must agree with the independent geo/relate predicates:
    intersects(a, b) == any non-F among II, IB, BI, BB.  Integer-grid
    fixtures keep every incidence decision exact (no tolerance skew
    between de9im's planar eps and relate's geodesic tolerance)."""

    def _mat_intersects(self, m):
        return any(m[i] != "F" for i in (0, 1, 3, 4))

    def test_line_line_random_grid(self):
        from geomesa_spark.geo import relate

        rng = np.random.default_rng(7)
        for _ in range(300):
            a = rng.integers(0, 5, size=(3, 2)).astype(float)
            b = rng.integers(0, 5, size=(3, 2)).astype(float)
            ga = wkt.Geometry(wkt.WKB_LINESTRING, a)
            gb = wkt.Geometry(wkt.WKB_LINESTRING, b)
            if len(np.unique(a, axis=0)) < 2 or len(np.unique(b, axis=0)) < 2:
                continue  # degenerate all-equal-vertex lines
            m = de9im.line_line_matrix(a, b)
            assert self._mat_intersects(m) == relate.intersects(ga, gb), (
                a.tolist(), b.tolist(), m
            )

    def test_line_poly_random_grid(self):
        from geomesa_spark.geo import relate

        rng = np.random.default_rng(11)
        square = [np.asarray([[1.0, 1], [4, 1], [4, 4], [1, 4]])]
        gp = wkt.Geometry(wkt.WKB_POLYGON, square)
        for _ in range(300):
            a = rng.integers(0, 6, size=(3, 2)).astype(float)
            if len(np.unique(a, axis=0)) < 2:
                continue
            ga = wkt.Geometry(wkt.WKB_LINESTRING, a)
            m = de9im.line_poly_matrix(a, square)
            assert self._mat_intersects(m) == relate.intersects(ga, gp), (
                a.tolist(), m
            )


class TestPolyPoly:
    """Hand-derived JTS RelateOp matrices for polygon × polygon."""

    def test_equal(self):
        a = P(SQUARE)
        assert de9im.poly_poly_matrix(a, a) == "2FFF1FFF2"

    def test_contains_disjoint_boundaries(self):
        a = P("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
        b = P("POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))")
        assert de9im.poly_poly_matrix(a, b) == "212FF1FF2"
        assert de9im.poly_poly_matrix(b, a) == "2FF1FF212"

    def test_within_touching_boundary(self):
        # inner shares the x=0 and y=0 edges with outer
        a = P("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
        b = P("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
        assert de9im.poly_poly_matrix(a, b) == "2FF11F212"
        assert de9im.poly_poly_matrix(b, a) == "212F11FF2"

    def test_overlap(self):
        a = P("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
        b = P("POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))")
        assert de9im.poly_poly_matrix(a, b) == "212101212"

    def test_touch_edge(self):
        a = P("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
        b = P("POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))")
        assert de9im.poly_poly_matrix(a, b) == "FF2F11212"

    def test_touch_corner_point(self):
        a = P("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
        b = P("POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))")
        assert de9im.poly_poly_matrix(a, b) == "FF2F01212"

    def test_disjoint(self):
        a = P("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
        b = P("POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))")
        assert de9im.poly_poly_matrix(a, b) == "FF2FF1212"

    HOLED = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"

    def test_hole_filler(self):
        # b exactly fills a's hole: b's interior is a's EXTERIOR, shared ring
        a = P(self.HOLED)
        b = P("POLYGON ((4 4, 6 4, 6 6, 4 6, 4 4))")
        assert de9im.poly_poly_matrix(a, b) == "FF2F112F2"

    def test_inside_hole_disjoint(self):
        a = P(self.HOLED)
        b = P("POLYGON ((4.5 4.5, 5.5 4.5, 5.5 5.5, 4.5 5.5, 4.5 4.5))")
        assert de9im.poly_poly_matrix(a, b) == "FF2FF1212"

    def test_holed_within_full_square(self):
        # holed square inside the full square with identical outer ring:
        # the hole is ext(a) ∩ int(b) — only a hole-probe can witness EI
        a = P(self.HOLED)
        b = P("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
        assert de9im.poly_poly_matrix(a, b) == "2FF11F2F2"
        assert de9im.poly_poly_matrix(b, a) == de9im.transpose("2FF11F2F2")

    def test_equal_holed(self):
        a = P(self.HOLED)
        assert de9im.poly_poly_matrix(a, a) == "2FFF1FFF2"

    def test_matches_boolean_predicates_random(self):
        from geomesa_spark.geo import relate

        rng = np.random.default_rng(13)
        for _ in range(200):
            x0, y0 = rng.integers(0, 4, size=2).astype(float)
            w0, h0 = rng.integers(1, 4, size=2).astype(float)
            x1, y1 = rng.integers(0, 4, size=2).astype(float)
            w1, h1 = rng.integers(1, 4, size=2).astype(float)
            ra = [np.asarray([[x0, y0], [x0 + w0, y0], [x0 + w0, y0 + h0], [x0, y0 + h0]])]
            rb = [np.asarray([[x1, y1], [x1 + w1, y1], [x1 + w1, y1 + h1], [x1, y1 + h1]])]
            ga = wkt.Geometry(wkt.WKB_POLYGON, ra)
            gb = wkt.Geometry(wkt.WKB_POLYGON, rb)
            m = de9im.poly_poly_matrix(ra, rb)
            inter = any(c != "F" for c in (m[0], m[1], m[3], m[4]))
            assert inter == relate.intersects(ga, gb), (ra, rb, m)


class TestMultiJoint:
    """Joint-union MULTI* matrices — cases where per-part merging fails."""

    def G(self, s):
        return wkt.parse_wkt(s)

    def test_multiline_union_covers(self):
        # two collinear member segments whose UNION equals the line:
        # per-part merge would say EI=1; the joint matrix must say equals
        a = self.G("MULTILINESTRING ((0 0, 1 0), (1 0, 2 0))")
        b = self.G("LINESTRING (0 0, 2 0)")
        assert de9im.relate_matrix(a, b) == "1FFF0FFF2"

    def test_multiline_parity_boundary(self):
        # the shared endpoint (1,0) occurs twice -> even -> NOT boundary;
        # outer endpoints are boundary
        a = self.G("MULTILINESTRING ((0 0, 1 0), (1 0, 2 0))")
        p_mid = self.G("POINT (1 0)")
        p_end = self.G("POINT (0 0)")
        assert de9im.relate_matrix(p_mid, a) == "0FFFFF1F2"[:3] + "FFF" + "102"  # interior
        assert de9im.relate_matrix(p_end, a)[1] == "0"  # boundary hit

    def test_multipolygon_within(self):
        a = self.G("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((2 0, 3 0, 3 1, 2 1, 2 0)))")
        b = self.G("POLYGON ((0 0, 3 0, 3 1, 0 1, 0 0))")
        assert de9im.relate_matrix(a, b) == "2FF11F212"
        assert de9im.relate_matrix(b, a) == de9im.transpose("2FF11F212")

    def test_multipolygon_one_part_outside(self):
        a = self.G("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((9 9, 10 9, 10 10, 9 10, 9 9)))")
        b = self.G("POLYGON ((-1 -1, 2 -1, 2 2, -1 2, -1 -1))")
        # first part inside (disjoint boundaries), second part fully outside:
        # no boundary ever touches the other's boundary (BB=F) and B's
        # boundary stays clear of A's interior (IB=F)
        assert de9im.relate_matrix(a, b) == "2F21F1212"

    def test_multipoint_vs_polygon(self):
        a = self.G("MULTIPOINT ((0.5 0.5), (5 5))")
        b = self.G("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
        # one point in, one point out
        assert de9im.relate_matrix(a, b) == "0F0FFF212"

    def test_multipoint_vs_multipoint(self):
        a = self.G("MULTIPOINT ((0 0), (1 1))")
        b = self.G("MULTIPOINT ((1 1), (2 2))")
        assert de9im.relate_matrix(a, b) == "0F0FFF0F2"

    def test_part_nested_in_hole(self):
        # b's second part sits inside b's first part's hole; the remaining
        # hole annulus is ext(b) inside int(a) -> IE of a must be 2
        a = self.G("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
        b = self.G(
            "MULTIPOLYGON (((1 1, 9 1, 9 9, 1 9, 1 1), (3 3, 7 3, 7 7, 3 7, 3 3)),"
            " ((4 4, 6 4, 6 6, 4 6, 4 4)))"
        )
        m = de9im.relate_matrix(a, b)
        assert m[2] == "2"  # IE: the annulus witness needs the filled-hole probe
        assert m[0] == "2" and m[6] == "F"

    def test_collection_homogeneous(self):
        a = self.G("GEOMETRYCOLLECTION (POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0)), POLYGON ((2 0, 3 0, 3 1, 2 1, 2 0)))")
        b = self.G("POLYGON ((0 0, 3 0, 3 1, 0 1, 0 0))")
        assert de9im.relate_matrix(a, b) == "2FF11F212"

    def test_collection_mixed_is_none(self):
        a = self.G("GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 0, 1 1))")
        b = self.G("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
        assert de9im.relate_matrix(a, b) is None

    def test_multiline_vs_polygon_joint(self):
        # one member crosses the square, one is fully outside
        a = self.G("MULTILINESTRING ((-1 0.5, 2 0.5), (5 5, 6 5))")
        b = self.G("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
        # boundary rows stay dim-0: endpoints are finite points (BE=0)
        assert de9im.relate_matrix(a, b) == "101FF0212"


class TestPolyPolyBoxDifferential:
    """Randomized differential test: poly_poly_matrix vs a closed-form
    DE-9IM oracle for axis-aligned boxes (derived independently from the
    interval arithmetic of open/closed rectangle parts).  Small integer
    coordinates make touch-edge / touch-corner / shared-edge-containment /
    equality cases frequent — the whole box-relationship taxonomy."""

    @staticmethod
    def _box_rings(x0, y0, x1, y1):
        return [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]],
                         dtype=float)]

    @staticmethod
    def _oracle(A, B):
        ax0, ay0, ax1, ay1 = A
        bx0, by0, bx1, by1 = B

        def overlap_open(lo, hi, a, b):
            return min(hi, b) - max(lo, a) > 0

        II = "2" if (min(ax1, bx1) - max(ax0, bx0) > 0
                     and min(ay1, by1) - max(ay0, by0) > 0) else "F"

        def int_bound(P, Q):
            px0, py0, px1, py1 = P
            qx0, qy0, qx1, qy1 = Q
            hit = any(px0 < x < px1 and overlap_open(py0, py1, qy0, qy1)
                      for x in (qx0, qx1))
            hit |= any(py0 < y < py1 and overlap_open(px0, px1, qx0, qx1)
                       for y in (qy0, qy1))
            return "1" if hit else "F"

        def contained(P, Q):
            px0, py0, px1, py1 = P
            qx0, qy0, qx1, qy1 = Q
            return qx0 <= px0 and px1 <= qx1 and qy0 <= py0 and py1 <= qy1

        IB, BI = int_bound(A, B), int_bound(B, A)
        IE = "F" if contained(A, B) else "2"
        EI = "F" if contained(B, A) else "2"
        BE = "F" if contained(A, B) else "1"
        EB = "F" if contained(B, A) else "1"
        bb = "F"
        for x in (ax0, ax1):
            if x in (bx0, bx1) and overlap_open(ay0, ay1, by0, by1):
                bb = "1"
        for y in (ay0, ay1):
            if y in (by0, by1) and overlap_open(ax0, ax1, bx0, bx1):
                bb = "1"
        if bb == "F":
            def edges(b):
                x0, y0, x1, y1 = b
                return [((x0, y0), (x1, y0)), ((x1, y0), (x1, y1)),
                        ((x1, y1), (x0, y1)), ((x0, y1), (x0, y0))]
            for (p1, p2) in edges(A):
                for (q1, q2) in edges(B):
                    ix0 = max(min(p1[0], p2[0]), min(q1[0], q2[0]))
                    ix1 = min(max(p1[0], p2[0]), max(q1[0], q2[0]))
                    iy0 = max(min(p1[1], p2[1]), min(q1[1], q2[1]))
                    iy1 = min(max(p1[1], p2[1]), max(q1[1], q2[1]))
                    if ix0 > ix1 or iy0 > iy1:
                        continue
                    if (ix1 - ix0) + (iy1 - iy0) > 0:
                        bb = "1"
                    elif bb == "F":
                        bb = "0"
        return II + IB + IE + BI + bb + BE + EI + EB + "2"

    def test_random_boxes_match_closed_form(self):
        rng = np.random.default_rng(12345)
        for _ in range(1500):
            ax0, ay0 = rng.integers(0, 6, 2)
            ax1, ay1 = ax0 + rng.integers(1, 5), ay0 + rng.integers(1, 5)
            bx0, by0 = rng.integers(0, 6, 2)
            bx1, by1 = bx0 + rng.integers(1, 5), by0 + rng.integers(1, 5)
            A = (float(ax0), float(ay0), float(ax1), float(ay1))
            B = (float(bx0), float(by0), float(bx1), float(by1))
            got = de9im.poly_poly_matrix(self._box_rings(*A), self._box_rings(*B))
            assert got == self._oracle(A, B), (A, B)


class TestEqualsCanonical:
    """`equals` (the JTS ``T*F**FFF*`` pattern over the matrix) is invariant
    to ring rotation/direction, line direction, MULTI* part order and
    collinear vertex splits: it compares point sets, not vertex lists."""

    def _eq(self, a, b):
        from geomesa_spark.geo import relate

        return relate.predicate("equals", wkt.parse_wkt(a), wkt.parse_wkt(b))

    def test_polygon_rotation(self):
        assert self._eq(
            "POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))",
            "POLYGON((4 4, 0 4, 0 0, 4 0, 4 4))",
        )

    def test_polygon_reversed_orientation(self):
        assert self._eq(
            "POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))",
            "POLYGON((0 0, 0 4, 4 4, 4 0, 0 0))",
        )

    def test_polygon_different_vertices_unequal(self):
        assert not self._eq(
            "POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))",
            "POLYGON((0 0, 4 0, 4 4, 0 5, 0 0))",
        )

    def test_polygon_holes_order_insensitive(self):
        a = ("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0),"
             " (1 1, 2 1, 2 2, 1 2, 1 1), (5 5, 6 5, 6 6, 5 6, 5 5))")
        b = ("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0),"
             " (5 5, 6 5, 6 6, 5 6, 5 5), (1 1, 2 1, 2 2, 1 2, 1 1))")
        assert self._eq(a, b)

    def test_hole_vs_no_hole_unequal(self):
        assert not self._eq(
            "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))",
            "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))",
        )

    def test_linestring_reversed(self):
        assert self._eq("LINESTRING(0 0, 1 1, 2 0)", "LINESTRING(2 0, 1 1, 0 0)")
        assert not self._eq("LINESTRING(0 0, 1 1, 2 0)", "LINESTRING(0 0, 1 1, 2 1)")

    def test_collinear_split_equal(self):
        # same point set, extra collinear vertex: equal, as in JTS
        assert self._eq("LINESTRING(0 0, 2 0)", "LINESTRING(0 0, 1 0, 2 0)")
        assert self._eq(
            "POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))", "POLYGON((0 0, 2 0, 4 0, 4 4, 0 4, 0 0))"
        )

    def test_multipoint_order_insensitive(self):
        assert self._eq("MULTIPOINT(1 1, 2 2, 3 3)", "MULTIPOINT(3 3, 1 1, 2 2)")
        assert not self._eq("MULTIPOINT(1 1, 2 2)", "MULTIPOINT(1 1, 2 3)")

    def test_multilinestring_part_order_and_direction(self):
        assert self._eq(
            "MULTILINESTRING((0 0, 1 1), (5 5, 6 6))",
            "MULTILINESTRING((6 6, 5 5), (1 1, 0 0))",
        )

    def test_multipolygon_part_order_and_rotation(self):
        assert self._eq(
            "MULTIPOLYGON(((0 0, 2 0, 2 2, 0 2, 0 0)), ((5 5, 7 5, 7 7, 5 7, 5 5)))",
            "MULTIPOLYGON(((7 7, 5 7, 5 5, 7 5, 7 7)), ((0 0, 0 2, 2 2, 2 0, 0 0)))",
        )

    def test_kind_mismatch(self):
        assert not self._eq("POINT(1 1)", "LINESTRING(1 1, 2 2)")

    def test_sub_quantum_perturbation_all_rotations_directions(self):
        """Round-5 advice: canonical rotation/direction selection must agree
        with the comparison tolerance.  Coordinates perturbed below the
        quantization step (±1e-15) must compare equal under EVERY rotation
        and direction of the ring — the old exact-tobytes selection could
        pick different canonical forms for tolerance-equal inputs."""
        base = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)]
        a = "POLYGON((" + ", ".join(f"{x} {y}" for x, y in base + base[:1]) + "))"
        eps = 1e-15
        for rot in range(4):
            rolled = base[rot:] + base[:rot]
            for seq in (rolled, rolled[::-1]):
                pts = [(x + eps, y - eps) for x, y in seq]
                b = "POLYGON((" + ", ".join(
                    f"{x!r} {y!r}" for x, y in pts + pts[:1]
                ) + "))"
                assert self._eq(a, b), (rot, seq)

    def test_above_quantum_perturbation_unequal(self):
        assert not self._eq(
            "POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))",
            "POLYGON((0 0, 4.000000001 0, 4 4, 0 4, 0 0))",
        )

    def test_negative_zero_normalized(self):
        # -0.0 and +0.0 must share one canonical byte pattern
        assert self._eq("POINT(-0.0 0)", "POINT(0 -0.0)")
        assert self._eq(
            "LINESTRING(-0.0 1, 2 2)", "LINESTRING(2 2, 0.0 1)"
        )


NAMES = ("contains", "within", "covers", "coveredBy", "intersects", "disjoint",
         "touches", "crosses", "overlaps", "equals")


def _jts_relation(name, m, da, db):
    """The named relation read off the matrix cell by cell, restating JTS
    ``IntersectionMatrix.isContains``/``isTouches``/… independently of the
    pattern table in ``relate``."""
    t = [c != "F" for c in m]
    II, IB, IE, BI, BB, BE, EI, EB = range(8)
    common = t[II] or t[IB] or t[BI] or t[BB]
    dims = da + db
    if name == "intersects":
        return common
    if name == "disjoint":
        return not common
    if name == "contains":
        return t[II] and not t[EI] and not t[EB]
    if name == "within":
        return t[II] and not t[IE] and not t[BE]
    if name == "covers":
        return common and not t[EI] and not t[EB]
    if name == "coveredBy":
        return common and not t[IE] and not t[BE]
    if name == "touches":
        return dims != "PP" and not t[II] and (t[IB] or t[BI] or t[BB])
    if name == "crosses":
        if dims in ("PL", "PA", "LA"):
            return t[II] and t[IE]
        if dims in ("LP", "AP", "AL"):
            return t[II] and t[EI]
        return dims == "LL" and m[II] == "0"
    if name == "overlaps":
        if dims in ("PP", "AA"):
            return t[II] and t[IE] and t[EI]
        return dims == "LL" and m[II] == "1" and t[IE] and t[EI]
    assert name == "equals"
    return da == db and t[II] and not (t[IE] or t[BE] or t[EI] or t[EB])


def _box(x0, y0, x1, y1):
    return f"({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0})"


class TestNamedRelations:
    """Every named relation is its JTS pattern over ``relate_matrix``:
    ``relate.predicate`` (with its intersects, vertex-exterior and point
    shortcuts) must give what the matrix says."""

    @pytest.mark.parametrize("name,a,b,want", [
        # each pair once disagreed between a hand-written predicate and
        # the matrix; the expected value is JTS's
        ("contains", "MULTIPOLYGON(((0 0, 10 0, 10 10, 0 10, 0 0)))", "POINT(5 5)", True),
        ("contains", "LINESTRING(0 0, 10 0)", "LINESTRING(2 0, 5 0)", True),
        ("overlaps", f"POLYGON({_box(0, 0, 10, 10)})", f"POLYGON({_box(10, 0, 20, 10)})", False),
        ("crosses", "LINESTRING(0 0, 10 0)", "LINESTRING(5 0, 15 0)", False),
        ("crosses", f"POLYGON({_box(0, 0, 10, 10)})", f"POLYGON({_box(5, 5, 15, 15)})", False),
        ("intersects", "POINT(5 0.000003)", "LINESTRING(0 0, 10 0)", False),
        ("disjoint", "POINT(5 0.000003)", "LINESTRING(0 0, 10 0)", True),
        # antimeridian-crossing polygon: its split parts, not its planar hull
        ("intersects", "POLYGON((170 0, -170 0, -170 10, 170 10, 170 0))",
         f"POLYGON({_box(0, 0, 10, 10)})", False),
        ("intersects", "POLYGON((170 0, -170 0, -170 10, 170 10, 170 0))",
         f"POLYGON({_box(-175, 2, -165, 8)})", True),
        ("contains", "POLYGON((160 -5, -160 -5, -160 15, 160 15, 160 -5))",
         "POLYGON((170 0, -170 0, -170 10, 170 10, 170 0))", True),
        # a crossing triangle is clipped at ±180, not clamped: its west
        # edge meets -180 at y=5
        ("contains", "POLYGON((170 0, -170 10, 170 10, 170 0))", "POINT(-179 3)", False),
        ("contains", "POLYGON((170 0, -170 10, 170 10, 170 0))", "POINT(-179 9)", True),
        ("contains", "POLYGON((170 0, -170 10, 170 10, 170 0))", "POINT(175 3)", True),
        # holes survive the split, also one that straddles the seam
        ("contains", "POLYGON((170 0, -170 0, -170 10, 170 10, 170 0), "
         "(175 2, 178 2, 178 4, 175 4, 175 2))", "POINT(176 3)", False),
        ("contains", "POLYGON((170 0, -170 0, -170 10, 170 10, 170 0), "
         "(178 2, -178 2, -178 4, 178 4, 178 2))", "POINT(-179 3)", False),
        ("contains", "POLYGON((170 0, -170 0, -170 10, 170 10, 170 0), "
         "(178 2, -178 2, -178 4, 178 4, 178 2))", "POINT(-179 6)", True),
    ])
    def test_motivating_pairs(self, name, a, b, want):
        from geomesa_spark.geo import relate

        ga, gb = wkt.parse_wkt(a), wkt.parse_wkt(b)
        assert relate.predicate(name, ga, gb) is want
        m = relate.matrix(ga, gb)
        da, db = de9im.decompose(relate.unwrap(ga))[0], de9im.decompose(relate.unwrap(gb))[0]
        assert _jts_relation(name, m, da, db) is want, m

    def test_mixed_collection_is_null(self):
        from geomesa_spark.geo import relate

        gc = wkt.parse_wkt("GEOMETRYCOLLECTION(POINT(1 1), LINESTRING(0 0, 2 2))")
        poly = wkt.parse_wkt(f"POLYGON({_box(0, 0, 4, 4)})")
        assert relate.matrix(gc, poly) is None
        assert relate.predicate("intersects", gc, poly) is True
        assert relate.predicate("disjoint", poly, gc) is False
        for name in NAMES[:4] + NAMES[6:]:
            assert relate.predicate(name, gc, poly) is None, name
            assert relate.predicate(name, poly, gc) is None, name


_C = st.integers(0, 6)
_S = st.integers(1, 3)
_GEOMS = st.one_of(
    st.builds(lambda x, y: f"POINT({x} {y})", _C, _C),
    st.lists(st.tuples(_C, _C), min_size=2, max_size=3)
    .filter(lambda v: len(set(v)) > 1)
    .map(lambda v: "LINESTRING(" + ", ".join(f"{x} {y}" for x, y in v) + ")"),
    st.builds(lambda x, y, w, h: f"POLYGON({_box(x, y, x + w, y + h)})", _C, _C, _S, _S),
    st.builds(
        lambda x, y, w, h: f"POLYGON({_box(x, y, x + w + 2, y + h + 2)}, "
        f"{_box(x + 1, y + 1, x + w + 1, y + h + 1)})",
        _C, _C, st.integers(1, 2), st.integers(1, 2),
    ),
    st.builds(
        lambda x, y, w, h, gap, dy: f"MULTIPOLYGON(({_box(x, y, x + w, y + h)}), "
        f"({_box(x + w + gap, y + dy, x + 2 * w + gap, y + dy + h)}))",
        _C, _C, _S, _S, st.integers(1, 2), st.integers(-2, 2),
    ),
)


@settings(max_examples=300, deadline=None)
@given(_GEOMS, _GEOMS)
def test_predicate_is_pattern_over_matrix(a, b):
    from geomesa_spark.geo import relate

    ga, gb = wkt.parse_wkt(a), wkt.parse_wkt(b)
    m = de9im.relate_matrix(ga, gb)
    da, db = de9im.decompose(ga)[0], de9im.decompose(gb)[0]
    for name in NAMES:
        assert relate.predicate(name, ga, gb) == _jts_relation(name, m, da, db), (name, m)
