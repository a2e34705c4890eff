"""Geometry kernel unit tests — DE-9IM boundary truth tables mirroring the
reference's spatial-relation function tests (public tree:
geomesa-spark-jts/src/test/.../SpatialRelationFunctionsTest)."""

import numpy as np

from geomesa_spark.geo import kernels, wkt
from geomesa_spark.geo.kernels import PIP_BOUNDARY, PIP_IN, PIP_OUT


SQUARE = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
C_SHAPE = np.array(
    [[70, 10], [80, 10], [80, 12], [73, 12], [73, 18], [80, 18], [80, 20], [70, 20], [70, 10]],
    dtype=float,
)
HOLED = [
    np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float),
    np.array([[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]], dtype=float),
]


def classify(pts, rings):
    lon = np.array([p[0] for p in pts], dtype=float)
    lat = np.array([p[1] for p in pts], dtype=float)
    return kernels.point_in_polygon(lon, lat, rings)


def test_pip_square_truth_table():
    res = classify(
        [(5, 5), (0, 5), (10, 5), (5, 0), (5, 10), (0, 0), (10, 10), (-1, 5), (11, 5), (5, -0.001)],
        [SQUARE],
    )
    assert list(res) == [PIP_IN, PIP_BOUNDARY, PIP_BOUNDARY, PIP_BOUNDARY, PIP_BOUNDARY,
                         PIP_BOUNDARY, PIP_BOUNDARY, PIP_OUT, PIP_OUT, PIP_OUT]


def test_pip_concave():
    res = classify([(75, 15), (71, 15), (79, 11), (79, 19), (73, 12)], [C_SHAPE])
    # (75,15) is in the C's notch (outside); (71,15) in the spine; notch corner on boundary
    assert list(res) == [PIP_OUT, PIP_IN, PIP_IN, PIP_IN, PIP_BOUNDARY]


def test_pip_holes():
    res = classify([(5, 5), (2, 2), (4, 4), (4.5, 5)], HOLED)
    assert list(res) == [PIP_OUT, PIP_IN, PIP_BOUNDARY, PIP_OUT]


def test_pip_vertex_ray_no_double_count():
    # points horizontally aligned with vertices must not double count
    tri = np.array([[0, 0], [10, 0], [5, 10], [0, 0]], dtype=float)
    res = classify([(5, 5), (-5, 10), (20, 10), (-3, 0)], [tri])
    assert list(res) == [PIP_IN, PIP_OUT, PIP_OUT, PIP_OUT]


def test_haversine_known_distances():
    # Paris (2.3522, 48.8566) ↔ London (-0.1276, 51.5072) ≈ 343.5 km
    d = kernels.haversine_m(2.3522, 48.8566, -0.1276, 51.5072)
    assert abs(d - 343_500) < 2_000
    # equator degree ≈ 111.19 km at R=6371008.8
    d1 = kernels.haversine_m(0.0, 0.0, 1.0, 0.0)
    assert abs(d1 - 111_195) < 50
    assert kernels.haversine_m(12.0, 34.0, 12.0, 34.0) == 0.0


def test_segments_intersect():
    assert kernels.segments_intersect(
        np.array([0, 0.0]), np.array([10, 10.0]), np.array([0, 10.0]), np.array([10, 0.0])
    )
    assert not kernels.segments_intersect(
        np.array([0, 0.0]), np.array([1, 1.0]), np.array([5, 5.0]), np.array([6, 5.0])
    )
    # touching endpoint counts
    assert kernels.segments_intersect(
        np.array([0, 0.0]), np.array([5, 5.0]), np.array([5, 5.0]), np.array([9, 1.0])
    )


def test_rect_intersects_polygon():
    rects_lon0 = np.array([1.0, -5.0, 20.0, 4.0])
    rects_lat0 = np.array([1.0, -5.0, 20.0, -1.0])
    rects_lon1 = np.array([2.0, 15.0, 21.0, 6.0])
    rects_lat1 = np.array([2.0, 15.0, 21.0, 11.0])
    hit = kernels.rect_intersects_polygon(rects_lon0, rects_lat0, rects_lon1, rects_lat1, SQUARE)
    # inside rect; covering rect; disjoint rect; straddling rect
    assert list(hit) == [True, True, False, True]
    # concave notch rect (inside bbox but outside polygon) must be False
    hit2 = kernels.rect_intersects_polygon(
        np.array([75.0]), np.array([14.0]), np.array([76.0]), np.array([16.0]), C_SHAPE
    )
    assert list(hit2) == [False]


def test_point_segments_dist():
    line = np.array([[0, 0], [1, 0]], dtype=float)
    d = kernels.point_segments_dist_m(np.array([0.5]), np.array([0.5]), line)
    assert abs(d[0] - kernels.haversine_m(0.5, 0.5, 0.5, 0.0)) < 200
    d2 = kernels.point_segments_dist_m(np.array([2.0]), np.array([0.0]), line)
    assert abs(d2[0] - kernels.haversine_m(2.0, 0.0, 1.0, 0.0)) < 200


def test_area_centroid_length():
    assert abs(kernels.polygon_area(SQUARE) - 100.0) < 1e-9
    cx, cy = kernels.polygon_centroid(SQUARE)
    assert abs(cx - 5) < 1e-9 and abs(cy - 5) < 1e-9
    line = np.array([[0, 0], [3, 4]], dtype=float)
    assert abs(kernels.linestring_length_deg(line) - 5.0) < 1e-12


class TestWkt:
    def test_point_series(self):
        import pandas as pd

        s = pd.Series(
            ["POINT(1.5 -2.5)", "POINT EMPTY", "garbage", None, "POINT(200 0)", "point( 3 4 )"]
        )
        lon, lat = wkt.parse_points_series(s)
        assert lon[0] == 1.5 and lat[0] == -2.5
        assert np.isnan(lon[1:5]).all()
        assert lon[5] == 3.0 and lat[5] == 4.0

    def test_generic_roundtrip(self):
        g = wkt.parse_wkt("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))")
        assert g.kind == wkt.WKB_POLYGON and len(g.coords) == 2
        b = wkt.geom_to_wkb(g)
        g2 = wkt.wkb_to_geom(b)
        assert g2.kind == wkt.WKB_POLYGON
        np.testing.assert_allclose(g.coords[0], g2.coords[0])
        np.testing.assert_allclose(g.coords[1], g2.coords[1])

    def test_linestring_multipolygon(self):
        g = wkt.parse_wkt("LINESTRING(0 0, 1 1, 2 0)")
        assert g.kind == wkt.WKB_LINESTRING and g.coords.shape == (3, 2)
        m = wkt.parse_wkt("MULTIPOLYGON(((0 0,1 0,1 1,0 0)),((5 5,6 5,6 6,5 5)))")
        assert m.kind == wkt.WKB_MULTIPOLYGON and len(m.coords) == 2
        assert len(m.rings()) == 2

    def test_malformed_nulls(self):
        assert wkt.parse_wkt("POINT(abc def)") is None
        assert wkt.parse_wkt("POLYGON((0 0, 1 1))") is None
        assert wkt.parse_wkt("") is None
        assert wkt.parse_wkt(None) is None
        assert wkt.wkb_to_geom(b"\x00\x01") is None

    def test_wkb_point_vectorized(self):
        import pandas as pd

        lon = np.array([1.0, np.nan, -179.5])
        lat = np.array([2.0, 3.0, 88.0])
        s = wkt.points_to_wkb_series(lon, lat)
        assert s[1] is None
        lo, la = wkt.wkb_points_to_lonlat(pd.Series(s))
        assert lo[0] == 1.0 and la[2] == 88.0 and np.isnan(lo[1])

    def test_antimeridian_split(self):
        g = wkt.parse_wkt("POLYGON((175 -5, -175 -5, -175 5, 175 5, 175 -5))")
        parts = wkt.antimeridian_split(g)
        assert len(parts) == 2
        lons = np.concatenate([p.coords[0][:, 0] for p in parts])
        assert lons.max() <= 180.0 and lons.min() >= -180.0
        # one part hugs +180, the other -180
        assert any((p.coords[0][:, 0] >= 175).all() for p in parts)
        assert any((p.coords[0][:, 0] <= -175).all() for p in parts)
        # non-crossing polygon untouched
        sq = wkt.parse_wkt("POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))")
        assert wkt.antimeridian_split(sq) == [sq]

    def test_antimeridian_split_clips_rings(self):
        # a non-rectangle is cut where its edges meet ±180, not clamped
        tri = wkt.parse_wkt("POLYGON((170 0, -170 10, 170 10, 170 0))")
        east, west = wkt.antimeridian_split(tri)
        assert east.coords[0].tolist() == [[170, 0], [180, 5], [180, 10], [170, 10], [170, 0]]
        assert west.coords[0].tolist() == [[-180, 5], [-170, 10], [-180, 10], [-180, 5]]
        # holes go to their side; one straddling the seam is cut into both
        g = wkt.parse_wkt(
            "POLYGON((170 0, -170 0, -170 10, 170 10, 170 0), "
            "(175 2, 178 2, 178 4, 175 4, 175 2), (178 6, -178 6, -178 8, 178 8, 178 6))"
        )
        east, west = wkt.antimeridian_split(g)
        assert [r[:, 0].min() for r in east.coords[1:]] == [175, 178]
        assert [r[:, 0].max() for r in east.coords[1:]] == [178, 180]
        assert len(west.coords) == 2
        assert west.coords[1][:, 0].min() == -180 and west.coords[1][:, 0].max() == -178
        # a ring crossing 180 four times would split into several pieces
        # per side: left as it is
        zig = wkt.parse_wkt(
            "POLYGON((170 0, -170 0, -170 2, 175 2, 175 4, -170 4, -170 6, 170 6, 170 0))"
        )
        assert wkt.antimeridian_split(zig) == [zig]

    def test_wide_edge_reads_across_antimeridian(self):
        """An outer-ring edge wider than 180° is read the short way round,
        by every reader of the polygon: the predicates as the join."""
        from geomesa_spark.geo import de9im, relate
        from geomesa_spark.operators.spatial_join import PolygonSet

        w = "POLYGON((-10 30, 175 30, 175 70, -10 70, -10 30))"
        g = wkt.parse_wkt(w)
        parts = PolygonSet.from_rows([{"polygon_id": "p", "wkt": w}]).parts["p"]
        for x, want in ((100.0, False), (-100.0, True), (178.0, True)):
            got = relate.predicate("contains", g, wkt.parse_wkt(f"POINT({x} 50)"))
            assert got is want, x
            cls = de9im._pip_multi(np.array([x]), np.array([50.0]), parts)[0]
            assert bool(cls == kernels.PIP_IN) is want, x
