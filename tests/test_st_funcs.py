"""SQL ``st_*`` surface tests — golden truth tables in the style of the
reference's SparkSQL function tests (public tree:
geomesa-spark-sql/src/test/.../SparkSQLSpatialRelationshipsTest.scala)."""

import numpy as np
import pytest

from geomesa_spark.functions import st_funcs
from geomesa_spark.geo import geohash


@pytest.fixture(scope="module", autouse=True)
def registered(spark):
    names = st_funcs.register(spark)
    assert "st_contains" in names and "st_geomFromWKT" in names
    return names


def one(spark, expr):
    return spark.sql(f"SELECT {expr} AS v").collect()[0]["v"]


POLY = "st_geomFromWKT('POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))')"
HOLED = "st_geomFromWKT('POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))')"
LINE = "st_geomFromWKT('LINESTRING(0 0, 10 10)')"


class TestRelations:
    @pytest.mark.parametrize(
        "expr,expected",
        [
            (f"st_contains({POLY}, st_point(5D, 5D))", True),
            (f"st_contains({POLY}, st_point(0D, 5D))", False),   # boundary excluded
            (f"st_intersects({POLY}, st_point(0D, 5D))", True),  # boundary included
            (f"st_covers({POLY}, st_point(0D, 5D))", True),
            (f"st_within(st_point(5D, 5D), {POLY})", True),
            (f"st_disjoint({POLY}, st_point(50D, 50D))", True),
            (f"st_contains({HOLED}, st_point(5D, 5D))", False),  # in the hole
            (f"st_contains({HOLED}, st_point(2D, 2D))", True),
            (f"st_intersects({POLY}, {LINE})", True),
            (f"st_intersects({LINE}, st_geomFromWKT('LINESTRING(0 10, 10 0)'))", True),
            (f"st_intersects({LINE}, st_geomFromWKT('LINESTRING(20 20, 30 30)'))", False),
            (
                f"st_contains({POLY}, st_geomFromWKT('POLYGON((2 2, 4 2, 4 4, 2 4, 2 2))'))",
                True,
            ),
            (
                f"st_intersects({POLY}, st_geomFromWKT('POLYGON((5 5, 15 5, 15 15, 5 15, 5 5))'))",
                True,
            ),
            (
                f"st_contains({POLY}, st_geomFromWKT('POLYGON((5 5, 15 5, 15 15, 5 15, 5 5))'))",
                False,
            ),
            (f"st_equals({POLY}, {POLY})", True),
            (f"st_touches({POLY}, st_point(0D, 5D))", True),
            (f"st_touches({POLY}, st_point(5D, 5D))", False),
            (f"st_dwithin(st_point(0D, 0D), st_point(0.5D, 0D), 60000D)", True),
            (f"st_dwithin(st_point(0D, 0D), st_point(0.5D, 0D), 50000D)", False),
        ],
    )
    def test_truth_table(self, spark, expr, expected):
        assert one(spark, expr) is expected


class TestConstructorsAccessors:
    def test_point_xy_roundtrip(self, spark):
        assert one(spark, "st_x(st_point(1.5D, -2.5D))") == 1.5
        assert one(spark, "st_y(st_point(1.5D, -2.5D))") == -2.5

    def test_wkt_roundtrip(self, spark):
        assert one(spark, "st_asText(st_geomFromWKT('POINT(3 4)'))") == "POINT (3 4)"
        t = one(spark, f"st_asText({POLY})")
        assert t.startswith("POLYGON ((0 0, 10 0")

    def test_malformed_null(self, spark):
        assert one(spark, "st_geomFromWKT('POINT(oops)')") is None
        assert one(spark, "st_geometryType(st_geomFromWKT('nope'))") is None

    def test_geometry_type(self, spark):
        assert one(spark, f"st_geometryType({POLY})") == "Polygon"
        assert one(spark, f"st_geometryType({LINE})") == "LineString"
        assert one(spark, "st_geometryType(st_point(0D, 0D))") == "Point"

    def test_envelope_numpoints(self, spark):
        assert one(spark, f"st_geometryType(st_envelope({LINE}))") == "Polygon"
        assert one(spark, f"st_numPoints({POLY})") == 5

    def test_makebbox_contains(self, spark):
        assert one(spark, "st_contains(st_makeBBOX(0D, 0D, 10D, 10D), st_point(5D, 5D))") is True

    def test_geojson(self, spark):
        import json

        j = json.loads(one(spark, "st_asGeoJSON(st_point(1D, 2D))"))
        assert j == {"type": "Point", "coordinates": [1.0, 2.0]}

    def test_geohash_roundtrip(self, spark):
        gh = one(spark, "st_geoHash(st_point(-0.1276D, 51.5072D), 45)")
        assert isinstance(gh, str) and len(gh) == 9
        lon, lat = geohash.decode_center(gh)
        assert abs(lon - -0.1276) < 0.001 and abs(lat - 51.5072) < 0.001
        back = one(spark, f"st_x(st_pointFromGeoHash('{gh}'))")
        assert abs(back - -0.1276) < 0.001

    def test_centroid_area_length(self, spark):
        assert one(spark, f"st_area({POLY})") == 100.0
        assert abs(one(spark, f"st_area({HOLED})") - 96.0) < 1e-9
        assert one(spark, f"st_x(st_centroid({POLY}))") == 5.0
        assert abs(one(spark, f"st_length({LINE})") - np.sqrt(200)) < 1e-9

    def test_distance(self, spark):
        assert one(spark, "st_distance(st_point(0D, 0D), st_point(3D, 4D))") == 5.0
        d = one(spark, "st_distanceSphere(st_point(0D, 0D), st_point(1D, 0D))")
        assert abs(d - 111_195) < 50

    def test_translate_buffer(self, spark):
        assert one(spark, "st_x(st_translate(st_point(1D, 1D), 2D, 3D))") == 3.0
        assert (
            one(
                spark,
                "st_contains(st_bufferPoint(st_point(10D, 10D), 10000D), st_point(10.05D, 10D))",
            )
            is True
        )

    def test_antimeridian_safe(self, spark):
        t = one(
            spark,
            "st_geometryType(st_antimeridianSafeGeom("
            "st_geomFromWKT('POLYGON((175 -5, -175 -5, -175 5, 175 5, 175 -5))')))",
        )
        assert t == "MultiPolygon"

    def test_make_line_polygon(self, spark):
        n = one(
            spark,
            "st_numPoints(st_makeLine(array(st_point(0D,0D), st_point(1D,1D), st_point(2D,0D))))",
        )
        assert n == 3
        a = one(
            spark,
            "st_area(st_makePolygon(st_geomFromWKT('LINESTRING(0 0, 4 0, 4 4, 0 4, 0 0)')))",
        )
        assert a == 16.0


class TestRelateClosest:
    def test_relate_point_polygon(self, spark):
        assert one(spark, f"st_relate({POLY}, st_point(5D, 5D))") == "0F2FF1FF2"
        assert one(spark, f"st_relate(st_point(5D, 5D), {POLY})") == "0FFFFF212"
        assert one(spark, f"st_relate(st_point(0D, 5D), {POLY})") == "F0FFFF212"
        assert one(spark, f"st_relate(st_point(50D, 5D), {POLY})") == "FF0FFF212"

    def test_relate_bool_contains_pattern(self, spark):
        # T*****FF* is JTS's contains pattern
        assert one(spark, f"st_relateBool({POLY}, st_point(5D, 5D), 'T*****FF*')") is True
        assert one(spark, f"st_relateBool({POLY}, st_point(0D, 5D), 'T*****FF*')") is False

    def test_relate_polygon_polygon(self, spark):
        inner = "st_geomFromWKT('POLYGON((2 2, 4 2, 4 4, 2 4, 2 2))')"
        assert one(spark, f"st_relate({POLY}, {inner})") == "212FF1FF2"
        # boundaries are DISJOINT here, so BB=F — the round-2 canonical
        # classifier wrongly said 2FF11F212 (the touching-within pattern)
        assert one(spark, f"st_relate({inner}, {POLY})") == "2FF1FF212"
        assert one(spark, f"st_relate({POLY}, {POLY})") == "2FFF1FFF2"

    def test_relate_line_line(self, spark):
        cross = "st_geomFromWKT('LINESTRING(0 -1, 0 1)')"
        horiz = "st_geomFromWKT('LINESTRING(-1 0, 1 0)')"
        assert one(spark, f"st_relate({horiz}, {cross})") == "0F1FF0102"
        sub = "st_geomFromWKT('LINESTRING(2 0, 5 0)')"
        full = "st_geomFromWKT('LINESTRING(0 0, 10 0)')"
        assert one(spark, f"st_relate({full}, {sub})") == "101FF0FF2"
        # JTS crosses pattern for line×line: 0********
        assert one(spark, f"st_relateBool({horiz}, {cross}, '0********')") is True

    def test_relate_point_closed_line(self, spark):
        ring = "st_geomFromWKT('LINESTRING(0 0, 1 0, 1 1, 0 0)')"
        # mod-2 rule: closed line has an empty boundary — the start vertex
        # is INTERIOR, and EB is F for any point
        assert one(spark, f"st_relate(st_point(0D, 0D), {ring})") == "0FFFFF1F2"
        assert one(spark, f"st_relate(st_point(5D, 5D), {ring})") == "FF0FFF1F2"

    def test_relate_line_polygon(self, spark):
        square = "st_geomFromWKT('POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))')"
        through = "st_geomFromWKT('LINESTRING(-1 0.5, 2 0.5)')"
        inside = "st_geomFromWKT('LINESTRING(0.2 0.5, 0.8 0.5)')"
        assert one(spark, f"st_relate({through}, {square})") == "101FF0212"
        assert one(spark, f"st_relate({inside}, {square})") == "1FF0FF212"
        assert one(spark, f"st_relate({square}, {inside})") == "102FF1FF2"

    def test_closest_point(self, spark):
        x = one(spark, f"st_x(st_closestPoint({LINE}, st_point(10D, 0D)))")
        y = one(spark, f"st_y(st_closestPoint({LINE}, st_point(10D, 0D)))")
        assert abs(x - 5.0) < 1e-9 and abs(y - 5.0) < 1e-9
        # closest point on a polygon ring to an outside point
        x2 = one(spark, f"st_x(st_closestPoint({POLY}, st_point(15D, 5D)))")
        assert abs(x2 - 10.0) < 1e-9


class TestNearestPair:
    """Every distance is a metric on relate.nearest's one planar pair."""

    MPOLY = "st_geomFromWKT('MULTIPOLYGON(((0 0,1 0,1 1,0 1,0 0)),((10 0,11 0,11 1,10 1,10 0)))')"
    MLINE = "st_geomFromWKT('MULTILINESTRING((0 0,1 0),(10 0,11 0))')"
    AM = "st_geomFromWKT('POLYGON((170 0, -170 0, -170 10, 170 10, 170 0))')"
    EAST = "st_geomFromWKT('LINESTRING(0 0, 10 0)')"
    NORTH = "st_geomFromWKT('LINESTRING(5 5, 5 1)')"

    def test_multipolygon_has_no_segment_between_parts(self, spark):
        pt = "st_geomFromWKT('POINT(5 0.5)')"
        assert one(spark, f"st_distance({self.MPOLY}, {pt})") == 4.0
        assert abs(one(spark, f"st_distanceSphere({self.MPOLY}, {pt})") - 444_763) < 50
        assert one(spark, f"st_dwithin({self.MPOLY}, {pt}, 100000.0D)") is False

    def test_multilinestring_has_no_segment_between_parts(self, spark):
        pt = "st_geomFromWKT('POINT(5 0.5)')"
        assert abs(one(spark, f"st_distance({self.MLINE}, {pt})") - np.hypot(4, 0.5)) < 1e-12
        assert abs(one(spark, f"st_distanceSphere({self.MLINE}, {pt})") - 448_236) < 50

    def test_antimeridian_polygon_read_on_split_parts(self, spark):
        pt = "st_geomFromWKT('POINT(10 5)')"
        assert one(spark, f"st_intersects({self.AM}, {pt})") is False
        assert one(spark, f"st_distance({self.AM}, {pt})") == 160.0
        assert one(spark, f"st_distanceSphere({self.AM}, {pt})") > 17_000_000
        assert one(spark, f"st_dwithin({self.AM}, {pt}, 500000.0D)") is False

    def test_closest_point_is_on_a_segment_not_a_vertex(self, spark):
        c = f"st_closestPoint({self.EAST}, {self.NORTH})"
        assert (one(spark, f"st_x({c})"), one(spark, f"st_y({c})")) == (5.0, 0.0)

    def test_spheroid_is_vincenty_on_the_pair(self, spark):
        d = one(spark, f"st_distanceSpheroid({self.EAST}, {self.NORTH})")
        assert abs(d - 110_574.39) < 1.0  # (5 0)-(5 1), as the point path reads it
        s = one(spark, f"st_distanceSphere({self.EAST}, {self.NORTH})")
        assert abs(s - 111_195.08) < 1.0

    @pytest.mark.parametrize("wkt_b", [
        "POLYGON((-179.9 -1, -170 -1, -170 1, -179.9 1, -179.9 -1))",
        "LINESTRING(-179.9 0, -175 0)",
    ])
    def test_sphere_metrics_take_the_pair_across_the_seam(self, spark, wkt_b):
        # the planar pair lies at -170/-175; the pair over ±180° is 0.2° apart
        a, b = "st_geomFromWKT('POINT(179.9 0)')", f"st_geomFromWKT('{wkt_b}')"
        for x, y in ((a, b), (b, a)):
            assert abs(one(spark, f"st_distanceSphere({x}, {y})") - 22_239.0) < 1.0
            assert abs(one(spark, f"st_distanceSpheroid({x}, {y})") - 22_263.9) < 1.0
            assert one(spark, f"st_dwithin({x}, {y}, 50000.0D)") is True
        # st_distance stays JTS's planar length
        assert one(spark, f"st_distance({a}, {b})") > 349.0

    def test_intersecting_pair_is_one_shared_point(self, spark):
        cross = "st_geomFromWKT('LINESTRING(5 -5, 5 5)')"
        c = f"st_closestPoint({self.EAST}, {cross})"
        assert (one(spark, f"st_x({c})"), one(spark, f"st_y({c})")) == (5.0, 0.0)
        for fn in ("st_distance", "st_distanceSphere", "st_distanceSpheroid"):
            assert one(spark, f"{fn}({self.EAST}, {cross})") == 0.0


class TestPipFastParity:
    """The vectorized points×distinct-polygons fast path must be
    bit-identical to the per-row relate path (round-1 verdict item 5)."""

    def _data(self):
        import pandas as pd

        from geomesa_spark.geo import wkt as W

        rng = np.random.default_rng(77)
        n = 500
        lon = rng.uniform(-12, 22, n)
        lat = rng.uniform(-12, 22, n)
        pts = [W.point_to_wkb(a, b) for a, b in zip(lon, lat)]
        # exact boundary points + nulls
        pts[0] = W.point_to_wkb(0.0, 5.0)
        pts[1] = W.point_to_wkb(10.0, 10.0)
        pts[2] = None
        polys_wkt = [
            "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))",
            "POLYGON((0 0, 10 0, 10 10, 5 3, 0 10, 0 0))",  # concave
            "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))",
            "MULTIPOLYGON(((0 0, 5 0, 5 5, 0 5, 0 0)), ((8 8, 12 8, 12 12, 8 12, 8 8)))",
            # antimeridian-crossing: read on its split parts, not planarly
            "POLYGON((170 0, -170 0, -170 10, 170 10, 170 0))",
            "POLYGON((170 0, -170 10, 170 10, 170 0))",  # crossing triangle
            # crossing, with a hole on each side of the seam
            "POLYGON((170 0, -170 0, -170 10, 170 10, 170 0), "
            "(175 2, 178 2, 178 4, 175 4, 175 2), (-178 6, -175 6, -175 8, -178 8, -178 6))",
        ]
        gs = [W.geom_to_wkb(W.parse_wkt(w)) for w in polys_wkt]
        geoms = [gs[i % len(gs)] for i in range(n)]
        geoms[3] = None
        # points paired with the antimeridian polygon: east part, west
        # part, its planar hull only, and the +180 seam
        for i, (x, y) in zip((4, 11, 18, 25), ((175, 5), (-175, 5), (0, 5), (180, 5))):
            pts[i] = W.point_to_wkb(x, y)
        # the triangle: west part below and above its edge, east part
        for i, (x, y) in zip((5, 12, 19), ((-179, 3), (-179, 9), (175, 3))):
            pts[i] = W.point_to_wkb(x, y)
        # the holed polygon: in each hole, and outside both
        for i, (x, y) in zip((6, 13, 20), ((176, 3), (-176, 7), (-176, 3))):
            pts[i] = W.point_to_wkb(x, y)
        return pd.Series(pts, dtype=object), pd.Series(geoms, dtype=object)

    @pytest.mark.parametrize("name", [
        "contains", "within", "intersects", "disjoint", "covers", "coveredBy",
    ])
    def test_fast_equals_slow(self, name):
        from geomesa_spark.functions import st_funcs as S
        from geomesa_spark.geo import relate

        pts, geoms = self._data()
        fn = getattr(S, "st_" + name)
        for a, b in [(geoms, pts), (pts, geoms)]:
            got = fn(a, b)
            exp = [
                relate.predicate(name, x, y) if (x is not None and y is not None) else None
                for x, y in zip(S._parse_series(a), S._parse_series(b))
            ]
            assert list(got) == exp, f"{name} parity ({'geom,pt' if a is geoms else 'pt,geom'})"

    def test_fast_path_triggers(self):
        import pandas as pd

        from geomesa_spark.functions import st_funcs as S
        from geomesa_spark.geo import wkt as W

        pts, geoms = self._data()
        # multipolygon and antimeridian uniques: every rule engages
        for side, rule in S._PIP_FAST.values():
            a, b = (geoms, pts) if side == "b" else (pts, geoms)
            assert S._pip_fast(a, b, side, rule) is not None, (side, rule)
        # a line among the geometries keeps the per-row path
        line = W.geom_to_wkb(W.parse_wkt("LINESTRING(0 0, 1 1)"))
        assert S._pip_fast(pd.Series([line] * 3, dtype=object), pts[:3], "b", "in") is None


def test_geohash_per_row_precision(spark):
    """Regression (round-1 advice): a non-constant precision column must
    encode each row at ITS precision, not the batch's first."""
    rows = spark.sql(
        "SELECT st_geoHash(st_point(x, y), p) AS h FROM VALUES "
        "(CAST(10.5 AS DOUBLE), CAST(20.5 AS DOUBLE), 25), "
        "(CAST(10.5 AS DOUBLE), CAST(20.5 AS DOUBLE), 45) AS t(x, y, p)"
    ).collect()
    assert len(rows[0]["h"]) == 5 and len(rows[1]["h"]) == 9
    assert rows[1]["h"].startswith(rows[0]["h"])


MPOLY = "st_geomFromWKT('MULTIPOLYGON(((0 0, 5 0, 5 5, 0 5, 0 0)), ((8 8, 12 8, 12 12, 8 12, 8 8)))')"
MLINE = "st_geomFromWKT('MULTILINESTRING((0 0, 1 1), (1 1, 2 0))')"


class TestRound2Accessors:
    """Truth tables for the 14 functions the round-1 verdict flagged
    missing (GeometricAccessorFunctions.scala parity)."""

    @pytest.mark.parametrize(
        "expr,expected",
        [
            (f"st_dimension({POLY})", 2),
            (f"st_dimension({LINE})", 1),
            ("st_dimension(st_point(1D, 2D))", 0),
            (f"st_dimension({MPOLY})", 2),
            (f"st_coordDim({POLY})", 2),
            (f"st_numGeometries({MPOLY})", 2),
            (f"st_numGeometries({POLY})", 1),
            (f"st_numGeometries({MLINE})", 2),
            (f"st_isCollection({MPOLY})", True),
            (f"st_isCollection({POLY})", False),
            (f"st_isClosed({LINE})", False),
            ("st_isClosed(st_geomFromWKT('LINESTRING(0 0, 1 0, 1 1, 0 0)'))", True),
            (f"st_isClosed({POLY})", True),
            (f"st_isSimple({LINE})", True),
            ("st_isSimple(st_geomFromWKT('LINESTRING(0 0, 2 2, 2 0, 0 2)'))", False),
            # adjacent-segment backtracking (spike) — round-2 review fix
            ("st_isSimple(st_geomFromWKT('LINESTRING(0 0, 1 0, 0 0)'))", False),
            # NULL index must yield NULL, not crash the Arrow batch
            (f"st_geometryN({MPOLY}, CAST(NULL AS INT)) IS NULL", True),
            ("st_isRing(st_geomFromWKT('LINESTRING(0 0, 1 0, 1 1, 0 0)'))", True),
            (f"st_isRing({LINE})", False),
            # figure-eight: closed but not simple
            ("st_isRing(st_geomFromWKT('LINESTRING(0 0, 2 2, 0 2, 2 0, 0 0)'))", False),
        ],
    )
    def test_scalar_truth_table(self, spark, expr, expected):
        assert one(spark, expr) == expected

    def test_boundary(self, spark):
        assert one(spark, f"st_asText(st_boundary({POLY}))").startswith("LINESTRING")
        assert one(spark, f"st_asText(st_boundary({HOLED}))").startswith("MULTILINESTRING")
        # open line boundary = its two endpoints
        t = one(spark, f"st_asText(st_boundary({LINE}))")
        assert t.startswith("MULTIPOINT") and "0 0" in t and "10 10" in t
        # closed line has empty boundary (engine convention: NULL)
        assert one(spark, "st_boundary(st_geomFromWKT('LINESTRING(0 0, 1 0, 1 1, 0 0)'))") is None
        # mod-2 rule: shared endpoint of two lines is NOT boundary
        t = one(spark, f"st_asText(st_boundary({MLINE}))")
        assert "1 1" not in t and "0 0" in t and "2 0" in t

    def test_geometry_n_and_interior_ring(self, spark):
        assert one(spark, f"st_asText(st_geometryN({MPOLY}, 2))").startswith("POLYGON")
        assert "8 8" in one(spark, f"st_asText(st_geometryN({MPOLY}, 2))")
        assert one(spark, f"st_geometryN({MPOLY}, 3)") is None
        assert one(spark, f"st_asText(st_geometryN({POLY}, 1))").startswith("POLYGON")
        ring = one(spark, f"st_asText(st_interiorRingN({HOLED}, 1))")
        assert ring.startswith("LINESTRING") and "4 4" in ring
        assert one(spark, f"st_interiorRingN({HOLED}, 2)") is None
        assert one(spark, f"st_interiorRingN({POLY}, 1)") is None

    def test_lat_lon_text(self, spark):
        t = one(spark, "st_asLatLonText(st_point(-79.03D, 35.843333333D))")
        assert t == "35°50'36.000\"N 79°01'48.000\"W"

    def test_make_point_m(self, spark):
        t = one(spark, "st_asText(st_makePointM(1.5D, 2.5D, 9.0D))")
        assert t == "POINT (1.5 2.5)"

    def test_geom_from_geojson(self, spark):
        j = '{"type": "Polygon", "coordinates": [[[0,0],[10,0],[10,10],[0,10],[0,0]]]}'
        assert one(spark, f"st_contains(st_geomFromGeoJSON('{j}'), st_point(5D, 5D))") is True
        jp = '{"type": "Point", "coordinates": [3.5, 4.5]}'
        assert one(spark, f"st_x(st_geomFromGeoJSON('{jp}'))") == 3.5
        assert one(spark, "st_geomFromGeoJSON('not json')") is None

    def test_geom_from_geojson_non_dict_json(self, spark):
        """Valid JSON that is not an object must null out, not fail the
        Arrow batch (ADVICE round 2: 'null'/'123'/'[1,2]' raised
        AttributeError through the old except tuple)."""
        for j in ("null", "123", "[1,2]", '"point"', '{"type": [1]}'):
            assert one(spark, f"st_geomFromGeoJSON('{j}')") is None

    def test_spheroid_distance_and_length(self, spark):
        # canonical WGS84 values: 1 degree of longitude at the equator is
        # 111.3195 km; 1 degree of latitude at the equator is 110.5744 km
        d_lon = one(spark, "st_distanceSpheroid(st_point(0D, 0D), st_point(1D, 0D))")
        d_lat = one(spark, "st_distanceSpheroid(st_point(0D, 0D), st_point(0D, 1D))")
        assert abs(d_lon - 111_319.49) < 1.0
        assert abs(d_lat - 110_574.39) < 1.0
        # sphere and spheroid must genuinely differ (the round-1 alias bug)
        d_sph = one(spark, "st_distanceSphere(st_point(0D, 0D), st_point(0D, 1D))")
        assert abs(d_sph - d_lat) > 100.0
        l = one(spark, "st_lengthSpheroid(st_geomFromWKT('LINESTRING(0 0, 1 0, 1 1)'))")
        assert abs(l - (111_319.49 + 110_575.07)) < 10.0

    def test_collection_roundtrip(self, spark):
        w = "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 1 1))"
        t = one(spark, f"st_asText(st_geomFromWKT('{w}'))")
        assert t == w
        assert one(spark, f"st_numGeometries(st_geomFromWKT('{w}'))") == 2
        assert one(spark, f"st_dimension(st_geomFromWKT('{w}'))") == 1

    def test_multilinestring_roundtrip(self, spark):
        w = "MULTILINESTRING ((0 0, 1 1), (1 1, 2 0))"
        assert one(spark, f"st_asText(st_geomFromWKT('{w}'))") == w
        b = one(spark, f"st_asBinary(st_geomFromWKT('{w}'))")
        assert one(spark, f"st_asText(st_geomFromWKB(X'{bytes(b).hex()}'))") == w


def test_typed_from_text_enforces_kind(spark):
    """st_pointFromText et al. must reject mismatched kinds (round-1
    verdict: they aliased the generic parser)."""
    assert one(spark, "st_x(st_pointFromText('POINT(3 4)'))") == 3.0
    assert one(spark, "st_pointFromText('LINESTRING(0 0, 1 1)')") is None
    assert one(spark, "st_lineFromText('POINT(3 4)')") is None
    assert one(spark, "st_asText(st_lineFromText('LINESTRING(0 0, 1 1)'))") is not None
    assert one(spark, "st_polygonFromText('POINT(3 4)')") is None
    assert one(spark, "st_mPolyFromText('POLYGON((0 0, 1 0, 1 1, 0 0))')") is None
    assert (
        one(spark, "st_numGeometries(st_mPolyFromText("
                   "'MULTIPOLYGON(((0 0, 1 0, 1 1, 0 0)))'))") == 1
    )


def test_relate_point_line(spark):
    assert one(spark, f"st_relate(st_point(5D, 5D), {LINE})") == "0FFFFF102"
    assert one(spark, f"st_relate(st_point(0D, 0D), {LINE})") == "F0FFFF102"
    assert one(spark, f"st_relate(st_point(5D, 6D), {LINE})") == "FF0FFF102"
    # transpose direction: line ⊗ point = transpose of point ⊗ line
    assert one(spark, f"st_relate({LINE}, st_point(5D, 5D))") == "0F1FF0FF2"
