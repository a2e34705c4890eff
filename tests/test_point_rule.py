"""The one on-segment rule (``kernels.on_segment``): every point relation of
the engine reads it — the ``st_*`` matrix and its vectorised point path,
the XZ2 point refine, and the joins' cover prefilters, which must stay
complete for points inside the band."""

import numpy as np
import pandas as pd
import pytest

from geomesa_spark.functions import st_funcs
from geomesa_spark.geo import kernels, relate, wkt
from geomesa_spark.operators import spatial_join as sj
from geomesa_spark.operators import xz2
from geomesa_spark.plans import planner

EPS = kernels.ON_SEGMENT_EPS


@pytest.fixture(scope="module", autouse=True)
def registered(spark):
    st_funcs.register(spark)


def sql(spark, expr):
    return spark.sql(f"SELECT {expr} AS v").collect()[0]["v"]


def g(text):
    return f"st_geomFromWKT('{text}')"


SQUARE = "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))"
SQUARE_RING = "LINESTRING(0 0, 10 0, 10 10, 0 10, 0 0)"
ANTI = "POLYGON((170 0, -170 0, -170 10, 170 10, 170 0))"


class TestOnSegment:
    def test_band_across_and_beyond_each_end(self):
        # a slanted and an axis-parallel segment, offsets in units of EPS
        for (x1, y1, x2, y2) in ((0.0, 0.0, 3.0, 4.0), (0.0, 0.0, 10.0, 0.0)):
            L = np.hypot(x2 - x1, y2 - y1)
            ux, uy = (x2 - x1) / L, (y2 - y1) / L
            for k, want in ((0.5, True), (1 - 1e-3, True), (1 + 1e-3, False), (2.0, False)):
                d = k * EPS
                for px, py in ((x1 + 0.5 * (x2 - x1) - d * uy, y1 + 0.5 * (y2 - y1) + d * ux),
                               (x1 - d * ux, y1 - d * uy), (x2 + d * ux, y2 + d * uy)):
                    assert bool(kernels.on_segment(px, py, x1, y1, x2, y2)) is want, (x1, k)

    def test_zero_length_segment_holds_nothing(self):
        assert not kernels.on_segment(1.0, 1.0, 1.0, 1.0, 1.0, 1.0)

    def test_scalar_equals_vectorised(self):
        rng = np.random.default_rng(5)
        seg = rng.uniform(-10, 10, (200, 4))
        t = rng.uniform(-0.1, 1.1, 200)
        off = rng.choice([0.0, 0.5, 1 - 1e-3, 1 + 1e-3, 2.0], 200) * EPS
        px = seg[:, 0] + t * (seg[:, 2] - seg[:, 0]) + off
        py = seg[:, 1] + t * (seg[:, 3] - seg[:, 1])
        vec = kernels.on_segment(px, py, *seg.T)
        sca = [bool(kernels.on_segment(*map(float, r))) for r in zip(px, py, *seg.T)]
        assert vec.tolist() == sca


def test_point_class_equals_the_key_loop():
    """The vectorised puntal class is the matrix's 9-place key identity:
    points on, ulps and fractions of 1e-9 off seeded parts, at
    magnitudes where a key rounds across a double's spacing."""
    from geomesa_spark.geo import de9im

    rng = np.random.default_rng(11)
    for scale in (1.0, 180.0, 5e6, 1e7, 1e12):
        parts = [tuple(rng.uniform(-scale, scale, 2)) for _ in range(3)]
        parts[1] = (parts[0][0], parts[1][1])  # two parts share an x
        xy = []
        for p in parts:
            for d in (0.0, 1e-10, 5e-10, 9e-10, 1.1e-9, 2e-9):
                for sx, sy in ((1, 0), (-1, 1), (0, -1)):
                    ulp = np.spacing(abs(p[0])) * rng.integers(-3, 4)
                    xy.append((p[0] + sx * d + ulp, p[1] + sy * d))
        xy += [tuple(q) for q in rng.uniform(-scale, scale, (20, 2))] + [(np.nan, 0.0)]
        x, y = np.asarray(xy).T
        keys = {de9im._pt_key(p) for p in parts}
        want = [kernels.PIP_IN if de9im._pt_key(q) in keys else kernels.PIP_OUT for q in xy]
        assert de9im.classify(("P", parts), x, y).tolist() == want, scale


class TestOneAnswerPerPair:
    """Pairs on which two parts of the engine disagreed before there was
    one rule; each now reads one answer through SQL."""

    def test_line_endpoint_inside_the_band_of_a_line(self, spark):
        a, b = g("LINESTRING(0 0, 10 0)"), g("LINESTRING(5 0.0000000001, 5 1)")
        assert sql(spark, f"st_relate({a}, {b})") == "F01FF0102"
        assert sql(spark, f"st_intersects({a}, {b})") is True
        assert sql(spark, f"st_touches({a}, {b})") is True

    def test_line_endpoint_inside_the_band_of_a_polygon_edge(self, spark):
        a, b = g(SQUARE), g("LINESTRING(5 -1, 5 -0.0000000001)")
        assert sql(spark, f"st_intersects({a}, {b})") is True
        assert sql(spark, f"st_touches({a}, {b})") is True

    def test_point_just_inside_a_diagonal_edge(self, spark):
        tri, p = g("POLYGON((0 0, 10 0, 10 10, 0 0))"), g("POINT(5 4.99999999)")
        assert sql(spark, f"st_contains({tri}, {p})") is True
        assert sql(spark, f"st_touches({tri}, {p})") is False
        assert sql(spark, f"st_intersects({g('LINESTRING(0 0, 10 0, 10 10, 0 0)')}, {p})") is False

    def test_polygon_and_its_ring_agree_off_an_axis_parallel_edge(self, spark):
        p = g("POINT(5 -0.0000000003)")
        assert sql(spark, f"st_intersects({g(SQUARE)}, {p})") is True
        assert sql(spark, f"st_touches({g(SQUARE)}, {p})") is True
        assert sql(spark, f"st_intersects({g(SQUARE_RING)}, {p})") is True
        assert sql(spark, f"st_contains({g(SQUARE_RING)}, {p})") is True

    def test_shared_endpoint_of_a_multiline_is_interior(self, spark):
        ml = g("MULTILINESTRING((0 0, 1 0), (1 0, 2 0))")
        assert sql(spark, f"st_contains({ml}, {g('POINT(1 0)')})") is True
        assert sql(spark, f"st_contains({ml}, {g('POINT(2 0)')})") is False

    def test_point_inside_the_band_of_a_slanted_line(self, spark):
        p = g("POINT(5 5.00000000005)")
        assert sql(spark, f"st_intersects({g('LINESTRING(0 0, 10 10)')}, {p})") is True

    def test_endpoint_box_stops_at_the_band(self, spark):
        # 8e-10 past the end of the line: inside the 1e-9 endpoint box, but
        # outside the band, so it is on none of the three
        line, p = g("LINESTRING(0 0, 1 0)"), g("POINT(1.0000000008 0)")
        for a in ("LINESTRING(0 0, 1 0)", "POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))",
                  "LINESTRING(0 0, 1 0, 1 1, 0 1, 0 0)"):
            assert sql(spark, f"st_intersects({g(a)}, {p})") is False, a
        assert sql(spark, f"st_relate({line}, {p})") == "FF1FF00F2"
        assert sql(spark, f"st_relate({g('MULTIPOINT((0 0), (1.0000000008 0))')}, {line})") == (
            "F00FFF102")
        # 4e-10 past it is inside the band: the point is the line's endpoint
        assert sql(spark, f"st_touches({line}, {g('POINT(1.0000000004 0)')})") is True


class TestXz2Rows:
    """The XZ2 point refine reads the same rule as ``st_*``."""

    def _join(self, spark, geoms, pts, predicate):
        gdf = spark.createDataFrame(pd.DataFrame(geoms, columns=["geom_id", "wkt"]))
        pdf = spark.createDataFrame(pd.DataFrame(pts, columns=["point_id", "lon", "lat"]))
        out = xz2.xz2_join_points(gdf, pdf, predicate)
        return {(r["geom_id"], r["point_id"]) for r in out.collect()}

    def test_pairs_read_as_st_funcs(self, spark):
        geoms = [("sq", SQUARE), ("ring", SQUARE_RING),
                 ("ml", "MULTILINESTRING((0 0, 1 0), (1 0, 2 0))"),
                 ("diag", "LINESTRING(0 0, 10 10)")]
        pts = [(0, 5.0, -3e-10), (1, 1.0, 0.0), (2, 5.0, 5.00000000005), (3, 5.0, -2e-9)]
        assert self._join(spark, geoms, pts, "intersects") == {
            ("sq", 0), ("sq", 1), ("sq", 2), ("ring", 0), ("ring", 1), ("ml", 1), ("diag", 2)}
        assert self._join(spark, geoms, pts, "contains") == {
            ("sq", 2), ("ring", 0), ("ring", 1), ("ml", 1), ("diag", 2)}

    def test_collection_member_read_on_its_split_parts(self, spark):
        # an antimeridian polygon inside a GEOMETRYCOLLECTION keys on its
        # split parts, and the refine reads those parts too
        geoms = [("gc", f"GEOMETRYCOLLECTION({ANTI})"),
                 ("mixed", f"GEOMETRYCOLLECTION(POINT(1 1), {ANTI})")]
        pts = [(0, 175.0, 5.0), (1, -175.0, 5.0), (2, 0.0, 5.0), (3, 1.0, 1.0)]
        assert self._join(spark, geoms, pts, "intersects") == {
            ("gc", 0), ("gc", 1), ("mixed", 0), ("mixed", 1), ("mixed", 3)}
        # a mixed collection answers contains with NULL, read as False
        assert self._join(spark, geoms, pts, "contains") == {("gc", 0), ("gc", 1)}
        gc = g(f"GEOMETRYCOLLECTION({ANTI})")
        assert sql(spark, f"st_contains({gc}, st_point(175.0, 5.0))") is True
        assert sql(spark, f"st_contains({gc}, st_point(0.0, 5.0))") is False


# -- prefilter completeness at the band ---------------------------------------
# Cell seams: lon 0 and lat 0 at every resolution, lon 45 / lat 22.5 from 3
# bits up.  Each polygon has an edge or a vertex within EPS of a seam.
A = 0.3 * EPS
BAND_POLYS = {
    # left edge 0.3ε east of lon 0, bottom edge 0.3ε south of lat 0
    "box": [(A, -A), (10.0, -A), (10.0, 10.0), (A, 10.0)],
    # a vertex on the (45, 22.5) seam crossing, slanted edges through it
    "tri": [(45.0, 22.5), (50.0, 30.0), (40.0, 28.0)],
    # a vertex 0.3ε off the crossing of lon 0 and lat 0, below and left
    "kite": [(-A, -A), (-6.0, 4.0), (-1.0, 9.0), (3.0, 5.0)],
}


def _ring_wkt(v):
    return "POLYGON((" + ", ".join(f"{x!r} {y!r}" for x, y in v + [v[0]]) + "))"


def _band_points():
    """Points 0.5ε and 2ε off every edge (both sides, at its middle and at
    a quarter) and off every vertex (beyond each end of both its edges),
    plus each vertex."""
    pts = []
    for v in BAND_POLYS.values():
        for (x1, y1), (x2, y2) in zip(v, v[1:] + v[:1]):
            L = np.hypot(x2 - x1, y2 - y1)
            ux, uy = (x2 - x1) / L, (y2 - y1) / L
            pts.append((x1, y1))
            for k in (0.5, 2.0):
                d = k * EPS
                for t in (0.25, 0.5):
                    mx, my = x1 + t * (x2 - x1), y1 + t * (y2 - y1)
                    pts += [(mx - d * uy, my + d * ux), (mx + d * uy, my - d * ux)]
                pts += [(x1 - d * ux, y1 - d * uy), (x2 + d * ux, y2 + d * uy)]
    return pd.DataFrame(pts, columns=["lon", "lat"]).assign(pid=np.arange(len(pts)))


@pytest.fixture(scope="module")
def band(spark, tmp_path_factory):
    pts = _band_points()
    rows = [dict(polygon_id=k, wkt=_ring_wkt(v)) for k, v in BAND_POLYS.items()]
    want = {}
    for pred in ("intersects", "contains"):
        want[pred] = {
            (r["polygon_id"], int(i))
            for r in rows
            for i, x, y in zip(pts["pid"], pts["lon"], pts["lat"])
            if relate.predicate(pred, wkt.parse_wkt(r["wkt"]), wkt.parse_wkt(f"POINT({x!r} {y!r})"))
        }
    # the planted points really straddle the band: some on each side of it
    assert len(want["intersects"] - want["contains"]) > 10
    path = str(tmp_path_factory.mktemp("band") / "pts")
    pdf = spark.createDataFrame(pts.rename(columns={"pid": "doc_id"}))
    planner.write_partitioned(pdf, path, res=10)
    return pts, rows, want, path


@pytest.mark.parametrize("pred", ["intersects", "contains"])
class TestPrefilterBand:
    def test_spatial_join_documents(self, spark, band, pred):
        pts, rows, want, _ = band
        docs = spark.createDataFrame(
            [(int(i), [("geo", f"POINT({x!r} {y!r})", None, 0)])
             for i, x, y in zip(pts["pid"], pts["lon"], pts["lat"])],
            "doc_id long, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
        )
        out = sj.spatial_join_documents(docs, rows, pred)
        assert {(r["polygon_id"], r["doc_id"]) for r in out.collect()} == want[pred]

    def test_spatial_join_broadcast(self, spark, band, pred):
        pts, rows, want, _ = band
        out = sj.spatial_join_broadcast(spark.createDataFrame(pts), rows, pred, id_col="pid",
                                        unique_ids=True)
        assert {(r["polygon_id"], r["pid"]) for r in out.collect()} == want[pred]

    def test_xz2_join_points(self, spark, band, pred):
        pts, rows, want, _ = band
        geoms = spark.createDataFrame(pd.DataFrame(
            [(r["polygon_id"], r["wkt"]) for r in rows], columns=["polygon_id", "wkt"]))
        out = xz2.xz2_join_points(geoms, spark.createDataFrame(pts), pred)
        assert {(r["polygon_id"], r["pid"]) for r in out.collect()} == want[pred]

    def test_planner_query(self, spark, band, pred):
        pts, rows, want, path = band
        got = {
            (r["polygon_id"], d)
            for r in rows
            for d in (x["doc_id"] for x in planner.query(spark, path, r["wkt"], pred, res=10).collect())
        }
        assert got == want[pred]
