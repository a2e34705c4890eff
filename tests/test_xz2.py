"""XZ2 non-point indexing: key completeness, large×large polygon×point
join vs numpy brute force, pair uniqueness, partitioned layout pruning."""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from geomesa_spark import cells
from geomesa_spark.geo import kernels, relate, wkt
from geomesa_spark.operators import xz2


def _rng():
    return np.random.default_rng(4242)


def _box_wkt(x0, y0, x1, y1):
    return f"POLYGON(({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"


def _random_boxes(n, rng):
    cx = rng.uniform(-160, 160, n)
    cy = rng.uniform(-75, 75, n)
    w = rng.uniform(0.5, 25.0, n)
    h = rng.uniform(0.5, 15.0, n)
    return [
        (f"g{i}", _box_wkt(cx[i] - w[i] / 2, cy[i] - h[i] / 2,
                           cx[i] + w[i] / 2, cy[i] + h[i] / 2))
        for i in range(n)
    ]


class TestKeys:
    def test_bbox_level_bounds(self):
        # cell at level L is 360/2^L wide, 180/2^L tall; the level must be
        # the finest one whose cell still contains the bbox size
        lv = xz2.bbox_level(np.array([4.01]), np.array([2.01]), 12)[0]
        assert lv == 6  # 360/2^6=5.625 >= 4.01; 360/2^7=2.8 < 4.01
        assert 360.0 / (1 << lv) >= 4.01 and 180.0 / (1 << lv) >= 2.01
        assert xz2.bbox_level(np.array([0.0]), np.array([0.0]), 12)[0] == 12
        assert xz2.bbox_level(np.array([360.0]), np.array([180.0]), 12)[0] == 0

    def test_keys_cover_geometry(self):
        rng = _rng()
        for _, w in _random_boxes(60, rng):
            keys = xz2.geometry_keys(w, 12)
            assert 1 <= len(keys) <= 4
            levels = {lv for lv, _ in keys}
            assert len(levels) == 1  # one level per geometry
            (lv,) = levels
            g = wkt.parse_wkt(w)
            bx = kernels.bbox_of_rings(g.rings())
            # sample points inside the bbox: every one must fall in a key cell
            px = rng.uniform(bx[0], bx[2], 50)
            py = rng.uniform(bx[1], bx[3], 50)
            pc = cells.encode(px, py, lv)
            assert set(int(c) for c in pc) <= {c for _, c in keys}

    def test_antimeridian_polygon_keys(self):
        w = "POLYGON((175 -5, -175 -5, -175 5, 175 5, 175 -5))"
        keys = xz2.geometry_keys(w, 12)
        assert len(keys) >= 2
        assert len({lv for lv, _ in keys}) == 1
        # a point on each side of the seam must land in a key cell
        (lv,) = {lv for lv, _ in keys}
        for lon in (179.0, -179.0):
            c = int(cells.encode(np.array([lon]), np.array([0.0]), lv)[0])
            assert c in {c2 for _, c2 in keys}

    def test_malformed_and_empty(self):
        assert xz2.geometry_keys("POLYGON((oops", 12) == []
        assert xz2.geometry_keys(None, 12) == []
        # points key at max_res (mixed tables work)
        assert xz2.geometry_keys("POINT(10 10)", 12)[0][0] == 12


class TestJoin:
    @pytest.fixture(scope="class")
    def data(self, spark):
        rng = _rng()
        boxes = _random_boxes(40, rng)
        # add one concave polygon and one antimeridian crosser
        boxes.append(("g_concave",
                      "POLYGON((0 0, 10 0, 10 10, 5 3, 0 10, 0 0))"))
        boxes.append(("g_seam",
                      "POLYGON((175 -5, -175 -5, -175 5, 175 5, 175 -5))"))
        geoms = spark.createDataFrame(pd.DataFrame(boxes, columns=["geom_id", "wkt"]))
        n = 3000
        pts = pd.DataFrame({
            "point_id": np.arange(n),
            "lon": rng.uniform(-180, 180, n),
            "lat": rng.uniform(-88, 88, n),
        })
        points = spark.createDataFrame(pts)
        return boxes, pts, geoms, points

    def _brute(self, boxes, pts, predicate):
        exp = set()
        for gid, w in boxes:
            g = wkt.parse_wkt(w)
            hit = np.zeros(len(pts), dtype=bool)
            for part in wkt.antimeridian_split(g):
                cls = kernels.point_in_polygon(
                    pts["lon"].to_numpy(), pts["lat"].to_numpy(), part.rings())
                if predicate == "contains":
                    hit |= cls == kernels.PIP_IN
                else:
                    hit |= cls != kernels.PIP_OUT
            exp |= {(gid, int(p)) for p in pts["point_id"].to_numpy()[hit]}
        return exp

    @pytest.mark.parametrize("predicate", ["intersects", "contains"])
    def test_join_matches_bruteforce(self, spark, data, predicate):
        boxes, pts, geoms, points = data
        out = xz2.xz2_join_points(geoms, points, predicate=predicate)
        rows = out.select("geom_id", "point_id").collect()
        got = {(r["geom_id"], r["point_id"]) for r in rows}
        assert len(rows) == len(got), "duplicate (geom, point) pairs"
        assert got == self._brute(boxes, pts, predicate)
        assert len(got) > 50

    def test_line_intersects(self, spark):
        geoms = spark.createDataFrame(
            pd.DataFrame([("L1", "LINESTRING(0 0, 10 10)")], columns=["geom_id", "wkt"]))
        pts = pd.DataFrame({
            "point_id": [0, 1, 2],
            "lon": [5.0, 5.0, 0.0],
            "lat": [5.0, 6.0, 0.0],
        })
        out = xz2.xz2_join_points(geoms, spark.createDataFrame(pts), "intersects")
        got = {r["point_id"] for r in out.collect()}
        assert got == {0, 2}
        out_c = xz2.xz2_join_points(geoms, spark.createDataFrame(pts), "contains")
        assert {r["point_id"] for r in out_c.collect()} == {0}  # endpoint excluded

    def test_point_multipoint_multiline_geometry_rows(self, spark):
        # round-2 review fix: point/multipoint rows keyed but never refined
        # (hit stayed all-False); multiline rows dropped at keying
        geoms = spark.createDataFrame(
            pd.DataFrame(
                [
                    ("P", "POINT(10 10)"),
                    ("MP", "MULTIPOINT((20 20), (21 21))"),
                    ("ML", "MULTILINESTRING((30 30, 31 30), (32 30, 33 30))"),
                ],
                columns=["geom_id", "wkt"],
            )
        )
        pts = pd.DataFrame(
            {
                "point_id": [0, 1, 2, 3, 4],
                "lon": [10.0, 21.0, 30.5, 33.0, 50.0],
                "lat": [10.0, 21.0, 30.0, 30.0, 50.0],
            }
        )
        out = xz2.xz2_join_points(geoms, spark.createDataFrame(pts), "intersects")
        got = {(r["geom_id"], r["point_id"]) for r in out.collect()}
        assert got == {("P", 0), ("MP", 1), ("ML", 2), ("ML", 3)}
        out_c = xz2.xz2_join_points(geoms, spark.createDataFrame(pts), "contains")
        got_c = {(r["geom_id"], r["point_id"]) for r in out_c.collect()}
        # contains: multiline part endpoints excluded (boundary); points
        # contain their exact coordinate
        assert got_c == {("P", 0), ("MP", 1), ("ML", 2)}

    def test_geometrycollection_rows_indexed_and_joined(self, spark):
        """ADVICE round 2 (low): a GEOMETRYCOLLECTION row was silently
        dropped from the XZ2 index; now its members key and refine."""
        gc = ("GC", "GEOMETRYCOLLECTION(POINT(40 40), "
              "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0)), "
              "LINESTRING(20 20, 25 20))")
        geoms = spark.createDataFrame(pd.DataFrame([gc], columns=["geom_id", "wkt"]))
        assert len(xz2.geometry_keys(gc[1], xz2.DEFAULT_MAX_RES)) >= 1
        pts = pd.DataFrame(
            {
                "point_id": [0, 1, 2, 3],
                "lon": [40.0, 5.0, 22.0, 70.0],
                "lat": [40.0, 5.0, 20.0, 70.0],
            }
        )
        out = xz2.xz2_join_points(geoms, spark.createDataFrame(pts), "intersects")
        got = {(r["geom_id"], r["point_id"]) for r in out.collect()}
        assert got == {("GC", 0), ("GC", 1), ("GC", 2)}


class TestLayout:
    @pytest.fixture(scope="class")
    def layout(self, spark, tmp_path_factory):
        rng = _rng()
        boxes = _random_boxes(200, rng)
        geoms = spark.createDataFrame(pd.DataFrame(boxes, columns=["geom_id", "wkt"]))
        path = str(tmp_path_factory.mktemp("xz2") / "geoms")
        xz2.write_partitioned_geoms(geoms, path)
        return boxes, path

    def test_scan_prunes_partitions(self, spark, layout):
        boxes, path = layout
        q = _box_wkt(0, 0, 20, 20)
        cand = xz2.scan_partitioned_geoms(spark, path, q)
        plan = cand._jdf.queryExecution().executedPlan().toString()
        assert "xz_bucket" in plan
        all_parts = (
            spark.read.parquet(path).select("xz_level", "xz_bucket").distinct().count()
        )
        scan_parts = cand.select("xz_level", "xz_bucket").distinct().count()
        assert scan_parts < all_parts

    def test_query_matches_bruteforce(self, spark, layout):
        boxes, path = layout
        q = _box_wkt(0, 0, 20, 20)
        got = {r["geom_id"] for r in xz2.query_geoms(spark, path, q).collect()}
        qg = wkt.parse_wkt(q)
        exp = {gid for gid, w in boxes if relate.intersects(qg, wkt.parse_wkt(w))}
        assert got == exp and len(got) > 0

    def test_feature_view_is_deduped_feature_table(self, spark, layout):
        boxes, path = layout
        df = xz2.feature_view(spark, path, "geom_id")
        assert set(df.columns) == {"geom_id", "wkt"}
        assert sorted(map(tuple, df.collect())) == sorted(boxes)


def test_query_geoms_antimeridian_matches_unpruned_refine(spark, tmp_path):
    """A polygon across the antimeridian is keyed on its east/west parts;
    the refine sees the same parts, so the pruned query returns what the
    refine keeps over the whole table."""
    am = "POLYGON((170 0, -170 0, -170 10, 170 10, 170 0))"
    feats = [("am", am)] + _random_boxes(40, _rng())
    path = str(tmp_path / "geoms")
    xz2.write_partitioned_geoms(
        spark.createDataFrame(pd.DataFrame(feats, columns=["geom_id", "wkt"])), path
    )
    every = spark.read.parquet(path)
    cases = [
        (_box_wkt(0, 0, 10, 10), "intersects", False),        # planar hull only
        (_box_wkt(-175, 2, -165, 8), "intersects", True),     # west part
        ("POLYGON((160 -5, -160 -5, -160 15, 160 15, 160 -5))", "contains", True),
    ]
    for q, pred, hit in cases:
        got = {r["geom_id"] for r in xz2.query_geoms(spark, path, q, pred).collect()}
        want = {
            r["geom_id"]
            for r in every.filter(xz2.geom_refine_udf(pred)(F.lit(q), F.col("wkt")))
            .select("geom_id").distinct().collect()
        }
        assert got == want and ("am" in got) == hit


class TestXZ3Layout:
    """XZ3 = binned time ⊕ XZ2 (GeoMesa ``curve/XZ3SFC.scala``): the
    geometry layout gains a leading ``time_bin=`` dir and the region
    query gains an exact ``[t0, t1)`` timestamp filter."""

    @pytest.fixture(scope="class")
    def layout(self, spark, tmp_path_factory):
        rng = _rng()
        # 400 boxes so the query window keeps a healthy candidate set in
        # EVERY weekly bin (200 left only ~5 spatial candidates and none
        # in the probed window)
        boxes = _random_boxes(400, rng)
        # deterministic timestamps spread over ~6 weekly bins
        ts = [
            pd.Timestamp("2024-01-01", tz=None) + pd.Timedelta(hours=5 * i)
            for i in range(len(boxes))
        ]
        rows = [(gid, w, t) for (gid, w), t in zip(boxes, ts)]
        geoms = spark.createDataFrame(pd.DataFrame(rows, columns=["geom_id", "wkt", "ts"]))
        path = str(tmp_path_factory.mktemp("xz3") / "geoms")
        xz2.write_partitioned_geoms(geoms, path, time_col="ts")
        return rows, path

    def test_all_three_dims_prune(self, spark, layout):
        rows, path = layout
        q = _box_wkt(-40, -40, 40, 40)
        tr = ("2024-01-08 00:00:00", "2024-01-15 00:00:00")
        cand = xz2.scan_partitioned_geoms(spark, path, q, time_range=tr)
        plan = cand._jdf.queryExecution().executedPlan().toString()
        assert "xz_bucket" in plan and "time_bin" in plan
        all_parts = (
            spark.read.parquet(path)
            .select("time_bin", "xz_level", "xz_bucket").distinct().count()
        )
        scan_parts = cand.select("time_bin", "xz_level", "xz_bucket").distinct().count()
        assert scan_parts < all_parts
        # the time dimension alone prunes: bins outside the range are gone
        bins = {r["time_bin"] for r in cand.select("time_bin").distinct().collect()}
        width = 86400 * 7
        b0 = int(pd.Timestamp(tr[0], tz="UTC").timestamp()) // width
        b1 = int(pd.Timestamp(tr[1], tz="UTC").timestamp()) // width
        assert bins and all(b0 <= b <= b1 for b in bins)

    def test_query_matches_bruteforce(self, spark, layout):
        rows, path = layout
        q = _box_wkt(-40, -40, 40, 40)
        tr = ("2024-01-08 00:00:00", "2024-01-15 00:00:00")
        got = {
            r["geom_id"]
            for r in xz2.query_geoms(
                spark, path, q, time_col="ts", time_range=tr
            ).collect()
        }
        qg = wkt.parse_wkt(q)
        t0, t1 = pd.Timestamp(tr[0]), pd.Timestamp(tr[1])
        exp = {
            gid
            for gid, w, t in rows
            if relate.intersects(qg, wkt.parse_wkt(w)) and t0 <= t < t1
        }
        assert got == exp and len(got) > 0
        # and the result is strictly narrower than the time-less query
        all_spatial = {
            r["geom_id"] for r in xz2.query_geoms(spark, path, q).collect()
        }
        assert got < all_spatial

    def test_time_range_without_time_col_raises(self, spark, layout):
        """Round-3 ADVICE: time_range alone used to silently return a
        bin-granular SUPERSET (up to a full 7-day bin of extra rows);
        the coarse-only result must fail loudly instead."""
        import pytest

        rows, path = layout
        with pytest.raises(ValueError, match="time_col"):
            xz2.query_geoms(
                spark, path, _box_wkt(-40, -40, 40, 40),
                time_range=("2024-01-08 00:00:00", "2024-01-15 00:00:00"),
            )


class TestGeomGeomJoin:
    def test_polygon_polygon_matches_bruteforce(self, spark):
        """Large×large polygon join vs an O(n·m) relate oracle — mixed
        sizes so both join directions (coarsen-A and coarsen-B) fire."""
        rng = _rng()
        big = [
            (f"A{i}", _box_wkt(x - w / 2, y - h / 2, x + w / 2, y + h / 2))
            for i, (x, y, w, h) in enumerate(
                zip(rng.uniform(-100, 100, 25), rng.uniform(-60, 60, 25),
                    rng.uniform(10, 40, 25), rng.uniform(8, 25, 25))
            )
        ]
        big.append(("A_concave", "POLYGON((0 0, 30 0, 30 30, 15 8, 0 30, 0 0))"))
        small = [
            (f"B{i}", _box_wkt(x - w / 2, y - h / 2, x + w / 2, y + h / 2))
            for i, (x, y, w, h) in enumerate(
                zip(rng.uniform(-100, 100, 40), rng.uniform(-60, 60, 40),
                    rng.uniform(0.5, 4, 40), rng.uniform(0.5, 3, 40))
            )
        ]
        ga = spark.createDataFrame(pd.DataFrame(big, columns=["gid_a", "wkt_a"]))
        gb = spark.createDataFrame(pd.DataFrame(small, columns=["gid_b", "wkt_b"]))
        out = xz2.xz2_join_geoms(ga, gb, "intersects")
        rows = out.select("gid_a", "gid_b").collect()
        got = {(r["gid_a"], r["gid_b"]) for r in rows}
        assert len(rows) == len(got)
        exp = {
            (ia, ib)
            for ia, wa in big
            for ib, wb in small
            if relate.intersects(wkt.parse_wkt(wa), wkt.parse_wkt(wb))
        }
        assert got == exp and len(got) > 10

    def test_contains_direction(self, spark):
        ga = spark.createDataFrame(
            pd.DataFrame([("A", _box_wkt(0, 0, 20, 20))], columns=["gid_a", "wkt_a"])
        )
        gb = spark.createDataFrame(
            pd.DataFrame(
                [("in", _box_wkt(2, 2, 5, 5)), ("cross", _box_wkt(15, 15, 30, 30)),
                 ("out", _box_wkt(40, 40, 50, 50))],
                columns=["gid_b", "wkt_b"],
            )
        )
        got = {r["gid_b"] for r in xz2.xz2_join_geoms(ga, gb, "contains").collect()}
        assert got == {"in"}
        got_i = {r["gid_b"] for r in xz2.xz2_join_geoms(ga, gb, "intersects").collect()}
        assert got_i == {"in", "cross"}


class TestGeomGeomClashGuard:
    def test_reserved_and_shared_columns_rejected(self, spark):
        ga = spark.createDataFrame(
            pd.DataFrame([("A", _box_wkt(0, 0, 10, 10), 1)],
                         columns=["gid_a", "wkt_a", "amnx"])
        )
        gb = spark.createDataFrame(
            pd.DataFrame([("B", _box_wkt(0, 0, 10, 10))], columns=["gid_b", "wkt_b"])
        )
        with pytest.raises(ValueError, match="amnx"):
            xz2.xz2_join_geoms(ga, gb)
        shared = spark.createDataFrame(
            pd.DataFrame([("B", _box_wkt(0, 0, 10, 10), 2)],
                         columns=["gid_b", "wkt_b", "tag"])
        )
        with pytest.raises(ValueError, match="tag"):
            xz2.xz2_join_geoms(ga.withColumnRenamed("amnx", "tag"), shared)


class TestBboxPrefilterBoundary:
    """The round-4 loose-bbox codegen prefilter must never reject a
    true hit: points exactly ON a geometry's bbox edge/vertex and
    polygon pairs that touch only along an edge sit at the prefilter's
    >=/<= boundary (the eps padding exists for float noise, but the
    exact-equality case must pass without it)."""

    def test_point_on_bbox_edges_and_vertices(self, spark):
        geoms = spark.createDataFrame(
            pd.DataFrame([("G", _box_wkt(0, 0, 10, 10))], columns=["geom_id", "wkt"])
        )
        pts = pd.DataFrame({
            "point_id": [0, 1, 2, 3, 4, 5],
            "lon": [0.0, 10.0, 5.0, 0.0, 10.0, 10.000001],
            "lat": [0.0, 10.0, 0.0, 5.0, 5.0, 5.0],
        })
        out = xz2.xz2_join_points(geoms, spark.createDataFrame(pts), "intersects")
        got = {r["point_id"] for r in out.collect()}
        assert got == {0, 1, 2, 3, 4}  # all boundary points kept, outside dropped

    def test_edge_touching_polygons_survive_overlap_prefilter(self, spark):
        # B shares exactly one edge (x=10) with A: bbox overlap is a
        # zero-area line, i.e. amxx == bmnx — the >= must keep it
        ga = spark.createDataFrame(
            pd.DataFrame([("A", _box_wkt(0, 0, 10, 10))], columns=["gid_a", "wkt_a"])
        )
        gb = spark.createDataFrame(
            pd.DataFrame(
                [("touch", _box_wkt(10, 0, 20, 10)), ("corner", _box_wkt(10, 10, 20, 20)),
                 ("apart", _box_wkt(10.1, 0, 20, 10))],
                columns=["gid_b", "wkt_b"],
            )
        )
        got = {r["gid_b"] for r in xz2.xz2_join_geoms(ga, gb, "intersects").collect()}
        assert got == {"touch", "corner"}

    def test_prefilter_stays_jvm_side(self, spark):
        # mirror of the tools/plan_audit.py guard: the bbox test must sit
        # in a codegen join condition / Filter, and the bbox columns must
        # not leak into the output schema
        import re

        geoms = spark.createDataFrame(
            pd.DataFrame([("G", _box_wkt(0, 0, 10, 10))], columns=["geom_id", "wkt"])
        )
        pts = spark.createDataFrame(
            pd.DataFrame({"point_id": [0], "lon": [5.0], "lat": [5.0]})
        )
        out = xz2.xz2_join_points(geoms, pts, "intersects")
        assert not {"xz_minx", "xz_maxy", "xz_level", "xz_cell"} & set(out.columns)
        import io
        from contextlib import redirect_stdout

        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        assert re.search(
            r"^(?:Join condition:|Condition :) .*xz_minx", buf.getvalue(), re.M
        )
