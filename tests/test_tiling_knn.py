"""Tiling + kNN operator tests vs brute-force numpy oracles."""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from geomesa_spark import cells
from geomesa_spark.geo import kernels
from geomesa_spark.operators import knn as knn_op
from geomesa_spark.operators import spatial_join as sj
from geomesa_spark.operators import tiling
from geomesa_spark.sources import corpus


@pytest.fixture(scope="module")
def points_df(spark, sf_dir):
    docs = corpus.load_documents_spans(spark, sf_dir)
    return sj.extract_geo_points(docs).select("doc_id", "lon", "lat").cache()


@pytest.fixture(scope="module")
def points_pdf(points_df):
    return points_df.toPandas()


def _with_nonfinite(spark, points_df):
    """``points_df`` plus rows with a NULL, NaN or ±inf coordinate (ids
    ``bad*``), which every tiling entry point must drop."""
    bad = [(np.nan, 1.0), (2.0, np.nan), (np.inf, 3.0), (-np.inf, 4.0), (5.0, -np.inf),
           (None, 6.0), (7.0, None)]
    extra = spark.createDataFrame(
        [(f"bad{i}", a, b) for i, (a, b) in enumerate(bad)], "doc_id string, lon double, lat double"
    )
    return points_df.unionByName(extra.select(*points_df.columns))


def test_assign_tiles_matches_bruteforce(spark, points_df, points_pdf):
    zooms = [0, 1, 5, 8, 11, 20]
    out = tiling.assign_tiles(_with_nonfinite(spark, points_df), zooms).toPandas()
    assert not out["doc_id"].str.startswith("bad").any()
    got = set(map(tuple, out[["doc_id", "zoom", "tile_cell"]].itertuples(index=False, name=None)))
    exp = set()
    for z in zooms:
        c = cells.encode(points_pdf["lon"].to_numpy(), points_pdf["lat"].to_numpy(), z)
        for d, ci in zip(points_pdf["doc_id"], c):
            if ci >= 0:
                exp.add((d, z, int(ci)))
    assert got == exp
    tile_cell = out["tile_cell"].to_numpy()
    np.testing.assert_array_equal(
        tile_cell, cells.interleave(out["tile_x"].to_numpy(), out["tile_y"].to_numpy())
    )
    for z in zooms:
        m = (out["zoom"] == z).to_numpy()
        assert list(out["quadkey"][m]) == list(cells.quadkey(tile_cell[m], z))
    assert (out["quadkey"][out["zoom"] == 0] == "").all()


def test_quadkey_prefix_consistency(spark, points_df):
    out = tiling.assign_tiles(points_df.limit(200), [5, 11])
    pdf = out.select("doc_id", "zoom", "quadkey").toPandas()
    by_doc = {}
    for _, r in pdf.iterrows():
        by_doc.setdefault(r["doc_id"], {})[r["zoom"]] = r["quadkey"]
    count = 0
    for qk in by_doc.values():
        if 5 in qk and 11 in qk:
            assert qk[11].startswith(qk[5])
            count += 1
    assert count > 0


def test_pyramid_rollup_consistent(spark, points_df):
    base = tiling.tile_pyramid(points_df, [8])
    rolled = tiling.rollup_pyramid(base.select("tile_cell", "n"), 8, 5)
    direct = tiling.tile_pyramid(points_df, [5])
    r5 = {r["tile_cell"]: r["n"] for r in rolled.filter(F.col("zoom") == 5).collect()}
    d5 = {r["tile_cell"]: r["n"] for r in direct.collect()}
    assert r5 == d5


def test_pyramid_counts_finite_points(spark, points_df):
    """Every zoom of the pyramid counts each finite point once, in the tile
    whose ``tile_cell`` interleaves its ``tile_x``/``tile_y``."""
    zooms = [0, 1, 5, 8, 11, 20]
    pdf = tiling.tile_pyramid(_with_nonfinite(spark, points_df), zooms).toPandas()
    assert len(pdf) > 0
    np.testing.assert_array_equal(
        pdf["tile_cell"].to_numpy(),
        cells.interleave(pdf["tile_x"].to_numpy(), pdf["tile_y"].to_numpy()),
    )
    # every zoom counts exactly the finite points: the NULL/NaN/±inf rows
    # are in no tile
    n = points_df.count()
    assert (pdf.groupby("zoom")["n"].sum() == n).all() and set(pdf["zoom"]) == set(zooms)


def test_rasterize_grid_counts(spark, points_df):
    out = tiling.rasterize_tiles(_with_nonfinite(spark, points_df), zoom=4, w=8, h=8)
    pdf = out.toPandas()
    assert (pdf["grid"].apply(len) == 64).all()
    # the NULL/NaN/±inf rows land in no tile and add to no grid
    assert (pdf["tile_cell"] >= 0).all()
    total = sum(np.asarray(g).sum() for g in pdf["grid"])
    assert int(total) == points_df.count()


def test_query_tiles_bbox_prunes(spark, points_df):
    base = tiling.tile_pyramid(points_df, [8]).cache()
    sub = tiling.query_tiles_bbox(base, 8, 10.0, 10.0, 20.0, 20.0).toPandas()
    # every returned tile intersects the bbox
    cs = cells.interleave(sub["tile_x"].to_numpy(), sub["tile_y"].to_numpy())
    lon0, lat0, lon1, lat1 = cells.cell_bounds(cs, 8)
    assert ((lon1 >= 10.0) & (lon0 <= 20.0) & (lat1 >= 10.0) & (lat0 <= 20.0)).all()
    assert 0 < len(sub) < base.count()


def test_query_tiles_bbox_range_path_parity(spark, points_df):
    """A wide bbox at a high zoom exceeds the IN-list threshold and takes
    the merged-range branch; it must select exactly the tiles whose cell
    bounds intersect the bbox (same contract as the IN-list path)."""
    base = tiling.tile_pyramid(points_df, [11]).cache()
    bbox = (-120.0, -60.0, 120.0, 60.0)
    pdf = base.toPandas()
    cs = cells.interleave(pdf["tile_x"].to_numpy(), pdf["tile_y"].to_numpy())
    lon0, lat0, lon1, lat1 = cells.cell_bounds(cs, 11)
    exp_cells = set(
        cs[
            (lon1 >= bbox[0]) & (lon0 <= bbox[2])
            & (lat1 >= bbox[1]) & (lat0 <= bbox[3])
        ].tolist()
    )
    # rectangle branch (layer has tile_x/tile_y — four JVM comparisons)
    rect = tiling.query_tiles_bbox(base, 11, *bbox).toPandas()
    rect_cells = set(
        cells.interleave(rect["tile_x"].to_numpy(), rect["tile_y"].to_numpy()).tolist()
    )
    assert rect_cells == exp_cells and len(rect_cells) > 0
    # Morton-only layer forces the merged-range balanced-or branch: a
    # tight SUPERSET prune (cover budget quantizes to coarser cells) —
    # complete, and every extra tile within one coarse cell of the bbox
    morton_cells = set(
        tiling.query_tiles_bbox(base.select("tile_cell", "n"), 11, *bbox)
        .toPandas()["tile_cell"].tolist()
    )
    assert exp_cells <= morton_cells
    extra = np.array(sorted(morton_cells - exp_cells), dtype=np.int64)
    if len(extra):
        lon0e, lat0e, lon1e, lat1e = cells.cell_bounds(extra, 11)
        pad = 360.0 / (1 << 10)  # one coarse (r=10) cell
        assert ((lon1e >= bbox[0] - pad) & (lon0e <= bbox[2] + pad)
                & (lat1e >= bbox[1] - pad) & (lat0e <= bbox[3] + pad)).all()


@pytest.mark.parametrize("res", [5, 7])
def test_knn_matches_bruteforce(spark, points_df, points_pdf, res):
    queries = corpus.fixture_knn_queries()[:6]
    got = knn_op.knn(points_df.withColumnRenamed("doc_id", "event_id"), queries, res=res)
    lons = points_pdf["lon"].to_numpy()
    lats = points_pdf["lat"].to_numpy()
    ids = points_pdf["doc_id"].to_numpy()
    for q in queries:
        d = kernels.haversine_m(lons, lats, q["lon"], q["lat"])
        order = np.lexsort((ids, d))
        exp_ids = list(ids[order][: q["k"]])
        sub = got[got["query_id"] == q["query_id"]].sort_values("rank")
        assert list(sub["event_id"]) == exp_ids, q["query_id"]
        np.testing.assert_allclose(sub["dist_m"].to_numpy(), np.sort(d)[: q["k"]], rtol=1e-12)


def test_knn_near_pole_longitude_trap(spark):
    """Regression (round-1 advice): near the pole a cell 10+ columns away
    in longitude can be CLOSER in meters than an in-ring point one cell
    south.  The old width_factor=1.0 fallback terminated early with the
    wrong neighbour; the fix returns no-guarantee and keeps expanding."""
    pdf = pd.DataFrame(
        {
            "event_id": ["in_ring", "across_lon"],
            "lon": [0.0, 30.0],
            "lat": [87.9, 88.9],
        }
    )
    pts = spark.createDataFrame(pdf)
    d_in = kernels.haversine_m(np.array([0.0]), np.array([87.9]), 0.0, 88.9)[0]
    d_across = kernels.haversine_m(np.array([30.0]), np.array([88.9]), 0.0, 88.9)[0]
    assert d_across < d_in  # the trap is real
    out = knn_op.knn(pts, [dict(query_id="Q", lon=0.0, lat=88.9, k=1)], res=7)
    assert list(out["event_id"]) == ["across_lon"]


class TestHotspotClusters:
    def test_planted_hotspots_merge_and_separate(self, spark):
        import pandas as pd

        from geomesa_spark.operators.tiling import hotspot_clusters

        # res=4 -> 16x16 grid, cell width 22.5 deg.  Two ADJACENT dense
        # cells (one cluster), one far dense cell (own cluster), one
        # sparse cell (not core).
        def burst(lon, lat, n):
            return [(lon + 0.001 * i, lat) for i in range(n)]

        rows = (
            burst(10.0, 10.0, 8)      # cell A
            + burst(33.0, 10.0, 8)    # cell B, adjacent to A (x+1)
            + burst(-150.0, -60.0, 8) # cell C, far away
            + burst(100.0, 40.0, 2)   # sparse, below min_pts
        )
        df = spark.createDataFrame(pd.DataFrame(rows, columns=["lon", "lat"]))
        out = hotspot_clusters(df, res=4, min_pts=5).toPandas()
        assert len(out) == 3  # sparse cell excluded
        reps = out.groupby("cluster_rep")["cell_key"].apply(set)
        assert len(reps) == 2  # A+B merged, C separate
        sizes = sorted(len(v) for v in reps)
        assert sizes == [1, 2]
        assert out["is_canonical"].sum() == 2
        assert (out["n"] == 8).all()

    def test_diagonal_adjacency_counts(self, spark):
        import pandas as pd

        from geomesa_spark.operators.tiling import hotspot_clusters

        # two dense cells touching only DIAGONALLY still merge (8-conn):
        # res=4 cells are 22.5 x 11.25 deg, so (10, 10) is cell (8, 8)
        # and (33, 22) is cell (9, 9)
        rows = [(10.0 + 0.001 * i, 10.0) for i in range(6)] + [
            (33.0 + 0.001 * i, 22.0) for i in range(6)
        ]
        df = spark.createDataFrame(pd.DataFrame(rows, columns=["lon", "lat"]))
        out = hotspot_clusters(df, res=4, min_pts=5).toPandas()
        assert len(out) == 2 and out["cluster_rep"].nunique() == 1
