"""Cell-index kernel unit tests — the pytest analogue of the reference's
curve tests (public tree: geomesa-z3/src/test/.../curve/Z2SFCTest.scala,
XZ2SFCTest.scala: round-trip + range-cover completeness)."""

import numpy as np
import pytest

from geomesa_spark import cells


RNG = np.random.default_rng(42)


def test_interleave_roundtrip():
    x = RNG.integers(0, 1 << 26, 1000)
    y = RNG.integers(0, 1 << 26, 1000)
    c = cells.interleave(x, y)
    x2, y2 = cells.deinterleave(c)
    np.testing.assert_array_equal(x, x2)
    np.testing.assert_array_equal(y, y2)


def test_encode_decode_bounds_contain_point():
    lon = RNG.uniform(-180, 180, 5000)
    lat = RNG.uniform(-90, 90, 5000)
    for res in (3, 8, 15, 26):
        c = cells.encode(lon, lat, res)
        lon0, lat0, lon1, lat1 = cells.cell_bounds(c, res)
        assert ((lon >= lon0) & (lon <= lon1) & (lat >= lat0) & (lat <= lat1)).all()


def test_encode_nan_and_clamp():
    c = cells.encode(np.array([np.nan, 200.0, -180.0, 179.9999]), np.array([0.0, 95.0, -90.0, 89.9]), 8)
    assert c[0] == -1
    assert c[1] >= 0  # clamped, not invalid
    assert c[2] >= 0


def test_parent_child_hierarchy():
    lon = RNG.uniform(-180, 180, 1000)
    lat = RNG.uniform(-90, 90, 1000)
    fine = cells.encode(lon, lat, 12)
    coarse = cells.encode(lon, lat, 9)
    np.testing.assert_array_equal(cells.parent(fine, 3), coarse)
    for ch in cells.children(coarse[0]):
        assert cells.parent(np.asarray([ch]), 1)[0] == coarse[0]


def test_quadkey_prefix_is_ancestor():
    lon, lat = np.array([12.3]), np.array([45.6])
    q11 = cells.quadkey(cells.encode(lon, lat, 11), 11)[0]
    q5 = cells.quadkey(cells.encode(lon, lat, 5), 5)[0]
    assert q11.startswith(q5)
    assert len(q11) == 11 and len(q5) == 5
    # zoom 0 is the root tile: every point's quadkey is the empty prefix
    assert list(cells.quadkey(cells.encode(lon, lat, 0), 0)) == [""]


def test_k_ring_sizes_and_wrap():
    res = 6
    mid = cells.encode(np.array([10.0]), np.array([10.0]), res)[0]
    assert len(cells.k_ring(mid, res, 0)) == 1
    assert len(cells.k_ring(mid, res, 1)) == 9
    assert len(cells.k_ring(mid, res, 2)) == 25
    # antimeridian wrap: ring at lon=179.9 contains cells on the -180 side
    edge = cells.encode(np.array([179.99]), np.array([0.0]), res)
    ring = cells.k_ring(edge[0], res, 1)
    lon0, _, _, _ = cells.cell_bounds(ring, res)
    assert (lon0 < -179.0).any() and len(ring) == 9
    # pole clamp: fewer than 9 cells
    pole = cells.encode(np.array([0.0]), np.array([89.9]), res)
    assert len(cells.k_ring(pole[0], res, 1)) == 6


def test_ring_shell():
    res = 6
    mid = cells.encode(np.array([10.0]), np.array([10.0]), res)[0]
    assert len(cells.ring_shell(mid, res, 1)) == 8
    assert len(cells.ring_shell(mid, res, 2)) == 16


@pytest.mark.parametrize("seed", range(5))
def test_cover_bbox_completeness(seed):
    """Property: every random point inside a random bbox lands in a cover
    cell (false negatives are correctness bugs — SURVEY.md hard parts)."""
    rng = np.random.default_rng(seed)
    lon0, lat0 = rng.uniform(-179, 170), rng.uniform(-89, 80)
    lon1, lat1 = lon0 + rng.uniform(0.01, 30), lat0 + rng.uniform(0.01, 30)
    cover, r = cells.cover_bbox(lon0, lat0, lon1, lat1, 10, max_cells=512)
    assert len(cover) <= 512
    lon = rng.uniform(lon0, min(lon1, 180), 2000)
    lat = rng.uniform(lat0, min(lat1, 90), 2000)
    pc = cells.encode(lon, lat, r)
    assert np.isin(pc, cover).all()


def test_cover_bbox_budget_coarsens():
    cover, r = cells.cover_bbox(-170, -80, 170, 80, 12, max_cells=64)
    assert len(cover) <= 64
    assert r < 12


def test_cover_bbox_antimeridian():
    cover, r = cells.cover_bbox(175, -5, -175, 5, 8, max_cells=512)
    lon0, _, lon1, _ = cells.cell_bounds(cover, r)
    assert (lon0 >= 170.0).any() and (lon1 <= -170.0 + 360.0 / (1 << r) + 1e-6).any()
    pts_lon = np.array([176.0, 179.9, -179.9, -176.0])
    pts_lat = np.zeros(4)
    assert np.isin(cells.encode(pts_lon, pts_lat, r), cover).all()


def test_cover_polygon_completeness_and_tightness():
    ring = np.array([[10, 10], [20, 10], [20, 20], [10, 20], [10, 10]], dtype=float)
    cover, r = cells.cover_polygon([ring], 8, max_cells=4096)
    rng = np.random.default_rng(7)
    lon = rng.uniform(10, 20, 3000)
    lat = rng.uniform(10, 20, 3000)
    assert np.isin(cells.encode(lon, lat, r), cover).all()
    # tightness: a concave C should cover fewer cells than its bbox
    c_ring = np.array(
        [[70, 10], [80, 10], [80, 12], [73, 12], [73, 18], [80, 18], [80, 20], [70, 20], [70, 10]],
        dtype=float,
    )
    c_cover, cr = cells.cover_polygon([c_ring], 9, max_cells=8192)
    bbox_cover, br = cells.cover_bbox(70, 10, 80, 20, 9, max_cells=8192)
    assert cr == br and len(c_cover) < len(bbox_cover)
    # completeness on the C shape
    inside = []
    for x, y in [(71, 11), (79, 11), (71, 19), (79, 19), (71, 15)]:
        inside.append((x, y))
    xs = np.array([p[0] for p in inside], dtype=float)
    ys = np.array([p[1] for p in inside], dtype=float)
    assert np.isin(cells.encode(xs, ys, cr), c_cover).all()


def test_cover_tiny_polygon_not_missed():
    ring = np.array(
        [[33.3, 33.3], [33.31, 33.3], [33.31, 33.31], [33.3, 33.31], [33.3, 33.3]]
    )
    cover, r = cells.cover_polygon([ring], 6, max_cells=4096)
    assert len(cover) >= 1
    assert np.isin(cells.encode(np.array([33.305]), np.array([33.305]), r), cover).all()


def test_cover_point_radius_complete():
    # all points within 100km of (10, 50) fall in the cover
    cover, r = cells.cover_point_radius(10.0, 50.0, 100_000, 9)
    rng = np.random.default_rng(3)
    ang = rng.uniform(0, 2 * np.pi, 1000)
    dist = rng.uniform(0, 99_000, 1000)
    dlat = np.degrees(dist / 6371008.8)
    lat = 50.0 + dlat * np.sin(ang)
    lon = 10.0 + dlat * np.cos(ang) / np.cos(np.radians(50.0))
    from geomesa_spark.geo.kernels import haversine_m

    ok = haversine_m(10.0, 50.0, lon, lat) <= 100_000
    assert np.isin(cells.encode(lon[ok], lat[ok], r), cover).all()
