"""Vectorized geometry kernels (pure numpy — no Spark, no GEOS).

This module replaces the reference's use of JTS (GeoMesa evaluates exact
spatial predicates through GeoTools/JTS after the SFC range prefilter —
public tree: geomesa-filter/.../FilterHelper.scala plus JTS at
post-filter; mount empty at survey time, SURVEY.md §0).  shapely/GEOS is
unavailable offline, so the exact stage is hand-written numpy:

- point-in-polygon by ray crossing with explicit boundary detection
  (DE-9IM boundary semantics: ``contains`` excludes boundary points,
  ``intersects``/``covers`` include them — SURVEY.md §4.4);
- haversine great-circle distance (sphere radius 6371008.8 m, matching
  GeoMesa's ``st_distanceSphere``);
- segment intersection and rect/polygon overlap (used by cell covers);
- point-to-segment geodesic distance (the corridor and line refines).

All kernels broadcast over numpy arrays and are called from Arrow-batched
pandas UDFs — never per-row Python.
"""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_M = 6371008.8  # mean radius; GeoMesa GeometryUtils uses the same
_EPS = 1e-12

PIP_OUT = 0
PIP_IN = 1
PIP_BOUNDARY = 2


def close_ring(ring: np.ndarray) -> np.ndarray:
    """Ensure ring[0] == ring[-1]."""
    ring = np.asarray(ring, dtype=np.float64)
    if len(ring) and not np.array_equal(ring[0], ring[-1]):
        ring = np.vstack([ring, ring[0]])
    return ring


def _pip_ring(lons: np.ndarray, lats: np.ndarray, ring: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Crossing-number parity + boundary flag of points vs one closed ring.

    Returns (inside_parity bool[N], on_boundary bool[N]).  Vectorized over
    N points × M edges (broadcast (N, M) — polygon side is always the small
    broadcast side, so M stays modest).
    """
    ring = close_ring(ring)
    x = np.asarray(lons, dtype=np.float64)[:, None]
    y = np.asarray(lats, dtype=np.float64)[:, None]
    x1, y1 = ring[:-1, 0][None, :], ring[:-1, 1][None, :]
    x2, y2 = ring[1:, 0][None, :], ring[1:, 1][None, :]

    # boundary: point collinear with edge and within its bbox
    cross = (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
    seg_len2 = (x2 - x1) ** 2 + (y2 - y1) ** 2
    tol = np.maximum(seg_len2, 1.0) * _EPS
    collinear = np.abs(cross) <= np.sqrt(tol) * 1e-1 + _EPS
    inx = (x >= np.minimum(x1, x2) - _EPS) & (x <= np.maximum(x1, x2) + _EPS)
    iny = (y >= np.minimum(y1, y2) - _EPS) & (y <= np.maximum(y1, y2) + _EPS)
    on_edge = (collinear & inx & iny).any(axis=1)

    # crossing number (half-open rule avoids double-counting vertices)
    cond = (y1 <= y) != (y2 <= y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (y - y1) / (y2 - y1) * (x2 - x1)
    crossings = (cond & (x < xint)).sum(axis=1)
    return (crossings % 2) == 1, on_edge


def point_in_polygon(lons: np.ndarray, lats: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Classify points against a polygon (rings[0] outer, rest holes).

    Returns int8[N]: 0 outside, 1 strictly inside, 2 on boundary (outer or
    hole boundary).  Even-odd across all rings gives hole semantics.
    """
    n = len(np.asarray(lons))
    parity = np.zeros(n, dtype=np.int64)
    boundary = np.zeros(n, dtype=bool)
    for ring in rings:
        inside, on_edge = _pip_ring(lons, lats, ring)
        parity += inside.astype(np.int64)
        boundary |= on_edge
    out = np.where((parity % 2) == 1, PIP_IN, PIP_OUT).astype(np.int8)
    out[boundary] = PIP_BOUNDARY
    return out


def haversine_m(lon1, lat1, lon2, lat2) -> np.ndarray:
    """Great-circle distance in meters (vectorized, broadcasting)."""
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(a, dtype=np.float64)) for a in (lon1, lat1, lon2, lat2))
    dlon = lon2 - lon1
    dlat = lat2 - lat1
    h = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.minimum(np.sqrt(h), 1.0))


def segments_intersect(p1, p2, q1, q2) -> np.ndarray:
    """Proper-or-touching segment intersection test, broadcasting over the
    leading dimensions of the four (…, 2) point arrays."""
    p1, p2, q1, q2 = (np.asarray(a, dtype=np.float64) for a in (p1, p2, q1, q2))

    def orient(a, b, c):
        return (b[..., 0] - a[..., 0]) * (c[..., 1] - a[..., 1]) - (
            b[..., 1] - a[..., 1]
        ) * (c[..., 0] - a[..., 0])

    d1 = orient(q1, q2, p1)
    d2 = orient(q1, q2, p2)
    d3 = orient(p1, p2, q1)
    d4 = orient(p1, p2, q2)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0)) & (d1 != 0) & (d2 != 0) & (d3 != 0) & (d4 != 0)

    def on_seg(a, b, c, d):
        return (np.abs(d) <= _EPS) & (
            (c[..., 0] >= np.minimum(a[..., 0], b[..., 0]) - _EPS)
            & (c[..., 0] <= np.maximum(a[..., 0], b[..., 0]) + _EPS)
            & (c[..., 1] >= np.minimum(a[..., 1], b[..., 1]) - _EPS)
            & (c[..., 1] <= np.maximum(a[..., 1], b[..., 1]) + _EPS)
        )

    touch = on_seg(q1, q2, p1, d1) | on_seg(q1, q2, p2, d2) | on_seg(p1, p2, q1, d3) | on_seg(p1, p2, q2, d4)
    return proper | touch


def rect_intersects_polygon(
    lon0: np.ndarray, lat0: np.ndarray, lon1: np.ndarray, lat1: np.ndarray, ring: np.ndarray
) -> np.ndarray:
    """Conservative test: does each rect [lon0,lon1]×[lat0,lat1] intersect
    the polygon outer ring?  True iff a rect corner is inside/on the
    polygon, a polygon vertex is inside the rect, or an edge crosses a rect
    edge.  Used to tighten cell covers (never drops a true intersection)."""
    ring = close_ring(ring)
    lon0, lat0, lon1, lat1 = (np.asarray(a, dtype=np.float64) for a in (lon0, lat0, lon1, lat1))
    n = lon0.shape[0]
    out = np.zeros(n, dtype=bool)

    # polygon bbox reject (cheap)
    rx0, ry0 = ring[:, 0].min(), ring[:, 1].min()
    rx1, ry1 = ring[:, 0].max(), ring[:, 1].max()
    cand = ~((lon1 < rx0) | (lon0 > rx1) | (lat1 < ry0) | (lat0 > ry1))
    if not cand.any():
        return out
    idx = np.nonzero(cand)[0]
    a0, b0, a1, b1 = lon0[idx], lat0[idx], lon1[idx], lat1[idx]

    # any polygon vertex inside rect
    vx, vy = ring[:-1, 0][None, :], ring[:-1, 1][None, :]
    vin = (
        (vx >= a0[:, None] - _EPS)
        & (vx <= a1[:, None] + _EPS)
        & (vy >= b0[:, None] - _EPS)
        & (vy <= b1[:, None] + _EPS)
    ).any(axis=1)

    # rect corner inside polygon (ray crossing on the 4 corners)
    hit = vin.copy()
    todo = ~hit
    if todo.any():
        for cx, cy in ((a0, b0), (a1, b0), (a0, b1), (a1, b1)):
            if not todo.any():
                break
            ins, edge = _pip_ring(cx[todo], cy[todo], ring)
            sub = np.nonzero(todo)[0]
            hit[sub] |= ins | edge
            todo = ~hit

    # edge / rect-edge crossing for the rest
    todo = ~hit
    if todo.any():
        sub = np.nonzero(todo)[0]
        ra0, rb0, ra1, rb1 = a0[sub], b0[sub], a1[sub], b1[sub]
        e1 = ring[:-1][None, :, :]
        e2 = ring[1:][None, :, :]
        corners = [
            (np.stack([ra0, rb0], -1), np.stack([ra1, rb0], -1)),
            (np.stack([ra1, rb0], -1), np.stack([ra1, rb1], -1)),
            (np.stack([ra1, rb1], -1), np.stack([ra0, rb1], -1)),
            (np.stack([ra0, rb1], -1), np.stack([ra0, rb0], -1)),
        ]
        cross = np.zeros(len(sub), dtype=bool)
        for c1, c2 in corners:
            cross |= segments_intersect(c1[:, None, :], c2[:, None, :], e1, e2).any(axis=1)
        hit[sub] |= cross

    out[idx] = hit
    return out


def rect_fully_inside_polygon(
    lon0: np.ndarray, lat0: np.ndarray, lon1: np.ndarray, lat1: np.ndarray,
    rings: list[np.ndarray],
) -> np.ndarray:
    """Conservative test: is each rect ENTIRELY in the polygon interior
    (holes included)?  True ⇒ every point of the rect is strictly inside —
    lets cover cells skip the exact PIP (GeoMesa's range-fully-contained
    optimization).  False negatives allowed, false positives never."""
    n = len(np.asarray(lon0))
    out = np.zeros(n, dtype=bool)
    # all 4 corners strictly inside (even-odd over all rings)
    ok = np.ones(n, dtype=bool)
    for cx, cy in ((lon0, lat0), (lon1, lat0), (lon0, lat1), (lon1, lat1)):
        cls_ = point_in_polygon(np.asarray(cx), np.asarray(cy), rings)
        ok &= cls_ == PIP_IN
        if not ok.any():
            return out
    idx = np.nonzero(ok)[0]
    a0, b0, a1, b1 = (np.asarray(v)[idx] for v in (lon0, lat0, lon1, lat1))
    bad = np.zeros(len(idx), dtype=bool)
    for ring in rings:
        ring = close_ring(ring)
        # ring vertex inside rect?
        vx, vy = ring[:-1, 0][None, :], ring[:-1, 1][None, :]
        bad |= (
            (vx > a0[:, None] - _EPS) & (vx < a1[:, None] + _EPS)
            & (vy > b0[:, None] - _EPS) & (vy < b1[:, None] + _EPS)
        ).any(axis=1)
        # ring edge crossing a rect edge?
        e1 = ring[:-1][None, :, :]
        e2 = ring[1:][None, :, :]
        corners = [
            (np.stack([a0, b0], -1), np.stack([a1, b0], -1)),
            (np.stack([a1, b0], -1), np.stack([a1, b1], -1)),
            (np.stack([a1, b1], -1), np.stack([a0, b1], -1)),
            (np.stack([a0, b1], -1), np.stack([a0, b0], -1)),
        ]
        for c1, c2 in corners:
            bad |= segments_intersect(c1[:, None, :], c2[:, None, :], e1, e2).any(axis=1)
    out[idx] = ~bad
    return out


def _point_segments(lons, lats, seg: np.ndarray):
    """Geodesic distance (N, M) from each point to each segment of the
    polyline ``seg`` (M + 1, 2), and the segments' (1, M) direction
    ``(dx, dy)``.

    Uses a local equirectangular projection around each segment (accurate
    for the sub-degree segments in the fixtures/corpus) then exact
    haversine to the nearest parametric point."""
    seg = np.asarray(seg, dtype=np.float64)
    x = np.asarray(lons, dtype=np.float64)[:, None]
    y = np.asarray(lats, dtype=np.float64)[:, None]
    x1, y1 = seg[:-1, 0][None, :], seg[:-1, 1][None, :]
    x2, y2 = seg[1:, 0][None, :], seg[1:, 1][None, :]
    # project lon by cos(lat) so degrees are locally isotropic
    k = np.cos(np.radians((y1 + y2) / 2.0))
    px, py = (x - x1) * k, y - y1
    dx, dy = (x2 - x1) * k, y2 - y1
    len2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(len2 > 0, (px * dx + py * dy) / len2, 0.0)
    t = np.clip(t, 0.0, 1.0)
    nx = x1 + t * (x2 - x1)
    ny = y1 + t * (y2 - y1)
    return haversine_m(x, y, nx, ny), dx, dy


def point_segments_dist_m(
    lons: np.ndarray, lats: np.ndarray, seg: np.ndarray
) -> np.ndarray:
    """Min geodesic distance from each point to a polyline ``seg`` (M, 2)
    (:func:`_point_segments`)."""
    return _point_segments(lons, lats, seg)[0].min(axis=1)


def point_segments_nearest(
    lons: np.ndarray, lats: np.ndarray, seg: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Like :func:`point_segments_dist_m` but also returns the BEARING of
    the nearest segment per point (degrees clockwise from north, [0, 360),
    planar in the same local equirectangular frame the distance uses) —
    the quantity RouteSearchProcess compares against a track's heading."""
    d, dx, dy = _point_segments(lons, lats, seg)
    i = d.argmin(axis=1)
    seg_bearing = np.degrees(np.arctan2(dx, dy)) % 360.0  # (1, M)
    return d[np.arange(d.shape[0]), i], seg_bearing[0, i]


def heading_delta_deg(a: np.ndarray, b: np.ndarray, bidirectional: bool = True) -> np.ndarray:
    """Angular difference between two headings in degrees, folded to
    [0, 180]; with ``bidirectional`` (RouteSearchProcess's default reading
    of an undirected route line) a reciprocal heading counts as aligned,
    so the fold is to [0, 90]."""
    d = np.abs((np.asarray(a, np.float64) - np.asarray(b, np.float64)) % 360.0)
    d = np.minimum(d, 360.0 - d)
    if bidirectional:
        d = np.minimum(d, 180.0 - d)
    return d


def bbox_of_rings(rings: list[np.ndarray]) -> tuple[float, float, float, float]:
    outer = np.asarray(rings[0], dtype=np.float64)
    return (
        float(outer[:, 0].min()),
        float(outer[:, 1].min()),
        float(outer[:, 0].max()),
        float(outer[:, 1].max()),
    )


def polygon_area(ring: np.ndarray) -> float:
    """Planar shoelace area in square degrees (st_area parity: GeoMesa's
    st_area is planar JTS area in degree space)."""
    ring = close_ring(ring)
    x, y = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    return float(np.abs(np.sum(x * y2 - x2 * y)) / 2.0)


def polygon_centroid(ring: np.ndarray) -> tuple[float, float]:
    """Planar polygon centroid; degenerate (zero-area) falls back to the
    vertex mean, matching JTS behaviour closely enough for fixtures."""
    ring = close_ring(ring)
    x, y = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    cr = x * y2 - x2 * y
    a = np.sum(cr) / 2.0
    if abs(a) < 1e-15:
        return float(x.mean()), float(y.mean())
    cx = np.sum((x + x2) * cr) / (6.0 * a)
    cy = np.sum((y + y2) * cr) / (6.0 * a)
    return float(cx), float(cy)


def linestring_length_deg(coords: np.ndarray) -> float:
    c = np.asarray(coords, dtype=np.float64)
    d = np.diff(c, axis=0)
    return float(np.sqrt((d**2).sum(axis=1)).sum())


def linestring_length_m(coords: np.ndarray) -> float:
    c = np.asarray(coords, dtype=np.float64)
    if len(c) < 2:
        return 0.0
    return float(haversine_m(c[:-1, 0], c[:-1, 1], c[1:, 0], c[1:, 1]).sum())


# WGS84 ellipsoid (public constants; GeoMesa's spheroid functions use the
# same datum through GeoTools' DefaultEllipsoid.WGS84)
WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563


def vincenty_m(lon1, lat1, lon2, lat2, iters: int = 100) -> np.ndarray:
    """True-spheroid (WGS84) inverse geodesic distance, vectorized.

    Standard Vincenty inverse iteration; coincident points → 0; the rare
    non-convergent near-antipodal pairs fall back to the spherical
    haversine (error there ≤ ~0.5%, flagged in the docstring rather than
    hidden)."""
    a, f = WGS84_A, WGS84_F
    b = a * (1.0 - f)
    lon1 = np.atleast_1d(np.asarray(lon1, dtype=np.float64))
    lat1 = np.atleast_1d(np.asarray(lat1, dtype=np.float64))
    lon2 = np.atleast_1d(np.asarray(lon2, dtype=np.float64))
    lat2 = np.atleast_1d(np.asarray(lat2, dtype=np.float64))
    L = np.radians(lon2 - lon1)
    U1 = np.arctan((1.0 - f) * np.tan(np.radians(lat1)))
    U2 = np.arctan((1.0 - f) * np.tan(np.radians(lat2)))
    sinU1, cosU1 = np.sin(U1), np.cos(U1)
    sinU2, cosU2 = np.sin(U2), np.cos(U2)
    lam = L.copy()
    sinSigma = np.zeros_like(L)
    cosSigma = np.ones_like(L)
    sigma = np.zeros_like(L)
    cos2Alpha = np.ones_like(L)
    cos2SigmaM = np.zeros_like(L)
    converged = np.zeros(L.shape, dtype=bool)
    for _ in range(iters):
        sinLam, cosLam = np.sin(lam), np.cos(lam)
        sinSigma = np.sqrt(
            (cosU2 * sinLam) ** 2 + (cosU1 * sinU2 - sinU1 * cosU2 * cosLam) ** 2
        )
        cosSigma = sinU1 * sinU2 + cosU1 * cosU2 * cosLam
        sigma = np.arctan2(sinSigma, cosSigma)
        with np.errstate(divide="ignore", invalid="ignore"):
            sinAlpha = np.where(sinSigma != 0.0, cosU1 * cosU2 * sinLam / sinSigma, 0.0)
        cos2Alpha = 1.0 - sinAlpha**2
        with np.errstate(divide="ignore", invalid="ignore"):
            cos2SigmaM = np.where(
                cos2Alpha != 0.0,
                cosSigma - 2.0 * sinU1 * sinU2 / np.where(cos2Alpha == 0.0, 1.0, cos2Alpha),
                0.0,
            )
        C = f / 16.0 * cos2Alpha * (4.0 + f * (4.0 - 3.0 * cos2Alpha))
        lam_prev = lam
        lam = L + (1.0 - C) * f * sinAlpha * (
            sigma
            + C * sinSigma * (cos2SigmaM + C * cosSigma * (-1.0 + 2.0 * cos2SigmaM**2))
        )
        converged = np.abs(lam - lam_prev) < 1e-12
        if converged.all():
            break
    u2 = cos2Alpha * (a * a - b * b) / (b * b)
    A = 1.0 + u2 / 16384.0 * (4096.0 + u2 * (-768.0 + u2 * (320.0 - 175.0 * u2)))
    B = u2 / 1024.0 * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2)))
    dSigma = B * sinSigma * (
        cos2SigmaM
        + B / 4.0 * (
            cosSigma * (-1.0 + 2.0 * cos2SigmaM**2)
            - B / 6.0 * cos2SigmaM * (-3.0 + 4.0 * sinSigma**2) * (-3.0 + 4.0 * cos2SigmaM**2)
        )
    )
    s = b * A * (sigma - dSigma)
    s = np.where(sinSigma == 0.0, 0.0, s)
    bad = ~converged & (sinSigma != 0.0)
    if bad.any():
        s = np.where(bad, haversine_m(lon1, lat1, lon2, lat2), s)
    return s
