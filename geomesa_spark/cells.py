"""Hierarchical cell index — the engine's replacement for GeoMesa's
space-filling-curve key layouts.

GeoMesa keys features by Z2/Z3/XZ2 curves (reference:
``geomesa-z3/.../curve/Z2SFC.scala``, ``Z3SFC.scala``, ``XZ2SFC.scala`` —
public locationtech tree paths; the /root/reference mount was empty at
survey time, see SURVEY.md §0) and turns query geometries into row-key
ranges.  Here the same bit math becomes *batched numpy*: every feature gets
an int64 **cell id** (Morton/Z-order interleave of a 2^res × 2^res
equirectangular grid over lon/lat), query geometries become **cell covers**
(arrays of cell ids), and range scans become cell-id equi-joins plus
partition pruning.  The scheme is quadtree-hierarchical exactly like
H3/S2/quadkeys: ``parent`` is a 2-bit right shift, same-resolution
neighbours give k-rings, and a base-4 "quadkey" string exists for tile ids.

Everything in this module is pure numpy, vectorized, and deterministic —
it is called from pandas UDFs on executors and from the planner on the
driver.  Keep it free of Spark imports.
"""

from __future__ import annotations

import numpy as np

#: max resolution: 26 bits per dimension → 52-bit interleaved ids, safely
#: inside int64 (and inside float64's exact-integer range, which protects
#: ids round-tripping through pandas).
MAX_RES = 26

LON_MIN, LON_MAX = -180.0, 180.0
LAT_MIN, LAT_MAX = -90.0, 90.0


# ---------------------------------------------------------------------------
# bit interleaving (Morton / Z-order)
# ---------------------------------------------------------------------------

_MAGIC = [
    (np.uint64(0x0000FFFF0000FFFF), np.uint64(16)),
    (np.uint64(0x00FF00FF00FF00FF), np.uint64(8)),
    (np.uint64(0x0F0F0F0F0F0F0F0F), np.uint64(4)),
    (np.uint64(0x3333333333333333), np.uint64(2)),
    (np.uint64(0x5555555555555555), np.uint64(1)),
]


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of each uint64 into the even bit positions."""
    v = v.astype(np.uint64)
    for mask, shift in _MAGIC:
        v = (v | (v << shift)) & mask
    return v


def _compact1by1(v: np.ndarray) -> np.ndarray:
    """Inverse of :func:`_part1by1` — gather even bits into the low 32."""
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def interleave(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Morton-interleave two integer grids: x gets even bits, y odd bits."""
    return (_part1by1(np.asarray(x)) | (_part1by1(np.asarray(y)) << np.uint64(1))).astype(
        np.int64
    )


def deinterleave(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """cell id → (x, y) grid coordinates."""
    c = np.asarray(cell).astype(np.uint64)
    x = _compact1by1(c)
    y = _compact1by1(c >> np.uint64(1))
    return x.astype(np.int64), y.astype(np.int64)


# ---------------------------------------------------------------------------
# lon/lat ↔ grid ↔ cell
# ---------------------------------------------------------------------------

def lonlat_to_xy(lon: np.ndarray, lat: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Map lon/lat to integer grid coords at ``res`` (2^res per dimension).

    Out-of-range values clamp to the edge cells (GeoMesa's Z2SFC clamps the
    same way); NaNs map to -1 so callers can filter them.
    """
    n = np.int64(1) << np.int64(res)
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    with np.errstate(invalid="ignore"):
        x = np.floor((lon - LON_MIN) / (LON_MAX - LON_MIN) * n).astype(np.float64)
        y = np.floor((lat - LAT_MIN) / (LAT_MAX - LAT_MIN) * n).astype(np.float64)
    x = np.clip(x, 0, float(n - 1))
    y = np.clip(y, 0, float(n - 1))
    bad = ~(np.isfinite(lon) & np.isfinite(lat))
    xi = np.where(bad, 0.0, x).astype(np.int64)
    yi = np.where(bad, 0.0, y).astype(np.int64)
    xi[bad] = -1
    yi[bad] = -1
    return xi, yi


def encode(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """lon/lat arrays → int64 cell ids at ``res``.  NaN/invalid → -1."""
    x, y = lonlat_to_xy(lon, lat, res)
    bad = x < 0
    cell = interleave(np.where(bad, 0, x), np.where(bad, 0, y))
    cell[bad] = -1
    return cell


def cell_bounds(cell: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """cell ids → (lon0, lat0, lon1, lat1) rectangle bounds."""
    n = float(1 << res)
    x, y = deinterleave(cell)
    w = (LON_MAX - LON_MIN) / n
    h = (LAT_MAX - LAT_MIN) / n
    lon0 = LON_MIN + x * w
    lat0 = LAT_MIN + y * h
    return lon0, lat0, lon0 + w, lat0 + h


def parent(cell: np.ndarray, dres: int = 1) -> np.ndarray:
    """Parent cell ``dres`` levels up — a 2·dres-bit shift (quadtree)."""
    return np.asarray(cell, dtype=np.int64) >> np.int64(2 * dres)


def children(cell: int) -> np.ndarray:
    """The four child cells one level down."""
    base = np.int64(cell) << np.int64(2)
    return base + np.arange(4, dtype=np.int64)


def quadkey(cell: np.ndarray, res: int) -> np.ndarray:
    """Base-4 quadkey strings (tile-pyramid ids; prefix = ancestor)."""
    c = np.asarray(cell, dtype=np.int64)
    out = np.empty(c.shape, dtype=object)
    if res == 0:  # the root tile's quadkey has no digits
        out.reshape(-1)[:] = ""
        return out
    digits = np.empty((res,) + c.shape, dtype=np.int64)
    for i in range(res):
        digits[res - 1 - i] = (c >> np.int64(2 * i)) & np.int64(3)
    flat = c.reshape(-1)
    dflat = digits.reshape(res, -1)
    buf = np.char.mod("%d", dflat)
    joined = ["".join(buf[:, j]) for j in range(flat.shape[0])]
    out.reshape(-1)[:] = joined
    return out


# ---------------------------------------------------------------------------
# neighbourhoods and covers
# ---------------------------------------------------------------------------

def k_ring(cell: int, res: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance ``k`` of ``cell`` at ``res``.

    Longitude wraps across the antimeridian; latitude clamps at the poles.
    Analogue of H3's kRing and of GeoMesa's expanding geohash window in
    ``KNNQuery`` (public tree: geomesa-process-vector/.../knn/).
    """
    n = np.int64(1) << np.int64(res)
    x, y = deinterleave(np.asarray([cell]))
    x0, y0 = int(x[0]), int(y[0])
    dx = np.arange(-k, k + 1, dtype=np.int64)
    dy = np.arange(-k, k + 1, dtype=np.int64)
    gx, gy = np.meshgrid(x0 + dx, y0 + dy)
    gx = np.mod(gx, n)  # lon wrap
    keep = (gy >= 0) & (gy < n)  # lat clamp
    return np.unique(interleave(gx[keep], gy[keep]))


def ring_shell(cell: int, res: int, k: int) -> np.ndarray:
    """Only the cells at exactly Chebyshev distance ``k`` (the ring shell)."""
    if k == 0:
        return np.asarray([cell], dtype=np.int64)
    full = k_ring(cell, res, k)
    inner = k_ring(cell, res, k - 1)
    return np.setdiff1d(full, inner, assume_unique=True)


def cover_bbox(
    lon0: float, lat0: float, lon1: float, lat1: float, res: int, max_cells: int = 4096
) -> tuple[np.ndarray, int]:
    """Cells at ``res`` intersecting the closed bbox; coarsens resolution
    until the cover fits the ``max_cells`` budget (GeoMesa's ``maxRanges``
    budget in ``sfc.ranges(..., maxRanges)`` plays the same role).

    Returns ``(cells, actual_res)``.  The cover is *complete*: every point
    inside the bbox lies in some returned cell (false positives allowed —
    the refine stage removes them).
    """
    if lon1 < lon0:  # antimeridian-crossing box → two boxes, same res
        ca, ra = cover_bbox(lon0, lat0, LON_MAX, lat1, res, max_cells // 2 + 1)
        cb, rb = cover_bbox(LON_MIN, lat0, lon1, lat1, res, max_cells // 2 + 1)
        r = min(ra, rb)
        if ra > r:
            ca = np.unique(parent(ca, ra - r))
        if rb > r:
            cb = np.unique(parent(cb, rb - r))
        return np.unique(np.concatenate([ca, cb])), r
    for r in range(res, -1, -1):
        n = np.int64(1) << np.int64(r)
        eps = 1e-12
        x0, y0 = lonlat_to_xy(np.asarray([lon0]), np.asarray([lat0]), r)
        x1, y1 = lonlat_to_xy(np.asarray([lon1 - eps]), np.asarray([lat1 - eps]), r)
        # closed upper edge: a point exactly on lon1/lat1 still belongs to
        # the cell that floor() puts it in, which lonlat_to_xy clamps into
        # range, so use the un-shrunk values for the upper cell too
        x1b, y1b = lonlat_to_xy(np.asarray([lon1]), np.asarray([lat1]), r)
        xa, xb = int(x0[0]), int(max(x1[0], x1b[0]) if lon1 > lon0 else x0[0])
        ya, yb = int(y0[0]), int(max(y1[0], y1b[0]) if lat1 > lat0 else y0[0])
        xb = max(xa, xb)
        yb = max(ya, yb)
        count = (xb - xa + 1) * (yb - ya + 1)
        if count <= max_cells or r == 0:
            gx, gy = np.meshgrid(
                np.arange(xa, xb + 1, dtype=np.int64), np.arange(ya, yb + 1, dtype=np.int64)
            )
            return np.sort(interleave(gx.ravel(), gy.ravel())), r
    raise AssertionError("unreachable")


def cover_polygon(rings: list[np.ndarray], res: int, max_cells: int = 4096) -> tuple[np.ndarray, int]:
    """Complete cell cover of a polygon (outer ring + holes) at ≤ ``res``.

    Starts from the cover of the bbox padded by ``kernels.BAND_PAD`` (so a
    point on an edge that lies on a cell seam is covered on both sides),
    then drops cells whose rectangle provably does not intersect the outer
    ring (conservative rect/polygon test); holes are NOT used to drop
    cells (a cell overlapping a hole edge still matters) — the exact
    refine stage applies hole semantics.
    """
    from .geo import kernels

    outer = np.asarray(rings[0], dtype=np.float64)
    lon0, lat0 = outer[:, 0].min() - kernels.BAND_PAD, outer[:, 1].min() - kernels.BAND_PAD
    lon1, lat1 = outer[:, 0].max() + kernels.BAND_PAD, outer[:, 1].max() + kernels.BAND_PAD
    cells, r = cover_bbox(float(lon0), float(lat0), float(lon1), float(lat1), res, max_cells)
    if len(cells) <= 4:
        return cells, r
    clon0, clat0, clon1, clat1 = cell_bounds(cells, r)
    keep = kernels.rect_intersects_polygon(clon0, clat0, clon1, clat1, outer)
    kept = cells[keep]
    if len(kept) == 0:  # degenerate geometry — keep bbox cover (complete)
        return cells, r
    return kept, r


def cover_point_radius(
    lon: float, lat: float, radius_m: float, res: int, max_cells: int = 4096
) -> tuple[np.ndarray, int]:
    """Cells within ``radius_m`` of a point: bbox cover of the geodesic
    bounding box (lat-aware lon padding), complete for st_dwithin prefilter."""
    dlat = np.degrees(radius_m / 6371008.8)
    coslat = max(np.cos(np.radians(lat)), 1e-9)
    dlon = min(dlat / coslat, 180.0)
    lat0, lat1 = max(lat - dlat, LAT_MIN), min(lat + dlat, LAT_MAX)
    lon0, lon1 = lon - dlon, lon + dlon
    if lon0 < LON_MIN and lon1 > LON_MAX:
        return cover_bbox(LON_MIN, lat0, LON_MAX, lat1, res, max_cells)
    if lon0 < LON_MIN:
        lon0 += 360.0  # wraps → cover_bbox antimeridian branch
    if lon1 > LON_MAX:
        lon1 -= 360.0
    return cover_bbox(lon0, lat0, lon1, lat1, res, max_cells)
