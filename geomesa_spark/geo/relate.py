"""Pairwise geometry predicates over parsed Geometry objects.

Backs the generic ``st_*`` relation/measurement UDF surface for ARBITRARY
geometry pairs (the reference evaluates these through JTS — public tree:
geomesa-spark-jts/.../udf/SpatialRelationFunctions.scala; mount empty at
survey time, SURVEY.md §0).  The engine's hot paths (spatial join, kNN,
tiling) never come through here — they use the fully vectorized kernels in
:mod:`geomesa_spark.geo.kernels`; this module is the per-geometry general
dispatch used by the SQL function surface, batched at the Arrow-UDF level.

Semantics:
- every named relation is ONE definition: its JTS ``IntersectionMatrix``
  pattern (:data:`_PATTERNS`) over the computed DE-9IM of
  :func:`geomesa_spark.geo.de9im.relate_matrix`, through
  :func:`predicate`; ``st_relate``/``st_relateBool`` read the same matrix
  (:func:`matrix`, :func:`matches`);
- :func:`intersects` is the fast ``intersects``/``disjoint`` (vertex
  point-in-polygon + edge crossings, with de9im's planar incidence rule
  for points on lines), so it agrees with the matrix's four
  intersection cells;
- a polygon whose ring jumps more than 180° in longitude is read as its
  :func:`wkt.antimeridian_split` parts, as the XZ2 keys, ``PolygonSet``
  and ``pip_refine_udf`` read it;
- distances: planar in degrees (st_distance parity with JTS) and
  spherical meters (haversine; vertex/edge-projection for lines).
"""

from __future__ import annotations

import numpy as np

from . import de9im, kernels, wkt
from .kernels import PIP_OUT


def _as_parts(g: wkt.Geometry) -> list:
    """Normalize to a list of single-geometry parts."""
    if g.kind == wkt.WKB_MULTIPOLYGON:
        return [wkt.Geometry(wkt.WKB_POLYGON, p) for p in g.coords]
    if g.kind == wkt.WKB_MULTILINESTRING:
        return [wkt.Geometry(wkt.WKB_LINESTRING, c) for c in g.coords]
    if g.kind == wkt.WKB_MULTIPOINT:
        return [wkt.Geometry(wkt.WKB_POINT, c) for c in g.coords]
    if g.kind == wkt.WKB_COLLECTION:
        return [p for part in g.coords for p in _as_parts(part)]
    return [g]


def _pip_one(lon: float, lat: float, rings) -> int:
    return int(kernels.point_in_polygon(np.asarray([lon]), np.asarray([lat]), rings)[0])


def _point_on_line(lon: float, lat: float, coords: np.ndarray) -> bool:
    """de9im's planar incidence rule (``_seg_param`` over ``_segments``),
    over all segments at once, so the fast path and the matrix agree."""
    eps = de9im._EPS
    c = np.asarray(coords, dtype=np.float64)
    p, d = c[:-1], np.diff(c, axis=0)
    keep = (np.abs(d) > eps).any(axis=1)  # _segments drops zero-length ones
    px, py, dx, dy = p[keep, 0], p[keep, 1], d[keep, 0], d[keep, 1]
    rx, ry = lon - px, lat - py
    L2 = dx * dx + dy * dy
    on = np.abs(dx * ry - dy * rx) <= eps * np.maximum(1.0, np.sqrt(L2))
    t = (rx * dx + ry * dy) / L2
    return bool((on & (t >= -eps) & (t <= 1 + eps)).any())


def _edges(coords: np.ndarray):
    return coords[:-1], coords[1:]


def _any_edge_cross(a: np.ndarray, b: np.ndarray) -> bool:
    a1, a2 = _edges(a)
    b1, b2 = _edges(b)
    if len(a1) == 0 or len(b1) == 0:
        return False
    return bool(
        kernels.segments_intersect(
            a1[:, None, :], a2[:, None, :], b1[None, :, :], b2[None, :, :]
        ).any()
    )


def _poly_poly_intersects(pa: list[np.ndarray], pb: list[np.ndarray]) -> bool:
    oa, ob = kernels.close_ring(pa[0]), kernels.close_ring(pb[0])
    # bbox reject
    if (oa[:, 0].max() < ob[:, 0].min() or ob[:, 0].max() < oa[:, 0].min()
            or oa[:, 1].max() < ob[:, 1].min() or ob[:, 1].max() < oa[:, 1].min()):
        return False
    av = kernels.point_in_polygon(ob[:-1, 0], ob[:-1, 1], pa)
    if (av != PIP_OUT).any():
        return True
    bv = kernels.point_in_polygon(oa[:-1, 0], oa[:-1, 1], pb)
    if (bv != PIP_OUT).any():
        return True
    for ra in pa:
        for rb in pb:
            if _any_edge_cross(kernels.close_ring(ra), kernels.close_ring(rb)):
                return True
    return False


def _line_poly_intersects(line: np.ndarray, rings: list[np.ndarray]) -> bool:
    cls = kernels.point_in_polygon(line[:, 0], line[:, 1], rings)
    if (cls != PIP_OUT).any():
        return True
    for r in rings:
        if _any_edge_cross(line, kernels.close_ring(r)):
            return True
    return False


def intersects(ga: wkt.Geometry, gb: wkt.Geometry) -> bool:
    for a in _as_parts(ga):
        for b in _as_parts(gb):
            if _intersects_single(a, b):
                return True
    return False


def _intersects_single(a: wkt.Geometry, b: wkt.Geometry) -> bool:
    P, L, G = wkt.WKB_POINT, wkt.WKB_LINESTRING, wkt.WKB_POLYGON
    if a.kind == P and b.kind == P:
        return de9im._pt_key(a.coords) == de9im._pt_key(b.coords)
    if a.kind == P and b.kind == G:
        return _pip_one(a.coords[0], a.coords[1], b.coords) != PIP_OUT
    if a.kind == G and b.kind == P:
        return _intersects_single(b, a)
    if a.kind == P and b.kind == L:
        return _point_on_line(a.coords[0], a.coords[1], b.coords)
    if a.kind == L and b.kind == P:
        return _intersects_single(b, a)
    if a.kind == L and b.kind == L:
        return _any_edge_cross(a.coords, b.coords)
    if a.kind == L and b.kind == G:
        return _line_poly_intersects(a.coords, b.coords)
    if a.kind == G and b.kind == L:
        return _line_poly_intersects(b.coords, a.coords)
    if a.kind == G and b.kind == G:
        return _poly_poly_intersects(a.coords, b.coords)
    return False


def unwrap(g: wkt.Geometry) -> wkt.Geometry:
    """``g`` with each polygon whose ring jumps more than 180° in longitude
    replaced by its :func:`wkt.antimeridian_split` parts (a MULTIPOLYGON
    then); any other geometry is returned as is."""
    if g.kind == wkt.WKB_POLYGON:
        polys = [g.coords]
    elif g.kind == wkt.WKB_MULTIPOLYGON:
        polys = g.coords
    else:
        return g
    # a ring spanning at most 180° of longitude has no such jump
    lons = [np.asarray(rings[0], dtype=np.float64)[:, 0] for rings in polys]
    if all(x.max() - x.min() <= 180.0 for x in lons):
        return g
    parts = [
        q.coords
        for rings in polys
        for q in wkt.antimeridian_split(wkt.Geometry(wkt.WKB_POLYGON, rings))
    ]
    if len(parts) == len(polys):
        return g
    return wkt.Geometry(wkt.WKB_MULTIPOLYGON, parts)


def matrix(ga: wkt.Geometry, gb: wkt.Geometry) -> str | None:
    """The DE-9IM matrix the named relations are defined over
    (``st_relate``); None for a mixed-dimension GEOMETRYCOLLECTION."""
    return de9im.relate_matrix(unwrap(ga), unwrap(gb))


def matches(m: str, pattern: str) -> bool:
    """JTS ``IntersectionMatrix.matches``: per cell, ``*`` matches any
    dimension, ``T`` any non-``F`` one, and ``F``/``0``/``1``/``2`` only
    themselves."""
    return all(p == "*" or p == c or (p == "T" and c != "F") for c, p in zip(m, pattern))


#: JTS ``IntersectionMatrix`` patterns of the named relations, keyed by the
#: (dimension of A, dimension of B) class pair ("P", "L", "A", as
#: :func:`de9im.decompose` returns them) or ``"**"`` for every pair.  A
#: relation holds when the matrix matches one of its patterns; a pair that
#: its table does not list never satisfies it.
_PATTERNS: dict[str, dict[str, tuple[str, ...]]] = {
    "contains": {"**": ("T*****FF*",)},
    "within": {"**": ("T*F**F***",)},
    "covers": {"**": ("T*****FF*", "*T****FF*", "***T**FF*", "****T*FF*")},
    "coveredBy": {"**": ("T*F**F***", "*TF**F***", "**FT*F***", "**F*TF***")},
    "intersects": {"**": ("T********", "*T*******", "***T*****", "****T****")},
    "disjoint": {"**": ("FF*FF****",)},
    "touches": {"PP": (), "**": ("FT*******", "F**T*****", "F***T****")},
    "crosses": {
        **{d: ("T*T******",) for d in ("PL", "PA", "LA")},
        **{d: ("T*****T**",) for d in ("LP", "AP", "AL")},
        "LL": ("0********",),
    },
    "overlaps": {"PP": ("T*T***T**",), "AA": ("T*T***T**",), "LL": ("1*T***T**",)},
    "equals": {d: ("T*F**FFF*",) for d in ("PP", "LL", "AA")},
}


def _vertex_outside(polys: list, d: tuple) -> bool:
    """Some vertex of the decomposed geometry ``d`` lies in the exterior of
    the polygon union ``polys`` (then it does not cover, nor contain, d)."""
    kind, parts = d
    v = np.vstack(parts if kind == "L" else [r for rings in parts for r in rings])
    return bool((de9im._pip_multi(v[:, 0], v[:, 1], polys) == PIP_OUT).any())


def predicate(name: str, ga: wkt.Geometry, gb: wkt.Geometry) -> bool | None:
    """The named relation (``contains``, ``within``, ``covers``,
    ``coveredBy``, ``intersects``, ``disjoint``, ``touches``, ``crosses``,
    ``overlaps`` or ``equals``) of A to B: its :data:`_PATTERNS` entry over
    the DE-9IM matrix of the pair, antimeridian-crossing polygons read as
    their split parts.

    ``intersects``/``disjoint`` are answered by :func:`intersects`, and
    every other relation is False when it is.  Two more exact shortcuts
    skip the matrix: a vertex of B in areal A's exterior rejects
    ``contains``/``covers`` (and of A in areal B's, ``within``/
    ``coveredBy``), and a dimension pair without patterns is False.  A
    point side goes straight to the matrix, which is then its
    point-in-polygon class.

    A mixed-dimension GEOMETRYCOLLECTION has no matrix here: every
    relation but ``intersects``/``disjoint`` is then None (NULL), as
    ``st_relate`` is."""
    ga, gb = unwrap(ga), unwrap(gb)
    if name in ("intersects", "disjoint"):
        return intersects(ga, gb) == (name == "intersects")
    table = _PATTERNS[name]
    da, db = de9im.decompose(ga), de9im.decompose(gb)
    if da is None or db is None:
        return None
    pats = table.get(da[0] + db[0], table.get("**", ()))
    if not pats:
        return False
    if "P" not in (da[0], db[0]):
        if name in ("contains", "covers") and da[0] == "A":
            if _vertex_outside(da[1], db):
                return False
        elif name in ("within", "coveredBy") and db[0] == "A":
            if _vertex_outside(db[1], da):
                return False
        elif not intersects(ga, gb):
            return False
    m = de9im.decomposed_matrix(da, db)
    return any(matches(m, p) for p in pats)


def distance_deg(ga: wkt.Geometry, gb: wkt.Geometry) -> float:
    """Planar cartesian distance in degrees (JTS st_distance parity)."""
    if intersects(ga, gb):
        return 0.0
    pts_a = _sample_coords(ga)
    pts_b = _sample_coords(gb)
    best = np.inf
    for coords, other in ((pts_a, gb), (pts_b, ga)):
        for seg in _segments_of(other):
            d = _pts_to_seg_planar(coords, seg)
            best = min(best, float(d.min()))
    return best


def distance_sphere_m(ga: wkt.Geometry, gb: wkt.Geometry) -> float:
    if intersects(ga, gb):
        return 0.0
    best = np.inf
    pa, pb = _sample_coords(ga), _sample_coords(gb)
    for coords, other in ((pa, gb), (pb, ga)):
        o = _all_coords(other)
        if len(o) >= 2:
            d = kernels.point_segments_dist_m(coords[:, 0], coords[:, 1], o)
        else:
            d = kernels.haversine_m(coords[:, 0], coords[:, 1], o[0, 0], o[0, 1])
        best = min(best, float(np.min(d)))
    return best


def _sample_coords(g: wkt.Geometry) -> np.ndarray:
    return _all_coords(g)


def _all_coords(g: wkt.Geometry) -> np.ndarray:
    if g.kind == wkt.WKB_POINT:
        return np.asarray([g.coords])
    if g.kind == wkt.WKB_LINESTRING:
        return np.asarray(g.coords)
    if g.kind == wkt.WKB_POLYGON:
        return np.vstack([kernels.close_ring(r) for r in g.coords])
    return np.vstack([_all_coords(p) for p in _as_parts(g)])


def _segments_of(g: wkt.Geometry):
    if g.kind == wkt.WKB_POINT:
        yield np.asarray([g.coords, g.coords])
    elif g.kind == wkt.WKB_LINESTRING:
        yield np.asarray(g.coords)
    elif g.kind == wkt.WKB_POLYGON:
        for r in g.coords:
            yield kernels.close_ring(r)
    else:
        for p in _as_parts(g):
            yield from _segments_of(p)


def _pts_to_seg_planar(pts: np.ndarray, seg: np.ndarray) -> np.ndarray:
    x, y = pts[:, 0][:, None], pts[:, 1][:, None]
    x1, y1 = seg[:-1, 0][None, :], seg[:-1, 1][None, :]
    x2, y2 = seg[1:, 0][None, :], seg[1:, 1][None, :]
    dx, dy = x2 - x1, y2 - y1
    len2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(len2 > 0, ((x - x1) * dx + (y - y1) * dy) / len2, 0.0)
    t = np.clip(t, 0.0, 1.0)
    nx, ny = x1 + t * dx, y1 + t * dy
    return np.sqrt((x - nx) ** 2 + (y - ny) ** 2).min(axis=1)
