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
- every distance is a metric on ONE planar nearest point pair,
  :func:`nearest` (JTS ``DistanceOp``), which the sphere and spheroid
  metrics read across ±180° (:func:`distance`).
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


def nearest(ga: wkt.Geometry, gb: wkt.Geometry) -> tuple[np.ndarray, np.ndarray]:
    """The planar nearest point pair ``(pa, pb)``, ``pa`` on A and ``pb``
    on B (JTS ``DistanceOp.nearestPoints``), over the :func:`unwrap`ped
    parts, each point, line and ring its own chain of segments; one shared
    point when A and B intersect.

    Every ``st_*`` distance is a metric on this pair (:func:`distance`;
    ``st_closestPoint`` is ``pa``).  Taking the sphere and spheroid
    metrics on the planar pair, as GeoMesa does on JTS's, is exact between
    points and approximates the geodesic nearest pair on long or
    high-latitude segments."""
    ga, gb = unwrap(ga), unwrap(gb)
    va, sa = _vertices_segments(ga)
    vb, sb = _vertices_segments(gb)
    pa, pb = _nearest_pair(va, sa, vb, sb)
    if not intersects(ga, gb):
        return pa, pb
    if np.hypot(*(pa - pb)) > de9im._EPS:
        pa = _shared_point(ga, va, sa, gb, vb, sb, pa)
    return pa, pa


def distance(ga: wkt.Geometry, gb: wkt.Geometry, metric=None) -> float:
    """``metric(pa, pb)`` on the planar nearest pair, or without a
    ``metric`` its planar length (JTS ``DistanceOp.distance``); 0 where A
    and B intersect, with no shared point sought.  A ``metric`` wraps
    longitude (haversine, Vincenty), so its pair is searched over B and
    B's copies shifted by ±360°: near ±180° the unshifted pair can lie a
    map's width apart while a pair across the seam is a few km, and each
    candidate is still a point of A and one of B modulo 360°."""
    ga, gb = unwrap(ga), unwrap(gb)
    if intersects(ga, gb):
        return 0.0
    va, sa = _vertices_segments(ga)
    vb, sb = _vertices_segments(gb)
    if metric is None:
        return float(np.hypot(*np.subtract(*_nearest_pair(va, sa, vb, sb))))
    turns = (-360.0, 0.0, 360.0)
    return metric(*_nearest_pair(va, sa, np.concatenate([vb + (t, 0.0) for t in turns]),
                                 np.concatenate([sb + (t, 0.0) for t in turns])))


def _nearest_pair(va, sa, vb, sb) -> tuple[np.ndarray, np.ndarray]:
    """The planar nearest pair between the vertices/segments of A and B."""
    pa, pb = _nearest_projection(va, sb)
    qb, qa = _nearest_projection(vb, sa)
    return (qa, qb) if np.hypot(*(qa - qb)) < np.hypot(*(pa - pb)) else (pa, pb)


def _vertices_segments(g: wkt.Geometry) -> tuple[np.ndarray, np.ndarray]:
    """Every vertex (k, 2) and every segment (m, 2, 2) of ``g``'s parts; a
    point is one zero-length segment."""
    chains = list(_segments_of(g))
    segs = [np.concatenate([c[:-1, None], c[1:, None]], axis=1) for c in chains]
    return np.concatenate(chains), np.concatenate(segs)


def _nearest_projection(v: np.ndarray, s: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The vertex of ``v`` nearest to the segments ``s``, and its nearest
    point on them."""
    a, d = s[:, 0], s[:, 1] - s[:, 0]
    L2 = (d * d).sum(-1)
    t = np.clip(((v[:, None] - a) * d).sum(-1) / np.where(L2 > 0, L2, 1.0), 0.0, 1.0)
    q = a + t[..., None] * d
    i, j = np.unravel_index(((q - v[:, None]) ** 2).sum(-1).argmin(), t.shape)
    return v[i], q[i, j]


def _shared_point(ga, va, sa, gb, vb, sb, pa: np.ndarray) -> np.ndarray:
    """A point of both sides of an intersecting pair whose nearest vertex
    pair is not 0 apart: the first segment crossing, else a vertex of one
    side in the other's area (``pa`` if neither is found)."""
    hit = kernels.segments_intersect(sa[:, None, 0], sa[:, None, 1], sb[None, :, 0], sb[None, :, 1])
    i, j = np.nonzero(hit)
    r, s, w = sa[i, 1] - sa[i, 0], sb[j, 1] - sb[j, 0], sb[j, 0] - sa[i, 0]
    den = r[:, 0] * s[:, 1] - r[:, 1] * s[:, 0]
    if (den != 0).any():
        k = int((den != 0).argmax())
        t = (w[k, 0] * s[k, 1] - w[k, 1] * s[k, 0]) / den[k]
        return sa[i[k], 0] + np.clip(t, 0.0, 1.0) * r[k]
    for v, g in ((va, gb), (vb, ga)):
        polys = [p.coords for p in _as_parts(g) if p.kind == wkt.WKB_POLYGON]
        if polys:
            inside = de9im._pip_multi(v[:, 0], v[:, 1], polys) != PIP_OUT
            if inside.any():
                return v[int(inside.argmax())]
    return pa


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
