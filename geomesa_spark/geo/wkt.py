"""WKT/WKB parse + write.

GeoMesa's SparkSQL surface constructs geometries from WKT/WKB via
``st_geomFromWKT`` / ``st_geomFromWKB`` (public tree:
geomesa-spark-jts/.../udf/GeometricConstructorFunctions.scala; mount empty
at survey time — SURVEY.md §0).  Here:

- the **hot path** is vectorized point parsing over pandas string Series
  (``parse_points_series``) — regex extract, no Python loop — because the
  corpus' geo spans carry ``POINT(lon lat)`` WKT;
- a generic recursive-descent parser (``parse_wkt``) handles
  POINT/LINESTRING/POLYGON/MULTI*/GEOMETRYCOLLECTION for the *small*
  (broadcast) side — fixture polygons, routes, query literals — where a
  per-geometry Python loop is fine by design;
- WKB (little-endian ISO) encode/decode with a vectorized point fast path.

Malformed WKT nulls out (returns None / NaN) instead of raising — the
fixtures pin this behaviour (FIXTURES.md §1: "malformed WKT (engine must
null it, not crash)").
"""

from __future__ import annotations

import re
import struct

import numpy as np
import pandas as pd

_POINT_RE = re.compile(
    r"^\s*POINT\s*\(\s*([-+0-9.eE]+)\s+([-+0-9.eE]+)\s*\)\s*$", re.IGNORECASE
)

WKB_POINT = 1
WKB_LINESTRING = 2
WKB_POLYGON = 3
WKB_MULTIPOINT = 4
WKB_MULTILINESTRING = 5
WKB_MULTIPOLYGON = 6
WKB_COLLECTION = 7

_TYPE_NAMES = {
    WKB_POINT: "Point",
    WKB_LINESTRING: "LineString",
    WKB_POLYGON: "Polygon",
    WKB_MULTIPOINT: "MultiPoint",
    WKB_MULTILINESTRING: "MultiLineString",
    WKB_MULTIPOLYGON: "MultiPolygon",
    WKB_COLLECTION: "GeometryCollection",
}


# ---------------------------------------------------------------------------
# vectorized point fast path (the corpus hot path)
# ---------------------------------------------------------------------------

def parse_points_series(s: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """``POINT(lon lat)`` strings → (lon, lat) float64 arrays; anything
    else (POINT EMPTY, malformed, None) → NaN.  Pure pandas str ops."""
    ext = s.astype("string").str.extract(
        r"^\s*[Pp][Oo][Ii][Nn][Tt]\s*\(\s*([-+0-9.eE]+)\s+([-+0-9.eE]+)\s*\)\s*$"
    )
    lon = pd.to_numeric(ext[0], errors="coerce").to_numpy(dtype=np.float64, na_value=np.nan)
    lat = pd.to_numeric(ext[1], errors="coerce").to_numpy(dtype=np.float64, na_value=np.nan)
    bad = (lon < -180.0) | (lon > 180.0) | (lat < -90.0) | (lat > 90.0)
    lon[bad] = np.nan
    lat[bad] = np.nan
    return lon, lat


# ---------------------------------------------------------------------------
# generic WKT (small / broadcast side)
# ---------------------------------------------------------------------------

class Geometry:
    """Tiny geometry value object: ``kind`` is a WKB type code; ``coords``
    is type-dependent (point: (2,), linestring: (n,2), polygon: list of
    rings, multi*: list of parts)."""

    __slots__ = ("kind", "coords")

    def __init__(self, kind: int, coords):
        self.kind = kind
        self.coords = coords

    @property
    def type_name(self) -> str:
        return _TYPE_NAMES[self.kind]

    def rings(self) -> list[np.ndarray]:
        """Polygon rings (outer first).  Raises for non-areal types."""
        if self.kind == WKB_POLYGON:
            return self.coords
        if self.kind == WKB_MULTIPOLYGON:
            return [r for poly in self.coords for r in poly]
        raise TypeError(f"not areal: {self.type_name}")


def _parse_coord_seq(body: str) -> np.ndarray:
    pts = []
    for tok in body.split(","):
        parts = tok.split()
        if len(parts) < 2:
            raise ValueError(f"bad coordinate: {tok!r}")
        pts.append((float(parts[0]), float(parts[1])))
    return np.asarray(pts, dtype=np.float64)


def _split_groups(body: str) -> list[str]:
    """Contents of each depth-1 paren group: '(a),(b)' → ['a', 'b']."""
    groups, depth, cur = [], 0, []
    for ch in body:
        if ch == "(":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == ")":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return groups


def _split_groups_raw(body: str) -> list[str]:
    """Like :func:`_split_groups` but keeps inner parens intact (for the
    per-polygon bodies inside a MULTIPOLYGON)."""
    return _split_groups(body)


def parse_wkt(text: str | None) -> Geometry | None:
    """Parse one WKT string; returns None for EMPTY / malformed / null."""
    if text is None or not isinstance(text, str):
        return None
    t = text.strip()
    if not t:
        return None
    up = t.upper()
    try:
        if "EMPTY" in up:
            return None
        m = _POINT_RE.match(t)
        if m:
            return Geometry(WKB_POINT, np.asarray([float(m.group(1)), float(m.group(2))]))
        head, _, rest = t.partition("(")
        kind = head.strip().upper()
        body = "(" + rest
        inner = body.strip()
        if not inner.startswith("(") or not inner.endswith(")"):
            return None
        inner = inner[1:-1]
        if kind == "LINESTRING":
            c = _parse_coord_seq(inner)
            return Geometry(WKB_LINESTRING, c) if len(c) >= 2 else None
        if kind == "POLYGON":
            rings = [_parse_coord_seq(g) for g in _split_groups(inner)]
            return Geometry(WKB_POLYGON, rings) if rings and len(rings[0]) >= 4 else None
        if kind == "MULTIPOINT":
            if "(" in inner:
                pts = np.asarray([_parse_coord_seq(g)[0] for g in _split_groups(inner)])
            else:
                pts = _parse_coord_seq(inner)
            return Geometry(WKB_MULTIPOINT, pts)
        if kind == "MULTILINESTRING":
            return Geometry(WKB_MULTILINESTRING, [_parse_coord_seq(g) for g in _split_groups(inner)])
        if kind == "MULTIPOLYGON":
            out = []
            for poly_body in _split_groups_raw(inner):
                out.append([_parse_coord_seq(g) for g in _split_groups(poly_body)])
            return Geometry(WKB_MULTIPOLYGON, out) if out else None
        if kind == "GEOMETRYCOLLECTION":
            parts = [parse_wkt(p) for p in _split_top_level(inner)]
            parts = [p for p in parts if p is not None]
            return Geometry(WKB_COLLECTION, parts) if parts else None
        return None
    except (ValueError, IndexError):
        return None


def _split_top_level(body: str) -> list[str]:
    """Split a GEOMETRYCOLLECTION body on commas at paren depth 0."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(body):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(body[start:i])
            start = i + 1
    parts.append(body[start:])
    return [p.strip() for p in parts if p.strip()]


def _fmt(v: float) -> str:
    s = f"{v:.10f}".rstrip("0").rstrip(".")
    return s if s not in ("-0", "") else "0"


def to_wkt(g: Geometry | None) -> str | None:
    if g is None:
        return None
    if g.kind == WKB_POINT:
        return f"POINT ({_fmt(g.coords[0])} {_fmt(g.coords[1])})"
    if g.kind == WKB_LINESTRING:
        pts = ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in g.coords)
        return f"LINESTRING ({pts})"
    if g.kind == WKB_POLYGON:
        rings = ", ".join(
            "(" + ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in r) + ")" for r in g.coords
        )
        return f"POLYGON ({rings})"
    if g.kind == WKB_MULTIPOLYGON:
        polys = ", ".join(
            "("
            + ", ".join("(" + ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in r) + ")" for r in poly)
            + ")"
            for poly in g.coords
        )
        return f"MULTIPOLYGON ({polys})"
    if g.kind == WKB_MULTIPOINT:
        pts = ", ".join(f"({_fmt(x)} {_fmt(y)})" for x, y in np.asarray(g.coords))
        return f"MULTIPOINT ({pts})"
    if g.kind == WKB_MULTILINESTRING:
        lines = ", ".join(
            "(" + ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in c) + ")" for c in g.coords
        )
        return f"MULTILINESTRING ({lines})"
    if g.kind == WKB_COLLECTION:
        parts = ", ".join(to_wkt(p) for p in g.coords)
        return f"GEOMETRYCOLLECTION ({parts})"
    raise NotImplementedError(g.type_name)


# ---------------------------------------------------------------------------
# WKB (ISO, little-endian)
# ---------------------------------------------------------------------------

def point_to_wkb(lon: float, lat: float) -> bytes:
    return struct.pack("<BIdd", 1, WKB_POINT, lon, lat)


def points_to_wkb_series(lon: np.ndarray, lat: np.ndarray) -> pd.Series:
    """Vectorized point → WKB: build the 21-byte records with numpy, no
    per-row struct.pack."""
    n = len(lon)
    buf = np.zeros((n, 21), dtype=np.uint8)
    buf[:, 0] = 1
    buf[:, 1] = WKB_POINT  # little-endian uint32, low byte only
    buf[:, 5:13] = np.asarray(lon, dtype="<f8").view(np.uint8).reshape(n, 8)
    buf[:, 13:21] = np.asarray(lat, dtype="<f8").view(np.uint8).reshape(n, 8)
    raw = buf.tobytes()
    out = pd.Series([raw[i * 21 : (i + 1) * 21] for i in range(n)], dtype=object)
    bad = ~(np.isfinite(np.asarray(lon)) & np.isfinite(np.asarray(lat)))
    out[bad] = None
    return out


def wkb_points_to_lonlat(s: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized WKB point decode (21-byte little-endian records)."""
    n = len(s)
    lon = np.full(n, np.nan)
    lat = np.full(n, np.nan)
    vals = s.to_numpy(dtype=object)
    ok = np.array(
        [isinstance(b, (bytes, bytearray)) and len(b) == 21 and b[0] == 1 for b in vals]
    )
    if ok.any():
        packed = b"".join(vals[i] for i in np.nonzero(ok)[0])
        arr = np.frombuffer(packed, dtype=np.uint8).reshape(-1, 21)
        lon[ok] = arr[:, 5:13].copy().view("<f8").ravel()
        lat[ok] = arr[:, 13:21].copy().view("<f8").ravel()
    return lon, lat


def geom_to_wkb(g: Geometry | None) -> bytes | None:
    if g is None:
        return None
    if g.kind == WKB_POINT:
        return point_to_wkb(float(g.coords[0]), float(g.coords[1]))
    if g.kind == WKB_LINESTRING:
        c = np.asarray(g.coords, dtype=np.float64)
        return struct.pack("<BII", 1, WKB_LINESTRING, len(c)) + c.astype("<f8").tobytes()
    if g.kind == WKB_POLYGON:
        out = struct.pack("<BII", 1, WKB_POLYGON, len(g.coords))
        for r in g.coords:
            from .kernels import close_ring

            rr = close_ring(np.asarray(r, dtype=np.float64))
            out += struct.pack("<I", len(rr)) + rr.astype("<f8").tobytes()
        return out
    if g.kind == WKB_MULTIPOLYGON:
        out = struct.pack("<BII", 1, WKB_MULTIPOLYGON, len(g.coords))
        for poly in g.coords:
            out += geom_to_wkb(Geometry(WKB_POLYGON, poly))
        return out
    if g.kind == WKB_MULTIPOINT:
        pts = np.asarray(g.coords, dtype=np.float64)
        out = struct.pack("<BII", 1, WKB_MULTIPOINT, len(pts))
        for x, y in pts:
            out += point_to_wkb(float(x), float(y))
        return out
    if g.kind == WKB_MULTILINESTRING:
        out = struct.pack("<BII", 1, WKB_MULTILINESTRING, len(g.coords))
        for c in g.coords:
            out += geom_to_wkb(Geometry(WKB_LINESTRING, c))
        return out
    if g.kind == WKB_COLLECTION:
        out = struct.pack("<BII", 1, WKB_COLLECTION, len(g.coords))
        for p in g.coords:
            out += geom_to_wkb(p)
        return out
    raise NotImplementedError(g.type_name)


def wkb_to_geom(b: bytes | None) -> Geometry | None:
    if not b or not isinstance(b, (bytes, bytearray)):
        return None
    try:
        return _read_geom(memoryview(b), 0)[0]
    except (struct.error, ValueError, IndexError):
        return None


def _read_geom(mv: memoryview, off: int) -> tuple[Geometry, int]:
    little = mv[off] == 1
    fmt = "<" if little else ">"
    (kind,) = struct.unpack_from(fmt + "I", mv, off + 1)
    off += 5
    kind &= 0xFF  # strip Z/M/SRID flags
    if kind == WKB_POINT:
        x, y = struct.unpack_from(fmt + "dd", mv, off)
        return Geometry(WKB_POINT, np.asarray([x, y])), off + 16
    if kind == WKB_LINESTRING:
        (n,) = struct.unpack_from(fmt + "I", mv, off)
        off += 4
        c = np.frombuffer(mv, dtype=fmt + "f8", count=n * 2, offset=off).reshape(n, 2)
        return Geometry(WKB_LINESTRING, c.copy()), off + n * 16
    if kind == WKB_POLYGON:
        (nr,) = struct.unpack_from(fmt + "I", mv, off)
        off += 4
        rings = []
        for _ in range(nr):
            (n,) = struct.unpack_from(fmt + "I", mv, off)
            off += 4
            rings.append(
                np.frombuffer(mv, dtype=fmt + "f8", count=n * 2, offset=off).reshape(n, 2).copy()
            )
            off += n * 16
        return Geometry(WKB_POLYGON, rings), off
    if kind in (WKB_MULTIPOINT, WKB_MULTILINESTRING, WKB_MULTIPOLYGON, WKB_COLLECTION):
        (n,) = struct.unpack_from(fmt + "I", mv, off)
        off += 4
        parts = []
        for _ in range(n):
            g, off = _read_geom(mv, off)
            parts.append(g)
        if kind == WKB_MULTIPOINT:
            return Geometry(WKB_MULTIPOINT, np.asarray([p.coords for p in parts])), off
        if kind == WKB_MULTILINESTRING:
            return Geometry(WKB_MULTILINESTRING, [p.coords for p in parts]), off
        if kind == WKB_MULTIPOLYGON:
            return Geometry(WKB_MULTIPOLYGON, [p.coords for p in parts]), off
        return Geometry(WKB_COLLECTION, parts), off
    raise ValueError(f"unsupported WKB type {kind}")


# ---------------------------------------------------------------------------
# antimeridian handling (st_antimeridianSafeGeom analogue)
# ---------------------------------------------------------------------------

def _clip_ring_180(ring: np.ndarray, east: bool) -> np.ndarray | None:
    """The part of the closed ``ring`` (longitudes in [0, 360)) on one side
    of lon 180: x <= 180 when ``east``, else x >= 180, each edge that
    crosses it cut at its intersection (Sutherland-Hodgman against one
    half-plane).  None when that part has no width."""
    inside = ring[:, 0] <= 180.0 if east else ring[:, 0] >= 180.0
    out = []
    for i in range(len(ring) - 1):
        (x0, y0), (x1, y1) = ring[i], ring[i + 1]
        if inside[i]:
            out.append((x0, y0))
        if inside[i] != inside[i + 1] and x0 != x1:
            t = (180.0 - x0) / (x1 - x0)
            out.append((180.0, y0 + t * (y1 - y0)))
    if len(out) < 3:
        return None
    c = np.asarray(out + out[:1], dtype=np.float64)
    return c if np.ptp(c[:, 0]) > 1e-9 else None


def antimeridian_split(g: Geometry) -> list[Geometry]:
    """Split a polygon whose ring walks across ±180° into east/west parts.

    A polygon crosses when two consecutive vertices of its outer ring lie
    more than 180° apart in longitude: an edge wider than 180° is read as
    going the short way round, across ±180°, by every caller (the XZ2
    keys, ``PolygonSet``, the ``st_*`` relations, st_antimeridianSafeGeom).  Every ring, holes included, is
    shifted to [0, 360) and clipped at 180 by edge intersection; the part
    west of ±180° is shifted back by -360.  A hole that straddles the
    seam is cut into both parts.  A polygon this cannot split exactly is
    returned unchanged: a ring that crosses 180 more than twice (its
    part on one side would be several pieces), or one that still jumps
    more than 180° after the shift.
    """
    if g.kind != WKB_POLYGON:
        return [g]
    rings = [np.asarray(r, dtype=np.float64) for r in g.coords]
    if not (np.abs(np.diff(rings[0][:, 0])) > 180.0).any():
        return [g]
    shifted = []
    for r in rings:
        r = r.copy()
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        r[r[:, 0] < 0.0, 0] += 360.0  # now in [0, 360)
        east_side = r[:, 0] > 180.0
        if (np.abs(np.diff(r[:, 0])) > 180.0).any() or np.count_nonzero(
            east_side[1:] != east_side[:-1]
        ) > 2:
            return [g]
        shifted.append(r)
    out = []
    for east in (True, False):
        outer = _clip_ring_180(shifted[0], east)
        if outer is None:
            continue
        part = [outer] + [
            h for h in (_clip_ring_180(r, east) for r in shifted[1:]) if h is not None
        ]
        if not east:
            for r in part:
                r[:, 0] -= 360.0
        out.append(Geometry(WKB_POLYGON, part))
    return out if out else [g]
