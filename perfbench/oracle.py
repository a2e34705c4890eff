"""Expected results, computed outside Spark from the generated inputs.

Every operation's output is reduced to a digest: its row count and two
order-insensitive sums of a per-row hash of integer key columns.  The
Spark side computes the same digest in one aggregate over the operator's
output (:func:`spark_digest`); the oracle computes it with numpy from
the in-memory inputs, once per seed, outside the clock.

Geometry truth uses the engine's numpy reference kernels
(``geo.wkt`` parsing, ``geo.kernels`` point-in-polygon and haversine) by
brute force — no cells, covers or partitions — so the check covers every
index, cover, join and refine step between the input and the output.
"""

from __future__ import annotations

import itertools
import re

import numpy as np
import pyarrow as pa

from geomesa_spark.geo import kernels, wkt

#: digest modulus (a prime below 2**31) and the two key-weight vectors
MOD = 2_147_483_647
W1 = (1_000_003, 7_919, 104_729, 15_485_863)
W2 = (2_750_159, 611_953, 4_256_249, 32_452_843)

#: the engine's span text grammar for a point (``POINT(lon lat)``)
_POINT_RE = re.compile(r"^\s*[Pp][Oo][Ii][Nn][Tt]\s*\(\s*([-+0-9.eE]+)\s+([-+0-9.eE]+)\s*\)\s*$")


def digest(*keys: np.ndarray) -> tuple[int, int, int]:
    """(rows, h1, h2) of rows given as parallel int64 key arrays."""
    n = len(keys[0])
    if n == 0:
        return (0, 0, 0)
    h = []
    for w in (W1, W2):
        acc = np.zeros(n, dtype=np.int64)
        for k, wi in zip(keys, w):
            acc += np.asarray(k, dtype=np.int64) * wi
        h.append(int(np.mod(acc, MOD).sum()))
    return (n, h[0], h[1])


def spark_digest(df, keys):
    """One-row aggregate (rows, h1, h2) over ``df``; ``keys`` are bigint
    Column expressions in the order :func:`digest` takes them."""
    import pyspark.sql.functions as F

    def h(w):
        acc = None
        for k, wi in zip(keys, w):
            term = k.cast("long") * F.lit(wi)
            acc = term if acc is None else acc + term
        return F.coalesce(F.sum(F.pmod(acc, F.lit(MOD))), F.lit(0))

    return df.agg(F.count(F.lit(1)).alias("n"), h(W1).alias("h1"), h(W2).alias("h2"))


# ---------------------------------------------------------------------------
# shared geometry helpers
# ---------------------------------------------------------------------------

def doc_points(docs: pa.Table) -> dict[str, np.ndarray]:
    """Every geo span of the corpus with its doc number and position among
    its doc's geo spans, and the coordinates the span text parses to
    (``valid`` marks spans that parse to an in-range point)."""
    spans = docs.column("spans").combine_chunks()
    offsets = spans.offsets.to_numpy()
    flat = spans.flatten()
    kind = flat.field("kind").to_numpy(zero_copy_only=False)
    text = flat.field("text").to_pylist()
    doc_n = np.char.replace(
        docs.column("doc_id").to_numpy(zero_copy_only=False).astype(str), "doc-", ""
    ).astype(np.int64)
    doc_of = np.repeat(doc_n, np.diff(offsets))
    geo = np.nonzero(kind == "geo")[0]
    gdoc = doc_of[geo]
    geo_pos = np.arange(len(geo)) - np.searchsorted(gdoc, gdoc)
    lon = np.full(len(geo), np.nan)
    lat = np.full(len(geo), np.nan)
    for j, i in enumerate(geo):
        m = _POINT_RE.match(text[i] or "")
        if m:
            try:
                lon[j], lat[j] = float(m.group(1)), float(m.group(2))
            except ValueError:
                pass
    valid = (
        ~np.isnan(lon) & ~np.isnan(lat)
        & (lon >= -180.0) & (lon <= 180.0) & (lat >= -90.0) & (lat <= 90.0)
    )
    return dict(doc=gdoc[valid], pos=geo_pos[valid], lon=lon[valid], lat=lat[valid])


def polygon_parts(text: str) -> list[list[np.ndarray]]:
    g = wkt.parse_wkt(text)
    polys = (
        [wkt.Geometry(wkt.WKB_POLYGON, p) for p in g.coords]
        if g.kind == wkt.WKB_MULTIPOLYGON else [g]
    )
    return [part.rings() for poly in polys for part in wkt.antimeridian_split(poly)]


def in_polygon(lon, lat, parts, predicate: str) -> np.ndarray:
    hit = np.zeros(len(lon), dtype=bool)
    for rings in parts:
        cls = kernels.point_in_polygon(lon, lat, rings)
        hit |= (cls == kernels.PIP_IN) if predicate == "contains" else (cls != kernels.PIP_OUT)
    return hit


def pairs_within(l_lon, l_lat, r_lon, r_lat, dist_m: float) -> tuple[np.ndarray, np.ndarray]:
    """Index pairs (i, j) with haversine(l[i], r[j]) <= dist_m.  Candidates
    are the pairs in neighbouring 3-D cubes whose side is the chord of
    ``dist_m`` (every pair within range is such a pair); the exact test is
    the engine's haversine kernel."""
    R = kernels.EARTH_RADIUS_M
    side = 2.0 * R * np.sin(dist_m / (2.0 * R)) * 1.01 + 1.0

    def cube_key(lon, lat, d=(0, 0, 0)):
        lo, la = np.radians(lon), np.radians(lat)
        xyz = (R * np.cos(la) * np.cos(lo), R * np.cos(la) * np.sin(lo), R * np.sin(la))
        key = np.zeros(len(lon), dtype=np.int64)
        for c, dc in zip(xyz, d):
            key = (key << 21) | (np.floor(c / side).astype(np.int64) + dc + (1 << 20))
        return key

    order = np.argsort(cube_key(r_lon, r_lat), kind="stable")
    r_keys = cube_key(r_lon, r_lat)[order]
    out_i, out_j = [], []
    for d in itertools.product((-1, 0, 1), repeat=3):
        k = cube_key(l_lon, l_lat, d)
        lo, hi = np.searchsorted(r_keys, k, "left"), np.searchsorted(r_keys, k, "right")
        cnt = hi - lo
        i = np.repeat(np.arange(len(k)), cnt)
        j = order[np.repeat(lo, cnt) + np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt)]
        keep = kernels.haversine_m(l_lon[i], l_lat[i], r_lon[j], r_lat[j]) <= dist_m
        out_i.append(i[keep])
        out_j.append(j[keep])
    return np.concatenate(out_i), np.concatenate(out_j)


def _col(tbl: pa.Table, name: str) -> np.ndarray:
    return tbl.column(name).to_numpy()


def _ts_s(tbl: pa.Table) -> np.ndarray:
    return tbl.column("ts").to_numpy().astype("datetime64[s]").astype(np.int64)


# ---------------------------------------------------------------------------
# per-operation expected digests
# ---------------------------------------------------------------------------

def docs_join(pts: dict, polygons: list[dict], predicate: str) -> tuple[int, int, int]:
    """(doc, polygon, first matching geo span) for every doc with a geo span
    in the polygon."""
    d, p, g = [], [], []
    for poly in polygons:
        hit = in_polygon(pts["lon"], pts["lat"], polygon_parts(poly["wkt"]), predicate)
        docs_hit, first = np.unique(pts["doc"][hit], return_index=True)
        d.append(docs_hit)
        g.append(pts["pos"][hit][first])
        p.append(np.full(len(docs_hit), int(poly["polygon_id"][1:])))
    return digest(np.concatenate(d), np.concatenate(p), np.concatenate(g))


def tile_pyramid(pts: dict, zooms: list[int]) -> tuple[int, int, int]:
    """(zoom, tile_x, tile_y, count) over every extracted geo point."""
    keys = [[], [], [], []]
    for z in zooms:
        n = 1 << z
        tx = np.clip(np.floor((pts["lon"] + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
        ty = np.clip(np.floor((pts["lat"] + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
        tiles, counts = np.unique(tx * n + ty, return_counts=True)
        keys[0].append(np.full(len(tiles), z))
        keys[1].append(tiles // n)
        keys[2].append(tiles % n)
        keys[3].append(counts)
    return digest(*[np.concatenate(k) for k in keys])


def dwithin(pts: dict, centers: list[dict], dist_m: float) -> tuple[int, int, int]:
    """(doc, geo span, center) for every point within ``dist_m`` of a center."""
    d, g, c = [], [], []
    for ctr in centers:
        hit = kernels.haversine_m(pts["lon"], pts["lat"], ctr["lon"], ctr["lat"]) <= dist_m
        d.append(pts["doc"][hit])
        g.append(pts["pos"][hit])
        c.append(np.full(int(hit.sum()), int(ctr["center_id"][1:])))
    return digest(np.concatenate(d), np.concatenate(g), np.concatenate(c))


def grid_join(pts: dict, ev: pa.Table, dist_m: float) -> tuple[int, int, int]:
    """(doc, geo span, event) for every point–event pair within ``dist_m``."""
    i, j = pairs_within(pts["lon"], pts["lat"], _col(ev, "lon"), _col(ev, "lat"), dist_m)
    return digest(pts["doc"][i], pts["pos"][i], _col(ev, "eid")[j])


def box_join(boxes: pa.Table, pts: dict) -> tuple[int, int, int]:
    """(box, doc, geo span) for every point in a box, edges included."""
    order = np.argsort(pts["lon"], kind="stable")
    lon, lat = pts["lon"][order], pts["lat"][order]
    doc, pos = pts["doc"][order], pts["pos"][order]
    b, d, g = [], [], []
    for bid, x0, y0, x1, y1 in zip(*(_col(boxes, c) for c in ("box_id", "x0", "y0", "x1", "y1"))):
        lo, hi = np.searchsorted(lon, x0, "left"), np.searchsorted(lon, x1, "right")
        sel = np.arange(lo, hi)[(lat[lo:hi] >= y0) & (lat[lo:hi] <= y1)]
        b.append(np.full(len(sel), bid))
        d.append(doc[sel])
        g.append(pos[sel])
    return digest(np.concatenate(b), np.concatenate(d), np.concatenate(g))


def spacetime_join(ev: pa.Table, dist_m: float, max_dt_s: int) -> tuple[int, int, int]:
    """(a, b) event pairs, a = eid % 17 == 1 and b = eid % 13 == 2, within
    ``dist_m`` and ``max_dt_s`` of each other."""
    eid, lon, lat, ts = _col(ev, "eid"), _col(ev, "lon"), _col(ev, "lat"), _ts_s(ev)
    a, b = np.nonzero(eid % 17 == 1)[0], np.nonzero(eid % 13 == 2)[0]
    i, j = pairs_within(lon[a], lat[a], lon[b], lat[b], dist_m)
    keep = np.abs(ts[a][i] - ts[b][j]) <= max_dt_s
    return digest(eid[a][i][keep], eid[b][j][keep])


def scan_query(ev: pa.Table, q: dict) -> tuple[int, int, int]:
    """Events inside the query polygon (edges included) with
    t0 <= ts < t1."""
    ts = _ts_s(ev)
    t0 = np.datetime64(q["t0"].replace(" ", "T"), "s").astype(np.int64)
    t1 = np.datetime64(q["t1"].replace(" ", "T"), "s").astype(np.int64)
    m = np.nonzero((ts >= t0) & (ts < t1))[0]
    hit = in_polygon(_col(ev, "lon")[m], _col(ev, "lat")[m], polygon_parts(q["wkt"]), "intersects")
    return digest(_col(ev, "eid")[m][hit])


def knn(ev: pa.Table, queries: list[dict]) -> tuple[int, int, int]:
    """(query, rank, event) of each query's k nearest events, ties by id."""
    eid, lon, lat = _col(ev, "eid"), _col(ev, "lon"), _col(ev, "lat")
    q, r, e = [], [], []
    for qq in queries:
        dist = kernels.haversine_m(lon, lat, qq["lon"], qq["lat"])
        top = np.lexsort((eid, dist))[: qq["k"]]
        q.append(np.full(len(top), int(qq["query_id"][1:])))
        r.append(np.arange(1, len(top) + 1))
        e.append(eid[top])
    return digest(np.concatenate(q), np.concatenate(r), np.concatenate(e))


def ingest(ev: pa.Table) -> tuple[int, int, int]:
    """Every event, once."""
    return digest(_col(ev, "eid"))
