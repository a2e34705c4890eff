"""XZ2-style indexing of NON-POINT geometries (polygons / lines).

GeoMesa keys extended (non-point) objects with the XZ2 curve: each
geometry gets ONE key at the finest quadtree level whose "enlarged cell"
(a cell doubled in each dimension) contains the geometry's bbox, and a
query enumerates ranges at every level (public tree:
``geomesa-z3/.../curve/XZ2SFC.scala``,
``geomesa-index-api/.../index/z2/XZ2Index*`` — mount empty at survey
time, SURVEY.md §0).

Spark-first restatement — the multi-level curve becomes a composite
equi-join key:

- a geometry keys at its **natural level** ``ℓ`` — the finest level with
  cell width ≥ bbox width and cell height ≥ bbox height, so the bbox
  spans at most 2×2 cells — and emits the ≤4 distinct cells its bbox
  corners fall in (≤8 after antimeridian split, all coerced to one
  common level).  The union of those cells covers the bbox, hence the
  geometry; this is the "enlarged cell" made join-friendly.
- a point probes with its single ancestor cell at each level PRESENT in
  the geometry table (collected driver-side — tiny distinct over int);
  for a table of similar-sized features that is 1–2 levels, not
  ``max_res`` levels.
- the join on ``(xz_level, xz_cell)`` is *complete* (covers contain
  their geometries) and **pair-unique by construction**: one level per
  geometry, distinct cells at that level, one point-ancestor per level —
  so no dedupe shuffle exists, unlike a naive explode-to-cover join.

Scale notes (100 TB): geometry encoding is a one-pass Arrow-batched UDF
(WKT parse is inherently per row — it is the ingest cost, paid once if
you :func:`write_partitioned_geoms`); the point side's per-level
ancestors are pure codegen'd JVM (shift of the max-res cell); the join
shuffles on a composite int key with AQE skew splitting; the exact
refine parses each DISTINCT geometry once per worker and runs the
``st_*`` vectorized point path over that geometry's whole candidate group.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .. import cells
from ..geo import kernels, relate, wkt
from . import spatial_join as cell_mod

#: default finest level for geometry keys.  12 → cells ~0.09° (~10 km);
#: features smaller than a cell at 12 key there, larger features key at
#: coarser levels automatically.
DEFAULT_MAX_RES = 12

KEYS_TYPE = "array<struct<xz_level:int,xz_cell:long>>"


def bbox_level(w: np.ndarray, h: np.ndarray, max_res: int) -> np.ndarray:
    """Natural level per bbox: finest ℓ ≤ max_res with cell_w(ℓ) ≥ w and
    cell_h(ℓ) ≥ h (so the bbox spans ≤ 2 cells per dimension).  Degenerate
    (point-like) bboxes key at max_res.  Vectorized; XZ2SFC#sequenceCode's
    level loop collapsed to a log2."""
    w = np.asarray(w, dtype=np.float64)
    h = np.asarray(h, dtype=np.float64)
    with np.errstate(divide="ignore"):
        lw = np.floor(np.log2(np.where(w > 0, 360.0 / np.maximum(w, 1e-300), np.inf)))
        lh = np.floor(np.log2(np.where(h > 0, 180.0 / np.maximum(h, 1e-300), np.inf)))
    lvl = np.minimum(np.minimum(lw, lh), float(max_res))
    return np.clip(lvl, 0, max_res).astype(np.int64)


def _bbox_corner_cells(
    lon0: float, lat0: float, lon1: float, lat1: float, level: int
) -> np.ndarray:
    """Distinct cells at ``level`` containing the bbox corners (1, 2 or 4).
    Requires bbox to span ≤ 2 cells per dimension at ``level``."""
    lons = np.asarray([lon0, lon1, lon0, lon1])
    lats = np.asarray([lat0, lat0, lat1, lat1])
    return np.unique(cells.encode(lons, lats, level))


def _flatten_parts(g: wkt.Geometry) -> list[wkt.Geometry]:
    """Geometry → flat list of simple parts (point/line/polygon), recursing
    into MULTI* and GEOMETRYCOLLECTION members (a collection row was
    silently dropped from the index before — ADVICE round 2, low)."""
    if g.kind == wkt.WKB_MULTIPOLYGON:
        return [wkt.Geometry(wkt.WKB_POLYGON, p) for p in g.coords]
    if g.kind == wkt.WKB_MULTILINESTRING:
        return [wkt.Geometry(wkt.WKB_LINESTRING, c) for c in g.coords]
    if g.kind == wkt.WKB_COLLECTION:
        out: list[wkt.Geometry] = []
        for member in g.coords:
            out.extend(_flatten_parts(member))
        return out
    return [g]


def geometry_keys(geom_wkt: str | None, max_res: int) -> list[tuple[int, int]]:
    """Driver/executor-shared key computation for ONE geometry: parse,
    antimeridian-split, common natural level over parts, distinct corner
    cells.  Unparseable / empty → [] (row is skipped, never a crash)."""
    return _keys_and_bbox(geom_wkt, max_res)[0]


#: bbox padding in degrees, applied before keying: the reach of the
#: refine's on-segment band past a geometry's bbox (``kernels.BAND_PAD``),
#: so a point in the band of an edge on a cell seam still probes a key
#: cell; padding only LOOSENS the keys and the prefilter, so completeness
#: never depends on it being tight
_BBOX_EPS = kernels.BAND_PAD


def _keys_and_bbox(
    geom_wkt: str | None, max_res: int
) -> tuple[list[tuple[int, int]], tuple[float, float, float, float] | None]:
    """(keys, overall padded bbox) in ONE parse.  The bbox feeds the
    codegen loose-bbox prefilter (GeoMesa's loose-then-exact filter
    split): candidates outside it never cross the Arrow boundary into the
    exact refine.  Antimeridian-split parts union into one box — loose for
    wrap-around geometries but always sound."""
    g = wkt.parse_wkt(geom_wkt)
    if g is None:
        return [], None
    parts = []
    for poly in _flatten_parts(g):
        parts.extend(wkt.antimeridian_split(poly) if poly.kind == wkt.WKB_POLYGON else [poly])
    boxes = []
    for p in parts:
        if p.kind == wkt.WKB_POLYGON:
            boxes.append(kernels.bbox_of_rings(p.rings()))
        elif p.kind == wkt.WKB_POINT:
            x, y = float(p.coords[0]), float(p.coords[1])
            boxes.append((x, y, x, y))
        elif p.kind in (wkt.WKB_LINESTRING, wkt.WKB_MULTIPOINT):
            xy = np.asarray(p.coords, dtype=np.float64)
            boxes.append((xy[:, 0].min(), xy[:, 1].min(), xy[:, 0].max(), xy[:, 1].max()))
        else:
            return [], None
    boxes = [(b[0] - _BBOX_EPS, b[1] - _BBOX_EPS, b[2] + _BBOX_EPS, b[3] + _BBOX_EPS)
             for b in boxes if all(map(math.isfinite, b))]
    if not boxes:
        return [], None
    ws = np.asarray([b[2] - b[0] for b in boxes])
    hs = np.asarray([b[3] - b[1] for b in boxes])
    level = int(bbox_level(ws, hs, max_res).min())
    cs: set[int] = set()
    for b in boxes:
        cs.update(int(c) for c in _bbox_corner_cells(b[0], b[1], b[2], b[3], level))
    bbox = (
        float(min(b[0] for b in boxes)),
        float(min(b[1] for b in boxes)),
        float(max(b[2] for b in boxes)),
        float(max(b[3] for b in boxes)),
    )
    return [(level, c) for c in sorted(cs)], bbox


#: key struct extended with the geometry's loose bbox (padded by
#: _BBOX_EPS) so joins can prefilter candidates in whole-stage codegen
#: before anything crosses the Arrow boundary
KEYS_BBOX_TYPE = (
    "array<struct<xz_level:int,xz_cell:long,"
    "xz_minx:double,xz_miny:double,xz_maxx:double,xz_maxy:double>>"
)


def geometry_keys_udf(max_res: int = DEFAULT_MAX_RES, with_bbox: bool = False):
    """Arrow-batched (wkt) → array<struct<xz_level, xz_cell[, bbox]>>."""

    @F.pandas_udf(KEYS_BBOX_TYPE if with_bbox else KEYS_TYPE)
    def keys(wkt_s: pd.Series) -> pd.Series:
        out = []
        # parse each DISTINCT wkt once per batch (covers skewed tables
        # where one geometry repeats)
        codes, uniques = pd.factorize(wkt_s, use_na_sentinel=True)
        per_unique = [_keys_and_bbox(u, max_res) for u in uniques]
        for c in codes:
            ks, bb = per_unique[c] if c >= 0 else ([], None)
            if with_bbox:
                out.append(
                    [
                        {
                            "xz_level": lv, "xz_cell": cc,
                            "xz_minx": bb[0], "xz_miny": bb[1],
                            "xz_maxx": bb[2], "xz_maxy": bb[3],
                        }
                        for lv, cc in ks
                    ]
                )
            else:
                out.append([{"xz_level": lv, "xz_cell": cc} for lv, cc in ks])
        return pd.Series(out)

    return keys


def encode_geometries(
    geoms: DataFrame, wkt_col: str = "wkt", max_res: int = DEFAULT_MAX_RES,
    with_bbox: bool = False,
) -> DataFrame:
    """Geometry table → one row per (geometry, key): adds ``xz_level`` and
    ``xz_cell`` (plus ``xz_minx..xz_maxy`` loose-bbox columns when
    ``with_bbox`` — the joins' codegen prefilter).  ≤4 rows per geometry
    (≤8 if antimeridian-split).  Rows with unparseable geometry drop out
    (inner explode of [])."""
    # explode the UDF call itself: exploding a projected key column makes
    # Catalyst infer size(keys) > 0 below the explode and push it through
    # the projection, which runs the keys UDF a second time
    keys = geometry_keys_udf(max_res, with_bbox)(F.col(wkt_col))
    d = (
        geoms.select("*", F.explode(keys).alias("_xz"))
        .withColumn("xz_level", F.col("_xz.xz_level"))
        .withColumn("xz_cell", F.col("_xz.xz_cell"))
    )
    if with_bbox:
        for c in ("xz_minx", "xz_miny", "xz_maxx", "xz_maxy"):
            d = d.withColumn(c, F.col(f"_xz.{c}"))
    return d.drop("_xz")


def point_level_keys(
    points: DataFrame, levels: list[int], max_res: int = DEFAULT_MAX_RES,
    lon: str = "lon", lat: str = "lat",
) -> DataFrame:
    """Point probe side: one (xz_level, xz_cell) row per point per level in
    ``levels`` — the point's ancestor cell at that level.  Pure JVM: the
    max-res cell is codegen'd (:func:`add_cell_column`) and each ancestor
    is a shift; no Python, no shuffle."""
    levels = sorted(set(int(l) for l in levels))
    if not levels:
        # empty geometry table: emit nothing (join would be empty anyway)
        return points.withColumn("xz_level", F.lit(0)).withColumn(
            "xz_cell", F.lit(0).cast("long")
        ).limit(0)
    p = cell_mod.add_cell_column(points, max_res, lon=lon, lat=lat, out="_cell_max")
    arr = F.array(
        *[
            F.struct(
                F.lit(l).cast("int").alias("xz_level"),
                F.shiftrightunsigned(F.col("_cell_max"), 2 * (max_res - l))
                .cast("long")
                .alias("xz_cell"),
            )
            for l in levels
        ]
    )
    return (
        p.select("*", F.explode(arr).alias("_xz"))
        .withColumn("xz_level", F.col("_xz.xz_level"))
        .withColumn("xz_cell", F.col("_xz.xz_cell"))
        .drop("_xz", "_cell_max")
    )


def pip_refine_udf(predicate: str = "intersects"):
    """Exact refine for arbitrary (non-broadcastable) geometry columns:
    (wkt, lon, lat) → bool, the ``st_*`` point path
    (:func:`geomesa_spark.geo.relate.point_predicate`) of ``predicate``
    (``intersects``, ``contains`` or ``covers``) between the geometry and
    the point.  Each DISTINCT geometry in the Arrow batch runs once over
    its whole candidate group (:func:`relate.grouped_point_predicate`).
    A relation that a mixed-dimension GEOMETRYCOLLECTION cannot answer
    (NULL in ``st_*``) reads as False."""
    pred = predicate
    # per-WORKER cache of the parsed, unwrapped geometry: the closure
    # survives across Arrow batches (and reused worker processes), so each
    # distinct WKT parses and splits once per worker instead of once per
    # batch — at 14M candidates in ~10k-row batches the per-batch reparse
    # was a double-digit share of the whole join (round-4 scaling sweep).
    # Bounded: cleared past 200k entries.
    parsed: dict[str, object] = {}

    @F.pandas_udf("boolean")
    def refine(wkt_s: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
        lons = lon.to_numpy(dtype=np.float64, na_value=np.nan)
        lats = lat.to_numpy(dtype=np.float64, na_value=np.nan)
        codes, uniques = pd.factorize(wkt_s, use_na_sentinel=True)
        if len(parsed) > 200_000:
            parsed.clear()
        for w in uniques:
            if w not in parsed:
                g = wkt.parse_wkt(w)
                parsed[w] = None if g is None else relate.unwrap(g)
        out = np.zeros(len(lons), dtype=bool)
        geoms = [parsed[w] for w in uniques]
        return pd.Series(relate.grouped_point_predicate(pred, geoms, codes, lons, lats, out))

    return refine


def xz2_join_points(
    geoms: DataFrame,
    points: DataFrame,
    predicate: str = "intersects",
    max_res: int = DEFAULT_MAX_RES,
    wkt_col: str = "wkt",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """LARGE geometry table ⋈ LARGE point table — the join GeoMesa answers
    with an XZ2 index scan per partition envelope (GeoMesaJoinRelation).

    Plan: geoms → Arrow keys UDF → (persisted) keyed rows; points → JVM
    ancestor keys at the geometry table's PRESENT levels only; shuffle
    equi-join on (xz_level, xz_cell); Arrow PIP refine grouped by
    distinct geometry.  No dedupe: key sets partition space per geometry
    (one level, distinct cells) and each point has one ancestor per level.

    Output: all columns of both inputs (minus the key columns).
    """
    reserved = {"xz_level", "xz_cell", "xz_minx", "xz_miny", "xz_maxx", "xz_maxy"}
    clash = ((set(geoms.columns) & set(points.columns)) - {wkt_col}) | (
        reserved & (set(geoms.columns) | set(points.columns))
    )
    if clash:
        raise ValueError(
            f"column name collision between geoms and points: {sorted(clash)} "
            "— rename/alias before joining"
        )
    # persisted via the bounded registry: the level collect and the join
    # both consume the Arrow-encoded keys; the NEXT xz2_join_points call
    # frees this cache (no unbounded leak across repeated calls)
    from ..cache import swap_cache

    g = swap_cache(
        "xz2_join_points.geoms",
        encode_geometries(geoms, wkt_col, max_res, with_bbox=True),
    )
    levels = [r[0] for r in g.select("xz_level").distinct().collect()]
    p = point_level_keys(points, levels, max_res, lon, lat)
    joined = p.join(g, ["xz_level", "xz_cell"], "inner")
    # loose-bbox prefilter in whole-stage codegen (round-4): a point can
    # only satisfy intersects/contains/covers if it lies in the geometry's
    # (eps-padded) bbox — same-cell non-overlapping candidates die here
    # instead of crossing the Arrow boundary into the exact refine
    joined = joined.filter(
        (F.col(lon) >= F.col("xz_minx")) & (F.col(lon) <= F.col("xz_maxx"))
        & (F.col(lat) >= F.col("xz_miny")) & (F.col(lat) <= F.col("xz_maxy"))
    )
    refined = joined.filter(
        pip_refine_udf(predicate)(F.col(wkt_col), F.col(lon), F.col(lat))
    )
    return refined.drop(
        "xz_level", "xz_cell", "xz_minx", "xz_miny", "xz_maxx", "xz_maxy"
    )


def geom_refine_udf(predicate: str = "intersects"):
    """Exact geometry×geometry refine for candidate pairs: (wkt_a, wkt_b)
    → ``relate.predicate(predicate, a, b)``, with per-batch parse caching
    on both sides (candidates cluster by geometry, so each parses once
    per batch).  An antimeridian-crossing polygon is read on its split
    parts there, as the XZ2 keys and :func:`pip_refine_udf` read it."""
    pred = predicate
    # per-worker parse cache across batches (see pip_refine_udf)
    parsed: dict[str, object] = {}

    def _parse(w):
        if w not in parsed:
            parsed[w] = wkt.parse_wkt(w)
        return parsed[w]

    @F.pandas_udf("boolean")
    def refine(wa: pd.Series, wb: pd.Series) -> pd.Series:
        if len(parsed) > 200_000:
            parsed.clear()
        ca, ua = pd.factorize(wa, use_na_sentinel=True)
        cb, ub = pd.factorize(wb, use_na_sentinel=True)
        pa = [_parse(w) for w in ua]
        pb = [_parse(w) for w in ub]
        return pd.Series(
            [
                ia >= 0 and ib >= 0 and pa[ia] is not None and pb[ib] is not None
                and relate.predicate(pred, pa[ia], pb[ib]) is True
                for ia, ib in zip(ca, cb)
            ],
            dtype=bool,
        )

    return refine


def xz2_join_geoms(
    geoms_a: DataFrame,
    geoms_b: DataFrame,
    predicate: str = "intersects",
    max_res: int = DEFAULT_MAX_RES,
    wkt_a: str = "wkt_a",
    wkt_b: str = "wkt_b",
    id_a: str = "gid_a",
    id_b: str = "gid_b",
) -> DataFrame:
    """LARGE × LARGE geometry join (polygon×polygon etc.) — the last join
    shape the round-1 verdict listed as unsupported.

    Key argument: if A∩B ≠ ∅, a shared point p lies in one of A's key
    cells at A's level AND one of B's key cells at B's level; the finer
    key cell's ancestor at the coarser level must therefore equal the
    coarser key cell.  So candidates = (A keys coarsened to each of B's
    levels ≤ level_a) ⋈ B keys, plus the strict mirror for
    level_b > level_a — two shuffle equi-joins on (level, cell).
    Coarsened cells can coincide, so pairs dedupe on (id_a, id_b) before
    the exact relate refine (candidates only).
    """
    from ..cache import swap_cache

    # same latent-API guard as xz2_join_points: the join's internal key /
    # bbox / ancestor columns must not collide with user columns, and the
    # two sides' payload columns must be disjoint (both survive the join)
    reserved = {
        "la", "ca", "lb", "cb", "lvl", "cell", "_anc", "_k",
        "amnx", "amny", "amxx", "amxy", "bmnx", "bmny", "bmxx", "bmxy",
        "xz_level", "xz_cell", "xz_minx", "xz_miny", "xz_maxx", "xz_maxy",
    }
    cols_a, cols_b = set(geoms_a.columns), set(geoms_b.columns)
    clash = (reserved & (cols_a | cols_b)) | (cols_a & cols_b)
    if clash:
        raise ValueError(
            f"column name collision in xz2_join_geoms: {sorted(clash)} "
            f"(rename: the sides' columns must be disjoint and avoid the "
            f"join's internal key/bbox names)"
        )

    a = swap_cache(
        "xz2_join_geoms.a",
        encode_geometries(geoms_a, wkt_a, max_res, with_bbox=True).withColumnsRenamed(
            {"xz_level": "la", "xz_cell": "ca",
             "xz_minx": "amnx", "xz_miny": "amny",
             "xz_maxx": "amxx", "xz_maxy": "amxy"}
        ),
    )
    b = swap_cache(
        "xz2_join_geoms.b",
        encode_geometries(geoms_b, wkt_b, max_res, with_bbox=True).withColumnsRenamed(
            {"xz_level": "lb", "xz_cell": "cb",
             "xz_minx": "bmnx", "xz_miny": "bmny",
             "xz_maxx": "bmxx", "xz_maxy": "bmxy"}
        ),
    )
    levels_b = sorted(r[0] for r in b.select("lb").distinct().collect())
    levels_a = sorted(r[0] for r in a.select("la").distinct().collect())

    def coarsen(df, lvl_col, cell_col, targets, strict):
        op = ">" if strict else ">="
        arr = ", ".join(
            f"IF({lvl_col} {op} {t}, named_struct('lvl', {t}, "
            f"'cell', CAST(shiftrightunsigned({cell_col}, 2*({lvl_col} - {t})) AS LONG)), NULL)"
            for t in targets
        )
        return (
            df.withColumn("_anc", F.expr(f"filter(array({arr}), x -> x IS NOT NULL)"))
            .select("*", F.explode("_anc").alias("_k"))
            .withColumn("lvl", F.col("_k.lvl"))
            .withColumn("cell", F.col("_k.cell"))
            .drop("_anc", "_k")
        )

    # direction 1: level_a >= level_b — coarsen A's keys to B's levels
    a1 = coarsen(a, "la", "ca", levels_b, strict=False).drop("la", "ca")
    b1 = b.withColumnRenamed("lb", "lvl").withColumnRenamed("cb", "cell")
    cand1 = a1.join(b1, ["lvl", "cell"], "inner")
    # direction 2: level_b > level_a — coarsen B's keys to A's levels
    b2 = coarsen(b, "lb", "cb", levels_a, strict=True).drop("lb", "cb")
    a2 = a.withColumnRenamed("la", "lvl").withColumnRenamed("ca", "cell")
    cand2 = b2.join(a2, ["lvl", "cell"], "inner")

    cols = [c for c in cand1.columns if c not in ("lvl", "cell")]
    cand = cand1.select(*cols).unionByName(cand2.select(*cols))
    # loose-bbox-overlap prefilter in codegen BEFORE the dedupe exchange
    # and the Arrow refine (round-4): any intersects/contains pair has
    # overlapping (eps-padded) bboxes, so same-cell non-overlapping
    # candidates never shuffle or cross into Python
    cand = cand.filter(
        (F.col("amnx") <= F.col("bmxx")) & (F.col("amxx") >= F.col("bmnx"))
        & (F.col("amny") <= F.col("bmxy")) & (F.col("amxy") >= F.col("bmny"))
    )
    cand = cand.dropDuplicates([id_a, id_b])
    return cand.filter(geom_refine_udf(predicate)(F.col(wkt_a), F.col(wkt_b))).drop(
        "amnx", "amny", "amxx", "amxy", "bmnx", "bmny", "bmxx", "bmxy"
    )


# ---------------------------------------------------------------------------
# partitioned layout for geometry tables (XZ2Index write path analogue)
# ---------------------------------------------------------------------------

def write_partitioned_geoms(
    geoms: DataFrame, path: str, max_res: int = DEFAULT_MAX_RES,
    mode: str = "overwrite", time_col: str | None = None,
) -> None:
    """Persist a geometry table (its geometry in the ``wkt`` column) in an
    XZ2-keyed hive layout: ``xz_level=L/xz_bucket=B`` directories, sorted
    by ``xz_cell`` within files.  ``xz_bucket`` is the key cell coarsened
    to ``planner.BUCKET_RES`` for finer levels (levels up to it use the
    cell itself — those layers hold the handful of continent-scale
    features).  A row is written once PER KEY (≤4×), the storage analogue
    of GeoMesa storing one XZ2 row per feature: reads prune by (level,
    bucket), and :func:`feature_view` gives one row per feature.

    With ``time_col`` the layout becomes the XZ3 analogue (GeoMesa
    ``curve/XZ3SFC.scala``: binned time ⊕ XZ2 for non-point + time):
    hive dirs are ``time_bin=W/xz_level=L/xz_bucket=B`` so "this region,
    last week" prunes the time dimension BEFORE the spatial one."""
    from ..plans.planner import BUCKET_RES, _forget_layout, time_bin_expr

    d = encode_geometries(geoms, "wkt", max_res)
    d = d.withColumn(
        "xz_bucket",
        F.when(F.col("xz_level") <= BUCKET_RES, F.col("xz_cell")).otherwise(
            F.expr(
                f"CAST(shiftrightunsigned(xz_cell, (xz_level - {BUCKET_RES}) * 2) AS LONG)"
            )
        ),
    )
    part_cols = ["xz_level", "xz_bucket"]
    if time_col is not None:
        d = d.withColumn("time_bin", time_bin_expr(time_col))
        part_cols = ["time_bin", "xz_level", "xz_bucket"]
    (
        d.repartition(*[F.col(c) for c in part_cols])
        .sortWithinPartitions("xz_cell")
        .write.mode(mode)
        .partitionBy(*part_cols)
        .parquet(path)
    )
    _forget_layout(path)


def xz_prune_condition(lon0: float, lat0: float, lon1: float, lat1: float) -> F.Column:
    """(xz_level, xz_bucket) partition-prune disjunction for a query bbox:
    one ``xz_level = L AND xz_bucket IN cover_L`` term per level L below
    ``BUCKET_RES``, and one ``xz_level >= BUCKET_RES AND xz_bucket IN
    cover_BUCKET_RES`` term shared by every finer level (their buckets are
    ancestors at BUCKET_RES).  All partition-column comparisons, so
    Catalyst directory-prunes before any row is read.  Complete: a stored
    geometry intersecting the query has ≥1 key cell intersecting the query
    bbox (key cells cover the stored geometry), and that key cell's
    ancestor at r lies in the bbox cover at r.  The SQL pushdown rule
    (``jvm/.../SpatialFilterRule.java``) injects the same terms beneath
    :func:`feature_view`."""
    from ..plans.planner import BUCKET_RES

    def cover(r: int) -> list[int]:
        cov, rr = cells.cover_bbox(lon0, lat0, lon1, lat1, r)
        cov = np.unique(cells.parent(cov, rr - r)) if rr > r else cov
        return sorted(int(b) for b in cov)

    level, bucket = F.col("xz_level"), F.col("xz_bucket")
    cond = (level >= BUCKET_RES) & bucket.isin(cover(BUCKET_RES))
    for lv in range(BUCKET_RES):
        cond = cond | ((level == lv) & bucket.isin(cover(lv)))
    return cond


def scan_partitioned_geoms(
    spark: SparkSession, path: str, query_wkt: str,
    time_range: tuple[str, str] | None = None,
) -> DataFrame:
    """Pruned candidate scan over an XZ2 layout: for each level, keep only
    buckets whose cells can intersect the query bbox (see
    :func:`xz_prune_condition`).  Candidates may repeat per key row:
    callers that need per-feature rows must dropDuplicates on their id
    after refine (keys of ONE query geometry can hit 2+ key rows of the
    same stored feature).

    ``time_range`` (against an XZ3 layout with ``time_bin=`` dirs) adds a
    time_bin BETWEEN term — the time dimension prunes too; the caller
    applies the exact fine-grained timestamp filter."""
    from ..plans.planner import _open_layout, extract_bounds, time_bin_bounds

    df = _open_layout(spark, path).filter(xz_prune_condition(*extract_bounds(query_wkt)))
    if time_range is not None and "time_bin" in df.columns:
        b0, b1 = time_bin_bounds(time_range)
        df = df.filter((F.col("time_bin") >= b0) & (F.col("time_bin") <= b1))
    return df


#: the XZ layouts' key and bin columns, none of which a feature row carries
_KEY_COLS = ("xz_level", "xz_cell", "xz_bucket", "time_bin")


def feature_view(spark: SparkSession, path: str, id_col: str = "geom_id") -> DataFrame:
    """The feature table of an XZ2/XZ3 layout: key and bin columns dropped,
    one row per ``id_col``.  The layout stores each feature once per key
    (≤4×); a feature's key rows are identical once the key columns are
    dropped, so the dedupe is value-stable.  Register it as a view and the
    SQL pushdown rule prunes the (level, bucket) and time dirs beneath the
    dedupe from literal predicates on ``st_geomFromWKT(wkt)`` and on the
    timestamp column."""
    from ..plans.planner import _open_layout

    df = _open_layout(spark, path)
    return df.drop(*[c for c in _KEY_COLS if c in df.columns]).dropDuplicates([id_col])


def query_geoms(
    spark: SparkSession, path: str, query_wkt: str, predicate: str = "intersects",
    id_col: str = "geom_id", wkt_col: str = "wkt",
    time_col: str | None = None, time_range: tuple[str, str] | None = None,
) -> DataFrame:
    """Region query over a stored geometry table: pruned scan → per-feature
    dedupe (a feature has ≤4 key rows) → exact geometry-geometry refine
    (Arrow-batched, per-row relate on the pruned candidate set only).

    With ``time_col`` + ``time_range`` over an XZ3 layout this is the
    spatio-temporal region query: the time_bin dir prunes coarse, then the
    exact half-open ``[t0, t1)`` timestamp filter applies row-level (same
    contract as :func:`plans.planner.query` for Z3)."""
    if time_range is not None and time_col is None:
        # scan_partitioned_geoms prunes time at BIN granularity only; the
        # exact [t0, t1) refine below needs the timestamp column.  Without
        # it the caller would silently get up to a full bin of extra rows
        # (round-3 ADVICE) — fail loudly instead.
        raise ValueError(
            "time_range requires time_col: the partition prune is "
            "bin-granular and the exact [t0, t1) refine reads time_col"
        )
    cand = scan_partitioned_geoms(spark, path, query_wkt, time_range=time_range)
    if time_col is not None and time_range is not None:
        cand = cand.filter(
            (F.col(time_col) >= F.lit(time_range[0]).cast("timestamp"))
            & (F.col(time_col) < F.lit(time_range[1]).cast("timestamp"))
        )
    # the refine reads only the feature's geometry, so dedupe first and
    # refine each feature once, not once per key row
    return (
        cand.drop(*_KEY_COLS)
        .dropDuplicates([id_col])
        .filter(geom_refine_udf(predicate)(F.lit(query_wkt), F.col(wkt_col)))
    )
