"""queries()/oracle_sql() registry — the driver's correctness gate.

Every implemented operator from SURVEY.md §2 gets (a) a Spark callable
``(spark, sf_dir) -> DataFrame`` exercising the ENGINE path (cell covers,
Arrow UDF kernels, …) and (b) a plain-SQL DuckDB twin over the driver's
pre-registered views.  DuckDB has no spatial extension offline
(SURVEY.md §0.4), so spatial truth uses axis-aligned fixture rectangles
(PIP = 4 comparisons), explicit haversine SQL, and floor-arithmetic tile
math; concave/holed/antimeridian polygons are covered by the numpy-oracle
pytest suite instead (tests/test_spatial_join.py) and their span-corpus
flagship runs here as a rows-only entry (no oracle — non-flat input).

Float discipline (hash-exact across engines): aggregates over doubles are
computed on integer cents/micros (exact, order-independent); derived
ratios use a single final division; geometry predicates compare doubles
produced by the identical IEEE expression on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .operators.spatial_join import HAVERSINE_M_SQL

# deterministic synthetic lon/lat derived from event_id — identical integer
# arithmetic on both engines (events has no coordinates of its own)
LON_EXPR = "((event_id * 9973) % 36000) / 100.0 - 180.0"
LAT_EXPR = "((event_id * 7919) % 17000) / 100.0 - 85.0"

#: axis-aligned fixture rectangles (subset of FIXTURES.md P1..P12 that a
#: plain-SQL oracle can evaluate exactly)
RECTS = [
    ("P1", 10.0, 10.0, 20.0, 20.0),
    ("P2", -60.0, -30.0, -40.0, -10.0),
    ("P3", 100.0, 40.0, 120.0, 60.0),
    ("P4", -10.0, -75.0, 30.0, -50.0),
    ("P10", -150.0, 10.0, -110.0, 50.0),
    ("P12", 20.0, -45.0, 30.0, -35.0),
]

DWITHIN_CENTERS = [
    ("C1", 15.0, 15.0),
    ("C2", -50.0, -20.0),
    ("C3", 100.5, 41.0),
]
DWITHIN_M = 200_000.0

KNN_CENTERS = [
    ("K1", 15.0, 15.0),
    ("K2", -50.0, -20.0),
    ("K3", 179.5, 0.0),
]
KNN_K = 5

ZOOMS = [5, 8, 11]

#: fixed track polyline for the tube-select corridor (lon, lat vertices,
#: ordered) and the route fixtures for route matching — both small-side
#: broadcast fixtures, mirrored verbatim into the DuckDB oracle
TUBE_TRACK = [(0.0, 0.0), (5.0, 2.0), (10.0, 5.0), (15.0, 10.0)]
TUBE_BUFFER_M = 150_000.0
ROUTES = [
    ("R1", [(-60.0, -25.0), (-50.0, -20.0), (-40.0, -15.0)]),
    ("R2", [(100.0, 40.0), (110.0, 45.0), (120.0, 50.0)]),
    ("R3", [(-140.0, 20.0), (-130.0, 30.0), (-120.0, 40.0)]),
]
ROUTE_MAX_DIST_M = 120_000.0


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _event_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the sf-dir events table is ONE parquet file with ONE row group, so
    # every pre-shuffle stage downstream would run as a single task; a
    # production table arrives as thousands of files, so reproduce that
    # shape with one tiny repartition (100k rows — ~0.2 s) and let the
    # heavy stages (cell encode, key explode, refine) use every core.
    # Partitioning never changes results: all queries are set-compared.
    return (
        _t(spark, sf_dir, "events")
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("lon", F.expr(LON_EXPR))
        .withColumn("lat", F.expr(LAT_EXPR))
    )


def _rect_rows() -> list[dict]:
    return [
        dict(
            polygon_id=pid,
            wkt=f"POLYGON(({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))",
        )
        for pid, x0, y0, x1, y1 in RECTS
    ]


def _rects_cte() -> str:
    vals = ", ".join(f"('{p}', {a}, {b}, {c}, {d})" for p, a, b, c, d in RECTS)
    return f"rects AS (SELECT * FROM (VALUES {vals}) AS t(polygon_id, lon0, lat0, lon1, lat1))"


def _pts_cte() -> str:
    return f"pts AS (SELECT event_id, {LON_EXPR} AS lon, {LAT_EXPR} AS lat FROM events)"


# the oracles embed the engine's own haversine text, so both engines
# evaluate the identical IEEE expression
_HAVERSINE = HAVERSINE_M_SQL


# ---------------------------------------------------------------------------
# spatial queries (engine path: cell cover + Arrow UDF refine)
# ---------------------------------------------------------------------------

def q_spatial_join_rect_intersects(spark, sf_dir):
    from .operators import spatial_join as sj

    pts = _event_points(spark, sf_dir)
    out = sj.spatial_join_broadcast(
        pts, _rect_rows(), predicate="intersects", id_col="event_id", unique_ids=True
    )
    return out.select("event_id", "polygon_id")


def q_spatial_join_rect_contains(spark, sf_dir):
    from .operators import spatial_join as sj

    pts = _event_points(spark, sf_dir)
    out = sj.spatial_join_broadcast(
        pts, _rect_rows(), predicate="contains", id_col="event_id", unique_ids=True
    )
    return out.select("event_id", "polygon_id")


def q_st_dwithin_centers(spark, sf_dir):
    from .operators import spatial_join as sj

    pts = _event_points(spark, sf_dir)
    centers = [dict(center_id=c, lon=lo, lat=la) for c, lo, la in DWITHIN_CENTERS]
    out = sj.dwithin_join_broadcast(
        pts, centers, DWITHIN_M, id_col="event_id", unique_ids=True
    )
    return out.select("event_id", "center_id")


def q_tile_pyramid_counts(spark, sf_dir):
    from .operators import tiling

    pts = _event_points(spark, sf_dir)
    return tiling.tile_pyramid(pts, ZOOMS).select("zoom", "tile_x", "tile_y", "n")


def q_density_grid(spark, sf_dir):
    from .operators import tiling

    pts = _event_points(spark, sf_dir).withColumn(
        "value_cents", F.expr("CAST(ROUND(value * 100) AS BIGINT)")
    )
    out = tiling.tile_pyramid(pts, [6], weight="value_cents")
    return out.select("tile_x", "tile_y", "n", F.col("weight_sum").alias("value_cents"))


def q_knn_centers(spark, sf_dir):
    from .operators import knn as knn_op

    pts = _event_points(spark, sf_dir).select("event_id", "lon", "lat")
    queries = [dict(query_id=q, lon=lo, lat=la, k=KNN_K) for q, lo, la in KNN_CENTERS]
    return knn_op.knn_df(pts, queries, res=6, id_col="event_id")


def q_xz2_poly_point_join(spark, sf_dir):
    """XZ2 path: LARGE polygon table (boxes derived from sampled events) ⋈
    LARGE point table (all event points) on st_intersects.  Box half-sizes
    end in .005 so no point of the 0.01° synthetic grid can land within
    the PIP boundary epsilon — interior/exterior calls are float-exact on
    both engines."""
    from .operators import xz2

    pts = _event_points(spark, sf_dir)
    geoms = (
        pts.filter(
            (F.col("event_id") % 37 == 0)
            & (F.col("lat") >= -80.0) & (F.col("lat") <= 80.0)
            & (F.col("lon") >= -170.0) & (F.col("lon") <= 170.0)
        )
        .select(
            F.col("event_id").alias("geom_event_id"),
            F.expr(
                "concat('POLYGON((',"
                " CAST(lon - 2.005 AS STRING), ' ', CAST(lat - 1.005 AS STRING), ', ',"
                " CAST(lon + 2.005 AS STRING), ' ', CAST(lat - 1.005 AS STRING), ', ',"
                " CAST(lon + 2.005 AS STRING), ' ', CAST(lat + 1.005 AS STRING), ', ',"
                " CAST(lon - 2.005 AS STRING), ' ', CAST(lat + 1.005 AS STRING), ', ',"
                " CAST(lon - 2.005 AS STRING), ' ', CAST(lat - 1.005 AS STRING), '))')"
            ).alias("wkt"),
        )
    )
    out = xz2.xz2_join_points(
        geoms, pts.select(F.col("event_id").alias("point_event_id"), "lon", "lat"),
        predicate="intersects",
    )
    return out.select("point_event_id", "geom_event_id")


def _event_boxes(spark, sf_dir, mod, rem, half_w, half_h, id_alias, wkt_alias):
    pts = _event_points(spark, sf_dir)
    return (
        pts.filter(
            (F.col("event_id") % mod == rem)
            & (F.col("lat") >= -80.0) & (F.col("lat") <= 80.0)
            & (F.col("lon") >= -170.0) & (F.col("lon") <= 170.0)
        )
        .select(
            F.col("event_id").alias(id_alias),
            F.expr(
                f"concat('POLYGON((',"
                f" CAST(lon - {half_w} AS STRING), ' ', CAST(lat - {half_h} AS STRING), ', ',"
                f" CAST(lon + {half_w} AS STRING), ' ', CAST(lat - {half_h} AS STRING), ', ',"
                f" CAST(lon + {half_w} AS STRING), ' ', CAST(lat + {half_h} AS STRING), ', ',"
                f" CAST(lon - {half_w} AS STRING), ' ', CAST(lat + {half_h} AS STRING), ', ',"
                f" CAST(lon - {half_w} AS STRING), ' ', CAST(lat - {half_h} AS STRING), '))')"
            ).alias(wkt_alias),
        )
    )


def q_zonal_stats(spark, sf_dir):
    """Zonal statistics — the reference's stats-grouped-by-region pattern
    (a StatsScan evaluated per polygon of a query layer; public anchor
    geomesa-index-api/.../iterators/StatsScan.scala + the process-level
    grouped DensityScan, mount empty at survey time): per-zone count /
    value sum / id extrema of the points the XZ2 PIP join assigns to each
    polygon.  100-TB shape: identical join plan to xz2_poly_point_join,
    then ONE additional narrow map-side-combinable shuffle on zone_id —
    the aggregate input is (zone_id, vc, id), never the wide row."""
    from .operators import xz2

    geoms = _event_boxes(spark, sf_dir, 37, 0, 2.005, 1.005, "zone_id", "wkt")
    pts = _event_points(spark, sf_dir).select(
        F.col("event_id").alias("point_event_id"),
        "lon",
        "lat",
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("vc"),
    )
    out = xz2.xz2_join_points(geoms, pts, predicate="intersects")
    return out.groupBy("zone_id").agg(
        F.count("*").alias("n_points"),
        F.sum("vc").alias("value_cents"),
        F.min("point_event_id").alias("min_event_id"),
        F.max("point_event_id").alias("max_event_id"),
    )


def q_xz2_poly_poly_join(spark, sf_dir):
    """XZ2 polygon×polygon large×large join (the join shape round 1 listed
    as unsupported).  Two box families of different sizes so BOTH
    coarsening directions fire; half-size sums (4.0054°, 2.0054°) never
    land on the 0.01° coordinate grid, so bbox-overlap comparisons are
    float-unambiguous on both engines."""
    from .operators import xz2

    ga = _event_boxes(spark, sf_dir, 53, 0, 3.0037, 1.5037, "gid_a", "wkt_a")
    gb = _event_boxes(spark, sf_dir, 37, 1, 1.0017, 0.5017, "gid_b", "wkt_b")
    out = xz2.xz2_join_geoms(ga, gb, predicate="intersects")
    return out.select("gid_a", "gid_b")


def q_z3_bbox_time(spark, sf_dir):
    """Z3 path: events written to a (time_bin, cell_bucket) hive layout —
    geom+time as the PRIMARY key — then queried with bbox + time range so
    BOTH partition dimensions prune (asserted in
    tests/test_planner_lineage.py::TestZ3TimeBinnedLayout).  The layout
    write here is the demo-scale stand-in for the one-time ingest job;
    queries at 100 TB hit a pre-built layout."""
    import os

    from .plans import planner
    from .sources.corpus import CACHE_DIR

    pts = _event_points(spark, sf_dir).select("event_id", "ts", "lon", "lat")
    # cache key carries a CONTENT fingerprint, not just the row count:
    # the layout derives from the driver's events table, which can be
    # regenerated with the same cardinality but different values — a
    # count-only key would silently serve the stale layout against a
    # fresh oracle.
    fp = pts.agg(
        F.count("*").alias("n"), F.sum(F.hash("event_id", "ts")).alias("h")
    ).collect()[0]
    n = fp["n"]
    path = os.path.join(CACHE_DIR, f"z3_events_n{n}_h{(fp['h'] or 0) & 0xFFFFFFFF:x}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        planner.write_partitioned(pts, path, res=10, time_col="ts")
    out = planner.query(
        spark, path,
        "POLYGON((-60.005 -60.005, 60.005 -60.005, 60.005 60.005, "
        "-60.005 60.005, -60.005 -60.005))",
        "intersects",
        time_col="ts",
        time_range=("2024-01-08 00:00:00", "2024-01-15 00:00:00"),
    )
    return out.select("event_id")


def q_attr_index_scan(spark, sf_dir):
    """Attribute-index path (round-3 verdict "What's missing" #1): events
    written to an (attr_part, date_bin) hive layout — GeoMesa's
    AttributeIndex key (lexicoded attribute + date secondary) as directory
    pruning — then queried with attribute equality + a time range so BOTH
    partition dimensions prune (plan-asserted in
    tests/test_planner_lineage.py::TestAttrIndexedLayout).  Layout write =
    the one-time ingest job, cached by content fingerprint like the Z3
    twin."""
    import os

    from .plans import planner
    from .sources.corpus import CACHE_DIR

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts")
    fp = ev.agg(
        F.count("*").alias("n"), F.sum(F.hash("event_id", "ts")).alias("h")
    ).collect()[0]
    path = os.path.join(
        CACHE_DIR, f"attr_events_n{fp['n']}_h{(fp['h'] or 0) & 0xFFFFFFFF:x}"
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        planner.write_attr_partitioned(ev, path, "event_type", date_col="ts")
    out = planner.scan_attr_partitioned(
        spark, path, "event_type", eq="click",
        date_range=("2024-01-08 00:00:00", "2024-01-15 00:00:00"), date_col="ts",
    )
    return out.select("event_id", "user_id")


def q_spacetime_join(spark, sf_dir):
    """Large×large spatio-temporal co-location: event pairs within 150 km
    AND 48 h of each other — the composite (cell, time_bin) shuffle key
    the Z3 index family exists for (:func:`operators.spatial_join.
    spatiotemporal_join_grid`).  Sides split by id mod so the pair set is
    deterministic; |dt| is integer seconds (exact both engines) and the
    150 km threshold sits on no pair boundary at the 0.01° grid."""
    from .operators import spatial_join as sj

    pts = _event_points(spark, sf_dir).select("event_id", "ts", "lon", "lat")
    a = (
        pts.filter(F.col("event_id") % 17 == 1)
        .withColumnRenamed("event_id", "id_a")
    )
    b = pts.filter(F.col("event_id") % 13 == 2)
    out = sj.spatiotemporal_join_grid(
        a, b, res=7, dist_m=150_000.0, max_dt_s=48 * 3600,
        left_id="id_a", right_id="event_id", unique_ids=True,
    )
    return out.select(
        F.col("id_a"), F.col("event_id").alias("id_b"),
        F.expr("CAST(ROUND(dist_m) AS BIGINT)").alias("dist_m_round"),
        F.col("dt_s").cast("long").alias("dt_s"),
    )


def q_st_sql_measures(spark, sf_dir):
    """The GeoMesa SparkSQL surface end-to-end AS SQL STRINGS: rectangles
    built in SQL, parsed with the registered ``st_geomFromWKT``, measured
    with ``st_area`` / ``st_centroid`` (via st_x/st_y) / ``st_length`` —
    the path a user migrating GeoMesa SQL runs verbatim.  The oracle twin
    is the closed-form arithmetic (area = 4·hw·hh, perimeter = 4·(hw+hh),
    centroid = the center): the engine computes shoelace/segment sums
    whose doubles differ from the closed forms only at ~1e-11, and every
    output is rounded to integer micro-units whose true values sit ~1e-9
    of an integer (never near a .5 boundary), so the match is exact."""
    from .functions import st_funcs

    st_funcs.register(spark)
    pts = _event_points(spark, sf_dir).filter(
        (F.col("event_id") % 29 == 3)
        & (F.col("lat") >= -80.0) & (F.col("lat") <= 80.0)
        & (F.col("lon") >= -170.0) & (F.col("lon") <= 170.0)
    )
    pts.createOrReplaceTempView("st_measures_src")
    return spark.sql(
        """
        WITH r AS (
          SELECT event_id,
                 1.505 + (event_id % 4) * 0.5 AS hw,
                 1.005 AS hh, lon, lat
          FROM st_measures_src
        ),
        g AS (
          SELECT event_id,
                 st_geomFromWKT(concat(
                   'POLYGON((',
                   CAST(lon - hw AS STRING), ' ', CAST(lat - hh AS STRING), ', ',
                   CAST(lon + hw AS STRING), ' ', CAST(lat - hh AS STRING), ', ',
                   CAST(lon + hw AS STRING), ' ', CAST(lat + hh AS STRING), ', ',
                   CAST(lon - hw AS STRING), ' ', CAST(lat + hh AS STRING), ', ',
                   CAST(lon - hw AS STRING), ' ', CAST(lat - hh AS STRING), '))'
                 )) AS geom
          FROM r
        )
        SELECT event_id,
               CAST(ROUND(st_area(geom) * 1000000) AS BIGINT) AS area_u,
               CAST(ROUND(st_length(geom) * 1000000) AS BIGINT) AS perim_u,
               CAST(ROUND(st_x(st_centroid(geom)) * 1000000) AS BIGINT) AS cx_u,
               CAST(ROUND(st_y(st_centroid(geom)) * 1000000) AS BIGINT) AS cy_u
        FROM g
        """
    )


def q_xz3_bbox_time(spark, sf_dir):
    """XZ3 path (GeoMesa ``curve/XZ3SFC.scala``: binned time ⊕ XZ2 for
    non-point + time): box geometries derived from sampled events, each
    carrying its event timestamp, written to a ``time_bin=W/xz_level=L/
    xz_bucket=B`` hive layout — ALL THREE partition dimensions prune —
    then queried with bbox + time range.  Box half-sizes end in .005 and
    the query rect in .007, so no edge comparison lands on the 0.01°
    synthetic grid: bbox-overlap decisions are float-exact on both
    engines."""
    import os

    from .operators import xz2
    from .sources.corpus import CACHE_DIR

    pts = _event_points(spark, sf_dir)
    geoms = (
        pts.filter(
            (F.col("event_id") % 41 == 2)
            & (F.col("lat") >= -80.0) & (F.col("lat") <= 80.0)
            & (F.col("lon") >= -170.0) & (F.col("lon") <= 170.0)
        )
        .select(
            F.col("event_id").alias("geom_id"),
            F.col("ts"),
            F.expr(
                "concat('POLYGON((',"
                " CAST(lon - 2.005 AS STRING), ' ', CAST(lat - 1.005 AS STRING), ', ',"
                " CAST(lon + 2.005 AS STRING), ' ', CAST(lat - 1.005 AS STRING), ', ',"
                " CAST(lon + 2.005 AS STRING), ' ', CAST(lat + 1.005 AS STRING), ', ',"
                " CAST(lon - 2.005 AS STRING), ' ', CAST(lat + 1.005 AS STRING), ', ',"
                " CAST(lon - 2.005 AS STRING), ' ', CAST(lat - 1.005 AS STRING), '))')"
            ).alias("wkt"),
        )
    )
    fp = geoms.agg(
        F.count("*").alias("n"), F.sum(F.hash("geom_id", "ts")).alias("h")
    ).collect()[0]
    path = os.path.join(
        CACHE_DIR, f"xz3_geoms_n{fp['n']}_h{(fp['h'] or 0) & 0xFFFFFFFF:x}"
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        xz2.write_partitioned_geoms(geoms, path, time_col="ts")
    out = xz2.query_geoms(
        spark, path,
        "POLYGON((-60.007 -60.007, 60.007 -60.007, 60.007 60.007, "
        "-60.007 60.007, -60.007 -60.007))",
        "intersects",
        time_col="ts",
        time_range=("2024-01-05 00:00:00", "2024-01-19 00:00:00"),
    )
    return out.select("geom_id")


def q_flagship_spans_join(spark, sf_dir):
    """ORACLE-BACKED (round 5 — was rows-only): the flagship
    documents_spans ⋈ fixture-polygons join over ALL 12 polygons
    (concave, holed, antimeridian, degenerate included).  The DuckDB twin
    reads the same span parquet and evaluates a GENERATED exact-kernel
    boolean per polygon — the engine's own crossing-parity + boundary
    arithmetic with precomputed IEEE constants (`_pip_expr_for_polygon`),
    split parts from the engine's own antimeridian splitter."""
    from .operators import spatial_join as sj
    from .sources import corpus

    docs = corpus.load_documents_spans(spark, sf_dir)
    out = sj.spatial_join_documents(
        docs, corpus.fixture_polygons(), predicate="intersects", res="auto"
    )
    return out.select("doc_id", "polygon_id", F.size("spans").alias("n_spans"))


def q_flagship_rect_join(spark, sf_dir):
    """Oracle-BACKED flagship (round-1 verdict item 7): the same all-JVM
    zero-shuffle documents_spans join restricted to the 6 axis-aligned
    fixture rectangles — DuckDB reproduces the answer by UNNESTing the
    synthesized span corpus parquet (the engine query materializes it
    before the oracle runs) and bbox-joining the extracted points."""
    from .operators import spatial_join as sj
    from .sources import corpus

    docs = corpus.load_documents_spans(spark, sf_dir)
    out = sj.spatial_join_documents(docs, _rect_rows(), predicate="intersects", res="auto")
    return out.select("doc_id", "polygon_id")


# ---------------------------------------------------------------------------
# temporal / attribute predicates + sampling (FilterHelper analogues)
# ---------------------------------------------------------------------------

def q_temporal_filter(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("ts") >= "2024-01-10 00:00:00")
            & (F.col("ts") < "2024-01-20 00:00:00")
            & F.col("event_type").isin("click", "view")
        )
        .select("event_id", "event_type")
    )


def q_sample_mod(spark, sf_dir):
    # deterministic 5% "sample" via modular arithmetic (SamplingIterator
    # analogue with a seedable, engine-portable rule)
    return _t(spark, sf_dir, "events").filter(F.expr("event_id % 20 = 0")).select("event_id")


# ---------------------------------------------------------------------------
# aggregations (StatsScan / DensityScan / histogram analogues)
# ---------------------------------------------------------------------------

def q_q1_pricing(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .withColumn("price_c", F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)"))
        .withColumn("disc_bp", F.expr("CAST(ROUND(l_discount * 10000) AS BIGINT)"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.sum("price_c").alias("sum_price_cents"),
            F.sum("disc_bp").alias("sum_disc_bp"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_stats_by_type(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
        F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)")).alias("value_cents"),
    )


def q_histogram_values(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("bucket", F.expr("CAST(floor(value / 5.0) AS BIGINT)"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_rollup_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn("yr", F.year("o_orderdate").cast("int"))
        .withColumn("price_c", F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
        .rollup("yr", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("price_c").alias("price_cents"))
    )


def q_join_customer_orders(spark, sf_dir):
    """Broadcast dim join (attribute join-index analogue): revenue per
    nation for BUILDING-segment customers."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# windows (TopK / Point2Point analogues)
# ---------------------------------------------------------------------------

def q_top3_per_user(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("user_id", "rank", "event_id")
    )


def q_track_segments(spark, sf_dir):
    """Point2Point track assembly analogue on the events table: consecutive
    event pairs per user ordered by time."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        ev.withColumn("prev_event_id", F.lag("event_id").over(w))
        .filter(F.col("prev_event_id").isNotNull())
        .select("user_id", F.col("prev_event_id").alias("a"), F.col("event_id").alias("b"))
    )


def q_sessionize(spark, sf_dir):
    """Sessionization: gap > 30 min starts a new session; count per user."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_sess",
            F.when(
                F.col("prev_ts").isNull()
                | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > 1800),
                1,
            ).otherwise(0),
        )
        .groupBy("user_id")
        .agg(F.sum("new_sess").cast("bigint").alias("n_sessions"))
    )


# ---------------------------------------------------------------------------
# training-data ops: dedup / similarity / text analysis
# ---------------------------------------------------------------------------

def q_cms_event_type_freq(spark, sf_dir):
    """CountMinSketch frequency estimates (round-1 verdict: CMS was
    claimed in COVERAGE but never exercised).  eps=1e-4 with 5 distinct
    keys makes the estimates exact, so the DuckDB twin is plain GROUP BY
    counts; the sketch itself is built by the distributed mergeable
    count_min_sketch aggregate."""
    from .operators import sketches

    ev = _t(spark, sf_dir, "events")
    return sketches.cms_frequencies(ev, "event_type")


def q_dedup_exact_prefix(spark, sf_dir):
    """Exact dedup on a normalized 8-token prefix fingerprint."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn(
            "fp", F.md5(F.expr("concat_ws(' ', slice(split(lower(text), ' '), 1, 8))"))
        )
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
    )


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Token-set Jaccard near-dup pairs within (lang, source) buckets.

    EXACT result via PPJoin-style prefix filtering
    (:func:`geomesa_spark.operators.dedup.jaccard_pairs_prefix`) — the
    round-2 verdict's last all-pairs demo is now scale-shaped: candidates
    come from an inverted index over each doc's RAREST n−⌈τ·n⌉+1 tokens
    (lossless pruning), verified with the full token sets.  The DuckDB
    oracle runs the brute-force self-join; results are bit-identical."""
    from .operators.dedup import jaccard_pairs_prefix

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.expr("array_distinct(filter(split(lower(text), ' '), x -> length(x) > 0))").alias("toks"),
    )
    return jaccard_pairs_prefix(
        d, threshold_num=80, threshold_den=100,
        id_col="doc_id", toks_col="toks", bucket_cols=("lang", "source"),
    ).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "i", "u"
    )


def q_ann_topk_cosine(spark, sf_dir):
    """Brute-force cosine top-5: query vecs (vec_id < 8) × candidates.
    Engine path: broadcast queries, JVM-side aggregate/zip_with dot
    product in double — no Python in the loop."""
    e = _t(spark, sf_dir, "embeddings").withColumn(
        "emb", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    )
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    c = e.filter(F.col("vec_id") >= 8).select("vec_id", "emb")
    dot = "aggregate(zip_with(qemb, emb, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
    nq = "sqrt(aggregate(zip_with(qemb, qemb, (x, y) -> x * y), 0D, (acc, v) -> acc + v))"
    nc = "sqrt(aggregate(zip_with(emb, emb, (x, y) -> x * y), 0D, (acc, v) -> acc + v))"
    joined = c.join(F.broadcast(q)).withColumn("sim", F.expr(f"{dot} / ({nq} * {nc})"))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "vec_id")
    )


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN with FULL probe (n_probe = n_centroids): every cluster is
    probed, so the result provably equals brute-force cosine top-k — the
    DuckDB twin.  Partial-probe recall is pytest-bounded; this green row
    proves the train/assign/probe/rerank machinery is lossless."""
    from .operators import ann

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qemb")
    )
    c = e.filter(F.col("vec_id") >= 8)
    out = ann.ann_ivf(c, q, k=5, n_centroids=8, n_probe=8)
    return out.select("query_id", "rank", "vec_id")


def q_asof_click_purchase(spark, sf_dir):
    """As-of join: each click matched to the user's most recent prior (or
    same-instant) purchase — engine path is the scalable union+window
    operator (one shuffle, no range explosion)."""
    from .operators import asof

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    out = asof.asof_join(clicks, purchases, on="ts", by="user_id")
    return out.select("user_id", "event_id", F.col("asof_event_id"))


def q_lang_id(spark, sf_dir):
    """Language-ID heuristic (engine: Arrow UDF stopword voting; oracle:
    the same argmax spelled in SQL — first-language-wins tie semantics)."""
    from .functions import text as text_fns

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", text_fns.lang_id_udf()(F.col("text")).alias("pred_lang"))


def q_minhash_lsh_pairs(spark, sf_dir):
    """ORACLE-BACKED character-shingle MinHash (dedup.minhash_lsh_pairs)
    on the md5 basis (h = first 15 hex chars of md5(shingle), sig_i =
    min(h ⊕ md5(i)), all values < 2^60 so signed/unsigned min agree) —
    DuckDB reruns the identical shingle → signature → band → verify
    pipeline."""
    from .operators import dedup

    d = _t(spark, sf_dir, "documents").withColumn("doc_id_s", F.col("doc_id").cast("string"))
    return dedup.minhash_lsh_pairs(
        d, id_col="doc_id_s", num_perm=16, bands=4, jaccard_threshold=0.5
    )


def q_simhash_pairs(spark, sf_dir):
    """ORACLE-BACKED 64-bit SimHash Hamming-ball pairs
    (dedup.simhash_pairs_jvm: md5 token hashes, all-JVM).  With 5 blocks
    the pigeonhole join is complete for hamming ≤ 4, so DuckDB's
    brute-force n² over the same md5-derived hashes matches exactly."""
    from .operators import dedup

    d = _t(spark, sf_dir, "documents").withColumn("doc_id_s", F.col("doc_id").cast("string"))
    return dedup.simhash_pairs_jvm(
        d, id_col="doc_id_s", n_bits=64, n_blocks=5, max_hamming=4
    ).select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"), "hamming")


def q_embedding_near_dup(spark, sf_dir):
    """ORACLE-BACKED cosine near-dup (dedup.embedding_near_dup_exact):
    sign-LSH over integer-micro-quantized vectors with md5-derived ±1
    hyperplanes and a bigint τ² verify — every step plain SQL on DuckDB,
    bit-identical both engines.  τ² = 81/400 (τ = 0.45) sits just under
    the embeddings table's max pairwise cosine (~0.49), so the green row
    exercises the MATCH path, not the empty path."""
    from .operators import dedup

    e = _t(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dup_exact(e, n_planes=4, n_tables=12)


def q_minhash_md5_pairs(spark, sf_dir):
    """Oracle-backed MinHash+LSH (round-1 verdict item 7): deterministic
    md5 signatures → banding → exact Jaccard verify, all-JVM; the DuckDB
    twin reruns the identical pipeline single-node."""
    from .operators import dedup

    return dedup.minhash_lsh_pairs_jvm(
        _t(spark, sf_dir, "documents"), n_sigs=12, n_bands=4, jaccard_threshold=0.9
    )


def q_simhash_md5_pairs(spark, sf_dir):
    """Oracle-backed SimHash (round-1 verdict item 7): pigeonhole block
    join is provably complete for hamming<=3 with 4 blocks, so the
    distributed blocked pipeline must equal DuckDB's brute-force n²."""
    from .operators import dedup

    return dedup.simhash_pairs_jvm(
        _t(spark, sf_dir, "documents"), n_bits=16, n_blocks=4, max_hamming=1
    )


def q_media_dims(spark, sf_dir):
    """ORACLE-BACKED media decode (round 5 — media coverage was rows-only
    by necessity): per image span, the REAL pipeline synthesizes the
    payload from the ref (png/bmp/ppm/jpeg rotation), decodes it
    (inflate/unfilter, Huffman+IDCT, header parse), and reports
    (kind, width, height).  The DuckDB twin derives the same values
    ARITHMETICALLY from the ref string (the synthesis seed is a public
    polynomial hash), so any decode defect — wrong dims, wrong format
    branch, crash — breaks the hash match.  `media_features` (pixel
    features) stays rows-only; this pins the decode plumbing."""
    from .operators import multimodal
    from .sources import corpus

    docs = corpus.load_documents_spans(spark, sf_dir)
    return multimodal.media_features(docs, feature_dim=4).select(
        "doc_id", "span_idx", "media_ref", "kind", "width", "height"
    )


def q_pack_sequences(spark, sf_dir):
    """Sequence packing (concat-then-chunk, budget 512 tokens): every doc
    assigned to the pack its first token lands in, deterministic
    (source, doc_id) layout order; all integer math."""
    from .operators.packing import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), budget=512)


# 32 words, all stopwords, mean word length exactly 3 (boundary-legal for
# the Gopher mean-word-length rule) — every 17th doc collapses to this
# text so the dedup stage of corpus_mix actually removes rows.
_MIX_DUP_TEXT = " ".join(["the be to of and that have with"] * 4)
MIX_TEXT_SQL = (
    f"CASE WHEN doc_id % 17 = 3 THEN '{_MIX_DUP_TEXT}' ELSE text END"
)


def q_corpus_mix(spark, sf_dir):
    """END-TO-END training-mix assembly — the composition the individual
    operators exist for: Gopher quality gate → exact-dedup survivorship
    (first doc_id per text md5 among kept docs) → fixed-budget sequence
    packing.  Run over a derived corpus (same expression as the oracle)
    where every 17th doc collapses to one quality-passing text, so the
    dedup stage removes real rows and pack offsets shift accordingly.

    100-TB shape: the quality and hash stages emit narrow (id, flags) /
    (id, md5) rows; survivor selection is a map-side-combinable min per
    hash; text is re-attached ONCE by the final id equi-join (bucket the
    corpus by id to make that join storage-partitioned) and packing adds
    its single (source)-window shuffle over narrow rows."""
    from .functions.text import gopher_quality
    from .operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(MIX_TEXT_SQL).alias("text"), "source"
    )
    kept = (
        gopher_quality(docs, min_words=30, min_stopwords=1)
        .filter("keep")
        .select("doc_id")
    )
    kept_hashes = docs.select("doc_id", F.md5("text").alias("_h")).join(
        kept, "doc_id"
    )
    survivor_ids = kept_hashes.groupBy("_h").agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    survivors = docs.join(survivor_ids, "doc_id")
    return pack_sequences(survivors, budget=512)


def q_stratified_sample(spark, sf_dir):
    """Exactly-20-per-(lang, source) uniform sample, deterministic via
    md5(doc_id) rank — the balanced-mixture primitive."""
    from .operators.packing import stratified_sample

    return stratified_sample(_t(spark, sf_dir, "documents"), k=20)


def q_geofence_transitions(spark, sf_dir):
    """Geofence enter/exit/switch events over user tracks against the
    fixture rectangles (first-match priority), one window shuffle."""
    from .operators import tube

    fences = [
        dict(fence_id=p, lon0=a, lat0=b, lon1=c, lat1=d) for p, a, b, c, d in RECTS
    ]
    return tube.geofence_transitions(_event_points(spark, sf_dir), fences)


def q_od_matrix(spark, sf_dir):
    """Origin-destination flows: per (user, hour-session) first/last
    point's res-5 grid cell, rolled up to trip counts."""
    from .operators import tube

    pts = _event_points(spark, sf_dir).withColumn(
        "session_id", F.date_trunc("hour", F.col("ts"))
    )
    return tube.od_matrix(pts, res=5)


def q_resample_tracks(spark, sf_dir):
    """Hourly track resampling: interpolated position at every hour
    boundary inside each consecutive-fix segment, integer-microsecond
    epochs + one identical double division per point in both engines."""
    from .operators import tube

    return tube.resample_tracks(
        _event_points(spark, sf_dir).filter(F.col("user_id") < 20), step_s=3600
    )


def q_dwell_segments(spark, sf_dir):
    """Stay-point detection: maximal consecutive same-cell runs per user
    lasting >= 10 minutes (gaps-and-islands, res-5 grid)."""
    from .operators import tube

    return tube.dwell_segments(_event_points(spark, sf_dir), res=5, min_duration_s=600)


def q_gi_star(spark, sf_dir):
    """Getis-Ord Gi* hot/cold-spot z-scores per populated res-6 grid
    cell.  Exactness: w_i/k_i/n/Σx/Σx² are all exact BIGINTs and the
    z-score is autocorr.GI_STAR_SQL — the SAME string Spark F.expr's
    and the DuckDB twin embeds — so the quantized micros agree
    bit-for-bit."""
    from .operators import autocorr

    return autocorr.getis_ord_gi(_event_points(spark, sf_dir), res=6)


def q_morans_i(spark, sf_dir):
    """Global Moran's I of the res-6 cell-count surface (binary
    8-neighbor weights): one row of exact integer aggregates plus the
    shared closed-form index expression (autocorr.MORAN_I_SQL)."""
    from .operators import autocorr

    return autocorr.morans_i(_event_points(spark, sf_dir), res=6)


def q_local_moran(spark, sf_dir):
    """Anselin LISA per populated res-6 cell: local Moran's I, the
    analytic randomization z, and the Moran-scatterplot quadrant.  All
    sufficient statistics (x, k_i, lag, n, s1..s4) are exact BIGINTs and
    the I/z/quad expressions are the shared autocorr.LISA_*_SQL strings,
    so the quantized outputs are bit-equal across engines."""
    from .operators import autocorr

    return autocorr.local_morans_i(_event_points(spark, sf_dir), res=6)


def q_emerging_hotspots(spark, sf_dir):
    """Mann-Kendall emerging-hotspot trends per hot res-5 cell over the
    dense day-binned space-time cube; S / ties / T are exact integers,
    z is the shared autocorr.MK_Z_SQL expression."""
    from .operators import autocorr

    return autocorr.emerging_hotspots(
        _event_points(spark, sf_dir).select("lon", "lat", "ts"),
        res=5,
        min_total=10,
    )


def q_ripley_k(spark, sf_dir):
    """Ripley's K/L at a 25/50/100/200 km ladder over the |lat|<=60
    band: one ring-cover pair join at 200 km, exact BIGINT pair counts
    per rung, K/L via the shared pointpattern.ripley_*_sql closed forms
    (identical text in the DuckDB twin)."""
    from .operators import pointpattern as pp

    return pp.ripley_k(_event_points(spark, sf_dir), res=6, lat_max=60.0)


def q_cross_k(spark, sf_dir):
    """Bivariate Ripley's K between 'click' and 'purchase' events at a
    50/100/200 km ladder (|lat|<=60 band): ordered A->B pair counts from
    the cross-mode ring-cover join; K/L via the shared
    pointpattern.cross_*_sql closed forms."""
    from .operators import pointpattern as pp

    ev = _event_points(spark, sf_dir)
    return pp.cross_k(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        res=6,
        lat_max=60.0,
    )


def q_nn_g(spark, sf_dir):
    """Nearest-neighbor G(d) CDF at a 50/100/200 km ladder (|lat|<=60
    band; the sf-scale mean NN distance is ~109 km, so every rung is
    populated): per-rung COUNT(DISTINCT endpoint) over the same
    ring-cover pair join; exact BIGINTs + the shared
    pointpattern.NN_G_SQL ratio."""
    from .operators import pointpattern as pp

    return pp.nn_g_function(
        _event_points(spark, sf_dir),
        dists_m=(50_000.0, 100_000.0, 200_000.0),
        res=6,
        lat_max=60.0,
    )


def q_knox_test(spark, sf_dir):
    """Knox space-time interaction (100 km / 48 h) over the |lat|<=60
    band: S/T/X pair counts are exact BIGINTs from ring equi-joins (no
    all-pairs stage); expectation and Poisson z are the shared
    pointpattern.KNOX_*_SQL expressions."""
    from .operators import pointpattern as pp

    return pp.knox_test(
        _event_points(spark, sf_dir),
        dist_m=100_000.0,
        dt_s=2 * 86_400,
        res=6,
        lat_max=60.0,
    )


def q_kde_grid(spark, sf_dir):
    """Epanechnikov kernel-density surface at res 6, radius 2 (the
    smoothed DensityScan heatmap): the discrete kernel weights are the
    INTEGERS (r+1)^2 - dx^2 - dy^2, so kde_num is an exact BIGINT and
    the density one shared closed-form division."""
    from .operators import autocorr

    return autocorr.kernel_density(_event_points(spark, sf_dir), res=6, radius=2)


def q_gi_spacetime(spark, sf_dir):
    """Space-time Gi* over the dense res-5 (cell, day) cube: 3x3x3 bin
    neighborhood (ArcGIS space-time-cube default), global moments over
    the whole cube, z via the shared autocorr.GI_STAR_SQL."""
    from .operators import autocorr

    return autocorr.gi_spacetime(
        _event_points(spark, sf_dir).select("lon", "lat", "ts"), res=5
    )


def q_ehsa(spark, sf_dir):
    """Full emerging-hot-spot analysis: per-day Gi* field over the dense
    res-5 cube, Mann-Kendall over each cell's quantized z series, and
    the category CASE — all three stages share their SQL expressions
    with the DuckDB twin (autocorr.GI_STAR_SQL / MK_Z_SQL /
    EHSA_CAT_SQL), so the end-to-end pipeline is bit-equal."""
    from .operators import autocorr

    return autocorr.emerging_hotspot_analysis(
        _event_points(spark, sf_dir).select("lon", "lat", "ts"),
        res=5,
        min_total=10,
    )


def q_hotspot_clusters(spark, sf_dir):
    """DBSCAN-style hotspot clustering over the event grid (res 6,
    min_pts 5): dense cells merged through 8-neighbor adjacency via
    min-label propagation; the DuckDB twin resolves the same components
    with a recursive reachability CTE."""
    from .operators import tiling

    return tiling.hotspot_clusters(_event_points(spark, sf_dir), res=6, min_pts=5)


def q_track_hausdorff(spark, sf_dir):
    """Directed discrete Hausdorff between the tracks of users 0-5
    (squared-planar-degree metric: arithmetic-only, so both engines
    compute bit-identical doubles before the final quantization)."""
    from .operators import tube

    pts = _event_points(spark, sf_dir).filter(F.col("user_id") < 6)
    return tube.track_hausdorff(pts)


def q_dedup_clusters(spark, sf_dir):
    """Near-dup PAIRS resolved into duplicate CLUSTERS: connected
    components by iterative min-label propagation over the oracle-backed
    SimHash pair graph, canonical survivor = min doc_id per component.
    The DuckDB twin computes components with a recursive reachability
    CTE over the identical pair SQL."""
    from .operators import dedup

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.simhash_pairs_jvm(docs, n_bits=16, n_blocks=4, max_hamming=1)
    return dedup.dedup_clusters(pairs, docs)


def q_media_features(spark, sf_dir):
    """Rows-only: multimodal feature extraction over the span corpus.
    The decode is REAL (pure numpy/stdlib PNG/BMP/PPM codecs — inflate,
    scanline unfiltering, pixel statistics); payload bytes are synthesized
    deterministically from each media_ref partition-local, since the span
    corpus stores refs, not blobs."""
    from .operators import multimodal
    from .sources import corpus

    docs = corpus.load_documents_spans(spark, sf_dir)
    return multimodal.media_features(docs, feature_dim=8).select(
        "doc_id", "span_idx", "media_ref", "width", "height"
    )


def q_doc_fingerprints(spark, sf_dir):
    """ORACLE-BACKED (round-3 verdict item 6 — was rows-only): per-doc
    winnowing fingerprint (global MIN of the k-gram md5 hashes, the w→∞
    limit of winnow_fingerprints) grouped into collision classes — the
    identical normalize → md5 → min pipeline runs on DuckDB.  The numpy
    rolling-hash tier (text.fingerprint_udf) stays covered by pytest."""
    from .functions import text as text_fns

    d = text_fns.min_fingerprints(_t(spark, sf_dir, "documents"), k=16)
    return d.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id")
    )


def q_winnow_fingerprints(spark, sf_dir):
    """Full winnowing fingerprint SET (k=16-char grams, w=32 windows) —
    the all-JVM md5 tier; DuckDB runs the identical normalize -> md5 ->
    window-min -> distinct pipeline (lexicographic min on fixed-width hex
    == numeric min on both engines)."""
    from .functions.text import winnow_fingerprints

    return winnow_fingerprints(_t(spark, sf_dir, "documents"), k=16, w=32)


def q_tfidf_topk(spark, sf_dir):
    """Top-5 keywords per document by TF-IDF.  Rank score is the exact
    integer tf * idf_micros (idf quantized once per distinct df), so rank
    order is ulp-independent; ties break by term."""
    from .functions.text import tfidf_topk

    return tfidf_topk(_t(spark, sf_dir, "documents"), k=5)


def q_gopher_quality(spark, sf_dir):
    """Gopher-style quality filter (word-level rules), integer-exact:
    word count / mean-word-length / alpha-fraction / stopword rules as
    cross-multiplied integer comparisons — no float anywhere."""
    from .functions.text import gopher_quality

    return gopher_quality(_t(spark, sf_dir, "documents"), min_words=30, min_stopwords=1)


def q_doc_repetition(spark, sf_dir):
    """Within-doc duplicate-bigram metrics (Gopher repetition family):
    total/distinct gram counts + max multiplicity per document, built
    row-locally then counted via one map-side-combinable shuffle."""
    from .functions.text import doc_repetition

    return doc_repetition(_t(spark, sf_dir, "documents"), n=2, max_dup_pct=5)


def q_line_dedup(spark, sf_dir):
    """Cross-corpus duplicate-line fraction (CCNet/Dolma line dedup):
    per-doc counts of lines that occur more than once corpus-wide,
    integer-exact permille."""
    from .functions.text import line_dedup_stats

    return line_dedup_stats(_t(spark, sf_dir, "documents"))


def q_ccnet_buckets(spark, sf_dir):
    """CCNet perplexity bucketing (Wenzek et al. 2020 §4.3): per-language
    head/middle/tail tertiles by per-doc mean token NLL under the corpus
    unigram LM.  Score is integer micros (per-token NLL quantized once,
    doc score an IEEE-exact int/int division), so tertile order is
    ulp-independent; ties break by doc_id."""
    from .functions.text import ccnet_perplexity_buckets

    return ccnet_perplexity_buckets(_t(spark, sf_dir, "documents"))


def q_c4_filter(spark, sf_dir):
    """C4 line/page cleaning (Raffel et al. 2020 §2.2): per-line
    terminal-punctuation / min-words / javascript rules, page-level
    lorem-ipsum / brace / min-kept-lines rules; zero shuffles.

    The synthetic corpus is single-line and unpunctuated, so the query
    first derives a deterministic lined corpus (the same expression the
    oracle runs): frequent words become sentence breaks, and doc_id
    residues inject lorem-ipsum / javascript / brace pages so every
    rule fires on real rows.
    """
    from .functions.text import c4_line_filters

    lined = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(C4_LINED_TEXT_SQL).alias("text")
    )
    return c4_line_filters(lined)


# One expression, two engines: Spark SQL and DuckDB agree on replace()
# (left-to-right, non-overlapping), chr(10), and % on BIGINT.
C4_LINED_TEXT_SQL = (
    "concat("
    "replace(replace(text, ' table ', concat('.', chr(10))),"
    " ' query ', concat('?', chr(10))), "
    "CASE WHEN doc_id % 7 = 0 THEN concat(chr(10), 'lorem ipsum') "
    "WHEN doc_id % 11 = 3 THEN "
    "concat(chr(10), 'this page uses javascript for the whole menu.') "
    "WHEN doc_id % 13 = 5 THEN ' {' ELSE '' END)"
)


def q_temp_mixture(spark, sf_dir):
    """Temperature-based domain mixing (exponent-smoothed source
    sampling, alpha=0.5): per-source quota = k * sqrt(n)/sum(sqrt(n)),
    integer-exact in micros; md5-rank membership within each source."""
    from .operators.packing import temperature_mixture_sample

    return temperature_mixture_sample(_t(spark, sf_dir, "documents"), k=200)


def q_dsir_select(spark, sf_dir):
    """DSIR importance resampling (Xie et al. 2023): top-150 non-src0
    docs whose hashed-unigram profile best matches src0's, scored by the
    integer-exact micros log-ratio sum."""
    from .operators.packing import dsir_select

    return dsir_select(
        _t(spark, sf_dir, "documents"), k=150, target_expr="source = 'src0'"
    )


def q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): cluster-scoped cosine near-dup
    removal over the embeddings table — deterministic seed centroids,
    integer-exact assignment and verify, keep-the-min-id survivorship."""
    from .operators.dedup import semdedup

    return semdedup(_t(spark, sf_dir, "embeddings"), n_clusters=8)


def q_substring_dedup(spark, sf_dir):
    """Exact duplicated-substring fraction (Lee et al. 2021 suffix-array
    criterion at fixed window k=8): per-doc count of 8-token sliding
    windows that occur a second time anywhere in the corpus.  Windows
    leave the row as (id, md5) pairs; text never crosses a shuffle."""
    from .functions.text import substring_dedup_stats

    return substring_dedup_stats(_t(spark, sf_dir, "documents"), k=8)


def q_para_dedup(spark, sf_dir):
    """Corpus-wide paragraph dedup with first-occurrence survivorship
    (Dolma's paragraph pass) over the deterministic lined corpus (the
    same expression the oracle runs — the injected lorem-ipsum /
    javascript lines repeat across docs so removal actually fires).
    Only fixed-width hashes cross the shuffles; the surviving text is
    verified via an order-sensitive fingerprint of kept paragraph md5s."""
    from .functions.text import para_dedup

    lined = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(C4_LINED_TEXT_SQL).alias("text")
    )
    return para_dedup(lined)


def q_domain_cap(spark, sf_dir):
    """URL canonicalization + per-domain document cap (RefinedWeb
    provenance balancing).  The synthetic corpus has no URL column, so
    the query first derives a deterministic URL per doc (the same
    expression the oracle runs): doc_id residues inject uppercase
    scheme/host, www., default ports, utm_* tracking params in every
    separator position, fragments, and trailing slashes across 12
    registered domains — every canonicalization rule fires on real rows,
    and the md5-rank cap keeps at most 3 docs per domain."""
    from .functions.text import domain_cap

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(URL_TEXT_SQL).alias("url")
    )
    return domain_cap(docs, n_max=3)


# One expression, two engines (concat/CASE/CAST(STRING) shared dialect);
# the CANONICALIZATION is deliberately NOT shared — Spark runs
# functions/text.url_canonicalize, the oracle an independent RE2
# decomposition — so the query verifies semantics, not implementation.
URL_TEXT_SQL = (
    "concat("
    "CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.' ELSE 'https://' END, "
    "CASE WHEN doc_id % 4 < 2 THEN 'news.' ELSE 'cdn.' END, "
    "'ex', CAST(doc_id % 6 AS STRING), "
    "CASE WHEN doc_id % 2 = 0 THEN '.Example.COM' ELSE '.Net' END, "
    "CASE WHEN doc_id % 7 = 1 THEN ':443' ELSE '' END, "
    "'/Page/', CAST(doc_id % 50 AS STRING), "
    "CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END, "
    "CASE WHEN doc_id % 5 = 2 THEN '?utm_source=feed&utm_campaign=x' "
    "WHEN doc_id % 5 = 3 THEN '?id=7&utm_medium=mail' ELSE '' END, "
    "CASE WHEN doc_id % 11 = 6 THEN '#Frag' ELSE '' END)"
)


def q_pii_redact(spark, sf_dir):
    """PII counting + masking (Dolma regex tier): e-mail / IPv4 / phone
    spans counted and replaced with typed mask tokens, one codegen
    projection.  The synthetic corpus carries no PII, so the query first
    derives a deterministic PII-bearing corpus (the same expression the
    oracle runs): doc_id residues append an e-mail, a dotted quad, or a
    phone number so every rule fires on real rows."""
    from .functions.text import pii_redact

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(PII_TEXT_SQL).alias("text")
    )
    return pii_redact(docs)


# One expression, two engines: concat/CASE/lpad/CAST(STRING) behave
# identically in Spark SQL and DuckDB (STRING aliases VARCHAR there).
PII_TEXT_SQL = (
    "concat(text, "
    "CASE WHEN doc_id % 5 = 0 THEN concat(' contact user', "
    "CAST(doc_id AS STRING), '@example.com now.') ELSE '' END, "
    "CASE WHEN doc_id % 7 = 2 THEN concat(' host 10.', "
    "CAST(doc_id % 256 AS STRING), '.0.1 unreachable.') ELSE '' END, "
    "CASE WHEN doc_id % 11 = 4 THEN concat(' call +1 555 ', "
    "lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), ' today.') ELSE '' END)"
)

# the oracle interpolates the SAME pattern constants the engine compiles
# (Java-regex ∩ RE2 dialect; DuckDB quoted strings pass backslashes through)
from .functions.text import (  # noqa: E402
    PII_EMAIL_RE as _PII_EMAIL,
    PII_IPV4_RE as _PII_IPV4,
    PII_PHONE_RE as _PII_PHONE,
)


def q_text_quality(spark, sf_dir):
    """Quality flags with integer-exact semantics: token count, char count,
    long-doc/short-doc flags, stopword-poor flag."""
    d = _t(spark, sf_dir, "documents")
    toks = "filter(split(lower(text), ' '), x -> length(x) > 0)"
    stop = f"size(filter({toks}, x -> x IN ('the', 'a', 'of', 'and', 'to')))"
    return d.select(
        "doc_id",
        F.expr(f"size({toks})").cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_m"),
        (F.length("text") < 200).alias("is_short"),
        F.expr(f"CAST({stop} AS BIGINT)").alias("n_stopwords"),
    )


def q_decontaminate(spark, sf_dir):
    """GPT-3-style decontamination: corpus docs (doc_id % 10 != 0)
    sharing any word 8-gram with the 'benchmark' split (doc_id % 10 = 0).
    Engine: broadcast benchmark n-gram hashes + JVM gram generation; the
    oracle brute-forces the identical split on gram STRINGS (counts agree
    unless two distinct grams collide in 64 bits — odds ~1e-10 here)."""
    from .operators.dedup import benchmark_contamination

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.expr("doc_id % 10 = 0"))
    corpus = d.filter(F.expr("doc_id % 10 != 0"))
    return benchmark_contamination(corpus, bench, n=8)


def q_set_ops_users(spark, sf_dir):
    """Union / intersect / except (SURVEY §2.5, previously untested
    directly): user cohorts by event type under DISTINCT set semantics —
    the same three operators DuckDB evaluates natively."""
    ev = _t(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return (
        clickers.intersect(buyers).select(F.lit("both").alias("op"), "user_id")
        .unionByName(
            clickers.subtract(buyers).select(F.lit("click_only").alias("op"), "user_id")
        )
        .unionByName(
            clickers.union(buyers).distinct().select(F.lit("either").alias("op"), "user_id")
        )
    )


def q_descriptive_stats(spark, sf_dir):
    """DescriptiveStats analogue (SURVEY §2.4: count/min/max/mean/
    variance/stddev/skewness per group).  Float discipline: moments are
    assembled from EXACT integer power sums (cents; s3 ≤ ~5e16 < 2^63),
    with one identical final double expression on both engines, rounded
    to fixed precision — order-independent and hash-exact."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "vc", F.expr("CAST(ROUND(value * 100) AS BIGINT)")
    )
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("vc").alias("min_cents"),
        F.max("vc").alias("max_cents"),
        F.sum("vc").alias("s1"),
        F.sum(F.expr("vc * vc")).alias("s2"),
        F.sum(F.expr("vc * vc * vc")).alias("s3"),
    )
    return agg.select(
        "event_type",
        "n",
        "min_cents",
        "max_cents",
        F.expr("CAST(ROUND(s1 / n * 1000000) AS BIGINT)").alias("mean_micros"),
        F.expr("CAST(ROUND((s2 / n - (s1 / n) * (s1 / n)) * 10000) AS BIGINT)").alias(
            "var_x1e4"
        ),
        F.expr(
            # zero-variance guard: a constant/singleton group makes the
            # denominator 0 and 0/0 = NaN — Spark would cast NaN to 0
            # while DuckDB ERRORS on CAST(NaN AS BIGINT); both engines
            # use the same explicit CASE so the contract stays exact
            "CASE WHEN (s2 / n - (s1 / n) * (s1 / n)) > 0 THEN "
            "CAST(ROUND((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))"
            " / pow(s2 / n - (s1 / n) * (s1 / n), 1.5) * 1000000) AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END"
        ).alias("skew_micros"),
    )


def q_tube_select_corridor(spark, sf_dir):
    """Tube select (SURVEY §2.3, previously pytest-only): events within
    ``TUBE_BUFFER_M`` of the fixed track polyline.  Engine path = cell
    cover broadcast + Arrow point-to-segment geodesic refine; the DuckDB
    twin brute-forces the identical equirectangular+haversine kernel over
    every (point, segment) pair."""
    import pandas as pd

    from .operators import tube

    track = pd.DataFrame(TUBE_TRACK, columns=["lon", "lat"])
    pts = _event_points(spark, sf_dir)
    return tube.tube_select(
        pts, track, buffer_m=TUBE_BUFFER_M, res=8, id_col="event_id"
    ).select("event_id")


def q_route_match(spark, sf_dir):
    """Route join (SURVEY §2.3, previously pytest-only): each event within
    ``ROUTE_MAX_DIST_M`` of a route matched to its NEAREST route, ties by
    route_id — mirrored exactly by the oracle's ROW_NUMBER pick."""
    from .operators import tube

    routes = [
        {"route_id": rid, "wkt": "LINESTRING (" + ", ".join(f"{x} {y}" for x, y in pts) + ")"}
        for rid, pts in ROUTES
    ]
    pts = _event_points(spark, sf_dir)
    return tube.route_join(
        pts, routes, max_dist_m=ROUTE_MAX_DIST_M, res=8, id_col="event_id"
    ).select("event_id", "route_id")


def _seg_dist_sql(segs_values: str, extra_cols: str = "") -> str:
    """CTE chain computing min point-to-polyline distance with the EXACT
    expression sequence of kernels.point_segments_dist_m (local
    equirectangular projection, clamped parametric point, haversine) —
    identical IEEE ops on both engines.  ``segs_values``: VALUES rows
    ``({extra...,} x1, y1, x2, y2)``; ``extra_cols``: e.g. ``route_id,``."""
    hav = _HAVERSINE.format(lon1="lon", lat1="lat", lon2="nx", lat2="ny")
    return f"""
            segs AS (SELECT * FROM (VALUES {segs_values})
                     AS t({extra_cols} x1, y1, x2, y2)),
            d1 AS (
              SELECT event_id, {extra_cols} lon, lat, x1, y1, x2, y2,
                     (x2 - x1) * cos(radians((y1 + y2) / 2.0)) AS dx,
                     (y2 - y1) AS dy,
                     (lon - x1) * cos(radians((y1 + y2) / 2.0)) AS px,
                     (lat - y1) AS py
              FROM pts CROSS JOIN segs),
            d2 AS (
              SELECT event_id, {extra_cols} lon, lat, x1, y1, x2, y2,
                     CASE WHEN dx * dx + dy * dy > 0
                          THEN LEAST(GREATEST((px * dx + py * dy) / (dx * dx + dy * dy), 0.0), 1.0)
                          ELSE 0.0 END AS t
              FROM d1),
            d3 AS (
              SELECT event_id, {extra_cols} lon, lat,
                     x1 + t * (x2 - x1) AS nx, y1 + t * (y2 - y1) AS ny
              FROM d2),
            d4 AS (SELECT event_id, {extra_cols} {hav} AS dist FROM d3)"""


def _tube_sql() -> str:
    segs = ", ".join(
        f"({x1}, {y1}, {x2}, {y2})"
        for (x1, y1), (x2, y2) in zip(TUBE_TRACK, TUBE_TRACK[1:])
    )
    return f"""
        WITH {_pts_cte()},
        {_seg_dist_sql(segs)},
        m AS (SELECT event_id, MIN(dist) AS dm FROM d4 GROUP BY event_id)
        SELECT event_id FROM m WHERE dm <= {TUBE_BUFFER_M}
    """


def _route_sql() -> str:
    segs = ", ".join(
        f"('{rid}', {x1}, {y1}, {x2}, {y2})"
        for rid, pts in ROUTES
        for (x1, y1), (x2, y2) in zip(pts, pts[1:])
    )
    return f"""
        WITH {_pts_cte()},
        {_seg_dist_sql(segs, extra_cols="route_id,")},
        m AS (SELECT event_id, route_id, MIN(dist) AS dm
              FROM d4 GROUP BY event_id, route_id),
        f AS (SELECT event_id, route_id,
                     ROW_NUMBER() OVER (PARTITION BY event_id
                                        ORDER BY dm ASC, route_id ASC) AS rk
              FROM m WHERE dm <= {ROUTE_MAX_DIST_M})
        SELECT event_id, route_id FROM f WHERE rk = 1
    """


_DESC_FINAL = (
    "CAST(ROUND(s1 / n * 1000000) AS BIGINT) AS mean_micros, "
    "CAST(ROUND((s2 / n - (s1 / n) * (s1 / n)) * 10000) AS BIGINT) AS var_x1e4, "
    # zero-variance guard mirrors the Spark side (NaN casts differ by engine)
    "CASE WHEN (s2 / n - (s1 / n) * (s1 / n)) > 0 THEN "
    "CAST(ROUND((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))"
    " / pow(s2 / n - (s1 / n) * (s1 / n), 1.5) * 1000000) AS BIGINT) "
    "ELSE CAST(0 AS BIGINT) END AS skew_micros"
)


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "spatial_join_rect_intersects": q_spatial_join_rect_intersects,
        "spatial_join_rect_contains": q_spatial_join_rect_contains,
        "st_dwithin_centers": q_st_dwithin_centers,
        "tile_pyramid_counts": q_tile_pyramid_counts,
        "density_grid": q_density_grid,
        "knn_centers": q_knn_centers,
        "xz2_poly_point_join": q_xz2_poly_point_join,
        "zonal_stats": q_zonal_stats,
        "xz2_poly_poly_join": q_xz2_poly_poly_join,
        "z3_bbox_time": q_z3_bbox_time,
        "attr_index_scan": q_attr_index_scan,
        "xz3_bbox_time": q_xz3_bbox_time,
        "st_sql_measures": q_st_sql_measures,
        "spacetime_join": q_spacetime_join,
        "flagship_spans_join": q_flagship_spans_join,
        "flagship_rect_join": q_flagship_rect_join,
        "temporal_filter": q_temporal_filter,
        "sample_mod": q_sample_mod,
        "q1_pricing": q_q1_pricing,
        "stats_by_type": q_stats_by_type,
        "histogram_values": q_histogram_values,
        "rollup_orders": q_rollup_orders,
        "join_customer_orders": q_join_customer_orders,
        "top3_per_user": q_top3_per_user,
        "track_segments": q_track_segments,
        "sessionize": q_sessionize,
        "cms_event_type_freq": q_cms_event_type_freq,
        "dedup_exact_prefix": q_dedup_exact_prefix,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "ann_topk_cosine": q_ann_topk_cosine,
        "ann_ivf_topk": q_ann_ivf_topk,
        "text_quality": q_text_quality,
        "asof_click_purchase": q_asof_click_purchase,
        "lang_id": q_lang_id,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash_pairs": q_simhash_pairs,
        "minhash_md5_pairs": q_minhash_md5_pairs,
        "simhash_md5_pairs": q_simhash_md5_pairs,
        "embedding_near_dup": q_embedding_near_dup,
        "media_features": q_media_features,
        "media_dims": q_media_dims,
        "doc_fingerprints": q_doc_fingerprints,
        "decontaminate": q_decontaminate,
        "set_ops_users": q_set_ops_users,
        "descriptive_stats": q_descriptive_stats,
        "tube_select_corridor": q_tube_select_corridor,
        "route_match": q_route_match,
        "winnow_fingerprints": q_winnow_fingerprints,
        "tfidf_topk": q_tfidf_topk,
        "gopher_quality": q_gopher_quality,
        "doc_repetition": q_doc_repetition,
        "line_dedup": q_line_dedup,
        "ccnet_buckets": q_ccnet_buckets,
        "c4_filter": q_c4_filter,
        "temp_mixture": q_temp_mixture,
        "dsir_select": q_dsir_select,
        "semdedup": q_semdedup,
        "substring_dedup": q_substring_dedup,
        "para_dedup": q_para_dedup,
        "domain_cap": q_domain_cap,
        "pii_redact": q_pii_redact,
        "dedup_clusters": q_dedup_clusters,
        "pack_sequences": q_pack_sequences,
        "corpus_mix": q_corpus_mix,
        "stratified_sample": q_stratified_sample,
        "track_hausdorff": q_track_hausdorff,
        "hotspot_clusters": q_hotspot_clusters,
        "gi_star": q_gi_star,
        "morans_i": q_morans_i,
        "local_moran": q_local_moran,
        "ripley_k": q_ripley_k,
        "cross_k": q_cross_k,
        "nn_g": q_nn_g,
        "knox_test": q_knox_test,
        "emerging_hotspots": q_emerging_hotspots,
        "ehsa": q_ehsa,
        "gi_spacetime": q_gi_spacetime,
        "kde_grid": q_kde_grid,
        "geofence_transitions": q_geofence_transitions,
        "od_matrix": q_od_matrix,
        "resample_tracks": q_resample_tracks,
        "dwell_segments": q_dwell_segments,
    }


def _minhash_md5_sql(n_sigs: int = 12, n_bands: int = 4, pct: int = 50) -> str:
    rows = n_sigs // n_bands
    sigs = ",\n".join(
        f"        list_aggregate(list_transform(toks, t -> md5(concat('{i}|', t))), 'min') AS sig{i}"
        for i in range(n_sigs)
    )
    bands = "\n      UNION ALL ".join(
        f"SELECT id, toks, {b} AS band, "
        f"md5(concat_ws('|', {', '.join(f'sig{b * rows + r}' for r in range(rows))})) AS key FROM s"
        for b in range(n_bands)
    )
    return f"""
        WITH d AS (
          SELECT doc_id AS id,
                 list_distinct(list_filter(string_split(lower(text), ' '),
                                           x -> len(x) > 0)) AS toks
          FROM documents),
        d2 AS (SELECT id, toks FROM d WHERE len(toks) > 0),
        s AS (SELECT id, toks,
{sigs}
              FROM d2),
        bands AS ({bands}),
        p AS (
          SELECT DISTINCT a.id AS doc_a, b.id AS doc_b,
                          a.toks AS toks_a, b.toks AS toks_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.key = b.key AND a.id < b.id)
        SELECT doc_a, doc_b,
               CAST(len(list_intersect(toks_a, toks_b)) AS INT) AS i,
               CAST(len(toks_a) + len(toks_b)
                    - len(list_intersect(toks_a, toks_b)) AS INT) AS u
        FROM p
        WHERE len(list_intersect(toks_a, toks_b)) * 100
              >= (len(toks_a) + len(toks_b) - len(list_intersect(toks_a, toks_b))) * {pct}
    """


def _simhash_md5_sql(n_bits: int = 16, max_hamming: int = 3) -> str:
    # bit j derives from hex group j // 16 of md5(token) — mirrors
    # dedup.simhash_values_jvm exactly (DuckDB BIGINT caps this twin at
    # n_bits ≤ 62; `_simhash64_md5_sql` is the 64-bit twin)
    n_groups = (n_bits + 15) // 16

    def hex4(g: int) -> str:
        return " + ".join(
            f"(instr('0123456789abcdef', substring(md5(t), {4 * g + k + 1}, 1)) - 1)"
            f" * {16 ** (3 - k)}"
            for k in range(4)
        )

    vals_cols = ", ".join(
        f"list_transform(toks, t -> {hex4(g)}) AS vals{g}" for g in range(n_groups)
    )
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(vals{j // 16}, x -> "
        f"CASE WHEN (CAST(floor(x / {1 << (j % 16)}) AS INT) % 2) = 1 THEN 1 ELSE -1 END)) >= 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(n_bits)
    )
    ham = " + ".join(
        f"(CASE WHEN (CAST(floor(ha / {1 << j}) AS INT) % 2) "
        f"!= (CAST(floor(hb / {1 << j}) AS INT) % 2) THEN 1 ELSE 0 END)"
        for j in range(n_bits)
    )
    return f"""
        WITH d AS (
          SELECT doc_id AS id,
                 list_distinct(list_filter(string_split(lower(text), ' '),
                                           x -> len(x) > 0)) AS toks
          FROM documents),
        d2 AS (SELECT id, toks FROM d WHERE len(toks) > 0),
        v AS (SELECT id, {vals_cols} FROM d2),
        h AS (SELECT id, {bit_terms} AS simhash FROM v),
        p AS (SELECT a.id AS doc_a, b.id AS doc_b, a.simhash AS ha, b.simhash AS hb
              FROM h a JOIN h b ON a.id < b.id)
        SELECT doc_a, doc_b, CAST({ham} AS INT) AS hamming
        FROM p WHERE ({ham}) <= {max_hamming}
    """


def _minhash_shingle_sql(
    num_perm: int = 16, bands: int = 4, k: int = 5, pct: int = 50
) -> str:
    """DuckDB twin of dedup.minhash_lsh_pairs: distinct k-char shingles
    of lower(text) (space-padded when shorter than k) → h = first-15-hex of
    md5 → sig_i = min(xor(h, md5(i))) → band-slice equality candidates →
    matching-slot verify.  Identical band content ⟺ identical Spark bucket
    hash (xxhash64 of the slice), so the candidate sets agree."""
    import hashlib

    r = num_perm // bands
    consts = ", ".join(
        f"({i}, {int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)})"
        for i in range(num_perm)
    )
    band_eq = " OR ".join(
        f"(sa[{b * r + 1}:{(b + 1) * r}] = sb[{b * r + 1}:{(b + 1) * r}])"
        for b in range(bands)
    )
    match_sum = " + ".join(
        f"(CASE WHEN sa[{j}] = sb[{j}] THEN 1 ELSE 0 END)"
        for j in range(1, num_perm + 1)
    )
    return f"""
        WITH d AS (
          SELECT CAST(doc_id AS VARCHAR) AS id,
                 CASE WHEN length(lower(coalesce(text, ''))) < {k}
                      THEN rpad(lower(coalesce(text, '')), {k}, ' ')
                      ELSE lower(coalesce(text, '')) END AS t
          FROM documents),
        sh AS (
          SELECT id,
                 unnest(list_distinct(list_transform(
                   range(1, length(t) - {k} + 2),
                   i -> substr(t, CAST(i AS INT), {k})))) AS s
          FROM d),
        hs AS (
          SELECT id, CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS h
          FROM sh),
        perms(i, c) AS (VALUES {consts}),
        sigs AS (
          SELECT id, i, min(xor(h, c)) AS sig
          FROM hs CROSS JOIN perms GROUP BY id, i),
        arr AS (
          SELECT id, list(sig ORDER BY i) AS sigs FROM sigs GROUP BY id),
        p AS (
          SELECT a.id AS id_a, b.id AS id_b, a.sigs AS sa, b.sigs AS sb
          FROM arr a JOIN arr b ON a.id < b.id
          WHERE {band_eq})
        SELECT id_a, id_b, CAST({match_sum} AS INT) AS n_match
        FROM p
        WHERE ({match_sum}) * 100 >= {num_perm * pct}
    """


def _simhash64_md5_sql(max_hamming: int = 4) -> str:
    """DuckDB twin of dedup.simhash_pairs_jvm at 64 bits: the FULL md5-basis
    SimHash (true bit ops — xor/>>/&/bit_count — where the 16-bit twin
    `_simhash_md5_sql` uses division and caps at 62 bits) and a
    brute-force n² Hamming join; the blocked Spark plan must equal it by
    pigeonhole completeness."""
    n_groups = 4

    def hex4(g: int) -> str:
        return " + ".join(
            f"(instr('0123456789abcdef', substring(md5(t), {4 * g + kk + 1}, 1)) - 1)"
            f" * {16 ** (3 - kk)}"
            for kk in range(4)
        )

    vals_cols = ", ".join(
        f"list_transform(toks, t -> {hex4(g)}) AS vals{g}" for g in range(n_groups)
    )

    def bit_lit(j: int) -> str:
        # 1 << 63 overflows BIGINT; spell the sign bit as its int64 value
        return "(-9223372036854775807 - 1)" if j == 63 else str(1 << j)

    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(vals{j // 16}, x -> "
        f"CASE WHEN ((x >> {j % 16}) & 1) = 1 THEN 1 ELSE -1 END)) >= 0 "
        f"THEN {bit_lit(j)} ELSE 0 END)"
        for j in range(64)
    )
    return f"""
        WITH d AS (
          SELECT CAST(doc_id AS VARCHAR) AS id,
                 list_distinct(list_filter(string_split(lower(text), ' '),
                                           x -> len(x) > 0)) AS toks
          FROM documents),
        d2 AS (SELECT id, toks FROM d WHERE len(toks) > 0),
        v AS (SELECT id, {vals_cols} FROM d2),
        h AS (SELECT id, CAST({bit_terms} AS BIGINT) AS simhash FROM v),
        p AS (SELECT a.id AS id_a, b.id AS id_b, a.simhash AS ha, b.simhash AS hb
              FROM h a JOIN h b ON a.id < b.id)
        SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
        FROM p WHERE bit_count(xor(ha, hb)) <= {max_hamming}
    """


def _media_dims_sql() -> str:
    """DuckDB twin of q_media_dims: the synthesis seed is
    ``sum(byte_i * 131^i) mod 2^64 mod 2^32`` over the ref's utf-8 bytes
    (media_codecs._ref_seed — ascii refs, so ascii() == the byte), dims
    are ``16 + seed % 64`` / ``16 + (seed >> 8) % 64`` and the format is
    the synth rotation (1-in-8 jpeg, else png/bmp/ppm by seed % 3).  The
    engine must DECODE its way back to these numbers."""
    from .sources import corpus

    path = corpus.documents_spans_path("/root/testdata/sf0.01")
    powers = [pow(131, i, 2**64) for i in range(32)]
    terms = " + ".join(
        f"(CASE WHEN length(r) >= {i + 1} THEN "
        f"CAST(ascii(substr(r, {i + 1}, 1)) AS HUGEINT) * {powers[i]} ELSE 0 END)"
        for i in range(32)
    )
    return f"""
        WITH s AS (
          SELECT doc_id, unnest(spans) AS sp,
                 generate_subscripts(spans, 1) AS ord
          FROM read_parquet('{path}')),
        m AS (
          SELECT doc_id, CAST(ord - 1 AS INT) AS span_idx,
                 sp.media_ref AS media_ref, sp.media_ref AS r
          FROM s WHERE sp.kind = 'image'),
        seeded AS (
          SELECT doc_id, span_idx, media_ref,
                 CAST((({terms}) % 18446744073709551616 % 4294967296) AS BIGINT) AS seed
          FROM m)
        SELECT doc_id, span_idx, media_ref,
               CASE WHEN seed % 8 = 3 THEN 'jpeg'
                    WHEN seed % 3 = 0 THEN 'png'
                    WHEN seed % 3 = 1 THEN 'bmp'
                    ELSE 'ppm' END AS kind,
               CAST(16 + seed % 64 AS INT) AS width,
               CAST(16 + (seed >> 8) % 64 AS INT) AS height
        FROM seeded
    """


def _pip_expr_for_polygon(wkt_text: str) -> str:
    """SQL boolean over (lon, lat): EXACTLY the engine's intersects refine
    for one fixture polygon — antimeridian split via the engine's own
    splitter, then per part the kernel's crossing-parity + boundary test
    (`geo/kernels._pip_ring`) with every edge constant precomputed in
    Python (same IEEE doubles numpy would derive, embedded via repr) and
    the arithmetic parenthesized in the kernel's evaluation order.  Any
    drift in crossing rule, boundary tolerance, or the split makes the
    oracle disagree — that is the point."""
    import numpy as np

    from .geo import kernels, wkt as wktmod

    g = wktmod.parse_wkt(wkt_text)
    polys = (
        [wktmod.Geometry(wktmod.WKB_POLYGON, p) for p in g.coords]
        if g.kind == wktmod.WKB_MULTIPOLYGON
        else [g]
    )
    part_exprs = []
    for poly in polys:
        for part in wktmod.antimeridian_split(poly):
            parity_terms: list[str] = []
            boundary_terms: list[str] = []
            for ring in part.rings():
                r = kernels.close_ring(np.asarray(ring, dtype=np.float64))
                for (x1, y1), (x2, y2) in zip(r[:-1], r[1:]):
                    x1, y1, x2, y2 = float(x1), float(y1), float(x2), float(y2)
                    dx, dy = x2 - x1, y2 - y1
                    parity_terms.append(
                        f"(CASE WHEN (({y1!r} <= lat) != ({y2!r} <= lat)) "
                        f"AND lon < {x1!r} + (lat - {y1!r}) / {dy!r} * {dx!r} "
                        f"THEN 1 ELSE 0 END)"
                    )
                    thresh = float(
                        np.sqrt(max(dx * dx + dy * dy, 1.0) * 1e-12) * 1e-1 + 1e-12
                    )
                    lox, hix = min(x1, x2) - 1e-12, max(x1, x2) + 1e-12
                    loy, hiy = min(y1, y2) - 1e-12, max(y1, y2) + 1e-12
                    boundary_terms.append(
                        f"(abs({dx!r} * (lat - {y1!r}) - {dy!r} * (lon - {x1!r}))"
                        f" <= {thresh!r} AND lon >= {lox!r} AND lon <= {hix!r}"
                        f" AND lat >= {loy!r} AND lat <= {hiy!r})"
                    )
            part_exprs.append(
                "(((" + " + ".join(parity_terms) + ") % 2 = 1) OR "
                + " OR ".join(boundary_terms) + ")"
            )
    return "(" + " OR ".join(part_exprs) + ")"


def _flagship_spans_sql() -> str:
    """DuckDB twin of q_flagship_spans_join (round 5 — the flagship over
    ALL 12 fixture polygons, concave/holed/antimeridian/degenerate
    included, was the last non-media rows-only query): span extraction as
    in `_flagship_rect_sql`, then per polygon the generated exact-kernel
    boolean of :func:`_pip_expr_for_polygon`."""
    from .sources import corpus

    path = corpus.documents_spans_path("/root/testdata/sf0.01")
    re_pat = (
        "^\\s*[Pp][Oo][Ii][Nn][Tt]\\s*\\(\\s*([-+0-9.eE]+)\\s+([-+0-9.eE]+)\\s*\\)\\s*$"
    )
    arms = "\n          UNION ALL ".join(
        f"SELECT DISTINCT doc_id, '{p['polygon_id']}' AS polygon_id FROM g "
        f"WHERE {_pip_expr_for_polygon(p['wkt'])}"
        for p in corpus.fixture_polygons()
    )
    return f"""
        WITH raw AS (SELECT doc_id, spans FROM read_parquet('{path}')),
        ns AS (SELECT doc_id, CAST(len(spans) AS INT) AS n_spans FROM raw),
        s AS (SELECT doc_id, UNNEST(spans) AS sp FROM raw),
        g AS (
          SELECT doc_id,
                 TRY_CAST(nullif(regexp_extract(sp.text, '{re_pat}', 1), '') AS DOUBLE) AS lon,
                 TRY_CAST(nullif(regexp_extract(sp.text, '{re_pat}', 2), '') AS DOUBLE) AS lat
          FROM s WHERE sp.kind = 'geo'),
        m AS ({arms})
        SELECT m.doc_id, m.polygon_id, ns.n_spans
        FROM m JOIN ns USING (doc_id)
    """


def _flagship_rect_sql() -> str:
    from .sources import corpus

    path = corpus.documents_spans_path("/root/testdata/sf0.01")
    # same regex the engine's span extraction compiles (POINT_WKT_RE)
    re_pat = (
        "^\\s*[Pp][Oo][Ii][Nn][Tt]\\s*\\(\\s*([-+0-9.eE]+)\\s+([-+0-9.eE]+)\\s*\\)\\s*$"
    )
    return f"""
        WITH raw AS (SELECT doc_id, spans FROM read_parquet('{path}')),
        s AS (SELECT doc_id, UNNEST(spans) AS sp FROM raw),
        g AS (
          SELECT doc_id,
                 TRY_CAST(nullif(regexp_extract(sp.text, '{re_pat}', 1), '') AS DOUBLE) AS lon,
                 TRY_CAST(nullif(regexp_extract(sp.text, '{re_pat}', 2), '') AS DOUBLE) AS lat
          FROM s WHERE sp.kind = 'geo'),
        f AS (
          SELECT doc_id, lon, lat FROM g
          WHERE lon IS NOT NULL AND lat IS NOT NULL
            AND lon >= -180.0 AND lon <= 180.0 AND lat >= -90.0 AND lat <= 90.0),
        {_rects_cte()}
        SELECT DISTINCT doc_id, polygon_id
        FROM f JOIN rects
          ON lon >= lon0 AND lon <= lon1 AND lat >= lat0 AND lat <= lat1
    """


def _cell_sql(res: int) -> str:
    """DuckDB twin of autocorr._cell_key / tiling's packed grid key at
    ``res`` — textually the same clamp-floor arithmetic the hotspot /
    od-matrix oracles inline."""
    n = 1 << res
    return (
        f"((least(greatest(CAST(floor((lon + 180.0) / 360.0 * {n}) AS BIGINT), 0), {n - 1}) << {res})"
        f" | least(greatest(CAST(floor((lat + 90.0) / 180.0 * {n}) AS BIGINT), 0), {n - 1}))"
    )


def oracle_sql() -> dict[str, str]:
    from .operators.autocorr import (
        EHSA_CAT_SQL as _EHSA_CAT_SQL,
        GI_HOT_X1E6 as _GI_HOT,
        GI_STAR_SQL as _GI_STAR_SQL,
        LISA_I_SQL as _LISA_I_SQL,
        LISA_QUAD_SQL as _LISA_QUAD_SQL,
        LISA_Z_SQL as _LISA_Z_SQL,
        MK_TREND_SQL as _MK_TREND_SQL,
        MK_Z_SQL as _MK_Z_SQL,
        MORAN_I_SQL as _MORAN_I_SQL,
    )
    from .operators.pointpattern import (
        KNOX_E_SQL as _KNOX_E_SQL,
        KNOX_Z_SQL as _KNOX_Z_SQL,
        NN_G_SQL as _NN_G_SQL,
        cross_k_sql,
        cross_l_sql,
        pair_g_sql,
        ripley_k_sql,
        ripley_l_sql,
    )

    _RIPLEY_K_SQL = ripley_k_sql(60.0)
    _RIPLEY_L_SQL = ripley_l_sql(60.0)
    _PAIR_G_SQL = pair_g_sql(60.0)
    _CROSS_K_SQL = cross_k_sql(60.0)
    _CROSS_L_SQL = cross_l_sql(60.0)

    hav_c = _HAVERSINE.format(lon1="lon", lat1="lat", lon2="clon", lat2="clat")
    centers_vals = ", ".join(f"('{c}', {lo}, {la})" for c, lo, la in DWITHIN_CENTERS)
    knn_vals = ", ".join(f"('{q}', {lo}, {la})" for q, lo, la in KNN_CENTERS)
    tile_cases = " UNION ALL ".join(
        f"SELECT {z} AS zoom, "
        f"LEAST(CAST(floor((lon + 180.0) / 360.0 * {1 << z}) AS BIGINT), {(1 << z) - 1}) AS tile_x, "
        f"LEAST(CAST(floor((lat + 90.0) / 180.0 * {1 << z}) AS BIGINT), {(1 << z) - 1}) AS tile_y "
        f"FROM pts"
        for z in ZOOMS
    )
    return {
        "spatial_join_rect_intersects": f"""
            WITH {_pts_cte()}, {_rects_cte()}
            SELECT event_id, polygon_id
            FROM pts JOIN rects
              ON lon >= lon0 AND lon <= lon1 AND lat >= lat0 AND lat <= lat1
        """,
        "spatial_join_rect_contains": f"""
            WITH {_pts_cte()}, {_rects_cte()}
            SELECT event_id, polygon_id
            FROM pts JOIN rects
              ON lon > lon0 AND lon < lon1 AND lat > lat0 AND lat < lat1
        """,
        "st_dwithin_centers": f"""
            WITH {_pts_cte()},
            centers AS (SELECT * FROM (VALUES {centers_vals}) AS t(center_id, clon, clat))
            SELECT event_id, center_id
            FROM pts JOIN centers ON {hav_c} <= {DWITHIN_M}
        """,
        "tile_pyramid_counts": f"""
            WITH {_pts_cte()}, tiles AS ({tile_cases})
            SELECT zoom, tile_x, tile_y, count(*) AS n
            FROM tiles GROUP BY zoom, tile_x, tile_y
        """,
        "density_grid": f"""
            WITH pts AS (
              SELECT event_id, {LON_EXPR} AS lon, {LAT_EXPR} AS lat,
                     CAST(ROUND(value * 100) AS BIGINT) AS vc
              FROM events)
            SELECT LEAST(CAST(floor((lon + 180.0) / 360.0 * 64) AS BIGINT), 63) AS tile_x,
                   LEAST(CAST(floor((lat + 90.0) / 180.0 * 64) AS BIGINT), 63) AS tile_y,
                   count(*) AS n, CAST(SUM(vc) AS BIGINT) AS value_cents
            FROM pts GROUP BY 1, 2
        """,
        "knn_centers": f"""
            WITH {_pts_cte()},
            qs AS (SELECT * FROM (VALUES {knn_vals}) AS t(query_id, clon, clat)),
            d AS (
              SELECT query_id, event_id,
                     {hav_c} AS dist_m
              FROM pts CROSS JOIN qs),
            r AS (
              SELECT query_id, event_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY dist_m ASC, event_id ASC) AS rank
              FROM d)
            SELECT query_id, CAST(rank AS BIGINT) AS rank, event_id
            FROM r WHERE rank <= {KNN_K}
        """,
        "xz2_poly_point_join": f"""
            WITH {_pts_cte()},
            g AS (
              SELECT event_id AS geom_event_id, lon AS glon, lat AS glat
              FROM pts
              WHERE event_id % 37 = 0
                AND lat >= -80.0 AND lat <= 80.0
                AND lon >= -170.0 AND lon <= 170.0)
            SELECT p.event_id AS point_event_id, g.geom_event_id
            FROM pts p JOIN g
              ON p.lon >= g.glon - 2.005 AND p.lon <= g.glon + 2.005
             AND p.lat >= g.glat - 1.005 AND p.lat <= g.glat + 1.005
        """,
        "zonal_stats": f"""
            WITH pts AS (
              SELECT event_id, {LON_EXPR} AS lon, {LAT_EXPR} AS lat,
                     CAST(ROUND(value * 100) AS BIGINT) AS vc
              FROM events),
            g AS (
              SELECT event_id AS zone_id, lon AS glon, lat AS glat
              FROM pts
              WHERE event_id % 37 = 0
                AND lat >= -80.0 AND lat <= 80.0
                AND lon >= -170.0 AND lon <= 170.0)
            SELECT zone_id, count(*) AS n_points,
                   CAST(SUM(p.vc) AS BIGINT) AS value_cents,
                   MIN(p.event_id) AS min_event_id,
                   MAX(p.event_id) AS max_event_id
            FROM pts p JOIN g
              ON p.lon >= g.glon - 2.005 AND p.lon <= g.glon + 2.005
             AND p.lat >= g.glat - 1.005 AND p.lat <= g.glat + 1.005
            GROUP BY zone_id
        """,
        "flagship_rect_join": _flagship_rect_sql(),
        "flagship_spans_join": _flagship_spans_sql(),
        "media_dims": _media_dims_sql(),
        "minhash_lsh_pairs": _minhash_shingle_sql(num_perm=16, bands=4, pct=50),
        "simhash_pairs": _simhash64_md5_sql(max_hamming=4),
        "minhash_md5_pairs": _minhash_md5_sql(pct=90),
        "simhash_md5_pairs": _simhash_md5_sql(max_hamming=1),
        "xz2_poly_poly_join": f"""
            WITH {_pts_cte()},
            a AS (
              SELECT event_id AS gid_a, lon AS ax, lat AS ay FROM pts
              WHERE event_id % 53 = 0
                AND lat >= -80.0 AND lat <= 80.0 AND lon >= -170.0 AND lon <= 170.0),
            b AS (
              SELECT event_id AS gid_b, lon AS bx, lat AS by FROM pts
              WHERE event_id % 37 = 1
                AND lat >= -80.0 AND lat <= 80.0 AND lon >= -170.0 AND lon <= 170.0)
            SELECT gid_a, gid_b
            FROM a JOIN b
              ON ax - 3.0037 <= bx + 1.0017 AND ax + 3.0037 >= bx - 1.0017
             AND ay - 1.5037 <= by + 0.5017 AND ay + 1.5037 >= by - 0.5017
        """,
        "z3_bbox_time": f"""
            WITH {_pts_cte()}
            SELECT p.event_id
            FROM pts p JOIN events e ON p.event_id = e.event_id
            WHERE p.lon >= -60.005 AND p.lon <= 60.005
              AND p.lat >= -60.005 AND p.lat <= 60.005
              AND e.ts >= TIMESTAMP '2024-01-08 00:00:00'
              AND e.ts < TIMESTAMP '2024-01-15 00:00:00'
        """,
        "attr_index_scan": """
            SELECT event_id, user_id FROM events
            WHERE event_type = 'click'
              AND ts >= TIMESTAMP '2024-01-08 00:00:00'
              AND ts < TIMESTAMP '2024-01-15 00:00:00'
        """,
        "xz3_bbox_time": f"""
            WITH {_pts_cte()}
            SELECT p.event_id AS geom_id
            FROM pts p JOIN events e ON p.event_id = e.event_id
            WHERE p.event_id % 41 = 2
              AND p.lat >= -80.0 AND p.lat <= 80.0
              AND p.lon >= -170.0 AND p.lon <= 170.0
              AND p.lon - 2.005 <= 60.007 AND p.lon + 2.005 >= -60.007
              AND p.lat - 1.005 <= 60.007 AND p.lat + 1.005 >= -60.007
              AND e.ts >= TIMESTAMP '2024-01-05 00:00:00'
              AND e.ts < TIMESTAMP '2024-01-19 00:00:00'
        """,
        "spacetime_join": f"""
            WITH {_pts_cte()},
            a AS (
              SELECT p.event_id AS id_a, p.lon AS alon, p.lat AS alat,
                     epoch(e.ts) AS ats
              FROM pts p JOIN events e ON p.event_id = e.event_id
              WHERE p.event_id % 17 = 1),
            b AS (
              SELECT p.event_id AS id_b, p.lon AS blon, p.lat AS blat,
                     epoch(e.ts) AS bts
              FROM pts p JOIN events e ON p.event_id = e.event_id
              WHERE p.event_id % 13 = 2)
            SELECT id_a, id_b,
                   CAST(ROUND({_HAVERSINE.format(lon1="alon", lat1="alat", lon2="blon", lat2="blat")}) AS BIGINT) AS dist_m_round,
                   CAST(ABS(ats - bts) AS BIGINT) AS dt_s
            FROM a JOIN b
              ON {_HAVERSINE.format(lon1="alon", lat1="alat", lon2="blon", lat2="blat")} <= 150000.0
             AND ABS(ats - bts) <= {48 * 3600}
        """,
        "st_sql_measures": f"""
            WITH {_pts_cte()},
            r AS (
              SELECT event_id,
                     1.505 + (event_id % 4) * 0.5 AS hw,
                     1.005 AS hh, lon, lat
              FROM pts
              WHERE event_id % 29 = 3
                AND lat >= -80.0 AND lat <= 80.0
                AND lon >= -170.0 AND lon <= 170.0)
            SELECT event_id,
                   CAST(ROUND(4 * hw * hh * 1000000) AS BIGINT) AS area_u,
                   CAST(ROUND(4 * (hw + hh) * 1000000) AS BIGINT) AS perim_u,
                   CAST(ROUND(lon * 1000000) AS BIGINT) AS cx_u,
                   CAST(ROUND(lat * 1000000) AS BIGINT) AS cy_u
            FROM r
        """,
        "temporal_filter": """
            SELECT event_id, event_type FROM events
            WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
              AND ts < TIMESTAMP '2024-01-20 00:00:00'
              AND event_type IN ('click', 'view')
        """,
        "sample_mod": "SELECT event_id FROM events WHERE event_id % 20 = 0",
        "q1_pricing": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
                   CAST(SUM(CAST(ROUND(l_discount * 10000) AS BIGINT)) AS BIGINT) AS sum_disc_bp,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "stats_by_type": """
            SELECT event_type, count(*) AS n,
                   count(DISTINCT user_id) AS n_users,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
            FROM events GROUP BY event_type
        """,
        "histogram_values": """
            SELECT CAST(floor(value / 5.0) AS BIGINT) AS bucket, count(*) AS n
            FROM events GROUP BY 1
        """,
        "rollup_orders": """
            SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
                   o_orderpriority,
                   count(*) AS n,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
            FROM orders GROUP BY ROLLUP (yr, o_orderpriority)
        """,
        "join_customer_orders": """
            SELECT n_name, count(*) AS n_orders,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY n_name
        """,
        "top3_per_user": """
            SELECT user_id, CAST(rank AS INT) AS rank, event_id FROM (
              SELECT user_id, event_id,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY value DESC, event_id ASC) AS rank
              FROM events) WHERE rank <= 3
        """,
        "track_segments": """
            SELECT user_id, a, b FROM (
              SELECT user_id,
                     LAG(event_id) OVER (PARTITION BY user_id
                                         ORDER BY ts ASC, event_id ASC) AS a,
                     event_id AS b
              FROM events) WHERE a IS NOT NULL
        """,
        "sessionize": """
            SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions FROM (
              SELECT user_id,
                     CASE WHEN prev_ts IS NULL
                               OR epoch(ts) - epoch(prev_ts) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM (
                SELECT user_id, ts,
                       LAG(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts ASC, event_id ASC) AS prev_ts
                FROM events))
            GROUP BY user_id
        """,
        "cms_event_type_freq": """
            SELECT event_type, count(*) AS est_n FROM events GROUP BY event_type
        """,
        "dedup_exact_prefix": """
            SELECT md5(array_to_string(
                     (string_split(lower(text), ' '))[1:8], ' ')) AS fp,
                   count(*) AS n_docs, min(doc_id) AS keep_doc_id
            FROM documents GROUP BY 1
        """,
        "ngram_jaccard_pairs": """
            WITH d AS (
              SELECT doc_id, lang, source,
                     list_distinct(list_filter(string_split(lower(text), ' '),
                                               x -> len(x) > 0)) AS toks
              FROM documents)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(len(list_intersect(a.toks, b.toks)) AS INT) AS i,
                   CAST(len(a.toks) + len(b.toks)
                        - len(list_intersect(a.toks, b.toks)) AS INT) AS u
            FROM d a JOIN d b
              ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
            WHERE len(list_intersect(a.toks, b.toks)) * 100
                  >= (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) * 80
        """,
        "ann_ivf_topk": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
            q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 8),
            c AS (SELECT vec_id, emb FROM e WHERE vec_id >= 8),
            s AS (
              SELECT query_id, vec_id,
                     list_dot_product(qemb, emb)
                       / (sqrt(list_dot_product(qemb, qemb))
                          * sqrt(list_dot_product(emb, emb))) AS sim
              FROM c CROSS JOIN q),
            r AS (
              SELECT query_id, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, vec_id ASC) AS rank
              FROM s)
            SELECT query_id, CAST(rank AS INT) AS rank, vec_id FROM r WHERE rank <= 5
        """,
        "ann_topk_cosine": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
            q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 8),
            c AS (SELECT vec_id, emb FROM e WHERE vec_id >= 8),
            s AS (
              SELECT query_id, vec_id,
                     list_dot_product(qemb, emb)
                       / (sqrt(list_dot_product(qemb, qemb))
                          * sqrt(list_dot_product(emb, emb))) AS sim
              FROM c CROSS JOIN q),
            r AS (
              SELECT query_id, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, vec_id ASC) AS rank
              FROM s)
            SELECT query_id, CAST(rank AS INT) AS rank, vec_id FROM r WHERE rank <= 5
        """,
        "asof_click_purchase": """
            WITH l AS (
              SELECT user_id, ts, event_id AS lid, CAST(NULL AS BIGINT) AS rid, 1 AS side
              FROM events WHERE event_type = 'click'),
            r AS (
              SELECT user_id, ts, CAST(NULL AS BIGINT) AS lid, event_id AS rid, 0 AS side
              FROM events WHERE event_type = 'purchase'),
            u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
            f AS (
              SELECT user_id, lid, side,
                     LAST_VALUE(rid IGNORE NULLS) OVER (
                       PARTITION BY user_id
                       ORDER BY ts ASC, side ASC, rid ASC NULLS FIRST
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_rid
              FROM u)
            SELECT user_id, lid AS event_id, asof_rid AS asof_event_id
            FROM f WHERE side = 1
        """,
        "lang_id": """
            WITH toks AS (
              SELECT doc_id,
                     string_split_regex(lower(text), '\\s+') AS tk
              FROM documents),
            s AS (
              SELECT doc_id,
                len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS s_en,
                len(list_filter(tk, x -> x IN ('der','die','das','und','ist','nicht','ein','mit','von','zu'))) AS s_de,
                len(list_filter(tk, x -> x IN ('le','la','les','et','est','un','une','de','que','pour'))) AS s_fr,
                len(list_filter(tk, x -> x IN ('el','la','los','y','es','un','una','de','que','por'))) AS s_es
              FROM toks)
            SELECT doc_id,
                   CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                        WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                        WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                        WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                        ELSE 'es' END AS pred_lang
            FROM s
        """,
        "text_quality": """
            SELECT doc_id,
                   CAST(len(list_filter(string_split(lower(text), ' '),
                                        x -> len(x) > 0)) AS BIGINT) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars_m,
                   length(text) < 200 AS is_short,
                   CAST(len(list_filter(string_split(lower(text), ' '),
                        x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT)
                     AS n_stopwords
            FROM documents
        """,
        "decontaminate": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
              FROM documents),
            g AS (
              SELECT doc_id,
                     list_transform(range(1, greatest(len(toks) - 8 + 1, 0) + 1),
                                    i -> array_to_string(toks[i:i+7], ' ')) AS grams
              FROM t),
            bench AS (
              SELECT DISTINCT UNNEST(grams) AS gram FROM g WHERE doc_id % 10 = 0),
            corpus AS (
              SELECT doc_id, UNNEST(grams) AS gram FROM g WHERE doc_id % 10 != 0)
            SELECT doc_id, COUNT(DISTINCT gram) AS n_hits
            FROM corpus JOIN bench USING (gram)
            GROUP BY doc_id
        """,
        "set_ops_users": """
            WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
                 b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
            SELECT 'both' AS op, user_id
            FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM b)
            UNION ALL
            SELECT 'click_only' AS op, user_id
            FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM b)
            UNION ALL
            SELECT 'either' AS op, user_id
            FROM (SELECT user_id FROM c UNION SELECT user_id FROM b)
        """,
        "descriptive_stats": f"""
            WITH e AS (SELECT event_type,
                              CAST(ROUND(value * 100) AS BIGINT) AS vc
                       FROM events),
            a AS (SELECT event_type, COUNT(*) AS n,
                         MIN(vc) AS min_cents, MAX(vc) AS max_cents,
                         CAST(SUM(vc) AS BIGINT) AS s1,
                         CAST(SUM(vc * vc) AS BIGINT) AS s2,
                         CAST(SUM(vc * vc * vc) AS BIGINT) AS s3
                  FROM e GROUP BY event_type)
            SELECT event_type, n, min_cents, max_cents, {_DESC_FINAL}
            FROM a
        """,
        "tube_select_corridor": _tube_sql(),
        "route_match": _route_sql(),
        "doc_fingerprints": """
            WITH t AS (
              SELECT doc_id,
                     regexp_replace(lower(text), '\\s+', ' ', 'g') AS s
              FROM documents),
            g AS (
              SELECT doc_id,
                     list_transform(range(1, greatest(length(s) - 16 + 1, 0) + 1),
                                    i -> substring(md5(substring(s, i, 16)), 1, 16)) AS grams
              FROM t)
            SELECT CASE WHEN len(grams) = 0 THEN NULL
                        ELSE list_aggregate(grams, 'min') END AS fp,
                   COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
            FROM g GROUP BY 1
        """,
        "embedding_near_dup": """
            WITH q AS (
              SELECT vec_id AS id,
                     list_transform(embedding,
                                    x -> CAST(ROUND(x * 1000000.0) AS BIGINT)) AS qv
              FROM embeddings),
            dims AS (
              SELECT t.range AS t, p.range AS p, j.range AS j,
                     CASE WHEN substring(md5(t.range || '|' || p.range || '|'
                                             || j.range), 1, 1) < '8'
                          THEN 1 ELSE -1 END AS s
              FROM range(12) t, range(4) p, range(64) j),
            dots AS (
              SELECT q.id, d.t, d.p, SUM(d.s * q.qv[d.j + 1]) AS dot
              FROM q CROSS JOIN dims d
              GROUP BY q.id, d.t, d.p),
            keys AS (
              SELECT id, t, SUM(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS key
              FROM dots GROUP BY id, t),
            cand AS (
              SELECT DISTINCT a.id AS id_a, b.id AS id_b
              FROM keys a JOIN keys b
                ON a.t = b.t AND a.key = b.key AND a.id < b.id),
            v AS (
              SELECT c.id_a, c.id_b, qa.qv AS va, qb.qv AS vb
              FROM cand c
              JOIN q qa ON qa.id = c.id_a
              JOIN q qb ON qb.id = c.id_b),
            m AS (
              SELECT id_a, id_b,
                list_sum(list_transform(range(1, len(va) + 1),
                         i -> CAST(va[i] AS HUGEINT) * vb[i])) AS num,
                list_sum(list_transform(range(1, len(va) + 1),
                         i -> CAST(va[i] AS HUGEINT) * va[i])) AS na2,
                list_sum(list_transform(range(1, len(vb) + 1),
                         i -> CAST(vb[i] AS HUGEINT) * vb[i])) AS nb2
              FROM v)
            SELECT id_a, id_b FROM m
            WHERE num > 0 AND 400 * num * num >= 81 * na2 * nb2
        """,
        "winnow_fingerprints": """
            WITH t AS (
              SELECT doc_id,
                     regexp_replace(lower(text), '\\s+', ' ', 'g') AS s
              FROM documents),
            g AS (
              SELECT doc_id,
                     list_transform(range(1, greatest(length(s) - 16 + 1, 0) + 1),
                                    i -> substring(md5(substring(s, i, 16)), 1, 16)) AS grams
              FROM t),
            m AS (
              SELECT doc_id, grams,
                     greatest(len(grams) - 32 + 1, 1) AS nw
              FROM g WHERE len(grams) > 0),
            w AS (
              SELECT doc_id,
                     list_distinct(list_transform(range(1, nw + 1),
                                   j -> list_aggregate(grams[j:j+31], 'min'))) AS fps
              FROM m)
            SELECT doc_id, UNNEST(fps) AS fp FROM w
        """,
        "tfidf_topk": """
            WITH toks AS (
              SELECT doc_id, UNNEST(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       x -> x != '')) AS term
              FROM documents),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf
                   FROM toks GROUP BY doc_id, term),
            idf AS (
              SELECT term,
                     CAST(ROUND((ln(((SELECT COUNT(*) FROM documents) + 1)
                                    / (COUNT(*) + 1.0)) + 1.0) * 1000000) AS BIGINT)
                       AS idf_micros
              FROM tf GROUP BY term),
            scored AS (
              SELECT tf.doc_id, tf.term, tf.tf * idf.idf_micros AS score_micros,
                     ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                        ORDER BY tf.tf * idf.idf_micros DESC,
                                                 tf.term ASC) AS rank
              FROM tf JOIN idf USING (term))
            SELECT doc_id, rank, term, score_micros
            FROM scored WHERE rank <= 5
        """,
        "gopher_quality": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                 x -> x != '') AS toks
              FROM documents),
            m AS (
              SELECT doc_id,
                     CAST(len(toks) AS BIGINT) AS n_words,
                     CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
                          AS BIGINT) AS total_word_chars,
                     CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                          AS BIGINT) AS n_alpha_words,
                     CAST(len(list_filter(list_distinct(toks),
                          x -> x IN ('the','be','to','of','and','that','have','with')))
                          AS BIGINT) AS n_stopwords
              FROM t)
            SELECT doc_id, n_words, total_word_chars, n_alpha_words, n_stopwords,
                   n_words BETWEEN 30 AND 100000 AS word_count_ok,
                   (n_words > 0 AND 3*n_words <= total_word_chars
                     AND total_word_chars <= 10*n_words) AS mean_word_len_ok,
                   5*n_alpha_words >= 4*n_words AS alpha_ok,
                   n_stopwords >= 1 AS stopword_ok,
                   ((n_words BETWEEN 30 AND 100000)
                     AND (n_words > 0 AND 3*n_words <= total_word_chars
                          AND total_word_chars <= 10*n_words)
                     AND 5*n_alpha_words >= 4*n_words
                     AND n_stopwords >= 1) AS keep
            FROM m
        """,
        "line_dedup": """
            WITH lines AS (
              SELECT doc_id, md5(l) AS h
              FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l
                    FROM documents)
              WHERE length(l) > 0),
            per AS (SELECT doc_id, h, count(*) AS m FROM lines GROUP BY 1, 2),
            tot AS (SELECT h, SUM(m) AS f FROM per GROUP BY 1)
            SELECT doc_id,
                   CAST(SUM(m) AS BIGINT) AS n_lines,
                   CAST(SUM(CASE WHEN f > 1 THEN m ELSE 0 END) AS BIGINT) AS n_dup_lines,
                   CAST((1000 * SUM(CASE WHEN f > 1 THEN m ELSE 0 END)) // SUM(m) AS BIGINT) AS dup_permille
            FROM per JOIN tot USING (h)
            GROUP BY doc_id
        """,
        "ccnet_buckets": """
            WITH toks AS (
              SELECT doc_id, lang, UNNEST(list_filter(
                       regexp_split_to_array(text, '\\s+'), x -> x != '')) AS tok
              FROM documents),
            tf AS (SELECT lang, doc_id, tok, COUNT(*) AS tf
                   FROM toks GROUP BY 1, 2, 3),
            freq AS (SELECT lang, tok, SUM(tf) AS cnt FROM tf GROUP BY 1, 2),
            total AS (SELECT lang, SUM(cnt) AS total FROM freq GROUP BY 1),
            nll AS (
              SELECT freq.lang, tok,
                     CAST(ROUND(-ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
                                * 1000000) AS BIGINT) AS nll_micros
              FROM freq JOIN total USING (lang)),
            scored AS (
              SELECT tf.lang, tf.doc_id,
                     CAST(ROUND(SUM(tf.tf * nll.nll_micros) / SUM(tf.tf)) AS BIGINT)
                       AS ppl_micros
              FROM tf JOIN nll USING (lang, tok)
              GROUP BY 1, 2)
            SELECT doc_id, lang, ppl_micros,
                   CASE NTILE(3) OVER (PARTITION BY lang
                                       ORDER BY ppl_micros, doc_id)
                     WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
                   END AS bucket
            FROM scored
        """,
        "c4_filter": f"""
            WITH lined AS (
              SELECT doc_id, {C4_LINED_TEXT_SQL} AS text FROM documents),
            k AS (
              SELECT doc_id, text,
                     CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
                     list_filter(
                       list_transform(string_split(text, chr(10)), x -> trim(x)),
                       l -> l != '' AND right(l, 1) IN ('.', '!', '?', '"')
                            AND len(list_filter(regexp_split_to_array(l, '\\s+'),
                                                w -> w != '')) >= 5
                            AND NOT contains(lower(l), 'javascript')) AS kept
              FROM lined)
            SELECT doc_id, n_lines,
                   CAST(len(kept) AS BIGINT) AS n_kept,
                   -- DuckDB: array_to_string([]) is NULL; Spark array_join is ''
                   coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
                   (len(kept) >= 3
                     AND NOT contains(lower(text), 'lorem ipsum')
                     AND NOT contains(text, '{{')) AS page_kept
            FROM k
        """,
        "temp_mixture": """
            WITH w AS (
              SELECT source,
                     CAST(ROUND(SQRT(CAST(COUNT(*) AS DOUBLE)) * 1000000)
                          AS BIGINT) AS w_micros
              FROM documents GROUP BY source),
            q AS (
              SELECT source,
                     CAST((200 * w_micros) // SUM(w_micros) OVER () AS BIGINT)
                       AS quota
              FROM w),
            r AS (
              SELECT source, doc_id,
                     CAST(ROW_NUMBER() OVER (PARTITION BY source
                          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                          AS BIGINT) AS rank
              FROM documents)
            SELECT r.source, doc_id, rank, quota
            FROM r JOIN q ON r.source = q.source
            WHERE rank <= quota
        """,
        "pii_redact": (
            """
            WITH p AS (SELECT doc_id, """
            + PII_TEXT_SQL
            + """ AS text FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '"""
            + _PII_EMAIL
            + """')) AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(text, '"""
            + _PII_IPV4
            + """')) AS BIGINT) AS n_ips,
                   CAST(len(regexp_extract_all(text, '"""
            + _PII_PHONE
            + """')) AS BIGINT) AS n_phones,
                   regexp_replace(regexp_replace(regexp_replace(text,
                     '"""
            + _PII_EMAIL
            + """', '|EMAIL|', 'g'),
                     '"""
            + _PII_IPV4
            + """', '|IP|', 'g'),
                     '"""
            + _PII_PHONE
            + """', '|PHONE|', 'g') AS clean_text
            FROM p
        """
        ),
        "dsir_select": """
            WITH flagged AS (
              SELECT doc_id, (source = 'src0') AS is_t, text FROM documents),
            toks AS (
              SELECT doc_id, is_t, UNNEST(list_filter(
                       regexp_split_to_array(text, '\\s+'), x -> x != '')) AS tok
              FROM flagged),
            tf AS (
              SELECT doc_id, is_t,
                     CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) % 1024
                       AS bucket,
                     COUNT(*) AS tf
              FROM toks GROUP BY 1, 2, 3),
            p AS (SELECT bucket, SUM(tf) AS p_cnt FROM tf WHERE is_t GROUP BY 1),
            q AS (SELECT bucket, SUM(tf) AS q_cnt FROM tf WHERE NOT is_t GROUP BY 1),
            tot AS (SELECT (SELECT SUM(p_cnt) FROM p) AS p_total,
                           (SELECT SUM(q_cnt) FROM q) AS q_total),
            r AS (
              SELECT coalesce(q.bucket, p.bucket) AS bucket,
                     CAST(ROUND((
                       ln(CAST(coalesce(p_cnt, 0) + 1 AS DOUBLE)
                          / CAST(p_total + 1024 AS DOUBLE))
                       - ln(CAST(coalesce(q_cnt, 0) + 1 AS DOUBLE)
                            / CAST(q_total + 1024 AS DOUBLE))
                     ) * 1000000) AS BIGINT) AS ratio_micros
              FROM q FULL OUTER JOIN p ON q.bucket = p.bucket CROSS JOIN tot),
            s AS (
              SELECT doc_id,
                     CAST(SUM(tf * ratio_micros) AS BIGINT) AS score_micros
              FROM tf JOIN r USING (bucket) WHERE NOT is_t GROUP BY 1)
            SELECT doc_id, score_micros,
                   CAST(ROW_NUMBER() OVER (ORDER BY score_micros DESC, doc_id)
                        AS BIGINT) AS rank
            FROM s ORDER BY score_micros DESC, doc_id LIMIT 150
        """,
        "domain_cap": """
            WITH u0 AS (SELECT doc_id, {url} AS url FROM documents),
            s1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM u0),
            s2 AS (SELECT doc_id, u,
                          regexp_extract(u, '^([a-zA-Z]+://[^/?]+)', 1) AS p
                   FROM s1),
            s3 AS (SELECT doc_id,
                          lower(p) || substring(u, length(p) + 1) AS u FROM s2),
            s4 AS (SELECT doc_id, regexp_replace(u,
                     '^([a-z]+://[^/:?]+):(80|443)($|[/?])', '\\1\\3') AS u
                   FROM s3),
            s5 AS (SELECT doc_id,
                          regexp_replace(u, '^([a-z]+://)(www\\.)+', '\\1') AS u
                   FROM s4),
            s6 AS (SELECT doc_id,
                          regexp_replace(u, 'utm_[^&]*&', '', 'g') AS u FROM s5),
            s7 AS (SELECT doc_id,
                          regexp_replace(u, '[?&]utm_[^&]*$', '') AS u FROM s6),
            s8 AS (SELECT doc_id,
                          regexp_replace(u, '/$', '') AS url_canon FROM s7),
            d AS (SELECT doc_id, url_canon,
                    regexp_extract(regexp_extract(url_canon,
                      '^[a-z]+://([^/:?]+)', 1), '([^.]+\\.[^.]+)$', 1) AS domain
                  FROM s8),
            r AS (SELECT doc_id, url_canon, domain,
                    CAST(ROW_NUMBER() OVER (PARTITION BY domain
                      ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS BIGINT)
                      AS rank
                  FROM d)
            SELECT doc_id, url_canon, domain, rank, rank <= 3 AS kept FROM r
        """.format(url=URL_TEXT_SQL),
        "semdedup": """
            WITH q AS (
              SELECT vec_id AS id,
                     list_transform(embedding,
                                    x -> CAST(ROUND(x * 1000000.0) AS BIGINT)) AS qv
              FROM embeddings),
            seeds AS (
              SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS c, qv AS cv
              FROM q ORDER BY id LIMIT 8),
            d AS (
              SELECT q.id, s.c,
                     list_sum(list_transform(range(1, len(qv) + 1),
                              i -> CAST(qv[i] - cv[i] AS HUGEINT)
                                   * (qv[i] - cv[i]))) AS d2
              FROM q CROSS JOIN seeds s),
            asg AS (
              SELECT id, CAST(c AS INTEGER) AS cluster FROM (
                SELECT id, c,
                       ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, c) AS rn
                FROM d)
              WHERE rn = 1),
            pairs AS (
              SELECT b.id AS id_b, qa.qv AS va, qb.qv AS vb
              FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.id < b.id
              JOIN q qa ON qa.id = a.id
              JOIN q qb ON qb.id = b.id),
            m AS (
              SELECT id_b,
                list_sum(list_transform(range(1, len(va) + 1),
                         i -> CAST(va[i] AS HUGEINT) * vb[i])) AS num,
                list_sum(list_transform(range(1, len(va) + 1),
                         i -> CAST(va[i] AS HUGEINT) * va[i])) AS na2,
                list_sum(list_transform(range(1, len(vb) + 1),
                         i -> CAST(vb[i] AS HUGEINT) * vb[i])) AS nb2
              FROM pairs),
            removed AS (
              SELECT DISTINCT id_b FROM m
              WHERE num > 0 AND 400 * num * num >= 81 * na2 * nb2)
            SELECT asg.id AS vec_id, asg.cluster,
                   removed.id_b IS NULL AS keep
            FROM asg LEFT JOIN removed ON asg.id = removed.id_b
        """,
        "substring_dedup": """
            WITH t AS (
              SELECT doc_id, list_filter(
                       regexp_split_to_array(text, '\\s+'), x -> x != '') AS toks
              FROM documents),
            w AS (
              SELECT doc_id, md5(array_to_string(toks[i : i + 7], ' ')) AS h
              FROM t, UNNEST(range(1, len(toks) - 7 + 1)) AS r(i)),
            per AS (SELECT doc_id, h, COUNT(*) AS m FROM w GROUP BY 1, 2),
            tot AS (SELECT h, SUM(m) AS f FROM per GROUP BY 1)
            SELECT per.doc_id,
                   CAST(SUM(m) AS BIGINT) AS n_windows,
                   CAST(SUM(CASE WHEN f > 1 THEN m ELSE 0 END) AS BIGINT)
                     AS n_dup_windows,
                   CAST((1000 * SUM(CASE WHEN f > 1 THEN m ELSE 0 END)) // SUM(m)
                     AS BIGINT) AS dup_permille
            FROM per JOIN tot USING (h) GROUP BY 1
        """,
        "para_dedup": """
            WITH lined AS (
              SELECT doc_id, {lined} AS text FROM documents),
            t AS (SELECT doc_id, regexp_split_to_array(text, chr(10)) AS ps
                  FROM lined),
            paras AS (
              SELECT doc_id, i - 1 AS pos, md5(ps[i]) AS h
              FROM t, UNNEST(range(1, len(ps) + 1)) AS r(i)
              WHERE ps[i] != ''),
            flagged AS (
              SELECT doc_id, pos, h,
                     ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) = 1
                       AS keep
              FROM paras)
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_paras,
                   CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   CASE WHEN SUM(CASE WHEN keep THEN 1 ELSE 0 END) > 0
                        THEN md5(string_agg(CASE WHEN keep THEN h END, ''
                                            ORDER BY pos))
                   END AS kept_fingerprint
            FROM flagged GROUP BY 1
        """.format(lined=C4_LINED_TEXT_SQL),
        "doc_repetition": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                 x -> x != '') AS toks
              FROM documents),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) ELSE
                       list_transform(range(1, len(toks) - 2 + 1 + 1),
                                      j -> array_to_string(toks[j:j+1], ' ')) END AS grams
              FROM t),
            e AS (SELECT doc_id, UNNEST(grams) AS gram FROM g),
            c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM e GROUP BY doc_id, gram),
            r AS (SELECT doc_id, SUM(cnt) AS n_grams, COUNT(*) AS n_distinct,
                         MAX(cnt) AS max_gram_count
                  FROM c GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(r.n_grams, 0) AS BIGINT) AS n_grams,
                   CAST(coalesce(r.n_distinct, 0) AS BIGINT) AS n_distinct,
                   CAST(coalesce(r.max_gram_count, 0) AS BIGINT) AS max_gram_count,
                   100 * (coalesce(r.n_grams, 0) - coalesce(r.n_distinct, 0))
                     > 5 * coalesce(r.n_grams, 0) AS repetitive
            FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE pairs AS ({_simhash_md5_sql(max_hamming=1)}),
            edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                      UNION SELECT doc_b, doc_a FROM pairs),
            reach(src, dst) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
            )
            SELECT src AS doc_id, MIN(dst) AS cluster_rep,
                   MIN(dst) = src AS is_canonical
            FROM reach GROUP BY src
        """,
        "pack_sequences": """
            WITH t AS (
              SELECT doc_id, source,
                     CAST(len(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       x -> x != '')) AS BIGINT) AS n_tokens
              FROM documents),
            o AS (
              SELECT doc_id, source, n_tokens,
                     CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          - n_tokens AS BIGINT) AS start_offset
              FROM t)
            SELECT doc_id, source, n_tokens, start_offset,
                   CAST(start_offset // 512 AS BIGINT) AS pack_id,
                   CAST(start_offset % 512 AS BIGINT) AS offset_in_pack
            FROM o
        """,
        "corpus_mix": """
            WITH base AS (
              SELECT doc_id, {mix} AS text, source FROM documents),
            t AS (
              SELECT doc_id, source, text,
                     list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                 x -> x != '') AS toks
              FROM base),
            m AS (
              SELECT doc_id,
                     CAST(len(toks) AS BIGINT) AS n_words,
                     CAST(coalesce(list_sum(list_transform(toks, x -> length(x))),
                          0) AS BIGINT) AS twc,
                     CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                          AS BIGINT) AS n_alpha,
                     CAST(len(list_filter(list_distinct(toks),
                          x -> x IN ('the','be','to','of','and','that','have',
                                     'with'))) AS BIGINT) AS n_stop
              FROM t),
            keep AS (
              SELECT doc_id FROM m
              WHERE n_words BETWEEN 30 AND 100000
                AND n_words > 0 AND 3*n_words <= twc AND twc <= 10*n_words
                AND 5*n_alpha >= 4*n_words
                AND n_stop >= 1),
            firsts AS (
              SELECT MIN(doc_id) AS doc_id
              FROM (SELECT t.doc_id, md5(t.text) AS h
                    FROM t JOIN keep USING (doc_id))
              GROUP BY h),
            s AS (
              SELECT t.doc_id, t.source, CAST(len(t.toks) AS BIGINT) AS n_tokens
              FROM t JOIN firsts USING (doc_id)),
            o AS (
              SELECT doc_id, source, n_tokens,
                     CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          - n_tokens AS BIGINT) AS start_offset
              FROM s)
            SELECT doc_id, source, n_tokens, start_offset,
                   CAST(start_offset // 512 AS BIGINT) AS pack_id,
                   CAST(start_offset % 512 AS BIGINT) AS offset_in_pack
            FROM o
        """.format(mix=MIX_TEXT_SQL),
        "stratified_sample": """
            SELECT lang, source, doc_id, rank FROM (
              SELECT lang, source, doc_id,
                     CAST(ROW_NUMBER() OVER (PARTITION BY lang, source
                          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rank
              FROM documents)
            WHERE rank <= 20
        """,
        "track_hausdorff": f"""
            WITH pts AS (
              SELECT user_id, event_id, {LON_EXPR} AS lon, {LAT_EXPR} AS lat
              FROM events WHERE user_id < 6),
            d AS (
              SELECT a.user_id AS ua, b.user_id AS ub, a.event_id AS pa,
                     MIN((a.lon - b.lon) * (a.lon - b.lon)
                         + (a.lat - b.lat) * (a.lat - b.lat)) AS dmin
              FROM pts a JOIN pts b ON a.user_id != b.user_id
              GROUP BY a.user_id, b.user_id, a.event_id)
            SELECT ua, ub,
                   CAST(ROUND(MAX(dmin) * 1000000000) AS BIGINT)
                     AS hausdorff_deg2_x1e9
            FROM d GROUP BY ua, ub
        """,
        "hotspot_clusters": f"""
            WITH RECURSIVE pts AS (
              SELECT {LON_EXPR} AS lon, {LAT_EXPR} AS lat FROM events),
            k AS (
              SELECT ((least(greatest(CAST(floor((lon + 180.0) / 360.0 * 64) AS BIGINT), 0), 63) << 6)
                      | least(greatest(CAST(floor((lat + 90.0) / 180.0 * 64) AS BIGINT), 0), 63))
                     AS cell_key
              FROM pts),
            core AS (SELECT cell_key, COUNT(*) AS n FROM k
                     GROUP BY cell_key HAVING COUNT(*) >= 5),
            offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
                                    (0,1),(1,-1),(1,0),(1,1)),
            e AS (
              SELECT c.cell_key AS a,
                     ((((c.cell_key >> 6) + o.dx) << 6)
                      | ((c.cell_key & 63) + o.dy)) AS b
              FROM core c, offs o
              WHERE (c.cell_key >> 6) + o.dx BETWEEN 0 AND 63
                AND (c.cell_key & 63) + o.dy BETWEEN 0 AND 63),
            edges AS (SELECT e.a, e.b FROM e JOIN core c2 ON c2.cell_key = e.b),
            reach(src, dst) AS (
              SELECT cell_key, cell_key FROM core
              UNION
              SELECT r.src, ed.b FROM reach r JOIN edges ed ON ed.a = r.dst),
            lab AS (SELECT src AS cell_key, MIN(dst) AS cluster_rep
                    FROM reach GROUP BY src)
            SELECT c.cell_key, c.n, l.cluster_rep,
                   l.cluster_rep = c.cell_key AS is_canonical
            FROM core c JOIN lab l USING (cell_key)
        """,
        "geofence_transitions": f"""
            WITH pts AS (
              SELECT event_id, user_id, ts, {LON_EXPR} AS lon, {LAT_EXPR} AS lat
              FROM events),
            f AS (
              SELECT event_id, user_id, ts,
                CASE
                  WHEN lon >= 10.0 AND lon <= 20.0 AND lat >= 10.0 AND lat <= 20.0 THEN 'P1'
                  WHEN lon >= -60.0 AND lon <= -40.0 AND lat >= -30.0 AND lat <= -10.0 THEN 'P2'
                  WHEN lon >= 100.0 AND lon <= 120.0 AND lat >= 40.0 AND lat <= 60.0 THEN 'P3'
                  WHEN lon >= -10.0 AND lon <= 30.0 AND lat >= -75.0 AND lat <= -50.0 THEN 'P4'
                  WHEN lon >= -150.0 AND lon <= -110.0 AND lat >= 10.0 AND lat <= 50.0 THEN 'P10'
                  WHEN lon >= 20.0 AND lon <= 30.0 AND lat >= -45.0 AND lat <= -35.0 THEN 'P12'
                  ELSE NULL END AS fence_id
              FROM pts),
            l AS (
              SELECT user_id, ts, fence_id,
                     LAG(fence_id) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_fence_id,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM f)
            SELECT user_id, ts, fence_id, prev_fence_id,
                   CASE WHEN prev_fence_id IS NULL THEN 'enter'
                        WHEN fence_id IS NULL THEN 'exit'
                        ELSE 'switch' END AS transition
            FROM l WHERE rn > 1 AND fence_id IS DISTINCT FROM prev_fence_id
        """,
        "od_matrix": f"""
            WITH pts AS (
              SELECT event_id, user_id, ts, {LON_EXPR} AS lon, {LAT_EXPR} AS lat
              FROM events),
            k AS (
              SELECT user_id, date_trunc('hour', ts) AS session_id, event_id, ts,
                ((least(greatest(CAST(floor((lon + 180.0) / 360.0 * 32) AS BIGINT), 0), 31) << 5)
                 | least(greatest(CAST(floor((lat + 90.0) / 180.0 * 32) AS BIGINT), 0), 31)) AS key
              FROM pts),
            s AS (
              SELECT user_id, session_id,
                     FIRST_VALUE(key) OVER w AS origin_key,
                     LAST_VALUE(key) OVER w AS dest_key
              FROM k
              WINDOW w AS (PARTITION BY user_id, session_id
                           ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                             AND UNBOUNDED FOLLOWING)),
            d AS (SELECT DISTINCT user_id, session_id, origin_key, dest_key FROM s)
            SELECT origin_key, dest_key, COUNT(*) AS n_trips
            FROM d GROUP BY origin_key, dest_key
        """,
        "resample_tracks": f"""
            WITH pts AS (
              SELECT event_id, user_id, ts, {LON_EXPR} AS lon, {LAT_EXPR} AS lat
              FROM events WHERE user_id < 20),
            t AS (
              SELECT user_id, epoch_us(ts) AS t, lon, lat,
                     LEAD(epoch_us(ts)) OVER w AS nt,
                     LEAD(lon) OVER w AS nlon,
                     LEAD(lat) OVER w AS nlat
              FROM pts
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            seg AS (SELECT * FROM t WHERE nt IS NOT NULL AND nt > t),
            e AS (
              SELECT user_id, t, nt, lon, lat, nlon, nlat,
                     UNNEST(range(t // 3600000000 + 1, nt // 3600000000 + 1)) AS k
              FROM seg)
            SELECT user_id,
                   k * 3600000000 AS b_us,
                   CAST(ROUND((lon + (nlon - lon) *
                        (CAST(k * 3600000000 - t AS DOUBLE) / CAST(nt - t AS DOUBLE)))
                        * 1000000) AS BIGINT) AS lon_micros,
                   CAST(ROUND((lat + (nlat - lat) *
                        (CAST(k * 3600000000 - t AS DOUBLE) / CAST(nt - t AS DOUBLE)))
                        * 1000000) AS BIGINT) AS lat_micros
            FROM e
        """,
        "dwell_segments": f"""
            WITH pts AS (
              SELECT event_id, user_id, ts, {LON_EXPR} AS lon, {LAT_EXPR} AS lat
              FROM events),
            k AS (
              SELECT user_id, event_id, ts, epoch_us(ts) AS t,
                ((least(greatest(CAST(floor((lon + 180.0) / 360.0 * 32) AS BIGINT), 0), 31) << 5)
                 | least(greatest(CAST(floor((lat + 90.0) / 180.0 * 32) AS BIGINT), 0), 31))
                AS cell_key
              FROM pts),
            g AS (
              SELECT user_id, cell_key, t,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
                     - ROW_NUMBER() OVER (PARTITION BY user_id, cell_key
                                          ORDER BY ts, event_id) AS grp
              FROM k)
            SELECT user_id, cell_key,
                   MIN(t) AS enter_us, MAX(t) AS exit_us,
                   COUNT(*) AS n_pts
            FROM g GROUP BY user_id, cell_key, grp
            HAVING MAX(t) - MIN(t) >= 600000000
        """,
        "gi_star": f"""
            WITH {_pts_cte()},
            k AS (SELECT {_cell_sql(6)} AS cell_key FROM pts),
            cells AS (SELECT cell_key, COUNT(*) AS x FROM k GROUP BY cell_key),
            offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
                                    (0,1),(1,-1),(1,0),(1,1)),
            ring AS (
              SELECT c.x AS _nx,
                     ((((c.cell_key >> 6) + o.dx) << 6)
                      | ((c.cell_key & 63) + o.dy)) AS nbr_key
              FROM cells c, offs o
              WHERE (c.cell_key >> 6) + o.dx BETWEEN 0 AND 63
                AND (c.cell_key & 63) + o.dy BETWEEN 0 AND 63),
            hood AS (
              SELECT r.nbr_key AS cell_key, CAST(SUM(r._nx) AS BIGINT) AS w_i,
                     COUNT(*) AS k_i
              FROM ring r JOIN cells c2 ON c2.cell_key = r.nbr_key
              GROUP BY r.nbr_key),
            g AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s1,
                         CAST(SUM(x * x) AS BIGINT) AS s2 FROM cells)
            SELECT c.cell_key, c.x, h.k_i, h.w_i,
                   {_GI_STAR_SQL} AS gi_z_x1e6
            FROM cells c JOIN hood h USING (cell_key), g
        """,
        "morans_i": f"""
            WITH {_pts_cte()},
            k AS (SELECT {_cell_sql(6)} AS cell_key FROM pts),
            cells AS (SELECT cell_key, COUNT(*) AS x FROM k GROUP BY cell_key),
            offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
                                    (0,1),(1,-1),(1,0),(1,1)),
            e AS (
              SELECT c.x AS xi,
                     ((((c.cell_key >> 6) + o.dx) << 6)
                      | ((c.cell_key & 63) + o.dy)) AS nbr_key
              FROM cells c, offs o
              WHERE (c.cell_key >> 6) + o.dx BETWEEN 0 AND 63
                AND (c.cell_key & 63) + o.dy BETWEEN 0 AND 63),
            edges AS (SELECT e.xi, c2.x AS xj
                      FROM e JOIN cells c2 ON c2.cell_key = e.nbr_key),
            ea AS (SELECT COUNT(*) AS w, CAST(SUM(xi * xj) AS BIGINT) AS p,
                          CAST(SUM(xi + xj) AS BIGINT) AS q FROM edges),
            g AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s1,
                         CAST(SUM(x * x) AS BIGINT) AS s2 FROM cells)
            SELECT g.n AS n_cells, ea.w AS w_edges,
                   {_MORAN_I_SQL} AS moran_i_x1e9,
                   CAST(ROUND((-1.0 / (n - 1)) * 1000000000) AS BIGINT) AS e_i_x1e9
            FROM g, ea
        """,
        "ripley_k": f"""
            WITH {_pts_cte()},
            w AS (
              SELECT event_id, lon, lat,
                     least(greatest(CAST(floor((lon + 180.0) / 360.0 * 64) AS BIGINT), 0), 63) AS cx,
                     least(greatest(CAST(floor((lat + 90.0) / 180.0 * 64) AS BIGINT), 0), 63) AS cy
              FROM pts WHERE abs(lat) <= 60.0),
            offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
                                    (0,1),(1,-1),(1,0),(1,1)),
            ringb AS (
              SELECT w.event_id, w.lon, w.lat,
                     (((w.cx + o.dx + 64) % 64) << 6) | (w.cy + o.dy) AS nbr
              FROM w, offs o
              WHERE w.cy + o.dy BETWEEN 0 AND 63),
            prs AS (
              SELECT {_HAVERSINE.format(lon1="a.lon", lat1="a.lat", lon2="b.lon", lat2="b.lat")} AS dist_m
              FROM w a JOIN ringb b
                ON ((a.cx << 6) | a.cy) = b.nbr AND a.event_id < b.event_id
              WHERE {_HAVERSINE.format(lon1="a.lon", lat1="a.lat", lon2="b.lon", lat2="b.lat")} <= 200000.0),
            counts AS (
              SELECT CAST(t.d_m AS BIGINT) AS d_m,
                     CAST(SUM(CASE WHEN p.dist_m <= t.d_m THEN 1 ELSE 0 END) AS BIGINT) AS pairs
              FROM prs p CROSS JOIN (VALUES (25000),(50000),(100000),(200000)) AS t(d_m)
              GROUP BY t.d_m),
            ringd AS (
              SELECT d_m,
                     COALESCE(LAG(d_m) OVER (ORDER BY d_m), 0) AS d_prev,
                     pairs,
                     pairs - COALESCE(LAG(pairs) OVER (ORDER BY d_m), 0) AS ring_pairs
              FROM counts),
            g AS (SELECT COUNT(*) AS n FROM w)
            SELECT d_m, d_prev, pairs, ring_pairs,
                   {_RIPLEY_K_SQL} AS k_hat_m2,
                   {_RIPLEY_L_SQL} AS l_hat_mm,
                   {_PAIR_G_SQL} AS g_hat_x1e6
            FROM ringd, g
        """,
        "nn_g": f"""
            WITH {_pts_cte()},
            w AS (
              SELECT event_id, lon, lat,
                     least(greatest(CAST(floor((lon + 180.0) / 360.0 * 64) AS BIGINT), 0), 63) AS cx,
                     least(greatest(CAST(floor((lat + 90.0) / 180.0 * 64) AS BIGINT), 0), 63) AS cy
              FROM pts WHERE abs(lat) <= 60.0),
            offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
                                    (0,1),(1,-1),(1,0),(1,1)),
            ringb AS (
              SELECT w.event_id, w.lon, w.lat,
                     (((w.cx + o.dx + 64) % 64) << 6) | (w.cy + o.dy) AS nbr
              FROM w, offs o
              WHERE w.cy + o.dy BETWEEN 0 AND 63),
            prs AS (
              SELECT a.event_id AS id_a, b.event_id AS id_b,
                     {_HAVERSINE.format(lon1="a.lon", lat1="a.lat", lon2="b.lon", lat2="b.lat")} AS dist_m
              FROM w a JOIN ringb b
                ON ((a.cx << 6) | a.cy) = b.nbr AND a.event_id < b.event_id
              WHERE {_HAVERSINE.format(lon1="a.lon", lat1="a.lat", lon2="b.lon", lat2="b.lat")} <= 200000.0),
            ends AS (
              SELECT id_a AS id, dist_m FROM prs
              UNION ALL SELECT id_b AS id, dist_m FROM prs),
            counts AS (
              SELECT CAST(t.d_m AS BIGINT) AS d_m,
                     CAST(COUNT(DISTINCT e.id) AS BIGINT) AS n_le
              FROM ends e CROSS JOIN (VALUES (50000),(100000),(200000)) AS t(d_m)
              WHERE e.dist_m <= t.d_m
              GROUP BY t.d_m),
            g AS (SELECT COUNT(*) AS n FROM w)
            SELECT d_m, n_le, n, {_NN_G_SQL} AS g_x1e6
            FROM counts, g
        """,
        "cross_k": f"""
            WITH {_pts_cte()},
            w0 AS (
              SELECT p.event_id, p.lon, p.lat, e.event_type,
                     least(greatest(CAST(floor((p.lon + 180.0) / 360.0 * 64) AS BIGINT), 0), 63) AS cx,
                     least(greatest(CAST(floor((p.lat + 90.0) / 180.0 * 64) AS BIGINT), 0), 63) AS cy
              FROM pts p JOIN events e ON p.event_id = e.event_id
              WHERE abs(p.lat) <= 60.0),
            wa AS (SELECT * FROM w0 WHERE event_type = 'click'),
            wb AS (SELECT * FROM w0 WHERE event_type = 'purchase'),
            offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
                                    (0,1),(1,-1),(1,0),(1,1)),
            ringb AS (
              SELECT w.event_id, w.lon, w.lat,
                     (((w.cx + o.dx + 64) % 64) << 6) | (w.cy + o.dy) AS nbr
              FROM wb w, offs o
              WHERE w.cy + o.dy BETWEEN 0 AND 63),
            prs AS (
              SELECT {_HAVERSINE.format(lon1="a.lon", lat1="a.lat", lon2="b.lon", lat2="b.lat")} AS dist_m
              FROM wa a JOIN ringb b ON ((a.cx << 6) | a.cy) = b.nbr
              WHERE {_HAVERSINE.format(lon1="a.lon", lat1="a.lat", lon2="b.lon", lat2="b.lat")} <= 200000.0),
            counts AS (
              SELECT CAST(t.d_m AS BIGINT) AS d_m,
                     CAST(SUM(CASE WHEN p.dist_m <= t.d_m THEN 1 ELSE 0 END) AS BIGINT) AS pairs
              FROM prs p CROSS JOIN (VALUES (50000),(100000),(200000)) AS t(d_m)
              GROUP BY t.d_m),
            nn AS (SELECT (SELECT COUNT(*) FROM wa) AS n_a,
                          (SELECT COUNT(*) FROM wb) AS n_b)
            SELECT d_m, pairs,
                   {_CROSS_K_SQL} AS k_ab_m2,
                   {_CROSS_L_SQL} AS l_ab_mm
            FROM counts, nn
        """,
        "knox_test": f"""
            WITH {_pts_cte()},
            w AS (
              SELECT p.event_id, p.lon, p.lat, epoch_us(e.ts) AS us,
                     least(greatest(CAST(floor((p.lon + 180.0) / 360.0 * 64) AS BIGINT), 0), 63) AS cx,
                     least(greatest(CAST(floor((p.lat + 90.0) / 180.0 * 64) AS BIGINT), 0), 63) AS cy
              FROM pts p JOIN events e ON p.event_id = e.event_id
              WHERE abs(p.lat) <= 60.0),
            offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
                                    (0,1),(1,-1),(1,0),(1,1)),
            ringb AS (
              SELECT w.event_id, w.lon, w.lat, w.us,
                     (((w.cx + o.dx + 64) % 64) << 6) | (w.cy + o.dy) AS nbr
              FROM w, offs o
              WHERE w.cy + o.dy BETWEEN 0 AND 63),
            sx AS (
              SELECT COUNT(*) AS space_pairs,
                     CAST(SUM(CASE WHEN ABS(a.us - b.us) <= {2 * 86_400 * 1_000_000}
                                   THEN 1 ELSE 0 END) AS BIGINT) AS st_pairs
              FROM w a JOIN ringb b
                ON ((a.cx << 6) | a.cy) = b.nbr AND a.event_id < b.event_id
              WHERE {_HAVERSINE.format(lon1="a.lon", lat1="a.lat", lon2="b.lon", lat2="b.lat")} <= 100000.0),
            tp AS (
              SELECT COUNT(*) AS time_pairs
              FROM w a JOIN w b
                ON b.us BETWEEN a.us - {2 * 86_400 * 1_000_000}
                            AND a.us + {2 * 86_400 * 1_000_000}
               AND a.event_id < b.event_id),
            g AS (SELECT COUNT(*) AS n FROM w)
            SELECT g.n, sx.space_pairs, tp.time_pairs, sx.st_pairs,
                   {_KNOX_E_SQL} AS knox_e_x1e6,
                   {_KNOX_Z_SQL} AS knox_z_x1e6
            FROM sx, tp, g
        """,
        "local_moran": f"""
            WITH {_pts_cte()},
            k AS (SELECT {_cell_sql(6)} AS cell_key FROM pts),
            cells AS (SELECT cell_key, COUNT(*) AS x FROM k GROUP BY cell_key),
            offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
                                    (0,1),(1,-1),(1,0),(1,1)),
            ring AS (
              SELECT c.x AS _nx,
                     ((((c.cell_key >> 6) + o.dx) << 6)
                      | ((c.cell_key & 63) + o.dy)) AS nbr_key
              FROM cells c, offs o
              WHERE (c.cell_key >> 6) + o.dx BETWEEN 0 AND 63
                AND (c.cell_key & 63) + o.dy BETWEEN 0 AND 63),
            hood AS (
              SELECT r.nbr_key AS cell_key, CAST(SUM(r._nx) AS BIGINT) AS lag,
                     COUNT(*) AS k_i
              FROM ring r JOIN cells c2 ON c2.cell_key = r.nbr_key
              GROUP BY r.nbr_key),
            j AS (
              SELECT c.cell_key, c.x,
                     COALESCE(h.k_i, 0) AS k_i, COALESCE(h.lag, 0) AS lag
              FROM cells c LEFT JOIN hood h USING (cell_key)),
            g AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s1,
                         CAST(SUM(x * x) AS BIGINT) AS s2,
                         CAST(SUM(x * x * x) AS BIGINT) AS s3,
                         CAST(SUM(x * x * x * x) AS BIGINT) AS s4 FROM cells)
            SELECT j.cell_key, j.x, j.k_i, j.lag,
                   {_LISA_I_SQL} AS lisa_i_x1e9,
                   {_LISA_Z_SQL} AS lisa_z_x1e6,
                   {_LISA_QUAD_SQL} AS quad
            FROM j, g
        """,
        "kde_grid": f"""
            WITH {_pts_cte()},
            k AS (SELECT {_cell_sql(6)} AS cell_key FROM pts),
            cells AS (SELECT cell_key, COUNT(*) AS x FROM k GROUP BY cell_key),
            offs(dx, dy) AS (VALUES {", ".join(f"({dx},{dy})" for dx in range(-2, 3) for dy in range(-2, 3))}),
            contrib AS (
              SELECT c.x AS sx, (9 - o.dx * o.dx - o.dy * o.dy) AS w,
                     ((((c.cell_key >> 6) + o.dx) << 6)
                      | ((c.cell_key & 63) + o.dy)) AS tkey
              FROM cells c, offs o
              WHERE (c.cell_key >> 6) + o.dx BETWEEN 0 AND 63
                AND (c.cell_key & 63) + o.dy BETWEEN 0 AND 63
                AND 9 - o.dx * o.dx - o.dy * o.dy > 0),
            kde AS (SELECT tkey AS cell_key,
                           CAST(SUM(sx * w) AS BIGINT) AS kde_num
                    FROM contrib GROUP BY tkey)
            SELECT kde.cell_key, COALESCE(c2.x, 0) AS x, kde.kde_num,
                   CAST(ROUND((CAST(kde_num AS DOUBLE) / 9) * 1000000) AS BIGINT)
                     AS kde_x1e6
            FROM kde LEFT JOIN cells c2 USING (cell_key)
        """,
        "gi_spacetime": f"""
            WITH pts AS (SELECT ts, {LON_EXPR} AS lon, {LAT_EXPR} AS lat
                         FROM events),
            k AS (SELECT {_cell_sql(5)} AS cell_key,
                         CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT)
                           AS day_bin
                  FROM pts),
            cd AS (SELECT cell_key, day_bin, COUNT(*) AS x
                   FROM k GROUP BY cell_key, day_bin),
            tot AS (SELECT DISTINCT cell_key FROM cd),
            bins AS (SELECT DISTINCT day_bin FROM cd),
            cube AS (
              SELECT t.cell_key, b.day_bin, COALESCE(cd.x, 0) AS x
              FROM tot t CROSS JOIN bins b
              LEFT JOIN cd ON cd.cell_key = t.cell_key
                          AND cd.day_bin = b.day_bin),
            offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
                                    (0,1),(1,-1),(1,0),(1,1)),
            ring AS (
              SELECT c.x AS _nx, c.day_bin + dt.d AS nbr_day,
                     ((((c.cell_key >> 5) + o.dx) << 5)
                      | ((c.cell_key & 31) + o.dy)) AS nbr_key
              FROM cube c, offs o, (VALUES (-1),(0),(1)) AS dt(d)
              WHERE (c.cell_key >> 5) + o.dx BETWEEN 0 AND 31
                AND (c.cell_key & 31) + o.dy BETWEEN 0 AND 31),
            hood AS (
              SELECT r.nbr_key AS cell_key, r.nbr_day AS day_bin,
                     CAST(SUM(r._nx) AS BIGINT) AS w_i, COUNT(*) AS k_i
              FROM ring r JOIN cube q ON q.cell_key = r.nbr_key
                                     AND q.day_bin = r.nbr_day
              GROUP BY r.nbr_key, r.nbr_day),
            g AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s1,
                         CAST(SUM(x * x) AS BIGINT) AS s2 FROM cube)
            SELECT c.cell_key, c.day_bin, c.x, h.k_i, h.w_i,
                   {_GI_STAR_SQL} AS gi_z_x1e6
            FROM cube c JOIN hood h ON h.cell_key = c.cell_key
                                   AND h.day_bin = c.day_bin, g
        """,
        "ehsa": f"""
            WITH pts AS (SELECT ts, {LON_EXPR} AS lon, {LAT_EXPR} AS lat
                         FROM events),
            k AS (SELECT {_cell_sql(5)} AS cell_key,
                         CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT)
                           AS day_bin
                  FROM pts),
            cd AS (SELECT cell_key, day_bin, COUNT(*) AS x
                   FROM k GROUP BY cell_key, day_bin),
            tot AS (SELECT cell_key, CAST(SUM(x) AS BIGINT) AS total FROM cd
                    GROUP BY cell_key),
            bins AS (SELECT DISTINCT day_bin FROM cd),
            cube AS (
              SELECT t.cell_key, b.day_bin, COALESCE(cd.x, 0) AS x
              FROM tot t CROSS JOIN bins b
              LEFT JOIN cd ON cd.cell_key = t.cell_key
                          AND cd.day_bin = b.day_bin),
            offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
                                    (0,1),(1,-1),(1,0),(1,1)),
            nb AS (
              SELECT c.cell_key,
                     ((((c.cell_key >> 5) + o.dx) << 5)
                      | ((c.cell_key & 31) + o.dy)) AS nbr
              FROM tot c, offs o
              WHERE (c.cell_key >> 5) + o.dx BETWEEN 0 AND 31
                AND (c.cell_key & 31) + o.dy BETWEEN 0 AND 31),
            hood AS (
              SELECT n.cell_key, q.day_bin,
                     CAST(SUM(q.x) AS BIGINT) AS w_i, COUNT(*) AS k_i
              FROM nb n JOIN cube q ON q.cell_key = n.nbr
              GROUP BY n.cell_key, q.day_bin),
            g AS (SELECT day_bin, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s1,
                         CAST(SUM(x * x) AS BIGINT) AS s2
                  FROM cube GROUP BY day_bin),
            zt AS (
              SELECT h.cell_key, h.day_bin, {_GI_STAR_SQL} AS z
              FROM hood h JOIN g USING (day_bin)),
            mk AS (
              SELECT a.cell_key,
                     CAST(SUM(CASE WHEN b.z > a.z THEN 1
                                   WHEN b.z < a.z THEN -1
                                   ELSE 0 END) AS BIGINT) AS s_stat
              FROM zt a JOIN zt b ON a.cell_key = b.cell_key
                                 AND b.day_bin > a.day_bin
              GROUP BY a.cell_key),
            tg AS (SELECT cell_key, z, COUNT(*) AS tg FROM zt
                   GROUP BY cell_key, z),
            ties_t AS (SELECT cell_key,
                              CAST(SUM(tg * (tg - 1) * (2 * tg + 5)) AS BIGINT)
                                AS ties,
                              CAST(SUM(tg) AS BIGINT) AS t_bins
                       FROM tg GROUP BY cell_key),
            hotc AS (
              SELECT cell_key,
                     CAST(SUM(CASE WHEN z >= {_GI_HOT} THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_hot,
                     CAST(MAX(CASE WHEN day_bin = (SELECT MAX(day_bin) FROM bins)
                                    AND z >= {_GI_HOT} THEN 1 ELSE 0 END)
                          AS BIGINT) AS hot_last
              FROM zt GROUP BY cell_key)
            SELECT mk.cell_key, tot.total, ties_t.t_bins, hotc.n_hot,
                   mk.s_stat,
                   CAST(ROUND(({_MK_Z_SQL}) * 1000000) AS BIGINT) AS mk_z_x1e6,
                   {_EHSA_CAT_SQL} AS category
            FROM mk JOIN ties_t USING (cell_key)
                    JOIN hotc USING (cell_key)
                    JOIN tot USING (cell_key)
            WHERE tot.total >= 10
        """,
        "emerging_hotspots": f"""
            WITH pts AS (SELECT ts, {LON_EXPR} AS lon, {LAT_EXPR} AS lat
                         FROM events),
            k AS (SELECT {_cell_sql(5)} AS cell_key,
                         CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT)
                           AS day_bin
                  FROM pts),
            cd AS (SELECT cell_key, day_bin, COUNT(*) AS x
                   FROM k GROUP BY cell_key, day_bin),
            hot AS (SELECT cell_key, CAST(SUM(x) AS BIGINT) AS total FROM cd
                    GROUP BY cell_key HAVING SUM(x) >= 10),
            bins AS (SELECT DISTINCT day_bin FROM cd),
            cube AS (
              SELECT h.cell_key, h.total, b.day_bin, COALESCE(cd.x, 0) AS x
              FROM hot h CROSS JOIN bins b
              LEFT JOIN cd ON cd.cell_key = h.cell_key
                          AND cd.day_bin = b.day_bin),
            mk AS (
              SELECT a.cell_key, a.total,
                     CAST(SUM(CASE WHEN b.x > a.x THEN 1
                                   WHEN b.x < a.x THEN -1
                                   ELSE 0 END) AS BIGINT) AS s_stat
              FROM cube a JOIN cube b ON a.cell_key = b.cell_key
                                     AND b.day_bin > a.day_bin
              GROUP BY a.cell_key, a.total),
            tg AS (SELECT cell_key, x, COUNT(*) AS tg
                   FROM cube GROUP BY cell_key, x),
            ties_t AS (SELECT cell_key,
                              CAST(SUM(tg * (tg - 1) * (2 * tg + 5)) AS BIGINT)
                                AS ties,
                              CAST(SUM(tg) AS BIGINT) AS t_bins
                       FROM tg GROUP BY cell_key)
            SELECT mk.cell_key, mk.total, t_bins, mk.s_stat,
                   CAST(ROUND(({_MK_Z_SQL}) * 1000000) AS BIGINT) AS mk_z_x1e6,
                   {_MK_TREND_SQL} AS trend
            FROM mk JOIN ties_t USING (cell_key)
        """,
    }
