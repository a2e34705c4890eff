"""kNN via iterative cell-ring expansion + exact haversine re-rank.

GeoMesa answers kNN with an iteratively expanding geohash window around
the query point, then an exact distance re-rank (public tree:
geomesa-process-vector/.../knn/KNearestNeighborSearchProcess.scala +
KNNQuery; mount empty at survey time — SURVEY.md §0).  Spark-first
restatement: the query set is the SMALL side; each round, every still-
unsatisfied query contributes a k-ring of cells (antimeridian-wrapping,
pole-clamping — :func:`geomesa_spark.cells.k_ring`), the union becomes a
broadcast (query_id, cell) frame equi-joined against the cell-encoded
point table, candidates get exact haversine distances (in the JVM, against
the query point the broadcast cover rows carry), and the per-query
top-k survives.  A query terminates when its k-th candidate distance is
PROVABLY inside the ring's guaranteed-covered radius; otherwise its ring
radius doubles.  On a cell-partitioned table each round prunes to the
ring's partitions — the scan cost is the ring, not the table.

For LARGE query sets use :func:`geomesa_spark.operators.spatial_join.
spatial_join_grid` with a distance bound + window re-rank instead (both
sides stay distributed); this operator is the low-latency few-queries
path, like the reference's WPS process.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .. import cells
from . import spatial_join

_DEG_M = 111_195.0  # meters per degree latitude at R=6371008.8


def _guaranteed_radius_m(lon: float, lat: float, rad_cells: int, res: int) -> float:
    """Any point NOT in k_ring(cell(q), rad) is at least this far away.

    Chebyshev distance > rad ⇒ the point's cell is > rad columns or rows
    away ⇒ separation ≥ (rad) cell extents minus the query's offset inside
    its own cell (≤ 1 cell) → (rad-1) cells, in the *smaller* metric
    dimension.  Cell height is 180/2^res degrees of latitude (fixed m);
    cell width is 2× that in degrees but shrinks by cos(lat) in meters.
    """
    if rad_cells <= 1:
        return 0.0
    cell_h_deg = 180.0 / (1 << res)
    ring_top = abs(lat) + (rad_cells + 1) * cell_h_deg
    if ring_top >= 90.0:
        # Ring reaches the pole (round-1 advice): out-of-ring cells can
        # differ only in LONGITUDE, and longitudinal meters shrink to zero
        # at the pole — a cell 2 columns away may be km-close.  No sound
        # lower bound exists from the latitude metric → no guarantee;
        # the query keeps expanding (terminates via the full-scan round).
        return 0.0
    cos_min = np.cos(np.radians(ring_top))
    width_factor = min(1.0, 2.0 * cos_min)
    return (rad_cells - 1) * cell_h_deg * _DEG_M * width_factor


def knn(
    points: DataFrame,
    queries: list[dict],
    res: int = 7,
    id_col: str = "event_id",
    max_rounds: int = 12,
) -> pd.DataFrame:
    """Exact k nearest neighbours for each query dict
    ``{query_id, lon, lat, k}``.  Returns a pandas frame
    (query_id, rank, id, dist_m) — ranks 1..k, ties broken by id.

    The heavy scan/join/top-k runs distributed each round; only the tiny
    per-query top-k ever reaches the driver (same client-merge shape as
    the reference's KNN process).
    """
    spark = points.sparkSession
    # cache the encoded table: every expansion round re-joins it, and
    # without the cache each round would rescan + re-encode from source
    # (round-1 verdict item — linear-in-rounds waste)
    pts = spatial_join.add_cell_column(points, res).persist()

    centers = {q["query_id"]: (float(q["lon"]), float(q["lat"])) for q in queries}
    want_k = {q["query_id"]: int(q["k"]) for q in queries}

    hav = spatial_join.HAVERSINE_M_SQL.format(lon1="lon", lat1="lat", lon2="clon", lat2="clat")
    n_side = 1 << res
    radius = {q: 1 for q in centers}
    best: dict[str, pd.DataFrame] = {}
    unsatisfied = set(centers)

    for round_no in range(max_rounds):
        if not unsatisfied:
            break
        if round_no == max_rounds - 1:  # last chance: force full coverage
            for q in unsatisfied:
                radius[q] = n_side
        rows = []
        for q in unsatisfied:
            clon, clat = centers[q]
            qcell = int(cells.encode(np.asarray([clon]), np.asarray([clat]), res)[0])
            ring = cells.k_ring(qcell, res, min(radius[q], n_side))
            rows.append(pd.DataFrame({"query_id": q, "cell": ring, "clon": clon, "clat": clat}))
        cover = spark.createDataFrame(pd.concat(rows, ignore_index=True))

        from pyspark.sql import Window

        cand = pts.join(F.broadcast(cover), "cell", "inner")
        cand = cand.withColumn("dist_m", F.expr(hav))
        w = Window.partitionBy("query_id").orderBy(F.col("dist_m").asc(), F.col(id_col).asc())
        topk = (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= max(want_k.values()))
            .select("query_id", "rank", id_col, "dist_m")
            .toPandas()
        )

        still = set()
        for q in unsatisfied:
            sub = topk[topk["query_id"] == q].head(want_k[q])
            guarantee = _guaranteed_radius_m(*centers[q], radius[q], res)
            full_scan = radius[q] >= n_side
            if len(sub) >= want_k[q] and (full_scan or sub["dist_m"].max() <= guarantee):
                best[q] = sub
            elif full_scan:
                best[q] = sub  # fewer than k points exist in the whole table
            else:
                radius[q] *= 2
                still.add(q)
        unsatisfied = still

    pts.unpersist()
    out = (
        pd.concat([df.assign(query_id=q) for q, df in best.items()], ignore_index=True)
        if best
        else pd.DataFrame(columns=["query_id", "rank", id_col, "dist_m"])
    )
    return out.sort_values(["query_id", "rank"]).reset_index(drop=True)


def knn_df(points: DataFrame, queries: list[dict], res: int = 7, id_col: str = "event_id") -> DataFrame:
    """DataFrame wrapper over :func:`knn` (for queries()/bench plumbing)."""
    pdf = knn(points, queries, res=res, id_col=id_col)
    return points.sparkSession.createDataFrame(pdf[["query_id", "rank", id_col]])
