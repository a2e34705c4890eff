"""Point-pattern interaction statistics: Ripley's K / L function and the
Knox space-time interaction test.

GeoMesa's analytic surface stops at density aggregation (DensityScan,
public tree: geomesa-index-api/.../iterators/DensityScan.scala); K and
Knox are the canonical second-order statistics a GeoMesa user computes
downstream of it (Ripley 1976; Knox 1964; Besag & Diggle 1977).  Both
reduce to the engine's distance join: one side explodes to the k-ring
cells of `spatial_join._ring_cover`, the other keys on its own cell, so
every candidate pair collides on ONE cell and no all-pairs product ever
forms — the same pair stage as `spatial_join.spatial_join_grid`.

Study window: both statistics are defined over a bounded region; here
the region is the |lat| <= ``lat_max`` band (default 60 deg), which sets
the point set and the area A in the closed forms.  It does not bound
completeness: the ring cover is lat-aware and wraps the antimeridian, so
any ``res`` and distance give exact pair counts (a coarse ``res`` only
makes the candidate set larger).

Parallelism note: when Spark broadcasts the keyed side of a pair join,
the heavy stage's task count is the PROBE side's split count — a small
single-file input runs the whole pair emission on as many tasks as it
has row groups regardless of fleet size (measured with the retired
tools/stats_scaling.py: the knox half-billion-pair stage on 8 tasks at
32 cores).  Production tables have thousands of splits; bench/test
inputs should be repartitioned to fleet parallelism first (the
entry_queries._event_points idiom, which `tools/scaling.py --job ripley
knox` follows).

Float discipline (repo-wide rule): pair counts, n, and time deltas are
exact BIGINTs; distances use the engine's one haversine SQL template
(`spatial_join.HAVERSINE_M_SQL`) — the SAME text the DuckDB oracle
embeds — and each derived statistic (K, L, Knox
expectation/z) is ONE closed-form double expression generated by a
shared `*_sql()` function, so both engines run the identical IEEE-754
sequence and quantized outputs match bit-for-bit.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from .spatial_join import _PAIR_HAVERSINE, HAVERSINE_M_SQL, _ring_cover, add_cell_column

__all__ = ["ripley_k", "cross_k", "nn_g_function", "knox_test", "HAVERSINE_M_SQL"]

EARTH_RADIUS_M = 6371008.8


def band_area_m2(lat_max: float) -> float:
    """Spherical area of the |lat| <= lat_max band: 4*pi*R^2*sin(lat_max)."""
    return 4.0 * math.pi * EARTH_RADIUS_M * EARTH_RADIUS_M * math.sin(
        math.radians(lat_max)
    )


def ripley_k_sql(lat_max: float) -> str:
    """Closed-form K-hat over exact BIGINT columns (pairs = unordered
    within-d count, n = window points): K(d) = A * 2*pairs / (n*(n-1)),
    naive (border-ignored) estimator, quantized to whole m^2.  Shared
    verbatim with the DuckDB oracle."""
    return (
        f"CAST(ROUND({band_area_m2(lat_max)!r} * (2.0 * pairs)"
        " / (CAST(n AS DOUBLE) * (n - 1))) AS BIGINT)"
    )


def ripley_l_sql(lat_max: float) -> str:
    """L(d) = sqrt(K(d)/pi) in mm (BIGINT) — the variance-stabilized
    form plotted against d (L(d) ~= d under CSR)."""
    return (
        f"CAST(ROUND(sqrt({band_area_m2(lat_max)!r} * (2.0 * pairs)"
        " / (CAST(n AS DOUBLE) * (n - 1)) / pi()) * 1000) AS BIGINT)"
    )


def pair_g_sql(lat_max: float) -> str:
    """Pair-correlation function over the d-ladder annuli (the binned
    estimator: ring pair count normalized by the CSR expectation in the
    annulus): g = A * 2*ring_pairs / (n(n-1) * pi * (d^2 - d_prev^2)),
    quantized to micro-units.  g ~= 1 under CSR; > 1 = clustering at
    that scale.  Columns: ring_pairs, n, d_m, d_prev (all BIGINT)."""
    return (
        f"CAST(ROUND(({band_area_m2(lat_max)!r} * (2.0 * ring_pairs)"
        " / (CAST(n AS DOUBLE) * (n - 1))"
        " / (pi() * (CAST(d_m AS DOUBLE) * d_m - CAST(d_prev AS DOUBLE) * d_prev)))"
        " * 1000000) AS BIGINT)"
    )


def cross_k_sql(lat_max: float) -> str:
    """Bivariate (cross-type) K: K_AB(d) = A * pairs / (n_a * n_b) over
    ORDERED A->B pairs (no doubling — every A-B pair is counted once)."""
    return (
        f"CAST(ROUND({band_area_m2(lat_max)!r} * pairs"
        " / (CAST(n_a AS DOUBLE) * n_b)) AS BIGINT)"
    )


def cross_l_sql(lat_max: float) -> str:
    return (
        f"CAST(ROUND(sqrt({band_area_m2(lat_max)!r} * pairs"
        " / (CAST(n_a AS DOUBLE) * n_b) / pi()) * 1000) AS BIGINT)"
    )


#: Knox expectation under independence: E = S*T / (n(n-1)/2), Poisson
#: z = (X - E)/sqrt(E).  Columns: n, space_pairs, time_pairs, st_pairs.
KNOX_E_SQL = (
    "CAST(ROUND((CAST(space_pairs AS DOUBLE) * time_pairs"
    " / (CAST(n AS DOUBLE) * (n - 1) / 2.0)) * 1000000) AS BIGINT)"
)
KNOX_Z_SQL = (
    "CAST(ROUND(((st_pairs - (CAST(space_pairs AS DOUBLE) * time_pairs"
    " / (CAST(n AS DOUBLE) * (n - 1) / 2.0)))"
    " / sqrt(CAST(space_pairs AS DOUBLE) * time_pairs"
    " / (CAST(n AS DOUBLE) * (n - 1) / 2.0))) * 1000000) AS BIGINT)"
)


def _window(pts: DataFrame, lat_max: float, cols) -> DataFrame:
    return pts.filter(F.abs(F.col("lat")) <= float(lat_max)).select(*cols)


def _pairs(
    a: DataFrame,
    d_max_m: float,
    res: int,
    id_col: str,
    b: DataFrame | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Point pairs within ``d_max_m`` on the spatial join's ring cover:
    side A explodes to its k-ring cells (`spatial_join._ring_cover`), side
    B gets its one cell (`spatial_join.add_cell_column`), the two
    equi-join on ``cell`` and the haversine refine keeps the pairs within
    reach.  A ring holds distinct cells and a B row one cell, so each pair
    collides once.  Self mode (``b`` is None): UNORDERED pairs, kept once
    by the id order filter.  Cross mode: ORDERED A->B pairs, each counted
    once — no id filter.  Output: (id_a, id_b, dist_m [, carry_a/_b...]).
    """
    ring = _ring_cover(
        a.select(
            F.col(id_col).alias("id_a"), "lon", "lat",
            *[F.col(c).alias(f"{c}_a") for c in carry],
        ),
        res,
        d_max_m,
    )
    cell = add_cell_column(
        (a if b is None else b).select(
            F.col(id_col).alias("id_b"),
            F.col("lon").alias("lon_r"),
            F.col("lat").alias("lat_r"),
            *[F.col(c).alias(f"{c}_b") for c in carry],
        ),
        res,
        lon="lon_r",
        lat="lat_r",
    )
    out = ring.join(cell, "cell")
    if b is None:
        out = out.filter(F.col("id_a") < F.col("id_b"))
    return (
        out.withColumn("dist_m", F.expr(_PAIR_HAVERSINE))
        .filter(F.col("dist_m") <= float(d_max_m))
        .drop("cell", "lon", "lat", "lon_r", "lat_r")
    )


def ripley_k(
    pts: DataFrame,
    dists_m: tuple[float, ...] = (25_000.0, 50_000.0, 100_000.0, 200_000.0),
    res: int = 6,
    lat_max: float = 60.0,
    id_col: str = "event_id",
) -> DataFrame:
    """Ripley's K(d) / L(d) over the |lat| <= lat_max band at a ladder of
    distances (naive border-ignored estimator — the study region IS the
    band, so only band-edge pairs are undercounted; documented bias of
    the uncorrected form).

    Engine shape: ONE ring-cover pair join at d_max (the ladder max),
    then a ladder explode + conditional count on the pair table; n is a
    broadcast scalar; the annulus (ring) counts and the binned
    pair-correlation g(d) derive from a lag window over the LADDER-sized
    count table (|dists| rows).  Returns one row per d:
    (d_m, d_prev, pairs, ring_pairs, k_hat_m2, l_hat_mm, g_hat_x1e6),
    all from exact BIGINTs through the shared closed-form SQL.
    """
    from pyspark.sql import Window

    dists = sorted(float(d) for d in dists_m)
    w = _window(pts, lat_max, (id_col, "lon", "lat"))
    pairs = _pairs(w, dists[-1], res, id_col)
    ladder = ", ".join(f"CAST({int(d)} AS BIGINT)" for d in dists)
    counts = (
        pairs.select(
            F.explode(F.expr(f"array({ladder})")).alias("d_m"), "dist_m"
        )
        .groupBy("d_m")
        .agg(
            F.sum(F.expr("CASE WHEN dist_m <= d_m THEN 1 ELSE 0 END")).alias("pairs")
        )
    )
    # |dists|-row table: the single-partition lag window is fine
    lw = Window.orderBy("d_m")
    counts = counts.select(
        "d_m",
        F.coalesce(F.lag("d_m").over(lw), F.lit(0).cast("bigint")).alias("d_prev"),
        "pairs",
        (F.col("pairs") - F.coalesce(F.lag("pairs").over(lw), F.lit(0))).alias(
            "ring_pairs"
        ),
    )
    n_row = w.agg(F.count(F.lit(1)).alias("n"))
    return (
        counts.crossJoin(F.broadcast(n_row))
        .select(
            "d_m",
            "d_prev",
            "pairs",
            "ring_pairs",
            F.expr(ripley_k_sql(lat_max)).alias("k_hat_m2"),
            F.expr(ripley_l_sql(lat_max)).alias("l_hat_mm"),
            F.expr(pair_g_sql(lat_max)).alias("g_hat_x1e6"),
        )
    )


def cross_k(
    pts_a: DataFrame,
    pts_b: DataFrame,
    dists_m: tuple[float, ...] = (50_000.0, 100_000.0, 200_000.0),
    res: int = 6,
    lat_max: float = 60.0,
    id_col: str = "event_id",
) -> DataFrame:
    """Bivariate (cross-type) Ripley's K between two marked point sets
    over the |lat| <= lat_max band: K_AB(d) = A * #{(a,b): dist<=d} /
    (n_a * n_b) — the standard test for attraction/repulsion between
    event types (K_AB > pi*d^2 = the types co-cluster at scale d).

    Same ring-cover pair equi-join as :func:`ripley_k`, in cross mode
    (ordered A->B pairs, each counted once — no doubling, no id filter).
    Returns one row per d: (d_m, pairs, k_ab_m2, l_ab_mm).
    """
    dists = sorted(float(d) for d in dists_m)
    wa = _window(pts_a, lat_max, (id_col, "lon", "lat"))
    wb = _window(pts_b, lat_max, (id_col, "lon", "lat"))
    pairs = _pairs(wa, dists[-1], res, id_col, b=wb)
    ladder = ", ".join(f"CAST({int(d)} AS BIGINT)" for d in dists)
    counts = (
        pairs.select(
            F.explode(F.expr(f"array({ladder})")).alias("d_m"), "dist_m"
        )
        .groupBy("d_m")
        .agg(
            F.sum(F.expr("CASE WHEN dist_m <= d_m THEN 1 ELSE 0 END")).alias("pairs")
        )
    )
    n_row = wa.agg(F.count(F.lit(1)).alias("n_a")).crossJoin(
        wb.agg(F.count(F.lit(1)).alias("n_b"))
    )
    return (
        counts.crossJoin(F.broadcast(n_row))
        .select(
            "d_m",
            "pairs",
            F.expr(cross_k_sql(lat_max)).alias("k_ab_m2"),
            F.expr(cross_l_sql(lat_max)).alias("l_ab_mm"),
        )
    )


#: G-function CDF value: fraction of points whose nearest neighbor is
#: within d.  Columns: n_le (points with ANY neighbor <= d — identical
#: to NN <= d), n.
NN_G_SQL = "CAST(ROUND((CAST(n_le AS DOUBLE) / n) * 1000000) AS BIGINT)"


def nn_g_function(
    pts: DataFrame,
    dists_m: tuple[float, ...] = (10_000.0, 25_000.0, 50_000.0, 100_000.0),
    res: int = 6,
    lat_max: float = 60.0,
    id_col: str = "event_id",
) -> DataFrame:
    """Nearest-neighbor distance function G(d) (Diggle 2003; the
    border-ignored empirical CDF of NN distances) over the |lat| <=
    lat_max band: G(d) = #{i : d(i, nearest j != i) <= d} / n.  Under
    CSR G(d) = 1 - exp(-lambda*pi*d^2); G above that = clustering.

    A point's NN is <= d iff it has ANY neighbor within d, so G needs no
    per-point minimum: the same ring-cover pair join at the ladder max
    feeds a per-rung COUNT(DISTINCT id) over both pair endpoints — exact
    for every rung <= d_max.
    Returns one row per d: (d_m, n_le, n, g_x1e6).
    """
    dists = sorted(float(d) for d in dists_m)
    w = _window(pts, lat_max, (id_col, "lon", "lat"))
    pairs = _pairs(w, dists[-1], res, id_col)
    ladder = ", ".join(f"CAST({int(d)} AS BIGINT)" for d in dists)
    counts = (
        pairs.select(
            F.explode(F.expr("array(id_a, id_b)")).alias("id"), "dist_m"
        )
        .select(F.explode(F.expr(f"array({ladder})")).alias("d_m"), "id", "dist_m")
        .filter(F.col("dist_m") <= F.col("d_m"))
        .groupBy("d_m")
        .agg(F.countDistinct("id").alias("n_le"))
    )
    n_row = w.agg(F.count(F.lit(1)).alias("n"))
    return (
        counts.crossJoin(F.broadcast(n_row))
        .select("d_m", "n_le", "n", F.expr(NN_G_SQL).alias("g_x1e6"))
    )


def knox_test(
    pts: DataFrame,
    dist_m: float = 100_000.0,
    dt_s: int = 86_400,
    res: int = 6,
    lat_max: float = 60.0,
    id_col: str = "event_id",
    ts: str = "ts",
) -> DataFrame:
    """Knox space-time interaction test over the |lat| <= lat_max band:
    X = # pairs close in BOTH space (<= dist_m) and time (<= dt_s), with
    the independence expectation E = S*T / C(n,2) from the marginal
    close-in-space (S) and close-in-time (T) pair counts, and the Poisson
    z = (X-E)/sqrt(E) (Knox 1964; Besag & Diggle 1977 approximation).

    Engine shape: S and X come from ONE ring-cover spatial pair join
    (time delta carried through); T from a time-bin ring join (bins of
    width dt_s, one side explodes bin-1/bin/bin+1 so each qualifying
    pair collides exactly once).  No all-pairs stage; every count is an
    exact BIGINT.  Returns one row:
    (n, space_pairs, time_pairs, st_pairs, knox_e_x1e6, knox_z_x1e6).
    """
    dt_us = int(dt_s) * 1_000_000
    # NTZ->LTZ cast is the identity wall time under the UTC-pinned session
    # (same idiom as tube.py / autocorr.emerging_hotspots)
    w = _window(
        pts.withColumn("_us", F.expr(f"unix_micros(CAST({ts} AS TIMESTAMP))")),
        lat_max,
        (id_col, "lon", "lat", "_us"),
    )
    spairs = _pairs(w, float(dist_m), res, id_col, carry=("_us",)).select(
        F.expr("abs(_us_a - _us_b)").alias("_adt")
    )
    s_x = spairs.agg(
        F.count(F.lit(1)).alias("space_pairs"),
        F.sum(F.expr(f"CASE WHEN _adt <= {dt_us} THEN 1 ELSE 0 END")).alias(
            "st_pairs"
        ),
    )
    binned = w.withColumn("_bin", F.expr(f"CAST(floor(_us / {dt_us}.0) AS BIGINT)"))
    ta = binned.select(
        F.col(id_col).alias("id_a"), F.col("_us").alias("_ua"), F.col("_bin").alias("_key")
    )
    tb = binned.select(
        F.col(id_col).alias("id_b"),
        F.col("_us").alias("_ub"),
        F.explode(F.expr("array(_bin - 1, _bin, _bin + 1)")).alias("_key"),
    )
    t_cnt = (
        ta.join(tb, "_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.expr(f"abs(_ua - _ub) <= {dt_us}"))
        .agg(F.count(F.lit(1)).alias("time_pairs"))
    )
    n_row = w.agg(F.count(F.lit(1)).alias("n"))
    return (
        s_x.crossJoin(t_cnt)
        .crossJoin(n_row)
        .select(
            "n",
            "space_pairs",
            "time_pairs",
            "st_pairs",
            F.expr(KNOX_E_SQL).alias("knox_e_x1e6"),
            F.expr(KNOX_Z_SQL).alias("knox_z_x1e6"),
        )
    )
