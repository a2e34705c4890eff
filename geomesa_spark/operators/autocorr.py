"""Spatial autocorrelation statistics over the engine's clamped
power-of-two lon/lat grid: Getis-Ord Gi* hot/cold-spot z-scores, global
Moran's I, and Mann-Kendall emerging-hotspot trends over the space-time
cube.

GeoMesa's analytic surface stops at density/heatmap aggregation
(DensityScan / StatsScan, public tree:
geomesa-index-api/.../iterators/DensityScan.scala); these operators are
the standard next step a GeoMesa user runs downstream (Getis & Ord 1992;
Anselin 1995; the ArcGIS "emerging hot spot analysis" space-time-cube
recipe built on Mann-Kendall 1945).  They are implemented here because
they reduce to exactly the engine's existing scale shape: ONE
map-side-combinable groupBy over corpus-scale points, after which every
join and window runs on a cell table bounded by ``4^res`` rows — no
all-pairs stage ever touches point-scale data.

Float discipline (the cross-engine exactness rule used repo-wide): all
sufficient statistics are exact BIGINT sums (counts, count products,
sign tallies), and each z-score / index is ONE closed-form double
expression over those integers, evaluated from a module-constant SQL
string that `entry_queries` embeds VERBATIM into the DuckDB oracle — so
both engines run the identical IEEE-754 op sequence and the quantized
outputs are bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..cache import swap_cache
from .spatial_join import _axis_sql

__all__ = [
    "getis_ord_gi",
    "gi_from_cells",
    "morans_i",
    "local_morans_i",
    "emerging_hotspots",
    "emerging_hotspot_analysis",
    "gi_spacetime",
    "kernel_density",
]


def _cell_key(lon: str, lat: str, res: int) -> F.Column:
    """Packed (x << res) | y grid key over the engine's axis formula — the
    one packed-key form (the tile pyramid, hotspot clusters, the tube
    operators and the streaming Gi* use it too); pure whole-stage-codegen
    arithmetic."""
    return F.expr(f"shiftleft({_axis_sql(lon, res)}, {res}) | {_axis_sql(lat, res, lat=True)}")


def _neighbor_keys(res: int, include_self: bool) -> str:
    """SQL array expr: the packed keys of the (8 or 9)-cell neighborhood
    of (_x, _y), border-clamped (no wrap — the clamped grid does not
    wrap either)."""
    n_side = 1 << res
    terms = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            if dx == 0 and dy == 0 and not include_self:
                continue
            terms.append(
                f"IF(_x + {dx} BETWEEN 0 AND {n_side - 1} "
                f"AND _y + {dy} BETWEEN 0 AND {n_side - 1}, "
                f"shiftleft(_x + {dx}, {res}) | (_y + {dy}), NULL)"
            )
    return "filter(array(" + ", ".join(terms) + "), x -> x IS NOT NULL)"


def _cell_counts(pts: DataFrame, res: int, lon: str, lat: str) -> DataFrame:
    """(cell_key, x) per POPULATED cell — the single corpus-scale
    shuffle every statistic below shares (partial-agg combinable)."""
    return (
        pts.select(_cell_key(lon, lat, res).alias("cell_key"))
        .groupBy("cell_key")
        .agg(F.count(F.lit(1)).alias("x"))
    )


def _with_xy(cells: DataFrame, res: int) -> DataFrame:
    n_side = 1 << res
    return cells.withColumn(
        "_x", F.expr(f"shiftrightunsigned(cell_key, {res})")
    ).withColumn("_y", F.expr(f"cell_key & {n_side - 1}"))


#: Gi* z-score over (w_i = Σ_{j∈N(i)∪i} x_j, k_i = |N(i)∪i|, n, s1=Σx,
#: s2=Σx²) — Getis & Ord 1992 eq. (the "star" variant: self included,
#: binary weights over POPULATED neighbor cells).  Embedded verbatim in
#: the DuckDB oracle; every identifier is a BIGINT column.
GI_STAR_SQL = (
    # zero-variance field (all cube cells equal, e.g. an all-zero time
    # slice) or k_i = n (one neighborhood spans every cell) make the
    # denominator 0 -> +/-Inf -> ANSI CAST error; both degenerate cases
    # carry no spatial signal, so z = 0 there (both engines, same text)
    "CASE WHEN (CAST(s2 AS DOUBLE) / n"
    "           - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) <= 0"
    " OR n * k_i - k_i * k_i <= 0 THEN CAST(0 AS BIGINT) ELSE "
    "CAST(ROUND(((w_i - (CAST(s1 AS DOUBLE) / n) * k_i)"
    " / (sqrt(CAST(s2 AS DOUBLE) / n"
    "          - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))"
    "    * sqrt(CAST(n * k_i - k_i * k_i AS DOUBLE) / (n - 1))))"
    " * 1000000) AS BIGINT) END"
)

#: Global Moran's I from exact-integer edge/cell aggregates:
#: n, s1=Σx, s2=Σx², w=|directed edges|, p=Σ_edges x_i·x_j,
#: q=Σ_edges (x_i+x_j).  Expanding Σ(x_i−x̄)(x_j−x̄) = p − x̄·q + w·x̄²
#: and Σ(x_i−x̄)² = s2 − n·x̄² keeps every input exact.
MORAN_I_SQL = (
    # n <= 1, no edge (every populated cell isolated) or zero variance
    # (all counts equal) leave I undefined (0/0 -> ANSI divide-by-zero);
    # none carries spatial signal, so I = 0 there (both engines, same text)
    "CASE WHEN n <= 1 OR w = 0"
    " OR s2 - n * ((CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) <= 0"
    " THEN CAST(0 AS BIGINT) ELSE "
    "CAST(ROUND(((CAST(n AS DOUBLE) / w)"
    " * ((p - (CAST(s1 AS DOUBLE) / n) * q"
    "      + w * ((CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))"
    "    / (s2 - n * ((CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))))"
    " * 1000000000) AS BIGINT) END"
)

#: Mann-Kendall z with tie correction from exact integers: s_stat (sign
#: tally), t_bins (series length), ties = Σ_g t_g(t_g−1)(2t_g+5).
#: Var(S) = (T(T−1)(2T+5) − ties)/18; continuity-corrected z.
MK_Z_SQL = (
    "CASE WHEN s_stat > 0 THEN (s_stat - 1)"
    " / sqrt(CAST(t_bins * (t_bins - 1) * (2 * t_bins + 5) - ties AS DOUBLE) / 18.0)"
    " WHEN s_stat < 0 THEN (s_stat + 1)"
    " / sqrt(CAST(t_bins * (t_bins - 1) * (2 * t_bins + 5) - ties AS DOUBLE) / 18.0)"
    " ELSE 0.0 END"
)

MK_TREND_SQL = (
    "CASE WHEN ({z}) > 1.959963984540054 THEN 'intensifying' "
    "WHEN ({z}) < -1.959963984540054 THEN 'diminishing' "
    "ELSE 'stable' END"
).format(z=MK_Z_SQL)

# --- Local Moran's I (Anselin 1995 LISA), binary unstandardized weights.
# Inputs are all exact BIGINT columns: per cell x (count), k_i (# of
# POPULATED 8-neighbors), lag (Σ neighbor counts); global n (# cells) and
# power sums s1..s4 = Σx..Σx⁴ (exact while per-cell counts stay ≤ 55,108
# — x⁴ < 2^63; raise `res` before that at extreme densities).  Shorthand
# below: mu = x̄, m2 = Σz²/n with z = x − x̄.
_MU = "(CAST(s1 AS DOUBLE) / n)"
_M2 = f"(CAST(s2 AS DOUBLE) / n - {_MU} * {_MU})"
#: I_i = z_i · Σ_{{j∈N(i)}} z_j / m2  (quantized nano-units)
LISA_I_RAW = f"((x - {_MU}) * (lag - k_i * {_MU}) / {_M2})"
LISA_I_SQL = f"CAST(ROUND(({LISA_I_RAW}) * 1000000000) AS BIGINT)"
#: kurtosis ratio b2 = (Σz⁴/n) / m2², with Σz⁴ expanded over s1..s4 so
#: every input stays an exact integer.
_B2 = (
    f"(((s4 - 4.0 * {_MU} * s3 + 6.0 * {_MU} * {_MU} * s2"
    f" - 4.0 * {_MU} * {_MU} * {_MU} * s1 + n * {_MU} * {_MU} * {_MU} * {_MU})"
    f" / n) / ({_M2} * {_M2}))"
)
#: Anselin 1995 randomization moments for binary weights (w_i. = w_i(2)
#: = k_i, Σ_{{k≠h}} w_ik w_ih = k_i(k_i−1)):
#: E[I_i] = −k_i/(n−1);  Var[I_i] = k_i(n−b2)/(n−1)
#:   + k_i(k_i−1)(2b2−n)/((n−1)(n−2)) − k_i²/(n−1)².
LISA_Z_SQL = (
    "CASE WHEN k_i = 0 THEN CAST(0 AS BIGINT) ELSE CAST(ROUND(("
    f"(({LISA_I_RAW}) - (-(CAST(k_i AS DOUBLE) / (n - 1))))"
    f" / sqrt(k_i * (n - {_B2}) / (n - 1)"
    f"        + k_i * (k_i - 1) * (2.0 * {_B2} - n) / ((n - 1.0) * (n - 2))"
    f"        - (CAST(k_i AS DOUBLE) * k_i) / ((n - 1.0) * (n - 1)))"
    ") * 1000000) AS BIGINT) END"
)
#: Moran-scatterplot quadrant: High/Low own value × High/Low spatial lag.
LISA_QUAD_SQL = (
    f"CASE WHEN k_i = 0 THEN 'NS'"
    f" WHEN (x - {_MU}) > 0 AND (lag - k_i * {_MU}) > 0 THEN 'HH'"
    f" WHEN (x - {_MU}) < 0 AND (lag - k_i * {_MU}) < 0 THEN 'LL'"
    f" WHEN (x - {_MU}) > 0 AND (lag - k_i * {_MU}) < 0 THEN 'HL'"
    f" WHEN (x - {_MU}) < 0 AND (lag - k_i * {_MU}) > 0 THEN 'LH'"
    f" ELSE 'NS' END"
)


def getis_ord_gi(
    pts: DataFrame, res: int = 6, lon: str = "lon", lat: str = "lat"
) -> DataFrame:
    """Getis-Ord Gi* hot/cold-spot z-score per populated grid cell
    (binary weights over the populated 8-neighborhood, self included —
    the G_i* of Getis & Ord 1992 with the observed cells as the spatial
    units).

    Engine shape: points collapse to cell counts in one combinable
    shuffle; the neighborhood sum is an explode(9 packed keys) +
    equi-join on the ≤4^res-row cell table; the three global scalars
    (n, Σx, Σx²) reduce once and broadcast back via crossJoin.  At
    100 TB the only stage touching point-scale data is the first count.

    Returns (cell_key, x, k_i, w_i, gi_z_x1e6).
    """
    cells = swap_cache(f"autocorr.cells.{res}", _cell_counts(pts, res, lon, lat))
    return gi_from_cells(cells, res)


def gi_from_cells(cells: DataFrame, res: int, by: tuple[str, ...] = ()) -> DataFrame:
    """Gi* over a PRE-AGGREGATED cell-count table (cell_key, x [, *by]);
    ``by`` adds grouping keys (e.g. a streaming window bound) — the
    neighborhood join, populated-neighbor count, and global moments all
    scope per group.  :func:`getis_ord_gi` is the by=() point-table
    front-end; the streaming hot-spot sink feeds finalized windows here.

    Returns (*by, cell_key, x, k_i, w_i, gi_z_x1e6).
    """
    by = list(by)
    ring = _with_xy(cells, res).select(
        *by,
        F.col("x").alias("_nx"),
        F.explode(F.expr(_neighbor_keys(res, include_self=True))).alias("nbr_key"),
    )
    # neighborhood sums: for every populated cell i, the ring rows whose
    # neighbor key IS i contribute that neighbor's count (self included)
    hood = (
        ring.join(
            cells.select(*by, F.col("cell_key").alias("nbr_key")), [*by, "nbr_key"]
        )
        .groupBy(*by, F.col("nbr_key").alias("cell_key"))
        .agg(
            F.sum("_nx").alias("w_i"),
            F.count(F.lit(1)).alias("k_i"),
        )
    )
    globals_ = cells.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.expr("x * x")).alias("s2"),
    )
    joined = cells.join(hood, [*by, "cell_key"])
    if by:
        joined = joined.join(F.broadcast(globals_), by)
    else:
        joined = joined.crossJoin(F.broadcast(globals_))
    return joined.select(
        *by,
        "cell_key",
        "x",
        "k_i",
        "w_i",
        F.expr(GI_STAR_SQL).alias("gi_z_x1e6"),
    )


def morans_i(
    pts: DataFrame, res: int = 6, lon: str = "lon", lat: str = "lat"
) -> DataFrame:
    """Global Moran's I spatial-autocorrelation index of the cell-count
    surface (binary 8-neighbor weights among populated cells, row sums
    unnormalized — Moran 1950 / Anselin 1995 global form), plus the
    exact integer aggregates it derives from.

    One corpus-scale count shuffle; the edge list and every aggregate
    live on the ≤4^res cell table.  Returns ONE row
    (n_cells, w_edges, moran_i_x1e9, e_i_x1e9) where e_i = −1/(n−1) is
    the null expectation.
    """
    cells = swap_cache(f"autocorr.cells.{res}", _cell_counts(pts, res, lon, lat))
    edges = (
        _with_xy(cells, res)
        .select(
            F.col("x").alias("xi"),
            F.explode(F.expr(_neighbor_keys(res, include_self=False))).alias(
                "nbr_key"
            ),
        )
        .join(
            cells.select(F.col("cell_key").alias("nbr_key"), F.col("x").alias("xj")),
            "nbr_key",
        )
    )
    eagg = edges.agg(
        F.count(F.lit(1)).alias("w"),
        F.sum(F.expr("xi * xj")).alias("p"),
        F.sum(F.expr("xi + xj")).alias("q"),
    )
    gagg = cells.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.expr("x * x")).alias("s2"),
    )
    return (
        gagg.crossJoin(eagg)
        .select(
            F.col("n").alias("n_cells"),
            F.col("w").alias("w_edges"),
            F.expr(MORAN_I_SQL).alias("moran_i_x1e9"),
            F.expr(
                "CAST(ROUND((-1.0 / (n - 1)) * 1000000000) AS BIGINT)"
            ).alias("e_i_x1e9"),
        )
    )


def local_morans_i(
    pts: DataFrame, res: int = 6, lon: str = "lon", lat: str = "lat"
) -> DataFrame:
    """Local Moran's I per populated grid cell (Anselin 1995 LISA,
    binary unstandardized 8-neighbor weights among populated cells),
    with the analytic randomization z-score and the Moran-scatterplot
    quadrant (HH/LL/HL/LH; 'NS' for isolated cells, which get I=0, z=0).

    Same engine shape as :func:`getis_ord_gi` (and the same plan-cached
    cell table): one combinable point-scale count shuffle, an 8-key
    explode + equi-join for the spatial lag on the ≤4^res cell table, a
    broadcast of five global scalars.  Isolated populated cells are kept
    via a left join (lag = k_i = 0).

    Returns (cell_key, x, k_i, lag, lisa_i_x1e9, lisa_z_x1e6, quad).
    """
    cells = swap_cache(f"autocorr.cells.{res}", _cell_counts(pts, res, lon, lat))
    ring = _with_xy(cells, res).select(
        F.col("x").alias("_nx"),
        F.explode(F.expr(_neighbor_keys(res, include_self=False))).alias("nbr_key"),
    )
    hood = (
        ring.join(cells.select(F.col("cell_key").alias("nbr_key")), "nbr_key")
        .groupBy(F.col("nbr_key").alias("cell_key"))
        .agg(F.sum("_nx").alias("lag"), F.count(F.lit(1)).alias("k_i"))
    )
    globals_ = cells.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.expr("x * x")).alias("s2"),
        F.sum(F.expr("x * x * x")).alias("s3"),
        F.sum(F.expr("x * x * x * x")).alias("s4"),
    )
    joined = (
        cells.join(hood, "cell_key", "left")
        .select(
            "cell_key",
            "x",
            F.coalesce(F.col("k_i"), F.lit(0).cast("bigint")).alias("k_i"),
            F.coalesce(F.col("lag"), F.lit(0).cast("bigint")).alias("lag"),
        )
        .crossJoin(F.broadcast(globals_))
    )
    return joined.select(
        "cell_key",
        "x",
        "k_i",
        "lag",
        F.expr(LISA_I_SQL).alias("lisa_i_x1e9"),
        F.expr(LISA_Z_SQL).alias("lisa_z_x1e6"),
        F.expr(LISA_QUAD_SQL).alias("quad"),
    )


#: hot threshold on the QUANTIZED z: z_x1e6 >= 1959964  <=>
#: round(z*1e6) >= 1959964  (z above the two-sided alpha=0.05 critical
#: value after quantization) — an exact integer compare in both engines.
GI_HOT_X1E6 = 1959964

#: EHSA category from exact integers (n_hot, hot_last, t_bins) + the MK
#: z closed form over the per-cell Gi*-z series: the core categories of
#: the ArcGIS emerging-hot-spot taxonomy expressible without the
#: half-history split (new / intensifying / diminishing / persistent /
#: sporadic / none).
EHSA_CAT_SQL = (
    "CASE WHEN n_hot = 0 THEN 'none' "
    "WHEN hot_last = 1 AND n_hot = 1 THEN 'new' "
    "WHEN ({z}) > 1.959963984540054 THEN 'intensifying' "
    "WHEN ({z}) < -1.959963984540054 THEN 'diminishing' "
    "WHEN n_hot * 10 >= t_bins * 9 THEN 'persistent' "
    "ELSE 'sporadic' END"
).format(z=MK_Z_SQL)


def kernel_density(
    pts: DataFrame,
    res: int = 6,
    radius: int = 2,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Smoothed kernel-density surface over the grid — the weighted
    heatmap GeoMesa's DensityScan produces, with an Epanechnikov kernel
    instead of the raw per-cell count.  Discretized at cell centers the
    kernel weight is the INTEGER w(dx,dy) = (radius+1)^2 - dx^2 - dy^2
    (> 0 inside the radius), so the numerator
    kde_num = sum_nbr x_nbr * w  is an exact BIGINT and the density is
    one closed-form division — no float kernel literals to drift across
    engines.  Border cells truncate (no wrap), matching the module's
    clamped-grid convention.

    Engine shape: one combinable count shuffle over points, then a
    (2*radius+1)^2-key explode + equi-join on the ≤4^res cell table —
    the same bounded-neighborhood pattern as Gi*, with a wider ring.

    Returns (cell_key, x, kde_num, kde_x1e6) for every cell with
    non-zero smoothed density (i.e. within ``radius`` of a populated
    cell).
    """
    r = int(radius)
    norm = (r + 1) * (r + 1)
    cells = swap_cache(f"autocorr.cells.{res}", _cell_counts(pts, res, lon, lat))
    n_side = 1 << res
    terms = []
    for dx in range(-r, r + 1):
        for dy in range(-r, r + 1):
            w = norm - dx * dx - dy * dy
            if w <= 0:
                continue
            terms.append(
                f"IF(_x + {dx} BETWEEN 0 AND {n_side - 1} "
                f"AND _y + {dy} BETWEEN 0 AND {n_side - 1}, "
                f"named_struct('k', shiftleft(_x + {dx}, {res}) | (_y + {dy}), "
                f"'w', CAST({w} AS BIGINT)), NULL)"
            )
    ring_expr = "filter(array(" + ", ".join(terms) + "), t -> t IS NOT NULL)"
    # every populated SOURCE cell scatters its weighted count onto the
    # target cells inside the kernel support (scatter == gather for the
    # symmetric kernel); targets carry their own raw count when populated
    contrib = _with_xy(cells, res).select(
        F.col("x").alias("_sx"),
        F.explode(F.expr(ring_expr)).alias("_t"),
    )
    kde = contrib.groupBy(F.col("_t.k").alias("cell_key")).agg(
        F.sum(F.expr("_sx * _t.w")).alias("kde_num")
    )
    return (
        kde.join(cells, "cell_key", "left")
        .select(
            "cell_key",
            F.coalesce(F.col("x"), F.lit(0).cast("bigint")).alias("x"),
            "kde_num",
            F.expr(
                f"CAST(ROUND((CAST(kde_num AS DOUBLE) / {norm}) * 1000000) AS BIGINT)"
            ).alias("kde_x1e6"),
        )
    )


def _day_cube(pts: DataFrame, res: int, ts: str, lon: str, lat: str) -> DataFrame:
    """The sparse (cell_key, day_bin, x) count cube at ``res`` — one
    map-side-combinable count over the points, cached under
    ``autocorr.cube.{res}`` for every space-time statistic.  cast() first:
    parquet may surface TIMESTAMP_NTZ, which unix_micros rejects — with the
    session pinned to UTC the NTZ→LTZ cast is the identity wall-time
    DuckDB's epoch_us uses (same idiom as tube.py)."""
    day = F.expr(
        f"CAST(floor(unix_micros(CAST({ts} AS TIMESTAMP)) / 86400000000.0) AS BIGINT)"
    )
    return swap_cache(
        f"autocorr.cube.{res}",
        pts.select(_cell_key(lon, lat, res).alias("cell_key"), day.alias("day_bin"))
        .groupBy("cell_key", "day_bin")
        .agg(F.count(F.lit(1)).alias("x")),
    )


def _mk_tally(series: DataFrame, val: str) -> DataFrame:
    """Mann-Kendall sufficient statistics of each cell's ``val`` series
    over (cell_key, day_bin, val) rows: S = Σ_{t1<t2} sign(v_{t2} − v_{t1})
    from the per-cell pair self-join, plus the tie term Σ t(t−1)(2t+5) and
    the series length.  All exact integers.
    Returns (cell_key, s_stat, ties, t_bins)."""
    a, b = [
        series.select(
            "cell_key", F.col("day_bin").alias(f"b{i}"), F.col(val).alias(f"v{i}")
        )
        for i in (1, 2)
    ]
    s = (
        a.join(b, "cell_key")
        .filter(F.col("b2") > F.col("b1"))
        .groupBy("cell_key")
        .agg(
            F.sum(
                F.expr("CASE WHEN v2 > v1 THEN 1 WHEN v2 < v1 THEN -1 ELSE 0 END")
            ).alias("s_stat")
        )
    )
    ties = (
        series.groupBy("cell_key", val)
        .agg(F.count(F.lit(1)).alias("tg"))
        .groupBy("cell_key")
        .agg(
            F.sum(F.expr("tg * (tg - 1) * (2 * tg + 5)")).alias("ties"),
            F.sum("tg").alias("t_bins"),
        )
    )
    return s.join(ties, "cell_key")


def gi_spacetime(
    pts: DataFrame,
    res: int = 5,
    ts: str = "ts",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Space-time Gi* over the dense (cell, day) cube — the 3x3x3
    bin neighborhood (spatial 8-neighbors + self, x day-1/day/day+1,
    truncated at the day range edges) that the ArcGIS space-time-cube
    hot-spot tool uses by default; global moments over the WHOLE cube.

    Engine shape: one (cell, day) count shuffle over points; the dense
    cube is populated-cells x day-bins; the neighborhood sum is a
    27-key explode + equi-join on (nbr_key, nbr_day) over cube-sized
    tables; three global scalars broadcast back.  Same exactness
    discipline: BIGINT sufficient statistics + the shared GI_STAR_SQL.

    Returns (cell_key, day_bin, x, k_i, w_i, gi_z_x1e6).
    """
    cd = _day_cube(pts, res, ts, lon, lat)
    bins = cd.select("day_bin").distinct()
    cube = swap_cache(
        f"autocorr.stcube.{res}",
        cd.select("cell_key")
        .distinct()
        .crossJoin(F.broadcast(bins))
        .join(cd, ["cell_key", "day_bin"], "left")
        .select(
            "cell_key", "day_bin", F.coalesce(F.col("x"), F.lit(0)).alias("x")
        ),
    )
    ring = (
        _with_xy(cube, res)
        .select(
            F.col("x").alias("_nx"),
            F.col("day_bin"),
            F.explode(F.expr(_neighbor_keys(res, include_self=True))).alias(
                "nbr_key"
            ),
        )
        .select(
            "_nx",
            "nbr_key",
            F.explode(
                F.expr("array(day_bin - 1, day_bin, day_bin + 1)")
            ).alias("nbr_day"),
        )
    )
    hood = (
        ring.join(
            cube.select(
                F.col("cell_key").alias("nbr_key"), F.col("day_bin").alias("nbr_day")
            ),
            ["nbr_key", "nbr_day"],
        )
        .groupBy(
            F.col("nbr_key").alias("cell_key"), F.col("nbr_day").alias("day_bin")
        )
        .agg(F.sum("_nx").alias("w_i"), F.count(F.lit(1)).alias("k_i"))
    )
    globals_ = cube.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.expr("x * x")).alias("s2"),
    )
    return (
        cube.join(hood, ["cell_key", "day_bin"])
        .crossJoin(F.broadcast(globals_))
        .select(
            "cell_key",
            "day_bin",
            "x",
            "k_i",
            "w_i",
            F.expr(GI_STAR_SQL).alias("gi_z_x1e6"),
        )
    )


def emerging_hotspot_analysis(
    pts: DataFrame,
    res: int = 5,
    min_total: int = 20,
    ts: str = "ts",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Full emerging-hot-spot analysis (the ArcGIS EHSA recipe): build
    the dense space-time cube over ALL populated cells, score every
    (cell, day) with Gi* against that day's field (binary 8-neighbor
    weights over the cube's constant cell set), then Mann-Kendall-test
    each cell's z SERIES and classify:

    none (never hot) / new (hot only on the final day) / intensifying
    (MK trend of z up at alpha=0.05) / diminishing (down) / persistent
    (hot >=90% of days, no trend) / sporadic (the rest).  "Hot" is the
    exact integer compare gi_z_x1e6 >= GI_HOT_X1E6.

    Exactness chain: counts -> per-day Gi* z quantized to BIGINT micros
    (shared GI_STAR_SQL) -> MK sign tally over those BIGINTs (exact) ->
    MK z + category via shared SQL; bit-equal across engines end to end.
    Engine shape: one (cell, day) count shuffle over points; the cube,
    per-day Gi* joins, and the T^2 pair tally all run on
    <=4^res x T-row tables.  Cells with total < ``min_total`` are scored
    (they shape the field) but not returned.

    Returns (cell_key, total, t_bins, n_hot, s_stat, mk_z_x1e6, category).
    """
    cd = _day_cube(pts, res, ts, lon, lat)
    totals = cd.groupBy("cell_key").agg(F.sum("x").alias("total"))
    bins = cd.select("day_bin").distinct()
    cube = (
        totals.select("cell_key")
        .crossJoin(F.broadcast(bins))
        .join(cd, ["cell_key", "day_bin"], "left")
        .select(
            "day_bin",
            "cell_key",
            F.coalesce(F.col("x"), F.lit(0)).alias("x"),
        )
    )
    z = swap_cache(
        f"autocorr.ehsa_z.{res}",
        gi_from_cells(cube, res, by=("day_bin",)).select(
            "day_bin", "cell_key", "gi_z_x1e6"
        ),
    )
    last_day = bins.agg(F.max("day_bin").alias("_last"))
    hot = (
        z.crossJoin(F.broadcast(last_day))
        .groupBy("cell_key")
        .agg(
            F.sum(
                F.expr(f"CASE WHEN gi_z_x1e6 >= {GI_HOT_X1E6} THEN 1 ELSE 0 END")
            ).alias("n_hot"),
            F.max(
                F.expr(
                    f"CASE WHEN day_bin = _last AND gi_z_x1e6 >= {GI_HOT_X1E6} "
                    "THEN 1 ELSE 0 END"
                )
            ).alias("hot_last"),
        )
    )
    return (
        _mk_tally(z, "gi_z_x1e6")
        .join(hot, "cell_key")
        .join(totals, "cell_key")
        .filter(F.col("total") >= int(min_total))
        .select(
            "cell_key",
            "total",
            "t_bins",
            "n_hot",
            "s_stat",
            F.expr(f"CAST(ROUND(({MK_Z_SQL}) * 1000000) AS BIGINT)").alias(
                "mk_z_x1e6"
            ),
            F.expr(EHSA_CAT_SQL).alias("category"),
        )
    )


def emerging_hotspots(
    pts: DataFrame,
    res: int = 5,
    min_total: int = 20,
    ts: str = "ts",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Mann-Kendall monotonic-trend test per hot cell over the DENSE
    space-time cube (the ArcGIS "emerging hot spot analysis" core):
    cells with ≥ ``min_total`` points get a day-binned count series —
    absent (cell, day) combinations count 0 — and the MK statistic
    S = Σ_{t1<t2} sign(x_{t2} − x_{t1}) with tie-corrected variance
    classifies each as intensifying / diminishing / stable at α=0.05.

    Engine shape: one (cell, day) groupBy over points (combinable);
    the dense cube is hot-cells × global-day-bins (both tiny — bins
    come from ONE distinct over the already-aggregated (cell, day)
    table, not a second point pass), densified by a left join; the
    T²-pairwise sign tally runs per cell on ≤(4^res)·T cube rows.
    S, ties, and T are exact integers; z is one closed-form double.

    Returns (cell_key, total, t_bins, s_stat, mk_z_x1e6, trend).
    """
    cd = _day_cube(pts, res, ts, lon, lat)
    hot = (
        cd.groupBy("cell_key")
        .agg(F.sum("x").alias("total"))
        .filter(F.col("total") >= int(min_total))
    )
    bins = cd.select("day_bin").distinct()
    cube = (
        hot.select("cell_key")
        .crossJoin(F.broadcast(bins))
        .join(cd, ["cell_key", "day_bin"], "left")
        .select("cell_key", "day_bin", F.coalesce(F.col("x"), F.lit(0)).alias("x"))
    )
    cube = swap_cache(f"autocorr.densecube.{res}", cube)
    return (
        _mk_tally(cube, "x")
        .join(hot, "cell_key")
        .select(
            "cell_key",
            "total",
            "t_bins",
            "s_stat",
            F.expr(f"CAST(ROUND(({MK_Z_SQL}) * 1000000) AS BIGINT)").alias(
                "mk_z_x1e6"
            ),
            F.expr(MK_TREND_SQL).alias("trend"),
        )
    )
