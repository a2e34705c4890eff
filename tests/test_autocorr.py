"""Independent numpy oracles for the spatial-autocorrelation operators
(Getis-Ord Gi*, global Moran's I, Mann-Kendall emerging hotspots).

The driver-contract oracle (entry_queries.oracle_sql) shares the closed-
form SQL strings with the engine by construction; these tests instead
re-derive each statistic from the TEXTBOOK formula in numpy — a genuinely
independent second implementation — on a deterministic synthetic cloud."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geomesa_spark.operators import autocorr

RES = 4
SIDE = 1 << RES


def _pts(spark, n=4000, seed=7):
    rng = np.random.default_rng(seed)
    # three dense blobs + uniform background so counts genuinely vary
    lon = np.concatenate(
        [
            rng.normal(10.0, 3.0, n // 3),
            rng.normal(-60.0, 2.0, n // 3),
            rng.uniform(-179.0, 179.0, n - 2 * (n // 3)),
        ]
    )
    lat = np.concatenate(
        [
            rng.normal(15.0, 2.0, n // 3),
            rng.normal(-20.0, 3.0, n // 3),
            rng.uniform(-84.0, 84.0, n - 2 * (n // 3)),
        ]
    )
    lon = np.clip(lon, -180.0, 180.0)
    lat = np.clip(lat, -85.0, 85.0)
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat})), lon, lat


def _np_cells(lon, lat):
    x = np.clip(np.floor((lon + 180.0) / 360.0 * SIDE).astype(np.int64), 0, SIDE - 1)
    y = np.clip(np.floor((lat + 90.0) / 180.0 * SIDE).astype(np.int64), 0, SIDE - 1)
    keys, counts = np.unique((x << RES) | y, return_counts=True)
    return dict(zip(keys.tolist(), counts.tolist()))


def _neighbors(key, include_self):
    cx, cy = key >> RES, key & (SIDE - 1)
    out = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            if dx == 0 and dy == 0 and not include_self:
                continue
            nx, ny = cx + dx, cy + dy
            if 0 <= nx < SIDE and 0 <= ny < SIDE:
                out.append((nx << RES) | ny)
    return out


def test_gi_star_matches_textbook_formula(spark):
    df, lon, lat = _pts(spark)
    got = {
        r["cell_key"]: r
        for r in autocorr.getis_ord_gi(df, res=RES).collect()
    }
    cells = _np_cells(lon, lat)
    xs = np.array(list(cells.values()), dtype=np.float64)
    n, xbar, sd = len(cells), xs.mean(), xs.std()
    assert set(got) == set(cells)
    for key, x in cells.items():
        nbrs = [k for k in _neighbors(key, include_self=True) if k in cells]
        w = float(sum(cells[k] for k in nbrs))
        k_i = float(len(nbrs))
        z = (w - xbar * k_i) / (sd * np.sqrt((n * k_i - k_i * k_i) / (n - 1)))
        row = got[key]
        assert row["x"] == x and row["k_i"] == k_i and row["w_i"] == w
        assert row["gi_z_x1e6"] == pytest.approx(z * 1e6, abs=2)


def test_gi_star_hot_blob_is_hot(spark):
    df, lon, lat = _pts(spark)
    rows = autocorr.getis_ord_gi(df, res=RES).collect()
    # the cell containing blob center (10, 15) must score far above the
    # global field, and SOME cell must be significantly cold or neutral
    cx = int((10.0 + 180.0) / 360.0 * SIDE)
    cy = int((15.0 + 90.0) / 180.0 * SIDE)
    blob = [r for r in rows if r["cell_key"] == ((cx << RES) | cy)]
    assert blob and blob[0]["gi_z_x1e6"] > 2_000_000  # z > 2
    assert min(r["gi_z_x1e6"] for r in rows) < 500_000


def test_morans_i_matches_textbook_formula(spark):
    df, lon, lat = _pts(spark)
    row = autocorr.morans_i(df, res=RES).collect()[0]
    cells = _np_cells(lon, lat)
    xs = np.array(list(cells.values()), dtype=np.float64)
    n, xbar = len(cells), xs.mean()
    num = w = 0.0
    for key, x in cells.items():
        for k in _neighbors(key, include_self=False):
            if k in cells:
                w += 1
                num += (x - xbar) * (cells[k] - xbar)
    i = (n / w) * num / ((xs - xbar) ** 2).sum()
    assert row["n_cells"] == n and row["w_edges"] == w
    assert row["moran_i_x1e9"] == pytest.approx(i * 1e9, abs=10)
    assert row["e_i_x1e9"] == round(-1.0 / (n - 1) * 1e9)
    # clustered blobs on a mostly-empty grid => strong positive autocorr
    assert row["moran_i_x1e9"] > 0


def _cell_centers(spark, cells_counts):
    """Points at grid-cell centers: {(cx, cy): count} → DataFrame."""
    import pandas as pd

    lon, lat = [], []
    for (cx, cy), k in cells_counts.items():
        lon += [-180.0 + (cx + 0.5) * 360.0 / SIDE] * k
        lat += [-90.0 + (cy + 0.5) * 180.0 / SIDE] * k
    return spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))


@pytest.mark.parametrize(
    "counts,edges",
    [
        # all-equal counts on a 3x3 block: edges exist, variance is 0
        ({(cx, cy): 3 for cx in (4, 5, 6) for cy in (7, 8, 9)}, 40),
        # all-isolated cells with varied counts: no edge at all
        ({(0, 0): 1, (3, 3): 2, (6, 9): 5, (12, 2): 7}, 0),
    ],
    ids=["all_equal_counts", "all_isolated_cells"],
)
def test_morans_i_degenerate_input_is_zero(spark, counts, edges):
    """I is 0/0 on these inputs: both engines return 0, not an ANSI
    divide-by-zero."""
    import duckdb

    row = autocorr.morans_i(_cell_centers(spark, counts), res=RES).collect()[0]
    assert row["n_cells"] == len(counts) and row["w_edges"] == edges
    assert row["moran_i_x1e9"] == 0
    # the DuckDB oracle interpolates the same text
    xs = list(counts.values())
    duck = duckdb.sql(
        f"SELECT {autocorr.MORAN_I_SQL} AS i FROM (SELECT {len(xs)}::BIGINT AS n, "
        f"{sum(xs)}::BIGINT AS s1, {sum(x * x for x in xs)}::BIGINT AS s2, "
        f"{edges}::BIGINT AS w, 0::BIGINT AS p, 0::BIGINT AS q)"
    ).fetchone()[0]
    assert duck == 0


def test_local_morans_i_matches_textbook(spark):
    df, lon, lat = _pts(spark)
    got = {
        r["cell_key"]: r
        for r in autocorr.local_morans_i(df, res=RES).collect()
    }
    cells = _np_cells(lon, lat)
    xs = np.array(list(cells.values()), dtype=np.float64)
    n, mu = len(cells), xs.mean()
    m2 = ((xs - mu) ** 2).mean()
    b2 = ((xs - mu) ** 4).mean() / m2**2
    assert set(got) == set(cells)
    saw_isolated = saw_hh = False
    for key, x in cells.items():
        nbrs = [k for k in _neighbors(key, include_self=False) if k in cells]
        k_i, lag = len(nbrs), sum(cells[k] for k in nbrs)
        i_val = (x - mu) * sum(cells[k] - mu for k in nbrs) / m2
        row = got[key]
        assert row["x"] == x and row["k_i"] == k_i and row["lag"] == lag
        assert row["lisa_i_x1e9"] == pytest.approx(i_val * 1e9, abs=10)
        if k_i == 0:
            assert row["lisa_z_x1e6"] == 0 and row["quad"] == "NS"
            saw_isolated = True
            continue
        e_i = -k_i / (n - 1)
        var = (
            k_i * (n - b2) / (n - 1)
            + k_i * (k_i - 1) * (2 * b2 - n) / ((n - 1) * (n - 2))
            - k_i**2 / (n - 1) ** 2
        )
        assert row["lisa_z_x1e6"] == pytest.approx(
            (i_val - e_i) / np.sqrt(var) * 1e6, abs=3
        )
        zi, lagdev = x - mu, lag - k_i * mu
        quad = (
            "HH" if zi > 0 and lagdev > 0
            else "LL" if zi < 0 and lagdev < 0
            else "HL" if zi > 0 and lagdev < 0
            else "LH" if zi < 0 and lagdev > 0
            else "NS"
        )
        assert row["quad"] == quad
        saw_hh = saw_hh or quad == "HH"
    # the blobs guarantee at least one genuine high-high cluster cell
    assert saw_hh


def _mk_np(series):
    s = 0
    for i in range(len(series)):
        for j in range(i + 1, len(series)):
            s += int(np.sign(series[j] - series[i]))
    t = len(series)
    _, tg = np.unique(series, return_counts=True)
    var = (t * (t - 1) * (2 * t + 5) - (tg * (tg - 1) * (2 * tg + 5)).sum()) / 18.0
    if s > 0:
        z = (s - 1) / np.sqrt(var)
    elif s < 0:
        z = (s + 1) / np.sqrt(var)
    else:
        z = 0.0
    return s, z


def test_emerging_hotspots_mann_kendall(spark):
    import pandas as pd

    rng = np.random.default_rng(3)
    rows = []
    # cell A: linearly growing count; cell B: shrinking; cell C: flat;
    # cell D: appears only in some days (dense-cube zeros matter)
    base = 1_700_000_000_000_000  # epoch micros
    day = 86_400_000_000
    for d in range(12):
        for _ in range(2 + d):  # growing
            rows.append((5.0, 5.0, base + d * day + 1))
        for _ in range(14 - d):  # shrinking
            rows.append((100.0, 40.0, base + d * day + 1))
        for _ in range(8):  # flat
            rows.append((-100.0, -40.0, base + d * day + 1))
    for d in (0, 11):  # sparse cell: zeros in between
        for _ in range(15):
            rows.append((170.0, 80.0, base + d * day + 1))
    pdf = pd.DataFrame(rows, columns=["lon", "lat", "us"])
    df = spark.createDataFrame(pdf).select(
        "lon", "lat", F.expr("timestamp_micros(us)").alias("ts")
    )
    out = {
        r["cell_key"]: r
        for r in autocorr.emerging_hotspots(df, res=RES, min_total=10).collect()
    }

    def key(lo, la):
        x = min(max(int((lo + 180.0) / 360.0 * SIDE), 0), SIDE - 1)
        y = min(max(int((la + 90.0) / 180.0 * SIDE), 0), SIDE - 1)
        return (x << RES) | y

    grow, shrink, flat, sparse = (
        out[key(5, 5)],
        out[key(100, 40)],
        out[key(-100, -40)],
        out[key(170, 80)],
    )
    s, z = _mk_np([2 + d for d in range(12)])
    assert grow["s_stat"] == s and grow["trend"] == "intensifying"
    assert grow["mk_z_x1e6"] == pytest.approx(z * 1e6, abs=2)
    s, z = _mk_np([14 - d for d in range(12)])
    assert shrink["s_stat"] == s and shrink["trend"] == "diminishing"
    assert flat["s_stat"] == 0 and flat["mk_z_x1e6"] == 0
    assert flat["trend"] == "stable"
    # sparse cell's series is 15,0,...,0,15 over the DENSE cube
    s, z = _mk_np([15] + [0] * 10 + [15])
    assert sparse["s_stat"] == s and sparse["t_bins"] == 12
    assert sparse["mk_z_x1e6"] == pytest.approx(z * 1e6, abs=2)


def test_autocorr_plan_shape(spark):
    """The only corpus-scale stage is the first cell count: no join in
    the Gi* plan may carry a point-scale side, and the globals join is
    a broadcast (no shuffle Exchange after the first aggregate's)."""
    df, _, _ = _pts(spark)
    plan = autocorr.getis_ord_gi(df, res=RES)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_emerging_hotspot_analysis_matches_numpy(spark):
    """Full EHSA parity against an independent numpy reimplementation:
    per-day Gi* over the dense cube, MK over the quantized z series,
    category CASE — every output column compared for every cell."""
    import pandas as pd

    rng = np.random.default_rng(13)
    base = 1_700_000_000_000_000
    day_us = 86_400_000_000
    D = 14
    rows = []
    for d in range(D):
        for _ in range(2 + 2 * d):          # growing -> intensifying
            rows.append((5.0, 5.0, base + d * day_us + 1))
        for _ in range(30):                  # steady hot -> persistent
            rows.append((100.0, 40.0, base + d * day_us + 1))
        for _ in range(rng.integers(1, 4)):  # scattered background
            rows.append(
                (float(rng.uniform(-170, 170)), float(rng.uniform(-80, 80)),
                 base + d * day_us + 1)
            )
    for _ in range(45):                      # appears only on the last day
        rows.append((-100.0, -40.0, base + (D - 1) * day_us + 1))
    pdf = pd.DataFrame(rows, columns=["lon", "lat", "us"])
    df = spark.createDataFrame(pdf).select(
        "lon", "lat", F.expr("timestamp_micros(us)").alias("ts")
    )
    got = {
        r["cell_key"]: r
        for r in autocorr.emerging_hotspot_analysis(
            df, res=RES, min_total=5
        ).collect()
    }

    # ---- independent numpy EHSA ----
    def cell(lo, la):
        x = min(max(int(np.floor((lo + 180.0) / 360.0 * SIDE)), 0), SIDE - 1)
        y = min(max(int(np.floor((la + 90.0) / 180.0 * SIDE)), 0), SIDE - 1)
        return (x << RES) | y

    cnt: dict = {}
    for lo, la, us in rows:
        k = (cell(lo, la), int((us - base) // day_us))
        cnt[k] = cnt.get(k, 0) + 1
    cells = sorted({c for c, _ in cnt})
    days = sorted({d for _, d in cnt})
    x = np.array([[cnt.get((c, d), 0) for d in days] for c in cells], dtype=np.float64)
    idx = {c: i for i, c in enumerate(cells)}
    nbrs = [
        [idx[k] for k in _neighbors(c, include_self=True) if k in idx] for c in cells
    ]
    n = len(cells)
    zq = np.zeros((n, len(days)), dtype=np.int64)
    for j in range(len(days)):
        col = x[:, j]
        mu, var = col.mean(), col.var()
        for i, c in enumerate(cells):
            k_i = len(nbrs[i])
            if var <= 0 or n * k_i - k_i * k_i <= 0:
                continue
            w = col[nbrs[i]].sum()
            zv = (w - mu * k_i) / (
                np.sqrt(var) * np.sqrt((n * k_i - k_i * k_i) / (n - 1))
            )
            zq[i, j] = int(np.sign(zv) * np.floor(np.abs(zv) * 1e6 + 0.5))
    HOT = autocorr.GI_HOT_X1E6
    checked = 0
    for i, c in enumerate(cells):
        total = int(x[i].sum())
        if total < 5:
            assert c not in got
            continue
        series = zq[i]
        s, z = _mk_np(series.tolist())
        n_hot = int((series >= HOT).sum())
        hot_last = series[-1] >= HOT
        if n_hot == 0:
            cat = "none"
        elif hot_last and n_hot == 1:
            cat = "new"
        elif z > 1.959963984540054:
            cat = "intensifying"
        elif z < -1.959963984540054:
            cat = "diminishing"
        elif n_hot * 10 >= len(days) * 9:
            cat = "persistent"
        else:
            cat = "sporadic"
        r = got[c]
        assert r["total"] == total and r["t_bins"] == len(days)
        assert r["s_stat"] == s and r["n_hot"] == n_hot
        assert r["mk_z_x1e6"] == pytest.approx(z * 1e6, abs=3)
        assert r["category"] == cat
        checked += 1
    assert checked == len(got)
    # the construction guarantees distinct trend categories appear: the
    # growing blob intensifies, the last-day blob is new, and the steady
    # blob DIMINISHES relative to the growing field (its z drifts down as
    # the global mean rises — faithful field-relative EHSA behavior)
    cats = {r["category"] for r in got.values()}
    assert {"intensifying", "diminishing", "new"} <= cats


def test_gi_spacetime_matches_numpy(spark):
    """Space-time Gi*: 3x3x3 bin neighborhood over the dense cube,
    global moments over the whole cube — parity per bin vs numpy."""
    import pandas as pd

    rng = np.random.default_rng(29)
    base = 1_700_000_000_000_000
    day_us = 86_400_000_000
    D = 8
    rows = []
    for d in range(D):
        for _ in range(5 + (3 if d == 4 else 0)):  # burst on day 4
            rows.append((5.0, 5.0, base + d * day_us + 1))
        for _ in range(rng.integers(1, 4)):
            rows.append(
                (float(rng.uniform(-170, 170)), float(rng.uniform(-80, 80)),
                 base + d * day_us + 1)
            )
    pdf = pd.DataFrame(rows, columns=["lon", "lat", "us"])
    df = spark.createDataFrame(pdf).select(
        "lon", "lat", F.expr("timestamp_micros(us)").alias("ts")
    )
    got = {
        (r["cell_key"], r["day_bin"]): r
        for r in autocorr.gi_spacetime(df, res=RES).collect()
    }

    def cell(lo, la):
        x = min(max(int(np.floor((lo + 180.0) / 360.0 * SIDE)), 0), SIDE - 1)
        y = min(max(int(np.floor((la + 90.0) / 180.0 * SIDE)), 0), SIDE - 1)
        return (x << RES) | y

    cnt: dict = {}
    for lo, la, us in rows:
        k = (cell(lo, la), int(us // day_us))  # absolute epoch day
        cnt[k] = cnt.get(k, 0) + 1
    cells = sorted({c for c, _ in cnt})
    days = sorted({d for _, d in cnt})
    x = {(c, d): cnt.get((c, d), 0) for c in cells for d in days}
    vals = np.array(list(x.values()), dtype=np.float64)
    n, mu, sd = len(x), vals.mean(), vals.std()
    assert set(got) == set(x)
    for (c, d), xv in x.items():
        nb = [
            (k, d + dd)
            for k in _neighbors(c, include_self=True)
            for dd in (-1, 0, 1)
            if (k, d + dd) in x
        ]
        w = float(sum(x[b] for b in nb))
        k_i = float(len(nb))
        z = (w - mu * k_i) / (sd * np.sqrt((n * k_i - k_i * k_i) / (n - 1)))
        r = got[(c, d)]
        assert r["x"] == xv and r["k_i"] == k_i and r["w_i"] == w
        assert r["gi_z_x1e6"] == pytest.approx(z * 1e6, abs=2)
    # the burst bin is the hottest bin of its cell's series
    # the burst is smeared across its +/-1-day neighborhood, so the
    # hottest bin of the cell's series lies within that window
    bkey = cell(5.0, 5.0)
    series = {d: got[(bkey, d)]["gi_z_x1e6"] for d in days}
    assert max(series, key=series.get) in {days[3], days[4], days[5]}


def test_kernel_density_matches_numpy_convolution(spark):
    """kernel_density == the exact integer Epanechnikov convolution of
    the count grid (scatter == gather for a symmetric kernel)."""
    df, lon, lat = _pts(spark, n=2500, seed=31)
    r = 2
    norm = (r + 1) ** 2
    got = {
        row["cell_key"]: row
        for row in autocorr.kernel_density(df, res=RES, radius=r).collect()
    }
    cells = _np_cells(lon, lat)
    grid = np.zeros((SIDE, SIDE), dtype=np.int64)
    for k, v in cells.items():
        grid[k >> RES, k & (SIDE - 1)] = v
    kde = np.zeros_like(grid)
    for dx in range(-r, r + 1):
        for dy in range(-r, r + 1):
            w = norm - dx * dx - dy * dy
            if w <= 0:
                continue
            src = np.zeros_like(grid)
            xs = slice(max(0, -dx), SIDE - max(0, dx))
            ys = slice(max(0, -dy), SIDE - max(0, dy))
            xt = slice(max(0, dx), SIDE - max(0, -dx))
            yt = slice(max(0, dy), SIDE - max(0, -dy))
            src[xt, yt] = grid[xs, ys] * w
            kde += src
    expect = {
        (cx << RES) | cy: int(kde[cx, cy])
        for cx in range(SIDE)
        for cy in range(SIDE)
        if kde[cx, cy] > 0
    }
    assert {k: v["kde_num"] for k, v in got.items()} == expect
    for k, row in got.items():
        assert row["x"] == cells.get(k, 0)
        assert row["kde_x1e6"] == pytest.approx(expect[k] / norm * 1e6, abs=2)
    # smoothing spreads density beyond the populated cells
    assert len(got) > len(cells)
