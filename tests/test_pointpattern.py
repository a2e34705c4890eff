"""Brute-force numpy oracles for the point-pattern statistics (Ripley's
K/L ladder, Knox space-time test).  The driver-contract oracle shares
the closed-form SQL with the engine by construction; here every pair
count is recomputed from ALL O(n^2) haversine/time deltas in numpy —
including antimeridian-straddling pairs, which exercise the ring
cover's longitude wrap."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geomesa_spark.operators import pointpattern as pp

RES = 6
LAT_MAX = 60.0


def _cloud(n=1500, seed=11):
    rng = np.random.default_rng(seed)
    lon = np.concatenate(
        [
            rng.normal(20.0, 1.0, n // 3),          # dense blob
            rng.normal(179.9, 0.8, n // 3),         # straddles the antimeridian
            rng.uniform(-179.0, 179.0, n - 2 * (n // 3)),
        ]
    )
    lon = ((lon + 180.0) % 360.0) - 180.0
    lat = np.concatenate(
        [
            rng.normal(10.0, 1.0, n // 3),
            rng.normal(55.0, 0.7, n // 3),
            rng.uniform(-75.0, 75.0, n - 2 * (n // 3)),
        ]
    )
    lat = np.clip(lat, -85.0, 85.0)
    base = 1_700_000_000_000_000
    us = base + rng.integers(0, 30 * 86_400_000_000, n)
    return pd.DataFrame(
        {"event_id": np.arange(n, dtype=np.int64), "lon": lon, "lat": lat, "us": us}
    )


def _hav_matrix(lon, lat):
    la = np.radians(lat)[:, None]
    lb = np.radians(lat)[None, :]
    dla = lb - la
    dlo = np.radians(lon)[None, :] - np.radians(lon)[:, None]
    h = np.sin(dla / 2) ** 2 + np.cos(la) * np.cos(lb) * np.sin(dlo / 2) ** 2
    return 2.0 * 6371008.8 * np.arcsin(np.minimum(np.sqrt(h), 1.0))


def _window(pdf):
    return pdf[np.abs(pdf["lat"]) <= LAT_MAX].reset_index(drop=True)


def test_ripley_k_matches_bruteforce(spark):
    pdf = _cloud()
    df = spark.createDataFrame(pdf)
    dists = (25_000.0, 50_000.0, 100_000.0, 200_000.0)
    got = {r["d_m"]: r for r in pp.ripley_k(df, dists, res=RES, lat_max=LAT_MAX).collect()}
    w = _window(pdf)
    n = len(w)
    dm = _hav_matrix(w["lon"].to_numpy(), w["lat"].to_numpy())
    iu = np.triu_indices(n, k=1)
    pair_d = dm[iu]
    area = pp.band_area_m2(LAT_MAX)
    assert set(got) == {int(d) for d in dists}
    prev = 0.0
    for d in dists:
        cnt = int((pair_d <= d).sum())
        ring = cnt - int((pair_d <= prev).sum())
        k = area * 2.0 * cnt / (n * (n - 1))
        g = area * 2.0 * ring / (n * (n - 1)) / (math.pi * (d * d - prev * prev))
        row = got[int(d)]
        assert row["pairs"] == cnt and row["ring_pairs"] == ring
        assert row["d_prev"] == int(prev)
        assert row["k_hat_m2"] == pytest.approx(k, abs=2)
        assert row["l_hat_mm"] == pytest.approx(math.sqrt(k / math.pi) * 1000, abs=2)
        assert row["g_hat_x1e6"] == pytest.approx(g * 1e6, abs=2)
        prev = d
    # the ladder is cumulative and the blobs force clustering: K(200km)
    # must far exceed the CSR expectation pi*d^2
    assert got[200_000]["k_hat_m2"] > math.pi * 200_000.0**2


def test_cross_k_matches_bruteforce(spark):
    pdf = _cloud(n=1400, seed=9)
    pa = pdf[pdf["event_id"] % 2 == 0]
    pb = pdf[pdf["event_id"] % 2 == 1]
    dists = (50_000.0, 100_000.0)
    got = {
        r["d_m"]: r
        for r in pp.cross_k(
            spark.createDataFrame(pa), spark.createDataFrame(pb),
            dists, res=RES, lat_max=LAT_MAX,
        ).collect()
    }
    wa, wb = _window(pa), _window(pb)
    na, nb = len(wa), len(wb)
    la, laa = wa["lon"].to_numpy(), wa["lat"].to_numpy()
    lb, lbb = wb["lon"].to_numpy(), wb["lat"].to_numpy()
    # cross haversine matrix
    ra, rb = np.radians(laa)[:, None], np.radians(lbb)[None, :]
    dlo = np.radians(lb)[None, :] - np.radians(la)[:, None]
    h = np.sin((rb - ra) / 2) ** 2 + np.cos(ra) * np.cos(rb) * np.sin(dlo / 2) ** 2
    dm = 2.0 * 6371008.8 * np.arcsin(np.minimum(np.sqrt(h), 1.0))
    area = pp.band_area_m2(LAT_MAX)
    for d in dists:
        cnt = int((dm <= d).sum())
        k = area * cnt / (na * nb)
        row = got[int(d)]
        assert row["pairs"] == cnt
        assert row["k_ab_m2"] == pytest.approx(k, abs=2)
        assert row["l_ab_mm"] == pytest.approx(math.sqrt(k / math.pi) * 1000, abs=2)


def test_nn_g_function_matches_bruteforce(spark):
    pdf = _cloud(n=1000, seed=21)
    got = {
        r["d_m"]: r
        for r in pp.nn_g_function(
            spark.createDataFrame(pdf), (10_000.0, 25_000.0, 50_000.0, 100_000.0),
            res=RES, lat_max=LAT_MAX,
        ).collect()
    }
    w = _window(pdf)
    n = len(w)
    dm = _hav_matrix(w["lon"].to_numpy(), w["lat"].to_numpy())
    np.fill_diagonal(dm, np.inf)
    nnd = dm.min(axis=1)
    for d in (10_000.0, 25_000.0, 50_000.0, 100_000.0):
        n_le = int((nnd <= d).sum())
        row = got[int(d)]
        assert row["n_le"] == n_le and row["n"] == n
        assert row["g_x1e6"] == pytest.approx(n_le / n * 1e6, abs=2)


def test_knox_matches_bruteforce(spark):
    pdf = _cloud(n=1200, seed=5)
    df = spark.createDataFrame(pdf).select(
        "event_id", "lon", "lat", F.expr("timestamp_micros(us)").alias("ts")
    )
    dist_m, dt_s = 100_000.0, 2 * 86_400
    row = pp.knox_test(df, dist_m=dist_m, dt_s=dt_s, res=RES, lat_max=LAT_MAX).collect()[0]
    w = _window(pdf)
    n = len(w)
    dm = _hav_matrix(w["lon"].to_numpy(), w["lat"].to_numpy())
    us = w["us"].to_numpy()
    dt = np.abs(us[:, None] - us[None, :])
    iu = np.triu_indices(n, k=1)
    close_s = dm[iu] <= dist_m
    close_t = dt[iu] <= dt_s * 1_000_000
    s, t, x = int(close_s.sum()), int(close_t.sum()), int((close_s & close_t).sum())
    assert (row["n"], row["space_pairs"], row["time_pairs"], row["st_pairs"]) == (
        n, s, t, x,
    )
    e = s * t / (n * (n - 1) / 2.0)
    assert row["knox_e_x1e6"] == pytest.approx(e * 1e6, abs=2)
    assert row["knox_z_x1e6"] == pytest.approx((x - e) / math.sqrt(e) * 1e6, abs=2)


def test_haversine_sql_text_matches_oracle_template(spark):
    """One haversine text: the statistics, the DuckDB oracles and the
    distance joins share the same object."""
    from geomesa_spark import entry_queries
    from geomesa_spark.operators import spatial_join

    assert pp.HAVERSINE_M_SQL is entry_queries._HAVERSINE is spatial_join.HAVERSINE_M_SQL


def _seam_pairs(d_m, lat_max, res):
    """Point pairs at |lat| = lat_max (where a degree of longitude is
    shortest) whose great-circle distance is just under or just over
    ``d_m``, placed across longitude seams (the antimeridian included)
    and latitude seams at several offsets."""
    w = 360.0 / (1 << res)
    lon, lat = [], []
    for delta in (d_m / pp.EARTH_RADIUS_M * (1 - 1e-9), d_m / pp.EARTH_RADIUS_M * (1 + 1e-9)):
        for phi in (lat_max, -lat_max):
            dlon = math.degrees(2 * math.asin(math.sin(delta / 2) / math.cos(math.radians(phi))))
            for seam in (-180.0 + 7 * w, 3 * w, 180.0):
                for t in (1e-6, 0.25, 0.5, 0.75, 1 - 1e-6):
                    a = seam - t * dlon
                    lon += [a, (a + dlon + 180.0) % 360.0 - 180.0]
                    lat += [phi, phi]
        dlat = math.degrees(delta)
        for seam in (0.0, 180.0 / (1 << res) * 20 - 90.0):
            for t in (1e-6, 0.5, 1 - 1e-6):
                lon += [10.0, 10.0]
                lat += [seam - t * dlat, seam - t * dlat + dlat]
    return np.array(lon), np.array(lat)


def _assert_all_exact(spark, pdf, res, lat_max, d):
    """ripley_k, cross_k (even ids against odd), nn_g_function and
    knox_test at one distance ``d`` equal the O(n^2) numpy counts."""
    w = pdf[np.abs(pdf["lat"]) <= lat_max].reset_index(drop=True)
    dm = _hav_matrix(w["lon"].to_numpy(), w["lat"].to_numpy())
    iu = np.triu_indices(len(w), k=1)
    close = dm <= d
    df = spark.createDataFrame(pdf)

    got = pp.ripley_k(df, (d,), res=res, lat_max=lat_max).collect()
    assert got[0]["pairs"] == int(close[iu].sum())

    even = (w["event_id"] % 2 == 0).to_numpy()
    got = pp.cross_k(
        df.filter("event_id % 2 = 0"), df.filter("event_id % 2 = 1"),
        (d,), res=res, lat_max=lat_max,
    ).collect()
    assert got[0]["pairs"] == int(close[even][:, ~even].sum())

    nn = dm.copy()
    np.fill_diagonal(nn, np.inf)
    got = pp.nn_g_function(df, (d,), res=res, lat_max=lat_max).collect()
    assert got[0]["n_le"] == int((nn.min(axis=1) <= d).sum())

    dt_s = 2 * 86_400
    us = w["us"].to_numpy()
    close_t = np.abs(us[:, None] - us[None, :])[iu] <= dt_s * 1_000_000
    row = pp.knox_test(
        df.select("event_id", "lon", "lat", F.expr("timestamp_micros(us)").alias("ts")),
        dist_m=d, dt_s=dt_s, res=res, lat_max=lat_max,
    ).collect()[0]
    assert (row["space_pairs"], row["st_pairs"]) == (
        int(close[iu].sum()), int((close[iu] & close_t).sum()),
    )
    return int(close[iu].sum())


def _seam_cloud(d_m, lat_max, res, seed=3):
    """Seam pairs at ``d_m`` plus 300 random window points."""
    lon, lat = _seam_pairs(d_m, lat_max, res)
    rng = np.random.default_rng(seed)
    lon = np.concatenate([lon, rng.uniform(-180.0, 180.0, 300)])
    lat = np.concatenate([lat, rng.uniform(-lat_max, lat_max, 300)])
    us = 1_700_000_000_000_000 + rng.integers(0, 30 * 86_400_000_000, len(lon))
    return pd.DataFrame(
        {"event_id": np.arange(len(lon), dtype=np.int64), "lon": lon, "lat": lat, "us": us}
    )


def test_ring_cover_exact_at_any_res_and_distance(spark):
    """The pair stage is complete wherever a fixed 3x3 ring was not: at
    distances spanning several cells, near the poles, and at the seams
    of the old ring's one-cell bound."""
    res, lat_max = 6, 60.0
    # spans two cells of longitude at lat 60
    assert _assert_all_exact(spark, _seam_cloud(500_000.0, lat_max, res), res, lat_max,
                             500_000.0) > 60
    # lat 80, where a cell is 109 km wide and 313 km high
    assert _assert_all_exact(spark, _seam_cloud(200_000.0, 80.0, res), res, 80.0,
                             200_000.0) > 60

    # the linear one-cell bound, min(cell height, cell width at lat_max):
    # just under it a pair at lat 60 spans more than one cell of longitude
    d_linear = float(math.floor((180.0 / (1 << res)) * math.pi * pp.EARTH_RADIUS_M / 180.0))
    pdf = _seam_cloud(d_linear - 1.0, lat_max, res)
    x = np.floor((pdf["lon"].to_numpy() + 180.0) / 360.0 * (1 << res)).astype(int)
    dx = np.abs(x[:, None] - x[None, :])
    far = np.minimum(dx, (1 << res) - dx) >= 2
    dm = _hav_matrix(pdf["lon"].to_numpy(), pdf["lat"].to_numpy())
    assert ((dm <= d_linear - 1.0) & far).any()  # a pair a 3x3 ring misses
    _assert_all_exact(spark, pdf, res, lat_max, d_linear - 1.0)

    # one metre past the great-circle one-cell bound
    d_max = float(math.floor(
        2 * math.asin(math.cos(math.radians(lat_max)) * math.sin(math.pi / (1 << res)))
        * pp.EARTH_RADIUS_M
    ))
    for d in (d_max, d_max + 1.0):
        assert _assert_all_exact(spark, _seam_cloud(d, lat_max, res), res, lat_max, d) > 60


def test_pointpattern_plan_shape(spark):
    """No cartesian/nested-loop over the point-scale sides: the pair
    stage must be an equi-join on the ring cell (the only broadcast
    nested loops allowed are the scalar crossJoins)."""
    pdf = _cloud(n=400)
    df = spark.createDataFrame(pdf)
    plan = (
        pp.ripley_k(df, (50_000.0,), res=RES, lat_max=LAT_MAX)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
