"""The JVM haversine decides every contract and benchmark pair as numpy does.

The distance joins and kNN refine with ``spatial_join.HAVERSINE_M_SQL``
in the JVM, while the DuckDB oracles evaluate the same text and the
benchmark's oracle uses ``kernels.haversine_m``.  The JVM's libm and
numpy's differ by a few ulp (under 1e-10 m at these distances), so a
JVM/numpy disagreement can only happen for a pair within that of its
threshold.  These tests pin how many pairs of the contract inputs
(sf0.001–sf0.1) and of the benchmark's seeds 1–10 lie in the 1e-6 m
band around their threshold, and check that every pair on which the two
engines disagree lies in that band.  For kNN the band is between the
distances of neighbouring ranks, where a disagreement would swap them.
"""

import os
import sys

import numpy as np
import pandas as pd
import pytest

from geomesa_spark import entry_queries as q
from geomesa_spark.geo import kernels
from geomesa_spark.operators.spatial_join import HAVERSINE_M_SQL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "perfbench"))
import inputs  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

BAND_M = 1e-6
SEEDS = range(1, 11)
CONTRACT_SFS = ("sf0.001", "sf0.01", "sf0.1")


def _candidates(l_lon, l_lat, r_lon, r_lat, dist_m):
    """(lon1, lat1, lon2, lat2) of every pair within 1.01 ``dist_m``."""
    i, j = oracle.pairs_within(l_lon, l_lat, r_lon, r_lat, dist_m * 1.01)
    return np.column_stack([l_lon[i], l_lat[i], r_lon[j], r_lat[j]])


def _to_centers(lon, lat, centers, dist_m):
    return [_candidates(lon, lat, np.array([c[0]]), np.array([c[1]]), dist_m)
            for c in centers]


def _jvm_haversine(spark, pairs: np.ndarray) -> np.ndarray:
    pdf = pd.DataFrame(pairs, columns=["lon1", "lat1", "lon2", "lat2"])
    pdf["i"] = np.arange(len(pdf))
    hav = HAVERSINE_M_SQL.format(lon1="lon1", lat1="lat1", lon2="lon2", lat2="lat2")
    out = spark.createDataFrame(pdf).selectExpr("i", f"{hav} AS d").toPandas()
    return out.sort_values("i")["d"].to_numpy()


def _threshold_sets(spark, testdata: str):
    """{name: (candidate pairs, threshold)} over the contract inputs under
    ``testdata`` and the benchmark's join workload."""
    sets = {}
    centers = [(lo, la) for _, lo, la in q.DWITHIN_CENTERS]
    for sf in CONTRACT_SFS:
        ev = q._event_points(spark, os.path.join(testdata, sf)).selectExpr(
            "event_id", "CAST(lon AS DOUBLE) AS lon", "CAST(lat AS DOUBLE) AS lat"
        ).toPandas()
        lon, lat, eid = ev["lon"].to_numpy(), ev["lat"].to_numpy(), ev["event_id"].to_numpy()
        sets[f"{sf}/st_dwithin_centers"] = (
            np.concatenate(_to_centers(lon, lat, centers, q.DWITHIN_M)), q.DWITHIN_M)
        a, b = eid % 17 == 1, eid % 13 == 2
        sets[f"{sf}/spacetime_join"] = (
            _candidates(lon[a], lat[a], lon[b], lat[b], 150_000.0), 150_000.0)
    for seed in SEEDS:
        t = inputs.build("join", "full", seed)
        pts = oracle.doc_points(t["docs"])
        ev = {c: t["events"].column(c).to_numpy() for c in ("eid", "lon", "lat")}
        ctr = [(c["lon"], c["lat"]) for c in workloads.CENTERS]
        sets[f"seed{seed}/dwithin_100km"] = (
            np.concatenate(_to_centers(pts["lon"], pts["lat"], ctr, workloads.DWITHIN_M)),
            workloads.DWITHIN_M)
        sets[f"seed{seed}/grid_join_50km"] = (
            _candidates(pts["lon"], pts["lat"], ev["lon"], ev["lat"], workloads.GRID_M),
            workloads.GRID_M)
        a, b = ev["eid"] % 17 == 1, ev["eid"] % 13 == 2
        sets[f"seed{seed}/spacetime_join"] = (
            _candidates(ev["lon"][a], ev["lat"][a], ev["lon"][b], ev["lat"][b],
                        workloads.SPACETIME_M), workloads.SPACETIME_M)
    return sets


@pytest.fixture(scope="module")
def threshold_sets(spark, sf_dir):
    return _threshold_sets(spark, os.path.dirname(sf_dir))


def test_threshold_band_pairs_pinned_and_only_they_may_differ(spark, threshold_sets):
    pairs = np.concatenate([p for p, _ in threshold_sets.values()])
    dist = np.concatenate([np.full(len(p), d) for p, d in threshold_sets.values()])
    assert len(pairs) > 300_000
    npd = kernels.haversine_m(pairs[:, 0], pairs[:, 1], pairs[:, 2], pairs[:, 3])
    jvm = _jvm_haversine(spark, pairs)
    assert np.abs(jvm - npd).max() < 1e-9
    in_band = np.abs(npd - dist) <= BAND_M
    assert int(in_band.sum()) == 0
    differ = (jvm <= dist) != (npd <= dist)
    assert not (differ & ~in_band).any()


def test_knn_rank_band_pinned(spark):
    """Benchmark kNN calls (seeds 1–10, every call of the stream): the
    k+1 nearest numpy distances of each query are at least ``BAND_M``
    apart, so the JVM ranks the same ids; and the JVM distances of those
    candidates are within 1e-9 m of numpy's."""
    close, cand = 0, []
    for seed in SEEDS:
        ev = inputs.build("index_serve", "full", seed)["events"]
        lon, lat = ev.column("lon").to_numpy(), ev.column("lat").to_numpy()
        for call in range(workloads.KNN_CALLS):
            for qq in inputs.knn_queries(seed, call):
                d = kernels.haversine_m(lon, lat, qq["lon"], qq["lat"])
                top = np.sort(d)[: qq["k"] + 1]
                close += int((np.diff(top) <= BAND_M).sum())
                nearest = np.argsort(d)[: qq["k"] + 1]
                cand.append(np.column_stack([lon[nearest], lat[nearest],
                                             np.full(len(nearest), qq["lon"]),
                                             np.full(len(nearest), qq["lat"])]))
    assert close == 0
    pairs = np.concatenate(cand)
    npd = kernels.haversine_m(pairs[:, 0], pairs[:, 1], pairs[:, 2], pairs[:, 3])
    assert np.abs(_jvm_haversine(spark, pairs) - npd).max() < 1e-9
