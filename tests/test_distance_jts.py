"""The ``st_*`` distances against JTS ``DistanceOp`` (JTS 1.20, on Spark's
classpath; read through :mod:`jts_oracle`), over a seeded set of random
shape pairs run through SQL over a DataFrame.  Pairs that JTS calls
invalid (overlapping multipolygon parts) are skipped."""

import numpy as np
import pandas as pd
import pytest

from geomesa_spark.functions import st_funcs
from geomesa_spark.geo import kernels
from jts_oracle import Jts, nearest_pairs, random_shape

N_PAIRS = 1000


@pytest.fixture(scope="module")
def pairs(spark):
    st_funcs.register(spark)
    rng = np.random.default_rng(12)
    shapes = [(random_shape(rng), random_shape(rng)) for _ in range(N_PAIRS)]
    spark.createDataFrame(pd.DataFrame({
        "i": np.arange(N_PAIRS),
        "wa": [a[0] for a, _ in shapes],
        "wb": [b[0] for _, b in shapes],
    })).createOrReplaceTempView("jts_pairs")
    got = spark.sql(
        "SELECT i, st_distance(a, b) AS d, st_distanceSphere(a, b) AS ds, "
        "st_x(c) AS cx, st_y(c) AS cy FROM (SELECT i, a, b, st_closestPoint(a, b) AS c "
        "FROM (SELECT i, st_geomFromWKT(wa) AS a, st_geomFromWKT(wb) AS b FROM jts_pairs))"
    ).toPandas().set_index("i").sort_index()
    jts = Jts(spark)
    out = []
    for i, ((wa, ca), (wb, cb)) in enumerate(shapes):
        ja, jb = jts.read(wa), jts.read(wb)
        if ja is not None and jb is not None:
            out.append((i, jts, ja, jb, ca, cb, got.loc[i]))
    assert len(out) > 0.9 * N_PAIRS
    return out


def test_distance_equals_jts(pairs):
    bad = [(i, r.d, jts.distance(ja, jb)) for i, jts, ja, jb, _, _, r in pairs
           if abs(r.d - jts.distance(ja, jb)) > 1e-9]
    assert not bad, bad[:5]


def test_closest_point_lies_on_a(pairs):
    bad = []
    for i, jts, ja, _, _, _, r in pairs:
        on = jts.distance(ja, jts.read(f"POINT({float(r.cx)!r} {float(r.cy)!r})"))
        if on > 1e-9:
            bad.append((i, r.cx, r.cy, on))
    assert not bad, bad[:5]


def test_sphere_is_haversine_of_jts_pair_where_unique(pairs):
    checked, bad = 0, []
    for i, jts, ja, jb, ca, cb, r in pairs:
        if jts.distance(ja, jb) > 0 and len(nearest_pairs(ca, cb)) > 1:
            continue  # a tie: JTS may take another pair of the same planar length
        (ax, ay), (bx, by) = jts.nearest_points(ja, jb)
        want = float(kernels.haversine_m(ax, ay, bx, by))
        checked += 1
        if abs(r.ds - want) > 1e-4:
            bad.append((i, r.ds, want))
    assert not bad, bad[:5]
    assert checked > 0.5 * N_PAIRS
