"""The point predicates against JTS (legacy ``Geometry.relate`` and
``RelateNG``, read through :mod:`jts_oracle`): ``st_intersects``,
``st_contains`` and ``st_covers`` of seeded lines, shared-endpoint
multilines, holed polygons and multipoints against points on their
vertices, at their edge midpoints and 10ε off their edges, run through SQL
over a DataFrame (the vectorised point path).  JTS decides exactly; the
engine reads a point within ``kernels.ON_SEGMENT_EPS`` (ε) of an edge as
on it, so a disagreement is allowed only for such a point, and counted."""

import numpy as np
import pandas as pd
import pytest

from geomesa_spark.functions import st_funcs
from geomesa_spark.geo import kernels, relate
from jts_oracle import Jts, random_point_target

N_SHAPES = 120
EPS = kernels.ON_SEGMENT_EPS
#: the relations checked, by their JTS ``IntersectionMatrix`` patterns
PATTERNS = {name: relate._PATTERNS[name]["**"] for name in ("intersects", "contains", "covers")}


def _points(chains, multipoint: bool) -> np.ndarray:
    """Every vertex, and for a multipoint each point 10ε east; otherwise
    every edge midpoint and the points 10ε off it on both sides."""
    if multipoint:
        return np.concatenate([chains[0], chains[0] + [10 * EPS, 0.0]])
    out = list(chains)
    for c in chains:
        for (x1, y1), (x2, y2) in zip(c[:-1], c[1:]):
            L = np.hypot(x2 - x1, y2 - y1)
            if L > 0:
                m, n = [(x1 + x2) / 2, (y1 + y2) / 2], [-(y2 - y1) / L, (x2 - x1) / L]
                out.append(np.array([m, np.add(m, 10 * EPS * np.array(n)),
                                     np.subtract(m, 10 * EPS * np.array(n))]))
    return np.concatenate(out)


def _in_band(chains, x, y) -> bool:
    """The point is within ε of an edge (``kernels.on_segment``)."""
    return any(kernels.on_segment(x, y, c[:-1, 0], c[:-1, 1], c[1:, 0], c[1:, 1]).any()
               for c in chains)


@pytest.fixture(scope="module")
def cases(spark):
    st_funcs.register(spark)
    rng = np.random.default_rng(21)
    shapes, rows = [], []
    for s in range(N_SHAPES):
        w, chains = random_point_target(rng)
        shapes.append((w, chains))
        rows += [(s, w, float(x), float(y)) for x, y in _points(chains, w.startswith("MULTIPOINT"))]
    pdf = pd.DataFrame(rows, columns=["s", "wkt", "lon", "lat"])
    pdf["i"] = np.arange(len(pdf))
    spark.createDataFrame(pdf).createOrReplaceTempView("jts_points")
    got = spark.sql(
        "SELECT i, st_intersects(g, p) AS intersects, st_contains(g, p) AS contains, "
        "st_covers(g, p) AS covers FROM (SELECT i, st_geomFromWKT(wkt) AS g, "
        "st_point(lon, lat) AS p FROM jts_points)"
    ).toPandas().set_index("i").sort_index()
    return shapes, pdf, got


def test_point_predicates_agree_with_jts(spark, cases):
    shapes, pdf, got = cases
    jts = Jts(spark)
    read = [jts.read(w) for w, _ in shapes]
    checked, split, band, bad = 0, 0, [], []
    for r in pdf.itertuples():
        if read[r.s] is None:
            continue
        ms = jts.relate(read[r.s], jts.read(f"POINT({r.lon!r} {r.lat!r})"))
        for name, pats in PATTERNS.items():
            want = [any(relate.matches(m, p) for p in pats) for m in ms]
            if want[0] != want[1]:
                split += 1
            elif bool(got.loc[r.i, name]) == want[0]:
                checked += 1
            else:
                checked += 1
                near = _in_band(shapes[r.s][1], r.lon, r.lat)
                (band if near else bad).append((r.wkt, r.lon, r.lat, name))
    print(f"\npoint predicates vs JTS: {checked} checked, {split} split between the "
          f"JTS engines, {len(band)} disagreements inside the band, {len(bad)} outside it")
    assert not bad, bad[:5]
    assert checked > 0.9 * len(PATTERNS) * len(pdf)
