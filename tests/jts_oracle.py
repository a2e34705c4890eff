"""JTS as a test-side geometry oracle.

JTS 1.20 ships on Spark's classpath; :class:`Jts` reaches it through
``spark._jvm`` so tests can hold the engine's from-scratch numpy geometry
against JTS's answers.  JTS stays out of ``geomesa_spark/``.

:func:`random_shape` is the seeded shape generator the distance property
draws from, and :func:`nearest_pairs` counts a pair's nearest point pairs
by brute force, so a property can skip the ties where JTS and the engine
may each pick a different pair of equal distance."""

import numpy as np


class Jts:
    def __init__(self, spark):
        jts = spark._jvm.org.locationtech.jts
        self._reader = jts.io.WKTReader()
        self._op = jts.operation.distance.DistanceOp

    def read(self, text: str):
        """The JTS geometry of ``text``, or None when JTS calls it invalid."""
        g = self._reader.read(text)
        return g if g.isValid() else None

    # DistanceOp's instance methods: py4j's lookup of its static
    # ``nearestPoints`` can fail in a busy session
    def distance(self, a, b) -> float:
        return float(self._op(a, b).distance())

    def nearest_points(self, a, b) -> np.ndarray:
        """``DistanceOp.nearestPoints``: a (2, 2) array, the point on A first."""
        c = self._op(a, b).nearestPoints()
        return np.array([[c[0].getX(), c[0].getY()], [c[1].getX(), c[1].getY()]])


def _c(rng, lo=0.0, hi=10.0) -> float:
    return round(float(rng.uniform(lo, hi)), 3)


def _box(x0, y0, x1, y1) -> np.ndarray:
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])


def _rand_box(rng) -> np.ndarray:
    x0, y0 = _c(rng, 0, 8), _c(rng, 0, 8)
    return _box(x0, y0, round(x0 + _c(rng, 0.5, 3), 3), round(y0 + _c(rng, 0.5, 3), 3))


def _rand_line(rng) -> np.ndarray:
    return np.array([[_c(rng), _c(rng)] for _ in range(int(rng.integers(2, 5)))])


def _seq(c: np.ndarray) -> str:
    return "(" + ", ".join(f"{x:.3f} {y:.3f}" for x, y in c) + ")"


def random_shape(rng) -> tuple[str, list[np.ndarray]]:
    """One shape in the 0–10 square with 3-decimal coordinates (a point, a
    2–4-vertex line, a box, a holed box, a two-box multipolygon or a
    two-part multiline), as WKT and as its chains: each point, line and
    closed ring as a (k, 2) vertex array."""
    kind = int(rng.integers(6))
    if kind == 0:
        p = np.array([[_c(rng), _c(rng)]])
        return f"POINT({p[0, 0]:.3f} {p[0, 1]:.3f})", [p]
    if kind == 1:
        c = _rand_line(rng)
        return "LINESTRING" + _seq(c), [c]
    if kind == 5:
        a, b = _rand_line(rng), _rand_line(rng)
        return f"MULTILINESTRING({_seq(a)}, {_seq(b)})", [a, b]
    if kind == 4:
        a, b = _rand_box(rng), _rand_box(rng)
        return f"MULTIPOLYGON(({_seq(a)}), ({_seq(b)}))", [a, b]
    outer = _rand_box(rng)
    if kind == 2:
        return f"POLYGON({_seq(outer)})", [outer]
    (x0, y0), (x1, y1) = outer[0], outer[2]
    hx, hy = round((x0 + x1) / 2, 3), round((y0 + y1) / 2, 3)
    hole = _box(round(hx - (x1 - x0) / 4, 3), round(hy - (y1 - y0) / 4, 3), hx, hy)
    return f"POLYGON({_seq(outer)}, {_seq(hole)})", [outer, hole]


def nearest_pairs(chains_a: list, chains_b: list, tol: float = 1e-9) -> set:
    """The distinct nearest point pairs of two DISJOINT shapes (rounded to
    1e-7), by brute force over every vertex-to-segment projection both
    ways; more than one means the nearest pair is a tie."""

    def segs(chains):
        return np.concatenate([np.stack([c[:-1], c[1:]], 1) if len(c) > 1
                               else np.stack([c, c], 1) for c in chains])

    def project(chains, other):
        v, s = np.concatenate(chains), segs(other)
        a, d = s[:, 0], s[:, 1] - s[:, 0]
        L2 = (d * d).sum(-1)
        num = ((v[:, None] - a) * d).sum(-1)
        t = np.clip(np.divide(num, L2, out=np.zeros_like(num), where=L2 > 0), 0.0, 1.0)
        q = a + t[..., None] * d
        return np.broadcast_to(v[:, None], q.shape).reshape(-1, 2), q.reshape(-1, 2)

    va, qb = project(chains_a, chains_b)
    vb, qa = project(chains_b, chains_a)
    pa, pb = np.concatenate([va, qa]), np.concatenate([qb, vb])
    d = np.hypot(*(pa - pb).T)
    keep = d <= d.min() + tol
    return {tuple(np.round(np.concatenate([p, q]), 7)) for p, q in zip(pa[keep], pb[keep])}
