"""Property-based tests (hypothesis) for the pure kernels and the near-dup
candidate join — the fuzzing tier of the reference's test strategy
(SURVEY.md §5): round-trips and invariants that must hold for ALL inputs,
not just fixtures.  The Spark properties run few, small examples."""

import numpy as np
import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from geomesa_spark import cells
from geomesa_spark.geo import kernels, wkt
from geomesa_spark.operators import dedup, xz2

lons = st.floats(min_value=-180.0, max_value=180.0, allow_nan=False)
lats = st.floats(min_value=-90.0, max_value=90.0, allow_nan=False)
res_st = st.integers(min_value=0, max_value=26)


@settings(max_examples=200, deadline=None)
@given(lons, lats, res_st)
def test_cell_roundtrip_contains_point(lon, lat, res):
    c = cells.encode(np.array([lon]), np.array([lat]), res)
    assert c[0] >= 0
    lo0, la0, lo1, la1 = cells.cell_bounds(c, res)
    # closed-left, open-right cells; the top edge clamps into the last cell
    assert lo0[0] - 1e-9 <= lon <= lo1[0] + 1e-9 or lon == 180.0
    assert la0[0] - 1e-9 <= lat <= la1[0] + 1e-9 or lat == 90.0


@settings(max_examples=200, deadline=None)
@given(lons, lats, res_st, st.integers(min_value=0, max_value=10))
def test_parent_is_prefix(lon, lat, res, dres):
    dres = min(dres, res)
    fine = cells.encode(np.array([lon]), np.array([lat]), res)
    coarse = cells.encode(np.array([lon]), np.array([lat]), res - dres)
    assert cells.parent(fine, dres)[0] == coarse[0]


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(lons, lats), min_size=1, max_size=8))
def test_wkt_wkb_roundtrip_multipoint(pts):
    g = wkt.Geometry(wkt.WKB_MULTIPOINT, np.asarray(pts, dtype=np.float64))
    back = wkt.wkb_to_geom(wkt.geom_to_wkb(g))
    assert back.kind == wkt.WKB_MULTIPOINT
    assert np.allclose(np.asarray(back.coords), np.asarray(pts))
    # WKT round-trip too (formatter truncates at 1e-10 — compare loosely)
    t = wkt.to_wkt(g)
    back2 = wkt.parse_wkt(t)
    assert np.allclose(np.asarray(back2.coords), np.asarray(pts), atol=1e-9)


@settings(max_examples=100, deadline=None)
@given(
    st.floats(min_value=-179.0, max_value=170.0, allow_nan=False),
    st.floats(min_value=-85.0, max_value=80.0, allow_nan=False),
    st.floats(min_value=1e-6, max_value=8.0),
    st.floats(min_value=1e-6, max_value=4.0),
)
def test_xz2_keys_cover_bbox(lon0, lat0, w, h):
    lon1, lat1 = min(lon0 + w, 180.0), min(lat0 + h, 90.0)
    x0, y0, x1, y1 = (
        f"{lon0!r} {lat0!r}", f"{lon1!r} {lat0!r}", f"{lon1!r} {lat1!r}", f"{lon0!r} {lat1!r}"
    )
    g = f"POLYGON(({x0}, {y0}, {x1}, {y1}, {x0}))"
    keys = xz2.geometry_keys(g, 12)
    assert 1 <= len(keys) <= 4
    (lv,) = {k for k, _ in keys}
    key_cells = {c for _, c in keys}
    # random interior samples must land in a key cell
    rng = np.random.default_rng(7)
    sx = rng.uniform(lon0, lon1, 20)
    sy = rng.uniform(lat0, lat1, 20)
    assert set(int(c) for c in cells.encode(sx, sy, lv)) <= key_cells


@settings(max_examples=100, deadline=None)
@given(lons, lats, lons, lats)
def test_vincenty_vs_haversine_bounds(lon1, lat1, lon2, lat2):
    """Spheroid and sphere distances agree within the flattening (~0.6%)
    — catches sign/iteration bugs without an external geodesic oracle."""
    v = kernels.vincenty_m(np.array([lon1]), np.array([lat1]), lon2, lat2)[0]
    h = kernels.haversine_m(np.array([lon1]), np.array([lat1]), lon2, lat2)[0]
    assert v >= 0
    if h > 1000:  # relative comparison meaningless at ~0 distance
        assert abs(v - h) / h < 0.01


band_keys = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 3)), max_size=4
)


@settings(max_examples=12, deadline=None)
@given(st.dictionaries(st.integers(0, 40), band_keys, max_size=12))
def test_candidate_pairs_equal_bruteforce(spark, keyed):
    """The shared LSH self-join returns exactly the id pairs that share a
    (band, key), each once, ordered id_a < id_b, with both sides' carried
    columns attached."""
    rows = [(i, [{"band": b, "key": k} for b, k in ks], i * 10) for i, ks in keyed.items()]
    df = spark.createDataFrame(rows, "id long, keys array<struct<band:int,key:long>>, v long")
    got = [tuple(r) for r in dedup._candidate_pairs(df, F.col("keys"), carry=("v",)).collect()]
    want = {
        (a, b, 10 * a, 10 * b)
        for a in keyed for b in keyed
        if a < b and set(keyed[a]) & set(keyed[b])
    }
    assert len(got) == len(set(got)) and set(got) == want


words = st.sampled_from("ant bee cat dog eel fox gnu hen ibis jay kiwi lark".split())


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.lists(words, min_size=1, max_size=6), min_size=20, max_size=30),
    st.sampled_from([(16, 2), (16, 4), (64, 5)]),
)
def test_simhash_pairs_equal_bruteforce_hamming(spark, docs, bits_blocks):
    """For max_hamming < n_blocks the pigeonhole block join is complete:
    the JVM SimHash pairs equal a numpy brute-force Hamming <= h join over
    the same hashes.  h = n_blocks - 1 is the binding case (the candidate
    set does not depend on h, the exact verify does)."""
    n_bits, n_blocks = bits_blocks
    h = n_blocks - 1
    df = spark.createDataFrame(
        [(f"d{i:02d}", " ".join(ws)) for i, ws in enumerate(docs)], "doc_id string, text string"
    )
    hashes = {
        r["id"]: r["simhash"] for r in dedup.simhash_values_jvm(df, "text", "doc_id", n_bits).collect()
    }
    ids = sorted(hashes)
    vals = np.array([hashes[i] for i in ids], dtype=np.int64).view(np.uint64)
    xor = vals[:, None] ^ vals[None, :]
    ham = np.unpackbits(xor.view(np.uint8).reshape(len(ids), len(ids), 8), axis=2).sum(axis=2)
    want = {
        (ids[a], ids[b], int(ham[a, b]))
        for a in range(len(ids)) for b in range(a + 1, len(ids))
        if ham[a, b] <= h
    }
    got = dedup.simhash_pairs_jvm(df, n_bits=n_bits, n_blocks=n_blocks, max_hamming=h).collect()
    assert {tuple(r) for r in got} == want and len(got) == len(want)
