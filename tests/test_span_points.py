"""The one span-to-point extraction (``spatial_join.GEO_POINTS_SQL``):
``extract_geo_points`` and the flagship document join read the same
points, equal to a pure-Python reading of ``POINT_WKT_RE``, and a geo span
that the regexp accepts but no double parses from is skipped, not raised
on under ANSI."""

import re

import numpy as np
import pytest
from pyspark.sql import Row

from geomesa_spark.operators import spatial_join as sj

SPANS = "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"

#: the lon/lat domain as one polygon; no edge is wider than 180°, so it is
#: not read as crossing the antimeridian
WORLD = [dict(polygon_id="world", wkt="POLYGON((-180 -90, 0 -90, 180 -90, 180 90, "
                                       "0 90, -180 90, -180 -90))")]


def _docs(spark, docs):
    """(doc_id, [(kind, text), ...]) pairs as a documents_spans frame."""
    return spark.createDataFrame(
        [(d, [Row(kind=k, text=t, media_ref=None, offset=10 * i) for i, (k, t) in enumerate(sp)])
         for d, sp in docs],
        SPANS,
    )


def _points(df):
    return sorted((r.doc_id, r.geo_pos, r.lon, r.lat)
                  for r in df.select("doc_id", "geo_pos", "lon", "lat").collect())


def reference_points(docs):
    """(doc_id, geo_pos, lon, lat) of every geo span whose text
    ``POINT_WKT_RE`` matches with both captures parsing as floats to a
    point of the lon/lat domain; ``geo_pos`` counts every geo span."""
    pat = re.compile(sj.POINT_WKT_RE)
    out = []
    for doc_id, spans in docs:
        for pos, text in enumerate(t for k, t in spans if k == "geo"):
            m = pat.match(text) if text is not None else None
            if m is None:
                continue
            try:
                lon, lat = float(m.group(1)), float(m.group(2))
            except ValueError:
                continue
            if -180.0 <= lon <= 180.0 and -90.0 <= lat <= 90.0:
                out.append((doc_id, pos, lon, lat))
    return sorted(out)


#: captures the regexp accepts: doubles, in and out of the domain and on
#: its edges, and strings of its character class that are no double
NUMBERS = ["0", "12.5", "-179.99", "+3", ".5", "-1.", "1e1", "2E-3", "-0.0", "180", "-180",
           "90", "-90.0", "180.0000001", "-90.5", "200", "1e400", "1.2.3", "e", "-", "+-1",
           "1e", "..5"]
#: ASCII whitespace only: Python's ``\s`` also matches Unicode spaces,
#: Java's does not
WS, SEP = ["", " ", "  ", "\t", "\n"], [" ", "\t", "  \n "]
SPECIAL = ["POINT EMPTY", "POINT(1 2 3)", None, "POINT(1 2", "LINESTRING(0 0, 1 1)", "",
           "MULTIPOINT((1 2))", "POINT(1,2)", "xPOINT(1 2)"]


def _geo_text(rng):
    if rng.random() < 0.2:
        return SPECIAL[rng.integers(len(SPECIAL))]
    x, y = (NUMBERS[rng.integers(len(NUMBERS))] if rng.random() < 0.5
            else repr(float(rng.uniform(-200, 200))) for _ in range(2))
    word = "".join(c.upper() if rng.random() < 0.5 else c for c in "point")
    w = [WS[rng.integers(len(WS))] for _ in range(5)]
    return f"{w[0]}{word}{w[1]}({w[2]}{x}{SEP[rng.integers(len(SEP))]}{y}{w[3]}){w[4]}"


def _seeded_docs(seed, n):
    """``n`` docs of up to 6 spans: 0-3 geo spans at any position among
    text, image and caption spans, some of which read ``POINT(1 2)``."""
    rng = np.random.default_rng(seed)
    docs = []
    for d in range(n):
        spans = [("geo", _geo_text(rng)) for _ in range(rng.integers(0, 4))]
        for _ in range(rng.integers(0, 4)):
            kind = ("text", "image", "caption")[rng.integers(3)]
            spans.insert(rng.integers(len(spans) + 1),
                         (kind, "POINT(1 2)" if rng.random() < 0.3 else f"body {d}"))
        docs.append((f"doc-{d:04d}", spans))
    return docs


@pytest.fixture(scope="module")
def seeded(spark):
    docs = _seeded_docs(7, 400)
    return docs, _docs(spark, docs)


def test_extract_equals_the_python_reading(seeded):
    docs, df = seeded
    want = reference_points(docs)
    assert len(want) > 100 and len({d for d, *_ in want}) < len(docs)
    assert _points(sj.extract_geo_points(df)) == want


def test_document_join_reports_each_docs_first_point(seeded):
    docs, df = seeded
    first = {}
    for doc_id, pos, _, _ in reference_points(docs):
        first.setdefault(doc_id, pos)
    got = sj.spatial_join_documents(df, WORLD, "intersects").select("doc_id", "geo_pos").collect()
    assert sorted((r.doc_id, r.geo_pos) for r in got) == sorted(first.items())


#: geo spans the regexp accepts and no double parses from, beside one point
BAD = [("d1", [("geo", "POINT(1.2.3 4)"), ("text", "x"), ("geo", "POINT(e 5)"),
               ("geo", "POINT(3 4)")]),
       ("d2", [("geo", "POINT(- 1)"), ("geo", "POINT(2 2)")])]
BOX = [dict(polygon_id="box", wkt="POLYGON((0 0, 5 0, 5 5, 0 5, 0 0))")]


def test_unparsable_capture_is_skipped_not_raised(spark):
    df = _docs(spark, BAD)
    assert _points(sj.extract_geo_points(df)) == [("d1", 2, 3.0, 4.0), ("d2", 1, 2.0, 2.0)]
    joined = sj.spatial_join_broadcast(sj.extract_geo_points(df), BOX)
    assert sorted((r.doc_id, r.polygon_id) for r in joined.collect()) == [
        ("d1", "box"), ("d2", "box")]
    flag = sj.spatial_join_documents(df, BOX, "contains")
    assert sorted((r.doc_id, r.geo_pos) for r in flag.collect()) == [("d1", 2), ("d2", 1)]


def test_out_of_domain_span_shadows_no_later_point(spark):
    """The flagship's earlier-span test reads the same domain as its rows:
    a span at lon 185 is no point, so it cannot hide the doc's match at
    lon 175 from a polygon whose ring runs past 180."""
    df = _docs(spark, [("d1", [("geo", "POINT(185 5)"), ("geo", "POINT(175 5)")])])
    wide = [dict(polygon_id="p", wkt="POLYGON((170 0, 190 0, 190 10, 170 10, 170 0))")]
    joined = sj.spatial_join_broadcast(sj.extract_geo_points(df), wide)
    assert [(r.doc_id, r.geo_pos) for r in joined.collect()] == [("d1", 1)]
    flag = sj.spatial_join_documents(df, wide)
    assert [(r.doc_id, r.geo_pos) for r in flag.collect()] == [("d1", 1)]


def test_extraction_runs_the_regexp_once_per_coordinate(spark):
    """Both consumers evaluate the regexp in one plan node, once per
    coordinate: no Filter or Project above the explode repeats it."""
    df = _docs(spark, BAD)
    for out in (sj.extract_geo_points(df), sj.spatial_join_documents(df, BOX)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("regexp_extract(") == 2, plan
