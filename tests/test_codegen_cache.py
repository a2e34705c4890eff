"""The session's generated-code cache holds a join round's working set.

Spark caches each Janino-compiled class by its source text in an LRU of
``spark.sql.codegen.cache.maxEntries`` entries.  When one round of the
engine's join-shaped operators needs more classes than that, a repeated
round evicts its own classes before it reuses them, and every call pays
Janino and HotSpot again.  The round below compiles 110 classes on a
cold cache (``local[8]``), more than Spark's default of 100: with the
default the second pass recompiled 62 of them and the third 50; with the
session's 1024 both compile nothing.
"""

import pandas as pd
import pyarrow.parquet as pq
import pytest

from geomesa_spark.operators import spatial_join as sj, tiling, xz2
from geomesa_spark.sources import corpus

CENTERS = [dict(center_id="C1", lon=15.0, lat=15.0), dict(center_id="C3", lon=179.8, lat=0.0)]
BOXES = [("B1", "POLYGON((10 10, 20 10, 20 20, 10 20, 10 10))"),
         ("B2", "POLYGON((-60 -30, -40 -30, -40 -10, -60 -10, -60 -30))")]


def _compilations(spark) -> int:
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


@pytest.fixture(scope="module")
def round_inputs(spark, sf_dir):
    docs = corpus.load_documents_spans(spark, sf_dir)
    ev = pq.read_table(corpus.ensure_events_geo(sf_dir)).to_pandas()
    events = spark.createDataFrame(ev[["event_id", "ts", "lon", "lat"]])
    boxes = spark.createDataFrame(pd.DataFrame(BOXES, columns=["box_id", "wkt"]))
    return docs, events, boxes


def _join_round(docs, events, boxes) -> list[int]:
    """One call of each join-shaped operator — the document join, the tile
    pyramid, dwithin, the grid join, the XZ2 join and the space-time join
    — each executed; returns their row counts."""
    pts = sj.extract_geo_points(docs).select("doc_id", "geo_pos", "lon", "lat")
    ev = events.select("event_id", "lon", "lat")
    return [
        sj.spatial_join_documents(docs, corpus.fixture_polygons(), "intersects").count(),
        tiling.tile_pyramid(pts, [5, 8]).count(),
        sj.dwithin_join_broadcast(pts, CENTERS, 100_000.0, unique_ids=True).count(),
        sj.spatial_join_grid(pts, ev, res=8, dist_m=50_000.0, unique_ids=True).count(),
        xz2.xz2_join_points(boxes, pts).count(),
        sj.spatiotemporal_join_grid(
            events.filter("pmod(hash(event_id), 3) = 0").withColumnRenamed("event_id", "id_a"),
            events.filter("pmod(hash(event_id), 3) = 1"), res=7, dist_m=150_000.0,
            max_dt_s=48 * 3600, left_id="id_a", right_id="event_id", unique_ids=True,
        ).count(),
    ]


def test_second_join_round_compiles_nothing(spark, round_inputs):
    first = _join_round(*round_inputs)
    before = _compilations(spark)
    second = _join_round(*round_inputs)
    assert second == first and sum(first) > 0
    assert _compilations(spark) - before == 0
