"""The benchmark's two workloads, each a closed loop of one client.

- ``join``: the analyst's joins over one corpus.  The document joins are
  the flagship zero-shuffle path — span extraction, cell id and exact PIP
  in codegen, broadcast cover joins — beside the tile pyramid and the
  broadcast dwithin join; the pair joins are large × large, where
  two-sided exchanges and the Arrow UDFs (ring cells, haversine, XZ2 keys
  and refine) dominate.  The traced run tells the two kinds apart per
  operation.
- ``index_serve``: GeoMesa's datastore use — ingest into the Z3 layout,
  then a stream of small pruned queries with kNN calls interleaved.

Each workload opens its inputs, makes its one-time choices and warms every
code path on small warm-up copies of its tables (all of it set-up), then
yields operations.  An
operation is one call into an operator module plus the action that
executes it; its output is reduced to a digest that the oracle predicts.
"""

from __future__ import annotations

import glob
import itertools
import os
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

import oracle
import inputs
from geomesa_spark import cache
from geomesa_spark.operators import knn, spatial_join as sj, tiling, xz2
from geomesa_spark.plans import planner
from geomesa_spark.sources import corpus

POLYGONS = corpus.fixture_polygons()
CENTERS = [
    dict(center_id="C1", lon=15.0, lat=15.0),
    dict(center_id="C2", lon=-50.0, lat=-20.0),
    dict(center_id="C3", lon=179.8, lat=0.0),
]
ZOOMS = [5, 8, 11]
GRID_M = 50_000.0
DWITHIN_M = 100_000.0
SPACETIME_M, SPACETIME_S = 150_000.0, 48 * 3600
#: index_serve: pruned queries and kNN calls generated per seed (the
#: stream cycles through them); a round is ROUND_INGESTS times one ingest
#: followed by SCANS pruned queries, then one kNN call
QUERIES, KNN_CALLS, SCANS, ROUND_INGESTS = 64, 4, 8, 3


@dataclass
class Op:
    """One operation.  A lazy op's ``call`` returns a DataFrame that is
    executed as its digest (``keys`` gives the digest key columns); an
    eager op's ``call`` runs to completion and ``check`` digests its
    result outside the op's latency."""

    name: str
    layer: str
    rows_in: int
    expected: tuple
    call: Callable[[], object]
    keys: Callable[[DataFrame], list] | None = None
    check: Callable[[object], tuple] | None = None


def _doc_n(df: DataFrame):
    return F.substring(df["doc_id"], 5, 16).cast("long")


def _tail_n(df: DataFrame, col: str):
    return F.substring(df[col], 2, 8).cast("long")


class Join:
    name = "join"
    round_len = 7
    latency_ops = {"docs_intersects", "docs_contains", "tile_pyramid", "dwithin_100km",
                   "grid_join_50km", "xz2_poly_join", "spacetime_join"}

    @staticmethod
    def expect(tables: dict, seed: int) -> dict:
        pts = oracle.doc_points(tables["docs"])
        ev = tables["events"]
        return {
            "docs_intersects": oracle.docs_join(pts, POLYGONS, "intersects"),
            "docs_contains": oracle.docs_join(pts, POLYGONS, "contains"),
            "tile_pyramid": oracle.tile_pyramid(pts, ZOOMS),
            "dwithin_100km": oracle.dwithin(pts, CENTERS, DWITHIN_M),
            "grid_join_50km": oracle.grid_join(pts, ev, GRID_M),
            "xz2_poly_join": oracle.box_join(tables["boxes"], pts),
            "spacetime_join": oracle.spacetime_join(ev, SPACETIME_M, SPACETIME_S),
        }

    def __init__(self, spark, root: str, sizes: dict, seed: int):
        self.spark, self.root, self.sizes = spark, root, sizes

    def open(self) -> None:
        # the pair joins' inputs would fit Spark's size-based broadcast at
        # this size; turning it off keeps the partitioned plan they get at
        # corpus scale (the engine's explicit broadcast hints still apply)
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        read = self.spark.read.parquet
        self.docs = read(os.path.join(self.root, "docs"))
        self.events = read(os.path.join(self.root, "events"))
        self.boxes = read(os.path.join(self.root, "boxes"))
        self.docs_warm = read(os.path.join(self.root, "docs_warm"))
        self.events_warm = read(os.path.join(self.root, "events_warm"))

    def choose(self) -> None:
        self.res = sj.choose_document_resolution(self.docs)

    def _ops(self, docs: DataFrame, events: DataFrame, expected: dict) -> list[Op]:
        n, s = self.sizes["docs"], self.sizes

        def pts():
            return sj.extract_geo_points(docs).select("doc_id", "geo_pos", "lon", "lat")

        def doc_keys(df):
            return [_doc_n(df), _tail_n(df, "polygon_id"), df["geo_pos"]]

        def spacetime():
            ev = events.select("eid", "ts", "lon", "lat")
            a = ev.filter(F.col("eid") % 17 == 1).withColumnRenamed("eid", "eid_a")
            b = ev.filter(F.col("eid") % 13 == 2)
            return sj.spatiotemporal_join_grid(
                a, b, res=7, dist_m=SPACETIME_M, max_dt_s=SPACETIME_S,
                left_id="eid_a", right_id="eid", unique_ids=True,
            )

        return [
            Op("docs_intersects", "operators.spatial_join", n, expected.get("docs_intersects"),
               lambda: sj.spatial_join_documents(docs, POLYGONS, "intersects", res=self.res),
               doc_keys),
            Op("docs_contains", "operators.spatial_join", n, expected.get("docs_contains"),
               lambda: sj.spatial_join_documents(docs, POLYGONS, "contains", res=self.res),
               doc_keys),
            Op("tile_pyramid", "operators.tiling", n, expected.get("tile_pyramid"),
               lambda: tiling.tile_pyramid(pts(), ZOOMS),
               lambda df: [df["zoom"], df["tile_x"], df["tile_y"], df["n"]]),
            Op("dwithin_100km", "operators.spatial_join", n, expected.get("dwithin_100km"),
               lambda: sj.dwithin_join_broadcast(pts(), CENTERS, DWITHIN_M, unique_ids=True),
               lambda df: [_doc_n(df), df["geo_pos"], _tail_n(df, "center_id")]),
            Op("grid_join_50km", "operators.spatial_join", n + s["events"],
               expected.get("grid_join_50km"),
               lambda: sj.spatial_join_grid(pts(), events.select("eid", "lon", "lat"), res=8,
                                            dist_m=GRID_M, right_id="eid", unique_ids=True),
               lambda df: [_doc_n(df), df["geo_pos"], df["eid"]]),
            Op("xz2_poly_join", "operators.xz2", n + s["boxes"], expected.get("xz2_poly_join"),
               lambda: xz2.xz2_join_points(self.boxes, pts()),
               lambda df: [df["box_id"], _doc_n(df), df["geo_pos"]]),
            Op("spacetime_join", "operators.spatial_join", s["events"],
               expected.get("spacetime_join"), spacetime,
               lambda df: [df["eid_a"], df["eid"]]),
        ]

    def warm_ops(self) -> list[Op]:
        return self._ops(self.docs_warm, self.events_warm, {})

    def stream(self, expected: dict) -> Iterator[Op]:
        return itertools.cycle(self._ops(self.docs, self.events, expected))


class IndexServe:
    name = "index_serve"
    round_len = ROUND_INGESTS * (1 + SCANS) + 1
    latency_ops = {"scan_query"}

    @staticmethod
    def expect(tables: dict, seed: int) -> dict:
        ev = tables["events"]
        out = {"ingest_z3": oracle.ingest(ev)}
        for q in inputs.query_stream(seed, QUERIES):
            out[f"scan_query/{q['qid']}"] = oracle.scan_query(ev, q)
        for c in range(KNN_CALLS):
            out[f"knn_query/{c}"] = oracle.knn(ev, inputs.knn_queries(seed, c))
        return out

    def __init__(self, spark, root: str, sizes: dict, seed: int):
        self.spark, self.root, self.sizes, self.seed = spark, root, sizes, seed
        self.layout = os.path.join(root, "z3")

    def open(self) -> None:
        self.events = self.spark.read.parquet(os.path.join(self.root, "events"))
        self.events_warm = self.spark.read.parquet(os.path.join(self.root, "events_warm"))

    def choose(self) -> None:
        pass  # the Z3 layout's resolutions are the planner's defaults

    def _ingest(self, events: DataFrame, layout: str, expected) -> Op:
        def check(_):
            # read back outside Spark: every written row, once
            return oracle.digest(pq.read_table(layout, columns=["eid"]).column("eid").to_numpy())

        return Op("ingest_z3", "plans.planner", self.sizes["events"], expected,
                  lambda: planner.write_partitioned(
                      events.select("eid", "ts", "lon", "lat"), layout, res=10, time_col="ts"),
                  check=check)

    def _scan(self, layout: str, q: dict, expected) -> Op:
        return Op("scan_query", "plans.planner", 0, expected,
                  lambda: planner.query(self.spark, layout, q["wkt"], "intersects", res=10,
                                        time_col="ts", time_range=(q["t0"], q["t1"])),
                  lambda df: [df["eid"]])

    def _knn(self, events: DataFrame, call: int, expected) -> Op:
        # kNN reads the ingested rows from the events table: the operator
        # takes a point frame and has no use for the Z3 layout's pruning
        qs = inputs.knn_queries(self.seed, call)

        def check(pdf):
            qn = pdf["query_id"].str.slice(1).astype("int64").to_numpy()
            return oracle.digest(qn, pdf["rank"].to_numpy(), pdf["eid"].to_numpy())

        return Op("knn_query", "operators.knn", 0, expected,
                  lambda: knn.knn(events.select("eid", "lon", "lat"), qs, res=7, id_col="eid"),
                  check=check)

    def warm_ops(self) -> list[Op]:
        layout = os.path.join(self.root, "z3_warm")
        return [self._ingest(self.events_warm, layout, None)] + [
            self._scan(layout, q, None) for q in inputs.query_stream(self.seed, 2)
        ] + [self._knn(self.events_warm, 0, None)]

    def layout_files(self) -> tuple[int, int]:
        """(parquet files, bytes) of the written layout."""
        files = glob.glob(os.path.join(self.layout, "**", "*.parquet"), recursive=True)
        return len(files), sum(os.path.getsize(f) for f in files)

    def stream(self, expected: dict) -> Iterator[Op]:
        # each ingest rewrites the layout, so writes sit beside the reads
        qs = inputs.query_stream(self.seed, QUERIES)
        scans = itertools.count()
        for r in itertools.count():
            for _ in range(ROUND_INGESTS):
                yield self._ingest(self.events, self.layout, expected["ingest_z3"])
                for _ in range(SCANS):
                    q = qs[next(scans) % QUERIES]
                    yield self._scan(self.layout, q, expected[f"scan_query/{q['qid']}"])
            c = r % KNN_CALLS
            yield self._knn(self.events, c, expected[f"knn_query/{c}"])


WORKLOADS = {w.name: w for w in (Join, IndexServe)}


def clear_caches(spark) -> None:
    """Drop the operators' cached intermediates between operations, so a
    repeated operation does its full work instead of reading the previous
    call's cache (``cache`` documents this as the benchmark hygiene)."""
    cache.clear_caches()
    spark.catalog.clearCache()
