"""The engine's SQL pushdown: a JVM Catalyst rule (SpatialOptimizationsRule
analogue) injected through ``spark.sql.extensions`` prunes the hive dirs
of the point, Z3, XZ2/XZ3 and attribute layouts from literal conjuncts in
plain ``spark.sql``.

Every case runs the same query twice: on the layout, and on the source
frame registered without layout columns, which the rule never touches.
The rows must be equal; "pruned" is read from the executed scan (the
partitions it read against the layout's partition count).

Runs in a SUBPROCESS session: the rule class must be on the driver
classpath before the JVM starts, which the shared test session cannot do.
Skipped when javac is unavailable (environmental)."""

import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

pytestmark = pytest.mark.skipif(
    shutil.which("javac") is None, reason="javac unavailable (environmental)"
)


@pytest.fixture(scope="module")
def classes_dir():
    from tools.build_jvm_rule import build

    return build()


_CHILD = textwrap.dedent(
    """
    import collections, datetime, json, os, sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession
    import numpy as np, pandas as pd

    spark = (SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.extensions", "geomesa.spark.rules.GeoSparkExtensions")
        .config("spark.driver.extraClassPath", {classes!r})
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate())
    from geomesa_spark.functions import st_funcs
    from geomesa_spark.operators import xz2
    from geomesa_spark.plans import planner
    st_funcs.register(spark)
    root = {root!r}
    rule = spark._jvm.geomesa.spark.rules.SpatialFilterRule
    out = {{"constants": [rule.BUCKET_RES, rule.TIME_BIN_DAYS]}}
    cases = out["cases"] = {{}}
    totals = {{}}

    def layout(name, path):
        totals[name] = len({{d for d, _, fs in os.walk(path)
                             if any(f.endswith(".parquet") for f in fs)}})

    def scan(df):
        # rows, partitions read and the PartitionFilters of the executed scans
        rows = df.collect()
        read, filters = 0, []
        stack = [df._jdf.queryExecution().executedPlan()]
        while stack:
            node = stack.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                stack.append(node.plan())
                continue
            if cls == "ReusedExchangeExec":
                continue
            if cls == "FileSourceScanExec":
                m = node.metrics()
                if m.contains("numPartitions"):
                    read += int(m.apply("numPartitions").value())
                filters.append(node.partitionFilters().toString())
            kids = node.children()
            for i in range(kids.size()):
                stack.append(kids.apply(i))
        return rows, read, " ".join(filters)

    def case(name, lay, sql, table, raw):
        rows, read, pf = scan(spark.sql(sql.replace("TABLE", table)))
        want = spark.sql(sql.replace("TABLE", raw)).collect()
        cases[name] = dict(
            eq=collections.Counter(map(tuple, rows)) == collections.Counter(map(tuple, want)),
            n=len(rows), read=read, total=totals[lay],
            parts=sorted(c for c in ("cell_bucket", "time_bin", "xz_level", "xz_bucket",
                                     "attr_part", "date_bin") if c in pf))

    # -- point and Z3 layouts -------------------------------------------------
    rng = np.random.default_rng(5)
    # worldwide points, plus a dense patch where the literal cases look
    n, n_dense = 20000, 4000
    pdf = pd.DataFrame({{
        "doc_id": np.arange(n + n_dense),
        "lon": np.concatenate([rng.uniform(-179, 179, n), rng.uniform(-12, 20, n_dense)]),
        "lat": np.concatenate([rng.uniform(-85, 85, n), rng.uniform(-12, 20, n_dense)]),
    }})
    pdf["ts"] = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        rng.integers(0, 70 * 86400, len(pdf)), unit="s")
    pts = spark.createDataFrame(pdf[["doc_id", "lon", "lat"]])
    planner.write_partitioned(pts, root + "/pts", res=10)
    spark.read.parquet(root + "/pts").createOrReplaceTempView("pts")
    pts.createOrReplaceTempView("raw_pts")
    layout("pts", root + "/pts")
    pts_t = spark.createDataFrame(pdf)
    planner.write_partitioned(pts_t, root + "/pts_t", res=10, time_col="ts")
    spark.read.parquet(root + "/pts_t").createOrReplaceTempView("pts_t")
    pts_t.createOrReplaceTempView("raw_pts_t")
    layout("pts_t", root + "/pts_t")

    POLY = "POLYGON((10 10, 20 10, 20 20, 10 20, 10 10))"
    point_cases = {{
        "point_contains": "SELECT doc_id FROM TABLE WHERE "
            f"st_contains(st_geomFromWKT('{{POLY}}'), st_point(lon, lat))",
        "point_intersects_order_by": "SELECT doc_id FROM TABLE WHERE "
            f"st_intersects(st_geomFromWKT('{{POLY}}'), st_point(lon, lat)) ORDER BY doc_id",
        "point_within": "SELECT doc_id FROM TABLE WHERE "
            f"st_within(st_point(lon, lat), st_geomFromWKT('{{POLY}}'))",
        "dwithin_point_literal": "SELECT doc_id FROM TABLE WHERE "
            "st_dwithin(st_point(lon, lat), st_point(15.0D, 15.0D), 100000.0D)",
        "dwithin_wkt_point": "SELECT doc_id FROM TABLE WHERE "
            "st_dwithin(st_point(lon, lat), st_geomFromWKT('POINT(12 52)'), 300000.0)",
        "dwithin_linestring": "SELECT doc_id FROM TABLE WHERE st_dwithin("
            "st_geomFromWKT('LINESTRING(12 12, 15 15, 18 13)'), st_point(lon, lat), 150000.0D)",
        "dwithin_polygon": "SELECT doc_id FROM TABLE WHERE "
            f"st_dwithin(st_geomFromWKT('{{POLY}}'), st_point(lon, lat), 50000.0D)",
        "dwithin_antimeridian": "SELECT doc_id FROM TABLE WHERE st_dwithin("
            "st_point(lon, lat), st_geomFromWKT('POINT(179.5 0.0)'), 300000.0)",
        "wkt_trailing_dot": "SELECT doc_id FROM TABLE WHERE st_contains(st_geomFromWKT("
            "'POLYGON((-1. -1., 10 -1., 10 10, -1. 10, -1. -1.))'), st_point(lon, lat))",
        "wkt_leading_dot": "SELECT doc_id FROM TABLE WHERE st_contains(st_geomFromWKT("
            "'POLYGON((-.5 -.5, 10 -.5, 10 10, -.5 10, -.5 -.5))'), st_point(lon, lat))",
        "wkt_plus_sign": "SELECT doc_id FROM TABLE WHERE st_contains(st_geomFromWKT("
            "'POLYGON((+1 +1, -10 +1, -10 -10, +1 -10, +1 +1))'), st_point(lon, lat))",
        "wkt_exponent": "SELECT doc_id FROM TABLE WHERE st_contains(st_geomFromWKT("
            "'POLYGON((1e1 1e1, -1e1 1e1, -1e1 -1e1, 1e1 -1e1, 1e1 1e1))'), st_point(lon, lat))",
        "unparseable_polygon": "SELECT count(*) AS n FROM TABLE WHERE st_contains("
            "st_geomFromWKT('POLYGON((bad'), st_point(lon, lat)) IS NULL",
        "unparseable_linestring": "SELECT count(*) AS n FROM TABLE WHERE st_dwithin("
            "st_geomFromWKT('LINESTRING(bad'), st_point(lon, lat), 1000.0D) IS NULL",
        "not_contains": "SELECT doc_id FROM TABLE WHERE "
            f"NOT st_contains(st_geomFromWKT('{{POLY}}'), st_point(lon, lat))",
        "or_contains": "SELECT doc_id FROM TABLE WHERE "
            f"st_contains(st_geomFromWKT('{{POLY}}'), st_point(lon, lat)) OR lon < -170.0",
        "both_literals": "SELECT doc_id FROM TABLE WHERE st_contains("
            f"st_geomFromWKT('{{POLY}}'), st_geomFromWKT('POINT(15 15)'))",
        "derived_alias": "SELECT doc_id FROM (SELECT doc_id, lon + 100.0 AS lon, lat "
            f"FROM TABLE) WHERE st_contains(st_geomFromWKT('{{POLY}}'), st_point(lon, lat))",
        "no_predicate": "SELECT count(*) AS n FROM TABLE",
    }}
    for name, sql in point_cases.items():
        case(name, "pts", sql, "pts", "raw_pts")

    WINDOW = "ts >= TIMESTAMP '2024-01-15 00:00:00' AND ts < TIMESTAMP '2024-02-05 00:00:00'"
    z3_cases = {{
        "z3_space_time": "SELECT doc_id FROM TABLE WHERE "
            f"st_contains(st_geomFromWKT('{{POLY}}'), st_point(lon, lat)) AND {{WINDOW}}",
        "z3_dwithin_time": "SELECT doc_id FROM TABLE WHERE st_dwithin(st_point(lon, lat), "
            f"st_point(15.0D, 15.0D), 2000000.0D) AND {{WINDOW}}",
        "z3_time_only": f"SELECT count(*) AS n FROM TABLE WHERE {{WINDOW}}",
        "z3_time_between": "SELECT count(*) AS n FROM TABLE WHERE ts BETWEEN "
            "TIMESTAMP '2024-01-08 00:00:00' AND TIMESTAMP '2024-01-14 23:59:59'",
        "z3_corridor_time": "SELECT doc_id FROM TABLE WHERE st_dwithin(st_geomFromWKT("
            f"'LINESTRING(0 10, 15 15, 30 10)'), st_point(lon, lat), 500000.0D) AND {{WINDOW}}",
        "z3_time_or": "SELECT doc_id FROM TABLE WHERE "
            "ts >= TIMESTAMP '2024-01-15 00:00:00' OR doc_id = 1",
    }}
    for name, sql in z3_cases.items():
        case(name, "pts_t", sql, "pts_t", "raw_pts_t")
    out["bucket_column_query"] = spark.sql(
        "SELECT count(*) AS n FROM pts WHERE cell_bucket >= 0").collect()[0]["n"] == len(pdf)

    # -- XZ2 / XZ3 layouts, queried through the per-feature view --------------
    def boxes(k, seed):
        r = np.random.default_rng(seed)
        cx, cy = r.uniform(-160, 160, k), r.uniform(-75, 75, k)
        w, h = r.uniform(0.5, 25.0, k), r.uniform(0.5, 15.0, k)
        x0, y0, x1, y1 = cx - w / 2, cy - h / 2, cx + w / 2, cy + h / 2
        return pd.DataFrame({{
            "geom_id": [f"g{{i}}" for i in range(k)],
            "wkt": [f"POLYGON(({{a}} {{b}}, {{c}} {{b}}, {{c}} {{d}}, {{a}} {{d}}, {{a}} {{b}}))"
                    for a, b, c, d in zip(x0, y0, x1, y1)],
        }})

    shapes = spark.createDataFrame(boxes(200, 7))
    xz2.write_partitioned_geoms(shapes, root + "/shapes")
    xz2.feature_view(spark, root + "/shapes", "geom_id").createOrReplaceTempView("shapes")
    shapes.createOrReplaceTempView("raw_shapes")
    layout("shapes", root + "/shapes")
    bt = boxes(400, 11)
    bt["ts"] = [pd.Timestamp("2024-01-01") + pd.Timedelta(hours=5 * i) for i in range(len(bt))]
    shapes_t = spark.createDataFrame(bt)
    xz2.write_partitioned_geoms(shapes_t, root + "/shapes_t", time_col="ts")
    xz2.feature_view(spark, root + "/shapes_t", "geom_id").createOrReplaceTempView("shapes_t")
    shapes_t.createOrReplaceTempView("raw_shapes_t")
    layout("shapes_t", root + "/shapes_t")
    # an antimeridian-crossing polygon: the layout keys its split parts, so
    # st_intersects and st_dwithin must read it on those parts too, or the
    # rule drops a row that the unpruned query keeps
    am = boxes(20, 3)
    am.loc[len(am)] = ["am", "POLYGON((170 0, -170 0, -170 10, 170 10, 170 0))"]
    am.loc[len(am)] = ["near", "POLYGON((2 2, 4 2, 4 4, 2 4, 2 2))"]
    am.loc[len(am)] = ["near_dw", "POLYGON((12 4, 13 4, 13 6, 12 6, 12 4))"]
    # 0.2° east of POINT(179.9 -0.5) across the seam, ~1,100 km on the plane
    am.loc[len(am)] = ["seam", "POLYGON((-179.9 -1, -170 -1, -170 1, -179.9 1, -179.9 -1))"]
    am_shapes = spark.createDataFrame(am)
    xz2.write_partitioned_geoms(am_shapes, root + "/am_shapes")
    xz2.feature_view(spark, root + "/am_shapes", "geom_id").createOrReplaceTempView("am_shapes")
    am_shapes.createOrReplaceTempView("raw_am_shapes")
    layout("am_shapes", root + "/am_shapes")
    spark.read.parquet(root + "/shapes").createOrReplaceTempView("shape_keys")
    spark.createDataFrame(spark.read.parquet(root + "/shapes").toPandas()
                          ).createOrReplaceTempView("raw_shape_keys")

    BOX = "POLYGON((0 0, 30 0, 30 30, 0 30, 0 0))"
    BIG = "POLYGON((-60 -60, 60 -60, 60 60, -60 60, -60 -60))"
    xz_cases = {{
        "xz_intersects": "SELECT geom_id FROM TABLE WHERE "
            f"st_intersects(st_geomFromWKT('{{BOX}}'), st_geomFromWKT(wkt))",
        "xz_contains": "SELECT geom_id FROM TABLE WHERE "
            f"st_contains(st_geomFromWKT('{{BIG}}'), st_geomFromWKT(wkt))",
        "xz_dwithin": "SELECT geom_id FROM TABLE WHERE st_dwithin("
            "st_geomFromWKT('POINT(10 10)'), st_geomFromWKT(wkt), 500000.0D)",
        "xz_or": "SELECT geom_id FROM TABLE WHERE st_intersects("
            f"st_geomFromWKT('{{BOX}}'), st_geomFromWKT(wkt)) OR geom_id = 'g0'",
        "xz_whole_view": "SELECT * FROM TABLE",
    }}
    for name, sql in xz_cases.items():
        case(name, "shapes", sql, "shapes", "raw_shapes")
    case("xz_intersects_antimeridian", "am_shapes", "SELECT geom_id FROM TABLE WHERE "
         "st_intersects(st_geomFromWKT('POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))'), "
         "st_geomFromWKT(wkt))", "am_shapes", "raw_am_shapes")
    case("xz_dwithin_antimeridian", "am_shapes", "SELECT geom_id FROM TABLE WHERE "
         "st_dwithin(st_geomFromWKT('POINT(10 5)'), st_geomFromWKT(wkt), 500000.0D)",
         "am_shapes", "raw_am_shapes")
    case("xz_dwithin_seam", "am_shapes", "SELECT geom_id FROM TABLE WHERE "
         "st_dwithin(st_geomFromWKT('POINT(179.9 -0.5)'), st_geomFromWKT(wkt), 50000.0D)",
         "am_shapes", "raw_am_shapes")
    # a Filter on the key rows themselves: pruning would change their count
    case("xz_key_rows", "shapes", "SELECT geom_id, xz_level, xz_cell FROM TABLE WHERE "
         f"st_intersects(st_geomFromWKT('{{BOX}}'), st_geomFromWKT(wkt))",
         "shape_keys", "raw_shape_keys")
    XZ3_WINDOW = ("ts >= TIMESTAMP '2024-01-08 00:00:00' "
                  "AND ts < TIMESTAMP '2024-01-22 00:00:00'")
    case("xz3_all_dims", "shapes_t", "SELECT geom_id FROM TABLE WHERE st_intersects("
         "st_geomFromWKT('POLYGON((-40 -40, 40 -40, 40 40, -40 40, -40 -40))'), "
         f"st_geomFromWKT(wkt)) AND {{XZ3_WINDOW}}", "shapes_t", "raw_shapes_t")
    case("xz3_time_only", "shapes_t", "SELECT count(*) AS n FROM TABLE WHERE "
         "ts >= TIMESTAMP '2024-01-08 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'",
         "shapes_t", "raw_shapes_t")

    # -- attribute layout (events, TIMESTAMP_NTZ ts, as the corpus stores it) --
    ev = spark.read.parquet({sf_dir!r} + "/events.parquet").select(
        "event_id", "event_type", "user_id", "ts")
    extra = [(10**9 + i, v, 1, datetime.datetime(2024, 1, 9 + i))
             for i, v in enumerate(["O'Brien", "Ölfeld", "日本"])]
    ev = ev.unionByName(spark.createDataFrame(extra, ev.schema))
    planner.write_attr_partitioned(ev, root + "/attr", "event_type", date_col="ts")
    spark.read.parquet(root + "/attr").createOrReplaceTempView("events_attr")
    ev.createOrReplaceTempView("raw_events")
    layout("attr", root + "/attr")
    ev.select("event_id", "event_type").createOrReplaceTempView("other_events")

    DWIN = "ts >= TIMESTAMP '2024-01-08 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'"
    attr_cases = {{
        "attr_eq": "SELECT event_id, user_id FROM TABLE WHERE event_type = 'click'",
        "attr_range": "SELECT event_id FROM TABLE "
            "WHERE event_type >= 'click' AND event_type <= 'purchase'",
        "attr_between": "SELECT event_id FROM TABLE "
            "WHERE event_type BETWEEN 'click' AND 'error'",
        "attr_range_date": "SELECT event_id FROM TABLE WHERE event_type >= 'click' "
            f"AND event_type <= 'purchase' AND {{DWIN}}",
        "attr_eq_date": f"SELECT event_id FROM TABLE WHERE event_type = 'click' AND {{DWIN}}",
        "attr_own_alias": "SELECT e.event_id FROM TABLE e WHERE e.event_type = 'click'",
        "attr_escaped_quote": "SELECT event_id FROM TABLE WHERE event_type = 'O''Brien'",
        "attr_non_ascii": "SELECT event_id FROM TABLE WHERE event_type = 'Ölfeld'",
        "attr_non_ascii_cjk": "SELECT event_id FROM TABLE WHERE event_type >= '日'",
        "attr_or": "SELECT event_id FROM TABLE WHERE event_type = 'click' OR user_id = 1",
        "attr_not": "SELECT event_id FROM TABLE WHERE NOT event_type = 'click'",
        "attr_case_when": "SELECT event_id, CASE WHEN event_type = 'purchase' "
            "THEN 1 ELSE 0 END AS flag FROM TABLE",
        "attr_case_when_date": "SELECT event_id, CASE WHEN ts >= TIMESTAMP "
            "'2024-01-08 00:00:00' THEN 1 ELSE 0 END AS late FROM TABLE",
        "attr_other_table": "SELECT e.event_id FROM TABLE e JOIN other_events o "
            "ON e.event_id = o.event_id WHERE o.event_type = 'purchase'",
        "attr_correlated_subquery": "SELECT event_id FROM TABLE e WHERE EXISTS ("
            "SELECT 1 FROM other_events o WHERE o.event_id = e.event_id "
            "AND o.event_type = 'purchase')",
        "attr_no_literal": "SELECT count(*) AS n FROM TABLE",
    }}
    for name, sql in attr_cases.items():
        case(name, "attr", sql, "events_attr", "raw_events")

    print("RESULT " + json.dumps(out))
    spark.stop()
    """
)

#: cases whose scan must read fewer partitions than the layout holds
PRUNED = {
    "point_contains", "point_intersects_order_by", "point_within",
    "dwithin_point_literal", "dwithin_wkt_point", "dwithin_linestring", "dwithin_polygon",
    "wkt_trailing_dot", "wkt_leading_dot", "wkt_plus_sign", "wkt_exponent",
    "z3_space_time", "z3_dwithin_time", "z3_time_only", "z3_time_between", "z3_corridor_time",
    "xz_intersects", "xz_contains", "xz_dwithin", "xz_intersects_antimeridian",
    "xz_dwithin_antimeridian", "xz_dwithin_seam",
    "xz3_all_dims", "xz3_time_only",
    "attr_eq", "attr_range", "attr_between", "attr_range_date", "attr_eq_date",
    "attr_own_alias", "attr_escaped_quote", "attr_non_ascii", "attr_non_ascii_cjk",
}
#: cases the rule must leave alone: their scan reads every partition
UNPRUNED = {
    "unparseable_polygon", "unparseable_linestring", "not_contains", "or_contains",
    "both_literals", "derived_alias", "no_predicate", "z3_time_or",
    "xz_or", "xz_whole_view", "xz_key_rows",
    "attr_or", "attr_not", "attr_case_when", "attr_case_when_date", "attr_other_table",
    "attr_correlated_subquery", "attr_no_literal",
}
#: the partition columns each composite case's scan filters on
PARTITION_FILTERS = {
    "z3_space_time": ["cell_bucket", "time_bin"],
    "z3_corridor_time": ["cell_bucket", "time_bin"],
    "z3_time_only": ["time_bin"],
    "xz3_all_dims": ["time_bin", "xz_bucket", "xz_level"],
    "attr_range_date": ["attr_part", "date_bin"],
    "attr_eq_date": ["attr_part", "date_bin"],
}


@pytest.fixture(scope="module")
def child_result(classes_dir, sf_dir, tmp_path_factory):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = _CHILD.format(
        repo=repo, classes=classes_dir, sf_dir=sf_dir,
        root=str(tmp_path_factory.mktemp("rule")),
    )
    p = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=900
    )
    assert p.returncode == 0, p.stderr[-3000:]
    line = [ln for ln in p.stdout.splitlines() if ln.startswith("RESULT ")]
    assert line, p.stdout[-2000:]
    return json.loads(line[-1][len("RESULT "):])


def test_rule_constants_are_the_layout_format(child_result):
    from geomesa_spark.plans import planner

    assert child_result["constants"] == [planner.BUCKET_RES, planner.TIME_BIN_DAYS]


#: every case the child session runs
ALL_CASES = sorted(PRUNED | UNPRUNED | {"dwithin_antimeridian"})


def test_rule_runs_every_case(child_result):
    assert set(child_result["cases"]) == set(ALL_CASES)
    assert child_result["bucket_column_query"]


@pytest.mark.parametrize("name", ALL_CASES)
def test_rule_results_equal_untouched_tables(child_result, name):
    v = child_result["cases"][name]
    assert v["eq"] and v["n"] > 0, v


@pytest.mark.parametrize("name", sorted(PRUNED))
def test_rule_prunes_literal_conjuncts(child_result, name):
    v = child_result["cases"][name]
    assert 0 < v["read"] < v["total"], v
    if name in PARTITION_FILTERS:
        assert v["parts"] == PARTITION_FILTERS[name], v


@pytest.mark.parametrize("name", sorted(UNPRUNED))
def test_rule_leaves_other_shapes_alone(child_result, name):
    v = child_result["cases"][name]
    assert v["read"] == v["total"], v
