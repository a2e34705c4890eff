"""Production CLI — the ``spark-submit --py-files engine.zip cli.py ...``
entry the north_rule prescribes (the analogue of GeoMesa's tools CLI,
public tree: geomesa-tools/.../export/ExportCommand.scala etc.).

Subcommands:
  join     spatial join: corpus parquet × polygons (WKT file or fixtures)
  dwithin  distance join against center points
  knn      k nearest neighbours for query points
  tile     tile-pyramid emission / density
  export   query → geojsonl / wkt-csv / parquet / bin
  ingest   csv/json → partitioned cell layout (with lineage + resume)

Examples (local):
  python cli.py join --input /root/testdata/sf0.001 --predicate intersects --out /tmp/out
  python cli.py tile --input /root/testdata/sf0.001 --zooms 5,8,11 --out /tmp/tiles

On a cluster, identical except:
  spark-submit --master yarn --py-files /tmp/geomesa_spark_pkg.zip cli.py ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _spark(args):
    from geomesa_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark("geomesa-spark-cli", cores=args.cores)
    entry_mod._ship_package(spark)
    return spark


def _load_polygons(args) -> list[dict]:
    from geomesa_spark.sources import corpus

    if args.polygons:
        with open(args.polygons) as f:
            return json.load(f)
    return corpus.fixture_polygons()


def _load_docs(spark, args):
    from geomesa_spark.sources import corpus

    if os.path.isdir(args.input) and os.path.basename(args.input).startswith("sf"):
        return corpus.load_documents_spans(spark, args.input)
    return spark.read.parquet(args.input)


def cmd_join(args):
    from geomesa_spark.operators import spatial_join as sj

    spark = _spark(args)
    docs = _load_docs(spark, args)
    out = sj.spatial_join_documents(docs, _load_polygons(args), predicate=args.predicate)
    t0 = time.time()
    out.select("doc_id", "polygon_id").write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"rows": n, "sec": round(time.time() - t0, 2), "out": args.out}))


def cmd_dwithin(args):
    from geomesa_spark.operators import spatial_join as sj

    spark = _spark(args)
    docs = _load_docs(spark, args)
    pts = sj.extract_geo_points(docs)
    centers = json.load(open(args.centers)) if args.centers else [
        dict(center_id="C1", lon=15.0, lat=15.0)
    ]
    out = sj.dwithin_join_broadcast(pts, centers, args.meters)
    out.select("doc_id", "center_id", "dist_m").write.mode("overwrite").parquet(args.out)
    print(json.dumps({"rows": spark.read.parquet(args.out).count(), "out": args.out}))


def cmd_knn(args):
    from geomesa_spark.operators import knn as knn_op
    from geomesa_spark.operators import spatial_join as sj
    from geomesa_spark.sources import corpus

    spark = _spark(args)
    docs = _load_docs(spark, args)
    pts = sj.extract_geo_points(docs).selectExpr("doc_id AS event_id", "lon", "lat")
    queries = json.load(open(args.queries)) if args.queries else corpus.fixture_knn_queries()
    res = knn_op.knn(pts, queries)
    res.to_parquet(args.out) if args.out.endswith(".parquet") else res.to_csv(args.out, index=False)
    print(json.dumps({"rows": len(res), "out": args.out}))


def cmd_tile(args):
    from geomesa_spark.operators import spatial_join as sj
    from geomesa_spark.operators import tiling

    spark = _spark(args)
    docs = _load_docs(spark, args)
    pts = sj.extract_geo_points(docs)
    zooms = [int(z) for z in args.zooms.split(",")]
    out = tiling.tile_pyramid(pts, zooms)
    out.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"tiles": spark.read.parquet(args.out).count(), "out": args.out}))


def cmd_export(args):
    from geomesa_spark.operators import spatial_join as sj
    from geomesa_spark.sources import export

    spark = _spark(args)
    docs = _load_docs(spark, args)
    pts = sj.extract_geo_points(docs).select("doc_id", "lon", "lat")
    if args.format == "geojsonl":
        export.to_geojson_lines(pts).write.mode("overwrite").text(args.out)
    elif args.format == "wkt-csv":
        export.to_wkt_csv(pts, args.out)
    elif args.format == "parquet":
        pts.write.mode("overwrite").parquet(args.out)
    else:
        raise SystemExit(f"unknown format {args.format}")
    print(json.dumps({"out": args.out, "format": args.format}))


def cmd_ingest(args):
    from geomesa_spark.operators import spatial_join as sj
    from geomesa_spark.plans import lineage, planner
    from geomesa_spark.sources import convert

    spark = _spark(args)
    if args.input.endswith(".csv"):
        pts = convert.read_csv_points(
            spark, args.input, lon_col=args.lon_col, lat_col=args.lat_col, id_col=args.id_col
        )
    else:
        docs = _load_docs(spark, args)
        pts = sj.extract_geo_points(docs).select("doc_id", "lon", "lat")
    stats = lineage.run_partitioned_job(planner._layout_columns(pts, args.res), args.out)
    print(json.dumps(stats))


def main() -> None:
    ap = argparse.ArgumentParser(prog="geomesa-spark")
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    sub = ap.add_subparsers(dest="cmd", required=True)

    j = sub.add_parser("join")
    j.add_argument("--input", required=True)
    j.add_argument("--polygons", help="JSON file of {polygon_id, wkt} rows (default: fixtures)")
    j.add_argument("--predicate", default="intersects", choices=["intersects", "contains", "covers"])
    j.add_argument("--out", required=True)
    j.set_defaults(fn=cmd_join)

    d = sub.add_parser("dwithin")
    d.add_argument("--input", required=True)
    d.add_argument("--centers")
    d.add_argument("--meters", type=float, default=100_000.0)
    d.add_argument("--out", required=True)
    d.set_defaults(fn=cmd_dwithin)

    k = sub.add_parser("knn")
    k.add_argument("--input", required=True)
    k.add_argument("--queries")
    k.add_argument("--out", required=True)
    k.set_defaults(fn=cmd_knn)

    t = sub.add_parser("tile")
    t.add_argument("--input", required=True)
    t.add_argument("--zooms", default="5,8,11")
    t.add_argument("--out", required=True)
    t.set_defaults(fn=cmd_tile)

    e = sub.add_parser("export")
    e.add_argument("--input", required=True)
    e.add_argument("--format", default="geojsonl", choices=["geojsonl", "wkt-csv", "parquet"])
    e.add_argument("--out", required=True)
    e.set_defaults(fn=cmd_export)

    i = sub.add_parser("ingest")
    i.add_argument("--input", required=True)
    i.add_argument("--lon-col", default="lon")
    i.add_argument("--lat-col", default="lat")
    i.add_argument("--id-col", default="id")
    i.add_argument("--res", type=int, default=10)
    i.add_argument("--out", required=True)
    i.set_defaults(fn=cmd_ingest)

    args = ap.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
