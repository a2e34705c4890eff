"""Scaling harness: the north_rule's N -> 4N evidence, one protocol for
every job.

The north_rule asks for throughput scaling efficiency >= 0.8 from N to 4N
executors.  Each registry job runs on the same deterministic input at two
fleet sizes with one core per executor JVM (``local-cluster[E,1,HEAP_MB]``,
so every executor has its own heap and GC):

- 4N = ``SPARK_GRAFT_CPUS`` or the host's core count, N = 4N / 4.
- Inputs are synthesized once per registry size as 4 x 4N equal parquet
  files, and every scan reads one file per task at both sizes.
- Sizes interleave (N, 4N, N, 4N, ...) so host drift hits both alike.
- Each (job, size, rep) is a fresh ``python -c`` child: session start,
  package ship, a warm-up on a 5% sample that touches every split, then
  the job best-of-3 with every cache cleared before each rep.
- The parent keeps the best time per (job, size), asserts that every rep
  of a job gave the same checksum, and writes ``BENCH/scaling_{N}_{4N}.json``
  (every child's result plus the summary) and the generated table
  ``BENCH/scaling_{N}_{4N}.md`` after each child.

Efficiency = t_N / (4 * t_4N), i.e. thr_4N / (4 * thr_N) on the same input.
Floor-relative efficiency divides it by the efficiency of the job's floor
probe: the minimal Spark pass over a like-shaped input (a zero-shuffle
table pass or a one-exchange shuffle pass), the ceiling this host sets for
a job of that shape.  Selecting a job also runs its floor.

Usage: python tools/scaling.py [--job NAME ...] [--reps 2] [--fold OLD.json ...]

``--fold`` adds the child results of earlier runs at the same fleet pair
and the same input sizes to the best-of; ``--reps 0 --fold A.json B.json``
only merges.  The output file is rewritten, so pass it to ``--fold`` to
add reps to it.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from typing import Callable, NamedTuple

TOOLS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TOOLS)
sys.path.insert(0, REPO)

import pyarrow.parquet as pq  # noqa: E402
import pyspark.sql.functions as F  # noqa: E402

from geomesa_spark.functions import text  # noqa: E402
from geomesa_spark.operators import autocorr, dedup, knn, tiling, xz2  # noqa: E402
from geomesa_spark.operators import pointpattern as pp  # noqa: E402
from geomesa_spark.operators import spatial_join as sj  # noqa: E402
from geomesa_spark.sources import corpus  # noqa: E402

HEAP_MB = 2048  # per executor JVM and for the driver: 4 x 2g + 2g fits 15 GB
WARM_FRACTION = 0.05
TIMED_REPS = 3


class Job(NamedTuple):
    n: int  # input size (rows or docs), fixed per job
    synth: Callable  # (spark, n, cache_dir) -> tuple of input DataFrames
    run: Callable  # (*inputs) -> result (lazy DataFrame, or pandas for kNN)
    checksum: Callable  # result -> list of ints; the timed action
    floor: str | None  # registry name of this job's floor probe; None = a floor
    label: str


# ---------------------------------------------------------------- inputs


def _cached(spark, cache: str, name: str, n: int, build: Callable):
    """Write ``build(spark.range(n))`` once to parquet and re-read it, so
    every job pays real decode.  All synthesis is JVM xxhash64 of the row
    id: the same rows at any parallelism, no Python, no seed."""
    files = _input_files()
    path = os.path.join(cache, f"{name}_n{n}_f{files}.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        build(spark.range(0, n, 1, files)).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _input_files() -> int:
    """Every input is this many equal files, one scan task each at both
    fleet sizes: four waves at 4N, few enough that per-task overhead stays
    small next to the work."""
    return 4 * fleet()[1]


def _unit(salt: int):
    return F.pmod(F.xxhash64("id", F.lit(salt)), F.lit(1 << 32)) / F.lit(float(1 << 32))


def _uniform(salt: int, id_col: str | None = None, ts: bool = False) -> Callable:
    # ts: uniform over 30 days from 2024-01-01
    return lambda r: r.select(
        *([F.col("id").alias(id_col)] if id_col else []),
        (_unit(salt) * 360.0 - 180.0).alias("lon"),
        (_unit(salt + 1) * 170.0 - 85.0).alias("lat"),
        *([F.timestamp_seconds(
            F.lit(1704067200) + F.pmod(F.xxhash64("id", F.lit(salt + 2)), F.lit(30 * 86400))
        ).alias("ts")] if ts else []),
    )


def _docs(spark, n, cache):
    # the interleaved-span corpus (seed 42)
    files = _input_files()
    path = os.path.join(cache, f"documents_spans_n{n}_f{files}.parquet")
    if not os.path.exists(path):
        table, step = corpus.synth_documents_spans(n), -(-n // files)
        os.makedirs(path + ".tmp", exist_ok=True)
        for i in range(files):
            part = os.path.join(path + ".tmp", f"part-{i:05d}.parquet")
            pq.write_table(table.slice(i * step, step), part)
        os.replace(path + ".tmp", path)
    return (spark.read.parquet(path),)


def _tile_points(spark, n, cache):
    # DISTINCT points: row-duplicated tables dictionary-encode and
    # partial-aggregate nearly for free
    return (_cached(spark, cache, "tile_points", n, _uniform(1)),)


def _kx_points(spark, n, cache):
    return (_cached(spark, cache, "kx_points", n, _uniform(7, "event_id")),)


def _xz2_inputs(spark, n, cache):
    (pts,) = _kx_points(spark, n, cache)
    geoms = (
        pts.filter(F.col("event_id") % 37 == 0)
        .select(
            F.col("event_id").alias("geom_event_id"),
            F.expr(
                "concat('POLYGON((',"
                " CAST(lon - 2.005 AS STRING), ' ', CAST(greatest(lat - 1.005, -89.9) AS STRING), ', ',"
                " CAST(lon + 2.005 AS STRING), ' ', CAST(greatest(lat - 1.005, -89.9) AS STRING), ', ',"
                " CAST(lon + 2.005 AS STRING), ' ', CAST(least(lat + 1.005, 89.9) AS STRING), ', ',"
                " CAST(lon - 2.005 AS STRING), ' ', CAST(least(lat + 1.005, 89.9) AS STRING), ', ',"
                " CAST(lon - 2.005 AS STRING), ' ', CAST(greatest(lat - 1.005, -89.9) AS STRING), '))')"
            ).alias("wkt"),
        )
    )
    return geoms, pts.select(F.col("event_id").alias("point_event_id"), "lon", "lat")


def _st_points(spark, n, cache):
    return tuple(
        _cached(spark, cache, f"st_points_{side}", n, _uniform(salt, f"id_{side}", ts=True))
        for side, salt in (("a", 11), ("b", 23))
    )


def _stats_points(spark, n, cache):
    # |lat| <= 60 band, 90-day span
    return (_cached(spark, cache, "stats_pts", n, lambda r: r.select(
        F.col("id").alias("event_id"),
        F.expr("pmod(xxhash64(id, 1), 360000000) / 1000000.0 - 180.0").alias("lon"),
        F.expr("pmod(xxhash64(id, 2), 120000000) / 1000000.0 - 60.0").alias("lat"),
        F.expr("timestamp_micros(1700000000000000 + pmod(xxhash64(id, 3), "
               f"{90 * 86_400 * 1_000_000}))").alias("ts"),
    )),)


def _stats_points_split(spark, n, cache):
    # the pair joins' probe stage runs one task per input split: spread the
    # small table over the fleet like a production table with many files
    # (the entry_queries._event_points idiom)
    (pts,) = _stats_points(spark, n, cache)
    return (pts.repartition(spark.sparkContext.defaultParallelism),)


def _pipe_docs(spark, n, cache):
    # ~48 tokens per doc from a 5000-word vocabulary, 6 paragraphs
    return (_cached(spark, cache, "pipe_docs", n, lambda r: r.select(
        F.col("id").alias("doc_id"),
        F.expr(
            "array_join(transform(sequence(0, 5), j -> "
            "array_join(transform(sequence(1, 8), "
            "i -> concat('w', pmod(xxhash64(id, j * 8 + i), 5000))), ' ')), "
            "'\\n')"
        ).alias("text"),
        F.expr("concat('src', pmod(id, 4))").alias("source"),
    )),)


# ---------------------------------------------------------------- jobs


def _rows(df) -> list[int]:
    return [df.count()]


def _count_and_sum(col: str) -> Callable:
    # every statistic is quantized to BIGINT, so the sum is exact
    def chk(df):
        r = df.agg(F.count(F.lit(1)).alias("c"), F.sum(col).alias("s")).collect()[0]
        return [int(r["c"]), int(r["s"] or 0)]

    return chk


def _rounded(df) -> list[int]:
    # float sums differ in their last bits with the split layout
    return [round(v) for v in df.collect()[0]]


def _table_pass(pts):
    # full two-column decode, zero shuffle, one row out
    return pts.agg(F.sum("lon"), F.sum("lat"))


def _fleet_parallelism(df) -> int:
    return df.sparkSession.sparkContext.defaultParallelism


# Shuffle-pass floors: the minimal job that moves every row through one
# hash exchange on a unique key.  Rows fan out first so the probe is
# throughput-bound, not stage-overhead-bound.
def _xz2_floor(pts):
    u = pts.withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(31))))
    u = u.withColumn("k", F.col("event_id") * 32 + F.col("r"))
    return u.repartition(_fleet_parallelism(pts), "k")


def _spacetime_floor(a, b):
    u = a.select(F.col("id_a").alias("k"), "lon", "lat", "ts").unionAll(
        b.select(F.col("id_b").alias("k"), "lon", "lat", "ts"))
    u = u.withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(7)))).withColumn(
        "k", F.col("k") * 8 + F.col("r"))
    return u.repartition(_fleet_parallelism(a), "k")


KNN_QUERIES = [
    dict(query_id=f"Q{i}", lon=float(((i * 73) % 340) - 170),
         lat=float(((i * 37) % 160) - 80), k=10)
    for i in range(10)
]


def _knn_checksum(out) -> list[int]:
    return [len(out), int(out["dist_m"].sum() * 1000)]


# Sizes (the first field): each job's best at N = 1 core takes >= 5 s on a
# 4-core host, and one --reps 2 sweep of every job takes about an hour.
JOBS: dict[str, Job] = {
    # flagship family: interleaved-span documents and a flat point table
    "join": Job(400_000, _docs, lambda docs: sj.spatial_join_documents(
        docs, corpus.fixture_polygons(), "intersects"), _rows, "table_pass",
        "flagship spatial join (st_intersects, 12 polygons, incl. span extraction)"),
    "extract": Job(400_000, _docs, lambda docs: sj.extract_geo_points(docs).select(
        "doc_id", "lon", "lat"), _rows, "table_pass",
        "span extraction (scan + explode + WKT regex)"),
    "tile": Job(4_000_000, _tile_points, lambda pts: tiling.tile_pyramid(pts, [5, 8, 11]),
                _rows, "table_pass", "tile pyramid (zooms 5/8/11 over a flat point table)"),
    "table_pass": Job(120_000_000, _tile_points, _table_pass, _rounded, None,
                      "table-pass floor (2-col sum over a flat point table, zero shuffle)"),
    # kNN is scan-bound (per-round ring join over the point table), so its
    # floor is the table pass; XZ2 shuffles both sides
    "knn": Job(1_500_000, _kx_points, lambda pts: knn.knn(pts, KNN_QUERIES, res=7),
               _knn_checksum, "table_pass",
               "kNN 10 queries k=10 res=7 (iterative broadcast ring join)"),
    "xz2": Job(350_000, _xz2_inputs, lambda geoms, pts: xz2.xz2_join_points(
        geoms, pts, predicate="intersects"), _rows, "xz2_floor",
        "xz2_join_points poly x point intersects (large x large)"),
    "xz2_floor": Job(450_000, _kx_points, _xz2_floor, _rows, None,
                     "shuffle-pass floor (32x fan-out, one exchange)"),
    # space-time co-location join: two exchanges on (cell, time_bin)
    "spacetime": Job(200_000, _st_points, lambda a, b: sj.spatiotemporal_join_grid(
        a, b, res=7, dist_m=50_000.0, max_dt_s=3600,
        left_id="id_a", right_id="id_b", unique_ids=True,
    ), _rows, "spacetime_floor", "spatiotemporal_join_grid (50 km AND 1 h, cell + time_bin key)"),
    "spacetime_floor": Job(700_000, _st_points, _spacetime_floor, _rows, None,
                           "shuffle-pass floor (both sides, 8x fan-out, one exchange)"),
    # spatial statistics: exact BIGINT checksums
    "stats_floor": Job(15_000_000, _stats_points, lambda big: big.select(
        # pmod bounds the summand so a large table's SUM stays inside BIGINT
        F.pmod(F.xxhash64("lon", "lat"), F.lit(10**9)).alias("h")),
        _count_and_sum("h"), None, "table-pass floor (2-col decode -> one exact scalar)"),
    "gi_star": Job(10_000_000, _stats_points, lambda big: autocorr.getis_ord_gi(big, res=7),
                   _count_and_sum("gi_z_x1e6"), "stats_floor", "Getis-Ord Gi* res 7"),
    "local_moran": Job(10_000_000, _stats_points, lambda big: autocorr.local_morans_i(big, res=7),
                       _count_and_sum("lisa_i_x1e9"), "stats_floor", "Local Moran's I res 7"),
    "emerging": Job(2_000_000, _stats_points, lambda big: autocorr.emerging_hotspots(
        big.select("lon", "lat", "ts"), res=5, min_total=10),
        _count_and_sum("s_stat"), "stats_floor",
        "Mann-Kendall emerging hotspots res 5 / 90 day bins"),
    "ripley": Job(110_000, _stats_points_split, lambda small: pp.ripley_k(
        small, (10_000.0, 25_000.0, 50_000.0), res=7, lat_max=60.0),
        _count_and_sum("pairs"), "stats_floor",
        "Ripley's K 10/25/50 km res 7 (ring-cover pair join)"),
    "knox": Job(70_000, _stats_points_split, lambda small: pp.knox_test(
        small, dist_m=50_000.0, dt_s=3 * 3600, res=7, lat_max=60.0),
        _count_and_sum("st_pairs"), "stats_floor", "Knox 50 km / 3 h res 7"),
    # training-data pipeline: gopher is one codegen projection, the text floor
    "gopher": Job(70_000, _pipe_docs, lambda docs: text.gopher_quality(
        docs, min_words=10, min_stopwords=0).filter("keep"), _rows, None,
        "Gopher quality rules (one codegen projection, zero shuffle)"),
    "substring": Job(8_000, _pipe_docs, lambda docs: text.substring_dedup_stats(docs, k=8),
                     _rows, "gopher", "duplicated-substring stats (k=8 windows)"),
    "para": Job(100_000, _pipe_docs, text.para_dedup, _rows, "gopher",
                "paragraph dedup with survivorship"),
    "minhash": Job(15_000, _pipe_docs, lambda docs: dedup.minhash_lsh_pairs(
        docs, num_perm=32, bands=8), _rows, "gopher",
        "shingle MinHash + LSH candidate pairs (md5 Arrow signatures)"),
}


def measure(job: Job, inputs: tuple, clear: Callable) -> tuple[float, list, list[float]]:
    """Warm up on a sample of every input, then best-of-``TIMED_REPS``."""
    job.checksum(job.run(*[d.sample(fraction=WARM_FRACTION, seed=1) for d in inputs]))
    times, chk = [], None
    for _ in range(TIMED_REPS):
        clear()
        t0 = time.perf_counter()
        chk = job.checksum(job.run(*inputs))
        times.append(round(time.perf_counter() - t0, 3))
    return min(times), chk, times


# ---------------------------------------------------------------- child


def child(name: str, cores: str) -> None:
    """One (job, fleet size) measurement in this process; prints RESULT."""
    cores = int(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{HEAP_MB}m"
    import __spark_entry__ as entry_mod
    from geomesa_spark import cache as gcache
    from geomesa_spark.session import get_spark

    spark = get_spark(
        "scaling", cores=cores, shuffle_partitions=cores,
        master=f"local-cluster[{cores},1,{HEAP_MB}]", executor_mem=f"{HEAP_MB}m",
    )
    # one scan split per input file: files are never packed together
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    spark.conf.set("spark.sql.files.minPartitionNum", str(_input_files()))
    entry_mod._ship_package(spark)
    os.makedirs(corpus.CACHE_DIR, exist_ok=True)
    job = JOBS[name]
    inputs = job.synth(spark, job.n, corpus.CACHE_DIR)

    def clear():
        gcache.clear_caches()
        spark.catalog.clearCache()

    best, chk, times = measure(job, inputs, clear)
    print("RESULT " + json.dumps({
        "job": name, "cores": cores, "n": job.n, "best_s": best, "reps_s": times,
        "checksum": chk, "loadavg": round(os.getloadavg()[0], 2),
    }), flush=True)
    spark.stop()


CHILD = "import sys; sys.path.insert(0, sys.argv[1]); import scaling; scaling.child(*sys.argv[2:])"


def run_child(name: str, cores: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", CHILD, TOOLS, name, str(cores)],
        capture_output=True, text=True, timeout=3600,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(
        f"child failed ({name}, cores={cores}):\n{out.stdout[-2000:]}\n{out.stderr[-3000:]}"
    )


# ---------------------------------------------------------------- parent


def fleet() -> tuple[int, int]:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    small = max(1, cpus // 4)
    return small, 4 * small


def summarize(runs: list[dict], small: int, large: int) -> dict:
    """Best time per (job, size), checksum parity, efficiencies."""
    best: dict[str, dict[int, float]] = {}
    checks: dict[str, list] = {}
    for r in runs:
        first = checks.setdefault(r["job"], r["checksum"])
        if r["checksum"] != first:
            raise RuntimeError(f"{r['job']} at {r['cores']} cores: checksum {r['checksum']} != {first}")
        b = best.setdefault(r["job"], {})
        b[r["cores"]] = min(b.get(r["cores"], float("inf")), r["best_s"])
    eff = {
        name: b[small] / (4 * b[large])
        for name, b in best.items() if small in b and large in b
    }
    jobs = {}
    for name, job in JOBS.items():
        if name not in best:
            continue
        floor = job.floor or name
        jobs[name] = {
            "label": job.label, "n": job.n, "floor": job.floor,
            "small_s": best[name].get(small), "large_s": best[name].get(large),
            "reps": {str(c): sum(r["job"] == name and r["cores"] == c for r in runs)
                     for c in (small, large)},
            "checksum": checks[name],
            "efficiency": round(eff[name], 3) if name in eff else None,
            "floor_relative": (round(eff[name] / eff[floor], 3)
                               if name in eff and floor in eff else None),
        }
    return jobs


def markdown(jobs: dict, small: int, large: int) -> str:
    def cell(v, fmt):
        return "—" if v is None else fmt % v

    lines = [
        f"| job | input | N = {small} core(s) | 4N = {large} cores | efficiency "
        "| floor | floor-relative |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, j in jobs.items():
        lines.append(
            f"| `{name}`: {j['label']} | {j['n']:,} | {cell(j['small_s'], '%.2f s')} "
            f"| {cell(j['large_s'], '%.2f s')} | **{cell(j['efficiency'], '%.2f')}** "
            f"| {j['floor'] or '(floor)'} | {cell(j['floor_relative'], '%.2f')} |"
        )
    return "\n".join(lines) + "\n"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--job", nargs="+", choices=list(JOBS), default=list(JOBS),
                    help="jobs to run (their floor probes run too); default all")
    ap.add_argument("--reps", type=int, default=2, help="interleaved N/4N child pairs per job")
    ap.add_argument("--fold", nargs="+", default=[], metavar="JSON",
                    help="earlier runs' JSON whose child results join the best-of")
    args = ap.parse_args()

    small, large = fleet()
    picked = set(args.job) | {JOBS[j].floor for j in args.job if JOBS[j].floor}
    order = [name for name in JOBS if name in picked]
    runs = []
    for path in args.fold:
        with open(path) as f:
            prior = json.load(f)
        if (prior["small"], prior["large"]) == (small, large):
            runs += [r for r in prior["runs"] if r["job"] in JOBS and r["n"] == JOBS[r["job"]].n]

    stem = os.path.join(REPO, "BENCH", f"scaling_{small}_{large}")

    def write() -> dict:
        jobs = summarize(runs, small, large)
        with open(stem + ".json", "w") as f:
            json.dump({"small": small, "large": large, "heap_mb": HEAP_MB,
                       "timed_reps": TIMED_REPS, "jobs": jobs, "runs": runs}, f, indent=1)
        with open(stem + ".md", "w") as f:
            f.write(markdown(jobs, small, large))
        return jobs

    for _ in range(args.reps):
        for name in order:
            for cores in (small, large):
                r = run_child(name, cores)
                print(json.dumps(r), flush=True)
                runs.append(r)
                write()
    jobs = write()
    print(markdown(jobs, small, large), end="")
    print(f"-> {stem}.json, {stem}.md")


if __name__ == "__main__":
    main()
