"""Scaling evidence for the spatial-statistics operators (autocorr +
point-pattern family) — the same north_rule protocol as
tools/scaling_bench.py / pipeline_scaling.py: identical job + input at
N vs 4N cores, per-executor JVM isolation via local-cluster, best-of
reps interleaved across fleet sizes, exact-integer output checksums
asserted identical across fleet sizes (every statistic quantizes to
BIGINT through a deterministic double expression, so checksums are
parallelism-invariant).

Inputs are synthesized deterministically in-JVM (xxhash64 of the row
id — parallelism-invariant), written to parquet once and re-read so
every job pays real decode:

- BIG   (20M pts): gi_star / local_moran at res 7 (ONE combinable
        count shuffle over points, then <=4^res-row joins) and
        emerging_hotspots at res 5 over a 90-day cube.
- SMALL (300k pts): ripley_k 10/25/50 km ladder and knox_test
        (50 km / 3 h) at res 7 — the pair-join jobs, whose cost is
        quadratic in LOCAL density by definition of the statistic.

Usage: python tools/stats_scaling.py [--reps 2] [--small 8]
       [--large 32] [--exec-cores 8] [--n-big 20000000]
       [--n-small 300000] [--merge-logs LOG...]
Writes BENCH/stats_scaling.json + BENCH/STATS.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, %(repo)r)
cores = %(cores)d
n_exec = %(n_exec)d
n_big = %(n_big)d
n_small = %(n_small)d
import numpy as np
def host_probe():
    a = np.random.default_rng(0).random(8192)
    t0 = time.time()
    for _ in range(10_000):
        a = a * 0.9999999 + 1e-9
    return round(time.time() - t0, 4)
probe0 = host_probe()

from geomesa_spark.session import get_spark
import __spark_entry__ as entry_mod
import pyspark.sql.functions as F

if n_exec > 0:
    spark = get_spark(
        "statscale", cores=cores, shuffle_partitions=cores,
        master=f"local-cluster[{n_exec},{cores // n_exec},6144]",
        executor_mem="6g",
    )
else:
    spark = get_spark("statscale", cores=cores, shuffle_partitions=cores)
spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
spark.conf.set("spark.sql.files.openCostInBytes", "0")
entry_mod._ship_package(spark)

def synth(n):
    # |lat| <= 60 band, 90-day span; all from xxhash64(id, salt) so the
    # table is byte-identical at any parallelism
    path = os.path.join(%(cache)r, f"stats_pts_n{n}.parquet")
    if not os.path.exists(path):
        (spark.range(n).select(
            F.col("id").alias("event_id"),
            F.expr("pmod(xxhash64(id, 1), 360000000) / 1000000.0 - 180.0").alias("lon"),
            F.expr("pmod(xxhash64(id, 2), 120000000) / 1000000.0 - 60.0").alias("lat"),
            F.expr("timestamp_micros(1700000000000000 + pmod(xxhash64(id, 3), "
                   + str(90 * 86_400 * 1_000_000) + "))").alias("ts"),
        ).write.mode("overwrite").parquet(path))
    return spark.read.parquet(path)

big = synth(n_big)
# the small table lands as ~8 one-row-group files, so a broadcast pair
# join's probe stage would run 8 tasks REGARDLESS of fleet size (the
# single-file bottleneck bench.py documents; measured: knox 32-core ran
# its half-billion-pair stage on 8 tasks and LOST to 8-core).  A
# production table has thousands of splits — reproduce that shape, as
# entry_queries._event_points does:
small = synth(n_small).repartition(spark.sparkContext.defaultParallelism)
nb, ns = big.count(), small.count()

from geomesa_spark import cache as gcache
from geomesa_spark.operators import autocorr, pointpattern as pp

def chk(df, col):
    r = df.agg(F.count(F.lit(1)).alias("c"), F.sum(col).alias("s")).collect()[0]
    return int(r["c"]), int(r["s"])

JOBS = {
    # the same zero-shuffle table-pass ceiling BENCH/BASELINE_8_32.md
    # measures: full 2-col decode, one exact-integer scalar out — the
    # upper bound any scan-bound job can reach on this host
    # pmod bounds the summand so 100M-row SUMs stay inside BIGINT (ANSI)
    "floor":       (nb, lambda: chk(
        big.select(F.pmod(F.xxhash64("lon", "lat"), F.lit(10**9)).alias("h")), "h")),
    "gi_star":     (nb, lambda: chk(autocorr.getis_ord_gi(big, res=7), "gi_z_x1e6")),
    "local_moran": (nb, lambda: chk(autocorr.local_morans_i(big, res=7), "lisa_i_x1e9")),
    "emerging":    (nb, lambda: chk(
        autocorr.emerging_hotspots(big.select("lon", "lat", "ts"), res=5,
                                   min_total=10), "s_stat")),
    "ripley":      (ns, lambda: chk(
        pp.ripley_k(small, (10_000.0, 25_000.0, 50_000.0), res=7, lat_max=60.0),
        "pairs")),
    "knox":        (ns, lambda: chk(
        pp.knox_test(small, dist_m=50_000.0, dt_s=3 * 3600, res=7, lat_max=60.0),
        "st_pairs")),
}

# warm-up: compile every codegen stage on slices before timing
autocorr.getis_ord_gi(big.sample(fraction=0.002, seed=1), res=7).count()
pp.ripley_k(small.sample(fraction=0.02, seed=1), (10_000.0,), res=7, lat_max=60.0).count()
gcache.clear_caches(); spark.catalog.clearCache()

res = {"cores": cores, "n_big": nb, "n_small": ns}
for name, (n_in, fn) in JOBS.items():
    best, out = float("inf"), None
    for _ in range(2):
        gcache.clear_caches()
        spark.catalog.clearCache()
        t0 = time.time()
        out = fn()
        best = min(best, time.time() - t0)
    res[name + "_s"] = round(best, 3)
    res[name + "_chk"] = list(out)
    res[name + "_pts_per_s"] = round(n_in / best, 1)
res["probe_s"] = [probe0, host_probe()]
print("RESULT " + json.dumps(res))
spark.stop()
"""

JOB_LABELS = {
    "floor": "table-pass ceiling (2-col decode -> one exact scalar, zero shuffle)",
    "gi_star": "Getis-Ord Gi* res 7 (one combinable count shuffle + cell-table joins)",
    "local_moran": "Local Moran's I res 7 (same shape + power-sum globals)",
    "emerging": "Mann-Kendall emerging hotspots res 5 / 90 day bins (cube pair tally)",
    "ripley": "Ripley's K 10/25/50 km ladder res 7 (small table, wrapped-ring pair join)",
    "knox": "Knox 50 km / 3 h (small table, spatial ring + time-bin ring joins)",
}


def run_child(cores: int, n_exec: int, n_big: int, n_small: int, cache: str) -> dict:
    code = CHILD % {
        "repo": REPO, "cores": cores, "n_exec": n_exec,
        "n_big": n_big, "n_small": n_small, "cache": cache,
    }
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=3600
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    dump = f"/tmp/stats_scaling_child_{cores}.log"
    with open(dump, "w") as f:
        f.write(out.stdout + "\n--- STDERR ---\n" + out.stderr)
    raise RuntimeError(
        f"child failed (cores={cores}); full log at {dump}:\n"
        f"{out.stdout[-2000:]}\n{out.stderr[-2000:]}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-big", type=int, default=20_000_000)
    ap.add_argument("--n-small", type=int, default=300_000)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--small", type=int, default=8)
    ap.add_argument("--large", type=int, default=32)
    ap.add_argument("--exec-cores", type=int, default=8)
    ap.add_argument("--merge-logs", nargs="*", default=[])
    args = ap.parse_args()
    cache = os.environ.get("SPARK_GRAFT_CACHE", "/tmp/geomesa_spark_cache")
    os.makedirs(cache, exist_ok=True)

    def n_exec(cores: int) -> int:
        return max(1, cores // args.exec_cores) if args.exec_cores else 0

    best: dict[int, dict] = {}
    n_folded = 0

    def fold(r: dict) -> None:
        nonlocal n_folded
        n_folded += 1
        if r["cores"] not in best:
            best[r["cores"]] = dict(r)
            return
        cur = best[r["cores"]]
        for job in JOB_LABELS:
            if r[job + "_s"] < cur[job + "_s"]:
                cur[job + "_s"] = r[job + "_s"]
                cur[job + "_pts_per_s"] = r[job + "_pts_per_s"]
            assert r[job + "_chk"] == cur[job + "_chk"], (job, "checksum drift")
        cur["probe_s"] = cur.get("probe_s", []) + r.get("probe_s", [])

    if args.merge_logs:
        import ast

        for p in args.merge_logs:
            for line in open(p):
                if line.startswith("rep local["):
                    fold(ast.literal_eval(line.split(": ", 1)[1]))
    for _ in range(args.reps):
        for cores in (args.small, args.large):
            r = run_child(cores, n_exec(cores), args.n_big, args.n_small, cache)
            print(f"rep local[{cores}]: {r}", flush=True)
            fold(r)
    s, l = best[args.small], best[args.large]
    ratio = args.large / args.small
    eff = {
        job: round(l[job + "_pts_per_s"] / (ratio * s[job + "_pts_per_s"]), 2)
        for job in JOB_LABELS
    }
    parity = {job: s[job + "_chk"] == l[job + "_chk"] for job in JOB_LABELS}
    out = {"small": s, "large": l, "eff": eff, "parity": parity}
    jpath = os.path.join(REPO, "BENCH", "stats_scaling.json")
    json.dump(out, open(jpath, "w"), indent=1)

    lines = [
        "# BENCH/STATS — spatial-statistics operator scaling "
        f"(N={args.small} -> 4N={args.large})",
        "",
        "Same protocol as BENCH/BASELINE_8_32.md / PIPELINE.md: identical",
        f"job + deterministic xxhash64-synthesized input (big = {s['n_big']:,}",
        f"pts for the cell statistics, small = {s['n_small']:,} pts for the",
        "pair joins, whose cost is quadratic in local density by definition",
        "of the statistic) at two fleet sizes,",
        "per-executor JVM isolation (local-cluster, 6g/executor), best per",
        f"(job, fleet) over {n_folded} fleet-size passes (each itself",
        "best-of-2 in-session reps; passes merged across runs), (row",
        "count, exact-BIGINT",
        "checksum) asserted identical across fleet sizes.  probe_s entries",
        "~0.05 = quiet host window; >=0.085 = noisy (see bench.py).",
        "",
        f"| job | N = {args.small} cores | 4N = {args.large} cores | eff | floor-relative |",
        "|---|---|---|---|---|",
    ]
    for job, label in JOB_LABELS.items():
        lines.append(
            "| %s | %.1f s = %s pts/s | %.1f s = %s pts/s | **%.2f** | %.2f |"
            % (
                label,
                s[job + "_s"], f"{s[job + '_pts_per_s']:,.0f}",
                l[job + "_s"], f"{l[job + '_pts_per_s']:,.0f}",
                eff[job],
                eff[job] / eff["floor"],
            )
        )
    lines += [
        "",
        "floor-relative = job efficiency / the table-pass ceiling's, i.e.",
        "relative to the minimal possible zero-shuffle Spark pass on this",
        "host (shared memory bandwidth caps the 8->32 absolute numbers —",
        "BENCH/BASELINE_8_32.md measured the same ceiling at 0.61 on the",
        "12.8M-doc corpus).",
    ]
    lines += [
        "",
        f"probe_s small={s.get('probe_s')} large={l.get('probe_s')}",
        f"parity: {parity}",
    ]
    with open(os.path.join(REPO, "BENCH", "STATS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
