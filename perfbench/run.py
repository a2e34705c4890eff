"""The repo benchmark: one workload, one fresh driver process, one result.

Run from the repository root:

    python3 perfbench/run.py --workload join --seed 1 --seconds 5 --trace 0

Each run generates its inputs from ``--seed`` and computes the expected
result of every operation (both outside the clock), sets up a session on
``local[nproc]`` (``SPARK_GRAFT_CPUS`` overrides the core count), then
runs the workload as a closed loop of one client for ``--seconds`` (in
whole rounds of its operations, at least one), checking every output.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``); the line
before it carries the run's context (host, sizes, per-op figures).

Set-up is measured once per run, in this fresh process, up to the first
timed operation.  The traced run also replays its operations untraced and
reports the difference as the tracing overhead; its spans and their self
times go to ``perfbench/out/``.

Every file the run writes (inputs, the engine's package zip, Spark's
scratch space, the JVM's temp files) stays under ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def host_probe_s() -> float:
    """Fixed single-thread numpy loop: a noise marker for the host.  On an
    idle 4-core x86 host it reads 0.06–0.11 s; above about 0.2 s the run
    was taken while the machine was busy."""
    import numpy as np

    a = np.random.default_rng(0).random(8192)
    t0 = time.perf_counter()
    for _ in range(10_000):
        a = a * 0.9999999 + 1e-9
    return time.perf_counter() - t0


def isolate(run_dir: str) -> str:
    """Point every temp and scratch location of Python, Spark and the JVM
    into ``run_dir``; returns the temp directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CACHE"] = os.path.join(run_dir, "cache")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    return tmp


class _TmpRedirect:
    """``os`` as ``__spark_entry__._ship_package`` sees it, with the fixed
    ``/tmp`` of its package-zip path mapped into the run's temp directory,
    so the benchmark writes only inside its checkout."""

    def __init__(self, tmp: str):
        self._tmp = tmp

    @property
    def path(self):
        return self

    def join(self, first, *rest):
        return os.path.join(self._tmp if first == "/tmp" else first, *rest)

    def __getattr__(self, name):
        return getattr(os.path if hasattr(os.path, name) else os, name)


def ship(spark, tmp: str) -> None:
    import __spark_entry__ as entry

    real = entry.os
    entry.os = _TmpRedirect(tmp)
    try:
        entry._ship_package(spark)
    finally:
        entry.os = real


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def stop(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    gw = spark.sparkContext._gateway
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)


class Runner:
    """Executes operations.  Per call it records the latency, split into
    the operator call (``plan_s``) and the action that executes it
    (``exec_s``), and whether the digest matched; when traced, also the
    call's Spark jobs and the layer sums of its executed plan."""

    def __init__(self, spark, tracer):
        self.spark, self.tracer = spark, tracer
        self.calls = 0

    def execute(self, op, check: bool = True) -> dict:
        import oracle
        import tracing

        traced = self.tracer.enabled
        self.calls += 1
        group = f"{op.name}#{self.calls}"
        sc = self.spark.sparkContext
        if traced:
            sc.setJobGroup(group, op.name)
        rec = dict(op=op.name, rows_in=op.rows_in, ok=False, plan_ms=0.0, exec_s=0.0)
        digest_df = result = None
        t0 = time.perf_counter()
        try:
            with self.tracer.span(op.name, op=group):
                if op.keys is None:
                    with self.tracer.span(op.layer):
                        result = op.call()
                    rec["exec_s"] = time.perf_counter() - t0
                else:
                    with self.tracer.span(op.layer):
                        frame = op.call()
                    t1 = time.perf_counter()
                    with self.tracer.span("spark.execute"):
                        digest_df = oracle.spark_digest(frame, op.keys(frame))
                        row = digest_df.collect()[0]
                    rec["plan_ms"] = 1e3 * (t1 - t0)
                    rec["exec_s"] = time.perf_counter() - t1
                    result = (row["n"], row["h1"], row["h2"])
            rec["latency_s"] = rec["plan_ms"] / 1e3 + rec["exec_s"]
            if check:
                with self.tracer.span("bench.check", op=group):
                    got = op.check(result) if op.check else result
                rec["out_rows"] = got[0]
                rec["ok"] = tuple(got) == tuple(op.expected)
                if not rec["ok"]:
                    print(f"perfbench: {op.name} digest {got} != expected {op.expected}",
                          file=sys.stderr)
        except Exception:  # a failed operation is counted, and the loop goes on
            rec["latency_s"] = time.perf_counter() - t0
            rec["error"] = True
            traceback.print_exc()
        if traced:
            with self.tracer.span("bench.walk", op=group):
                rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
                if digest_df is not None:
                    rec.update(tracing.plan_metrics(digest_df._jdf.queryExecution().executedPlan()))
            sc.setJobGroup("", "")
        return rec


def set_up(wl_cls, args, data, sizes, tmp, tracer):
    """Session, package ship, inputs, one-time choices and warm-up: the
    work between a fresh process and the first timed operation."""
    from geomesa_spark.session import get_spark

    import workloads

    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark(f"perfbench-{wl_cls.name}", cores=host_cpus())
    try:
        t1 = time.perf_counter()
        with tracer.span("session.ship_package"):
            ship(spark, tmp)
        t2 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        wl = wl_cls(spark, data, sizes, args.seed)
        with tracer.span("session.open_inputs"):
            wl.open()
        with tracer.span("session.choose"):
            wl.choose()
        runner = Runner(spark, tracer)
        with tracer.span("session.warmup"):
            for op in wl.warm_ops():
                workloads.clear_caches(spark)
                if runner.execute(op, check=False).get("error"):
                    raise RuntimeError(f"warm-up of {op.name} failed")
        t3 = time.perf_counter()
    except BaseException:
        stop(spark)  # a failed set-up leaves no JVM behind
        raise
    phases = dict(start_s=t1 - t0, ship_s=t2 - t1, warmup_s=t3 - t2, setup_s=t3 - t0)
    return spark, wl, runner, phases


def run_loop(spark, wl, runner, expected, seconds: float, n_ops: int | None = None) -> list[dict]:
    """The closed loop: the next operation starts when the previous one
    returns.  Stops at the first round boundary after ``seconds`` (so after
    one round at least), or after exactly ``n_ops`` operations."""
    import workloads

    recs = []
    t0 = time.perf_counter()
    for op in wl.stream(expected):
        if n_ops is not None:
            if len(recs) >= n_ops:
                break
        elif (recs and len(recs) % wl.round_len == 0
              and time.perf_counter() - t0 >= seconds):
            break
        workloads.clear_caches(spark)
        recs.append(runner.execute(op))
    return recs


def end_to_end(wl, recs: list[dict], setup_s: float) -> dict:
    """The user's figures, named alike on every workload.  ``rows_per_s``
    counts the input rows of the workload's bulk operations (join's joins
    and tile pyramid; index_serve's Z3 ingest) over their wall time;
    ``op_p50_ms`` is the median latency of ``wl.latency_ops`` (every join
    operation; index_serve's pruned queries)."""
    bulk = [r for r in recs if r["rows_in"] > 0]
    lat_ms = [1e3 * r["latency_s"] for r in recs if r["op"] in wl.latency_ops]
    return {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (sum(r["rows_in"] for r in bulk) / sum(r["latency_s"] for r in bulk),
                       "rows/s"),
        "op_p50_ms": (statistics.median(lat_ms), "ms"),
    }


#: the traced run's per-layer metrics, ``<op>.<metric>``, for the metrics
#: whose plan node the op's executed plan has.  The document joins also
#: keep ``exchange_bytes`` and ``python_evals``, which read 0: they show
#: that the flagship path shuffles nothing and crosses no Python boundary.
_CALL = ("calls", "plan_ms", "exec_s", "jobs")
_DOC = _CALL + ("scan_rows", "scan_files", "codegen_ms", "broadcast_build_ms",
                "exchange_bytes", "python_evals", "out_rows", "useful_ratio")
_PAIR = _CALL + ("scan_rows", "codegen_ms", "broadcast_build_ms", "exchange_bytes",
                 "exchange_records", "python_ms", "python_bytes_sent", "python_evals",
                 "out_rows", "useful_ratio")
PER_OP = {
    "docs_intersects": _DOC,
    "docs_contains": _DOC,
    "tile_pyramid": _CALL + ("scan_rows", "scan_files", "codegen_ms", "exchange_bytes",
                             "exchange_records", "out_rows"),
    "dwithin_100km": _CALL + ("scan_rows", "codegen_ms", "broadcast_build_ms", "python_ms",
                              "python_evals", "out_rows", "useful_ratio"),
    "grid_join_50km": _PAIR,
    "xz2_poly_join": _PAIR,
    "spacetime_join": _PAIR,
    "ingest_z3": ("calls", "exec_s", "jobs", "files_written", "bytes_per_row"),
    "scan_query": _CALL + ("scan_files", "files_read_ratio", "rows_per_result", "python_ms"),
    "knn_query": ("calls", "exec_s", "jobs", "p50_ms"),
}
UNITS = dict(
    calls="count", plan_ms="ms", exec_s="s", jobs="count", scan_rows="rows",
    scan_files="count", codegen_ms="ms", broadcast_build_ms="ms", exchange_bytes="bytes",
    exchange_records="rows", python_ms="ms", python_bytes_sent="bytes", python_evals="count",
    out_rows="rows", useful_ratio="fraction", files_read_ratio="fraction",
    rows_per_result="rows", files_written="count", bytes_per_row="bytes", p50_ms="ms",
)
DOC_OPS = ("docs_intersects", "docs_contains")
PAIR_OPS = ("grid_join_50km", "xz2_poly_join", "spacetime_join")


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    names = {f"session.{k}": "s" for k in ("start_s", "ship_s", "warmup_s")}
    for op, keys in PER_OP.items():
        names.update({f"{op}.{k}": UNITS[k] for k in keys})
    names.update(trace_overhead_pct="%", failed_frac="fraction")
    return names


def _op_figures(rs: list[dict], plain: list[dict], layout: tuple) -> dict:
    """One op's figures over its traced calls ``rs`` (means per call, or
    ratios of sums); ``p50_ms`` is over its untraced calls ``plain``."""
    def total(key):
        return sum(r.get(key) or 0.0 for r in rs)

    def ratio(num, den):
        d = total(den)
        return total(num) / d if d else 0.0

    files, nbytes = layout
    out = {k: total(k) / len(rs) for k in UNITS}
    out.update(
        calls=len(rs),
        useful_ratio=ratio("out_rows", "candidates"),
        files_read_ratio=ratio("scan_files", "scan_files_total"),
        rows_per_result=total("scan_rows") / max(1.0, total("out_rows")),
        files_written=float(files),
        bytes_per_row=nbytes / rs[0]["rows_in"] if rs[0]["rows_in"] else 0.0,
        p50_ms=statistics.median(1e3 * r["latency_s"] for r in plain or rs),
    )
    return out


def per_layer(recs: list[dict], plain: list[dict], phases: dict, layout: tuple) -> dict:
    """Every name of :func:`per_layer_names`; an op the workload does not
    run reads 0 calls and 0 throughout."""
    names = per_layer_names()
    out = {name: (0.0, unit) for name, unit in names.items()}
    for k in ("start_s", "ship_s", "warmup_s"):
        out[f"session.{k}"] = (phases[k], "s")
    for op in dict.fromkeys(r["op"] for r in recs):
        figs = _op_figures([r for r in recs if r["op"] == op],
                           [r for r in plain if r["op"] == op], layout)
        for k in PER_OP[op]:
            out[f"{op}.{k}"] = (figs[k], UNITS[k])
    traced_s = sum(r["latency_s"] for r in recs)
    plain_s = sum(r["latency_s"] for r in plain)
    out["trace_overhead_pct"] = (100.0 * (traced_s - plain_s) / plain_s, "%")
    everything = recs + plain
    out["failed_frac"] = (sum(not r["ok"] for r in everything) / len(everything), "fraction")
    return out


def layer_separation(metrics: dict) -> bool | None:
    """True when the document joins run no Python eval node and shuffle
    nothing while every pair join shuffles and spends time in Python;
    None on a workload that runs neither kind of op."""
    def val(name):
        return metrics[name][0]

    ran = [o for o in DOC_OPS + PAIR_OPS if val(f"{o}.calls")]
    if not ran:
        return None
    docs_ok = all(val(f"{o}.python_evals") == 0 and val(f"{o}.exchange_bytes") == 0
                  for o in ran if o in DOC_OPS)
    pairs_ok = all(val(f"{o}.exchange_bytes") > 0 and val(f"{o}.python_ms") > 0
                   for o in ran if o in PAIR_OPS)
    return docs_ok and pairs_ok


def _emit(recs: list[dict], metrics: dict, context: dict) -> None:
    failed = sum(not r["ok"] for r in recs)
    context["failed_frac"] = failed / len(recs)
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--shape", choices=("full", "tiny"), default="full")
    ap.add_argument("--plant-wrong", action="store_true",
                    help="expect a wrong digest for the first operation (self-test)")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "geomesa_spark"))):
        _fail(f"the engine (geomesa_spark/, __spark_entry__.py) is not in {ROOT}")
    sys.path[:0] = [HERE, ROOT]
    import workloads

    wl_cls = workloads.WORKLOADS.get(args.workload)
    if wl_cls is None:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")

    import inputs
    import tracing

    probe0 = host_probe_s()
    run_dir = os.path.join(OUT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    data = os.path.join(run_dir, "data")
    spark = None
    try:
        tmp = isolate(run_dir)
        t0 = time.perf_counter()
        tables = inputs.build(args.workload, args.shape, args.seed)
        inputs.write(data, tables, args.shape)
        sizes = {k: v.num_rows for k, v in tables.items()}
        expected = wl_cls.expect(tables, args.seed)
        del tables
        if args.plant_wrong:
            first = next(iter(expected))
            expected[first] = tuple(v + 1 for v in expected[first])
        gen_s = time.perf_counter() - t0

        tracer = tracing.Tracer(bool(args.trace))
        spark, wl, runner, phases = set_up(wl_cls, args, data, sizes, tmp, tracer)

        t_loop = time.perf_counter()
        # the traced run spends half its time traced and half replaying
        # the same operations untraced, for the tracing overhead
        recs = run_loop(spark, wl, runner, expected, args.seconds / (2 if args.trace else 1))
        loop_s = time.perf_counter() - t_loop
        context = dict(
            workload=args.workload, seed=args.seed, shape=args.shape, cpus=host_cpus(),
            sizes=sizes, inputs_and_oracle_s=gen_s, loop_wall_s=loop_s, setup_phases_s=phases,
            latency_ms={name: statistics.median(1e3 * r["latency_s"] for r in recs
                                                if r["op"] == name)
                        for name in dict.fromkeys(r["op"] for r in recs)},
        )
        if args.trace:
            tracer.enabled = False
            plain = run_loop(spark, wl, runner, expected, 0, n_ops=len(recs))
            layout = wl.layout_files() if hasattr(wl, "layout_files") else (0, 0)
            metrics = per_layer(recs, plain, phases, layout)
            trace_path = os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json")
            context.update(trace_file=os.path.relpath(trace_path, ROOT),
                           layer_separation=layer_separation(metrics))
            tracer.dump(trace_path, context)
            recs += plain
        else:
            metrics = end_to_end(wl, recs, phases["setup_s"])
            context["jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
        stop(spark)
        spark = None
        context["host_probe_s"] = [probe0, host_probe_s()]
        _emit(recs, metrics, context)
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
