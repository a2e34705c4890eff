"""Self-test of the benchmark on tiny (sf0.001-shape) inputs.

Run from the repository root:  python3 perfbench/selftest.py

Checks, and exits non-zero if any fails:

1. every end-to-end and per-layer metric named in BENCHMARK.json prints,
   with its unit, on every workload, and the default seed runs clean;
2. a planted wrong expected result makes the run count a failed
   operation (``correct`` false, ``failed_frac`` > 0);
3. in the traced run, the per-op execution times sum to no more than the
   traced loop's wall time;
4. the traced runs separate the layers: the document joins run no Python
   eval node and shuffle nothing, every pair join shuffles and spends time
   in Python.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import PER_OP  # noqa: E402


def run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--shape", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["context"], json.loads(lines[-1])


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            ctx, res = run(w["name"], trace)
            if not res["correct"] or res["failed"]:
                problems.append(f"{w['name']} trace={trace}: {res['failed']} failed operations")
            for m in spec[kind]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    problems.append(f"{w['name']}: {m['name']} missing or unit != {m['unit']}")
            if not trace:
                continue
            vals = {k: v["value"] for k, v in res["metrics"].items()}
            exec_s = sum(vals[f"{op}.exec_s"] * vals[f"{op}.calls"] for op in PER_OP)
            if exec_s > ctx["loop_wall_s"]:
                problems.append(f"{w['name']}: per-op exec_s sum {exec_s:.3f} s > traced loop "
                                f"wall {ctx['loop_wall_s']:.3f} s")
            if ctx["layer_separation"] is False:
                problems.append(f"{w['name']}: the traced run does not separate the layers")
    ctx, res = run(spec["workloads"][0]["name"], 0, "--plant-wrong")
    if res["correct"] or not ctx["failed_frac"] > 0:
        problems.append("a planted wrong expected result was not counted as failed")
    for p in problems:
        print("FAIL", p)
    print("selftest:", "ok" if not problems else f"{len(problems)} problem(s)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
