"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload ingest --seeds 1-10
    python3 perfbench/spread.py --workload crawl_polite,ingest --seeds 1-10

Runs ``run.py`` once per seed (untraced, ``run_seconds`` from
BENCHMARK.json), one after another; with several workloads it alternates
them, seed by seed.  Prints per workload, for every end-to-end metric, the
median, the quartiles and (Q3 - Q1) / median, the figure the benchmark's
bounds are checked against.  Per-run results are appended to
``.perfbench_work/spread-<workload>.jsonl``; each run's stderr goes to
``.perfbench_work/spread-logs/<workload>-<seed>.err``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="one name, or several separated by commas")
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,8")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    workloads = args.workload.split(",")
    os.makedirs(os.path.join(ROOT, ".perfbench_work", "spread-logs"), exist_ok=True)
    values: dict[str, dict[str, list[float]]] = {w: {} for w in workloads}
    for seed in _seeds(args.seeds):
        for w in workloads:
            res = _run(bench, w, seed)
            if res is None:
                return 1
            for k, v in res["metrics"].items():
                values[w].setdefault(k, []).append(v["value"])

    for w in workloads:
        print(f"{w}\n{'metric':14s} {'median':>10s} {'q1':>10s} {'q3':>10s} {'spread':>7s} {'bound':>6s}")
        for k, vs in values[w].items():
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
            med = statistics.median(vs)
            spread = (q3 - q1) / med if med else 0.0
            print(f"{k:14s} {med:10.4g} {q1:10.4g} {q3:10.4g} {spread:7.3f} {bounds.get(k, 0):6.2f}")
    return 0


def _run(bench: dict, workload: str, seed: int) -> dict | None:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", "0",
    ]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    took = time.monotonic() - t0
    with open(os.path.join(ROOT, ".perfbench_work", "spread-logs", f"{workload}-{seed}.err"), "w") as fh:
        fh.write(proc.stderr)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
        return None
    res = json.loads(lines[-1])
    with open(os.path.join(ROOT, ".perfbench_work", f"spread-{workload}.jsonl"), "a") as fh:
        fh.write(json.dumps({"seed": seed, "run_s": took, **res}) + "\n")
    print(f"{workload} seed {seed}: {took:.0f} s, correct={res['correct']}, "
          + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    return res


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
