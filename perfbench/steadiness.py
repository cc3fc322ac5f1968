"""Run the benchmark on several seeds and record how steady it is.

    python3 perfbench/steadiness.py --out perfbench/steadiness/set1.json --seeds 1-10
    python3 perfbench/steadiness.py --compare perfbench/steadiness/set1.json perfbench/steadiness/set2.json

For each workload and end-to-end metric the record holds every run's
value, the quartiles from ``statistics.quantiles(values, n=4)``, the
spread (third minus first quartile) as a share of the median, and each
run's host steal share and contention flag.  ``--compare`` checks each
spread against the metric's bound in BENCHMARK.json and the second
set's median against the first's, within the same bound either way.
Runs are sequential: one engine at a time.
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


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} seed {seed} failed:\n{proc.stderr[-3000:]}")
    info, result = json.loads(lines[-2]), json.loads(lines[-1])
    return {"seed": seed, "wall_s": round(time.time() - t0, 1), "host": info["host"],
            "pass_cpu_s_each": info["pass_cpu_s"], "pass_jit_cpu_s_each": info["pass_jit_cpu_s"],
            "correct": result["correct"],
            "attempted": result["attempted"], "failed": result["failed"],
            "metrics": {k: v["value"] for k, v in result["metrics"].items()}}


def summarize(runs: list[dict], metrics: list[dict]) -> dict:
    out = {}
    for m in metrics:
        values = [r["metrics"][m["name"]] for r in runs]
        q1, q2, q3 = statistics.quantiles(values, n=4)
        out[m["name"]] = {"values": values, "q1": q1, "median": q2, "q3": q3,
                          "spread": (q3 - q1) / q2, "bound": m["bound"]}
    return out


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def compare(first_path: str, second_path: str) -> int:
    bounds = {m["name"]: m["bound"] for m in load_spec()["end_to_end"]}
    with open(first_path) as f:
        first = json.load(f)
    with open(second_path) as f:
        second = json.load(f)
    bad = 0
    for workload, metrics in first["summary"].items():
        for name, a in metrics.items():
            b, bound = second["summary"][workload][name], bounds[name]
            change = b["median"] / a["median"] - 1
            ok = abs(change) <= bound and max(a["spread"], b["spread"]) <= bound
            bad += not ok
            print(f"{workload:16} {name:12} median {a['median']:9.3f} -> {b['median']:9.3f}"
                  f" ({change:+.1%}, bound {bound:.0%}) spreads {a['spread']:.1%}"
                  f" / {b['spread']:.1%} {'ok' if ok else 'FAIL'}")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out")
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--compare", nargs=2)
    args = ap.parse_args()
    if args.compare:
        return compare(*args.compare)
    spec = load_spec()
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    record = {"run_seconds": spec["run_seconds"], "runs": {}, "summary": {}}
    for workload in workloads:
        runs = [run_once(workload, s, spec["run_seconds"]) for s in args.seeds]
        record["runs"][workload] = runs
        record["summary"][workload] = summarize(runs, spec["end_to_end"])
        for name, s in record["summary"][workload].items():
            print(f"{workload:16} {name:12} median {s['median']:9.3f} spread {s['spread']:.1%}"
                  f" (bound {s['bound']:.0%})", flush=True)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
