"""Steadiness record: runs every workload of BENCHMARK.json once per seed
with the benchmark's own command, and writes STEADINESS.json with each
end-to-end metric's values, median and spread (distance between the first
and third quartile, as `statistics.quantiles(values, n=4)` gives them,
divided by the median).

    python3 perfbench/steadiness.py --runs 10 [--first-seed 1000]
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--workload", action="append", help="limit to these workloads")
    ap.add_argument("--out", default=str(BENCH / "STEADINESS.json"))
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    record = {"run_seconds": spec["run_seconds"], "runs": a.runs, "workloads": {}}
    for w in a.workload or [x["name"] for x in spec["workloads"]]:
        rows = []
        for i in range(a.runs):
            seed = a.first_seed + i
            t0 = time.monotonic()
            p = subprocess.run(spec["command"] + ["--workload", w, "--seed", str(seed), "--seconds",
                                                  str(spec["run_seconds"]), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            wall = time.monotonic() - t0
            if p.returncode != 0:
                sys.exit(f"{w} seed {seed} failed ({p.returncode}):\n{p.stderr[-3000:]}")
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            steal = next((float(l.split()[3]) for l in lines if l.startswith("metric host_steal_share ")), None)
            rows.append({"seed": seed, "wall_s": round(wall, 1), "host_steal_share": steal, "correct": res["correct"],
                         "attempted": res["attempted"], "failed": res["failed"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
            print(f"{w} seed={seed} wall={wall:.0f}s steal={steal} correct={res['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        summary = {}
        for m in rows[0]["metrics"]:
            vals = [r["metrics"][m] for r in rows]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            summary[m] = {"median": med, "q1": q1, "q3": q3, "spread": round(spread, 4),
                          "bound": bounds.get(m), "within_third_of_bound": spread < bounds.get(m, 0) / 3}
            print(f"{w} {m}: median={med:.4g} spread={spread:.3f} bound={bounds.get(m)}", flush=True)
        record["workloads"][w] = {"runs": rows, "summary": summary}
    Path(a.out).write_text(json.dumps(record, indent=1) + "\n")


if __name__ == "__main__":
    main()
