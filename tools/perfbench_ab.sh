#!/bin/bash
# Same-window A/B of two checkouts on one perfbench workload.
#   tools/perfbench_ab.sh <treeA> <treeB> <workload> <runs>
# Runs `python3 perfbench/run.py` of tree A and tree B alternately (pair i
# uses seed FIRST_SEED+i for both; odd pairs run B first), so host CPU
# steal — which swings single runs by 5-15% — lands on both sides alike.
# Prints every metric's median for A and B, the B/A change, and each
# side's median host_steal_share; then, for rows_per_s and op_p50_s, each
# side's median and quartiles, the pairs B won (ties count for neither)
# and whether B's gain passes the claim rule: B wins at least 9/10 of the
# pairs and the medians differ by more than A's q3-q1. Then, from each run's
# `op <kind>: n=… p50=…` lines, the A and B medians of every operation
# kind's p50; and each side's `steps=` values (workload cycles per run) in
# seed order, with a warning naming every pair whose two runs ran a
# different number of cycles: a second, warm cycle lowers every median, so
# such a pair compares cycle counts, not code. Env: FIRST_SEED (default 1200),
# SECONDS_PER_RUN (default 8), TRACE (0 = end-to-end metrics, 1 = per
# layer; default 0), OUT_DIR (keeps every run's output; default a temp
# dir). Each tree builds itself on its first run. Each run's work dir
# (<tree>/.bench_work/<workload>-<seed>-<trace>) is deleted once its output
# is saved, because kept run dirs slow later runs of the tree that holds
# them: an A/A read of op_p50_s moved -22% with ~550 MB kept on one side.
# Both trees' .bench_work/ sizes are printed before the first pair and after
# the last.
set -euo pipefail
if [ $# -ne 4 ]; then
  echo "usage: $0 <treeA> <treeB> <workload> <runs>" >&2
  exit 2
fi
A="$(cd "$1" && pwd)"; B="$(cd "$2" && pwd)"; W="$3"; RUNS="$4"
SEED0="${FIRST_SEED:-1200}"; SECS="${SECONDS_PER_RUN:-8}"; TRACE="${TRACE:-0}"
OUT="${OUT_DIR:-$(mktemp -d -t perfbench_ab.XXXXXX)}"
mkdir -p "$OUT"

run() { # <tag> <tree> <seed>
  local f="$OUT/$1.$3.txt"
  (cd "$2" && python3 perfbench/run.py --workload "$W" --seed "$3" \
    --seconds "$SECS" --trace "$TRACE") > "$f" 2> "$f.err" || {
    echo "run $1 seed $3 failed; see $f.err" >&2; exit 1; }
  rm -rf "$2/.bench_work/$W-$3-$TRACE"
  echo "$1 seed=$3 $(grep -E '^metric (rows_per_s|op_p50_s|host_steal_share) ' "$f" | awk '{printf "%s=%s ", $2, $4}')"
}

work_sizes() { # <when>
  local a b
  a="$(du -sh "$A/.bench_work" 2>/dev/null | cut -f1 || true)"
  b="$(du -sh "$B/.bench_work" 2>/dev/null | cut -f1 || true)"
  echo "$1: .bench_work A ${a:-absent} B ${b:-absent}"
}

work_sizes "before the first pair"
for ((i = 0; i < RUNS; i++)); do
  s=$((SEED0 + i))
  if ((i % 2 == 0)); then run A "$A" "$s"; run B "$B" "$s"
  else run B "$B" "$s"; run A "$A" "$s"; fi
done
work_sizes "after the last pair"

python3 - "$OUT" <<'EOF'
import glob, statistics, sys
out = sys.argv[1]
vals = {"A": {}, "B": {}}
for side in vals:
    for f in sorted(glob.glob(f"{out}/{side}.*.txt")):
        for line in open(f):
            p = line.split()
            if len(p) >= 4 and p[0] in ("metric", "layer") and p[2] == "=":
                vals[side].setdefault(p[1], []).append(float(p[3]))
names = [n for n in vals["A"] if n in vals["B"]]
print(f"{'metric':34s} {'median A':>14s} {'median B':>14s} {'B/A-1':>8s}   n")
for n in names:
    a, b = statistics.median(vals["A"][n]), statistics.median(vals["B"][n])
    ch = f"{(b / a - 1) * 100:+.1f}%" if a else "n/a"
    print(f"{n:34s} {a:14.6g} {b:14.6g} {ch:>8s}   {len(vals['A'][n])}/{len(vals['B'][n])}")

# the same seed runs once per side, so a seed names a pair
pairs = {"A": {}, "B": {}}
for side in pairs:
    for f in glob.glob(f"{out}/{side}.*.txt"):
        seed = f.rsplit(".", 2)[-2]
        for line in open(f):
            p = line.split()
            if len(p) >= 4 and p[0] == "metric" and p[2] == "=":
                pairs[side].setdefault(p[1], {})[seed] = float(p[3])
print()
print(f"{'claim metric':12s} {'A median [q1-q3]':>28s} {'B median [q1-q3]':>28s} {'B won':>7s}  rule")
for n, higher in (("rows_per_s", True), ("op_p50_s", False)):
    a, b = pairs["A"].get(n, {}), pairs["B"].get(n, {})
    seeds = sorted(set(a) & set(b))
    if len(seeds) < 2:
        continue
    def mq(xs):
        q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        return statistics.median(xs), q1, q3
    (ma, qa1, qa3), (mb, qb1, qb3) = mq([a[s] for s in seeds]), mq([b[s] for s in seeds])
    won = sum(1 for s in seeds if (b[s] > a[s] if higher else b[s] < a[s]))
    gain = (mb - ma) if higher else (ma - mb)
    met = won * 10 >= 9 * len(seeds) and gain > qa3 - qa1
    print(f"{n:12s} {f'{ma:.4g} [{qa1:.4g}-{qa3:.4g}]':>28s} {f'{mb:.4g} [{qb1:.4g}-{qb3:.4g}]':>28s} "
          f"{f'{won}/{len(seeds)}':>7s}  {'met' if met else 'not met'}")

# per operation kind: the median over runs of each run's p50
kinds = {"A": {}, "B": {}}
steps = {"A": {}, "B": {}}
for side in kinds:
    for f in glob.glob(f"{out}/{side}.*.txt"):
        seed = f.rsplit(".", 2)[-2]
        for line in open(f):
            p = line.split()
            if len(p) >= 4 and p[0] == "op" and p[1].endswith(":") and p[3].startswith("p50="):
                kinds[side].setdefault(p[1][:-1], []).append(float(p[3][4:]))
            elif line.startswith("== "):
                for w in p:
                    if w.startswith("steps="):
                        steps[side][seed] = int(w[6:])
print()
print(f"{'op kind p50 (s)':34s} {'median A':>14s} {'median B':>14s} {'B/A-1':>8s}   n")
for k in sorted(set(kinds["A"]) & set(kinds["B"])):
    a, b = statistics.median(kinds["A"][k]), statistics.median(kinds["B"][k])
    ch = f"{(b / a - 1) * 100:+.1f}%" if a else "n/a"
    print(f"{k:34s} {a:14.6g} {b:14.6g} {ch:>8s}   {len(kinds['A'][k])}/{len(kinds['B'][k])}")
print()
for side in steps:
    print(f"steps {side}: {[steps[side][s] for s in sorted(steps[side])]}")
odd = [s for s in sorted(set(steps["A"]) & set(steps["B"]))
       if steps["A"][s] != steps["B"][s]]
if odd:
    print(f"WARNING: cycle counts differ in {len(odd)} pair(s): " +
          ", ".join(f"seed {s} A={steps['A'][s]} B={steps['B'][s]}" for s in odd) +
          "; those pairs compare cycle counts, not code")
print(f"runs kept in {out}")
EOF
