#!/usr/bin/env python3
"""Process spawns and executor hot frames of one traced benchmark run.

    python3 tools/perfbench_jfr.py <tree> <workload> [seed]

Builds <tree>'s library and benchmark (its perfbench/build.py), runs one
traced benchmark JVM of <workload> (`--trace 1`, 8 s, seed default 1) under
Java Flight Recorder with the `profile` settings, and prints:

- the `jdk.ProcessStart` events inside each top-level operation span
  (`op.<kind>`, traced half only): spans, spawns and spawns per operation
  for every kind, and the spawns outside any traced operation (set-up and
  the untraced half);
- the spawned commands by name;
- the top frames of `jdk.ExecutionSample` on executor task threads during
  the traced half.

The JVM command line is the benchmark's own (`java_cmd` in the tree's
perfbench/run.py) plus the recording flag. The recording and the span trace
stay in <tree>/.bench_work/jfr-<workload>-<seed>/.
"""
import bisect
import collections
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave nothing beside the tree's sources

DAY_MS = 86400000
EXECUTOR_THREAD = "Executor task launch worker"
TOP_FRAMES = 15


def jfr_events(rec: Path, event: str):
    """(time of day in UTC millis, fields) per event, from `jfr print`.
    `fields` maps each `key = value` line to its value; `frame` is the
    first stack frame."""
    out = subprocess.run(["jfr", "print", "--events", event, "--stack-depth", "1", str(rec)],
                         env={**os.environ, "TZ": "UTC"}, capture_output=True, text=True, check=True).stdout
    for block in out.split(f"{event} {{")[1:]:
        m = re.search(r"startTime = (\d\d):(\d\d):(\d\d)\.(\d{3})", block)
        if not m:
            continue
        h, mi, s, ms = map(int, m.groups())
        fields = dict(re.findall(r"^\s+(\w+) = (.*)$", block, re.M))
        frame = re.search(r"stackTrace = \[\n\s+(.*)\n", block)
        fields["frame"] = frame.group(1) if frame else "?"
        yield ((h * 60 + mi) * 60 + s) * 1000 + ms, fields


def main() -> None:
    if len(sys.argv) not in (3, 4):
        raise SystemExit(__doc__)
    tree = Path(sys.argv[1]).resolve()
    workload = sys.argv[2]
    seed = int(sys.argv[3]) if len(sys.argv) == 4 else 1
    sys.path.insert(0, str(tree / "perfbench"))
    import run as bench  # the tree's perfbench/run.py

    bench.build.build()
    work = tree / ".bench_work" / f"jfr-{workload}-{seed}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    rec = work / "rec.jfr"
    cmd = bench.java_cmd(work, "run", "--workload", workload, "--seed", str(seed), "--seconds", "8",
                         "--trace", "1", "--work", str(work), "--out", str(work / "result.json"))
    cmd.insert(1, f"-XX:StartFlightRecording=filename={rec},settings=profile")
    subprocess.run(cmd, cwd=tree, stdout=sys.stderr, timeout=900, check=True)
    res = json.loads((work / "result.json").read_text())
    trace = json.loads((work / f"trace-{workload}-{seed}.json").read_text())
    shutil.rmtree(work / "spark-local", ignore_errors=True)
    shutil.rmtree(work / "tmp", ignore_errors=True)

    ops = sorted((s["start_ms"] % DAY_MS, s["end_ms"] % DAY_MS, s["name"][3:])
                 for s in trace["spans"] if s["parent"] == -1 and s["name"].startswith("op."))
    if not ops:
        raise SystemExit("the trace holds no operation spans")
    starts = [o[0] for o in ops]
    lo, hi = ops[0][0], max(o[1] for o in ops)

    def op_at(t):
        i = bisect.bisect_right(starts, t) - 1
        return ops[i][2] if i >= 0 and t <= ops[i][1] else None

    n_ops = collections.Counter(o[2] for o in ops)
    spawns = collections.Counter()
    commands = collections.Counter()
    for t, f in jfr_events(rec, "jdk.ProcessStart"):
        spawns[op_at(t)] += 1
        commands[f.get("command", '"?"').strip('"').split(" ")[0]] += 1

    print(f"== {workload} seed={seed} tree={tree}: {len(ops)} traced operations, "
          f"failed {res['failed']}/{res['attempted']}")
    print("spawns (jdk.ProcessStart) per operation span")
    print(f"  {'kind':20s} {'ops':>5s} {'spawns':>7s} {'per op':>8s}")
    for kind in sorted(n_ops):
        print(f"  {kind:20s} {n_ops[kind]:5d} {spawns[kind]:7d} {spawns[kind] / n_ops[kind]:8.1f}")
    print(f"  {'all traced ops':20s} {len(ops):5d} {sum(spawns[k] for k in n_ops):7d}")
    print(f"  {'outside traced ops':20s} {'':5s} {spawns[None]:7d}")
    print("spawned commands: " + (", ".join(f"{c}={n}" for c, n in commands.most_common()) or "none"))

    frames = collections.Counter()
    for t, f in jfr_events(rec, "jdk.ExecutionSample"):
        if f.get("sampledThread", "").startswith(f'"{EXECUTOR_THREAD}') and (lo <= t <= hi or hi < lo):
            frames[re.sub(r"\s+line: \d+$", "", f["frame"])] += 1
    total = sum(frames.values())
    print(f"top executor-thread frames (jdk.ExecutionSample, traced half, {total} samples)")
    for frame, n in frames.most_common(TOP_FRAMES):
        print(f"  {100.0 * n / total:5.1f}%  {frame}")


if __name__ == "__main__":
    main()
