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
- the top frames of `jdk.ExecutionSample` during the traced half, on
  executor task threads and on the client threads (`main`, which drives
  the workload, and each `stream execution thread`, which plans and
  commits micro-batches).

The JVM command line is the benchmark's own (`java_cmd` in the tree's
perfbench/run.py) plus the recording flag. The recording and the span trace
stay in <tree>/.bench_work/jfr-<workload>-<seed>/.
"""
import collections
import os
import re
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave nothing beside the sources
import perfbench_traced  # noqa: E402  (after the flag above)

DAY_MS = 86400000
THREAD_GROUPS = (("executor", ('"Executor task launch worker',)),
                 ("client", ('"main"', '"stream execution thread')))
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
    tree, workload, seed = perfbench_traced.args(__doc__)

    def record(cmd, work):
        cmd.insert(1, f"-XX:StartFlightRecording=filename={work / 'rec.jfr'},settings=profile")
        return cmd

    work, res, trace = perfbench_traced.run(tree, workload, seed, "jfr", record)
    rec = work / "rec.jfr"
    ops, op_at = perfbench_traced.op_spans(trace, lambda ms: ms % DAY_MS)
    lo, hi = ops[0][0], max(o[1] for o in ops)

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

    frames = {group: collections.Counter() for group, _ in THREAD_GROUPS}
    for t, f in jfr_events(rec, "jdk.ExecutionSample"):
        if not (lo <= t <= hi or hi < lo):
            continue
        thread = f.get("sampledThread", "")
        for group, prefixes in THREAD_GROUPS:
            if thread.startswith(prefixes):
                frames[group][re.sub(r"\s+line: \d+$", "", f["frame"])] += 1
    for group, _ in THREAD_GROUPS:
        total = sum(frames[group].values())
        print(f"top {group}-thread frames (jdk.ExecutionSample, traced half, {total} samples)")
        for frame, n in frames[group].most_common(TOP_FRAMES):
            print(f"  {100.0 * n / total:5.1f}%  {frame}")


if __name__ == "__main__":
    main()
