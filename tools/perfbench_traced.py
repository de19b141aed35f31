"""One traced benchmark JVM of a tree, and its operation spans: the part that
tools/perfbench_jfr.py and tools/perfbench_codegen.py share."""
import bisect
import json
import shutil
import subprocess
import sys
from pathlib import Path


def args(usage: str):
    """(tree, workload, seed) from `<tree> <workload> [seed]` (seed default 1)."""
    if len(sys.argv) not in (3, 4):
        raise SystemExit(usage)
    return Path(sys.argv[1]).resolve(), sys.argv[2], int(sys.argv[3]) if len(sys.argv) == 4 else 1


def run(tree: Path, workload: str, seed: int, tag: str, adjust):
    """Build <tree>'s library and benchmark (its perfbench/build.py) and run
    one traced benchmark JVM of <workload> (`--trace 1`, 8 s) with the
    benchmark's own command line (`java_cmd` in the tree's perfbench/run.py)
    as `adjust(cmd, work)` returns it. Returns (work dir, result, trace); the
    work dir is <tree>/.bench_work/<tag>-<workload>-<seed>/."""
    sys.path.insert(0, str(tree / "perfbench"))
    import run as bench  # the tree's perfbench/run.py

    bench.build.build()
    work = tree / ".bench_work" / f"{tag}-{workload}-{seed}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = bench.java_cmd(work, "run", "--workload", workload, "--seed", str(seed), "--seconds", "8",
                         "--trace", "1", "--work", str(work), "--out", str(work / "result.json"))
    subprocess.run(adjust(cmd, work), cwd=tree, stdout=sys.stderr, timeout=900, check=True)
    res = json.loads((work / "result.json").read_text())
    trace = json.loads((work / f"trace-{workload}-{seed}.json").read_text())
    shutil.rmtree(work / "spark-local", ignore_errors=True)
    shutil.rmtree(work / "tmp", ignore_errors=True)
    return work, res, trace


def op_spans(trace, clock=lambda ms: ms):
    """The top-level operation spans (`op.<kind>`, traced half only) as
    sorted (start, end, kind) with times mapped by `clock`, and a function
    from such a time to the kind of the span holding it (None outside)."""
    ops = sorted((clock(s["start_ms"]), clock(s["end_ms"]), s["name"][3:])
                 for s in trace["spans"] if s["parent"] == -1 and s["name"].startswith("op."))
    if not ops:
        raise SystemExit("the trace holds no operation spans")
    starts = [o[0] for o in ops]

    def op_at(t):
        i = bisect.bisect_right(starts, t) - 1
        return ops[i][2] if i >= 0 and t <= ops[i][1] else None

    return ops, op_at
