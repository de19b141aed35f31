"""Workload benchmark of the metadata pipeline.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --all [--seed N] [--seconds S] [--trace 0|1]

Builds the library and the benchmark from source (perfbench/build.py), runs
one benchmark JVM on local[nproc] with one client in a closed loop, checks
every output, prints the figures by name with their units, and ends with
one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end set, with --trace 1 the per-layer
set. `--all` runs every workload in turn and prints each one's figures.
"""
import argparse
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.dont_write_bytecode = True  # leave nothing beside the sources
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402

WORKLOADS = ["anime_metadata", "corpus_dedup", "metadata_table", "stream_ingest"]

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "rows/s", "peak_rss_mb": "MB"}

PER_LAYER = {
    "setup.session_s": "s", "setup.generate_s": "s", "setup.warmup_s": "s",
    "l1_driver.s": "s", "l2_plan.s": "s", "l2_plan.sql_execs": "count",
    "l3_exec.s": "s", "l3_exec.jobs": "count", "l3_exec.stages": "count", "l3_exec.tasks": "count",
    "l3_exec.task_s": "s", "l3_exec.task_cpu_s": "s", "l3_exec.gc_s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes", "shuffle.spill_bytes": "bytes",
    "shuffle.exchanges": "count",
    "scan.input_bytes": "bytes", "scan.input_rows": "rows", "sink.output_bytes": "bytes", "sink.files": "count",
    **{f"pipeline.{s}_s": "s" for s in ["parseSidecar", "assignBuckets", "aestheticFilter", "orderTags",
                                         "finalMetadata", "finalTrainMerge", "exactDedup", "nearDedup",
                                         "qualityFilter", "sample", "pack"]},
    **{f"table.{k}_s": "s" for k in ["upsert", "upsert_mor", "append", "delete", "read_for_keys",
                                      "connector_lookup", "read", "read_version", "compact", "vacuum"]},
    "table.jobs_per_commit": "count", "table.files_added_per_commit": "count",
    "table.bytes_written_per_commit": "bytes", "table.manifest_bytes": "bytes",
    "table.mor_layers_at_read": "count", "table.lookup_bytes_frac": "ratio", "table.lookup_hit_frac": "ratio",
    **{f"streaming.{k}_s": "s" for k in ["addBatch", "walCommit", "commitOffsets", "queryPlanning",
                                          "latestOffset"]},
    "streaming.batches": "count", "streaming.rows": "rows",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB", "trace.overhead_s": "s",
}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

# A fixed, pre-touched heap: peak RSS then moves with native memory
# (threads, code cache, metaspace, direct buffers), not with heap sizing.
HEAP = "2g"


def java_cmd(work: Path, *args) -> list:
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
             f"-Dlog4j2.configurationFile=file:{BENCH / 'log4j2.properties'}"] + opens +
            ["-cp", build.classpath(), "perfbench.Main"] + list(args))


def run_java(work: Path, args: list, deadline: float) -> None:
    """Run the benchmark JVM; kill it (and wait) at the deadline."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    p = subprocess.Popen(java_cmd(work, *args), cwd=ROOT, stdout=sys.stderr)
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit("benchmark JVM ran past its deadline")
    if rc != 0:
        raise SystemExit(f"benchmark JVM failed ({rc})")


def run_one(workload: str, seed: int, seconds: int, trace: bool, deadline: float) -> dict:
    work = ROOT / ".bench_work" / f"{workload}-{seed}-{int(trace)}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = work / "result.json"
    run_java(work, ["run", "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                    "--trace", "1" if trace else "0", "--work", str(work), "--out", str(out)], deadline)
    res = json.loads(out.read_text())
    if workload == "anime_metadata":
        import oracle
        rep = work / f"rep{len(res['setup_reps'])}"
        ok, msg = oracle.check(str(rep / "input"), str(rep / "out" / "*.parquet"),
                               int(res["inputs"]["legacy_cut"]))
        print(f"oracle: {'PASS' if ok else 'FAIL'} {msg}")
        if not ok:
            # every job wrote the same output as the last one (checked in
            # the JVM), so a wrong final output makes every job wrong
            res["failures"].append(f"job: DuckDB oracle: {msg}")
            res["failed"] = res["attempted"]
            res["end_to_end"]["failed_frac"]["value"] = 1.0
    shutil.rmtree(work / "spark-local", ignore_errors=True)
    shutil.rmtree(work / "tmp", ignore_errors=True)
    return res


def report(res: dict) -> None:
    print(f"== {res['workload']} seed={res['seed']} trace={int(res['trace'])} "
          f"local[{res['cpus']}] clients={res['clients']} loop={res['loop']} steps={res['steps']}")
    for k, v in res["inputs"].items():
        print(f"input {k} = {v}")
    for k, v in sorted(res["ops_by_kind"].items()):
        print(f"op {k}: n={v['n']} p50={v['p50_s']:.4f} s")
    for k, v in res["end_to_end"].items():
        print(f"metric {k} = {v['value']:.6g} {v['unit']}")
    for k, v in res["per_layer"].items():
        print(f"layer {k} = {v:.6g} {PER_LAYER.get(k, '')}")
    for f in res["failures"]:
        print(f"failure {f}")


def result_line(res: dict, trace: bool) -> str:
    if trace:
        # a layer the workload never calls reads 0
        metrics = {k: {"value": res["per_layer"].get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": res["end_to_end"][k]["value"], "unit": u} for k, u in END_TO_END.items()}
    return json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                       "failed": res["failed"], "metrics": metrics})


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not a.all and not a.workload:
        ap.error("give --workload NAME or --all")
    start = time.monotonic()
    built_before = (build.build_dir() / "stamp").is_file()
    build.build()
    # a run ends within 180 s; the one that had to build gets 900 s
    deadline = start + (170 if built_before else 880)
    if a.all:
        for w in WORKLOADS:
            res = run_one(w, a.seed, a.seconds, bool(a.trace), time.monotonic() + 170)
            report(res)
        return
    res = run_one(a.workload, a.seed, a.seconds, bool(a.trace), deadline)
    report(res)
    print(result_line(res, bool(a.trace)))


if __name__ == "__main__":
    main()
