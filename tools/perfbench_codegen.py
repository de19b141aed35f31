#!/usr/bin/env python3
"""Generated-class compiles per operation of one traced benchmark run.

    python3 tools/perfbench_codegen.py <tree> <workload> [seed]

Builds <tree>'s library and benchmark (its perfbench/build.py), runs one
traced benchmark JVM of <workload> (`--trace 1`, 8 s, seed default 1) with a
log4j2 configuration that logs Spark's `CodeGenerator` at INFO, with
millisecond timestamps, to a file of its own, and prints:

- for every operation kind (`op.<kind>` spans, traced half only): spans,
  compiles and compile milliseconds per operation, and the jobs and SQL
  executions that start inside them;
- the compiles outside any traced operation (set-up and the untraced
  half), and the traced window's jobs and SQL executions per operation as
  the result file reports them (they include the workload's checks);
- the compiles per thread group (client and Spark driver threads against
  executor task threads).

Each `Code generated in <t> ms` line is one compile (Janino), on the driver
or in a task. The JVM command line is the benchmark's own (`java_cmd` in the
tree's perfbench/run.py) with the log4j2 configuration swapped; nothing
under perfbench/ changes. The log and the span trace stay in
<tree>/.bench_work/codegen-<workload>-<seed>/.
"""
import collections
import re
import sys

sys.dont_write_bytecode = True  # leave nothing beside the sources
import perfbench_traced  # noqa: E402  (after the flag above)

EXECUTOR_THREAD = "Executor task launch worker"
CODEGEN_LOGGER = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
COMPILE = re.compile(r"^(\d+) \[(.*)\] Code generated in ([\d.]+) ms")

LOG4J2 = """\
rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{{HH:mm:ss}} %p %c{{1}}: %m%n
appender.codegen.type = File
appender.codegen.name = codegen
appender.codegen.fileName = {log}
appender.codegen.layout.type = PatternLayout
appender.codegen.layout.pattern = %d{{UNIX_MILLIS}} [%t] %m%n
logger.codegen.name = {logger}
logger.codegen.level = info
logger.codegen.additivity = false
logger.codegen.appenderRef.codegen.ref = codegen
"""


def main() -> None:
    tree, workload, seed = perfbench_traced.args(__doc__)

    def log_codegen(cmd, work):
        conf = work / "log4j2.properties"
        conf.write_text(LOG4J2.format(log=work / "codegen.log", logger=CODEGEN_LOGGER))
        swapped = [i for i, a in enumerate(cmd) if a.startswith("-Dlog4j2.configurationFile=")]
        if len(swapped) != 1:
            raise SystemExit("the benchmark's java_cmd sets no single log4j2 configuration to swap")
        cmd[swapped[0]] = f"-Dlog4j2.configurationFile=file:{conf}"
        return cmd

    work, res, trace = perfbench_traced.run(tree, workload, seed, "codegen", log_codegen)
    ops, op_at = perfbench_traced.op_spans(trace)

    n_ops = collections.Counter(o[2] for o in ops)
    compiles, ms = collections.Counter(), collections.Counter()
    by_thread = collections.Counter()
    for line in (work / "codegen.log").read_text().splitlines():
        m = COMPILE.match(line)
        if not m:
            continue
        kind = op_at(int(m.group(1)))
        compiles[kind] += 1
        ms[kind] += float(m.group(3))
        executor = m.group(2).startswith(EXECUTOR_THREAD)
        by_thread[(kind is not None, "executor" if executor else "driver")] += 1
    jobs = collections.Counter(op_at(j["start_ms"]) for j in trace["jobs"])
    execs = collections.Counter(op_at(e["start_ms"]) for e in trace["sql_executions"])

    print(f"== {workload} seed={seed} tree={tree}: {len(ops)} traced operations, "
          f"failed {res['failed']}/{res['attempted']}")
    print("compiles (CodeGenerator) per operation span")
    print(f"  {'kind':20s} {'ops':>5s} {'compiles':>9s} {'per op':>8s} {'ms per op':>10s} "
          f"{'jobs/op':>8s} {'sql/op':>7s}")
    for kind in sorted(n_ops):
        n = n_ops[kind]
        print(f"  {kind:20s} {n:5d} {compiles[kind]:9d} {compiles[kind] / n:8.1f} {ms[kind] / n:10.1f} "
              f"{jobs[kind] / n:8.1f} {execs[kind] / n:7.1f}")
    print(f"outside traced ops: {compiles[None]} compiles, {ms[None]:.0f} ms")
    layer = res["per_layer"]
    print(f"traced window per operation (result.json): l3_exec.jobs={layer['l3_exec.jobs']:.1f} "
          f"l2_plan.sql_execs={layer['l2_plan.sql_execs']:.1f}")
    print("compiles by thread: " + ", ".join(
        f"{where} {side}={by_thread[(inside, side)]}"
        for inside, where in ((True, "traced ops"), (False, "outside"))
        for side in ("driver", "executor")))


if __name__ == "__main__":
    main()
