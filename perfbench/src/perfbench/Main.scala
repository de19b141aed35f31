package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM. Modes:
  *
  *   run --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  *       set up several times (fresh session, seeded inputs, warm-up), run
  *       one client in a closed loop for S timed seconds, check every
  *       output, and write all figures to FILE as JSON;
  *   gen --workload W --seed N --dir DIR
  *       write only the seeded inputs (the determinism self-test);
  *   selftest --dir DIR
  *       feed each in-process check a correct and an injected wrong answer.
  */
object Main {
  val SetupReps = 3
  /** A measured loop runs at least this many operations. */
  val MinOps = 4

  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def opts(args: Seq[String]): Map[String, String] =
    args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run") => run(opts(args.toSeq.tail))
    case Some("gen") =>
      val o = opts(args.toSeq.tail)
      val dir = Paths.get(o("dir"))
      // generation needs no Spark session: the workload only writes files
      Workload(o("workload"), null, o("seed").toLong, dir).generate()
        .foreach { case (k, v) => println(s"$k=$v") }
    case Some("selftest") => sys.exit(SelfTest.run(opts(args.toSeq.tail)("dir")))
    case _ =>
      System.err.println("usage: perfbench.Main run|gen|selftest [--key value ...]")
      sys.exit(2)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x)) finally s.close()
  }

  def run(o: Map[String, String]): Unit = {
    val name = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o.getOrElse("trace", "0") == "1"
    val work = Paths.get(o("work")).toAbsolutePath
    val outFile = Paths.get(o("out"))
    require(Workload.Names.contains(name), s"unknown workload $name (${Workload.Names.mkString(", ")})")
    Trace.runId = s"$name-$seed-${if (trace) "traced" else "untraced"}"

    // ---- set-up, several times; the last one's state is measured
    val setups = mutable.ArrayBuffer[(Double, Double, Double)]()
    val ops = mutable.ArrayBuffer[Op]()
    var spark: SparkSession = null
    var wl: Workload = null
    var info: Seq[(String, Any)] = Nil
    for (rep <- 1 to SetupReps) {
      if (spark != null) { spark.stop(); deleteTree(work.resolve(s"rep${rep - 1}")) }
      val dir = work.resolve(s"rep$rep")
      deleteTree(dir)
      val t0 = System.nanoTime()
      spark = session(work)
      val t1 = System.nanoTime()
      wl = Workload(name, spark, seed, dir)
      info = wl.generate()
      val t2 = System.nanoTime()
      wl.prepare()
      ops ++= wl.warmup() // checked like any other operation
      val t3 = System.nanoTime()
      setups += (((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9))
    }
    val warmOps = ops.size

    // ---- closed loop, one client; only the op calls are timed
    def loop(budget: Double, minOps: Int): Seq[Seq[Op]] = {
      val steps = mutable.ArrayBuffer[Seq[Op]]()
      var timedSum = 0.0
      val wall0 = System.nanoTime()
      while ((timedSum < budget || steps.map(_.size).sum < minOps) && (System.nanoTime() - wall0) / 1e9 < 3 * budget + 30) {
        val st = wl.step()
        steps += st
        timedSum += st.map(_.seconds).sum
      }
      steps.toSeq
    }

    val gc0 = Jvm.gcMs
    val steal0 = Jvm.cpuSteal
    val cpu0 = Jvm.processCpuNs
    Jvm.resetHeapPeak()
    var probes: Probes = null
    var tableAtTrace = (0L, 0L, 0)
    wl.loopStarts()
    val (steps, traced) = if (!trace) {
      (loop(seconds, MinOps), Seq.empty[Seq[Op]])
    } else {
      // untraced half first, then the same loop traced: the difference of
      // their medians is the tracing overhead
      val plain = loop(seconds / 2, MinOps / 2)
      probes = new Probes(spark)
      Probes.active = Some(probes)
      wl.loopStarts()
      tableAtTrace = tableCounters(wl)
      probes.start()
      Trace.on = true
      val tr = loop(seconds / 2, MinOps / 2)
      Trace.on = false
      probes.stop()
      Probes.active = None
      (plain, tr)
    }
    val all = steps ++ traced
    all.foreach(ops ++= _)
    ops ++= wl.finish()
    val gcS = (Jvm.gcMs - gc0) / 1e3
    val steal1 = Jvm.cpuSteal
    val cpuNs = Jvm.processCpuNs - cpu0
    val heapPeak = Jvm.heapPeakMb

    val opSec = all.flatten.map(_.seconds)
    val timedRows = all.flatten.map(_.rows).sum
    val failed = ops.filterNot(_.ok)
    val setupTot = setups.map { case (a, b, c) => a + b + c }
    val e2e = mutable.ArrayBuffer[(String, Double, String)](
      ("setup_s", Stats.median(setupTot.toSeq), "s"),
      ("op_p50_s", Stats.median(opSec), "s"),
      ("rows_per_s", timedRows / opSec.sum, "rows/s"),
      ("failed_frac", failed.size.toDouble / ops.size, "ratio"))
    e2e ++= wl.figures(all.flatten)
    Stats.tail(opSec).foreach { case (p, v, n) =>
      e2e += (("op_tail_s", v, "s")); e2e += (("op_tail_percentile", p, "pct")); e2e += (("op_tail_n", n.toDouble, "count"))
    }

    val layers = mutable.LinkedHashMap[String, Double]()
    if (trace) {
      val medTraced = Stats.median(traced.flatten.map(_.seconds))
      val medPlain = Stats.median(steps.flatten.map(_.seconds))
      layers ++= traceLayers(wl, traced.flatten, probes, medTraced - medPlain, tableAtTrace)
      layers("setup.session_s") = Stats.median(setups.map(_._1).toSeq)
      layers("setup.generate_s") = Stats.median(setups.map(_._2).toSeq)
      layers("setup.warmup_s") = Stats.median(setups.map(_._3).toSeq)
      layers("jvm.gc_s") = gcS
      layers("jvm.heap_peak_mb") = heapPeak
      probes.detach()
      writeTrace(work.resolve(s"trace-$name-$seed.json"), probes)
    }
    e2e += (("peak_rss_mb", Jvm.peakRssMb, "MB"))
    e2e += (("cpu_per_op_s", cpuNs / 1e9 / math.max(1, opSec.size), "s"))
    // CPU time the hypervisor gave to others while the loop ran: context
    // for a slow run, not a figure of the program
    e2e += (("host_steal_share", (steal1._1 - steal0._1).toDouble / math.max(1L, steal1._2 - steal0._2), "ratio"))

    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "trace" -> trace,
      "cpus" -> Runtime.getRuntime.availableProcessors(),
      "clients" -> 1, "loop" -> "closed",
      "setup_reps" -> setups.map { case (a, b, c) => Map("session_s" -> a, "generate_s" -> b, "warmup_s" -> c) },
      "inputs" -> info.toMap,
      "warmup_ops" -> warmOps, "steps" -> all.size,
      "op_seconds" -> opSec,
      "ops_by_kind" -> ops.groupBy(_.kind).map { case (k, v) =>
        k -> Map("n" -> v.size, "p50_s" -> Stats.median(v.map(_.seconds).toSeq)) },
      "attempted" -> ops.size, "failed" -> failed.size,
      "failures" -> failed.take(5).map(f => s"${f.kind}: ${f.note}"),
      "end_to_end" -> e2e.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "per_layer" -> layers)
    Files.write(outFile, Json(res).getBytes(UTF_8))
    spark.stop()
  }

  /** (files added, bytes written, commits) under the table root so far. */
  private def tableCounters(wl: Workload): (Long, Long, Int) = wl match {
    case t: TableBase => (t.filesAdded, t.writtenBytes, t.commits)
    case _ => (0L, 0L, 0)
  }

  /** Per-layer figures of the traced window, per operation. `table0` is
    * [[tableCounters]] at the window's start. */
  def traceLayers(wl: Workload, ops: Seq[Op], p: Probes, overhead: Double,
      table0: (Long, Long, Int)): Map[String, Double] = {
    val stepSpans = Trace.spans.filter(s => s.name.startsWith("op.") && s.parent == -1)
    val nOps = math.max(1, stepSpans.size).toDouble
    val (l1, l2, l3) = p.layers(stepSpans.map(s => (s.startMs, s.endMs)).toSeq)
    val st = p.prof.stages.values
    // spans that commit to the table: the table calls, or a stream drain
    val commitNames = Seq("table.upsert", "table.upsert_mor", "table.append", "table.delete", "streaming.drain")
    val commitSpans = Trace.spans.filter(s => commitNames.contains(s.name))
    val jobsInCommits = p.prof.jobs.values.count(j =>
      commitSpans.exists(s => j.start >= s.startMs && j.start <= s.endMs))
    val (files1, bytes1, commits1) = tableCounters(wl)
    val files = (files1 - table0._1).toDouble
    val windowCommits = math.max(1, commits1 - table0._3).toDouble
    val m = mutable.LinkedHashMap[String, Double](
      "l1_driver.s" -> l1 / nOps, "l2_plan.s" -> l2 / nOps,
      "l2_plan.sql_execs" -> p.prof.execs.size / nOps,
      "l3_exec.s" -> l3 / nOps, "l3_exec.jobs" -> p.prof.jobs.size / nOps,
      "l3_exec.stages" -> st.size / nOps, "l3_exec.tasks" -> st.map(_.tasks).sum / nOps,
      "l3_exec.task_s" -> st.map(_.taskMs).sum / 1e3 / nOps,
      "l3_exec.task_cpu_s" -> p.tasks.cpuNs / 1e9 / nOps,
      "l3_exec.gc_s" -> p.tasks.gcMs / 1e3 / nOps,
      "shuffle.write_bytes" -> st.map(_.shufWriteB).sum / nOps,
      "shuffle.read_bytes" -> st.map(_.shufReadB).sum / nOps,
      "shuffle.spill_bytes" -> p.tasks.spill / nOps,
      "shuffle.exchanges" -> p.xchg.exchanges / nOps,
      "scan.input_bytes" -> st.map(_.inputB).sum / nOps,
      "scan.input_rows" -> p.tasks.inputRows / nOps,
      "sink.output_bytes" -> p.tasks.outBytes / nOps,
      "sink.files" -> files / nOps)
    for (k <- Seq("upsert", "upsert_mor", "append", "delete", "read_for_keys", "connector_lookup",
        "read", "read_version", "compact", "vacuum"))
      m(s"table.${k}_s") = Trace.mean(s"table.$k")
    m("table.jobs_per_commit") = jobsInCommits / windowCommits
    m("table.files_added_per_commit") = files / windowCommits
    m("table.bytes_written_per_commit") = (bytes1 - table0._2) / windowCommits
    m ++= wl.layerFigures(ops, p)
    m ++= wl.stageSeconds()
    m("trace.overhead_s") = overhead
    m.toMap
  }

  def writeTrace(path: Path, p: Probes): Unit = {
    val spans = Trace.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "run_id" -> s.runId, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "seconds" -> s.seconds, "self_s" -> Trace.selfSeconds(s)))
    val jobs = p.prof.jobs.values.map(j => Map("id" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end, "desc" -> j.desc))
    val execs = p.prof.execs.map { case (id, (s, e)) => Map("id" -> id, "start_ms" -> s, "end_ms" -> e) }
    Files.write(path, Json(Map("spans" -> spans, "jobs" -> jobs, "sql_executions" -> execs)).getBytes(UTF_8))
  }
}
