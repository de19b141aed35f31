package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.FileScan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SnapshotTable
import graft.sources.SnapshotTable.{ColStats, Snapshot}

/** Write-time commit statistics: every commit records its dirs'
  * `stats=` bounds, `rows=` counts and `.bloom` sidecars from the
  * accumulators its own write tasks fill. This spec holds them, for
  * every commit kind, to an independent READ-BACK oracle — one Catalyst
  * aggregation (`count`, `min`, `max`, null flag, `BloomFilterAggregate`
  * over `xxhash64(keys)`) over the files each commit left — and checks
  * that no SQL execution during a commit scans the dirs that commit
  * wrote. */
class SnapshotWriteStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_wstats_$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def head(root: String): Snapshot =
    SnapshotTable.headOption(spark, root).get

  // ---- the read-back oracle (test scope only) ----

  /** What the commit that wrote `dir` recorded for it: positional
    * tombstones only their count; other merge-on-read deltas their
    * count and stats; entries also the key bloom. */
  private sealed trait Kind
  private case object PosDelta extends Kind
  private case object EventDelta extends Kind
  private case object Entry extends Kind

  private final case class Oracle(rows: Long,
      stats: Option[Map[String, ColStats]], bloom: Option[Seq[Byte]])

  private def capped(v: Option[Any], roundsDown: Boolean): Option[Any] =
    v.flatMap {
      case s: String if s.length > SnapshotTable.MaxStatsStringLen =>
        if (roundsDown) Some(s.substring(0, SnapshotTable.MaxStatsStringLen))
        else None
      case other => Some(other)
    }

  /** One aggregation over the committed files of every dir in `dirs`
    * that shares one file schema. */
  private def readBack(snap: Snapshot, dirs: Seq[String], kind: Kind)
      : Map[String, Oracle] = {
    val schema = spark.read.parquet(dirs.head).schema
    val statsCols =
      if (kind == PosDelta) Nil
      else snap.statsCols.filter(schema.fieldNames.contains)
    val bloom = kind == Entry && snap.keys.nonEmpty
    val data = dirs.map(d =>
      spark.read.schema(schema).parquet(d).withColumn("_dir", lit(d)))
      .reduce(_ unionByName _)
    val bloomAgg =
      if (!bloom) Nil
      else Seq(org.apache.spark.sql.GraftSqlBridge.column(
        new BloomFilterAggregate(
          org.apache.spark.sql.GraftSqlBridge.expression(
            xxhash64(snap.keys.map(col): _*)),
          Literal(8192L), Literal(1L << 17)).toAggregateExpression())
        .as("bloom:"))
    val aggs = (count(lit(1)).as("cnt:") +: statsCols.flatMap(c => Seq(
      min(col(c)).as(s"lo:$c"), max(col(c)).as(s"hi:$c"),
      max(when(col(c).isNull, 1).otherwise(0)).as(s"nn:$c")))) ++ bloomAgg
    data.groupBy("_dir").agg(aggs.head, aggs.tail: _*).collect().map { r =>
      val st = statsCols.flatMap { c =>
        val dt = schema(c).dataType
        val lo = capped(SnapshotTable.normalizeStatsValue(dt,
          r.get(r.fieldIndex(s"lo:$c"))), roundsDown = true)
        val hi = capped(SnapshotTable.normalizeStatsValue(dt,
          r.get(r.fieldIndex(s"hi:$c"))), roundsDown = false)
        val nn = r.getInt(r.fieldIndex(s"nn:$c")) == 1
        if (lo.isEmpty && hi.isEmpty && !nn) None
        else Some(c -> ColStats(lo, hi, nn))
      }.toMap
      r.getString(0) -> Oracle(r.getLong(r.fieldIndex("cnt:")),
        if (st.isEmpty) None else Some(st),
        if (!bloom) None
        else Option(r.get(r.fieldIndex("bloom:")).asInstanceOf[Array[Byte]])
          .map(_.toSeq))
    }.toMap
  }

  private def bloomBytes(dir: String): Option[Seq[Byte]] = {
    val f = java.nio.file.Paths.get(
      new org.apache.hadoop.fs.Path(dir).toUri.getPath, ".bloom")
    if (java.nio.file.Files.exists(f))
      Some(java.nio.file.Files.readAllBytes(f).toSeq)
    else None
  }

  private def liveDirs(s: Snapshot): Seq[String] =
    (s.entries.map(_._2) ++ s.deltas.map(_.dir)).distinct

  /** Every dir the head gained since `before` records exactly what the
    * read-back oracle computes from its files. Returns the new dirs. */
  private def assertOracle(root: String, before: Option[Snapshot])
      : Seq[String] = {
    val after = head(root)
    val old = before.map(liveDirs).getOrElse(Nil).toSet
    val fresh = liveDirs(after).filterNot(old)
    assert(fresh.nonEmpty, s"commit ${after.op} v${after.version} " +
      "added no dirs — nothing to compare")
    val kindOf = after.deltas.map(d =>
      d.dir -> (if (d.kind == "pos") PosDelta else EventDelta)).toMap
      .withDefaultValue(Entry)
    val groups = fresh.groupBy(d =>
      (kindOf(d), spark.read.parquet(d).schema.toDDL))
    val oracle = groups.toSeq.flatMap { case ((k, _), ds) =>
      readBack(after, ds, k) }.toMap
    fresh.foreach { d =>
      val o = oracle.getOrElse(d, Oracle(0L, None, None))
      val what = s"${after.op} v${after.version} dir $d"
      assert(after.dirRows.get(d) === Some(o.rows), s"rows of $what")
      assert(after.dirStats.get(d) === o.stats, s"stats of $what")
      assert(bloomBytes(d) === o.bloom, s"bloom of $what")
    }
    fresh
  }

  // ---- which SQL executions scan which paths ----

  private object Scans extends AdaptiveSparkPlanHelper {
    def of(plan: SparkPlan): Seq[String] = collectWithSubqueries(plan) {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString) ++
          f.relation.location.inputFiles.toSeq
      case b: BatchScanExec => b.scan match {
        case fs: FileScan => fs.fileIndex.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten
  }

  private def drainListeners(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
      .invoke(bus, java.lang.Long.valueOf(10000L))
  }

  /** Run one commit, then assert the oracle for its dirs and that no
    * SQL execution during the commit scanned any of them (a write-time
    * stats commit never reads its own files back). */
  private def commit(root: String)(body: => Any): Seq[String] = {
    val before = SnapshotTable.headOption(spark, root)
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        Scans.of(qe.executedPlan).foreach(scanned.add)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    drainListeners()
    spark.listenerManager.register(listener)
    try {
      body
      drainListeners()
    } finally spark.listenerManager.unregister(listener)
    val fresh = assertOracle(root, before)
    import scala.jdk.CollectionConverters._
    val selfScans = scanned.asScala.toSeq.filter(p => fresh.exists(p.contains))
    assert(selfScans.isEmpty,
      s"a SQL execution during the commit scanned its own dirs: $selfScans")
    fresh
  }

  // ---- data ----

  private val longA = "a" * 70 + "-low"
  private val longZ = "z" * 70 + "-high"

  /** Rows exercising every bound rule: nulls, NaN, ±0.0, strings past
    * the stats cap, dates, timestamps, NTZ timestamps, decimals. */
  private def typed(ids: Seq[Long], tag: String): DataFrame = {
    val rows = ids.map { i =>
      val n = i % 7 == 3
      Row(i,
        if (n) null else if (i % 5 == 0) longA else if (i % 5 == 1) longZ
        else s"$tag$i",
        if (n) null
        else if (i % 11 == 0) java.lang.Double.NaN
        else if (i % 4 == 0) -0.0 else if (i % 4 == 1) 0.0
        else i * 1.5,
        if (i % 9 == 2) null else Integer.valueOf((i % 13).toInt - 6),
        java.lang.Boolean.valueOf(i % 2 == 0),
        if (n) null else java.sql.Date.valueOf(
          java.time.LocalDate.of(2020, 1, 1).plusDays(i)),
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          1600000000L + i * 3601L, (i % 1000) * 1000L)),
        java.time.LocalDateTime.of(2021, 6, 1, 0, 0).plusMinutes(i * 7),
        new java.math.BigDecimal(i * 3).movePointLeft(2),
        if (i % 3 == 0) "en" else if (i % 3 == 1) "ja" else "de")
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType.fromDDL("id BIGINT, s STRING, d DOUBLE, i INT, " +
        "b BOOLEAN, dt DATE, ts TIMESTAMP, ntz TIMESTAMP_NTZ, " +
        "dec DECIMAL(10,2), lang STRING"))
  }

  test("V1 commit kinds on a keyed table: stats, rows and bloom bytes " +
      "equal the read-back oracle; no commit scans its own dirs") {
    val root = freshDir("v1") + "/t"
    commit(root)(SnapshotTable.create(typed(0L until 120L, "c"), root,
      Seq("id"), buckets = 4))
    commit(root)(SnapshotTable.append(typed(120L until 160L, "a"), root))
    commit(root)(SnapshotTable.upsert(typed((0L until 30L) ++
      (160L until 175L), "u"), root))
    commit(root)(SnapshotTable.upsert(typed(40L until 50L, "m"), root,
      mergeOnRead = true))
    commit(root)(SnapshotTable.delete(Seq(41L, 43L, 999L).toDF("id"),
      root, mergeOnRead = true))
    commit(root)(SnapshotTable.compact(spark, root))
    commit(root)(SnapshotTable.delete(Seq(1L, 2L, 77L).toDF("id"), root))
    commit(root)(SnapshotTable.deleteWhere(spark, root,
      col("i") === 4, mergeOnRead = true))
    commit(root)(SnapshotTable.compact(spark, root, maxDirsPerBucket = 1))
    // `d` holds NaN, and this append adds ±Infinity: the z-order
    // dimension over it ranks them without a non-finite cast
    commit(root)(SnapshotTable.append(typed(180L until 186L, "f")
      .withColumn("d", when(col("id") % 2 === 0,
        lit(Double.PositiveInfinity)).otherwise(lit(Double.NegativeInfinity))),
      root))
    commit(root)(SnapshotTable.zorder(spark, root, Seq("id", "i", "d"),
      slicesPerBucket = 4))
    commit(root)(SnapshotTable.overwrite(typed(200L until 260L, "o"),
      root))
    commit(root)(SnapshotTable.replaceTable(typed(300L until 340L, "r"),
      root, Seq("id"), buckets = 2))
    // all-null and NaN-only dirs keep their exact (unknown-bound) shape
    val edge = typed(Seq(3L, 10L, 17L), "e")
      .withColumn("d", lit(Double.NaN))
      .withColumn("s", lit(null).cast("string"))
    commit(root)(SnapshotTable.append(edge, root))
  }

  test("keyless positional and copy-on-write deleteWhere, compactWhere, " +
      "on a partitioned table with several files per dir") {
    val root = freshDir("part") + "/t"
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try {
      commit(root)(SnapshotTable.create(typed(0L until 90L, "p"), root,
        Seq("id"), buckets = 2, partitionBy = Seq("lang")))
      assert(head(root).dirFiles.values.exists(_.size > 1),
        "maxRecordsPerFile should split some dir into several files")
      commit(root)(SnapshotTable.append(typed(90L until 120L, "q"), root))
      // boundary dirs rewritten, provably-all dirs dropped
      commit(root)(SnapshotTable.deleteWhere(spark, root,
        col("lang") === "de" && col("id") < 60L))
      commit(root)(SnapshotTable.compactWhere(spark, root,
        col("lang") === "en"))
      commit(root)(SnapshotTable.deleteWhere(spark, root,
        col("id") === 4L, mergeOnRead = true))
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val keyless = freshDir("keyless") + "/t"
    commit(keyless)(SnapshotTable.create(typed(0L until 50L, "k"),
      keyless, Seq.empty, buckets = 1))
    commit(keyless)(SnapshotTable.deleteWhere(spark, keyless,
      col("b"), mergeOnRead = true))
    commit(keyless)(SnapshotTable.append(typed(50L until 60L, "k"),
      keyless))
  }

  test("a renamed column records its stats under the physical name") {
    val root = freshDir("ren") + "/t"
    commit(root)(SnapshotTable.create(typed(0L until 40L, "n"), root,
      Seq("id"), buckets = 2))
    SnapshotTable.renameColumn(spark, root, "s", "label")
    val snap = head(root)
    assert(snap.physicalOf("label") === "s")
    val fresh = commit(root)(SnapshotTable.append(
      typed(40L until 60L, "x").withColumnRenamed("s", "label"), root))
    assert(fresh.forall(d => head(root).dirStats(d).contains("s")))
    commit(root)(SnapshotTable.upsert(
      typed(0L until 10L, "y").withColumnRenamed("s", "label"), root))
  }

  test("SQL UPDATE / DELETE / MERGE through the replace-data and the " +
      "delta row-level writers") {
    val wh = freshDir("sql")
    val cat = "wstatscat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    for ((name, mode) <- Seq("cow" -> None, "mor" -> Some("merge-on-read"))) {
      val root = s"$wh/$name"
      commit(root)(SnapshotTable.create(typed(0L until 80L, name), root,
        Seq("id"), buckets = 4, partitionBy = Seq("lang")))
      mode.foreach(m =>
        SnapshotTable.setTableProperty(spark, root, "rowlevelmode", Some(m)))
      commit(root)(spark.sql(s"UPDATE $cat.$name SET d = -0.0, " +
        s"s = '${"q" * 80}' WHERE id % 10 = 1"))
      commit(root)(spark.sql(s"DELETE FROM $cat.$name WHERE i = 2"))
      typed(70L until 95L, "src").createOrReplaceTempView("wstats_src")
      commit(root)(spark.sql(s"MERGE INTO $cat.$name t USING wstats_src s " +
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *"))
    }
  }
}
