package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan, In, IsNotNull}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{SnapshotDataSource, SnapshotScanBuilder, SnapshotTable}

/** DataSource V2 surface of the snapshot table ([[SnapshotDataSource]]):
  * read parity with the object API at every version, snapshot pinning,
  * time travel options, and key-predicate FILE pruning (the connector
  * must read only the hit buckets' files for a point lookup). */
class SnapshotV2Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_snapv2_$tag")
    d.toFile.deleteOnExit()
    new java.io.File(d.toFile, "tbl").getAbsolutePath
  }

  private def rows(n: Range, tag: String) =
    n.map(i => (i.toLong, tag, i * 10L)).toDF("id", "tag", "v")

  private def asSet(df: DataFrame) =
    df.select("id", "tag", "v").as[(Long, String, Long)].collect().toSet

  private def v2(root: String, opts: (String, String)*): DataFrame =
    opts.foldLeft(spark.read.format("graft-snapshot"))((r, o) =>
      r.option(o._1, o._2)).load(root)

  /** Distinct data files the executed plan's V2 scan would read
    * (unwrapping the SPJ bucket-key partition wrappers). */
  private def scannedFiles(df: DataFrame): Set[String] =
    df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.inputPartitions.map {
        case k: graft.sources.KeyedInputPartition => k.inner
        case p => p
      }.collect {
        case fp: FilePartition => fp.files.map(_.urlEncodedPath).toSeq
      }.flatten
    }.flatten.toSet

  private def mkTable(tag: String): String = {
    val root = freshRoot(tag)
    SnapshotTable.create(rows(0 until 40, "a"), root, Seq("id"), 8)
    SnapshotTable.upsert(
      Seq((3L, "UPD", 999L), (50L, "NEW", 1L)).toDF("id", "tag", "v"), root)
    SnapshotTable.append(rows(40 until 45, "b"), root)
    root
  }

  test("V2 read ≡ object-API read at every version (short name and " +
      "explicit class both resolve)") {
    val root = mkTable("parity")
    SnapshotTable.versions(spark, root).foreach { s =>
      val obj = asSet(SnapshotTable.read(spark, root, Some(s.version)))
      assert(asSet(v2(root, "versionAsOf" -> s.version.toString)) === obj,
        s"version ${s.version} mismatch")
    }
    // latest (no option) and fully-qualified class name
    assert(asSet(v2(root)) === asSet(SnapshotTable.read(spark, root)))
    assert(asSet(spark.read.format("graft.sources.SnapshotDataSource")
      .load(root)) === asSet(SnapshotTable.read(spark, root)))
  }

  test("timestampAsOf option: epoch millis and timestamp strings both " +
      "resolve to the newest commit <= t") {
    val root = freshRoot("tts")
    SnapshotTable.create(rows(0 until 10, "a"), root, Seq("id"), 4)
    Thread.sleep(30)
    SnapshotTable.append(rows(10 until 15, "b"), root)
    val Seq(v1, v2s) = SnapshotTable.versions(spark, root)
    assert(asSet(v2(root, "timestampAsOf" -> (v2s.ts - 1).toString)) ===
      asSet(rows(0 until 10, "a")))
    val str = new java.sql.Timestamp(v2s.ts + 5000).toString
    assert(v2(root, "timestampAsOf" -> str).count() === 15L)
    intercept[Exception](
      v2(root, "timestampAsOf" -> (v1.ts - 1).toString).count())
  }

  test("snapshot pinning: a loaded DataFrame keeps serving ITS version " +
      "after later commits land") {
    val root = freshRoot("pin")
    SnapshotTable.create(rows(0 until 10, "a"), root, Seq("id"), 4)
    val pinned = v2(root)
    assert(pinned.count() === 10L)
    SnapshotTable.append(rows(10 until 20, "b"), root)
    assert(pinned.count() === 10L) // immutable manifest, not the head
    assert(v2(root).count() === 20L) // a fresh load sees the new head
  }

  test("key-predicate pushdown prunes FILES to the hit buckets; " +
      "residual evaluation keeps answers exact") {
    val root = mkTable("prune")
    val full = v2(root)
    val all = scannedFiles(full)
    val point = v2(root).filter(col("id") === 3L)
    val pointFiles = scannedFiles(point)
    assert(pointFiles.nonEmpty && pointFiles.size < all.size,
      s"point lookup read ${pointFiles.size}/${all.size} files — no pruning")
    assert(asSet(point) === Set((3L, "UPD", 999L)))
    // IN-list lookup: union of the keys' buckets, still < full
    val inq = v2(root).filter(col("id").isin(3L, 44L, 50L, 7777L))
    assert(asSet(inq) ===
      Set((3L, "UPD", 999L), (44L, "b", 440L), (50L, "NEW", 1L)))
    assert(scannedFiles(inq).size < all.size)
    // non-key EQUALITY prunes through data-skipping STATS instead of
    // buckets ("NEW" lives only in the upsert commit's dirs)
    val nk = v2(root).filter(col("tag") === "NEW")
    assert(scannedFiles(nk).size < all.size)
    assert(asSet(nk) === Set((50L, "NEW", 1L)))
    // a predicate satisfiable everywhere prunes nothing
    val everywhere = v2(root).filter(col("v") >= 0L)
    assert(scannedFiles(everywhere).size === all.size)
    assert(everywhere.count() === v2(root).count())
    // key predicate that misses every row: zero rows, pruned scan
    assert(v2(root).filter(col("id") === 123456L).count() === 0L)
  }

  test("prunedBuckets analysis: equality and IN conjuncts narrow, " +
      "non-equality or partial key coverage abstains") {
    val root = freshRoot("pb")
    SnapshotTable.create(
      Seq((1L, "x", "a", 1L)).toDF("id", "sub", "tag", "v"),
      root, Seq("id", "sub"), 16)
    val snap = SnapshotTable.versions(spark, root).last
    val schema = StructType.fromDDL(snap.schemaDdl)
    val b = new SnapshotScanBuilder(snap, schema)
    // full key coverage → finite bucket set
    val hit = b.prunedBuckets(Seq(EqualTo("id", 1L), EqualTo("sub", "x")))
    assert(hit.exists(_.size === 1))
    // IN × EqualTo cross product
    val hits = b.prunedBuckets(Seq(In("id", Array(1L, 2L, 3L)),
      EqualTo("sub", "x")))
    assert(hits.exists(s => s.nonEmpty && s.size <= 3))
    // partial coverage (one key col unconstrained) → None
    assert(b.prunedBuckets(Seq(EqualTo("id", 1L))) === None)
    // range predicates never pin → None
    assert(b.prunedBuckets(Seq(GreaterThan("id", 1L),
      EqualTo("sub", "x"))) === None)
    // IsNotNull noise alongside equality is ignored, not widening
    val withNoise = b.prunedBuckets(Seq(IsNotNull("id"), EqualTo("id", 1L),
      EqualTo("sub", "x")))
    assert(withNoise === hit)
    // contradictory equalities → empty bucket set (reads nothing)
    assert(b.prunedBuckets(Seq(EqualTo("id", 1L), EqualTo("id", 2L),
      EqualTo("sub", "x"))).exists(_.isEmpty))
  }

  test("data-skipping stats prune append commits by range: a time-series " +
      "table answers `v >= recent` from the newest commit's files only") {
    val root = freshRoot("skip")
    // three commits with DISJOINT v windows — the append-ingestion shape
    SnapshotTable.create(rows(0 until 100, "a"), root, Seq("id"), 4)
    SnapshotTable.append((100 until 200).map(i => (i.toLong, "b", i * 10L))
      .toDF("id", "tag", "v"), root)
    SnapshotTable.append((200 until 300).map(i => (i.toLong, "c", i * 10L))
      .toDF("id", "tag", "v"), root)
    val all = scannedFiles(v2(root))
    // recent-window range: only the last commit's dirs survive pruning
    val recent = v2(root).filter(col("v") >= 2500L)
    assert(scannedFiles(recent).size < all.size,
      "range predicate did not prune append commits")
    assert(recent.count() === 50L)
    assert(asSet(recent) ===
      (250 until 300).map(i => (i.toLong, "c", i * 10L)).toSet)
    // old-window range prunes from the other side
    val old = v2(root).filter(col("v") < 500L)
    assert(scannedFiles(old).size < all.size)
    assert(old.count() === 50L)
    // equality on the stats'd tag column: 'c' lives only in commit 3
    val tagC = v2(root).filter(col("tag") === "c")
    assert(scannedFiles(tagC).size < all.size)
    assert(tagC.count() === 100L)
    // an unsatisfiable-everywhere range reads nothing at all
    assert(scannedFiles(v2(root).filter(col("v") > 10000L)).isEmpty)
    // stats pruning composes with residual evaluation: exact boundaries
    assert(v2(root).filter(col("v") >= 2990L).count() === 1L)
  }

  test("write surface: df.write.format(graft-snapshot) creates on first " +
      "append, appends, upserts, deletes, and overwrites through the " +
      "same manifest protocol") {
    val root = freshRoot("w")
    def w(df: DataFrame) = df.write.format("graft-snapshot")
    // create-on-first-write with table config options
    w(rows(0 until 20, "a")).option("keys", "id").option("buckets", "4")
      .mode("append").save(root)
    val v1 = SnapshotTable.versions(spark, root).last
    assert(v1.op === "create" && v1.keys === Seq("id") && v1.buckets === 4)
    assert(v1.statsCols === Seq("id", "tag", "v")) // default stats on
    // plain append
    w(rows(20 until 25, "b")).mode("append").save(root)
    assert(v2(root).count() === 25L)
    // keyed upsert via op option
    w(Seq((3L, "UPD", 999L)).toDF("id", "tag", "v"))
      .option("op", "upsert").mode("append").save(root)
    assert(asSet(v2(root).filter(col("id") === 3L)) === Set((3L, "UPD", 999L)))
    assert(SnapshotTable.versions(spark, root).last.op === "upsert")
    // keyed delete via op option
    w(Seq(Tuple1(7L)).toDF("id").withColumn("tag", lit("x"))
      .withColumn("v", lit(0L))).option("op", "delete").mode("append").save(root)
    assert(v2(root).filter(col("id") === 7L).count() === 0L)
    // overwrite replaces content, history stays
    w(rows(100 until 103, "z")).mode("overwrite").save(root)
    assert(asSet(v2(root)) === asSet(rows(100 until 103, "z")))
    assert(v2(root, "versionAsOf" -> "1").count() === 20L)
    // reading a MISSING table still fails loudly
    val missing = freshRoot("missing")
    val e = intercept[Exception](v2(missing).count())
    assert(e.getMessage.contains("no snapshot table"))
  }

  test("streaming source: first run serves the consolidated snapshot, a " +
      "restart from the checkpoint serves ONLY commits since its offset " +
      "(exactly-once by version), non-append commits fail loudly unless " +
      "ignoreChanges") {
    import org.apache.spark.sql.streaming.Trigger
    val root = freshRoot("stream")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_snap_ckpt")
      .toString
    val outBase = java.nio.file.Files.createTempDirectory("graft_snap_out")
      .toString
    SnapshotTable.create(rows(0 until 10, "a"), root, Seq("id"), 4)
    SnapshotTable.append(rows(10 until 15, "b"), root)
    // foreachBatch parquet sink per run: the memory sink refuses
    // checkpoint recovery, and recovery IS the thing under test
    def runOnce(name: String, opts: Map[String, String] = Map.empty)
        : DataFrame = {
      val out = s"$outBase/$name"
      val src = opts.foldLeft(spark.readStream.format("graft-snapshot"))(
        (r, o) => r.option(o._1, o._2)).load(root)
      val q = src.writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      if (new java.io.File(out).exists) spark.read.parquet(out)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        rows(0 until 1, "x").schema)
    }
    // first run: the whole snapshot at stream start (2 commits, one batch)
    assert(asSet(runOnce("snap_s1")) ===
      asSet(rows(0 until 10, "a")) ++ asSet(rows(10 until 15, "b")))
    // two more appends, then resume from the SAME checkpoint: only the
    // new commits' rows arrive — nothing from the first 15 re-emits
    SnapshotTable.append(rows(15 until 18, "c"), root)
    SnapshotTable.append(rows(18 until 20, "d"), root)
    assert(asSet(runOnce("snap_s2")) ===
      asSet(rows(15 until 18, "c")) ++ asSet(rows(18 until 20, "d")))
    // a resume with no new commits emits nothing
    assert(runOnce("snap_s3").count() === 0L)
    // an upsert mid-stream: fail-fast by default (its dirs consolidate)
    SnapshotTable.upsert(Seq((3L, "UPD", 999L)).toDF("id", "tag", "v"), root)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      runOnce("snap_s4"))
    assert(e.getMessage.contains("upsert") ||
      Option(e.getCause).exists(_.getMessage.contains("upsert")))
    // ignoreChanges: the rewritten bucket's dirs stream verbatim — the
    // updated row arrives (with its rewritten bucket-mates, documented)
    val got = runOnce("snap_s5", Map("ignoreChanges" -> "true"))
    assert(got.filter(col("id") === 3L).select("tag")
      .as[String].collect().toSeq === Seq("UPD"))
  }

  test("runtime filtering: join-time IN values on the key re-prune the " +
      "scan to their hash buckets (the V2 dynamic-pruning seam), stats " +
      "columns dir-skip, and non-pinning filters never widen or drop") {
    import org.apache.spark.sql.connector.read.{SupportsReportStatistics, SupportsRuntimeFiltering}
    val root = freshRoot("runtime")
    SnapshotTable.create(rows(0 until 2000, "a"), root, Seq("id"), 16)
    def freshScan() = spark.read.format("graft-snapshot").load(root)
      .queryExecution.executedPlan.collect {
        case b: BatchScanExec => b.scan
      }.head
    def nRows(s: Any) = s.asInstanceOf[SupportsReportStatistics]
      .estimateStatistics().numRows.getAsLong
    // runtime IN on the single key: 2 values → ≤ 2 of 16 buckets remain
    val s1 = freshScan()
    assert(nRows(s1) === 2000L)
    s1.asInstanceOf[SupportsRuntimeFiltering]
      .filter(Array(In("id", Array(7L, 1900L))): Array[org.apache.spark.sql.sources.Filter])
    assert(nRows(s1) <= 2L * 2000L / 16)
    // the filtered scan still returns the right rows for those keys
    val keyed = s1.toBatch.planInputPartitions()
    assert(keyed.nonEmpty)
    // runtime range filter on a stats column dir-skips via min/max
    val s2 = freshScan()
    s2.asInstanceOf[SupportsRuntimeFiltering]
      .filter(Array(GreaterThan("v", 1999999L)): Array[org.apache.spark.sql.sources.Filter])
    assert(nRows(s2) === 0L) // v = id*10 < 20000: nothing satisfies
    // a filter that pins nothing leaves the scan whole
    val s3 = freshScan()
    s3.asInstanceOf[SupportsRuntimeFiltering]
      .filter(Array(IsNotNull("tag")): Array[org.apache.spark.sql.sources.Filter])
    assert(nRows(s3) === 2000L)
    // filterAttributes advertises the key and the stats columns
    val attrs = freshScan().asInstanceOf[SupportsRuntimeFiltering]
      .filterAttributes().map(_.describe()).toSet
    assert(attrs.contains("id") && attrs.contains("v"))
    // end-to-end: the correctness of a dim-driven join is unchanged
    // (whether or not the planner chooses to inject runtime filters)
    val dim = Seq(7L, 1900L).toDF("id")
    val joined = spark.read.format("graft-snapshot").load(root)
      .join(broadcast(dim), Seq("id"))
    assert(asSet(joined) === asSet(rows(7 until 8, "a")) ++
      asSet(rows(1900 until 1901, "a")))
  }

  test("connector reports EXACT pruning-aware planner statistics: full " +
      "scan = manifest totals, point lookup = hit bucket only, and the " +
      "join planner auto-broadcasts a small snapshot side it would " +
      "otherwise size as unknown") {
    import org.apache.spark.sql.connector.read.SupportsReportStatistics
    val root = freshRoot("stats")
    SnapshotTable.create(rows(0 until 1000, "a"), root, Seq("id"), 8)
    SnapshotTable.append(rows(1000 until 2000, "b"), root)
    def scanOf(df: DataFrame) = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.head.asInstanceOf[SupportsReportStatistics]
    // full scan: exact rows, real bytes
    val full = scanOf(spark.read.format("graft-snapshot").load(root))
      .estimateStatistics()
    assert(full.numRows.getAsLong === 2000L)
    val fullBytes = full.sizeInBytes.getAsLong
    assert(fullBytes > 0L)
    // point lookup: the hit bucket's share, not the table
    val point = scanOf(spark.read.format("graft-snapshot").load(root)
      .filter(col("id") === 7L)).estimateStatistics()
    assert(point.numRows.getAsLong < 2000L / 4)
    assert(point.sizeInBytes.getAsLong < fullBytes / 4)
    // join planning: under a threshold ABOVE the reported size, the
    // snapshot side broadcasts; with the stats stripped (legacy
    // manifest) the same join must NOT broadcast (unknown = huge)
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldAqe = scala.util.Try(spark.conf
      .get("spark.sql.adaptive.autoBroadcastJoinThreshold")).toOption
      .filter(_ != null)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (fullBytes * 4).toString)
      // isolate the STATIC planner decision (driven by our reported
      // stats): AQE's runtime conversion would re-broadcast the
      // physically-tiny table regardless of what the manifest reports
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val big = spark.range(0, 50000).select(col("id"))
      def joinPlan(): String = {
        val j = big.join(
          spark.read.format("graft-snapshot").load(root), Seq("id"))
        j.collect()
        j.queryExecution.executedPlan.toString
      }
      assert(joinPlan().contains("BroadcastHashJoin"),
        "exact stats under threshold should broadcast the snapshot side")
      // strip rows=/bytes= from every manifest → stats unknown
      val mdir = new java.io.File(root, "_manifests")
      mdir.listFiles.filter(_.getName.endsWith(".txt")).foreach { f =>
        val txt = new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        java.nio.file.Files.write(f.toPath, txt.split("\n")
          .filterNot(l => l.startsWith("rows=") || l.startsWith("bytes="))
          .mkString("\n").getBytes("UTF-8"))
        new java.io.File(mdir, s".${f.getName}.crc").delete()
      }
      assert(!joinPlan().contains("BroadcastHashJoin"),
        "without manifest stats the snapshot side must not broadcast")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
      oldAqe match {
        case Some(v) => spark.conf.set(
          "spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset(
          "spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("metadata-only count(*): the manifest's per-dir row counts answer " +
      "an unfiltered count with ZERO scan tasks, stay " +
      "exact across append/upsert/delete, and every unsafe shape — " +
      "filter, count(col), missing counts — falls back to the scan") {
    import graft.plans.SnapshotMetadataOnlyCount
    import org.apache.spark.sql.connector.read.LocalScan
    import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
    if (!spark.experimental.extraOptimizations.contains(
        SnapshotMetadataOnlyCount))
      spark.experimental.extraOptimizations ++= Seq(SnapshotMetadataOnlyCount)
    val root = freshRoot("metacount")
    SnapshotTable.create(rows(0 until 100, "a"), root, Seq("id"), 4)
    SnapshotTable.append(rows(100 until 150, "b"), root)
    SnapshotTable.upsert(rows(140 until 160, "c"), root)
    SnapshotTable.delete(rows(0 until 5, "x").select("id"), root)
    // "metadata-only" = no REAL table scan survives optimization: both
    // answering paths — the SnapshotMetadataOnlyCount LocalRelation
    // rule and the newer complete aggregate pushdown's LocalScan (a
    // driver-local single row, zero scan tasks) — qualify; the
    // fallback shapes keep a genuine SnapshotScan relation.
    def scansIn(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2Relation => r
      case r: DataSourceV2ScanRelation
          if !r.scan.isInstanceOf[LocalScan] => r
    }
    // exact across the mixed history: 160 - 5 deleted
    val cnt = spark.read.format("graft-snapshot").load(root).groupBy().count()
    assert(scansIn(cnt).isEmpty, s"count(*) should be metadata-only:\n" +
      cnt.queryExecution.optimizedPlan)
    assert(cnt.as[Long].head() === 155L)
    // SQL spelling through the same plan shape
    spark.read.format("graft-snapshot").load(root).createOrReplaceTempView(
      "snap_metacount")
    val sqlCnt = spark.sql("SELECT count(*) AS n FROM snap_metacount")
    assert(scansIn(sqlCnt).isEmpty)
    assert(sqlCnt.as[Long].head() === 155L)
    // a FILTER makes it scan — and still agree
    val filtered = spark.read.format("graft-snapshot").load(root)
      .filter(col("id") < 50L).groupBy().count()
    assert(scansIn(filtered).nonEmpty)
    assert(filtered.as[Long].head() === 45L)
    // count(col) is null-sensitive: never rewritten
    val colCnt = spark.read.format("graft-snapshot").load(root)
      .agg(count(col("tag")))
    assert(scansIn(colCnt).nonEmpty)
    // manifests WITHOUT recorded counts (pre-rowcount history): strip
    // the rows= lines from the newest manifest → fallback to the scan,
    // same answer
    val mdir = new java.io.File(root, "_manifests")
    val newest = mdir.listFiles.filter(_.getName.endsWith(".txt"))
      .sortBy(_.getName).last
    val txt = new String(java.nio.file.Files.readAllBytes(newest.toPath),
      "UTF-8")
    java.nio.file.Files.write(newest.toPath, txt.split("\n")
      .filterNot(_.startsWith("rows=")).mkString("\n").getBytes("UTF-8"))
    // the raw edit invalidates Hadoop's local checksum sidecar
    new java.io.File(mdir, s".${newest.getName}.crc").delete()
    val legacy = spark.read.format("graft-snapshot").load(root)
      .groupBy().count()
    assert(scansIn(legacy).nonEmpty, "missing counts must fall back")
    assert(legacy.as[Long].head() === 155L)
  }

  test("manifest aggregate pushdown: unfiltered min/max/count fold from " +
      "per-dir stats into a zero-task LocalScan plan, exact across " +
      "append/upsert/delete; filters, strings, and grouping all fall " +
      "back to the scan and agree") {
    import org.apache.spark.sql.execution.LocalTableScanExec
    val root = freshRoot("aggpush")
    SnapshotTable.create(rows(5 until 100, "a"), root, Seq("id"), 4)
    SnapshotTable.append(rows(100 until 150, "b"), root)
    SnapshotTable.upsert(rows(140 until 160, "c"), root)
    SnapshotTable.delete(rows(5 until 9, "x").select("id"), root)
    def isLocal(df: DataFrame) = df.queryExecution.executedPlan.collect {
      case l: LocalTableScanExec => l
    }.nonEmpty
    // min/max/count in one statement: answered from the manifest alone
    val agg = v2(root).agg(min(col("id")).as("lo"), max(col("id")).as("hi"),
      max(col("v")).as("vhi"), count(lit(1)).as("n"))
    assert(isLocal(agg), s"expected a LocalScan plan:\n" +
      agg.queryExecution.executedPlan)
    assert(agg.as[(Long, Long, Long, Long)].head() ===
      ((9L, 159L, 1590L, 151L)))
    // SQL spelling
    v2(root).createOrReplaceTempView("snap_aggpush")
    val sqlAgg = spark.sql(
      "SELECT min(id) AS lo, max(v) AS hi FROM snap_aggpush")
    assert(isLocal(sqlAgg))
    assert(sqlAgg.as[(Long, Long)].head() === ((9L, 1590L)))
    // a filter keeps the scan (our residual-filter policy never offers
    // a filtered aggregate) — and agrees
    val filtered = v2(root).filter(col("id") >= 50L).agg(min(col("id")))
    assert(!isLocal(filtered))
    assert(filtered.as[Long].head() === 50L)
    // string bounds are truncated in the manifest: never pushed
    val strMin = v2(root).agg(min(col("tag")))
    assert(!isLocal(strMin))
    assert(strMin.as[String].head() === "a")
    // grouped aggregate: scan path
    val grouped = v2(root).groupBy(col("tag")).agg(max(col("id")))
    assert(!isLocal(grouped))
    assert(grouped.as[(String, Long)].collect().toSet ===
      Set(("a", 99L), ("b", 139L), ("c", 159L)))
    // avg/sum are not answerable from bounds: scan path, exact
    val sums = v2(root).agg(sum(col("v")))
    assert(!isLocal(sums))
    assert(sums.as[Long].head() ===
      ((9 until 160).map(_ * 10L).sum))
  }

  test("streaming SINK: writeStream.format(graft-snapshot) lands one " +
      "txn-stamped commit per micro-batch (create on first, upsert " +
      "after), and a replayed batch id is skipped exactly-once") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.SnapshotSink
    val base = java.nio.file.Files.createTempDirectory("graft_snapsink")
    val stage = new java.io.File(base.toFile, "in"); stage.mkdirs()
    val root = new java.io.File(base.toFile, "tbl").getAbsolutePath
    val ckpt = new java.io.File(base.toFile, "ckpt").getAbsolutePath
    def stageOne(i: Int, df: DataFrame): Unit = {
      val tmp = new java.io.File(base.toFile, s"tmp$i")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles.filter(_.getName.startsWith("part-")).head
      val dst = new java.io.File(stage, f"b$i%03d.parquet")
      assert(part.renameTo(dst))
      dst.setLastModified(1000000L * (i + 1))
    }
    stageOne(0, rows(0 until 5, "a"))
    stageOne(1, rows(3 until 8, "b"))
    stageOne(2, rows(8 until 10, "c"))
    def drain(): Unit = {
      val q = spark.readStream.schema(rows(0 until 1, "x").schema)
        .option("maxFilesPerTrigger", 1).parquet(stage.toString)
        .writeStream.format("graft-snapshot")
        .option("op", "upsert").option("keys", "id").option("buckets", "4")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(root)
      q.awaitTermination()
    }
    drain()
    // 3 micro-batches: create + 2 upserts, each txn-stamped in order
    val snaps = SnapshotTable.versions(spark, root)
    assert(snaps.map(_.op) === Seq("create", "upsert", "upsert"))
    assert(snaps.flatMap(_.txn).map(_._2) === Seq(0L, 1L, 2L))
    assert(snaps.flatMap(_.txn).map(_._1).distinct.size === 1)
    // last-write-wins content
    assert(asSet(SnapshotTable.read(spark, root)) ===
      asSet(rows(0 until 3, "a")) ++ asSet(rows(3 until 8, "b")) ++
        asSet(rows(8 until 10, "c")))
    // a REPLAYED batch id (crash between commit and checkpoint write)
    // is skipped: same app id + old batch id → no new version. The
    // dedup probe must stay O(1)-class in manifest opens: the
    // watermark answers from the listing + consolidated checkpoint +
    // at most the uncheckpointed tail — NEVER a parse of every
    // manifest (the 8,640-opens/day streaming-resume hazard).
    val appId = snaps.head.txn.get._1
    val sink = new SnapshotSink(spark, root,
      Map("op" -> "upsert", "txnappid" -> appId),
      org.apache.spark.sql.streaming.OutputMode.Append())
    val parses0 = SnapshotTable.manifestParses.get()
    sink.addBatch(2L, rows(0 until 5, "REPLAY"))
    val replayParses = SnapshotTable.manifestParses.get() - parses0
    assert(replayParses <= SnapshotTable.CheckpointInterval + 1,
      s"replayed-batch dedup parsed $replayParses manifests — the txn " +
        "watermark must come from the checkpoint + tail, not a history " +
        "scan")
    assert(SnapshotTable.versions(spark, root).size === 3)
    assert(asSet(SnapshotTable.read(spark, root)
      .filter(col("id") === 0L)) === asSet(rows(0 until 1, "a")))
    // a FRESH batch id under the same app commits
    sink.addBatch(3L, rows(10 until 12, "d"))
    assert(SnapshotTable.versions(spark, root).size === 4)
    assert(SnapshotTable.read(spark, root).count() === 12L)
    // a restart from the same checkpoint with nothing new: no commits
    drain()
    assert(SnapshotTable.versions(spark, root).size === 4)
  }

  test("z-order rewrite: content identical, per-slice stats prune a 2-D " +
      "box read to a fraction of the table (vs no pruning at the " +
      "pre-zorder version), vacuum keeps live slice dirs, upsert " +
      "replaces only the hit bucket's slices") {
    val root = freshRoot("zorder")
    // 64×64 grid: key-hash bucketing scatters ids, so pre-zorder dirs
    // span the full (x, y) range and a box predicate prunes NOTHING
    val grid = spark.range(0, 4096).select(col("id"),
      (col("id") / 64).cast("long").as("x"),
      pmod(col("id"), lit(64L)).as("y"))
    SnapshotTable.create(grid, root, Seq("id"), 4)
    val before = grid.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def asGrid(df: DataFrame) = df.select("id", "x", "y")
      .as[(Long, Long, Long)].collect().toSet
    val v = SnapshotTable.zorder(spark, root, Seq("x", "y"),
      slicesPerBucket = 16)
    assert(v === 2L)
    val snap = SnapshotTable.versions(spark, root).last
    assert(snap.op === "zorder")
    assert(snap.entries.size > 4 && snap.entries.forall(_._2.contains("_zs=")))
    assert(asGrid(SnapshotTable.read(spark, root)) === before)
    // 2-D box (x<8 AND y<8 → 64 rows): slice stats prune most dirs
    val (hits, _, recs) = ShuffleMetrics.measureInput(spark) {
      spark.read.format("graft-snapshot").load(root)
        .filter(col("x") < 8L && col("y") < 8L).collect()
    }
    assert(hits.length === 64)
    assert(recs <= 4096L / 4,
      s"box read scanned $recs of 4096 records after z-order")
    // the same box at the pre-zorder version scans ~everything
    val (_, _, recsV1) = ShuffleMetrics.measureInput(spark) {
      spark.read.format("graft-snapshot").option("versionAsOf", 1)
        .load(root).filter(col("x") < 8L && col("y") < 8L).collect()
    }
    assert(recsV1 > 3L * recs,
      s"pre-zorder scan $recsV1 should dwarf post-zorder $recs")
    // vacuum must NOT sweep the bucket parents of live slice dirs
    SnapshotTable.vacuum(spark, root, 1)
    assert(asGrid(SnapshotTable.read(spark, root)) === before)
    // upsert after z-order: the hit bucket's slices fold into one
    // merged dir, other buckets keep their slices, content stays right
    SnapshotTable.upsert(Seq((7L, 999L, 999L)).toDF("id", "x", "y"), root)
    val after = SnapshotTable.read(spark, root)
    assert(after.count() === 4096L)
    assert(asGrid(after.filter(col("id") === 7L)) === Set((7L, 999L, 999L)))
  }

  test("column pruning reaches the parquet scan; empty table reads as " +
      "schema-correct zero rows") {
    val root = mkTable("prj")
    val prj = v2(root).select("id")
    val ex = prj.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.readSchema().fieldNames.toSeq
    }.flatten
    assert(ex === Seq("id"), s"read schema not pruned: $ex")
    val er = freshRoot("empty")
    SnapshotTable.create(rows(0 until 0, "a"), er, Seq("id"), 2)
    val empty = v2(er)
    assert(empty.count() === 0L)
    assert(empty.schema.fieldNames.toSeq === Seq("id", "tag", "v"))
  }
}
