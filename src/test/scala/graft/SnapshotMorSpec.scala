package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SnapshotTable

/** Merge-on-read commit contract: delta layers write O(batch) and
  * resolve to exactly what the merge-on-write spelling of the same
  * commits produces — across multi-layer ordering, tombstone/revive,
  * blind-append interleavings, partial consumption by merge-on-write,
  * compaction, vacuum liveness, the change feed, and the connector's
  * loud refusal to serve unresolved deltas raw. */
class SnapshotMorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_mor_$tag")
    d.toFile.deleteOnExit()
    new java.io.File(d.toFile, "tbl").getAbsolutePath
  }

  private def rows(n: Range, tag: String) =
    n.map(i => (i.toLong, tag, i * 10L)).toDF("id", "tag", "v")

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.select("id", "tag", "v").as[(Long, String, Long)].collect().toSet

  private def snapAt(root: String, v: Long) =
    SnapshotTable.versions(spark, root).find(_.version == v).get

  test("mor upsert writes only the batch: base manifest lines carry " +
      "verbatim, deltas land in the batch's buckets, reads resolve") {
    val root = freshRoot("up")
    SnapshotTable.create(rows(0 until 40, "a"), root, Seq("id"), 8)
    val v1 = snapAt(root, 1)
    val batch = Seq((3L, "UPD", 999L), (7L, "UPD", 999L), (100L, "NEW", 1L))
      .toDF("id", "tag", "v")
    assert(SnapshotTable.upsert(batch, root, mergeOnRead = true) === 2L)
    val v2 = snapAt(root, 2)
    assert(v2.op === "upsert-mor")
    // ZERO base churn: every base line identical, nothing rewritten
    assert(v2.entries === v1.entries)
    assert(v2.deltas.nonEmpty && v2.deltas.forall(d =>
      d.seq === 2L && d.kind === "rows"))
    assert(v2.deltas.map(_.bucket).toSet.size <= 3)
    val expected = asSet(rows(0 until 40, "a"))
      .filterNot(r => r._1 == 3 || r._1 == 7) ++
      Set((3L, "UPD", 999L), (7L, "UPD", 999L), (100L, "NEW", 1L))
    assert(asSet(SnapshotTable.read(spark, root)) === expected)
    // history intact; metadata count honest (None while unresolved)
    assert(asSet(SnapshotTable.read(spark, root, Some(1L))) ===
      asSet(rows(0 until 40, "a")))
    assert(v1.metadataRowCount === Some(40L))
    assert(v2.metadataRowCount === None)
  }

  test("mor delete tombstones, absent keys are no-ops, a later mor " +
      "upsert revives, layers replay in commit order") {
    val root = freshRoot("dl")
    SnapshotTable.create(rows(0 until 20, "a"), root, Seq("id"), 4)
    SnapshotTable.delete(Seq(5L, 6L, 999L).toDF("id"), root,
      mergeOnRead = true) // v2: 999 absent → harmless tombstone
    assert(asSet(SnapshotTable.read(spark, root)) ===
      asSet(rows(0 until 20, "a")).filterNot(r => r._1 == 5 || r._1 == 6))
    // v3, v4: two upsert layers on the same key — newest wins
    SnapshotTable.upsert(Seq((3L, "U3", 1L)).toDF("id", "tag", "v"),
      root, mergeOnRead = true)
    SnapshotTable.upsert(Seq((3L, "U4", 2L), (5L, "BACK", 7L))
      .toDF("id", "tag", "v"), root, mergeOnRead = true)
    val got = asSet(SnapshotTable.read(spark, root))
    assert(got.contains((3L, "U4", 2L)) && !got.exists(r =>
      r._1 == 3 && r._2 != "U4"))
    assert(got.contains((5L, "BACK", 7L))) // tombstone superseded
    assert(!got.exists(_._1 == 6))
    // v5: tombstone the revived key again
    SnapshotTable.delete(Seq(3L).toDF("id"), root, mergeOnRead = true)
    assert(!asSet(SnapshotTable.read(spark, root)).exists(_._1 == 3))
    // every intermediate version still resolves under ITS delta set
    assert(asSet(SnapshotTable.read(spark, root, Some(3L)))
      .contains((3L, "U3", 1L)))
  }

  test("blind append interleaves with deltas exactly like " +
      "merge-on-write: later appends coexist, tombstones kill all " +
      "older copies") {
    val root = freshRoot("ap")
    SnapshotTable.create(rows(0 until 10, "a"), root, Seq("id"), 4)
    SnapshotTable.upsert(Seq((2L, "DELTA", 0L)).toDF("id", "tag", "v"),
      root, mergeOnRead = true) // v2
    SnapshotTable.append(Seq((2L, "LATE", 1L)).toDF("id", "tag", "v"),
      root) // v3: blind append AFTER the delta
    val got = asSet(SnapshotTable.read(spark, root))
    // merge-on-write equivalent (upsert v2 then append v3): both rows
    assert(got.filter(_._1 == 2) === Set((2L, "DELTA", 0L), (2L, "LATE", 1L)))
    // duplicate base copies: id 4 appended twice more → 3 copies
    SnapshotTable.append(Seq((4L, "D1", 1L)).toDF("id", "tag", "v"), root)
    SnapshotTable.append(Seq((4L, "D2", 2L)).toDF("id", "tag", "v"), root)
    assert(asSet(SnapshotTable.read(spark, root))
      .count(_._1 == 4) === 3)
    // one tombstone kills every older copy at once
    SnapshotTable.delete(Seq(4L).toDF("id"), root, mergeOnRead = true)
    assert(!asSet(SnapshotTable.read(spark, root)).exists(_._1 == 4))
  }

  test("merge-on-write upsert consumes the deltas of its hit buckets " +
      "only; untouched buckets keep their layers") {
    val root = freshRoot("mix")
    SnapshotTable.create(rows(0 until 50, "a"), root, Seq("id"), 8)
    SnapshotTable.upsert(Seq((3L, "M3", 0L)).toDF("id", "tag", "v"),
      root, mergeOnRead = true) // v2
    SnapshotTable.upsert(Seq((7L, "M7", 0L)).toDF("id", "tag", "v"),
      root, mergeOnRead = true) // v3
    val v3 = snapAt(root, 3)
    val hit = v3.deltas.filter(_.seq == 2L).map(_.bucket).toSet // id 3's
    // merge-on-write on id 3: its bucket's deltas fold into the rewrite
    SnapshotTable.upsert(Seq((3L, "W4", 5L)).toDF("id", "tag", "v"), root)
    val v4 = snapAt(root, 4)
    assert(v4.deltas.forall(d => !hit(d.bucket)))
    assert(v4.deltas.toSet.subsetOf(v3.deltas.toSet))
    val got = asSet(SnapshotTable.read(spark, root))
    assert(got.contains((3L, "W4", 5L)))
    // id 7's layer survives (same bucket as 3 → consumed but content holds)
    assert(got.contains((7L, "M7", 0L)))
    assert(!got.exists(r => r._1 == 3 && r._2 != "W4"))
  }

  test("compact folds deltas away: content identical, metadata count " +
      "restored, history still resolves, connector serves it again") {
    val root = freshRoot("cp")
    SnapshotTable.create(rows(0 until 30, "a"), root, Seq("id"), 4)
    SnapshotTable.upsert(Seq((1L, "U", 0L), (11L, "U", 0L))
      .toDF("id", "tag", "v"), root, mergeOnRead = true) // v2
    SnapshotTable.delete(Seq(2L).toDF("id"), root, mergeOnRead = true) // v3
    val before = asSet(SnapshotTable.read(spark, root))
    // the connector RESOLVES the unresolved snapshot (SnapshotMorScan)
    assert(asSet(spark.read.format("graft-snapshot").load(root)) === before)
    val vC = SnapshotTable.compact(spark, root)
    val snapC = snapAt(root, vC)
    assert(snapC.deltas.isEmpty)
    assert(asSet(SnapshotTable.read(spark, root)) === before)
    assert(snapC.metadataRowCount === Some(before.size.toLong))
    // the delta-bearing version still time-travels correctly
    assert(asSet(SnapshotTable.read(spark, root, Some(3L))) === before)
    // and the connector works again, matching the object API
    assert(asSet(spark.read.format("graft-snapshot").load(root)) === before)
  }

  test("targeted compact resolves only over-fragmented buckets; " +
      "other buckets keep their delta layers") {
    val root = freshRoot("tc")
    SnapshotTable.create(rows(0 until 60, "a"), root, Seq("id"), 8)
    // pile three layers onto id 9's bucket, one onto id 14's
    SnapshotTable.upsert(Seq((9L, "A", 0L)).toDF("id", "tag", "v"),
      root, mergeOnRead = true)
    SnapshotTable.upsert(Seq((9L, "B", 1L)).toDF("id", "tag", "v"),
      root, mergeOnRead = true)
    SnapshotTable.upsert(Seq((9L, "C", 2L)).toDF("id", "tag", "v"),
      root, mergeOnRead = true)
    SnapshotTable.upsert(Seq((14L, "D", 3L)).toDF("id", "tag", "v"),
      root, mergeOnRead = true)
    val before = asSet(SnapshotTable.read(spark, root))
    val cur = SnapshotTable.versions(spark, root).last
    val heavy = cur.deltas.groupBy(_.bucket).filter(_._2.size >= 3).keySet
    assert(heavy.nonEmpty)
    val vC = SnapshotTable.compact(spark, root, maxDirsPerBucket = 3)
    val snapC = snapAt(root, vC)
    // heavy buckets resolved; light delta layers carried forward
    assert(snapC.deltas.forall(d => !heavy(d.bucket)))
    assert(asSet(SnapshotTable.read(spark, root)) === before)
  }

  test("vacuum keeps live delta dirs and reclaims superseded ones " +
      "after compaction") {
    val root = freshRoot("vc")
    SnapshotTable.create(rows(0 until 20, "a"), root, Seq("id"), 4)
    SnapshotTable.upsert(Seq((1L, "U", 0L)).toDF("id", "tag", "v"),
      root, mergeOnRead = true) // v2
    val deltaDirs = snapAt(root, 2).deltas.map(_.dir)
    val expected = asSet(SnapshotTable.read(spark, root))
    SnapshotTable.vacuum(spark, root, keepVersions = 1)
    // the kept (delta-bearing) version still reads: its dirs survived
    assert(asSet(SnapshotTable.read(spark, root)) === expected)
    deltaDirs.foreach(d =>
      assert(new java.io.File(new java.net.URI("file:" + d).getPath +
        "/").exists() || new java.io.File(d).exists()))
    SnapshotTable.compact(spark, root) // v3: deltas folded in
    SnapshotTable.vacuum(spark, root, keepVersions = 1)
    deltaDirs.foreach(d => assert(!new java.io.File(d).exists()))
    assert(asSet(SnapshotTable.read(spark, root)) === expected)
  }

  test("readForKeys resolves deltas inside the pruned buckets") {
    val root = freshRoot("rk")
    SnapshotTable.create(rows(0 until 40, "a"), root, Seq("id"), 8)
    SnapshotTable.upsert(Seq((6L, "NEW", 66L)).toDF("id", "tag", "v"),
      root, mergeOnRead = true)
    SnapshotTable.delete(Seq(8L).toDF("id"), root, mergeOnRead = true)
    val probe = Seq(6L, 8L, 9L).toDF("id")
    assert(asSet(SnapshotTable.readForKeys(probe, root)) ===
      Set((6L, "NEW", 66L), (9L, "a", 90L)))
  }

  test("change feed over mor commits: upsert emits delete(old)+" +
      "insert(new), delete emits deletes, compact diffs empty") {
    val root = freshRoot("cf")
    SnapshotTable.create(rows(0 until 10, "a"), root, Seq("id"), 4)
    SnapshotTable.upsert(
      Seq((1L, "U", 100L), (50L, "NEW", 0L), (2L, "a", 20L))
        .toDF("id", "tag", "v"), root, mergeOnRead = true) // v2
    SnapshotTable.delete(Seq(3L).toDF("id"), root, mergeOnRead = true) // v3
    SnapshotTable.compact(spark, root) // v4
    def changes(a: Long, b: Long) =
      SnapshotTable.readChanges(spark, root, a, b)
        .select(col("id"), col("tag"), col("v"),
          col(SnapshotTable.ChangeTypeCol))
        .as[(Long, String, Long, String)].collect().toSet
    // id 2 rewritten IDENTICALLY → cancels out of the feed
    assert(changes(1, 2) === Set(
      (1L, "a", 10L, "delete"), (1L, "U", 100L, "insert"),
      (50L, "NEW", 0L, "insert")))
    assert(changes(2, 3) === Set((3L, "a", 30L, "delete")))
    assert(changes(3, 4) === Set.empty)
  }

  test("write amplification: a 1-key mor upsert commits a small " +
      "fraction of the bytes the merge-on-write spelling rewrites") {
    def freshBytes(root: String, v: Long): Long = {
      val prev = snapAt(root, v - 1)
      val cur = snapAt(root, v)
      val prevDirs = (prev.entries.map(_._2) ++ prev.deltas.map(_.dir)).toSet
      val curDirs = cur.entries.map(_._2) ++ cur.deltas.map(_.dir)
      curDirs.filterNot(prevDirs).map(cur.dirBytes).sum
    }
    val big = (0 until 20000)
      .map(i => (i.toLong, s"payload_$i" * 8, i.toLong))
      .toDF("id", "tag", "v")
    val rootMor = freshRoot("wa1")
    val rootMow = freshRoot("wa2")
    SnapshotTable.create(big, rootMor, Seq("id"), 4)
    SnapshotTable.create(big, rootMow, Seq("id"), 4)
    val batch = Seq((7L, "upd", 0L)).toDF("id", "tag", "v")
    SnapshotTable.upsert(batch, rootMor, mergeOnRead = true)
    SnapshotTable.upsert(batch, rootMow)
    val morB = freshBytes(rootMor, 2)
    val mowB = freshBytes(rootMow, 2)
    // merge-on-write rewrites the whole hit bucket (~1/4 of 20k rows);
    // merge-on-read writes one row — orders of magnitude, gated at 10x
    assert(morB * 10 < mowB, s"mor=$morB mow=$mowB")
    assert(asSet(SnapshotTable.read(spark, rootMor)) ===
      asSet(SnapshotTable.read(spark, rootMow)))
  }

  test("schema evolution through a mor layer: new column backfills " +
      "null on base rows and survives compaction") {
    val root = freshRoot("ev")
    SnapshotTable.create(rows(0 until 10, "a"), root, Seq("id"), 4)
    SnapshotTable.upsert(
      Seq((1L, "U", 0L, "extra")).toDF("id", "tag", "v", "note"),
      root, mergeSchema = true, mergeOnRead = true)
    val got = SnapshotTable.read(spark, root)
      .select("id", "tag", "v", "note")
      .as[(Long, String, Long, Option[String])].collect().toSet
    assert(got.contains((1L, "U", 0L, Some("extra"))))
    assert(got.contains((2L, "a", 20L, None)))
    SnapshotTable.compact(spark, root)
    assert(SnapshotTable.read(spark, root)
      .select("id", "tag", "v", "note")
      .as[(Long, String, Long, Option[String])].collect().toSet === got)
  }

  /** A 40-row, 8-bucket table with one merge-on-read upsert (row 6
    * replaced, row 41 added) and one merge-on-read delete (row 8), and
    * its literal resolved content — the object API replays through the
    * connector too, so neither can serve as the other's oracle. */
  private def deltaTable(tag: String): (String, Set[(Long, String, Long)]) = {
    val root = freshRoot(tag)
    SnapshotTable.create(rows(0 until 40, "a"), root, Seq("id"), 8)
    SnapshotTable.upsert(Seq((6L, "NEW", 66L), (41L, "INS", 1L))
      .toDF("id", "tag", "v"), root, mergeOnRead = true)
    SnapshotTable.delete(Seq(8L).toDF("id"), root, mergeOnRead = true)
    (root, asSet(rows(0 until 40, "a"))
      .filterNot(r => r._1 == 6L || r._1 == 8L) ++
      Set((6L, "NEW", 66L), (41L, "INS", 1L)))
  }

  test("connector resolves deltas: point-lookup pushdown, column " +
      "pruning, filters on shadowed values, and count(*) all match the " +
      "object API") {
    val (root, oracle) = deltaTable("cn")
    val v2 = spark.read.format("graft-snapshot").load(root)
    assert(asSet(v2) === oracle)
    assert(asSet(SnapshotTable.read(spark, root)) === oracle)
    // key point lookups (pushed → delta buckets pruned alongside base)
    assert(asSet(v2.filter(col("id").isin(6L, 8L, 9L, 41L))) ===
      oracle.filter(r => Set(6L, 8L, 9L, 41L)(r._1)))
    // a filter matching the SHADOWED base value must not resurrect it:
    // base had (6, "a", 60); the delta replaced it
    assert(v2.filter(col("tag") === "a" && col("id") === 6L).count() === 0)
    assert(v2.filter(col("tag") === "NEW").count() === 1)
    // column pruning through the resolving reader (keys re-added
    // internally, projected back out)
    assert(v2.select("tag").where(col("tag") === "INS").count() === 1)
    assert(v2.count() === oracle.size.toLong)
    // SQL row-level ops refuse until compacted (copy-on-write
    // bookkeeping assumes raw dirs)
    spark.conf.set("spark.sql.catalog.mor_t",
      "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.mor_t.warehouse",
      new java.io.File(root).getParent)
    val err = intercept[Exception] {
      spark.sql("UPDATE mor_t.tbl SET v = 0 WHERE id = 6")
    }
    assert(err.getMessage.contains("merge-on-read"))
  }

  /** `action`'s result and the (nodeName, simpleString) of every
    * physical node, per SQL execution it starts — the plan as Spark
    * posts it (AQE's initial plan included), writes and collects
    * alike. */
  private def executedPlans[A](action: => A)
      : (A, Seq[Seq[(String, String)]]) = {
    import org.apache.spark.sql.execution.SparkPlanInfo
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlanInfo]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          plans.add(s.sparkPlanInfo)
        case _ => ()
      }
    }
    ShuffleMetrics.drainBus(spark)
    spark.sparkContext.addSparkListener(l)
    val a = try { val a = action; ShuffleMetrics.drainBus(spark); a }
      finally spark.sparkContext.removeSparkListener(l)
    def nodes(p: SparkPlanInfo): Seq[(String, String)] =
      (p.nodeName, p.simpleString) +: p.children.toSeq.flatMap(nodes)
    (a, plans.toArray(Array.empty[SparkPlanInfo]).toSeq.map(nodes))
  }

  test("one replay for every reader: a delta-bearing read and compact's " +
      "prior read plan the partition-local merge-on-read scan with no " +
      "exchange and no join; a keyless positional read plans the " +
      "positional scan") {
    val (root, expected) = deltaTable("plan")
    def isJoin(n: (String, String)) = n._1.contains("Join")
    def isExchange(n: (String, String)) = n._1.contains("Exchange")
    def replaying(plans: Seq[Seq[(String, String)]], scan: String) =
      plans.filter(_.exists(_._2.contains(scan)))
    val (got, readPlans) = executedPlans(asSet(SnapshotTable.read(spark, root)))
    val reads = replaying(readPlans, "merge-on-read (")
    assert(got === expected)
    assert(reads.size === 1, reads)
    assert(!reads.head.exists(n => isJoin(n) || isExchange(n)), reads.head)
    // compact's prior read: the write plan's only exchange is the
    // commit's own repartition on the bucket column
    val compacts = replaying(
      executedPlans(SnapshotTable.compact(spark, root))._2, "merge-on-read (")
    assert(compacts.size === 1, compacts)
    assert(!compacts.head.exists(isJoin), compacts.head)
    val exchanges = compacts.head.filter(isExchange)
    assert(exchanges.size === 1 &&
      exchanges.head._2.contains("hashpartitioning(_gb"), compacts.head)
    assert(asSet(SnapshotTable.read(spark, root)) === expected)
    // keyless: positions only, through the positional scan
    val kl = freshRoot("planpos")
    SnapshotTable.create(rows(0 until 20, "a"), kl, Seq.empty, 1)
    SnapshotTable.deleteWhere(spark, kl, col("id") < 5L, mergeOnRead = true)
    val (posGot, posPlans) = executedPlans(asSet(SnapshotTable.read(spark, kl)))
    val pos = replaying(posPlans, "positional merge-on-read (")
    assert(posGot === asSet(rows(5 until 20, "a")))
    assert(pos.size === 1, pos)
    assert(!pos.head.exists(n => isJoin(n) || isExchange(n)), pos.head)
  }

  test("mor ops refuse a keyless table") {
    val root = freshRoot("kl")
    SnapshotTable.create(rows(0 until 5, "a"), root, Seq.empty, 1)
    intercept[IllegalArgumentException] {
      SnapshotTable.upsert(rows(0 until 2, "b"), root, mergeOnRead = true)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.delete(Seq(1L).toDF("id"), root, mergeOnRead = true)
    }
  }

  // ---- positional (deletion-vector) merge-on-read: the KEYLESS shape ----

  test("keyless positional delete: O(matched) tombstone commit, exact " +
      "three-valued DELETE semantics, stacking deletes, appends " +
      "interleave, time travel serves pre-delete content, compact " +
      "folds the layer away") {
    val root = freshRoot("pos")
    val d = (0 until 100).map(i =>
      (i.toLong, if (i % 10 == 0) null else s"t${i % 3}", i * 10L))
      .toDF("id", "tag", "v")
    SnapshotTable.create(d, root, Seq.empty, 1)
    // rows where tag = 't1' go; NULL-tag rows STAY (condition NULL)
    SnapshotTable.deleteWhere(spark, root, col("tag") === "t1",
      mergeOnRead = true)
    val head1 = SnapshotTable.versions(spark, root).last
    assert(head1.op === "delete-pos" &&
      head1.deltas.map(_.kind) === Seq("pos"))
    val expect1 = asSet(d.filter(
      not(coalesce(col("tag") === "t1", lit(false)))))
    assert(asSet(SnapshotTable.read(spark, root)) === expect1)
    assert(SnapshotTable.read(spark, root)
      .filter(col("tag").isNull).count() === 10L)
    // a second delete stacks (and never re-records dead positions)
    SnapshotTable.deleteWhere(spark, root, col("v") >= 900L,
      mergeOnRead = true)
    val expect2 = expect1.filter(_._3 < 900L)
    assert(asSet(SnapshotTable.read(spark, root)) === expect2)
    // appended rows interleave: older tombstones can't touch new files
    SnapshotTable.append(Seq((1000L, "t1", 5L)).toDF("id", "tag", "v"), root)
    assert(asSet(SnapshotTable.read(spark, root)) ===
      expect2 + ((1000L, "t1", 5L)))
    // time travel: pre-delete content intact
    assert(asSet(SnapshotTable.read(spark, root, Some(1L))) === asSet(d))
    // compact folds the positional layer away
    SnapshotTable.compact(spark, root)
    val folded = SnapshotTable.versions(spark, root).last
    assert(folded.deltas.isEmpty)
    assert(asSet(SnapshotTable.read(spark, root)) ===
      expect2 + ((1000L, "t1", 5L)))
  }

  test("keyless positional write amplification: the delete commits " +
      "< 1/10 the bytes of the copy-on-write spelling, with identical " +
      "resolved content") {
    def freshBytes(root: String, v: Long): Long = {
      val prev = snapAt(root, v - 1)
      val cur = snapAt(root, v)
      val prevDirs = (prev.entries.map(_._2) ++ prev.deltas.map(_.dir)).toSet
      val curDirs = cur.entries.map(_._2) ++ cur.deltas.map(_.dir)
      curDirs.filterNot(prevDirs).map(cur.dirBytes).sum
    }
    val big = (0 until 20000)
      .map(i => (i.toLong, s"payload_$i" * 8, i.toLong))
      .toDF("id", "tag", "v")
    val rootPos = freshRoot("wap1")
    val rootCow = freshRoot("wap2")
    SnapshotTable.create(big, rootPos, Seq.empty, 1)
    SnapshotTable.create(big, rootCow, Seq.empty, 1)
    SnapshotTable.deleteWhere(spark, rootPos, col("v") === 7L,
      mergeOnRead = true)
    SnapshotTable.deleteWhere(spark, rootCow, col("v") === 7L)
    val posB = freshBytes(rootPos, 2)
    val cowB = freshBytes(rootCow, 2)
    assert(posB * 10 < cowB, s"pos=$posB cow=$cowB")
    assert(asSet(SnapshotTable.read(spark, rootPos)) ===
      asSet(SnapshotTable.read(spark, rootCow)))
  }

  test("the CONNECTOR replays positional deltas: full scan, pushed " +
      "filters, column pruning, and SQL DELETE on a keyless catalog " +
      "table takes the positional path") {
    val root = freshRoot("posconn")
    val d = (0 until 200).map(i => (i.toLong, s"t${i % 4}", i * 10L))
      .toDF("id", "tag", "v")
    SnapshotTable.create(d, root, Seq.empty, 1)
    SnapshotTable.deleteWhere(spark, root, col("tag") === "t2",
      mergeOnRead = true)
    val expect = asSet(d.filter(col("tag") =!= "t2"))
    def scan = spark.read.format("graft-snapshot").load(root)
    assert(asSet(scan) === expect)
    // pushed filter composes with the replay (never resurrects)
    assert(scan.filter(col("tag") === "t2").count() === 0L)
    assert(scan.filter(col("v") < 100L).count() ===
      expect.count(_._3 < 100L).toLong)
    // column pruning through the replay
    assert(scan.select("v").as[Long].collect().sorted.toSeq ===
      expect.map(_._3).toSeq.sorted)
    // SQL end-to-end through the catalog: DELETE is O(matched), SELECT
    // resolves through the positional scan
    val wh = java.nio.file.Files.createTempDirectory("graft_pos_wh")
    wh.toFile.deleteOnExit()
    spark.conf.set("spark.sql.catalog.poscat",
      "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.poscat.warehouse", wh.toString)
    spark.sql("CREATE TABLE poscat.kl (id BIGINT, tag STRING, v BIGINT)" +
      " TBLPROPERTIES ('buckets'='1')")
    spark.sql("INSERT INTO poscat.kl SELECT id, concat('t', id % 4), " +
      "id * 10 FROM range(200)")
    spark.sql("DELETE FROM poscat.kl WHERE v >= 1000 AND v < 1500")
    val klRoot = s"$wh/kl"
    assert(SnapshotTable.versions(spark, klRoot).last.op === "delete-pos")
    assert(spark.sql("SELECT count(*) FROM poscat.kl").as[Long].head() ===
      150L)
    assert(spark.sql("SELECT sum(v) FROM poscat.kl WHERE v < 1200")
      .as[Long].head() === (0 until 100).map(_ * 10L).sum)
  }

  test("positional deletes stage against a BRANCH: main readers see " +
      "nothing until fast-forward; the published line resolves the " +
      "positions exactly") {
    val root = freshRoot("posbranch")
    SnapshotTable.create(rows(0 until 20, "a"), root, Seq.empty, 1)
    SnapshotTable.createBranch(spark, root, "audit")
    SnapshotTable.deleteWhere(spark, root, col("id") < 5L,
      mergeOnRead = true, branch = Some("audit"))
    assert(SnapshotTable.read(spark, root).count() === 20L) // main intact
    assert(SnapshotTable.read(spark, root, branch = Some("audit"))
      .count() === 15L)
    SnapshotTable.fastForward(spark, root, "audit")
    assert(asSet(SnapshotTable.read(spark, root)) ===
      asSet(rows(5 until 20, "a")))
  }

  test("positional deletes fail-fast on concurrent data commits; " +
      "change feed reports the deleted rows") {
    val root = freshRoot("posguard")
    SnapshotTable.create(rows(0 until 20, "a"), root, Seq.empty, 1,
      changeFeed = true)
    // change feed: recorded change file carries the deleted rows
    SnapshotTable.deleteWhere(spark, root, col("id") < 3L,
      mergeOnRead = true)
    val feed = SnapshotTable.readChanges(spark, root, 1L, 2L)
    assert(feed.filter(col("_change_type") === "delete")
      .select("id").as[Long].collect().toSet === Set(0L, 1L, 2L))
    // and the batch-diff spelling agrees on a NON-feed table
    val root2 = freshRoot("posdiff")
    SnapshotTable.create(rows(0 until 20, "a"), root2, Seq.empty, 1)
    SnapshotTable.deleteWhere(spark, root2, col("id") < 3L,
      mergeOnRead = true)
    val feed2 = SnapshotTable.readChanges(spark, root2, 1L, 2L)
    assert(feed2.filter(col("_change_type") === "delete")
      .select("id").as[Long].collect().toSet === Set(0L, 1L, 2L))
    assert(feed2.filter(col("_change_type") === "insert").count() === 0L)
  }

  // ---- KEYED positional (deletion-vector) deleteWhere ----

  test("keyed positional delete: per-bucket pos dirs, O(matched) " +
      "commit, exact reads, deleted keys revive through later writes") {
    val root = freshRoot("kpos")
    SnapshotTable.create(rows(0 until 40, "a"), root, Seq("id"), 4)
    val v2 = SnapshotTable.deleteWhere(spark, root, col("id") % 5L === 0L,
      mergeOnRead = true)
    val snap = snapAt(root, v2)
    assert(snap.op === "delete-pos")
    // base manifest lines carried verbatim, tombstones are pos deltas
    // bucket-routed by the matched keys' hash
    assert(snap.entries === snapAt(root, 1L).entries)
    assert(snap.deltas.nonEmpty && snap.deltas.forall(d =>
      d.kind === "pos" && d.seq === v2))
    assert(asSet(SnapshotTable.read(spark, root)) ===
      asSet(rows(0 until 40, "a").filter(col("id") % 5 =!= 0)))
    // a fresh blind append of a deleted key lives (positions pin only
    // the files that existed at delete time)
    SnapshotTable.append(Seq((5L, "BACK", 1L)).toDF("id", "tag", "v"), root)
    assert(asSet(SnapshotTable.read(spark, root))
      .filter(_._1 == 5L) === Set((5L, "BACK", 1L)))
    // and a mor upsert of another deleted key revives it
    SnapshotTable.upsert(Seq((10L, "UP", 2L)).toDF("id", "tag", "v"),
      root, mergeOnRead = true)
    assert(asSet(SnapshotTable.read(spark, root))
      .filter(_._1 == 10L) === Set((10L, "UP", 2L)))
    // zero matches: no commit
    val head = SnapshotTable.versions(spark, root).map(_.version).max
    assert(SnapshotTable.deleteWhere(spark, root, col("id") === -99L,
      mergeOnRead = true) === head)
  }

  test("keyed positional delete matches the copy-on-write twin across " +
      "pending event layers, blind-append copies, and shadowed versions") {
    def build(mor: Boolean): String = {
      val root = freshRoot(if (mor) "kposm" else "kposc")
      SnapshotTable.create(rows(0 until 30, "a"), root, Seq("id"), 4)
      // blind-append copies of key 3 (only one matches the predicate)
      SnapshotTable.append(Seq((3L, "COPY", 777L)).toDF("id", "tag", "v"),
        root)
      // pending event layers: a delta winner for 6 (shadowing v=60) and
      // a keyed tombstone for 7
      SnapshotTable.upsert(Seq((6L, "WIN", 600L)).toDF("id", "tag", "v"),
        root, mergeOnRead = true)
      SnapshotTable.delete(Seq(7L).toDF("id"), root, mergeOnRead = true)
      // the predicate matches: the WINNER of 6 (v=600), one copy of 3
      // (v=777), and the plain rows 5/15/25 (v%100==50 none; use v set)
      SnapshotTable.deleteWhere(spark, root,
        col("v") === 600L || col("v") === 777L || col("v") === 50L,
        mergeOnRead = mor)
      root
    }
    val mor = build(mor = true)
    val cow = build(mor = false)
    assert(asSet(SnapshotTable.read(spark, mor)) ===
      asSet(SnapshotTable.read(spark, cow)))
    // key 6 is fully gone (its shadowed base version v=60 must NOT
    // resurrect through replay), key 3's untouched copy survives
    val got = asSet(SnapshotTable.read(spark, mor))
    assert(!got.exists(_._1 == 6L))
    assert(got.filter(_._1 == 3L) === Set((3L, "a", 30L)))
    // shadowed versions are not live: a predicate hitting ONLY the
    // shadowed v=60 of key 6 is a no-op on a fresh twin
    val root3 = freshRoot("kposhid")
    SnapshotTable.create(rows(0 until 10, "a"), root3, Seq("id"), 2)
    SnapshotTable.upsert(Seq((6L, "WIN", 600L)).toDF("id", "tag", "v"),
      root3, mergeOnRead = true)
    val head = SnapshotTable.versions(spark, root3).map(_.version).max
    assert(SnapshotTable.deleteWhere(spark, root3, col("v") === 60L,
      mergeOnRead = true) === head)
    assert(asSet(SnapshotTable.read(spark, root3))
      .filter(_._1 == 6L) === Set((6L, "WIN", 600L)))
  }

  test("the connector serves keyed positional layers: pos-only via the " +
      "positional scan, mixed kinds via the replaying scan, pushdown " +
      "stays exact; compaction folds the layer away") {
    val root = freshRoot("kposconn")
    SnapshotTable.create(rows(0 until 100, "a"), root, Seq("id"), 8)
    SnapshotTable.deleteWhere(spark, root, col("id") % 10L === 0L,
      mergeOnRead = true)
    val df = spark.read.format("graft-snapshot").load(root)
    // pos-only keyed snapshot plans the positional scan
    assert(df.queryExecution.executedPlan.toString
      .contains("positional merge-on-read"))
    assert(df.count() === 90L)
    assert(df.filter(col("id") === 20L).count() === 0L)
    assert(df.filter(col("id") === 21L).select("v").as[Long].head() === 210L)
    // layer an event delta on top: mixed kinds plan the replaying scan
    SnapshotTable.upsert(Seq((21L, "UP", 1L)).toDF("id", "tag", "v"),
      root, mergeOnRead = true)
    val df2 = spark.read.format("graft-snapshot").load(root)
    assert(df2.queryExecution.executedPlan.toString
      .contains("merge-on-read ("))
    assert(df2.count() === 90L)
    assert(df2.filter(col("id") === 21L).select("tag").as[String]
      .head() === "UP")
    assert(df2.filter(col("id") === 30L).count() === 0L)
    // readForKeys prunes buckets and still resolves the pos layer
    assert(SnapshotTable.readForKeys(
      Seq(10L, 11L).toDF("id"), root).count() === 1L)
    // compaction folds everything; the plain pruned scan returns
    val vC = SnapshotTable.compact(spark, root)
    assert(snapAt(root, vC).deltas.isEmpty)
    assert(spark.read.format("graft-snapshot").load(root).count() === 90L)
  }

  test("keyed positional write amplification: the delete commits " +
      "O(matched) bytes, never a bucket rewrite; targeted compaction " +
      "folds only the fragmented buckets' pos lines") {
    val root = freshRoot("kposamp")
    SnapshotTable.create(rows(0 until 2000, "a"), root, Seq("id"), 4)
    val baseBytes = snapAt(root, 1L).dirBytes.values.sum
    val v2 = SnapshotTable.deleteWhere(spark, root, col("id") === 42L,
      mergeOnRead = true)
    val snap = snapAt(root, v2)
    val posBytes = snap.deltas.map(d => snap.dirBytes(d.dir)).sum
    assert(posBytes > 0 && posBytes < baseBytes / 10,
      s"1-row positional delete wrote $posBytes bytes vs $baseBytes base")
    // the single matched key tombstones exactly one bucket's line
    assert(snap.deltas.map(_.bucket).distinct.size === 1)
    // targeted compaction with a threshold only the pos-bearing bucket
    // exceeds folds that bucket and carries the rest verbatim
    val vC = SnapshotTable.compact(spark, root, maxDirsPerBucket = 1)
    val after = snapAt(root, vC)
    assert(after.deltas.isEmpty)
    assert(SnapshotTable.read(spark, root).count() === 1999L)
  }

  test("keyed positional delete change feed: cdc commits record the " +
      "resolved deleted rows; the batch-diff spelling agrees without " +
      "a feed") {
    def run(feed: Boolean): Unit = {
      val root = freshRoot(s"kposcdf$feed")
      SnapshotTable.create(rows(0 until 20, "a"), root, Seq("id"), 2,
        changeFeed = feed)
      SnapshotTable.upsert(Seq((4L, "WIN", 400L)).toDF("id", "tag", "v"),
        root, mergeOnRead = true)
      SnapshotTable.deleteWhere(spark, root,
        col("id") === 4L || col("id") === 9L, mergeOnRead = true)
      val v = SnapshotTable.versions(spark, root).map(_.version).max
      val changes = SnapshotTable.readChanges(spark, root, v - 1, v)
      assert(changes.filter(col("_change_type") === "delete")
        .select("id", "tag", "v").as[(Long, String, Long)].collect()
        .toSet === Set((4L, "WIN", 400L), (9L, "a", 90L)),
        s"feed=$feed")
      assert(changes.filter(col("_change_type") === "insert")
        .count() === 0L, s"feed=$feed")
    }
    run(feed = true)
    run(feed = false)
  }

  // ---- planning: one inner parquet builder per reader role, once ----

  private def triples(rs: Array[org.apache.spark.sql.Row]) =
    rs.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  /** `df`'s rows, and the inner parquet builders made by optimization
    * and physical planning (`sparkPlan`), by `executedPlan` and the
    * collect after it, and by `executedPlan` alone. */
  private def builderCounts(df: org.apache.spark.sql.DataFrame)
      : (Array[org.apache.spark.sql.Row], Seq[Long]) = {
    val qe = df.queryExecution
    def now = SnapshotTable.scanBuilders.get
    val b0 = now
    qe.sparkPlan
    val b1 = now
    qe.executedPlan
    val b2 = now
    val got = df.collect()
    (got, Seq(b1 - b0, now - b1, b2 - b1))
  }

  private def planCounts(df: org.apache.spark.sql.DataFrame)
      : (Set[(Long, String, Long)], Seq[Long]) = {
    val (got, counts) = builderCounts(df)
    (triples(got), counts)
  }

  test("snapshot connector scans plan once: one inner parquet builder " +
      "per reader role, the same on 4 and 16 buckets, and none when " +
      "executedPlan re-plans sparkPlan or the collect runs") {
    // every key the merge-on-read commits touch hashes to ONE bucket
    // under 16 buckets, hence to one under 4; the lookup also probes two
    // keys of buckets that stay clean under both layouts
    val bucket16 = spark.range(0, 400)
      .select(col("id"), pmod(hash(col("id")), lit(16)))
      .as[(Long, Int)].collect().toMap
    val b0 = bucket16(3L)
    val touched = bucket16.keys.toSeq.sorted.filter(bucket16(_) == b0)
    val cleanKeys = bucket16.keys.toSeq.sorted
      .filter(k => bucket16(k) % 4 != b0 % 4).take(2)
    val probe = touched.take(7) ++ cleanKeys
    def counts(buckets: Int): Seq[Seq[Long]] = {
      val root = freshRoot(s"plan$buckets")
      SnapshotTable.create(rows(0 until 400, "a"), root, Seq("id"), buckets)
      SnapshotTable.append(rows(400 until 440, "b"), root)
      SnapshotTable.upsert(touched.take(3).map(i => (i, "U1", 1L))
        .toDF("id", "tag", "v"), root, mergeOnRead = true)
      SnapshotTable.upsert(touched.slice(2, 5).map(i => (i, "U2", 2L))
        .toDF("id", "tag", "v"), root, mergeOnRead = true)
      SnapshotTable.delete(touched.slice(5, 7).toDF("id"), root,
        mergeOnRead = true)
      val upd = touched.take(2).map(i => i -> ((i, "U1", 1L))).toMap ++
        touched.slice(2, 5).map(i => i -> ((i, "U2", 2L)))
      val live = (rows(0 until 400, "a").as[(Long, String, Long)].collect()
        .toSeq ++ rows(400 until 440, "b").as[(Long, String, Long)]
        .collect().toSeq)
        .filterNot(r => upd.contains(r._1) || touched.slice(5, 7)
          .contains(r._1)).toSet ++ upd.values
      // full read: replay roles base, delta rows, keyed tombstones
      val (read, readC) = planCounts(SnapshotTable.read(spark, root))
      assert(read === live)
      // lookup: the clean buckets' role too
      val (hit, hitC) = planCounts(spark.read.format("graft-snapshot")
        .load(root).filter(col("id").isin(probe: _*)))
      assert(hit === live.filter(r => probe.contains(r._1)))
      // compacted: the clean scan's one role
      SnapshotTable.compact(spark, root)
      val (clean, cleanC) =
        planCounts(spark.read.format("graft-snapshot").load(root))
      assert(clean === live)
      // keyed positional delete: positional base and tombstone roles
      SnapshotTable.deleteWhere(spark, root, col("id") === cleanKeys.head,
        mergeOnRead = true)
      val (pos, posC) = planCounts(SnapshotTable.read(spark, root))
      assert(pos === live.filter(_._1 != cleanKeys.head))
      Seq(readC, hitC, cleanC, posC)
    }
    val four = counts(4)
    val sixteen = counts(16)
    assert(four.map(_.head) === Seq(3L, 4L, 1L, 2L), four)
    assert(four.forall(_.tail === Seq(0L, 0L)), four)
    assert(sixteen === four)
  }

  test("a batch change-feed read plans its range as two reader roles: " +
      "at most 2 inner parquet builders over appends and feed upserts, " +
      "none when executedPlan re-plans sparkPlan or the collect runs") {
    val root = freshRoot("cdfplan")
    SnapshotTable.create(rows(0 until 40, "a"), root, Seq("id"), 4,
      changeFeed = true)
    SnapshotTable.append(rows(40 until 50, "b"), root)
    SnapshotTable.upsert(rows(0 until 5, "u"), root)
    SnapshotTable.append(rows(50 until 60, "c"), root)
    SnapshotTable.upsert(rows(45 until 55, "w"), root)
    val (got, counts) = builderCounts(spark.read.format("graft-snapshot")
      .option("readChangeFeed", "true").option("startingVersion", 1)
      .option("endingVersion", 5).load(root)
      .select("_change_type", "_commit_version", "id", "tag", "v"))
    def feed(kind: String, v: Long, ids: Range, tag: String) =
      ids.map(i => (kind, v, i.toLong, tag, i * 10L))
    val expected = feed("insert", 1, 0 until 40, "a") ++
      feed("insert", 2, 40 until 50, "b") ++
      feed("insert", 3, 0 until 5, "u") ++ feed("delete", 3, 0 until 5, "a") ++
      feed("insert", 4, 50 until 60, "c") ++
      feed("insert", 5, 45 until 55, "w") ++
      feed("delete", 5, 45 until 50, "b") ++ feed("delete", 5, 50 until 55, "c")
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getString(3), r.getLong(4))).toSeq.sorted === expected.sorted)
    assert(counts.head <= 2L && counts.tail === Seq(0L, 0L), counts)
  }

  test("the snapshot source plans each micro-batch as one reader role: " +
      "AvailableNow runs whose batches include an empty one serve every " +
      "row once, with one inner parquet builder per non-empty batch") {
    import org.apache.spark.sql.streaming.Trigger
    val root = freshRoot("streamplan")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_mor_streamplan_ckpt").toString
    SnapshotTable.create(rows(0 until 16, "a"), root, Seq("id"), 2)
    /** One AvailableNow drain: (served rows, per-batch row counts, inner
      * parquet builders made). */
    def drain(): (Seq[(Long, String, Long)], Seq[Int], Long) = {
      val served = new java.util.concurrent.ConcurrentLinkedQueue[
        (Long, String, Long)]()
      val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val b0 = SnapshotTable.scanBuilders.get
      spark.readStream.format("graft-snapshot")
        .option("maxFilesPerTrigger", "1").load(root)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val got = b.collect()
          sizes.add(got.length)
          got.foreach(r => served.add((r.getLong(0), r.getString(1),
            r.getLong(2))))
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      import scala.jdk.CollectionConverters._
      (served.asScala.toSeq, sizes.asScala.toSeq,
        SnapshotTable.scanBuilders.get - b0)
    }
    val (initial, initSizes, initBuilders) = drain()
    assert(initial.sorted === triples(rows(0 until 16, "a").collect())
      .toSeq.sorted)
    assert(initBuilders === initSizes.count(_ > 0).toLong, initSizes)
    // two appends of one dir per bucket, then a content-neutral compact:
    // one file per batch, and the compact's batch serves no dir
    SnapshotTable.append(rows(16 until 24, "b"), root)
    SnapshotTable.append(rows(24 until 32, "c"), root)
    SnapshotTable.compact(spark, root)
    val (tail, tailSizes, tailBuilders) = drain()
    assert(tail.sorted === (triples(rows(16 until 24, "b").collect()) ++
      triples(rows(24 until 32, "c").collect())).toSeq.sorted)
    assert(tailSizes.count(_ == 0) >= 1 && tailSizes.count(_ > 0) > 1,
      tailSizes)
    assert(tailBuilders === tailSizes.count(_ > 0).toLong, tailSizes)
  }

  test("splits regroup exactly: with tiny split sizes, keyed " +
      "merge-on-read, keyless and keyed positional reads return literal " +
      "rows, and a clean 16-bucket scan plans one key group and, at " +
      "default split sizes, one partition per bucket") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.catalyst.plans.physical.KeyGroupedPartitioning
    def scans(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    val tiny = Seq("spark.sql.files.maxPartitionBytes" -> "4096",
      "spark.sql.files.openCostInBytes" -> "1024",
      // several row groups per data file, so splits really cut files
      "parquet.block.size" -> "2048",
      "spark.sql.sources.v2.bucketing.enabled" -> "true")
    val saved = tiny.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption.filter(_ != null) }
    val all = (0 until 2000).map(i => (i.toLong, "a", i * 10L)).toSet
    try {
      tiny.foreach { case (k, v) => spark.conf.set(k, v) }
      // keyed merge-on-read: replacements, an insert and tombstones
      val mor = freshRoot("splitmor")
      SnapshotTable.create(rows(0 until 2000, "a"), mor, Seq("id"), 4)
      SnapshotTable.upsert(Seq((5L, "U", 1L), (1500L, "U", 2L),
        (2500L, "NEW", 3L)).toDF("id", "tag", "v"), mor, mergeOnRead = true)
      SnapshotTable.delete(Seq(6L, 1501L).toDF("id"), mor,
        mergeOnRead = true)
      val morRows = all.filterNot(r => Set(5L, 6L, 1500L, 1501L)(r._1)) ++
        Set((5L, "U", 1L), (1500L, "U", 2L), (2500L, "NEW", 3L))
      val connector = spark.read.format("graft-snapshot").load(mor)
      val morSplits = scans(connector).flatMap(_.inputPartitions).map {
        case m: graft.sources.MorInputPartition => m.base.size
        case _ => 0
      }.sum
      val morFiles = snapAt(mor, 1L).dirFiles.values.map(_.size).sum
      assert(morSplits > morFiles, s"$morSplits splits of $morFiles files")
      assert(triples(connector.collect()) === morRows)
      assert(asSet(SnapshotTable.read(spark, mor)) === morRows)
      // keyless positional: row indexes name rows across splits
      val kl = freshRoot("splitkl")
      SnapshotTable.create(rows(0 until 2000, "a"), kl, Seq.empty, 1)
      SnapshotTable.deleteWhere(spark, kl, col("id") % 7L === 0L,
        mergeOnRead = true)
      assert(asSet(SnapshotTable.read(spark, kl)) === all.filter(_._1 % 7 != 0))
      val ids = spark.read.format("graft-snapshot").load(kl)
        .select("_sdv_file", "_sdv_pos")
        .as[(String, Long)].collect()
      assert(ids.length === all.count(_._1 % 7 != 0) &&
        ids.distinct.length === ids.length)
      // keyed positional deleteWhere, stacked twice
      val kp = freshRoot("splitkp")
      SnapshotTable.create(rows(0 until 2000, "a"), kp, Seq("id"), 4)
      SnapshotTable.deleteWhere(spark, kp, col("id") % 9L === 0L,
        mergeOnRead = true)
      SnapshotTable.deleteWhere(spark, kp, col("v") >= 19000L,
        mergeOnRead = true)
      assert(asSet(SnapshotTable.read(spark, kp)) ===
        all.filter(r => r._1 % 9 != 0 && r._3 < 19000L))
      // a clean 16-bucket scan (through a catalog, which resolves the
      // bucket transform): one key group per bucket however the files
      // split
      val clean = freshRoot("split16")
      SnapshotTable.create(rows(0 until 8000, "a"), clean, Seq("id"), 16)
      spark.conf.set("spark.sql.catalog.splitcat",
        "graft.sources.SnapshotCatalog")
      spark.conf.set("spark.sql.catalog.splitcat.warehouse",
        new java.io.File(clean).getParent)
      val cleanScan = spark.table("splitcat.tbl")
      scans(cleanScan) match {
        case Seq(b) => b.outputPartitioning match {
          case k: KeyGroupedPartitioning =>
            assert(k.partitionValues.size === 16)
            assert(b.inputPartitions.size > 16, "files did not split")
          case other => fail(s"expected key-grouped partitioning: $other")
        }
        case other => fail(s"expected one scan: $other")
      }
      assert(triples(cleanScan.collect()) ===
        (0 until 8000).map(i => (i.toLong, "a", i * 10L)).toSet)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // default split sizes: two appends give every bucket three small
    // files, and the scan packs each bucket's files into one partition
    val packed = freshRoot("packed16")
    SnapshotTable.create(rows(0 until 2000, "a"), packed, Seq("id"), 16)
    SnapshotTable.append(rows(2000 until 2400, "b"), packed)
    SnapshotTable.append(rows(2400 until 2800, "c"), packed)
    val packedScan = spark.read.format("graft-snapshot").load(packed)
    assert(scans(packedScan).map(_.inputPartitions.size) === Seq(16))
    assert(packedScan.count() === 2800L)
  }
}
