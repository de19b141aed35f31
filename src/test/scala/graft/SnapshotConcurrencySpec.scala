package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Materialize
import graft.sources.SnapshotTable
import graft.sources.SnapshotTable.ConcurrentCommitException

/** Multi-writer optimistic concurrency on the snapshot table: the
  * `retries` rebase loop. Deterministic interleavings are injected with
  * [[Materialize.Tap]] (the hook runs between a writer's base-snapshot
  * read and its publish); one stochastic thread test covers the
  * lock-contended append path end-to-end. */
class SnapshotConcurrencySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_conc_$tag")
    d.toFile.deleteOnExit()
    new java.io.File(d.toFile, "tbl").getAbsolutePath
  }

  private def rows(ids: Seq[Long], tag: String) =
    ids.map(i => (i, tag, i * 10L)).toDF("id", "tag", "v")

  private def asSet(df: DataFrame) =
    df.select("id", "tag", "v").as[(Long, String, Long)].collect().toSet

  private val Buckets = 8

  /** The production bucket hash, computed through the same plan. */
  private def bucketOf(id: Long): Int =
    Seq(id).toDF("id")
      .select(pmod(hash(col("id")), lit(Buckets))).head().getInt(0)

  // ids landing in provably distinct / identical buckets
  private lazy val (idA, idB, idC) = {
    val byBucket = (0L until 64L).groupBy(bucketOf)
    val twoBuckets = byBucket.filter(_._2.size >= 2).take(2).toSeq
    val (_, as) = twoBuckets.head
    val (_, bs) = twoBuckets(1)
    (as.head, bs.head, as(1)) // A and C share a bucket, B is elsewhere
  }

  private def commitDirs(root: String): Set[String] = {
    val data = new java.io.File(root, "data")
    if (!data.isDirectory) Set.empty
    else data.listFiles.filter(_.isDirectory).map(_.getName).toSet
  }

  test("upsert rebases over a concurrent disjoint-bucket upsert: both " +
      "land, the staged dir is renamed to the published version, no " +
      "orphan remains") {
    val root = freshRoot("disjoint")
    SnapshotTable.create(rows(0L until 64L, "base"), root, Seq("id"), Buckets)
    val tap = Materialize.Tap(() => {
      SnapshotTable.upsert(rows(Seq(idB), "B"), root) // wins version 2
      ()
    })
    val v = SnapshotTable.upsert(rows(Seq(idA), "A"), root,
      mat = tap, retries = 2)
    assert(v === 3L)
    val vs = SnapshotTable.versions(spark, root)
    assert(vs.map(s => (s.version, s.op)) ===
      Seq((1L, "create"), (2L, "upsert"), (3L, "upsert")))
    val expect = asSet(rows(0L until 64L, "base")) -
      ((idA, "base", idA * 10)) - ((idB, "base", idB * 10)) +
      ((idA, "A", idA * 10)) + ((idB, "B", idB * 10))
    assert(asSet(SnapshotTable.read(spark, root)) === expect)
    // the rebased writer's dirs live under c3-, every manifest dir
    // exists, and no unreferenced commit dir is left behind
    val head = vs.last
    val referenced = vs.flatMap(s => s.entries.map(_._2) ++
      s.deltas.map(_.dir)).map(d => d.split("/data/")(1).split("/")(0)).toSet
    assert(head.entries.exists(_._2.contains("/data/c3-")))
    assert(commitDirs(root) === referenced)
  }

  test("a partitioned upsert rebases over a concurrent disjoint-bucket " +
      "upsert: its staged partition leaves move with the commit dir") {
    val root = freshRoot("partitioned")
    def prows(ids: Seq[Long], tag: String) =
      rows(ids, tag).withColumn("p", col("id") % 2L)
    SnapshotTable.create(prows(0L until 64L, "base"), root, Seq("id"),
      Buckets, partitionBy = Seq("p"))
    val tap = Materialize.Tap(() => {
      SnapshotTable.upsert(prows(Seq(idB), "B"), root) // wins version 2
      ()
    })
    val v = SnapshotTable.upsert(prows(Seq(idA), "A"), root,
      mat = tap, retries = 2)
    assert(v === 3L)
    val expect = asSet(rows(0L until 64L, "base")) -
      ((idA, "base", idA * 10)) - ((idB, "base", idB * 10)) +
      ((idA, "A", idA * 10)) + ((idB, "B", idB * 10))
    assert(asSet(SnapshotTable.read(spark, root)) === expect)
    val head = SnapshotTable.versions(spark, root).last
    assert(head.entries.exists(_._2.contains("/data/c3-")))
    assert(head.entries.forall(e => new java.io.File(e._2).isDirectory))
  }

  test("upsert rebase is REFUSED when a concurrent commit rewrote a hit " +
      "bucket — same-key and same-bucket writers conflict loudly") {
    val root = freshRoot("conflict")
    SnapshotTable.create(rows(0L until 64L, "base"), root, Seq("id"), Buckets)
    val tap = Materialize.Tap(() => {
      SnapshotTable.upsert(rows(Seq(idC), "C"), root) // same bucket as idA
      ()
    })
    val e = intercept[ConcurrentCommitException](
      SnapshotTable.upsert(rows(Seq(idA), "A"), root, mat = tap,
        retries = 3))
    assert(e.getMessage.contains("rebase unsafe"))
    // the loser's work is invisible; the winner's is intact
    assert(asSet(SnapshotTable.read(spark, root)) ===
      asSet(rows(0L until 64L, "base")) - ((idC, "base", idC * 10)) +
        ((idC, "C", idC * 10)))
  }

  test("without retries the race stays a fail-fast " +
      "ConcurrentCommitException") {
    val root = freshRoot("zero")
    SnapshotTable.create(rows(0L until 16L, "base"), root, Seq("id"), Buckets)
    val tap = Materialize.Tap(() => {
      SnapshotTable.upsert(rows(Seq(idB), "B"), root); ()
    })
    intercept[ConcurrentCommitException](
      SnapshotTable.upsert(rows(Seq(idA), "A"), root, mat = tap))
  }

  test("no writer rebases over a concurrent CREATE OR REPLACE: the " +
      "table's whole definition changed (possibly at the same bucket " +
      "count, empty colMap/constraints both sides — invisible to the " +
      "structural checks), so the race must fail loudly") {
    val root = freshRoot("replrace")
    SnapshotTable.create(rows(0L until 16L, "base"), root, Seq("id"),
      Buckets)
    val tap = Materialize.Tap(() => {
      // same bucket count, fresh definition — wins version 2
      SnapshotTable.replaceTable(Seq((1L, "x")).toDF("k", "t"), root,
        Seq("k"), Buckets)
      ()
    })
    // merge-on-read upsert otherwise rebases over ANYTHING — the
    // replace check must stop it before it attaches old-key delta
    // dirs to the replaced table
    val e = intercept[ConcurrentCommitException](
      SnapshotTable.upsert(rows(Seq(idA), "A"), root, mat = tap,
        retries = 3, mergeOnRead = true))
    assert(e.getMessage.contains("REPLACE"))
    // the replaced table is exactly what its writer published
    assert(SnapshotTable.read(spark, root).columns.toSeq === Seq("k", "t"))
    assert(SnapshotTable.read(spark, root).count() === 1L)
    assert(SnapshotTable.versions(spark, root).map(_.op) ===
      Seq("create", "replace"))
  }

  test("delete rebases over a disjoint-bucket commit") {
    val root = freshRoot("del")
    SnapshotTable.create(rows(0L until 64L, "base"), root, Seq("id"), Buckets)
    val tap = Materialize.Tap(() => {
      SnapshotTable.upsert(rows(Seq(idB), "B"), root); ()
    })
    val v = SnapshotTable.delete(Seq(idA).toDF("id"), root, mat = tap,
      retries = 2)
    assert(v === 3L)
    assert(asSet(SnapshotTable.read(spark, root)) ===
      asSet(rows(0L until 64L, "base")) - ((idA, "base", idA * 10)) -
        ((idB, "base", idB * 10)) + ((idB, "B", idB * 10)))
  }

  test("merge-on-read upsert rebases over ANYTHING — even a full " +
      "overwrite — by re-stamping its event layer after the winner") {
    val root = freshRoot("mor")
    SnapshotTable.create(rows(0L until 8L, "base"), root, Seq("id"), Buckets)
    val tap = Materialize.Tap(() => {
      SnapshotTable.overwrite(rows(0L until 4L, "OW"), root); ()
    })
    val v = SnapshotTable.upsert(rows(Seq(1L), "M"), root, mat = tap,
      mergeOnRead = true, retries = 2)
    assert(v === 3L)
    val head = SnapshotTable.versions(spark, root).last
    assert(head.deltas.map(_.seq) === Seq(3L)) // stamped with the NEW version
    assert(head.deltas.forall(_.dir.contains("/data/c3-")))
    // semantics: upsert serialized after the overwrite
    assert(asSet(SnapshotTable.read(spark, root)) ===
      asSet(rows(0L until 4L, "OW")) - ((1L, "OW", 10L)) + ((1L, "M", 10L)))
  }

  test("a txn-stamped upsert whose (appId, batch) a racing replica " +
      "already landed returns the head WITHOUT double-committing") {
    val root = freshRoot("txn")
    SnapshotTable.create(rows(0L until 16L, "base"), root, Seq("id"), Buckets)
    val tap = Materialize.Tap(() => {
      // the other replica lands the SAME logical batch first
      SnapshotTable.upsert(rows(Seq(idA), "R"), root,
        txn = Some("app" -> 7L))
      ()
    })
    val v = SnapshotTable.upsert(rows(Seq(idA), "R"), root, mat = tap,
      txn = Some("app" -> 7L), retries = 2)
    assert(v === 2L) // the replica's commit, not a third version
    assert(SnapshotTable.versions(spark, root).size === 2)
    assert(asSet(SnapshotTable.read(spark, root)) ===
      asSet(rows(0L until 16L, "base")) - ((idA, "base", idA * 10)) +
        ((idA, "R", idA * 10)))
  }

  test("append rebases over schema evolution: the winner's added column " +
      "survives the rebase, the rebased files backfill null") {
    val root = freshRoot("ddl")
    SnapshotTable.create(rows(0L until 8L, "base"), root, Seq("id"), Buckets)
    val tap = Materialize.Tap(() => {
      SnapshotTable.append(
        Seq((100L, "E", 0L, "x")).toDF("id", "tag", "v", "extra"), root,
        mergeSchema = true)
      ()
    })
    // appends have no mat seam, so drive the same interleaving through
    // an upsert (append and upsert share the rebase plumbing; the
    // append-specific path is exercised by the thread test below)
    val v = SnapshotTable.upsert(rows(Seq(idB), "A2"), root, mat = tap,
      retries = 2)
    assert(v === 3L)
    val head = SnapshotTable.versions(spark, root).last
    assert(head.schemaDdl.contains("extra"))
    val got = SnapshotTable.read(spark, root)
      .select("id", "tag", "v", "extra")
      .as[(Long, String, Long, Option[String])].collect().toSet
    assert(got.contains((100L, "E", 0L, Some("x"))))
    assert(got.contains((idB, "A2", idB * 10, None)))
  }

  test("N threads of appends with retries all land; content is the " +
      "union; versions advance one per commit") {
    val root = freshRoot("threads")
    SnapshotTable.create(rows(Seq(0L), "base"), root, Seq("id"), Buckets)
    val n = 6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futs = (1 to n).map { i =>
      scala.concurrent.Future {
        SnapshotTable.append(rows(Seq(i * 1000L), s"t$i"), root,
          retries = 16)
      }
    }
    val vs = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futs),
      scala.concurrent.duration.Duration(300, "s"))
    pool.shutdown()
    assert(vs.toSet === (2L to (n + 1).toLong).toSet) // every commit distinct
    val expect = asSet(rows(Seq(0L), "base")) ++
      (1 to n).flatMap(i => asSet(rows(Seq(i * 1000L), s"t$i")))
    assert(asSet(SnapshotTable.read(spark, root)) === expect)
  }

  // ---- CommitStore contract: the protocol against a FAULTY store ----

  test("a store that loses every race surfaces ConcurrentCommitException " +
      "on every protocol publish point (manifest, tag, branch) and the " +
      "table state is untouched") {
    val root = freshRoot("faulty")
    SnapshotTable.create(rows(Seq(0L, 1L), "base"), root, Seq("id"), Buckets)
    val before = asSet(SnapshotTable.read(spark, root))
    val losing = new SnapshotTable.CommitStore {
      override def writeNoOverwrite(
          target: org.apache.hadoop.fs.Path, body: Array[Byte]): Unit =
        throw new ConcurrentCommitException(s"injected loss for $target")
    }
    SnapshotTable.commitStoreOverride = Some(losing)
    try {
      intercept[ConcurrentCommitException](
        SnapshotTable.append(rows(Seq(2L), "x"), root))
      intercept[ConcurrentCommitException](
        SnapshotTable.upsert(rows(Seq(0L), "x"), root))
      intercept[RuntimeException](
        SnapshotTable.createTag(spark, root, "t1"))
      intercept[RuntimeException](
        SnapshotTable.createBranch(spark, root, "b1"))
    } finally SnapshotTable.commitStoreOverride = None
    // nothing published, nothing torn: version 1, same content, no refs
    assert(SnapshotTable.versions(spark, root).map(_.version) === Seq(1L))
    assert(asSet(SnapshotTable.read(spark, root)) === before)
    assert(SnapshotTable.tags(spark, root).isEmpty)
    assert(SnapshotTable.branchList(spark, root).isEmpty)
  }

  test("a store that CRASHES after making the file visible leaves a " +
      "valid published commit: the retry observes 'already committed' " +
      "instead of tearing, and readers serve the full content") {
    val root = freshRoot("crashpub")
    SnapshotTable.create(rows(Seq(0L), "base"), root, Seq("id"), Buckets)
    val (fsys, _) = {
      val p = new org.apache.hadoop.fs.Path(root)
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }
    val real = new SnapshotTable.HadoopCommitStore(fsys)
    val crashing = new SnapshotTable.CommitStore {
      override def writeNoOverwrite(
          target: org.apache.hadoop.fs.Path, body: Array[Byte]): Unit = {
        real.writeNoOverwrite(target, body) // fully published…
        sys.error("injected crash after publish") // …then the node dies
      }
    }
    SnapshotTable.commitStoreOverride = Some(crashing)
    val crashed = try intercept[RuntimeException](
      SnapshotTable.append(rows(Seq(7L), "x"), root))
    finally SnapshotTable.commitStoreOverride = None
    assert(crashed.getMessage.contains("injected crash"))
    // the commit IS on disk and valid — a reader sees the appended row
    assert(SnapshotTable.versions(spark, root).map(_.version) ===
      Seq(1L, 2L))
    assert(asSet(SnapshotTable.read(spark, root)) ===
      asSet(rows(Seq(0L), "base")) ++ asSet(rows(Seq(7L), "x")))
    // a blind re-run of the same append lands as v3 (append has no
    // read-dependency); a VERSIONED retry would see already-committed
    SnapshotTable.append(rows(Seq(8L), "y"), root)
    assert(SnapshotTable.versions(spark, root).last.version === 3L)
  }

  test("the real store refuses an existing target byte-for-byte: a " +
      "second write of DIFFERENT content to the same path loses, and " +
      "the first writer's bytes survive") {
    val root = freshRoot("noclobber")
    SnapshotTable.create(rows(Seq(0L), "base"), root, Seq("id"), Buckets)
    val p = new org.apache.hadoop.fs.Path(s"$root/_manifests/probe.txt")
    val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store = new SnapshotTable.HadoopCommitStore(fsys)
    store.writeNoOverwrite(p, "first".getBytes("UTF-8"))
    intercept[ConcurrentCommitException](
      store.writeNoOverwrite(p, "second".getBytes("UTF-8")))
    val in = fsys.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    assert(text === "first")
    fsys.delete(p, false)
  }

  test("a store that fails ONLY checkpoint publishes never affects " +
      "commits: the table advances normally with no checkpoints, every " +
      "resolution falls back to per-manifest parses with identical " +
      "answers, and checkpointing resumes at the next interval once " +
      "the store heals") {
    val root = freshRoot("ckptfail")
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val real = new SnapshotTable.HadoopCommitStore(fsys)
    val ckptFailing = new SnapshotTable.CommitStore {
      override def writeNoOverwrite(
          target: org.apache.hadoop.fs.Path, body: Array[Byte]): Unit = {
        if (target.getName.startsWith("ckpt."))
          sys.error(s"injected checkpoint-store outage for $target")
        else real.writeNoOverwrite(target, body)
      }
    }
    SnapshotTable.commitStoreOverride = Some(ckptFailing)
    try {
      SnapshotTable.create(rows(Seq(0L), "base"), root, Seq("id"), 1,
        statsCols = Some(Seq.empty))
      (1 until 12).foreach(i =>
        SnapshotTable.append(rows(Seq(i.toLong), "a"), root,
          txn = Some("app" -> i.toLong)))
    } finally SnapshotTable.commitStoreOverride = None
    // 12 versions landed, zero checkpoints (v10's write was swallowed)
    assert(SnapshotTable.versions(spark, root).size === 12)
    val mDir = new java.io.File(root, "_manifests")
    assert(!mDir.listFiles.exists(_.getName.startsWith("ckpt.")),
      "checkpoint outage must not leave partial checkpoint files")
    // resolution still exact, from per-manifest parses
    assert(SnapshotTable.read(spark, root).count() === 12L)
    assert(SnapshotTable.lastTxn(spark, root, "app") === Some(11L))
    // store heals: the NEXT interval commit re-checkpoints and covers
    // the whole history it can still read
    (12 until 20).foreach(i =>
      SnapshotTable.append(rows(Seq(i.toLong), "a"), root,
        txn = Some("app" -> i.toLong)))
    assert(mDir.listFiles.map(_.getName).count(_.startsWith("ckpt.")) === 1)
    val ck = SnapshotTable.parseCheckpointForTest(spark, root)
    assert(ck.version === 20L && ck.vers.keySet === (1L to 20L).toSet)
    assert(ck.txns === Map("app" -> 19L))
    assert(SnapshotTable.lastTxn(spark, root, "app") === Some(19L))
  }
}
