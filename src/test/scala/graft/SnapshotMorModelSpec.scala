package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SnapshotTable

/** Model-based check of merge-on-read replay, independent of every
  * reader under test: fixed-seed operation sequences (merge-on-write
  * and merge-on-read upserts and deletes, blind appends with repeated
  * keys, keyed positional `deleteWhere`, compaction and bucket rescales
  * that leave mixed layouts) run against a keyed table and against an
  * in-memory multiset per version. After every step the latest read,
  * a keyed lookup with absent probe keys, the `graft-snapshot` scan,
  * time travel to every version and the change feed of the step must
  * all equal the model. */
class SnapshotMorModelSpec extends AnyFunSuite {
  import SnapshotMorModelSpec._
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Keys = 12L
  private val MaxBuckets = 16

  private val rowGen: Gen[R] = for {
    k <- Gen.chooseNum(0L, Keys - 1)
    t <- Gen.oneOf(Some("a"), Some("b"), Some("c"), None)
    v <- Gen.chooseNum(0L, 99L)
  } yield (k, t, v)

  private def uniqueRows(max: Int): Gen[Seq[R]] =
    Gen.chooseNum(1, max).flatMap(Gen.listOfN(_, rowGen))
      .map(_.groupBy(_._1).values.map(_.head).toSeq)

  private val opGen: Gen[Op] = Gen.frequency(
    3 -> Gen.zip(uniqueRows(5), Gen.oneOf(true, false))
      .map { case (rs, m) => Upsert(rs, m) },
    2 -> Gen.zip(Gen.nonEmptyListOf(Gen.chooseNum(0L, Keys + 3)),
        Gen.oneOf(true, false))
      .map { case (ks, m) => Delete(ks.take(4).distinct, m) },
    2 -> Gen.chooseNum(1, 4).flatMap(Gen.listOfN(_, rowGen)).map(Append(_)),
    2 -> Gen.oneOf(Gen.oneOf("a", "b").map(t => DeletePos(Some(t), 0)),
      Gen.chooseNum(0, 2).map(r => DeletePos(None, r))),
    1 -> Gen.const(Compact),
    1 -> Gen.const(Rescale))

  /** A create batch plus at most 11 operations: 12 steps. */
  private val seqGen: Gen[(Seq[R], Seq[Op])] = for {
    init <- uniqueRows(10)
    n <- Gen.chooseNum(8, 11)
    ops <- Gen.listOfN(n, opGen)
  } yield (init, ops)

  private def df(rs: Seq[R]): DataFrame =
    rs.map { case (k, t, v) => (k, t.orNull, v) }.toDF("id", "tag", "v")

  private def rowsOf(d: DataFrame): Seq[R] =
    d.select("id", "tag", "v").collect().toSeq
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2)))

  private def bag[T](xs: Seq[T]): Map[T, Int] =
    xs.groupBy(identity).map { case (k, v) => k -> v.size }

  private def bagMinus[T](a: Map[T, Int], b: Map[T, Int]): Map[T, Int] =
    a.map { case (k, n) => k -> (n - b.getOrElse(k, 0)) }.filter(_._2 > 0)

  /** The model of one step: the next version's multiset. */
  private def applyOp(m: Seq[R], op: Op): Seq[R] = op match {
    case Upsert(rs, _) =>
      val ks = rs.map(_._1).toSet
      m.filterNot(r => ks(r._1)) ++ rs
    case Delete(ks, _) => m.filterNot(r => ks.contains(r._1))
    case Append(rs) => m ++ rs
    case d: DeletePos => m.filterNot(d.matches)
    case Compact | Rescale => m
  }

  private def head(root: String): SnapshotTable.Snapshot =
    SnapshotTable.versions(spark, root).last

  /** Runs `op`; returns the number of versions it committed. */
  private def run(root: String, op: Op): Int = op match {
    case Upsert(rs, mor) =>
      SnapshotTable.upsert(df(rs), root, mergeOnRead = mor); 1
    case Delete(ks, mor) =>
      SnapshotTable.delete(ks.toDF("id"), root, mergeOnRead = mor); 1
    case Append(rs) => SnapshotTable.append(df(rs), root); 1
    case d: DeletePos =>
      val before = head(root).version
      SnapshotTable.deleteWhere(spark, root, d.condition, mergeOnRead = true)
      (head(root).version - before).toInt // zero matches commit nothing
    case Compact => SnapshotTable.compact(spark, root); 1
    case Rescale =>
      val cur = head(root)
      if (cur.buckets >= MaxBuckets) 0
      else {
        // deltas' bucket ids live in the current layout: a rescale is
        // refused until a compaction folds them
        val folded =
          if (cur.deltas.isEmpty) 0
          else {
            intercept[IllegalArgumentException](
              SnapshotTable.rescaleBuckets(spark, root, cur.buckets * 2))
            SnapshotTable.compact(spark, root); 1
          }
        SnapshotTable.rescaleBuckets(spark, root, cur.buckets * 2)
        folded + 1
      }
  }

  private def check(root: String, hist: IndexedSeq[Seq[R]], step: String,
      probe: Seq[Long]): Unit = {
    val v = hist.size.toLong
    val model = hist.last
    def same(what: String, got: Seq[R], want: Seq[R]): Unit =
      assert(bag(got) === bag(want), s"$what after $step")
    same("read", rowsOf(SnapshotTable.read(spark, root)), model)
    same("readForKeys", rowsOf(SnapshotTable.readForKeys(probe.toDF("id"),
      root)), model.filter(r => probe.contains(r._1)))
    same("graft-snapshot scan",
      rowsOf(spark.read.format("graft-snapshot").load(root)), model)
    // every version in one job: each read tagged with its version
    val tt = (1L to v).map(u => SnapshotTable.read(spark, root, Some(u))
        .select(lit(u).as("_u"), col("id"), col("tag"), col("v")))
      .reduce(_.unionByName(_)).collect().toSeq
      .groupBy(_.getLong(0)).map { case (u, rs) =>
        u -> rs.map(r => (r.getLong(1), Option(r.getString(2)), r.getLong(3)))
      }
    (1L to v).foreach(u => same(s"time travel to v$u",
      tt.getOrElse(u, Nil), hist((u - 1).toInt)))
    if (v >= 2) {
      val got = SnapshotTable.readChanges(spark, root, v - 1, v)
        .select(SnapshotTable.ChangeTypeCol, "id", "tag", "v").collect().toSeq
        .map(r => (r.getString(0),
          (r.getLong(1), Option(r.getString(2)), r.getLong(3))))
      val (prev, next) = (bag(hist(hist.size - 2)), bag(model))
      val want = bagMinus(next, prev).toSeq.flatMap { case (r, n) =>
          Seq.fill(n)(("insert", r)) } ++
        bagMinus(prev, next).toSeq.flatMap { case (r, n) =>
          Seq.fill(n)(("delete", r)) }
      assert(bag(got) === bag(want), s"readChanges(v${v - 1}, v$v) after $step")
    }
  }

  private def runSeed(seed: Long): Seq[String] = {
    val (init, ops) = seqGen.pureApply(Gen.Parameters.default, Seed(seed))
    val root = {
      val d = java.nio.file.Files.createTempDirectory(s"graft_mor_model_$seed")
      d.toFile.deleteOnExit()
      new java.io.File(d.toFile, "tbl").getAbsolutePath
    }
    SnapshotTable.create(df(init), root, Seq("id"), 4)
    var hist = IndexedSeq(init)
    var mixedMor = false
    check(root, hist, s"seed $seed create", Seq(0L, 1L, 900L))
    ops.zipWithIndex.foreach { case (op, i) =>
      val step = s"seed $seed step ${i + 1} $op"
      val commits = run(root, op)
      val next = applyOp(hist.last, op)
      hist = hist ++ Seq.fill(commits)(next)
      assert(hist.size.toLong === head(root).version, s"versions after $step")
      // probe: up to three live keys, one dead or never-written key and
      // one key outside the key domain
      val live = next.map(_._1).distinct.take(3)
      check(root, hist, step, live ++ Seq(Keys + 1, 900L))
      val h = head(root)
      mixedMor ||= h.mixedLayout && h.deltas.nonEmpty
    }
    ops.map(_.kind) ++ (if (mixedMor) Seq("mixed-layout deltas") else Nil)
  }

  test("merge-on-read replay equals an in-memory multiset model across " +
      "random operation sequences: read, readForKeys, the connector " +
      "scan, time travel and readChanges after every step") {
    val seen = Seq(11L, 23L, 37L).flatMap(runSeed).toSet
    // the fixed seeds must exercise every operation kind, and deltas
    // over a mixed bucket layout
    Seq("upsert", "upsert-mor", "delete", "delete-mor", "append",
      "deleteWhere-pos", "compact", "rescale",
      "mixed-layout deltas").foreach(k =>
      assert(seen(k), s"no $k step in the fixed seeds: $seen"))
  }
}

object SnapshotMorModelSpec {
  type R = (Long, Option[String], Long)

  sealed trait Op { def kind: String }
  final case class Upsert(rows: Seq[R], mor: Boolean) extends Op {
    def kind: String = if (mor) "upsert-mor" else "upsert"
  }
  final case class Delete(keys: Seq[Long], mor: Boolean) extends Op {
    def kind: String = if (mor) "delete-mor" else "delete"
  }
  final case class Append(rows: Seq[R]) extends Op {
    def kind = "append"
  }
  /** Positional merge-on-read delete of the rows where `tag = t` (a
    * NULL tag stays) or, without a tag, where `v % 3 = r`. */
  final case class DeletePos(tag: Option[String], r: Int) extends Op {
    def kind = "deleteWhere-pos"
    def matches(x: R): Boolean = tag match {
      case Some(t) => x._2.contains(t)
      case None => x._3 % 3 == r
    }
    def condition: Column = tag match {
      case Some(t) => col("tag") === t
      case None => col("v") % 3 === r
    }
  }
  case object Compact extends Op { def kind = "compact" }
  case object Rescale extends Op { def kind = "rescale" }
}
