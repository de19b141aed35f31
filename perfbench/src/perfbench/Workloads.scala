package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.ops.{Paths => KeyPaths, Sources}
import graft.pipeline.{CorpusPipeline, LegacyMerge, ModernPipeline}
import graft.sources.SnapshotTable

/** One timed call of a workload. `seconds` excludes the correctness
  * check that follows it; `rows` are the user input rows it processed. */
final case class Op(kind: String, seconds: Double, rows: Long, ok: Boolean, note: String = "")

/** A workload drives one client in a closed loop: `step` runs the next
  * unit of work and returns only after it completes. */
abstract class Workload(val spark: SparkSession, val seed: Long, val dir: Path) {
  def name: String
  /** Write the seeded inputs under `dir/input`; returns sizes and shares. */
  def generate(): Seq[(String, Any)]
  /** Set-up after generation (tables created, caches filled). */
  def prepare(): Unit = ()
  def step(): Seq[Op]
  /** The set-up's warm-up: one step unless the workload says otherwise. */
  def warmup(): Seq[Op] = step()
  /** Checks that need the whole run (e.g. the final table). */
  def finish(): Seq[Op] = Nil
  /** Workload-specific end-to-end figures: name -> (value, unit). */
  def figures(ops: Seq[Op]): Seq[(String, Double, String)] = Nil
  /** Workload-specific per-layer figures measured in the traced run. */
  def layerFigures(ops: Seq[Op], probes: Probes): Map[String, Double] = Map.empty
  /** Called before each measured loop: counters that describe the loop
    * (amplification, micro-batch phases) restart here. */
  def loopStarts(): Unit = ()
  /** Per-stage seconds from cumulative prefixes (traced run only). */
  def stageSeconds(): Map[String, Double] = Map.empty
  /** Directory of the generated inputs. */
  def input: Path = dir.resolve("input")

  protected def timed[T](kind: String)(body: => T): (T, Double) =
    Trace.span(s"op.$kind") {
      val t0 = System.nanoTime()
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    }

  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Median wall seconds of `reps` runs of each cumulative prefix; stage
    * seconds are the differences between consecutive prefixes. */
  protected def prefixStages(names: Seq[String], reps: Int)(prefix: Int => DataFrame): Map[String, Double] = {
    val t = (0 to names.size).map { k =>
      Stats.median((1 to reps).map { _ =>
        val t0 = System.nanoTime(); noop(prefix(k)); (System.nanoTime() - t0) / 1e9
      })
    }
    names.indices.map(i => s"pipeline.${names(i)}_s" -> (t(i + 1) - t(i))).toMap
  }
}

object Workload {
  val Names = Seq("anime_metadata", "corpus_dedup", "metadata_table", "stream_ingest")

  def apply(name: String, spark: SparkSession, seed: Long, dir: Path): Workload = name match {
    case "anime_metadata" => new AnimeMetadata(spark, seed, dir)
    case "corpus_dedup" => new CorpusDedup(spark, seed, dir)
    case "metadata_table" => new MetadataTable(spark, seed, dir)
    case "stream_ingest" => new StreamIngest(spark, seed, dir)
    case other => throw new IllegalArgumentException(s"unknown workload $other (${Names.mkString(", ")})")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  /** The highest percentile with at least ten samples beyond it:
    * (percentile, value, n), or None under eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val idx = s.size - 11
      Some((100.0 * (idx + 1) / s.size, s(idx), s.size))
    }
}

// ======================================================================
/** A batch job per step: build the plan, write it to a parquet sink, check
  * what the sink holds. */
abstract class PipelineJob(spark: SparkSession, seed: Long, dir: Path)
    extends Workload(spark, seed, dir) {
  val out: Path = dir.resolve("out")
  /** Input rows one job processes. */
  def rows: Long
  def job(): DataFrame
  /** The problem with the sink's current content, if any. */
  def check(): Option[String]

  def step(): Seq[Op] = {
    val (_, s) = timed("job") {
      val df = Trace.span("pipeline.build")(job())
      Trace.span("sink.parquet")(df.write.mode("overwrite").parquet(out.toString))
    }
    val err = check()
    Seq(Op("job", s, rows, err.isEmpty, err.getOrElse("")))
  }

  override def figures(ops: Seq[Op]): Seq[(String, Double, String)] =
    Seq(("job_p50_s", Stats.median(ops.filter(_.kind == "job").map(_.seconds)), "s"))

  override def layerFigures(ops: Seq[Op], probes: Probes): Map[String, Double] =
    Map("sink.files" -> Gen.fileCount(out).toDouble)
}

/** The paper's own job: `ModernPipeline.run` → `LegacyMerge.finalTrainMerge`
  * → parquet sink, over generated images, sidecars, scores and vocabulary. */
final class AnimeMetadata(spark: SparkSession, seed: Long, dir: Path)
    extends PipelineJob(spark, seed, dir) {
  val name = "anime_metadata"
  val Images = 30000
  def rows: Long = Images
  /** `merge_final_train_metadata.py` keeps records at 0.6 and cuts at N. */
  val LegacyThreshold = 0.6
  val Cut = Images / 4
  private var hashes = Vector.empty[(Long, BigDecimal)]

  def generate(): Seq[(String, Any)] = {
    val s = Gen.anime(seed, Images, input)
    Seq("images" -> s.images, "legacy_cut" -> Cut, "input_bytes" -> Gen.dirBytes(input),
      "no_sidecar_share" -> s.noSidecar.toDouble / s.images,
      "rating_only_sidecar_share" -> s.ratingOnly.toDouble / s.images,
      "unscored_share" -> (1.0 - s.scored.toDouble / s.images),
      "duplicated_score_share" -> s.dupScores.toDouble / s.scored,
      "exact_bucket_share" -> s.exactReso.toDouble / s.images,
      "extreme_aspect_share" -> s.extremeAr.toDouble / s.images)
  }

  private def files(sub: String): Seq[String] =
    Files.list(input.resolve(sub)).iterator().asScala.map(_.toString).toSeq.sorted

  /** The run.py inputs: images left-joined to their sidecar line (J1, a
    * missing sidecar defaults to an empty line), the score list
    * de-duplicated per key as the reference's dict load does, and the
    * general-tag vocabulary. */
  private def inputs(): (DataFrame, DataFrame, DataFrame, DataFrame) = Trace.span("sources.load") {
    val images = Sources.jsonList(spark, files("images"))
      .select(col("id"), KeyPaths.imageKey(col("path")).as("image_key"), col("w").cast("int").as("w"),
        col("h").cast("int").as("h"))
    val side = Sources.jsonList(spark, files("sidecars"))
    val imgs = images.join(side, Seq("image_key"), "left")
      .withColumn("line", coalesce(col("line"), lit("")))
    val scores = Sources.jsonList(spark, files("scores"))
      .select(col("image_key"), col("aesthetic_score")).dropDuplicates("image_key")
    val vocab = Sources.csvWithHeader(spark, input.resolve("selected_tags.csv").toString,
        "tag_id LONG, name STRING, category INT, count LONG")
      .filter(col("category") === 0).select(col("name").as("vtag"))
    (images, imgs, scores, vocab)
  }

  private def legacy(modern: DataFrame, images: DataFrame): DataFrame =
    LegacyMerge.finalTrainMerge(modern, images.select("image_key", "w", "h"), "image_key",
      LegacyThreshold, Cut, Seq(col("aesthetic_score").desc, col("image_key")))

  def job(): DataFrame = {
    val (images, imgs, scores, vocab) = inputs()
    legacy(ModernPipeline.run(imgs, col("line"), "id", scores, vocab, "vtag"), images)
  }

  /** Every job's output must hash like the first; the DuckDB answer is
    * compared with the last one after the run (`oracle.py`). */
  def check(): Option[String] = {
    val back = spark.read.parquet(out.toString)
    val h = back.agg(count(lit(1)), sum(xxhash64(back.columns.sorted.map(col): _*).cast("decimal(38,0)")))
      .head()
    hashes :+= ((h.getLong(0), BigDecimal(Option(h.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))))
    if (hashes.head == hashes.last) None else Some(s"output differs from the first job: ${hashes.last}")
  }

  override def stageSeconds(): Map[String, Double] =
    prefixStages(Seq("parseSidecar", "assignBuckets", "aestheticFilter", "orderTags",
        "finalMetadata", "finalTrainMerge"), 2) { k =>
      val (images, imgs, scores, vocab) = inputs()
      val stages = Seq[DataFrame => DataFrame](
        ModernPipeline.parseSidecar(_, col("line")),
        ModernPipeline.assignBuckets(_),
        ModernPipeline.aestheticFilter(_, scores, 0.5),
        ModernPipeline.orderTags(_, "id", vocab, "vtag"),
        ModernPipeline.finalMetadata,
        legacy(_, images))
      stages.take(k).foldLeft(imgs)((df, f) => f(df))
    }
}

// ======================================================================
/** `CorpusPipeline.run` over a corpus with planted exact and near
  * duplicates. */
final class CorpusDedup(spark: SparkSession, seed: Long, dir: Path)
    extends PipelineJob(spark, seed, dir) {
  val name = "corpus_dedup"
  val Docs = 6000
  def rows: Long = Docs
  val ExactShare = 0.08
  val NearShare = 0.10
  var truth: Gen.Corpus = _
  private var firstKept: Option[Set[Long]] = None
  def cfg: CorpusPipeline.Config = CorpusPipeline.Config(quotaPerLang = Docs / 10)

  def generate(): Seq[(String, Any)] = {
    truth = Gen.corpus(seed, Docs, ExactShare, NearShare, input)
    Seq("docs" -> Docs, "input_bytes" -> Gen.dirBytes(input),
      "exact_dup_share" -> truth.exactDups.toDouble / Docs,
      "near_dup_share" -> truth.nearDups.toDouble / Docs,
      "near_dup_groups" -> truth.variant.indices.filter(truth.variant).map(truth.group(_)).distinct.size)
  }

  private def docs(): DataFrame = Trace.span("sources.load") {
    Sources.jsonList(spark, Files.list(input.resolve("docs")).iterator().asScala
      .map(_.toString).toSeq.sorted)
  }

  def job(): DataFrame = CorpusPipeline.run(docs(), cfg)

  def check(): Option[String] = {
    val kept = spark.read.parquet(out.toString).select("doc_id").collect().map(_.getLong(0)).toSeq
    Checks.corpus(kept, truth).orElse {
      if (firstKept.isEmpty) firstKept = Some(kept.toSet)
      if (firstKept.contains(kept.toSet)) None else Some("kept set differs from the first job's")
    }
  }

  override def stageSeconds(): Map[String, Double] =
    prefixStages(Seq("exactDedup", "nearDedup", "qualityFilter", "sample", "pack"), 2) { k =>
      val stages = Seq[DataFrame => DataFrame](
        CorpusPipeline.exactDedup, CorpusPipeline.nearDedup(_, cfg),
        CorpusPipeline.qualityFilter(_, cfg), CorpusPipeline.sample(_, cfg),
        CorpusPipeline.pack(_, cfg))
      stages.take(k).foldLeft(docs())((df, f) => f(df))
    }
}

// ======================================================================
/** Shared by the two workloads that keep a keyed `SnapshotTable`: the
  * in-memory last-write-wins model, file accounting for write and space
  * amplification, and row conversion. */
abstract class TableBase(spark: SparkSession, seed: Long, dir: Path)
    extends Workload(spark, seed, dir) {
  val schema: StructType = StructType.fromDDL(MetaRow.Ddl)
  val root: Path = dir.resolve("table")
  var model: Map[String, MetaRow] = Map.empty
  /** Every file seen under the root (path -> bytes), for new-bytes deltas. */
  private val seen = mutable.HashMap[String, Long]()
  var userBytes = 0L
  var writtenBytes = 0L
  var filesAdded = 0L
  var commits = 0
  private var loopBase = (0L, 0L)

  override def loopStarts(): Unit = loopBase = (writtenBytes, userBytes)

  /** Bytes written under the root ÷ user bytes committed, since the loop began. */
  def writeAmp: Double = (writtenBytes - loopBase._1).toDouble / math.max(1L, userBytes - loopBase._2)

  def df(rows: Seq[MetaRow]): DataFrame =
    spark.createDataFrame(rows.map(m => Row(m.key, m.trainW, m.trainH, m.rating, m.score, m.tags, m.gen)).asJava, schema)

  def keysDf(keys: Seq[String]): DataFrame =
    spark.createDataFrame(keys.map(Row(_)).asJava, StructType.fromDDL("image_key STRING"))

  def rowsOf(rs: Array[Row]): Seq[MetaRow] = rs.toSeq.map(r => MetaRow(r.getAs[String]("image_key"),
    r.getAs[Int]("train_w"), r.getAs[Int]("train_h"), r.getAs[String]("rating"),
    r.getAs[Double]("aesthetic_score"), r.getAs[String]("tags"), r.getAs[Long]("gen")))

  private def listRoot(): Map[String, Long] = {
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  /** Account the files a commit (or vacuum) added and removed. */
  def account(user: Long, commit: Boolean = true): Unit = {
    val now = listRoot()
    val added = now.filter { case (p, _) => !seen.contains(p) }
    seen --= seen.keys.filterNot(now.contains)
    seen ++= added
    writtenBytes += added.values.sum
    filesAdded += added.size
    userBytes += user
    if (commit) commits += 1
  }

  def rootBytes: Long = listRoot().values.sum
  def manifestBytes: Long = listRoot().collect { case (p, b) if p.contains("/_manifests/") => b }.sum

  /** Data bytes of the current snapshot, from its manifest. */
  def liveBytes: Long = SnapshotTable.versions(spark, root.toString).last.dirBytes.values.sum

  def create(rows: Seq[MetaRow]): Unit = {
    val init = input.resolve("init.jsonl")
    SnapshotTable.create(spark.read.schema(schema).json(init.toString), root.toString, Seq("image_key"), buckets = 16)
    model = rows.map(r => r.key -> r).toMap
    account(rows.map(_.userBytes).sum)
  }

  override def finish(): Seq[Op] = {
    val (got, s) = timed("final_read")(SnapshotTable.read(spark, root.toString).collect())
    val err = Checks.rows(model.values, rowsOf(got))
    Seq(Op("final_read", s, 0, err.isEmpty, err.getOrElse("")))
  }

  /** Live rows written once as fresh parquet: the space-amplification base. */
  def freshParquetBytes(): Long = {
    val p = dir.resolve("fresh")
    df(model.values.toSeq).coalesce(1).write.mode("overwrite").parquet(p.toString)
    Gen.dirBytes(p)
  }
}

/** A closed loop with one client over a `SnapshotTable` keyed on
  * `image_key`: a fixed round of merge-on-write and merge-on-read upserts,
  * an append, a keyed delete, point lookups through both surfaces, full
  * and time-travel reads, then compaction and vacuum. */
final class MetadataTable(spark: SparkSession, seed: Long, dir: Path)
    extends TableBase(spark, seed, dir) {
  val name = "metadata_table"
  val Rows = 40000
  val BigBatch = 1000   // merge-on-write: a writer's choice for a large batch
  val SmallBatch = 100  // merge-on-read: small batches
  val AppendRows = 300
  val DeleteKeys = 40
  val Probe = 64
  val AbsentShare = 0.25
  val UpdateShare = 0.8
  val KeepVersions = 8
  val TravelBack = 4

  private val r = new Rng(seed, "table-ops")
  private var nextId = Rows
  private val live = mutable.ArrayBuffer[String]()
  private val livePos = mutable.HashMap[String, Int]()
  private val history = mutable.LinkedHashMap[Long, Map[String, MetaRow]]()
  private var version = 0L
  private var absentSeq = 0
  var updates, recentUpdates, probed, hits = 0L
  var lookupBytes, lookupLive = 0.0
  val morLayers = mutable.ArrayBuffer[Int]()
  val maintenance = mutable.ArrayBuffer[Double]()

  def generate(): Seq[(String, Any)] = {
    val rows = Gen.tableRows(seed, "table-init", Rows)
    Gen.writeLines(input.resolve("init.jsonl"), rows.iterator.map(_.json))
    Seq("rows" -> Rows, "input_bytes" -> Gen.dirBytes(input),
      "cycle" -> (s"upsert-mow($BigBatch) read_for_keys upsert-mor($SmallBatch) connector_lookup " +
        s"append($AppendRows) read upsert-mor($SmallBatch) delete-mor($DeleteKeys) time-travel compact vacuum"),
      "merge_on_read_share_of_upserts" -> 2.0 / 3, "update_share_of_upsert_rows" -> UpdateShare,
      "absent_key_share_of_probes" -> AbsentShare, "probe_keys" -> Probe)
  }

  override def prepare(): Unit = {
    val rows = Gen.tableRows(seed, "table-init", Rows)
    create(rows)
    rows.foreach(m => addLive(m.key))
    version = 1L
    history(version) = model
  }

  private def addLive(k: String): Unit = if (!livePos.contains(k)) { livePos(k) = live.size; live += k }
  private def dropLive(k: String): Unit = livePos.remove(k).foreach { i =>
    val last = live.remove(live.size - 1)
    if (i < live.size) { live(i) = last; livePos(last) = i }
  }

  private def committed(v: Long): Unit = {
    version = v
    history(v) = model
    while (history.size > KeepVersions) history.remove(history.head._1)
  }

  /** Keys for an upsert batch: updates skewed toward recent keys, the rest new. */
  private def upsertKeys(n: Int): Seq[String] = {
    val ks = mutable.LinkedHashSet[String]()
    while (ks.size < n) {
      if (r.chance(UpdateShare)) {
        val id = nextId - 1 - r.recent(nextId)
        val k = MetaRow.key(id)
        updates += 1
        if (livePos.contains(k)) { ks += k; if (id >= nextId - nextId / 10) recentUpdates += 1 }
        else ks += r.pick(live)
      } else { ks += MetaRow.key(nextId); nextId += 1 }
    }
    ks.toSeq
  }

  private def write(kind: String, rows: Seq[MetaRow])(call: DataFrame => Long): Op = {
    val in = df(rows)
    val prev = version
    val (v, s) = timed(kind)(Trace.span(s"table.$kind")(call(in)))
    model ++= rows.map(m => m.key -> m)
    rows.foreach(m => addLive(m.key))
    committed(v)
    account(rows.map(_.userBytes).sum)
    Op(kind, s, rows.size, v == prev + 1, s"committed version $v after $prev")
  }

  private def upsert(n: Int, mor: Boolean): Op = {
    val rows = upsertKeys(n).map(k => MetaRow.random(r, k, version + 1))
    write(if (mor) "upsert_mor" else "upsert", rows)(SnapshotTable.upsert(_, root.toString, mergeOnRead = mor))
  }

  private def append(): Op = {
    val rows = (0 until AppendRows).map { _ => val k = MetaRow.key(nextId); nextId += 1; MetaRow.random(r, k, version + 1) }
    write("append", rows)(SnapshotTable.append(_, root.toString))
  }

  private def delete(): Op = {
    val keys = Seq.fill(DeleteKeys)(if (r.chance(0.1)) absentKey() else r.pick(live)).distinct
    val in = keysDf(keys)
    val (v, s) = timed("delete")(Trace.span("table.delete")(
      SnapshotTable.delete(in, root.toString, mergeOnRead = true)))
    model --= keys
    keys.foreach(dropLive)
    committed(v)
    account(keys.map(_.length.toLong).sum)
    Op("delete", s, keys.size, true)
  }

  private def absentKey(): String = { absentSeq += 1; MetaRow.key(1000000000L + absentSeq) }

  private def lookup(connector: Boolean): Op = {
    val keys = Seq.fill(Probe)(if (r.chance(AbsentShare)) absentKey() else r.pick(live)).distinct
    val kind = if (connector) "connector_lookup" else "read_for_keys"
    val before = Probes.active.map { p => p.drain(); p.tasks.inputBytes }
    val (got, s) = timed(kind)(Trace.span(s"table.$kind") {
      if (connector)
        spark.read.format("graft-snapshot").load(root.toString)
          .filter(col("image_key").isin(keys: _*)).collect()
      else SnapshotTable.readForKeys(keysDf(keys), root.toString).collect()
    })
    for (b <- before; p <- Probes.active) {
      p.drain()
      lookupBytes += p.tasks.inputBytes - b
      lookupLive += liveBytes
    }
    probed += keys.size
    hits += got.length
    val err = Checks.rows(keys.flatMap(model.get), rowsOf(got))
    Op(kind, s, keys.size, err.isEmpty, err.getOrElse(""))
  }

  private def scan(travel: Boolean): Op = {
    // a fixed distance back, so every cycle travels to the same kind of version
    val v = if (travel) version - TravelBack else version
    val kind = if (travel) "read_version" else "read"
    val (got, s) = timed(kind)(Trace.span(s"table.$kind") {
      (if (travel) SnapshotTable.read(spark, root.toString, version = Some(v))
       else SnapshotTable.read(spark, root.toString)).collect()
    })
    if (Trace.on) morLayers += SnapshotTable.versions(spark, root.toString).last.deltas.map(_.seq).distinct.size
    val err = Checks.rows(history(v).values, rowsOf(got))
    Op(kind, s, 0, err.isEmpty, err.getOrElse(""))
  }

  private def maintain(): Seq[Op] = {
    val (v, s1) = timed("compact")(Trace.span("table.compact")(SnapshotTable.compact(spark, root.toString)))
    committed(v)
    account(0L)
    val (_, s2) = timed("vacuum")(Trace.span("table.vacuum")(
      SnapshotTable.vacuum(spark, root.toString, keepVersions = KeepVersions)))
    account(0L, commit = false)
    maintenance += s1 + s2
    Seq(Op("compact", s1, 0, true), Op("vacuum", s2, 0, true))
  }

  /** One cycle of the fixed operation mix; the loop runs whole cycles so
    * every run sees the same mix. */
  def step(): Seq[Op] =
    Seq(upsert(BigBatch, mor = false), lookup(false), upsert(SmallBatch, mor = true), lookup(true),
      append(), scan(false), upsert(SmallBatch, mor = true), delete(), scan(true)) ++ maintain()

  /** Warm-up: a merge-on-write upsert and a lookup, not a whole cycle. */
  override def warmup(): Seq[Op] = Seq(upsert(BigBatch, mor = false), lookup(false))

  private def p50(ops: Seq[Op], kinds: String*): Double = Stats.median(ops.filter(o => kinds.contains(o.kind)).map(_.seconds))

  override def figures(ops: Seq[Op]): Seq[(String, Double, String)] = {
    val commitK = Seq("upsert", "upsert_mor", "append", "delete")
    val lookK = Seq("read_for_keys", "connector_lookup")
    def tailOf(ks: Seq[String], n: String) = Stats.tail(ops.filter(o => ks.contains(o.kind)).map(_.seconds)).toSeq
      .flatMap { case (pct, v, cnt) => Seq((n, v, "s"), (s"${n}_percentile", pct, "pct"), (s"${n}_n", cnt.toDouble, "count")) }
    val fresh = freshParquetBytes().toDouble
    Seq(("commit_p50_s", p50(ops, commitK: _*), "s")) ++ tailOf(commitK, "commit_tail_s") ++
      Seq(("lookup_p50_s", p50(ops, lookK: _*), "s")) ++ tailOf(lookK, "lookup_tail_s") ++
      Seq(("scan_p50_s", p50(ops, "read", "read_version"), "s"),
        ("maintenance_s", Stats.median(maintenance.toSeq), "s"),
        ("write_amp", writeAmp, "ratio"),
        ("space_amp", rootBytes / fresh, "ratio"),
        ("update_recent_share", recentUpdates.toDouble / math.max(1, updates), "ratio"))
  }

  override def layerFigures(ops: Seq[Op], probes: Probes): Map[String, Double] = Map(
    "table.mor_layers_at_read" -> (if (morLayers.isEmpty) 0.0 else morLayers.sum.toDouble / morLayers.size),
    "table.lookup_hit_frac" -> hits.toDouble / math.max(1L, probed),
    "table.lookup_bytes_frac" -> (if (lookupLive == 0) 0.0 else lookupBytes / lookupLive),
    "table.manifest_bytes" -> manifestBytes.toDouble)
}

// ======================================================================
/** Seeded batches of fresh metadata rows dropped as files and drained with
  * `Trigger.AvailableNow` into the table through the exactly-once
  * `graft-snapshot` upsert sink. */
final class StreamIngest(spark: SparkSession, seed: Long, dir: Path)
    extends TableBase(spark, seed, dir) {
  val name = "stream_ingest"
  val Rows = 20000
  val Batches = 120
  val BatchRows = 400
  val UpdateShare = 0.5
  private val src = dir.resolve("src")
  private val ckpt = dir.resolve("checkpoint")
  private var batches: IndexedSeq[IndexedSeq[MetaRow]] = IndexedSeq.empty
  private var dropped = 0
  val progress = mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  def generate(): Seq[(String, Any)] = {
    val rows = Gen.tableRows(seed, "stream-init", Rows)
    Gen.writeLines(input.resolve("init.jsonl"), rows.iterator.map(_.json))
    batches = Gen.streamBatches(seed, Rows, Batches, BatchRows, UpdateShare)
    batches.zipWithIndex.foreach { case (b, i) =>
      Gen.writeLines(input.resolve(f"staging/batch-${i + 1}%05d.jsonl"), b.iterator.map(_.json))
    }
    Seq("rows" -> Rows, "batch_rows" -> BatchRows, "batches_staged" -> Batches,
      "files_per_drain" -> 1, "update_share_of_batch_rows" -> UpdateShare,
      "input_bytes" -> Gen.dirBytes(input))
  }

  override def prepare(): Unit = {
    create(Gen.tableRows(seed, "stream-init", Rows))
    Files.createDirectories(src)
  }

  /** Drop the next batch file (copied aside, then renamed in, so the
    * source never lists a partial file) and drain it. */
  def step(): Seq[Op] = {
    require(dropped < Batches, "staged batches exhausted")
    val batch = batches(dropped)
    dropped += 1
    val name = f"batch-$dropped%05d.jsonl"
    val tmp = src.resolve(s".$name")
    Files.copy(input.resolve(s"staging/$name"), tmp)
    Files.move(tmp, src.resolve(name), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val (q, s) = timed("drain")(Trace.span("streaming.drain") {
      val q = spark.readStream.schema(schema).json(src.toString)
        .writeStream.format("graft-snapshot").option("op", "upsert")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start(root.toString)
      q.awaitTermination()
      q
    })
    val ps = q.recentProgress.filter(_.numInputRows > 0)
    progress ++= ps
    model ++= batch.map(m => m.key -> m)
    account(batch.map(_.userBytes).sum)
    val keys = batch.map(_.key)
    val got = rowsOf(SnapshotTable.readForKeys(keysDf(keys), root.toString).collect())
    val err = (if (ps.length != 1) Some(s"${ps.length} non-empty micro-batches, expected 1")
      else None).orElse(Checks.rows(keys.map(model), got))
    Seq(Op("drain", s, batch.size, err.isEmpty, err.getOrElse("")))
  }

  private def phase(k: String): Seq[Double] =
    progress.toSeq.map(p => Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0))

  override def figures(ops: Seq[Op]): Seq[(String, Double, String)] =
    Seq(("batch_p50_s", Stats.median(phase("triggerExecution")), "s"),
      ("write_amp", writeAmp, "ratio"))

  override def layerFigures(ops: Seq[Op], probes: Probes): Map[String, Double] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Seq("addBatch", "walCommit", "commitOffsets", "queryPlanning", "latestOffset")
      .map(k => s"streaming.${k}_s" -> mean(phase(k))).toMap ++
      Map("streaming.batches" -> progress.size.toDouble / math.max(1, ops.size),
        "streaming.rows" -> progress.map(_.numInputRows.toDouble).sum / math.max(1, ops.size),
        "table.manifest_bytes" -> manifestBytes.toDouble)
  }

  override def loopStarts(): Unit = { super.loopStarts(); progress.clear() }
}

/** The correctness checks, as pure functions so the self-test can feed
  * them an injected wrong row. Each returns the first problem found. */
object Checks {
  def rows(expected: Iterable[MetaRow], got: Seq[MetaRow]): Option[String] = {
    val exp = expected.map(m => m.key -> m).toMap
    val byKey = got.groupBy(_.key)
    byKey.find(_._2.size > 1).map { case (k, rs) => s"key $k returned ${rs.size} times" }
      .orElse(exp.keys.find(k => !byKey.contains(k)).map(k => s"key $k missing"))
      .orElse(got.find(g => !exp.contains(g.key)).map(g => s"key ${g.key} should be absent"))
      .orElse(got.find(g => exp(g.key) != g).map(g => s"key ${g.key}: got $g, expected ${exp(g.key)}"))
  }

  def corpus(kept: Seq[Long], c: Gen.Corpus): Option[String] = {
    val bad = kept.find(i => i < 0 || i >= c.texts.length)
    if (bad.isDefined) return Some(s"unknown doc_id ${bad.get}")
    val ids = kept.map(_.toInt)
    val planted = c.variant.indices.filter(c.variant).map(c.group(_)).toSet
    ids.groupBy(identity).find(_._2.size > 1).map(x => s"doc ${x._1} kept twice")
      .orElse(ids.groupBy(c.texts(_)).find(_._2.size > 1).map(x => s"docs ${x._2.sorted.mkString(",")} share a text"))
      .orElse {
        val twice = ids.filter(i => planted(c.group(i))).groupBy(c.group(_)).filter(_._2.size > 1)
        twice.headOption.map(x => s"${twice.size} of ${planted.size} planted near-duplicate groups " +
          s"kept more than one member, e.g. group ${x._1} kept ${x._2.sorted.mkString(",")}")
      }
  }
}
