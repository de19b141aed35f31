package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded random source. Each named stream of one seed is independent,
  * so adding draws to one generator never shifts another's inputs. */
final class Rng(seed: Long, stream: String) {
  private val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream.hashCode.toLong << 17))
  def int(n: Int): Int = r.nextInt(n)
  def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
  def double(): Double = r.nextDouble()
  def chance(p: Double): Boolean = r.nextDouble() < p
  def pick[T](xs: scala.collection.IndexedSeq[T]): T = xs(r.nextInt(xs.size))
  /** A score with six exact decimals, so every engine parses the same double. */
  def score(): Double = r.nextInt(1000000) / 1e6
  /** Rank into [0, n) biased to the top: exponential with mean n/8. */
  def recent(n: Int): Int = math.min(n - 1, (-math.log(1.0 - r.nextDouble()) * n / 8).toInt)
}

/** Zipf(s) over ranks [0, n). */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  def sample(r: Rng): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.double())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** One keyed metadata row of the table and stream workloads. */
final case class MetaRow(key: String, trainW: Int, trainH: Int, rating: String,
    score: Double, tags: String, gen: Long) {
  def json: String =
    s"""{"image_key":${Json.str(key)},"train_w":$trainW,"train_h":$trainH,""" +
      s""""rating":${Json.str(rating)},"aesthetic_score":$score,"tags":${Json.str(tags)},"gen":$gen}"""
  /** Bytes of the row as user data: UTF-8 string bytes plus 4 per int and
    * 8 per double/long. The base of the write and space amplification. */
  def userBytes: Long =
    key.getBytes(UTF_8).length + rating.length + tags.getBytes(UTF_8).length + 4 + 4 + 8 + 8
}

object MetaRow {
  val Ddl = "image_key STRING, train_w INT, train_h INT, rating STRING, " +
    "aesthetic_score DOUBLE, tags STRING, gen BIGINT"
  val Ratings = Vector("general", "sensitive", "questionable", "explicit")
  private val words = Vector("1girl", "solo", "smile", "long hair", "blue eyes", "skirt",
    "outdoors", "looking at viewer", "short hair", "hat", "open mouth", "blush",
    "standing", "school uniform", "sky", "flower", "holding", "red eyes", "twintails")
  def random(r: Rng, key: String, gen: Long): MetaRow = {
    val (w, h) = r.pick(Gen.Resos)
    MetaRow(key, w - w % 8, h - h % 8, r.pick(Ratings), r.score(),
      Seq.fill(r.between(3, 8))(r.pick(words)).distinct.mkString(","), gen)
  }
  def key(id: Long): String = s"img$id"
}

/** Input generators of the four workloads. Every file is written here,
  * byte for byte from the seed, before the program sees it. */
object Gen {
  /** The bucket grid of `bucket_manager.py:8-27` (max area 1024², sides
    * 256..1024, step 64), restated here for generating exact-bucket
    * images; the oracle restates it again independently. */
  val Resos: IndexedSeq[(Int, Int)] = {
    val maxArea = 1024L * 1024
    val sq = (math.floor(math.sqrt(maxArea.toDouble)).toLong / 64 * 64).toInt
    val s = mutable.Set((sq, sq))
    for (width <- 256 to 1024 by 64) {
      val height = math.min(1024L, maxArea / width / 64 * 64).toInt
      if (height >= 256) { s += ((width, height)); s += ((height, width)) }
    }
    s.toIndexedSeq.sorted
  }

  def writeLines(p: Path, lines: Iterator[String]): Unit = {
    Files.createDirectories(p.getParent)
    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p), UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  /** Write `lines` round-robin over `parts` files `prefix-NNNN.jsonl`. */
  def writeParts(dir: Path, prefix: String, parts: Int, lines: IndexedSeq[String]): Unit =
    for (p <- 0 until parts)
      writeLines(dir.resolve(f"$prefix-$p%04d.jsonl"), lines.indices.iterator.filter(_ % parts == p).map(lines))

  def fileCount(d: Path): Long =
    if (!Files.exists(d)) 0L
    else {
      val s = Files.walk(d)
      try s.filter(Files.isRegularFile(_)).count() finally s.close()
    }

  def dirBytes(d: Path): Long =
    if (!Files.exists(d)) 0L
    else {
      val s = Files.walk(d)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  private val Syl = Vector("ka", "ri", "to", "mi", "na", "se", "lo", "ve", "an", "bu", "do",
    "fe", "gu", "hi", "jo", "ku", "ma", "ne", "po", "ru", "sa", "te", "wu", "yo", "zi")
  private def word(r: Rng): String = Seq.fill(r.between(2, 3))(r.pick(Syl)).mkString

  // ---------------------------------------------------------------- anime
  final case class AnimeShares(images: Int, noSidecar: Int, ratingOnly: Int,
      scored: Int, dupScores: Int, exactReso: Int, extremeAr: Int)

  /** 300k-shaped anime inputs at `n` images: image list (`{id}_{n}.jpg`,
    * w, h), sidecar first lines, two score files (1/13 of keys unscored,
    * some keys listed twice), and a `selected_tags.csv`-shaped vocabulary
    * (general 0, character 4, rating 9). Sidecar tags are Zipf-drawn. */
  def anime(seed: Long, n: Int, dir: Path): AnimeShares = {
    val r = new Rng(seed, "anime")
    val special = Vector("1girl", "2girls", "1boy", "2boys", "multiple girls", "solo",
      "smile", "highres", "absurdres", "16:9", "4:3", "aspect ratio", "looking at viewer",
      "x hair ornament", "boy on top", "girl on top")
    val general = (special ++ Iterator.continually(
      Seq.fill(r.between(1, 3))(word(r)).mkString(" ")).take(4000)).distinct
    val chars = Iterator.continually(s"${word(r)} ${word(r)} (${word(r)})").take(800).toVector.distinct
      .filterNot(general.toSet)
    val all = general ++ chars
    val zipf = new Zipf(all.size, 1.05)
    val csv = Iterator("tag_id,name,category,count") ++
      MetaRow.Ratings.zipWithIndex.iterator.map { case (t, i) => s"$i,$t,9,${1000000 - i}" } ++
      all.zipWithIndex.iterator.map { case (t, i) =>
        s"${i + 10},$t,${if (i < general.size) 0 else 4},${math.max(1, 500000 / (i + 1))}" }
    writeLines(dir.resolve("selected_tags.csv"), csv)

    val images = mutable.ArrayBuffer[String]()
    val sidecars = mutable.ArrayBuffer[String]()
    val scores = mutable.ArrayBuffer[String]()
    val dups = mutable.ArrayBuffer[String]()
    var noSide, ratingOnly, exact, extreme = 0
    for (i <- 0 until n) {
      val id = 100000 + i
      val (w, h) = r.int(10) match {
        case 0 => exact += 1; r.pick(Resos)
        case 1 => extreme += 1
          if (r.chance(0.5)) (r.between(2400, 4000), r.between(200, 400))
          else (r.between(200, 400), r.between(2400, 4000))
        case _ => (r.between(256, 2048), r.between(256, 2048))
      }
      images += s"""{"id":$id,"path":"data/img/${id}_${r.int(10)}.jpg","w":$w,"h":$h}"""
      if (r.chance(0.06)) noSide += 1
      else {
        val rating = r.pick(MetaRow.Ratings)
        val line =
          if (r.chance(0.02)) { ratingOnly += 1; rating }
          else {
            val tags = mutable.ArrayBuffer[String]()
            for (_ <- 0 until r.between(4, 28)) {
              tags += (if (r.chance(0.05)) s"${word(r)}_${word(r)}"
                else if (tags.nonEmpty && r.chance(0.08)) r.pick(tags.toIndexedSeq)
                else all(zipf.sample(r)))
            }
            val sep = if (r.chance(0.03)) ", , " else ", "
            (rating +: tags.map(t => if (r.chance(0.05)) s"  $t " else t)).mkString(sep)
          }
        sidecars += s"""{"image_key":"$id","line":${Json.str(line)}}"""
      }
      if (r.int(13) != 0) {
        val s = s"""{"image_key":"$id","aesthetic_score":${r.score()}}"""
        scores += s
        if (r.chance(0.02)) dups += s
      }
    }
    writeParts(dir.resolve("images"), "images", 4, images.toIndexedSeq)
    writeParts(dir.resolve("sidecars"), "sidecars", 4, sidecars.toIndexedSeq)
    writeLines(dir.resolve("scores/scores-0.jsonl"), scores.iterator)
    writeLines(dir.resolve("scores/scores-1.jsonl"), dups.iterator)
    AnimeShares(n, noSide, ratingOnly, scores.size, dups.size, exact, extreme)
  }

  // --------------------------------------------------------------- corpus
  /** `group(i)`: the original document i derives from (itself for an
    * original); `variant(i)`: i is a planted near-duplicate. */
  final case class Corpus(texts: Array[String], group: Array[Int], variant: Array[Boolean],
      exactDups: Int, nearDups: Int)

  /** Documents `(doc_id, text, lang)`: Zipf words, 60-160 tokens, six
    * languages with skewed shares; a seeded share are exact copies of an
    * earlier original and another share are near-duplicates (an original
    * plus one appended word, Jaccard ≈ 0.99 on 3-shingles, so MinHash-LSH
    * at 12 hashes × 4 bands finds each pair with probability > 1 - 1e-6). */
  def corpus(seed: Long, n: Int, exactShare: Double, nearShare: Double, dir: Path): Corpus = {
    val r = new Rng(seed, "corpus")
    val vocab = Iterator.continually(word(r)).take(12000).toVector.distinct
    val zipf = new Zipf(vocab.size, 1.05)
    val langs = Vector("en", "ja", "zh", "de", "fr", "es")
    val langW = Vector(0.40, 0.20, 0.15, 0.10, 0.10, 0.05).scanLeft(0.0)(_ + _).tail
    val texts = new Array[String](n)
    val lang = new Array[String](n)
    val group = new Array[Int](n)
    val variant = new Array[Boolean](n)
    val originals = mutable.ArrayBuffer[Int]()
    var exact, near = 0
    for (i <- 0 until n) {
      val u = r.double()
      if (originals.size > 50 && u < exactShare) {
        val o = r.pick(originals.toIndexedSeq)
        texts(i) = texts(o); lang(i) = lang(o); group(i) = o; exact += 1
      } else if (originals.size > 50 && u < exactShare + nearShare) {
        val o = r.pick(originals.toIndexedSeq)
        texts(i) = texts(o) + " " + vocab(zipf.sample(r)); lang(i) = lang(o); group(i) = o
        variant(i) = true; near += 1
      } else {
        texts(i) = Seq.fill(r.between(60, 160))(vocab(zipf.sample(r))).mkString(" ")
        val x = r.double()
        lang(i) = langs(langW.indexWhere(x < _) max 0)
        group(i) = i; originals += i
      }
    }
    writeParts(dir.resolve("docs"), "docs", 4, texts.indices.map(i =>
      s"""{"doc_id":$i,"text":${Json.str(texts(i))},"lang":"${lang(i)}"}"""))
    Corpus(texts, group, variant, exact, near)
  }

  // ---------------------------------------------------------------- table
  /** `n` metadata rows keyed `img0..img{n-1}` (the table's initial load). */
  def tableRows(seed: Long, stream: String, n: Int): IndexedSeq[MetaRow] = {
    val r = new Rng(seed, stream)
    (0 until n).map(i => MetaRow.random(r, MetaRow.key(i), 0L))
  }

  // --------------------------------------------------------------- stream
  /** Micro-batch files of fresh metadata rows for a table first loaded
    * with keys `img0..img{n0-1}`: each batch updates `updShare` of its rows
    * (keys skewed toward the most recent) and inserts the rest as new
    * keys. Keys are unique within a batch. */
  def streamBatches(seed: Long, n0: Int, batches: Int, rows: Int, updShare: Double): IndexedSeq[IndexedSeq[MetaRow]] = {
    val r = new Rng(seed, "stream-batches")
    var next = n0
    (1 to batches).map { b =>
      val keys = mutable.LinkedHashSet[Int]()
      while (keys.size < rows) {
        if (r.chance(updShare)) keys += next - 1 - r.recent(next)
        else { keys += next; next += 1 }
      }
      keys.toIndexedSeq.map(k => MetaRow.random(r, MetaRow.key(k), b.toLong))
    }
  }
}
