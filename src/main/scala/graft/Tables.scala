package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table loaders over the driver testdata layout — one parquet
  * file per table under the sf dir. The 8 relational tables are documented
  * in `TESTDATA.md`; the `documents`/`embeddings` extension tables in
  * `FIXTURES.md` §8.
  *
  * All loads go through `spark.read.parquet` so Catalyst sees a
  * declarative scan: filter pushdown, column pruning and partition
  * coalescing apply automatically. At cluster scale the same call
  * reads a partitioned directory tree — nothing here assumes a
  * single file.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred schema per (table path, modification time), cached for
    * the process: the footer-read schema inference `spark.read.parquet`
    * performs per call (several driver FS round trips, paid by nearly
    * every query) is repeat work while the file is unchanged — guide §5
    * (driver does no avoidable work). One `getFileStatus` per load keeps
    * the cache honest: a path rewritten in the same JVM gets a new
    * modification time, so it is never served a stale schema. Metadata
    * only: row data is always read from the files. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val mtime = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime
    val schema = schemaCache.computeIfAbsent((path, mtime),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "region")
  /** The driver has regenerated `events.parquet` with THREE different
    * physical encodings of `ts` across rounds: INT64 TIMESTAMP(NANOS)
    * (read as long under `spark.sql.legacy.parquet.nanosAsLong`),
    * TIMESTAMP(MICROS) adjusted-to-UTC (Spark TimestampType), and
    * TIMESTAMP(MICROS) NTZ (Spark TimestampNTZType). [[normalizeTs]] maps
    * all three to ONE canonical type — TimestampType under the UTC
    * session — so no downstream query (unix_micros, window, date_format,
    * stream/batch agreement) carries dtype conditionals. Any NEW encoding
    * fails loudly here rather than silently mis-converting downstream.
    *
    * Conversion notes: nanos→micros uses INTEGER division (`div`) — `/`
    * promotes ~1.7e18 nanos to double, past 2^53, dropping microseconds.
    * NTZ→TIMESTAMP is a cast that interprets the wall-clock in the session
    * timezone; every graft session pins `spark.sql.session.timeZone=UTC`,
    * which matches how DuckDB (naive micros) reads the same file, so
    * oracle comparisons stay exact. */
  def normalizeTs(df: DataFrame, column: String = "ts"): DataFrame = {
    import org.apache.spark.sql.types._
    df.schema(column).dataType match {
      case LongType =>
        df.withColumn(column, timestamp_micros(expr(s"$column div 1000")))
      case TimestampNTZType =>
        df.withColumn(column, col(column).cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalStateException(
        s"events.$column has unsupported physical type $other; " +
          "extend Tables.normalizeTs for the new testdata encoding")
    }
  }

  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // harmless when ts is a real timestamp type; required for NANOS files
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(load(spark, sfDir, "events"))
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "documents")

  /** `embeddings` with the same loud-fail dtype seam as [[normalizeTs]]:
    * every vector operator (native DotProduct/SqDistLong, PQ/SQ8 encode,
    * LSH planes) and every oracle precision contract is written against
    * `embedding: array<float>`. If the driver ever regenerates the table
    * at a different element width, the RIGHT response is a deliberate
    * decision at THIS seam (widen here AND re-check oracle float parity —
    * DuckDB would read the new width natively while a silent Spark cast
    * would not match it), not twenty scattered per-query failures. */
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val df = load(spark, sfDir, "embeddings")
    df.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => df
      case other => throw new IllegalStateException(
        s"embeddings.embedding has unsupported type $other (expected " +
          "array<float>); extend Tables.embeddings for the new testdata " +
          "encoding — and re-verify oracle precision parity when widening")
    }
  }
}

/** One driver-visible query: the Spark plan plus (when expressible in
  * ANSI SQL) the DuckDB oracle the driver hash-compares against.
  *
  * Conventions that keep the hash-compare stable:
  *   - every output column aliased identically in Spark and SQL;
  *   - floating aggregates rounded (sums to 2dp, ratios to 4-6dp) so
  *     partition-order float drift cannot flip the compare;
  *   - deterministic total ORDER BY with a unique tiebreak column.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle))
  def noOracle(name: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, None)
}
