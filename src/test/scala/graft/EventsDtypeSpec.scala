package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Dtype-robustness contract (round-8 verdict #2): the driver regenerates
  * `events.parquet` between rounds and has already shipped `ts` in three
  * different physical encodings — INT64 nanos (read as LongType under
  * `nanosAsLong`), TIMESTAMP(MICROS) adjusted-to-UTC, and TIMESTAMP_NTZ.
  * Round 8's silent-wrong q55 happened because the streaming reader
  * hardcoded one of them. This suite writes the SAME logical rows in all
  * three encodings and asserts `Tables.events` (batch) and
  * `EventStream.read` (streaming, drained via the hourly agg) produce
  * identical results over each — so the next silent regeneration breaks a
  * unit test, not the driver artifact.
  */
class EventsDtypeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Base rows with micro-precision timestamps spanning several hours. */
  private def baseDf = {
    val rows = (1L to 240L).map { i =>
      // 2024-03-01 00:00:00 UTC epoch micros, stepping 7m13.000017s so rows
      // cross hour boundaries and carry non-zero microseconds
      val us = 1709251200000000L + i * 433000017L
      (i, us, i % 7, if (i % 3 == 0) "click" else "purchase", i * 0.5, s"p$i")
    }
    spark.createDataFrame(rows).toDF(
      "event_id", "ts_us", "user_id", "event_type", "value", "props")
  }

  /** Write the fixture with `ts` in the given encoding; returns the sf-style
    * dir containing `events.parquet`. */
  private def writeFixture(encoding: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"events_$encoding").toString
    val df = encoding match {
      case "nanos_long" => baseDf.withColumn("ts", col("ts_us") * 1000L)
      case "timestamp"  => baseDf.withColumn("ts", timestamp_micros(col("ts_us")))
      case "ntz"        => baseDf.withColumn("ts",
        timestamp_micros(col("ts_us")).cast(TimestampNTZType))
    }
    df.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private lazy val dirs = Map(
    "nanos_long" -> writeFixture("nanos_long"),
    "timestamp"  -> writeFixture("timestamp"),
    "ntz"        -> writeFixture("ntz"))

  test("fixtures really carry three distinct physical encodings") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val types = dirs.map { case (enc, dir) =>
      enc -> spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType }
    assert(types("nanos_long") === LongType)
    assert(types("timestamp") === TimestampType)
    assert(types("ntz") === TimestampNTZType)
  }

  test("Tables.events normalizes all three encodings to identical rows") {
    val results = dirs.map { case (enc, dir) =>
      val df = Tables.events(spark, dir)
      assert(df.schema("ts").dataType === TimestampType,
        s"$enc not normalized to TimestampType")
      enc -> df.select(col("event_id"), unix_micros(col("ts")).as("us"))
        .orderBy("event_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    assert(results("nanos_long") === results("timestamp"))
    assert(results("timestamp") === results("ntz"))
    // and the micros survive exactly (no second div-1000, no double round-trip)
    assert(results("ntz").head._2 === 1709251200000000L + 433000017L)
  }

  test("EventStream.read agrees with the batch loader on every encoding") {
    dirs.foreach { case (enc, dir) =>
      val streamed = streaming.EventStream
        .hourlyAvailableNow(spark, dir, statePartitions = 2)
        .collect().map(_.toSeq).toSeq
      val batch = streaming.EventStream.hourly(Tables.events(spark, dir))
        .orderBy(col("hour"), col("event_type"))
        .collect().map(_.toSeq).toSeq
      assert(streamed === batch, s"stream/batch disagreement on $enc")
      assert(batch.nonEmpty && batch.size > 3, s"$enc produced degenerate windows")
    }
  }

  test("Tables.embeddings: float vectors load; a width drift fails loudly at the seam") {
    val okDir = java.nio.file.Files.createTempDirectory("emb_ok").toString
    spark.range(0, 4).select(col("id").as("vec_id"),
        array(lit(1.0f), lit(2.0f)).as("embedding"), lit(0).as("label"))
      .write.mode("overwrite").parquet(s"$okDir/embeddings.parquet")
    assert(Tables.embeddings(spark, okDir).count() == 4L)

    val badDir = java.nio.file.Files.createTempDirectory("emb_bad").toString
    spark.range(0, 4).select(col("id").as("vec_id"),
        array(lit(1.0), lit(2.0)).as("embedding"), lit(0).as("label"))
      .write.mode("overwrite").parquet(s"$badDir/embeddings.parquet")
    val e = intercept[IllegalStateException](Tables.embeddings(spark, badDir))
    assert(e.getMessage.contains("Tables.embeddings"), e.getMessage)
  }

  test("Tables.load re-infers the schema of a path rewritten in the " +
      "same JVM") {
    val dir = java.nio.file.Files.createTempDirectory("tables_rewrite").toString
    val path = s"$dir/t.parquet"
    spark.range(3).toDF("a").write.parquet(path)
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("a"))
    val before = new java.io.File(path).lastModified()
    spark.range(3).selectExpr("id AS b", "id * 2 AS c")
      .write.mode("overwrite").parquet(path)
    // a rewrite always lands a new modification time; pin it past the
    // old one so a coarse filesystem clock cannot hide it
    new java.io.File(path).setLastModified(before + 5000L)
    val reloaded = Tables.load(spark, dir, "t")
    assert(reloaded.columns.toSeq === Seq("b", "c"))
    assert(reloaded.count() === 3L)
  }

  test("normalizeTs fails loudly on a NEW unexpected encoding") {
    val weird = baseDf.withColumn("ts", col("ts_us").cast(StringType))
    val e = intercept[IllegalStateException](Tables.normalizeTs(weird))
    assert(e.getMessage.contains("unsupported physical type"))
  }
}
