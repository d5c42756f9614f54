package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver's synthetic parquet tables (TESTDATA.md).
  *
  * Every operator entry in [[SparkEntry.queries]] receives `(spark, sfDir)`
  * and reads only these tables — the scan itself is the DataFrame, so
  * Catalyst gets full pushdown/pruning on the parquet source.
  */
object Tables {
  /** The ten tables of an SF dir, in the order GenData writes them. */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Where table `name` lives under `dir` — the one place the layout is spelled. */
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(path(dir, name))

  /** Warm the JVM and every table of `dir`: a `range(1000)` sum, then each
    * table through its loader into the noop sink (cold parquet-footer reads
    * and codegen otherwise charge seconds to whichever query scans a table
    * first). Each table warms inside its own try, so a broken loader
    * degrades only the queries that read it; the failures are returned. */
  def warm(spark: SparkSession, dir: String): Seq[(String, Throwable)] = {
    Session.noop(spark.range(1000).selectExpr("sum(id)").toDF())
    names.flatMap { t =>
      val load: (SparkSession, String) => DataFrame = t match {
        case "events" => events
        case "documents" => documents
        case "embeddings" => embeddings
        case _ => apply(_, _, t)
      }
      try { Session.noop(load(spark, dir)); None }
      catch { case e: Throwable => Some(t -> e) }
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** `events.parquet`'s `ts` physical type has shifted across testdata
    * generations — TIMESTAMP(NANOS) originally, TIMESTAMP(MICROS) since the
    * round-8 regeneration — so the loader adapts to whatever is on disk
    * instead of assuming either:
    *
    *  - NANOS: Spark rejects it by default (PARQUET_TYPE_ILLEGAL); the
    *    legacy conf reads it as a raw nanos LONG, converted here with
    *    integral division (`ts / 1000` through doubles would lose precision
    *    above 2^53 ns ≈ 1970+104 days).
    *  - MICROS without tz: Spark infers TIMESTAMP_NTZ; cast to the session
    *    TIMESTAMP. Every entry point pins `spark.sql.session.timeZone=UTC`,
    *    so the cast re-interprets the same micros value as the identical
    *    UTC instant the nanos path produced (asserted by TemporalSpec's
    *    dual-schema fixture).
    *  - MICROS adjusted-to-UTC: already the session TIMESTAMP, pass through.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    eventsTs(apply(s, d, "events"))
  }
  /** An events frame, batch or streaming, with `ts` as the session
    * TIMESTAMP whatever its on-disk type ([[events]] lists the three). */
  def eventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case _ => // TIMESTAMP_NTZ: naive micros == UTC instants (session tz is UTC)
        df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  /** Documents with the id/count columns normalized to LONG. The casts are
    * conditional — when the on-disk schema already matches (today's layout)
    * the frame is returned untouched, so filter pushdown on doc_id is
    * unaffected; a regeneration that narrows the ints (the events-ts
    * lesson, generalized) degrades to a widening cast instead of breaking
    * 40 gates at analysis time. */
  def documents(s: SparkSession, d: String): DataFrame = {
    val df = apply(s, d, "documents")
    import org.apache.spark.sql.types.LongType
    Seq("doc_id", "n_chars").foldLeft(df) { (acc, c) =>
      if (!acc.schema.fieldNames.contains(c)) acc // minimal fixtures omit n_chars
      else if (acc.schema(c).dataType == LongType) acc
      else acc.withColumn(c, col(c).cast(LongType))
    }
  }

  /** Embeddings with the vector normalized to array&lt;float&gt; and vec_id
    * to LONG — same conditional-normalization posture as [[documents]]
    * (a float↔double flip in a regenerated embeddings.parquet would
    * otherwise kill every typed Dataset[(Long, Array[Float])] operator). */
  def embeddings(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
    val df = apply(s, d, "embeddings")
    val withVec = df.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => df
      case _ => df.withColumn("embedding", col("embedding").cast("array<float>"))
    }
    if (withVec.schema("vec_id").dataType == LongType) withVec
    else withVec.withColumn("vec_id", col("vec_id").cast(LongType))
  }
}
