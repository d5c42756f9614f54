package graft.operators

import java.nio.file.Files

import graft.Tables
import graft.functions.Fns
import graft.sources.Sources
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Gated source/sink and semi-structured queries.
  *
  * q_csv_roundtrip drives the CSV sink + source end-to-end (the S11 import
  * path): nation → CSV (header) → read back with explicit schema → agg.
  * q_json_props parses the events table's JSON `props` column with a typed
  * `from_json` — the semi-structured column path every log pipeline needs
  * (and the reference's JSON-document row model rendered columnar).
  */
object SourceOps {
  val nationCsvSchema: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  /** One scratch dir per JVM, reused (mode=overwrite) across invocations —
    * the bench calls each round-trip query several times per run, and a
    * fresh dir per call would leak a corpus copy each time (worse under a
    * tmpfs scratch root). */
  private lazy val scratch = Files.createTempDirectory("graft-src").toString

  /** Sink then source: CSV round-trip must preserve content exactly. */
  val qCsvRoundtrip: Q = (s, d) => {
    val tmp = scratch
    Sources.writeCsv(Tables.nation(s, d), s"$tmp/nation")
    Sources.csv(s, s"$tmp/nation", nationCsvSchema)
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_nations"), min(col("n_name")).as("first_name"))
      .orderBy("n_regionkey")
  }

  val docJsonlSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** JSONL round-trip for the documents corpus — newline-delimited JSON is
    * the interchange format most training corpora actually arrive in.
    * Spark's json sink escapes embedded newlines/quotes, so arbitrary text
    * survives; the read-back uses an EXPLICIT schema (schema inference at
    * 100 TB is a full extra pass over the data, and silently widens types).
    * The aggregate proves content equality against the parquet original —
    * the oracle reads the same table straight from parquet, so any
    * serialization loss flips the gate. */
  val qJsonlRoundtrip: Q = (s, d) => {
    val tmp = scratch
    Tables.documents(s, d).write.mode("overwrite").json(s"$tmp/docs")
    s.read.schema(docJsonlSchema).json(s"$tmp/docs")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("total_chars"),
        min(col("doc_id")).as("min_doc"),
        Fns.hash32(min(col("text"))).as("min_text_h"))
      .orderBy("source")
  }

  /** ORC round-trip for the documents corpus — the OTHER columnar
    * interchange format large pipelines exchange (Hive/Trino lineage),
    * exercising a second native DataSource V1/V2 path end-to-end with the
    * same content-equality discipline as [[qJsonlRoundtrip]]: write ORC,
    * read back with the EXPLICIT schema, aggregate with a text hash so
    * any serialization loss (encoding, nulls, column order) flips the
    * gate against the parquet-reading oracle. Grouped by lang (the jsonl
    * twin groups by source) so the two round-trips pin different
    * result shapes. */
  val qOrcRoundtrip: Q = (s, d) => {
    val tmp = scratch
    Tables.documents(s, d).write.mode("overwrite").orc(s"$tmp/docs_orc")
    s.read.schema(docJsonlSchema).orc(s"$tmp/docs_orc")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("total_chars"),
        min(col("doc_id")).as("min_doc"),
        Fns.hash32(min(col("text"))).as("min_text_h"))
      .orderBy("lang")
  }

  /** Typed extraction from the JSON props string column. */
  val qJsonProps: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        from_json(col("props"), StructType(Seq(StructField("k", LongType)))).as("p"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("p.k")).as("sum_k"),
        max(col("p.k")).as("max_k"))
      .orderBy("event_type")

  /** Bits per dimension for the [[zValue]] interleave, AFTER min/max
    * normalization. Normalization is load-bearing, not cosmetic: with raw
    * values the dimensions had uneven bit widths (users ~6 bits, hours
    * ~10), so every high-order z bit came from the hour dimension alone
    * and a z-range split degenerated to a plain time sort — measured by
    * ZorderLayoutSpec's pruning probe before the fix (z scan fraction ==
    * time-order's 0.59). Equal-width scaling is what production z-order
    * implementations do (rank/quantile bucketing per dimension). */
  val Z_BITS = 8

  /** Morton/Z-curve value: bit-interleave the low [[Z_BITS]] of two
    * non-negative longs (a in even positions, b in odd). Pure integer
    * algebra — 2×Z_BITS shift/mask terms summed over disjoint bits, all
    * inside whole-stage codegen, identically computable in ANSI SQL. */
  def zValue(a: Column, b: Column): Column =
    (0 until Z_BITS).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** Z-order layout keys for the events table — the multi-dimensional
    * data-layout op a 100 TB lake runs so that BOTH `user_id` predicates
    * AND time-range predicates prune at the FILE level from one layout
    * (a single-column sort serves one dimension and scatters the other;
    * the z-curve keeps file min/max boxes tight in both). The gate pins
    * the interleaved key itself per event — row-local integer algebra,
    * zero shuffles beyond the output sort; the actual write path
    * (repartitionByRange on zv + per-file bounding-box shrink vs a
    * time-ordered layout) is proven by ZorderLayoutSpec, which the gate's
    * key parity makes cross-engine-trustworthy. */
  val qZorder: Q = (s, d) => {
    val hi = (1 << Z_BITS) - 1
    val base = Tables.events(s, d)
      .select(col("event_id"), col("user_id").as("u"),
        floor((unix_timestamp(col("ts")) - lit(1704067200L)) / 3600L)
          .cast("long").as("h"))
    val bounds = base.agg(min("u").as("ulo"), max("u").as("uhi"),
      min("h").as("hlo"), max("h").as("hhi"))
    base.crossJoin(broadcast(bounds))
      .withColumn("un",
        expr(s"((u - ulo) * $hi) div greatest(uhi - ulo, 1)"))
      .withColumn("hn",
        expr(s"((h - hlo) * $hi) div greatest(hhi - hlo, 1)"))
      .select(col("event_id"), col("u"), col("h"),
        zValue(col("un"), col("hn")).as("zv"))
      .orderBy("zv", "event_id")
  }

  val gates: Seq[Gate] = Seq(
    // z-value: the same 2*Z_BITS shift/mask terms over disjoint bits
    Gate("q_zorder", qZorder, {
      val hi = (1 << Z_BITS) - 1
      val zTerms = (0 until Z_BITS).map { i =>
        s"(((un >> $i) & 1) << ${2 * i}) + (((hn >> $i) & 1) << ${2 * i + 1})"
      }.mkString(" + ")
      s"""WITH b AS (
         |  SELECT event_id, user_id AS u,
         |    (CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) - 1704067200)
         |      // 3600 AS h
         |  FROM events),
         |r AS (SELECT min(u) AS ulo, max(u) AS uhi,
         |             min(h) AS hlo, max(h) AS hhi FROM b),
         |sct AS (
         |  SELECT event_id, u, h,
         |    ((u - ulo) * $hi) // greatest(uhi - ulo, 1) AS un,
         |    ((h - hlo) * $hi) // greatest(hhi - hlo, 1) AS hn
         |  FROM b, r)
         |SELECT event_id, u, h, CAST($zTerms AS BIGINT) AS zv
         |FROM sct ORDER BY zv, event_id""".stripMargin
    }),
    Gate("q_csv_roundtrip", qCsvRoundtrip,
      """SELECT n_regionkey, count(*) AS n_nations, min(n_name) AS first_name
        |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q_jsonl_roundtrip", qJsonlRoundtrip,
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  min(doc_id) AS min_doc,
        |  CAST('0x' || substr(md5(min(text)), 1, 8) AS BIGINT) AS min_text_h
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q_orc_roundtrip", qOrcRoundtrip,
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  min(doc_id) AS min_doc,
        |  CAST('0x' || substr(md5(min(text)), 1, 8) AS BIGINT) AS min_text_h
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q_json_props", qJsonProps,
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
  )
}
