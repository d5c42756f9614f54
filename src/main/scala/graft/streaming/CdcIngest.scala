package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Change-data-capture merge ingest — the reference's upset/remove
  * statements rendered as a CONTINUOUSLY MAINTAINED table (the
  * Delta/Hudi merge-on-write shape): a stream of change events
  * `(cid, op 'U'|'D', doc_id, text, ts)` folds into a store that always
  * holds exactly the latest surviving version of every doc.
  *
  * Merge semantics are LATEST-WINS under the total order (ts, cid) —
  * cid (the change id) breaks ts ties, so the merge is deterministic
  * for any arrival interleaving. An upsert ('U') replaces the doc's
  * row; a delete ('D') removes it. The fold is associative over
  * batches: merging batch-by-batch or all-at-once yields the same
  * store (spec-asserted against the batch window query), and replaying
  * a delivered change is a NO-OP (max over a total order is
  * idempotent), so re-delivery and checkpoint-less restart both
  * converge to the same table — exactly-once EFFECTS without a ledger.
  *
  * Scale shape: each micro-batch is one (doc_id)-keyed window over
  * store ∪ changes. At 100 TB the store side is partition-pruned to
  * the doc partitions the batch touches (the deleteDocs posture) and
  * the swap becomes the catalog's atomic pointer flip; the merge
  * dataflow is unchanged. Crash safety is compaction's staged swap
  * ([[IngestMaintenance.swapIn]]): an interrupted swap is repaired by
  * the next batch. */
object CdcIngest {

  val changeSchema: StructType = StructType(Seq(
    StructField("cid", LongType),
    StructField("op", StringType),
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("ts", LongType)))

  /** Latest-wins fold of `changes` into `current` (both carrying
    * doc_id/text/ts/cid/op; current rows are prior winners). Shared by
    * the stream and the spec's batch twin.
    *
    * Delete winners are kept as TOMBSTONES, not dropped — the classic
    * CDC resurrection bug (caught by the spec): a store that forgets a
    * delete lets a re-delivered OLDER upsert win against nothing and
    * revive the doc. Tombstones make replay a true no-op; readers go
    * through [[table]], which filters them. A production run ages
    * tombstones out during compaction once they pass the re-delivery
    * retention horizon (the Delta/Hudi convention). */
  def mergeChanges(current: DataFrame, changes: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id")
      .orderBy(col("ts").desc, col("cid").desc)
    current.select("doc_id", "text", "ts", "cid", "op")
      .unionByName(changes.select("doc_id", "text", "ts", "cid", "op"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "text", "ts", "cid", "op")
  }

  /** Reader view of the merge store: live rows only (tombstones hidden). */
  def table(s: SparkSession, storeDir: String): DataFrame =
    s.read.parquet(storeDir).filter(col("op") === "U")

  /** Start the merge stream: reads change-event parquet files from
    * `srcDir` (file-at-a-time, so multi-batch folding is exercised) and
    * maintains `storeDir` as the latest-wins table. It runs until stopped
    * (Spark's default processing-time trigger), unlike the drain-and-stop
    * ingests. */
  def start(s: SparkSession, srcDir: String, storeDir: String,
            ckptDir: String): StreamingQuery =
    Ledger.run(Ledger.files(s, changeSchema, srcDir), ckptDir, Trigger.ProcessingTime(0L)) {
      (batch, _) => applyBatch(s, storeDir, batch)
    }

  /** One merge application — also the unit the spec calls directly. */
  def applyBatch(s: SparkSession, storeDir: String, batch: DataFrame): Unit = {
    IngestMaintenance.repairSwap(storeDir)
    val current =
      if (Ledger.exists(s, storeDir)) s.read.parquet(storeDir)
      else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(changeSchema.filterNot(_.name == "op"))
          .add(StructField("op", StringType)))
    IngestMaintenance.swapIn(storeDir)(mergeChanges(current, batch).write.parquet(_))
  }
}
