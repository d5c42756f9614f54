package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one micro-batch driver of `graft.streaming` and the exactly-once
  * protocol its per-batch ingests and monitors share. Every stream starts
  * through [[run]]: a checkpointed source, a trigger, and a per-batch
  * body `(batch, batchId) => Unit`.
  *
  * The protocol (the whole crash-replay argument, stated once here):
  *   - every output of batch `bid` lands in a per-batch-id OVERWRITE
  *     subdirectory `<dir>/batch=<bid>`, read back through partition
  *     discovery;
  *   - novelty and baselines are judged against STRICTLY EARLIER batches
  *     (`batch < bid`, [[withoutKeys]] with `before`), never a replaying
  *     batch's own partial writes.
  * So a batch replayed after a crash or a re-delivery recomputes from
  * identical inputs and overwrites its own outputs byte-for-byte: no loss,
  * no duplicate, no double count, wherever the previous attempt died.
  * The checkpoint carries the source offsets, so a restart resumes
  * instead of re-reading everything. */
private[streaming] object Ledger {

  /** File stream of the parquet deliveries under `dir`, one file per
    * micro-batch so deliveries stay distinct batches. */
  def files(s: SparkSession, schema: StructType, dir: String): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)

  /** Start `source` checkpointed at `checkpointDir`, running `body` on
    * every micro-batch. `AvailableNow` drains what is there and stops. */
  def run(source: DataFrame, checkpointDir: String,
          trigger: Trigger = Trigger.AvailableNow())
         (body: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(body)
      .start()

  /** Whether the store at `dir` exists yet. */
  def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The ids of the `batch=<id>` directories directly under `dir`. */
  def batchIds(spark: SparkSession, dir: String): Set[Long] =
    if (!exists(spark, dir)) Set.empty
    else {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
        .map(_.getPath.getName).filter(_.startsWith("batch="))
        .flatMap(n => n.stripPrefix("batch=").toLongOption).toSet
    }

  /** `keyed` minus its rows whose `keyCol` is already in the parquet store
    * at `dir` (all of `keyed` while no store exists). `before = Some(bid)`
    * counts only the store's batches strictly earlier than `bid`. */
  def withoutKeys(keyed: DataFrame, dir: String, keyCol: String,
                  before: Option[Long] = None): DataFrame = {
    val spark = keyed.sparkSession
    if (!exists(spark, dir)) keyed
    else {
      val seen = spark.read.parquet(dir)
      keyed.join(before.fold(seen)(b => seen.filter(col("batch") < b)).select(keyCol),
        Seq(keyCol), "left_anti")
    }
  }
}
