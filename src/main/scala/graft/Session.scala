package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one way this repo opens a Spark session. Every main and the test
  * suite build through [[local]], so the confs that gate hashes and timings
  * depend on are set in one place. A caller that needs something else
  * changes it on the returned session (`Probe skew` turns AQE's skew join off,
  * the GQL CLIs lower the log level).
  */
object Session {
  /** Local core count: `SPARK_GRAFT_CPUS`, default 32. */
  lazy val defaultCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** A `local[cpus]` session with `shuffle.partitions = cpus`, AQE's initial
    * partition count scaled with `sfDir`'s bytes (cpus when there is no
    * input dir), session time zone UTC (the NTZ→TIMESTAMP cast in
    * [[Tables.events]] depends on it), cached plans free to change their
    * output partitioning, no UI and WARN logging. */
  def local(sfDir: Option[String] = None, cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sfDir.fold(cpus)(scaledInitialPartitions(_, cpus)).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Execute the full physical plan and discard the rows. A bare `count()`
    * lets Catalyst drop sorts and projections; the noop sink does not. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** AQE initial shuffle-partition count scaled with the SF dir's on-disk
    * bytes. The fixed dev `shuffle.partitions = 32` was the one superlinear
    * curve in the sf10 cold sweep (q_suffix_dup 12.1× for 10× data,
    * PERF.md): an 83 M-gram shuffle over 32 reducers pays n·log n sort +
    * spill per reducer as SF grows. On a real cluster partitions scale with
    * input; this mirrors that by feeding
    * `spark.sql.adaptive.coalescePartitions.initialPartitionNum` — AQE then
    * coalesces SMALL shuffles back down (parallelismFirst keeps the
    * default-parallelism floor), so only the genuinely large exchanges fan
    * out. ~32 MB of INPUT bytes per initial partition (shuffle volume
    * runs 3–10× input for the gram/wedge families after the digest-key
    * discipline, so this bounds reducers near the 100–300 MB cluster rule
    * of thumb); floor = cpus (dev dirs keep today's exact plans and gate
    * hashes; a missing dir counts as 0 bytes), cap = 4096 (task-launch
    * sanity). Measured at sf10 (q_suffix_dup cold, same host,
    * post-digest): 32 parts 54 s / 64 parts 69 s / 128 parts 103 s /
    * 215 parts 74 s — local[32] pays scheduling overhead for extra
    * reducers because one shared heap has no per-executor memory wall, so
    * the target is set for the CLUSTER memory bound (5.6 GB gram shuffle
    * at sf10 over 32 reducers is 175 MB each — fine; at sf100 it would be
    * 1.75 GB each — OOM), not for local wall-clock. */
  def scaledInitialPartitions(sfDir: String, cpus: Int): Int = {
    import java.nio.file.{Files, Paths}
    val bytes =
      try {
        val s = Files.walk(Paths.get(sfDir))
        try s.filter(p => Files.isRegularFile(p)).mapToLong(p => Files.size(p)).sum
        finally s.close()
      } catch { case _: Throwable => 0L }
    val perPart = 32L << 20
    math.min(4096L, math.max(cpus.toLong, (bytes + perPart - 1) / perPart)).toInt
  }
}
