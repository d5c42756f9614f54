package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry gate's result → parquet, plus
  * oracle_sql.json for the dumped gates, for the DuckDB oracle compare
  * (`tools/compare.py`). Gates run in name order. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated gate names (dev iteration);
    // without it every gate runs. An unknown name fails here, before a
    // session opens.
    val gates =
      if (args.length > 2) args(2).split(",").toSeq.distinct.map(SparkEntry.gate).sortBy(_.name)
      else SparkEntry.gates
    val spark = Session.local(Some(sfDir))
    new java.io.File(outDir).mkdirs()
    // q_mst's DuckDB oracle unrolls MST_ROUNDS Borůvka rounds (each with
    // MST_DOUBLE pointer doublings) — exact only while the co-purchase
    // vertex count ≤ 2^MST_ROUNDS. The Spark side converges at any scale,
    // so an undersized constant would otherwise surface as a confusing
    // hash mismatch. Make the bound violation explicit here, where the
    // oracle is about to be compared (the bench/probe paths have no
    // oracle and must not pay or trip this check). Runs inside q_mst's own
    // try so a violation fails THAT gate loudly, never the whole dump.
    def mstOracleBoundCheck(): Unit = {
      import operators.BigGraphOps
      val e = BigGraphOps.coEdges(spark, sfDir)
      val v = e.select(org.apache.spark.sql.functions.col("src").as("n"))
        .unionByName(e.select(org.apache.spark.sql.functions.col("dst").as("n")))
        .distinct().count()
      require(v <= (1L << BigGraphOps.MST_ROUNDS),
        s"q_mst oracle bound violated: co-purchase graph has $v vertices > " +
        s"2^${BigGraphOps.MST_ROUNDS}; raise BigGraphOps.MST_ROUNDS / " +
        s"MST_DOUBLE (oracle unroll depth) to cover this SF")
    }
    // r17 (verdict #5): periodic cache drop. Query functions persist
    // bounded frames for their own multi-consumer stages; Bench drops them
    // per pass, but Verify ran all 252 gates in ONE session with no drop,
    // so sf1/sf10 sweeps accumulated every gate's MEMORY_AND_DISK blocks
    // (correct — spills — but unbounded dead weight). Clearing every
    // CLEAR_EVERY gates bounds the footprint to one window's frames while
    // keeping most cross-gate stage sharing (shared chains re-persist on
    // next use; values cannot change — persist is execution-transparent).
    val CLEAR_EVERY = 32
    var sinceClear = 0
    gates.foreach { case operators.Gate(name, fn, _) =>
      try {
        if (name == "q_mst") mstOracleBoundCheck()
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      sinceClear += 1
      if (sinceClear >= CLEAR_EVERY) { spark.catalog.clearCache(); sinceClear = 0 }
    }
    import Bench.jstr
    val json = gates.map(g => s"${jstr(g.name)}: ${jstr(g.oracle)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
