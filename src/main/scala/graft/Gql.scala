package graft

/** GQL script runner — the CLI twin of the reference's regress harness
  * (/root/reference/test/regress.cpp:110-213): execute every statement in a
  * .gql file in order, print `[i]: <status>` per statement and result rows
  * for queries. `runMain graft.Gql <script.gql> [catalogDir]`.
  */
object Gql {
  def main(args: Array[String]): Unit = {
    val script = java.nio.file.Files.readString(java.nio.file.Paths.get(args(0)))
    val root = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("gql-catalog").toString
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    val engine = new gql.GqlEngine(spark, root)
    engine.exec(script).zipWithIndex.foreach { case (r, i) =>
      println(s"[$i]:\t${r.status}")
      r.text.foreach(println)
      r.df.foreach(_.show(100, truncate = false))
    }
    spark.stop()
  }
}
