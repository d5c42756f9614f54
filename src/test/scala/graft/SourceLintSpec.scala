package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Rules about the main sources enforced in code rather than prose. */
class SourceLintSpec extends AnyFunSuite {
  private val main = Paths.get("src", "main")

  private def sources: Seq[Path] = {
    assert(Files.isDirectory(main), s"run from the repository root (no $main)")
    val walk = Files.walk(main)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("only the superstep driver cuts lineage with localCheckpoint") {
    val offenders = for {
      f <- sources if f.getFileName.toString != "Superstep.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("localCheckpoint(")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "iterate through graft.operators.Superstep instead:\n" + offenders.mkString("\n"))
  }

  test("only Tables spells a table's parquet path") {
    val offenders = for {
      f <- sources if f.getFileName.toString != "Tables.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains(".parquet\"")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "use Tables.path(dir, name) instead:\n" + offenders.mkString("\n"))
  }

  test("only Ledger starts a micro-batch stream") {
    val ledger = Paths.get("streaming", "Ledger.scala")
    val offenders = for {
      f <- sources if !f.endsWith(ledger)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("foreachBatch") || line.contains(".trigger(")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "start the stream with graft.streaming.Ledger.run instead:\n" + offenders.mkString("\n"))
  }

  test("every GQL group read goes through the catalog's schema memo") {
    val gql = main.resolve(Paths.get("scala", "graft", "gql"))
    assert(sources.exists(_.startsWith(gql)), s"no sources under $gql")
    val offenders = for {
      f <- sources if f.startsWith(gql) && f.getFileName.toString != "GraphCatalog.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("read.parquet(") || line.contains("read.schema(")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "read a group with GraphCatalog.read instead:\n" + offenders.mkString("\n"))
  }
}
