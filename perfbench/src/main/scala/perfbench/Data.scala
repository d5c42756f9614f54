package perfbench

import java.nio.file.{Files, Path}

/** The benchmark's input tables, made by the program's own generator
  * (`graft.GenData`) inside the checkout, so a run never reads outside it.
  *
  * `graft.GenData` derives every value from xxhash64(tag, id): a rerun
  * writes the same rows, so the stored gate digests stay valid. The tables
  * do not depend on the workload seed: the seed picks statements, keys and
  * orders, never the stored tables.
  */
object Data {
  private def sfDir(dataRoot: Path, sf: String): Path = dataRoot.resolve(s"sf$sf")

  /** Generate the tables of scale factor `sf` unless they are there.
    * `graft.GenData` starts and stops its own session, so no other session
    * may be active. It writes to a temporary sibling that is renamed into
    * place, so an interrupted run never leaves a half-written table set. */
  def generate(dataRoot: Path, sf: String): Unit = {
    val dir = sfDir(dataRoot, sf)
    if (!Files.isDirectory(dir)) {
      val tmp = dataRoot.resolve(s"tmp-sf$sf-${ProcessHandle.current().pid()}")
      Fs.deleteTree(tmp)
      graft.GenData.main(Array(tmp.toString, sf))
      try Files.move(tmp, dir)
      catch { case _: java.nio.file.FileAlreadyExistsException => Fs.deleteTree(tmp) }
    }
  }

  /** Directory of the generated tables of scale factor `sf`. */
  def dir(dataRoot: Path, sf: String): String = {
    val d = sfDir(dataRoot, sf)
    require(Files.isDirectory(d), s"no generated tables at $d: run `Main gen` first")
    d.toString
  }
}
