package graft

import java.io.PrintWriter

import org.apache.spark.sql.DataFrame

/** Interactive GQL shell — tooling parity with the reference's line-editing
  * REPL (/root/reference/tool/gqlcmd.cpp: linenoise prompt, `.gql_history`
  * capped at 100 entries, `.exit`, `dot on|off` result rendering, and a
  * per-execution `STATUS, COST <secs>s` line). Differences are deliberate:
  * multi-line statements continue under a `...>` prompt until the
  * statement closes (gqlcmd sends each line as-is and unbalanced input
  * errors), and line editing rides the jline terminal that ships with
  * Spark instead of linenoise.
  *
  * `runMain graft.Shell [catalogDir]` — interactive when stdin is a TTY,
  * otherwise a pipe-friendly statement loop over stdin (same loop either
  * way; ShellSpec drives it with scripted input).
  */
object Shell {
  val PROMPT = "graft> "
  val CONT = "  ...> "
  /** gqlcmd.cpp MAX_HISTORY_SIZE. */
  val HISTORY_MAX = 100
  val HISTORY_FILE = ".gql_history"

  val HELP: String =
    """.exit            quit the shell
      |.help            this text
      |dot on | dot off render edge results as DOT (gqlcmd parity)
      |Statements end with ';' — input continues across lines until then.""".stripMargin

  /** ctrl-c sentinel from the interactive reader: clears any partial
    * statement instead of gluing the abort into the next input. */
  private[graft] val INTERRUPT = ""

  /** The statement loop, factored from [[main]] so the spec can drive it:
    * `readLine(prompt)` returns None at EOF; meta-commands handle at a
    * FRESH prompt only (mid-statement they are statement text, as in any
    * SQL shell). Statements execute when the buffer closes; every result
    * prints, then one `STATUS, COST <secs>s` line per execution (the
    * gqlcmd format). */
  private[graft] def runLoop(engine: gql.GqlEngine,
                             readLine: String => Option[String],
                             out: PrintWriter): Unit = {
    val buf = new StringBuilder
    var done = false
    var dot = false
    while (!done) {
      readLine(if (buf.isEmpty) PROMPT else CONT) match {
        case None => done = true // EOF (ctrl-d / pipe end)
        case Some(INTERRUPT) => // ctrl-c: abandon any partial statement
          if (buf.nonEmpty) { buf.clear(); out.println("^C (input cleared)") }
        case Some(line) =>
          val t = line.trim
          if (buf.isEmpty && (t == ".exit" || t == ".quit")) done = true
          else if (buf.isEmpty && t == ".help") out.println(HELP)
          else if (buf.isEmpty && t == "dot on") { dot = true; out.println("dot on") }
          else if (buf.isEmpty && t == "dot off") { dot = false; out.println("dot off") }
          else if (buf.isEmpty && t.isEmpty) () // blank line at the prompt
          else {
            buf.append(line).append('\n')
            if (!gql.Parser.incomplete(buf.toString)) {
              val script = buf.toString
              buf.clear()
              val t0 = System.nanoTime()
              val results = engine.exec(script)
              val secs = (System.nanoTime() - t0) / 1e9
              results.foreach { r =>
                r.text.foreach(out.println)
                r.df.foreach(render(_, dot, out))
              }
              // one cost line per execution, gqlcmd's "%s, COST %gs"
              out.println(f"${results.map(_.status).mkString("; ")}, COST $secs%.6gs")
            }
          }
      }
      out.flush()
    }
  }

  /** Edge-row display cap for dot mode — a terminal rendering, not an
    * export; a multi-million-edge result must not collect unbounded. */
  val DOT_CAP = 10000

  /** Result rendering: edge-shaped frames in dot mode print as a DOT
    * digraph (gqlcmd print_dot — `from -> to;` / `from -- to;` with the
    * string key when present); everything else prints as a header +
    * pipe-separated rows capped at 100 (the Gql batch runner's cap). */
  private def render(df: DataFrame, dot: Boolean, out: PrintWriter): Unit = {
    val cols = df.columns
    if (dot && Seq("src_i", "src_s", "dst_i", "dst_s").forall(cols.contains)) {
      out.println("digraph G {")
      val rows = df.limit(DOT_CAP + 1).collect()
      rows.take(DOT_CAP).foreach { r =>
        def k(i: String, s: String) = Option(r.getAs[Any](s))
          .map(_.toString).orElse(Option(r.getAs[Any](i)).map(_.toString))
        val arrow =
          if (cols.contains("directed") && r.getAs[Any]("directed") == true) "->" else "--"
        // mixed all-group results carry vertex rows with null endpoint
        // twins — skip them rather than printing `null -- null;`
        (k("src_i", "src_s"), k("dst_i", "dst_s")) match {
          case (Some(f), Some(t)) => out.println(s"  $f $arrow $t;")
          case _ =>
        }
      }
      if (rows.length > DOT_CAP) out.println(s"  // ... ($DOT_CAP-edge display cap)")
      out.println("}")
    } else {
      val rows = df.limit(101).collect()
      out.println(cols.mkString("|"))
      rows.take(100).foreach(r =>
        out.println(r.toSeq.map(String.valueOf(_)).mkString("|")))
      if (rows.length > 100) out.println("... (100-row display cap)")
    }
  }

  def main(args: Array[String]): Unit = {
    val root = if (args.nonEmpty) args(0)
      else java.nio.file.Files.createTempDirectory("gql-catalog").toString
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    val engine = new gql.GqlEngine(spark, root)
    val out = new PrintWriter(System.out, true)
    out.println(s"graft GQL shell — catalog at $root")
    out.println("Type .help for commands; statements end with ';'.")
    if (System.console() != null) {
      // interactive: jline line editing + persistent capped history
      val term = org.jline.terminal.TerminalBuilder.builder().system(true).build()
      val reader = org.jline.reader.LineReaderBuilder.builder()
        .terminal(term)
        .variable(org.jline.reader.LineReader.HISTORY_FILE,
          java.nio.file.Paths.get(sys.props("user.home"), HISTORY_FILE))
        .variable(org.jline.reader.LineReader.HISTORY_FILE_SIZE,
          Integer.valueOf(HISTORY_MAX))
        .build()
      def read(prompt: String): Option[String] =
        try Some(reader.readLine(prompt))
        catch {
          case _: org.jline.reader.EndOfFileException => None
          case _: org.jline.reader.UserInterruptException => Some(INTERRUPT)
        }
      try runLoop(engine, read, out)
      finally {
        reader.getHistory.save()
        term.close()
      }
    } else {
      // pipe mode: same loop over raw stdin. Under `sbt runMain` the
      // forked JVM's stdin is a PIPE even at a real terminal
      // (connectInput pumps sbt's stdin through), so System.console() is
      // null and this branch serves the sbt-interactive user too —
      // prompts go to STDERR so they are visible there while a piped
      // script's stdout stays clean. Full jline line editing/history
      // needs a direct `java -cp target/...:/opt/spark/jars/* graft.Shell`
      // launch.
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
      runLoop(engine, p => { System.err.print(p); System.err.flush(); Option(in.readLine()) }, out)
    }
    spark.stop()
  }
}
