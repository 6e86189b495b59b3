package graft

import org.apache.spark.sql.SparkSession

import graft.server.Server

/** One-shot CLI runner (reference Cargo.toml:7-9 binds the shipped `karna`
  * binary to karna-cli/src/main.rs — this is that entry point, Spark-side):
  *
  *   graft.Cli <sql|graphql|nl> <query> <dataDir> [--json] [--max-rows=N]
  *
  * Routes through the same `Server.handle` seam as the HTTP API, so CLI,
  * HTTP, and the driver harness all execute identical plans. Output is a
  * text table (default) or JSON (the HTTP response body) with `--json`.
  */
object Cli {

  final case class CliArgs(dialect: String, query: String, dir: String,
                           json: Boolean, maxRows: Int)

  def parseArgs(args: Array[String]): CliArgs = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    require(pos.length == 3,
      "usage: graft.Cli <sql|graphql|nl> <query> <dataDir> [--json] [--max-rows=N]")
    // unknown flags fail loudly — a typo like --maxrows=5 silently using
    // the default would misreport what the user asked for
    val unknown = flags.filterNot(f => f == "--json" || f.startsWith("--max-rows="))
    require(unknown.isEmpty,
      s"unknown flag(s): ${unknown.mkString(", ")} (expected --json | --max-rows=N)")
    val json = flags.contains("--json")
    val maxRows = flags.collectFirst {
      case f if f.startsWith("--max-rows=") => f.stripPrefix("--max-rows=").toInt
    }.getOrElse(Server.DefaultMaxRows)
    CliArgs(pos(0), pos(1), pos(2), json, maxRows)
  }

  /** Run one query and return the printable result — separated from main
    * so tests drive it against an existing session.
    */
  def run(spark: SparkSession, a: CliArgs): String = {
    if (a.json) {
      // build the request body with Jackson (the same serializer the
      // server uses) instead of a third hand-rolled JSON escaper
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val body = m.createObjectNode()
      body.put("dialect", a.dialect); body.put("query", a.query)
      body.put("dir", a.dir); body.put("maxRows", a.maxRows)
      Server.handleJson(spark, m.writeValueAsString(body))
    }
    else {
      val df = Server.handle(spark, Server.ServeRequest(a.dialect, a.query, a.dir, a.maxRows))
      table(df.columns, df.limit(a.maxRows).collect().map(_.toSeq.map(cell)))
    }
  }

  private def cell(v: Any): String = v match {
    case null          => "NULL"
    case a: Seq[_]     => a.map(cell).mkString("[", ", ", "]")
    case o             => o.toString
  }

  /** Minimal fixed-width text table (the CLI's human-readable output). */
  private def table(cols: Array[String], rows: Array[Seq[String]]): String = {
    val widths = cols.indices.map { i =>
      (cols(i).length +: rows.map(_(i).length)).max
    }
    def line(cells: Seq[String]): String =
      cells.zip(widths).map { case (c, w) => c.padTo(w, ' ') }.mkString("| ", " | ", " |")
    val sep = widths.map("-" * _).mkString("+-", "-+-", "-+")
    (Seq(sep, line(cols.toSeq), sep) ++ rows.map(line) :+ sep).mkString("\n")
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val spark = GraftSession("graft-cli")
    try {
      val out = run(spark, a)
      println(out)
      // with --json, handleJson converts failures into an {"error": ...}
      // body instead of throwing — a scripting caller must still see a
      // nonzero exit, same as the non-json path
      if (a.json && isErrorBody(out)) sys.exit(1)
    } finally spark.stop()
  }

  /** True iff the JSON response is the serving protocol's error object. */
  private[graft] def isErrorBody(body: String): Boolean =
    try {
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
      n != null && n.has("error")
    } catch { case _: Exception => false }
}
