package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.server.Server

/** One-shot CLI runner (reference Cargo.toml:7-9 binds the shipped `karna`
  * binary to karna-cli/src/main.rs — this is that entry point, Spark-side):
  *
  *   graft.Cli <sql|graphql|nl> <query> <dataDir> [--json] [--max-rows=N]
  *
  * Routes through the same `Server.handleJson` path as the HTTP API, so
  * CLI and HTTP share one plan, one `maxRows` ceiling and one timeout.
  * Output is a text table (default) or JSON (the HTTP response body) with
  * `--json`.
  */
object Cli {

  private val mapper = new ObjectMapper()

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

  /** Run one query through `Server.handleJson` (the serving checks,
    * timeout, metering and view cleanup) and return the printable result:
    * the response body with `--json`, else a text table of its rows. In
    * text mode an error body throws its message. Separated from main so
    * tests drive it against an existing session.
    */
  def run(spark: SparkSession, a: CliArgs): String = {
    val body = mapper.createObjectNode()
    body.put("dialect", a.dialect); body.put("query", a.query)
    body.put("dir", a.dir); body.put("maxRows", a.maxRows)
    val resp = Server.handleJson(spark, mapper.writeValueAsString(body))
    if (a.json) resp
    else {
      val n = mapper.readTree(resp)
      if (n.has("error")) sys.error(n.get("error").asText)
      val cols = n.get("columns").elements().asScala.map(_.asText).toArray
      // to_json omits null fields, so an absent field is a NULL cell
      table(cols, n.get("rows").elements().asScala.map(r => cols.toSeq.map { c =>
        val v = r.path(c)
        if (v.isMissingNode || v.isNull) "NULL" else if (v.isTextual) v.asText else v.toString
      }).toArray)
    }
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
    // an error exits nonzero in both modes: with --json the error body is
    // printed as it came, in text mode its message
    val ok = try {
      val out = run(spark, a)
      println(out)
      !(a.json && isErrorBody(out))
    } catch {
      case e: RuntimeException if !a.json => System.err.println(e.getMessage); false
    } finally spark.stop()
    if (!ok) sys.exit(1)
  }

  /** True iff the JSON response is the serving protocol's error object. */
  private[graft] def isErrorBody(body: String): Boolean =
    try {
      val n = mapper.readTree(body)
      n != null && n.has("error")
    } catch { case _: Exception => false }
}
