package graft.dialects

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoStatement, LogicalPlan, UnresolvedWith}

import graft.sources.{DatasetRegistry, TableRegistry}

/** The NL translation seam (SURVEY.md §2.9): the reference declares
  * "Natural Language" as a first-class dialect (reference README.md:2);
  * in-harness the deterministic grammar is the translator, and THIS trait
  * is where an LLM-backed one plugs in. The part an LLM deployment
  * actually needs engineered — and the part that is fully provable
  * offline — is not the completion call but the TRUST BOUNDARY around
  * it: generated SQL is untrusted input, so every translator's output
  * (grammar included, for uniformity) passes [[NlGate.validate]] before
  * execution: it must parse, must be a single read-only query (no
  * DDL/DML `Command`), and may only reference registered catalog tables.
  * A completion that answers with `DROP TABLE`, multi-statement
  * injection, or a hallucinated table name fails loudly at the gate —
  * it can never reach the engine.
  */
trait NlTranslator {
  def translate(question: String): String
}

/** The deterministic grammar (the in-harness default). */
object GrammarTranslator extends NlTranslator {
  def translate(question: String): String = NlToSql.translate(question)
}

/** LLM adapter: `complete` is the model call (prompt → completion) — the
  * ONLY unimplementable-offline piece, injected so a deployment provides
  * its client and tests provide a fake. The prompt carries the catalog
  * schema so the model grounds on real tables; whatever comes back is
  * validated by [[NlGate]] before it may execute.
  */
final class LlmTranslator(
    complete: String => String,
    schemaDoc: String = LlmTranslator.defaultSchemaDoc) extends NlTranslator {

  def translate(question: String): String =
    complete(
      s"""Translate the question into ONE ANSI SQL SELECT statement over this catalog.
         |Only use these tables/columns. Reply with SQL only.
         |$schemaDoc
         |Question: $question""".stripMargin)
}

object LlmTranslator {
  /** Catalog grounding text, derived from the same registry the planner
    * resolves against (names only — schemas are per-directory, so column
    * grounding happens engine-side at validation/analysis).
    */
  def defaultSchemaDoc: String =
    s"Tables: ${TableRegistry.allNames.toSeq.sorted.mkString(", ")}"
}

/** The validation gate between ANY translator and the engine. */
object NlGate {

  /** Expression builtins a "read-only" query must still be denied:
    * Spark's reflection functions call arbitrary static Java methods, so
    * `SELECT reflect('java.lang.System','getenv',...)` would exfiltrate
    * driver environment and `java_method(...,'exit',...)` would kill the
    * serving JVM — neither is a Command, references no tables, and would
    * otherwise sail through the gate.
    */
  private val DeniedFunctions = Set("reflect", "java_method")

  /** Throws IllegalArgumentException unless `sql` is a single read-only
    * query over registered catalog tables. Parsing uses Spark's own
    * parser, so "valid" means exactly what the engine will accept.
    * Returns the catalog tables the query names: the only views its
    * session needs. A name a CTE also defines stays in: the walk does not
    * track scopes, and `WITH orders AS (SELECT * FROM orders …)` reads the
    * table inside its own definition.
    */
  def validate(s: SparkSession, sql: String): Set[String] = {
    val plan =
      try s.sessionState.sqlParser.parsePlan(sql)
      catch {
        case e: Exception =>
          throw new IllegalArgumentException(
            s"NL translation is not parseable SQL: ${e.getMessage}")
      }
    // Exhaustive traversal: TreeNode.collect/exists walk CHILDREN only,
    // which misses (a) CTE definitions — UnresolvedWith holds them in
    // cteRelations, not children, so `WITH t AS (SELECT … FROM orders)
    // SELECT * FROM t` would flag the alias `t` as unknown AND never
    // check `orders` — and (b) plans nested inside subquery EXPRESSIONS
    // (IN/EXISTS/scalar), through which a hallucinated or non-catalog
    // relation would slip past the gate entirely. A work queue walks
    // every reachable plan; CTE aliases become locally-known names.
    val defined = scala.collection.mutable.Set[String]()
    val referenced = scala.collection.mutable.Set[String]()
    val banned = scala.collection.mutable.Set[String]()
    var command = false
    val queue = scala.collection.mutable.Queue[LogicalPlan](plan)
    while (queue.nonEmpty) {
      queue.dequeue().foreach { node =>
        node match {
          case w: UnresolvedWith =>
            w.cteRelations.foreach { case (name, defn, _) =>
              defined += name.toLowerCase
              queue.enqueue(defn)
            }
          case r: UnresolvedRelation =>
            referenced += r.multipartIdentifier.last.toLowerCase
          case n if n.isInstanceOf[Command] || n.isInstanceOf[InsertIntoStatement] =>
            command = true
          case _ => ()
        }
        node.expressions.foreach(_.foreach {
          case sq: SubqueryExpression => queue.enqueue(sq.plan)
          case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
              if DeniedFunctions(f.nameParts.last.toLowerCase) =>
            banned += f.nameParts.last.toLowerCase
          case _ => ()
        })
      }
    }
    if (command)
      throw new IllegalArgumentException(
        "NL translation must be a read-only query, got a command: " + sql)
    if (banned.nonEmpty)
      throw new IllegalArgumentException(
        s"NL translation uses forbidden function(s): ${banned.toSeq.sorted.mkString(", ")}")
    // allNames, not tables.keySet: dynamically registered datasets
    // (POST /datasets → TableRegistry.registerDynamic) are first-class
    // catalog tables for the gate too
    val catalog = TableRegistry.allNames
    val unknown = referenced.toSet -- catalog -- defined
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"NL translation references unknown table(s): ${unknown.mkString(", ")}")
    referenced.toSet intersect catalog
  }

  /** Translate → validate → execute: the one path every NL request takes
    * regardless of which translator produced the SQL. The translator reads
    * registered datasets' schemas from the schema cache, so those are
    * brought up to date with their files first; only the tables the
    * validated SQL names become views.
    */
  def run(s: SparkSession, dir: String, tr: NlTranslator, question: String): DataFrame = {
    DatasetRegistry.warmSchemas(s)
    val sql = tr.translate(question)
    TableRegistry.register(s, dir, validate(s, sql))
    s.sql(sql)
  }
}
