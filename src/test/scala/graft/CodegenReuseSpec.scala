package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.server.Server

/** Every served request runs in a session of its own, and Spark keys its
  * codegen cache by (class loader, source text). Request sessions share
  * the executor's class loader, so an exact repeat of a read finds every
  * class it needs already compiled, in the driver and in its tasks.
  */
class CodegenReuseSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  val d = TestSpark.sfDir

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private val reads = Seq(
    "sql" ->
      ("SELECT n_name, count(*) AS n_orders, sum(o_totalprice) AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE o_orderstatus = 'F' GROUP BY n_name ORDER BY n_name"),
    "nl" -> "total quantity by supplier nation where status is F",
    "graphql" ->
      """{ orders_agg(groupBy: [\"o_orderstatus\"], orderBy: [\"o_orderstatus\"]) { o_orderstatus count sum_o_totalprice } }""")

  for ((dialect, query) <- reads)
    test(s"an exact repeat of a served $dialect read compiles no class") {
      val body = s"""{"dialect":"$dialect","query":"$query","dir":"$d"}"""
      val first = Server.handleJson(spark, body)
      assert(!first.contains("\"error\""), first)
      val before = compiles()
      val second = Server.handleJson(spark, body)
      assert(compiles() - before === 0L)
      assert(second === first)
    }
}
