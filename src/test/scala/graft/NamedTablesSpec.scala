package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.dialects.NlGate
import graft.server.Server
import graft.sources.{CatalogStore, DatasetRegistry}

/** A served SQL or NL read registers views only for the catalog tables its
  * SQL names, as [[NlGate.validate]] reports them.
  */
class NamedTablesSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  val d = TestSpark.sfDir

  private def serve(dialect: String, q: String): DataFrame =
    Server.handle(spark, Server.ServeRequest(dialect, q, d))

  /** The views of the request session `df` was analysed in; `handle`
    * leaves them to its caller, so these are the views analysis saw.
    */
  private def views(df: DataFrame): Set[String] =
    df.sparkSession.sessionState.catalog.getTempViewNames().toSet

  test("validate returns the catalog tables a query names, subqueries and CTE bodies included") {
    assert(NlGate.validate(spark,
      """WITH big AS (SELECT * FROM orders WHERE o_totalprice > 1000)
         SELECT count(*) FROM big
         WHERE o_custkey IN (SELECT c_custkey FROM customer)
           AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)""") ===
      Set("orders", "customer", "lineitem"))
    assert(NlGate.validate(spark, "SELECT 1 AS x") === Set.empty)
  }

  test("a request session holds exactly the named views while it is analysed") {
    val sql = serve("sql",
      """SELECT count(*) AS n FROM orders
         WHERE o_custkey IN (SELECT c_custkey FROM customer)
           AND EXISTS (SELECT 1 FROM nation WHERE n_nationkey = 1)""")
    assert(views(sql) === Set("orders", "customer", "nation"))
    assert(sql.collect()(0).getLong(0) ===
      spark.read.parquet(Tables.path(d, "orders")).count())
    val nl = serve("nl", "how many rows are in region")
    assert(views(nl) === Set("region"))
    assert(nl.collect()(0).getLong(0) === 5L)
  }

  test("a CTE that shadows a table name answers from the CTE; one that reads the table still can") {
    val shadow = serve("sql", "WITH orders AS (SELECT 1 AS x) SELECT * FROM orders")
    assert(shadow.columns.toSeq === Seq("x"))
    assert(shadow.collect().map(_.getInt(0)).toSeq === Seq(1))
    // the CTE's body reads the table of the same name: scope-blind
    // subtraction of CTE names would leave `orders` unregistered here
    val self = serve("sql",
      "WITH orders AS (SELECT * FROM orders WHERE o_orderstatus = 'F') SELECT count(*) AS n FROM orders")
    val nF = spark.read.parquet(Tables.path(d, "orders")).where("o_orderstatus = 'F'").count()
    assert(self.collect()(0).getLong(0) === nF)
  }

  test("tables named only inside IN / EXISTS subqueries resolve") {
    val n = serve("sql",
      """SELECT count(*) AS n FROM (SELECT 1 AS one) t
         WHERE 5 IN (SELECT count(*) FROM region)
           AND EXISTS (SELECT 1 FROM nation WHERE n_nationkey = 1)""")
    assert(views(n) === Set("region", "nation"))
    assert(n.collect()(0).getLong(0) === 1L)
  }

  test("a registered dataset resolves by name, alone or joined with a fixture table") {
    val path = Files.createTempDirectory("graft_named_ds").resolve("ds.parquet").toString
    spark.range(5).selectExpr("id AS k", "CAST(id AS INT) AS r").write.parquet(path)
    DatasetRegistry.register(CatalogStore.Entry("named_ds", path, "parquet"), Some(spark))
    try {
      val alone = serve("sql", "SELECT count(*) AS n FROM named_ds")
      assert(views(alone) === Set("named_ds"))
      assert(alone.collect()(0).getLong(0) === 5L)
      val joined = serve("sql",
        "SELECT count(*) AS n FROM named_ds JOIN region ON r = r_regionkey")
      assert(views(joined) === Set("named_ds", "region"))
      assert(joined.collect()(0).getLong(0) === 5L)
    } finally DatasetRegistry.unregister("named_ds")
  }

  test("an unknown table is still refused by the gate") {
    val e = intercept[IllegalArgumentException](
      serve("sql", "SELECT * FROM orders JOIN no_such_table ON true"))
    assert(e.getMessage.contains("unknown table(s): no_such_table"), e.getMessage)
  }

  test("an NL column question sees a registered dataset's new column on the first request after a rewrite") {
    val path = Files.createTempDirectory("graft_nl_rewrite").resolve("ds.parquet").toString
    spark.range(3).selectExpr("id AS k", "id * 2 AS v").write.parquet(path)
    DatasetRegistry.register(CatalogStore.Entry("nl_rewrite_ds", path, "parquet"), Some(spark))
    try {
      assert(serve("nl", "how many rows in nl_rewrite_ds where v is 2")
        .collect()(0).getLong(0) === 1L)
      spark.range(3).selectExpr("id AS k", "id * 2 AS v", "'new' AS w")
        .write.mode("overwrite").parquet(path)
      assert(serve("nl", "how many rows in nl_rewrite_ds where w is new")
        .collect()(0).getLong(0) === 3L)
    } finally DatasetRegistry.unregister("nl_rewrite_ds")
  }
}
