package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.server.Server
import graft.sources.{CatalogStore, DatasetRegistry, TableRegistry}
import graft.TestSpark.jobsDuring

/** The schema cache every table read goes through (`Tables.read`): one
  * inferred schema per (path, format, options) and file stamp. The saving
  * is pinned by Spark job counts, not time, and files rewritten in place
  * must be read with their new schema.
  */
class SchemaCacheSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  val d = TestSpark.sfDir

  private def sql(q: String, dir: String) =
    Server.handle(spark, Server.ServeRequest("sql", q, dir))

  private def graphql(q: String, dir: String) =
    Server.handle(spark, Server.ServeRequest("graphql", q, dir))

  test("a warm registerAll over an unchanged dir starts no Spark job; a rewritten table re-infers with one") {
    val dir = TestSpark.fixtureCopy("graft_schema_jobs")
    val cold = jobsDuring(TableRegistry.registerAll(spark.newSession(), dir))
    assert(cold >= TableRegistry.tables.size, "every table infers once, cold")
    assert(jobsDuring(TableRegistry.registerAll(spark.newSession(), dir)) === 0)
    assert(jobsDuring(TableRegistry.load(spark.newSession(), dir, "events")) === 0)
    TestSpark.addColumn(dir, "region", "r_extra", "x")
    assert(jobsDuring(TableRegistry.registerAll(spark.newSession(), dir)) === 1)
    assert(jobsDuring(TableRegistry.registerAll(spark.newSession(), dir)) === 0)
  }

  test("a registered dataset overwritten in place is read with its new schema (GraphQL, then SQL)") {
    val path = Files.createTempDirectory("graft_rewrite_ds").resolve("ds.parquet").toString
    spark.range(3).selectExpr("id AS k", "id * 2 AS v").write.parquet(path)
    DatasetRegistry.register(CatalogStore.Entry("rewritten_ds", path, "parquet"), Some(spark))
    try {
      assert(sql("SELECT * FROM rewritten_ds", d).columns.toSeq === Seq("k", "v"))
      spark.range(3).selectExpr("id AS k", "id * 2 AS v", "'new' AS w")
        .write.mode("overwrite").parquet(path)
      val gql = graphql("{ rewritten_ds { w } }", d).collect().map(_.getString(0))
      assert(gql.toSeq === Seq("new", "new", "new"))
      assert(sql("SELECT * FROM rewritten_ds", d).columns.toSeq === Seq("k", "v", "w"))
      // the NL translator's translate-time schema follows the file too
      assert(TableRegistry.cachedSchema("rewritten_ds").map(_.fieldNames.toSeq) ===
        Some(Seq("k", "v", "w")))
    } finally DatasetRegistry.unregister("rewritten_ds")
  }

  test("a fixture table overwritten in place is read with its new schema (SQL, then GraphQL)") {
    val dir = TestSpark.fixtureCopy("graft_rewrite_fixture")
    assert(sql("SELECT * FROM region", dir).columns.toSeq === Seq("r_regionkey", "r_name"))
    assert(graphql("{ region { r_name } }", dir).count() === 5)
    TestSpark.addColumn(dir, "region", "r_extra", "x")
    assert(sql("SELECT * FROM region", dir).columns.toSeq ===
      Seq("r_regionkey", "r_name", "r_extra"))
    val gql = graphql("{ region { r_extra } }", dir).collect().map(_.getString(0))
    assert(gql.toSeq === Seq.fill(5)("x"))
  }
}
