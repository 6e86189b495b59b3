package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The bench main's JSON line: derived artifacts observed from what the
  * timed keys built, totals that add up, and a prior reader that reads
  * only the top-level `queries` object.
  */
class BenchSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  test("a subset run reports the artifacts its keys built; total_s is last and adds up") {
    // a fresh dir is a fresh Derived memo key, and the quote checks escaping
    val dir = TestSpark.fixtureCopy("graft_bench\"spec")
    val line = Bench.run(spark, dir, Some(Set("graph_bfs", "dedup_cluster")))
    val json = mapper.readTree(line)
    assert(json.get("sf").asText === dir)
    val queries = json.get("queries").fields().asScala.map(e => e.getKey -> e.getValue.asDouble).toMap
    val derived = json.get("derived_s").fields().asScala.map(e => e.getKey -> e.getValue.asDouble).toMap
    assert(queries.keySet === Set("graph_bfs", "dedup_cluster"))
    assert(json.get("failures").size === 0)
    assert(derived.keySet ===
      Set("trade_edges", "shingles", "minhash_sigs", "band_pairs", "components"))
    derived.foreach { case (k, v) => assert(v > 0, k) }
    assert(json.fieldNames().asScala.toSeq.last === "total_s")
    assert(math.abs(json.get("total_s").asDouble - (queries.values.sum + derived.values.sum)) < 1e-9)
  }

  test("the prior reader takes the top-level queries object, not a string that spells one") {
    val f = java.nio.file.Files.createTempFile("graft_prior", ".json")
    java.nio.file.Files.writeString(f,
      """{"log": "\"queries\": {\"decoy\": 9.0}", "queries": {"a": 1.5, "b": 2}}""")
    assert(Bench.readPrior(f.toString) === Map("a" -> 1.5, "b" -> 2.0))
  }

  test("the fixture dir is the only argument, else SPARK_GRAFT_SF_DIR; extra arguments are refused") {
    val env = Map("SPARK_GRAFT_SF_DIR" -> "/from/env")
    assert(Bench.sfDirOf(Seq("/from/arg"), env) === "/from/arg")
    assert(Bench.sfDirOf(Nil, env) === "/from/env")
    assert(Bench.sfDirOf(Nil, Map.empty) === "/root/testdata/sf0.1")
    val e = intercept[IllegalArgumentException](Bench.sfDirOf(Seq("/a", "k1"), env))
    assert(e.getMessage.contains("usage: graft.Bench [sf_dir]"), e.getMessage)
  }
}
