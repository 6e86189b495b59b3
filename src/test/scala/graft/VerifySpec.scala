package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The write path shared by `Verify` and `MutantVerify`. */
class VerifySpec extends AnyFunSuite {
  val spark = TestSpark.spark

  test("a query that throws leaves no output, even over an earlier run's; oracles escape control chars") {
    val out = Files.createTempDirectory("graft_verify").toString
    val oracle = "SELECT 1 AS\tone\r\nFROM t"
    def outputs(failing: Boolean) = Seq(
      ("good", () => spark.range(3).toDF("id"), "good_key"),
      ("flaky", () =>
        if (failing) throw new IllegalStateException("boom") else spark.range(2).toDF("id"),
        "flaky_key"))
    val oracles = Map("good_key" -> oracle, "flaky_key" -> "SELECT 2")

    Verify.writeOutputs(spark, out, outputs(failing = false), oracles)
    assert(Files.isDirectory(Paths.get(out, "flaky")))
    // the rerun's query throws: the first run's output must not survive
    // to be compared in its place
    Verify.writeOutputs(spark, out, outputs(failing = true), oracles)
    assert(!Files.exists(Paths.get(out, "flaky")))
    assert(spark.read.parquet(s"$out/good").count() === 3)

    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get(out, "oracle_sql.json")))
    assert(json.get("good").asText === oracle)
    assert(json.get("flaky").asText === "SELECT 2")
  }
}
