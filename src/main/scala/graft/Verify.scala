package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.Verify <sfDir> <outDir> [key ...]")
    val Array(sfDir, outDir, rest @ _*) = args
    // optional key filter for debugging (blank tokens ignored)
    val only: Set[String] = rest.iterator.map(_.trim).filter(_.nonEmpty).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(", ")}")
    val spark = GraftSession("graft-verify")
    // a key-filtered debug run dumps only the selected keys' oracles, so
    // an unfiltered check.py over its output doesn't report the rest as
    // missing
    writeOutputs(spark, outDir, SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) => (name, () => fn(spark, sfDir), name) })
    spark.stop()
  }

  /** Writes each (output name, query, oracle key) result to
    * `outDir/<output name>` as one parquet file, and `outDir/oracle_sql.json`
    * mapping each output name to its oracle key's DuckDB SQL in `oracles`
    * (names whose key has no oracle are left out). A query that throws
    * leaves no directory under its name, so a failed query can never be
    * mistaken for a (previously written) passing one.
    */
  def writeOutputs(spark: SparkSession, outDir: String,
                   outputs: Seq[(String, () => DataFrame, String)],
                   oracles: Map[String, String] = SparkEntry.oracleSql): Unit = {
    new java.io.File(outDir).mkdirs()
    outputs.foreach { case (name, query, _) =>
      try query().coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        rm(new java.io.File(s"$outDir/$name"))
      }
    }
    // Jackson escapes every control character: a tab or CR in an oracle
    // must not make the checker's json.load fail
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val json = mapper.createObjectNode()
    outputs.foreach { case (name, _, key) =>
      oracles.get(key).foreach(json.put(name, _))
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      mapper.writeValueAsString(json))
  }

  private[graft] def rm(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
  }
}
