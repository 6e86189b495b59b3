package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every main and the test suite build their session through
  * `GraftSession`, so the config the gates verify is the config the bench
  * times and the server answers with.
  */
class GraftSessionSpec extends AnyFunSuite {
  val spark = TestSpark.spark

  test("the test session carries GraftSession's config on its fixed cores") {
    val conf = spark.conf
    assert(spark.sparkContext.master === s"local[${TestSpark.cores}]")
    assert(conf.get("spark.sql.shuffle.partitions") === TestSpark.cores.toString)
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.ui.enabled") === "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(conf.get("spark.sql.streaming.stateStore.providerClass") ===
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  }

  test("a fresh newSession() resolves the engine's own functions") {
    val fresh = spark.newSession()
    val row = fresh.sql(
      """SELECT vec_dot(array(1d, 2d), array(3d, 4d)) AS d,
                might_contain(
                  (SELECT bloom_filter_agg(xxhash64(id), 10L, 1024L) FROM range(10)),
                  xxhash64(3L)) AS hit""").head()
    assert(row.getDouble(0) === 11.0)
    assert(row.getBoolean(1))
  }

  /** The files under `src/main/scala` that contain `needle`, as paths
    * relative to it (`graft/GraftSession.scala`).
    */
  private def sourcesContaining(needle: String): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val files = Files.walk(root)
    try files.iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(needle))
      .map(p => root.relativize(p).toString).toSeq.sorted
    finally files.close()
  }

  test("SparkSession.builder appears in src/main/scala only in GraftSession.scala") {
    assert(sourcesContaining("SparkSession.builder") === Seq("graft/GraftSession.scala"))
  }

  test("no other code sets the state store or the extensions, or registers functions") {
    for (needle <- Seq("stateStore.providerClass", "spark.sql.extensions"))
      assert(sourcesContaining(needle) === Seq("graft/GraftSession.scala"), needle)
    assert(sourcesContaining("GraftFunctions.register(").isEmpty)
  }

  test("served reads render inside their plan and register only the tables they name") {
    assert(sourcesContaining("toJSON").isEmpty)
    assert(sourcesContaining("registerAll(")
      .filter(p => p.startsWith("graft/server/") || p.startsWith("graft/dialects/")).isEmpty)
  }
}
