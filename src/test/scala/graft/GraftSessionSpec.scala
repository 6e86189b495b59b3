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

  test("SparkSession.builder appears in src/main/scala only in GraftSession.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val files = Files.walk(root)
    val callers =
      try files.iterator.asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map(p => p.getFileName.toString).toSeq
      finally files.close()
    assert(callers === Seq("GraftSession.scala"))
  }
}
