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

  test("request sessions come only from GraftSession, and nothing adds session artifacts") {
    assert(sourcesContaining("newSession()") === Seq("graft/GraftSession.scala"))
    // request sessions share the executor class loader, so an artifact
    // one request added would be seen by every other
    for (needle <- Seq("addArtifact", "addJar", "ADD JAR"))
      assert(sourcesContaining(needle).isEmpty, needle)
  }

  test("a request session shares the executor class loader but keeps its own views and confs") {
    val sess = GraftSession.request(spark)
    assert(sess ne spark)
    assert(sess.conf.get("spark.sql.artifact.isolation.enabled") === "false")
    sess.range(1).createOrReplaceTempView("request_only_view")
    sess.conf.set("spark.sql.shuffle.partitions", "3")
    try {
      assert(!spark.catalog.tableExists("request_only_view"))
      assert(spark.conf.get("spark.sql.shuffle.partitions") === TestSpark.cores.toString)
    } finally sess.sessionState.catalog.clearTempTables()
  }

  test("no other code sets the state store or the extensions, or registers functions") {
    for (needle <- Seq("stateStore.providerClass", "spark.sql.extensions"))
      assert(sourcesContaining(needle) === Seq("graft/GraftSession.scala"), needle)
    assert(sourcesContaining("GraftFunctions.register(").isEmpty)
  }

  test("only MUTCHECK plants plan defects: no session but MutantVerify's request sessions gets a rule") {
    val mutcheck = Seq("graft/MutantQueries.scala", "graft/plans/Mutate.scala")
    assert(sourcesContaining("extraOptimizations") === mutcheck)
    assert(sourcesContaining("Mutate(") === mutcheck)
    // GraftExtensions, which every session installs, injects functions
    // only: no optimizer, analyzer or planner rule
    val injects = raw"\.inject(\w+)".r
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root)
    try assert(files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .flatMap(p => injects.findAllMatchIn(Files.readString(p)).map(_.group(1))).toSet
      === Set("Function"))
    finally files.close()
    assert(spark.experimental.extraOptimizations.isEmpty)
    assert(GraftSession.request(spark).experimental.extraOptimizations.isEmpty)
  }

  test("served reads render inside their plan and register only the tables they name") {
    assert(sourcesContaining("toJSON").isEmpty)
    assert(sourcesContaining("registerAll(")
      .filter(p => p.startsWith("graft/server/") || p.startsWith("graft/dialects/")).isEmpty)
  }

  test("one attached catalog: its connection and stamp live in CatalogStore, one write skeleton in JdbcCatalog") {
    assert(sourcesContaining("lastSeenSeq") === Seq("graft/sources/CatalogStore.scala"))
    assert(sourcesContaining("Option[Connection]") === Seq("graft/sources/CatalogStore.scala"))
    for (registry <- Seq("graft/sources/DatasetRegistry.scala",
                         "graft/sources/UserRegistry.scala",
                         "graft/dialects/SavedQueries.scala"))
      assert(!Files.readString(Paths.get("src/main/scala", registry)).contains("synchronized"),
        registry)
    val jdbc = Files.readString(Paths.get("src/main/scala/graft/sources/JdbcCatalog.scala"))
    def count(needle: String): Int = jdbc.sliding(needle.length).count(_ == needle)
    assert(count("retryableStates(") === 1, "one retry loop")
    assert(count("UPDATE catalog_seq") === 1, "one stamp bump")
    // the write transaction and the migration ladder's own
    assert(count("setAutoCommit(false)") === 2)
  }

  test("every localCheckpoint names its PERF.md §19 row within two lines") {
    // a row id is its group letter (A: freezes range boundaries, B: cuts
    // loop lineage, C: multi-consumer reuse) and a number; each row the
    // code cites must exist in PERF.md §19 and say the site is kept
    val perf = Files.readString(Paths.get("PERF.md"))
    val section = perf.substring(perf.indexOf("\n## 19."))
    val rowId = raw"§19 ([ABC]\d+)".r
    val root = Paths.get("src/main/scala/graft")
    val files = Seq("operators", "functions").flatMap { sub =>
      val w = Files.walk(root.resolve(sub))
      try w.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector finally w.close()
    } :+ root.resolve("MutantQueries.scala")
    val sites = for {
      f <- files
      lines = Files.readAllLines(f).asScala.toVector
      (l, i) <- lines.zipWithIndex if l.contains(".localCheckpoint(")
    } yield (s"${root.relativize(f)}:${i + 1}",
      lines.slice(math.max(0, i - 2), i + 1).flatMap(x => rowId.findAllMatchIn(x).map(_.group(1))))
    assert(sites.nonEmpty)
    for ((at, ids) <- sites) {
      assert(ids.nonEmpty, s"$at: localCheckpoint without a §19 row id in the two lines above")
      for (id <- ids) {
        val row = section.linesIterator.find(_.startsWith(s"| $id |"))
        assert(row.exists(_.contains("kept")), s"$at cites §19 $id, which PERF.md does not list as kept")
      }
    }
  }
}
