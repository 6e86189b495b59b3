package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites: `GraftSession`'s config on
  * a fixed 4 cores, so test results do not vary by host.
  */
object TestSpark {
  val cores = 4
  lazy val spark: SparkSession = GraftSession.local("graft-test", cores)
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs started on the shared session while `body` runs. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.GraftListenerDrain.drain(sc, 10000)
    sc.addSparkListener(l)
    try { body; org.apache.spark.GraftListenerDrain.drain(sc, 10000) }
    finally sc.removeSparkListener(l)
    n.get
  }

  /** A private copy of the fixture dir, for specs that rewrite its tables. */
  def fixtureCopy(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    graft.sources.TableRegistry.tables.keys.foreach { t =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(Tables.path(sfDir, t)),
        dir.resolve(s"$t.parquet"))
    }
    dir.toString
  }

  /** Overwrite `dir`'s `table` with the fixture table plus one constant
    * string column, the way a Spark job rewrites a table in place.
    */
  def addColumn(dir: String, table: String, column: String, value: String): Unit =
    spark.read.parquet(Tables.path(sfDir, table))
      .withColumn(column, org.apache.spark.sql.functions.lit(value))
      .write.mode("overwrite").parquet(Tables.path(dir, table))
}
