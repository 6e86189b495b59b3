package graft

import org.apache.spark.sql.SparkSession

/** The one way a graft main builds its session, so the plan that `Bench`
  * times, the plan `Verify` checks and the plan `Serve` answers with all
  * run under the same config:
  *
  *  - master: `SPARK_MASTER`, else `local[cores]`
  *  - cores: `SPARK_GRAFT_CPUS`, else every processor the JVM sees
  *  - `spark.sql.shuffle.partitions` = cores
  *  - session time zone UTC: on a non-UTC host the day-bucketing keys
  *    would otherwise answer (and time) different plans
  *  - Spark UI off
  *  - RocksDB state store for every stateful query, so behaviour cannot
  *    depend on which key ran first (`stream_tws` requires RocksDB)
  *  - `graft.plans.GraftExtensions`, so every session of the context,
  *    request sessions included, resolves `vec_dot`, `bloom_filter_agg`
  *    and `might_contain`
  *  - the driver's `StateStoreCoordinator`, which a batch
  *    `transformWithState` needs but Spark only opens with the context's
  *    first `StreamingQueryManager`
  *  - log level WARN
  */
object GraftSession {

  def apply(appName: String): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    build(appName, sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"), cores)
  }

  /** A session on exactly `cores` local threads whatever the environment
    * says, for callers whose results must not vary by host.
    */
  private[graft] def local(appName: String, cores: Int): SparkSession =
    build(appName, s"local[$cores]", cores)

  private def build(appName: String, master: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.extensions", classOf[graft.plans.GraftExtensions].getName)
      .getOrCreate()
    s.streams
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
