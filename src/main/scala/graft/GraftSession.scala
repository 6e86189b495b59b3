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
  *  - `request(s)`: the one way a served request gets its session, a
  *    `newSession()` of `s` that runs its tasks under the executor's
  *    shared class loader, so a repeated read hits the codegen cache
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

  /** A request session of `s`: its own temp views, SQL confs and job
    * group, but no artifact isolation. Spark keys its codegen cache by
    * (class loader, source text), and an isolated session runs its tasks
    * under a class loader of its own, so every task-side class of an
    * exact repeat would compile again. The session's `ArtifactManager`
    * reads the flag lazily, so setting it before the first query holds.
    * Nothing in graft adds session artifacts (`GraftSessionSpec` scans
    * for it), so there is nothing to isolate.
    */
  def request(s: SparkSession): SparkSession = {
    val sess = s.newSession()
    sess.conf.set("spark.sql.artifact.isolation.enabled", "false")
    sess
  }

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
