package graft

/** Prints `explain("formatted")` for the named query keys (all keys if none
  * given) — the §4 plan-inspection loop: check pushdown/pruning/broadcast/
  * codegen before calling an operator done.
  *
  * Usage: scripts/run.sh graft.PlanDump <sfDir> [key ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val keys = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession("graft-plan-dump")
    keys.foreach { k =>
      println(s"\n===== $k =====")
      try SparkEntry.queries(k)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
