package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.jobsDuring

/** Building a key's DataFrame starts no Spark job when the key has no
  * checkpoint and no driver-side collect: all of its work runs in the one
  * action that consumes it. The keys below lost their checkpoints when
  * the plan was shown to share the work without them (PERF.md §19).
  */
class ConstructionJobsSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  val d = TestSpark.sfDir

  for (key <- Seq("vocab_coverage", "sim_minhash_est", "vec_pq", "graph_pagerank"))
    test(s"$key: building its DataFrame starts no job") {
      val build = SparkEntry.queries(key)
      build(spark, d) // builds the derived artifacts and caches the schemas it reads
      assert(jobsDuring(build(spark, d)) === 0)
    }
}
