package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The materialize-once seam (operators/Derived.scala): build-once
  * semantics, per-(sf dir, name) keying, and result equivalence between
  * the artifact scan and a fresh in-line derivation — the properties the
  * six minhash-family and three shingle-family consumers rely on.
  */
class DerivedSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  val d = TestSpark.sfDir

  test("dataset() builds exactly once per (dir, name); different names build separately") {
    var builds = 0
    def build() = { builds += 1; spark.range(5).toDF("x") }
    val name = s"spec-probe-${System.nanoTime()}"
    val a = Derived.dataset(spark, d, name)(build())
    val b = Derived.dataset(spark, d, name)(build())
    assert(builds === 1, "second call must scan the artifact, not rebuild")
    assert(a.collect().map(_.getLong(0)).sorted === b.collect().map(_.getLong(0)).sorted)
    Derived.dataset(spark, d, name + "-other")(build())
    assert(builds === 2, "a different artifact name is a different build")
  }

  test("the band_pairs artifact equals a fresh in-line derivation exactly") {
    val art = Derived.bandPairs(spark, d)
      .select("a", "b", "band").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val fresh = TextOps.bandPairs(TextOps.minhashBands(spark, d))
      .select("a", "b", "band").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(art.sorted.toSeq === fresh.sorted.toSeq,
      "parquet round-trip must be value-exact for the candidate artifact")
    assert(art.nonEmpty)
  }

  test("concurrent cold callers race on ONE key: one build, no half-written reads") {
    // 8 threads hit the same cold artifact; the winner builds, losers
    // block on the future and then scan — every reader must see the full
    // 1000 rows (a reader that saw a half-written directory would count
    // short or throw)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val name = s"race-${System.nanoTime()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            Derived.dataset(spark, d, name) {
              builds.incrementAndGet()
              Thread.sleep(150) // widen the race window
              spark.range(1000).toDF("x")
            }.count()
        })
      }
      tasks.foreach(t => assert(t.get(120, java.util.concurrent.TimeUnit.SECONDS) === 1000L))
      assert(builds.get() === 1, "exactly one thread may build a cold artifact")
    } finally pool.shutdownNow()
  }

  test("a build may re-enter dataset() for a different artifact (chained builds don't deadlock)") {
    // the production chain does exactly this (shinglePairStatsBuild scans
    // Derived.hashedShingles) — under the old computeIfAbsent(build) memo
    // this was a forbidden nested CHM update (same-bin deadlock hazard);
    // run it on a bounded watchdog so a regression fails, not hangs
    val n = System.nanoTime()
    val fut = java.util.concurrent.CompletableFuture.supplyAsync { () =>
      Derived.dataset(spark, d, s"outer-$n") {
        val inner = Derived.dataset(spark, d, s"inner-$n")(spark.range(7).toDF("x"))
        inner.withColumn("y", inner("x") * 2)
      }.count()
    }
    assert(fut.get(120, java.util.concurrent.TimeUnit.SECONDS) === 7L)
  }

  test("buildSeconds reports self time: an outer build excludes the inner build it triggers") {
    val n = System.nanoTime()
    val t0 = System.nanoTime()
    Derived.dataset(spark, d, s"outer-timed-$n") {
      Derived.dataset(spark, d, s"inner-timed-$n") {
        Thread.sleep(300)
        spark.range(7).toDF("x")
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val secs = Derived.buildSeconds(d)
    val (outer, inner) = (secs(s"outer-timed-$n"), secs(s"inner-timed-$n"))
    assert(inner >= 0.3)
    // outer self + inner self is the outer build's wall time, which the
    // call's own wall time bounds; without the exclusion it would exceed it
    assert(outer > 0 && outer + inner <= wall, s"outer=$outer inner=$inner wall=$wall")
  }

  test("a failed build is not cached: waiters see the failure, the next caller rebuilds") {
    val name = s"fail-${System.nanoTime()}"
    val boom = intercept[RuntimeException] {
      Derived.dataset(spark, d, name) { throw new RuntimeException("planted build failure") }
    }
    assert(boom.getMessage.contains("planted"))
    // the failure must not poison the key — this call re-runs the build
    val ok = Derived.dataset(spark, d, name)(spark.range(3).toDF("x"))
    assert(ok.count() === 3L)
  }

  test("chained artifact: shingle_pair_stats scans hashed_shingles, values self-consistent") {
    val sps = Derived.shinglePairStats(spark, d).collect()
    assert(sps.nonEmpty)
    // i <= min(na, nb) for every verified pair — the exact-intersection
    // invariant that would break if the chained artifacts ever desynced
    sps.foreach { r =>
      val (i, na, nb) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(i <= math.min(na, nb) && na > 0 && nb > 0, r.toString)
    }
  }
}
