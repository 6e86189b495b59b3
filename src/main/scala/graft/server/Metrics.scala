package graft.server

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics

/** Process-lifetime serving metrics (round 16 — the observability leg a
  * deployed query server needs on day one: "is it up" is /health, "what
  * is it doing and how fast" is this). Counters are per dialect —
  * requests, errors, cumulative/max latency, and a fixed five-bucket
  * latency histogram — recorded at the ONE seam every serving request
  * crosses (`Server.handleJson`), so the HTTP route and in-process
  * callers of the JSON protocol meter identically.
  *
  * Deliberately lock-free hot path: `LongAdder` cells + one CAS'd max.
  * The dialect key space is CLOSED (known dialects + "invalid" for
  * requests that fail before routing + "other") — a client cannot grow
  * the map by spraying dialect strings. Fixed histogram buckets rather
  * than a reservoir: no allocation per request, mergeable across
  * processes by addition, and the decade bounds (10 ms..10 s) bracket
  * the serving timeout's practical range. O(dialects × buckets) memory,
  * ~constant.
  *
  * The snapshot also carries the process's Janino compile count, read
  * from Spark's own codegen metric (no job, no listener).
  *
  * GET /metrics serves the snapshot; it authenticates like the data
  * routes (usage patterns are information), unlike the liveness-only
  * /health.
  */
object Metrics {

  private val Known = Set("sql", "graphql", "nl")

  /** Upper bounds (exclusive, ms) of the first buckets; the last bucket
    * is everything ≥ the final bound.
    */
  private val BucketBoundsMs: Array[Long] = Array(10L, 100L, 1000L, 10000L)
  private val BucketNames: Array[String] =
    Array("lt_10ms", "lt_100ms", "lt_1s", "lt_10s", "ge_10s")

  final class Counters {
    val requests = new LongAdder
    val errors = new LongAdder
    val totalMs = new LongAdder
    val maxMs = new AtomicLong(0L)
    val buckets: Array[LongAdder] = Array.fill(BucketNames.length)(new LongAdder)
  }

  private val startedAtMs = System.currentTimeMillis()
  private val byDialect = new ConcurrentHashMap[String, Counters]()

  def record(dialect0: String, ms: Long, error: Boolean): Unit = {
    val d0 = Option(dialect0).map(_.trim.toLowerCase).getOrElse("invalid")
    val d = if (Known(d0) || d0 == "invalid") d0 else "other"
    val c = byDialect.computeIfAbsent(d, _ => new Counters)
    c.requests.increment()
    if (error) c.errors.increment()
    c.totalMs.add(ms)
    var cur = c.maxMs.get()
    while (ms > cur && !c.maxMs.compareAndSet(cur, ms)) cur = c.maxMs.get()
    val bi = BucketBoundsMs.indexWhere(ms < _)
    c.buckets(if (bi < 0) BucketNames.length - 1 else bi).increment()
  }

  def snapshotJson(mapper: ObjectMapper): String = {
    val out = mapper.createObjectNode()
    out.put("uptime_s", (System.currentTimeMillis() - startedAtMs) / 1000L)
    val dials = out.putObject("dialects")
    import scala.jdk.CollectionConverters._
    byDialect.asScala.toSeq.sortBy(_._1).foreach { case (name, c) =>
      val n = dials.putObject(name)
      val reqs = c.requests.sum()
      n.put("requests", reqs)
      n.put("errors", c.errors.sum())
      n.put("total_ms", c.totalMs.sum())
      n.put("max_ms", c.maxMs.get())
      // mean over completed requests — a derived convenience; the raw
      // sums are what a scraper should aggregate across processes
      if (reqs > 0) n.put("mean_ms", c.totalMs.sum().toDouble / reqs)
      val b = n.putObject("latency_buckets")
      BucketNames.zip(c.buckets).foreach { case (bn, adder) =>
        b.put(bn, adder.sum())
      }
    }
    // process-wide Janino compiles (driver and tasks): a served read that
    // repeats an earlier one adds none
    out.putObject("codegen")
      .put("compiles", CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    mapper.writeValueAsString(out)
  }

  /** Test seam: metrics are process-lifetime by design; specs isolate. */
  private[graft] def reset(): Unit = byDialect.clear()
}
