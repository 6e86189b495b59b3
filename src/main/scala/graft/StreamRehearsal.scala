package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Micro-batch latency envelope for the streaming path (round 10,
  * verdict item 7).
  *
  * The streaming keys are correctness-proven (StreamingSpec batch
  * equivalence + MemoryStream micro-batches) but no latency/throughput
  * number existed: would a micro-batch over ×10 the events still clear in
  * bounded time, or does some per-batch state plan hide super-linear
  * work? This main measures it the way the scale rehearsal measures
  * fan-out caps: events replicated ×k (re-keyed spines, the
  * ScaleRehearsal model) are written into a FIXED number of part files,
  * the file-stream source consumes them a fixed files-per-trigger at a
  * time under Trigger.AvailableNow, and each query's per-trigger
  * `durationMs(triggerExecution)` is read from recentProgress. Holding
  * file count constant while data grows ×k makes events-per-batch grow
  * ×k — so a batch whose duration grows faster than ×k has super-linear
  * per-batch work (the thing to fix), while ~×k growth is the expected
  * cost of bigger batches.
  *
  * Plans measured: the windowed aggregations (tumbling/sliding/session),
  * the watermarked count (update mode — the production shape), streaming
  * dedup, and both arbitrary-state operators (flatMapGroupsWithState
  * running stats; transformWithState running max on RocksDB). Round 11
  * closes the coverage gap the round-10 verdict named (item 3): the
  * stream-stream interval join (the one whose state can grow
  * super-linearly with event rate), the stream-static broadcast
  * enrichment, the per-window top-k state operator, and the foreachBatch
  * production write path. Sink is `noop` except stream_foreach_batch,
  * whose POINT is the sink: it overwrites a parquet target per batch, so
  * its trigger durations include the real write cost.
  *
  * Usage: graft.StreamRehearsal <srcSfDir> <outBase> <outJson> [k1,k2,...]
  * (default scales 1,10). JSON: per scale, per key — batch count, input
  * rows, and p50/max trigger-execution millis.
  */
object StreamRehearsal {

  private val Off = 1000000000L
  private val NFiles = 16          // fixed: events-per-batch scales with ×k
  private val FilesPerTrigger = 4  // → 4 measured micro-batches per run

  /** (key, plan, outputMode, sink) — modes match StreamingSpec's proven
    * ones; sink is "noop" except the foreachBatch write-path leg.
    */
  private def plans(spark: SparkSession, src: String)
      : Seq[(String, DataFrame => DataFrame, String, String)] = Seq(
    ("stream_tumbling", streaming.Streams.tumbling _, "complete", "noop"),
    ("stream_sliding", streaming.Streams.sliding _, "complete", "noop"),
    ("stream_session", streaming.Streams.session _, "complete", "noop"),
    // the watermark+append eviction shape measured NEXT TO the complete-
    // mode plan (round 14): stream_session's ×30 growth is state-
    // cardinality-driven (×30 users = ×30 state rows re-emitted every
    // trigger under complete mode); the watermarked twin evicts closed
    // sessions, so it must hold ~flat on the same corpus — the row that
    // proves the production mitigation, not just argues it
    ("stream_session_wm", streaming.Streams.sessionWatermarked _, "append", "noop"),
    ("stream_watermark", streaming.Streams.watermarkedTumblingCount _, "update", "noop"),
    // dedupBatch's row_number form is batch-only; the stream form is
    // watermarked dedup on the same key. dropDuplicates only evicts state
    // when the watermark column is IN the dedup subset — with keys
    // (user_id, event_type) alone its state is unbounded (round-10
    // advice). dropDuplicatesWithinWatermark keeps the business keys AND
    // bounds state by event time: the production shape this leg measures.
    ("stream_dedup",
      (e: DataFrame) => e.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("user_id", "event_type"), "append", "noop"),
    ("stream_custom_state", streaming.Streams.runningUserStats _, "update", "noop"),
    ("stream_tws", streaming.Streams.userRunningMax _, "update", "noop"),
    // round-11 additions (verdict item 3):
    ("stream_window_topk", streaming.Streams.windowTopKStream _, "update", "noop"),
    // the static dim is the REAL fixture customer table — re-planned
    // broadcast per batch, the lookup-enrichment shape; replica users
    // (offset ids) probe-miss it, so match density stays constant in ×k
    // while the probe cost grows with the batch, the honest scaling
    ("stream_join_static", (e: DataFrame) =>
      streaming.Streams.staticEnrich(e, Tables.customer(spark, src)),
      "complete", "noop"),
    // stream-stream self-join of the file source: clicks ⋈ same-user
    // purchases within the 10 minutes before — both sides watermarked so
    // join state is bounded; THE key whose state can grow super-linearly
    // with event rate, per-replica user offsets keep its true output
    // linear in ×k (see scaleEvents)
    ("stream_interval_join", (e: DataFrame) => {
      val c = e.filter(col("event_type") === "click")
        .withWatermark("ts", "10 minutes")
      val p = e.filter(col("event_type") === "purchase")
        .withWatermark("ts", "10 minutes")
      streaming.Streams.intervalJoin(c, p)
    }, "append", "noop"),
    // the production write path: per-batch parquet overwrite — trigger
    // durations here INCLUDE the sink, by design
    ("stream_foreach_batch", streaming.Streams.tumbling _, "complete", "foreachBatch"))

  /** Whale-mode plan set (round 14, verdict item 4): the per-USER-keyed
    * state operators, measured when the whole corpus is ONE user — the
    * stream-mode twin of HotEntityProbe. `stream_session` is the suspect
    * (worst ×30 grower in normal mode: complete-mode session_window state
    * is a user's full session history, and the whale concentrates every
    * event AND every historical session onto one state key).
    * `stream_session_wm` is the candidate mitigation measured next to it:
    * watermark + append mode evicts closed sessions, so per-batch cost is
    * bounded by the OPEN horizon, not lifetime history.
    * custom_state/tws are single-key controls: per-key O(1)-state updates
    * that should degrade only to single-partition parallelism, not
    * super-linear work.
    */
  private def whalePlans(spark: SparkSession, src: String)
      : Seq[(String, DataFrame => DataFrame, String, String)] = Seq(
    ("stream_session", streaming.Streams.session _, "complete", "noop"),
    ("stream_session_wm", streaming.Streams.sessionWatermarked _, "append", "noop"),
    ("stream_custom_state", streaming.Streams.runningUserStats _, "update", "noop"),
    ("stream_tws", streaming.Streams.userRunningMax _, "update", "noop"))

  /** TTL-eviction probe (round 15, verdict item 7): the SAME custom-state
    * plan run twice on one corpus — processing-time mode without a TTL
    * (state rows = every user ever seen) vs with a 1 s TTL (idle keys
    * evicted). The corpus is range-partitioned by user_id into the part
    * files, so each trigger's file quota brings a DISJOINT key range —
    * earlier ranges go idle, which is exactly what a TTL can evict (a
    * random shuffle would refresh every key every trigger and measure
    * nothing). The slowBatch sink sleeps past the TTL between triggers so
    * expiry is deterministic, and the JSON carries each run's final
    * state-store row count + bytes — the eviction evidence.
    */
  private def ttlPlans: Seq[(String, DataFrame => DataFrame, String, String)] = Seq(
    ("custom_state_no_ttl",
      (e: DataFrame) => streaming.Streams.runningUserStatsTtl(e, None),
      "update", "slowBatch"),
    ("custom_state_ttl_1s",
      (e: DataFrame) => streaming.Streams.runningUserStatsTtl(e, Some(1000L)),
      "update", "slowBatch"))

  /** Event-time-timer probe (round 16, verdict item 7): the
    * [[streaming.Streams.sessionizeStream]] gap sessionizer — one
    * registered timer per open session, fired by WATERMARK passage, in
    * TimeMode.EventTime — measured over the file stream at ×k. The gap is
    * the batch `sessionize` key's 4 hours; the corpus spans a month, so
    * sessions whose gap elapses inside the run close as the watermark
    * sweeps forward across triggers (the `emitted` ledger counts them via
    * the countBatch sink), and still-open sessions remain as state rows —
    * BOTH numbers land in the JSON. Unlike the TTL probe this leg runs
    * AvailableNow to natural termination: event-time timers need no
    * processing-time batches, which is exactly the semantics difference
    * the probe documents.
    */
  private def timerPlans: Seq[(String, DataFrame => DataFrame, String, String)] = Seq(
    ("session_timer_evt",
      (e: DataFrame) => streaming.Streams.sessionizeStream(
        e, gapMs = 4L * 3600 * 1000, delay = "1 minute"),
      "append", "countBatch"))

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: graft.StreamRehearsal <srcSfDir> <outBase> <outJson> [k1,k2,...] [whale|ttl|timer]")
    val src = args(0)
    val outBase = args(1)
    val outJson = args(2)
    val scales = if (args.length > 3) args(3).split(",").map(_.toInt).toSeq
                 else Seq(1, 10)
    val mode = if (args.length > 4) args(4) else "stream"
    val whale = mode == "whale"
    val ttlMode = mode == "ttl"
    val timerMode = mode == "timer"
    val spark = GraftSession("graft-stream-rehearsal")

    val sb = new StringBuilder
    sb.append("{\"src\":\"").append(src).append("\",\"mode\":\"")
      .append(if (whale) "stream_whale" else if (ttlMode) "stream_ttl"
        else if (timerMode) "stream_timer" else "stream")
      .append("\"")
      .append(",\"n_files\":").append(NFiles)
      .append(",\"files_per_trigger\":").append(FilesPerTrigger)
      .append(",\"scales\":{")
    scales.zipWithIndex.foreach { case (k, si) =>
      val dir = s"$outBase/x$k/events.parquet"
      val base = Tables.events(spark, src)
      // round 11: replicas offset user_id as well as event_id — with the
      // user spine shared, every replica's clicks matched every replica's
      // purchases at the SAME ts, so the interval join's true output grew
      // ×k² (the char-gram-clique dishonesty class, PERF.md §8.3) and
      // per-user state ops measured k× density on constant users instead
      // of the declared "corpus grows, per-entity density constant" model
      val reps = (0 until k).map { r =>
        if (r == 0) base
        else base
          .withColumn("event_id", col("event_id") + lit(r * Off))
          .withColumn("user_id", col("user_id") + lit(r * Off))
      }
      // whale mode: after replication, EVERY event belongs to user 1 —
      // per-entity density grows ×k while the corpus grows ×k, the
      // HotEntityProbe model ported to the stream source (event_id stays
      // offset so dedup identity and tie-breaks remain well-defined)
      val shaped0 = reps.reduce(_ unionByName _)
      val shaped = if (whale) shaped0.withColumn("user_id", lit(1L))
                   else shaped0
      // exactly NFiles part files regardless of ×k — a trigger's file
      // quota then carries ×k the rows as the corpus grows. TTL mode
      // range-partitions by user so each trigger brings a disjoint key
      // range (see ttlPlans — eviction needs keys that go idle)
      // Timer mode range-partitions by ts AND staggers file mod-times in
      // range order: the file source feeds triggers oldest-time-range
      // first, so the watermark sweeps FORWARD and closes sessions
      // incrementally — a random shuffle would jump the watermark to ~max
      // on trigger 1 and drop every later file's rows as late, measuring
      // nothing
      val filed = if (ttlMode) shaped.repartitionByRange(NFiles, col("user_id"))
                  else if (timerMode) shaped.repartitionByRange(NFiles, col("ts"))
                  else shaped.repartition(NFiles)
      filed.write.mode("overwrite").parquet(dir)
      if (timerMode) {
        val base = System.currentTimeMillis() - 3600000L
        new java.io.File(dir).listFiles()
          .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
          .zipWithIndex.foreach { case (f, i) =>
            f.setLastModified(base + i * 10000L)
          }
      }
      val nEvents = spark.read.parquet(dir).count()
      System.err.println(s"[stream] x$k: $nEvents events in $NFiles files")

      val measured = if (whale) whalePlans(spark, src)
                     else if (ttlMode) ttlPlans
                     else if (timerMode) timerPlans
                     else plans(spark, src)
      val keyJson = measured.map { case (key, plan, mode, sink) =>
        // cumulative input-row ledger for the slowBatch drain (NOT the
        // bounded recentProgress buffer; see the slowBatch comment)
        val drained = new java.util.concurrent.atomic.AtomicLong(0L)
        val writer = plan(streaming.Streams.readEventsStream(spark, dir,
            Some(FilesPerTrigger)))
          .writeStream
          .outputMode(mode)
          .trigger(Trigger.AvailableNow())
        val q = sink match {
          case "foreachBatch" =>
            val fbOut = s"$outBase/x$k/fb_out"
            writer.foreachBatch { (batch: DataFrame, _: Long) =>
              batch.write.mode("overwrite").parquet(fbOut)
            }.start()
          case "slowBatch" =>
            // consume, then sleep PAST the TTL so keys whose file ranges
            // are already drained expire DURING the run, not just at idle.
            // Input rows are ledgered HERE (round-15 ADVICE): summing
            // q.recentProgress is a ring buffer capped at
            // numRecentProgressUpdates (default 100), and ProcessingTime
            // mode emits periodic no-data progress events that would evict
            // data batches on a longer run — the sum would permanently
            // undercount and the drain would spin to its deadline
            writer.foreachBatch { (batch: DataFrame, _: Long) =>
              val n = batch.count()
              drained.addAndGet(n)
              if (n > 0) Thread.sleep(1500L)
            }.start()
          case "countBatch" =>
            // append-mode emission ledger: for the timer leg, each batch's
            // rows ARE the sessions the watermark just closed
            writer.foreachBatch { (batch: DataFrame, _: Long) =>
              drained.addAndGet(batch.count()); ()
            }.start()
          case _ => writer.format("noop").start()
        }
        // a ProcessingTime-mode stateful query never terminates (the
        // operator keeps requesting batches to advance its clock — that
        // is HOW TTL expiry fires), so the ttl legs drain the source via
        // the sink-side cumulative ledger and stop manually; every other
        // leg runs AvailableNow to completion
        if (sink == "slowBatch") {
          val deadline = System.currentTimeMillis() + 600000L
          while (drained.get() < nEvents &&
                 System.currentTimeMillis() < deadline) Thread.sleep(200L)
          // a few more empty batches so the last data batch's expirations
          // are processed before the final metrics read
          Thread.sleep(2500L)
        } else q.awaitTermination()
        val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0)
        val durs = prog.map(_.durationMs.get("triggerExecution").toLong).sorted
        val rows = prog.map(_.numInputRows)
        // final state-store footprint (the TTL probe's evidence; harmless
        // context for every other mode): rows + bytes from the LAST
        // progress event's state operators
        val sos = q.recentProgress.toSeq.lastOption.toSeq
          .flatMap(_.stateOperators.toSeq)
        val stRows = sos.map(_.numRowsTotal).sum
        val stMem = sos.map(_.memoryUsedBytes).sum
        // TWS TTL eviction counter (absent on non-TTL operators → 0)
        val ttlExpired = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
          .flatMap(so => Option(so.customMetrics.get("numValuesRemovedDueToTTLExpiry"))
            .map(_.longValue())).sum
        q.stop()
        val p50 = if (durs.isEmpty) 0L else durs(durs.size / 2)
        val mx = if (durs.isEmpty) 0L else durs.last
        // the sink-side ledger means something DIFFERENT per leg — name
        // it accordingly and omit it where no ledger is wired, so a JSON
        // consumer can never read input rows as sessions or a missing
        // ledger as "emitted nothing" (review round 16)
        val ledgerName = sink match {
          case "countBatch" => Some("sessions_closed")
          case "slowBatch" => Some("drained_rows")
          case _ => None
        }
        val ledger = ledgerName.map(n => s""","$n":${drained.get()}""").getOrElse("")
        val ledgerLog = ledgerName.map(n => s" $n=${drained.get()}").getOrElse("")
        System.err.println(
          f"[stream]   x$k $key%-20s batches=${durs.size} rows_max=${if (rows.isEmpty) 0L else rows.max}%-9d p50=${p50} ms max=${mx} ms state_rows=$stRows state_mem=${stMem}B ttl_expired=$ttlExpired$ledgerLog")
        s""""$key":{"batches":${durs.size},"rows_max":${if (rows.isEmpty) 0L else rows.max},"p50_ms":$p50,"max_ms":$mx,"state_rows":$stRows,"state_mem_bytes":$stMem,"ttl_expired":$ttlExpired$ledger}"""
      }.mkString(",")
      sb.append(s""""x$k":{"n_events":$nEvents,"keys":{$keyJson}}""")
      if (si < scales.size - 1) sb.append(",")
    }
    sb.append("}}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), sb.toString)
    println(sb.toString)
    spark.stop()
  }
}
