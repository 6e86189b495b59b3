package karnabench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's own spans: name, start, end, parent span and request
  * id, kept in memory and written out when the run ends. Spans are opened
  * only by the harness, around its calls into the program's public
  * functions; nothing inside the program is instrumented.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, req: String, name: String,
                        t0: Long, t1: Long)

  private val ids = new AtomicInteger(0)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Int, String)]] {
    override def initialValue(): List[(Int, String)] = Nil
  }

  /** Run `body` inside a span; a span with no open parent starts a new
    * request under `req`. With tracing off this is a plain call.
    */
  def span[T](name: String, req: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get()
      val id = ids.incrementAndGet()
      val (parent, rid) = outer.headOption.getOrElse((0, req))
      stack.set((id, rid) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, rid, name, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

/** Spark-side counters from public listener APIs. Jobs carry the
  * harness's `karnabench.phase` local property; stages and tasks inherit
  * their job's phase, so untimed work (warm-up, output fingerprints) is
  * kept apart from the timed window.
  */
final class SparkProbe(spark: SparkSession) extends SparkListener {
  private val sc: SparkContext = spark.sparkContext
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageFirstLaunch = new ConcurrentHashMap[Int, java.lang.Long]()
  private val counters = new ConcurrentHashMap[String, AtomicLong]()
  private val jobsOpen = new AtomicLong(0)

  private def add(phase: String, name: String, v: Long): Unit =
    counters.computeIfAbsent(s"$phase/$name", _ => new AtomicLong()).addAndGet(v)

  /** Phase tagging for the calling thread's future jobs. */
  def setPhase(phase: String): Unit = {
    sc.setLocalProperty("karnabench.phase", phase)
    CodegenProbe.phase = phase
  }

  /** Tag the calling thread's future jobs with a batch key as well. */
  def setKey(key: String): Unit = sc.setLocalProperty("karnabench.key", key)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsOpen.incrementAndGet()
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val phase = prop("karnabench.phase").getOrElse("serve")
    add(phase, "jobs", 1)
    prop("karnabench.key").foreach(k => add(phase, s"jobs@$k", 1))
    e.stageInfos.foreach(si => stagePhase.put(si.stageId, phase))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobsOpen.decrementAndGet(); () }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    stageFirstLaunch.merge(e.stageId, e.taskInfo.launchTime,
      (a, b) => java.lang.Long.valueOf(math.min(a, b)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val phase = stagePhase.getOrDefault(id, "serve")
    add(phase, "stages", 1)
    val wait = for {
      s <- Option(stageSubmit.remove(id)); l <- Option(stageFirstLaunch.remove(id))
    } yield math.max(0L, l - s)
    wait.foreach(add(phase, "sched_wait_ms", _))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val phase = stagePhase.getOrDefault(e.stageId, "serve")
    add(phase, "tasks", 1)
    Option(e.taskMetrics).foreach { m =>
      add(phase, "executor_run_ms", m.executorRunTime)
      add(phase, "executor_cpu_ms", m.executorCpuTime / 1000000L)
      add(phase, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add(phase, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add(phase, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add(phase, "scan_rows", m.inputMetrics.recordsRead)
    }
  }

  def install(): Unit = {
    sc.addSparkListener(this)
    CodegenProbe.install()
  }

  /** Wait until every started job has ended and the listener bus has
    * delivered the events the counters are built from.
    */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while ((jobsOpen.get() > 0 || sc.statusTracker.getActiveJobIds().nonEmpty) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200) // task-end events trail the job end on the bus
  }

  /** All counters, with the codegen and file-listing ones folded in. */
  def snapshot(): Map[String, Long] = {
    val base = counters.asScala.map { case (k, v) => k -> v.get() }.toMap
    base ++ CatalystProbe.snapshot() ++ CodegenProbe.snapshot() ++ Map(
      "catalog/files_discovered" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
      "catalog/file_cache_hits" -> HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount)
  }
}

/** Catalyst phase durations of every action, from the query's own
  * planning tracker. Installed through `spark.sql.queryExecutionListeners`
  * so that every session gets one, the per-request sessions the server
  * makes with `newSession()` included; all instances add to one count.
  */
class CatalystProbe extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    CatalystProbe.record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    CatalystProbe.record(qe)
}

object CatalystProbe {
  private val totals = new ConcurrentHashMap[String, AtomicLong]()

  private def add(name: String, v: Long): Unit =
    totals.computeIfAbsent(name, _ => new AtomicLong()).addAndGet(v)

  def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(s => add(s"catalyst/${p}_ms", s.durationMs))
    }
  }

  def snapshot(): Map[String, Long] =
    totals.asScala.map { case (k, v) => k -> v.get() }.toMap
}

/** Janino compile count and time, read from the `Code generated in N ms`
  * line Spark's code generator logs at INFO for every compile.
  */
object CodegenProbe {
  /** Process-wide: compiles also run on executor task threads, and the
    * harness changes phase only while its driver thread is the sole one
    * running work (batch); served requests stay under "serve".
    */
  @volatile var phase: String = "serve"
  private val compiles = new ConcurrentHashMap[String, AtomicLong]()
  private val micros = new ConcurrentHashMap[String, AtomicLong]()
  private val Pattern = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val Logger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  def install(): Unit = synchronized {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    if (cfg.getAppender("karnabench-codegen") == null) {
      val app = new AbstractAppender("karnabench-codegen", null, null, true,
          Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit =
          e.getMessage.getFormattedMessage match {
            case Pattern(ms) =>
              val p = phase
              compiles.computeIfAbsent(p, _ => new AtomicLong()).incrementAndGet()
              micros.computeIfAbsent(p, _ => new AtomicLong())
                .addAndGet((ms.toDouble * 1000).toLong)
            case _ => ()
          }
      }
      app.start()
      cfg.addAppender(app)
      val lc = new LoggerConfig(Logger, Level.INFO, false)
      lc.addAppender(app, Level.INFO, null)
      cfg.addLogger(Logger, lc)
      ctx.updateLoggers()
    }
  }

  def snapshot(): Map[String, Long] =
    compiles.asScala.map { case (p, v) => s"$p/codegen_compiles" -> v.get() }.toMap ++
      micros.asScala.map { case (p, v) => s"$p/codegen_compile_us" -> v.get() }.toMap
}
