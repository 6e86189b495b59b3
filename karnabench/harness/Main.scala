package karnabench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.dialects.{GraphQL, NlGate, NlToSql}
import graft.operators.Derived
import graft.server.Server
import graft.sources.{DatasetRegistry, TableRegistry}

/** JVM side of the benchmark. Reads a plan written by `run.py` (the
  * seeded operation streams and the run settings), drives the program
  * through its public entry points, and writes the raw observations —
  * per-operation latencies, spans, listener counters, response bodies —
  * for `run.py` to check and reduce to metrics.
  *
  * Usage: karnabench.Main <plan.json>
  */
object Main {
  private val mapper = new ObjectMapper()

  final case class Op(id: String, kind: String, dialect: String, dir: String,
                      query: String, name: String, path: String)

  final case class Done(op: Op, t0: Long, t1: Long, status: Int, body: String)

  private def ops(n: JsonNode): Vector[Op] =
    n.elements().asScala.map { o =>
      def f(k: String) = Option(o.get(k)).map(_.asText).getOrElse("")
      Op(f("id"), f("kind"), f("dialect"), f("dir"), f("query"), f("name"), f("path"))
    }.toVector

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val workload = plan.get("workload").asText
    val trace = plan.get("trace").asInt == 1
    val cores = plan.get("cores").asInt
    val partitions = plan.get("shuffle_partitions").asInt
    val canaryIters = plan.get("canary_iters").asLong
    val out = mapper.createObjectNode()
    // before the session, so the program has the process to itself once
    // it starts; setup_s leaves this out
    val canaryPre = canarySeconds(canaryIters)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("karnabench")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", plan.get("spark_local_dir").asText)
      .config("spark.sql.warehouse.dir", plan.get("warehouse_dir").asText)
      .config("spark.sql.queryExecutionListeners", classOf[CatalystProbe].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val probe = new SparkProbe(spark)
    probe.install()
    val sessionS = sinceProcessStart()
    val tracer = new Tracer(trace)
    try {
      workload match {
        case "serve" => serve(spark, plan.get("serve"), plan.get("seconds").asDouble,
          tracer, probe, out)
        case "batch" => batch(spark, plan.get("batch"), tracer, probe, out)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      out.put("session_s", sessionS)
      // what one span costs: spans wrap calls, so tracing adds this per span
      val bench = new Tracer(true)
      val s0 = System.nanoTime()
      (1 to 10000).foreach(_ => bench.span("cost", "cost")(()))
      out.put("span_cost_ms", (System.nanoTime() - s0) / 1e6 / 10000)
      // driver heap in use after a forced collection, at the end of the run
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
      val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      out.put("heap_live_mb", heap.getUsed / 1048576.0)
      out.put("heap_max_mb", heap.getMax / 1048576.0)
      val spans = out.putArray("spans")
      tracer.spans.foreach { s =>
        val n = spans.addObject()
        n.put("id", s.id); n.put("parent", s.parent); n.put("req", s.req)
        n.put("name", s.name); n.put("t0_ns", s.t0); n.put("t1_ns", s.t1)
      }
      val host = out.putObject("host")
      host.put("nproc", Runtime.getRuntime.availableProcessors)
      host.put("master", spark.sparkContext.master)
      host.put("shuffle_partitions", spark.conf.get("spark.sql.shuffle.partitions"))
      host.put("heap_max_mb", heap.getMax / 1048576.0)
      host.put("spark_version", spark.version)
      host.put("java_version", System.getProperty("java.version"))
      host.put("canary_iters", canaryIters)
      host.put("canary_pre_s", canaryPre)
      host.put("canary_post_s", canarySeconds(canaryIters))
    } finally spark.stop()
    Files.write(Paths.get(plan.get("out").asText),
      mapper.writeValueAsBytes(out))
  }

  /** Seconds from the start of this process (the JVM) to now. */
  private def sinceProcessStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** The host-weather canary: the same fixed serial-dependency LCG loop as
    * the program's `Bench.canarySeconds`, with the iteration count a
    * setting of the benchmark.
    */
  def canarySeconds(iters: Long): Double = {
    val t0 = System.nanoTime()
    var s = 0x9e3779b97f4a7c15L
    var i = 0L
    while (i < iters) {
      s = s * 6364136223846793005L + 1442695040888963407L
      i += 1
    }
    val secs = (System.nanoTime() - t0) / 1e9
    if (s == 0L) System.err.println("canary sink")
    secs
  }

  private def counters(out: ObjectNode, key: String, m: Map[String, Long]): Unit = {
    val n = out.putObject(key)
    m.toSeq.sorted.foreach { case (k, v) => n.put(k, v) }
  }

  // ---------------------------------------------------------------- serve

  /** One closed-loop client against `Server.HttpApi` on loopback, run on
    * the calling thread. Reads go over HTTP; dataset writes call
    * `Server.handleDatasets`, the function behind `/datasets`. With tracing
    * on, every operation instead runs the same steps `Server.handle` takes,
    * called one by one from here inside spans.
    */
  private def serve(spark: SparkSession, cfg: JsonNode, seconds: Double,
                    tracer: Tracer, probe: SparkProbe, out: ObjectNode): Unit = {
    val warm = ops(cfg.get("warm"))
    val stream = ops(cfg.get("stream"))
    val catalogs = cfg.get("catalog_dirs").elements().asScala.map(_.asText).toVector
    val cycle = cfg.get("cycle_ops").asInt
    // set-up unit, repeated: start the server on a fresh embedded catalog;
    // the last server serves, after one round of warm-up reads
    val setupUnits = ArrayBuffer[Double]()
    var api: Server.HttpApi = null
    catalogs.foreach { dir =>
      if (api != null) api.stop()
      val t0 = System.nanoTime()
      api = new Server.HttpApi(spark, 0, Some(dir))
      api.start()
      setupUnits += (System.nanoTime() - t0) / 1e9
    }
    val warm0 = System.nanoTime()
    val http = HttpClient.newHttpClient()
    warm.foreach(op => runOp(spark, api, http, op, traced = false, tracer))
    out.put("warm_s", (System.nanoTime() - warm0) / 1e9)
    val before = { probe.drain(); probe.snapshot() }
    out.put("first_op_s", sinceProcessStart())
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val done = ArrayBuffer[Done]()
    val w0 = System.nanoTime()
    // whole cycles only, at least one: a run stops between cycles, so every
    // run measures the same mix of operations
    var i = 0
    while ((i == 0 || System.nanoTime() < deadline) && i + cycle <= stream.length) {
      (i until i + cycle).foreach { j =>
        done += runOp(spark, api, http, stream(j), tracer.enabled, tracer)
      }
      i += cycle
    }
    val w1 = System.nanoTime()
    probe.drain()
    val after = probe.snapshot()
    api.stop()
    out.put("window_s", (w1 - w0) / 1e9)
    out.put("window_t0_ns", w0)
    val units = out.putArray("setup_units_s")
    setupUnits.foreach(units.add(_))
    counters(out, "counters_before", before)
    counters(out, "counters_after", after)
    val arr = out.putArray("ops")
    done.foreach { d =>
      val n = arr.addObject()
      n.put("id", d.op.id); n.put("kind", d.op.kind); n.put("dialect", d.op.dialect)
      n.put("t0_ns", d.t0); n.put("t1_ns", d.t1); n.put("status", d.status)
      n.put("body", d.body)
    }
  }

  private def runOp(spark: SparkSession, api: Server.HttpApi, http: HttpClient,
                    op: Op, traced: Boolean, tracer: Tracer): Done = {
    val t0 = System.nanoTime()
    val (status, body) = (op.kind, traced) match {
      case ("read", false) =>
        val req = mapper.createObjectNode()
        req.put("dialect", op.dialect); req.put("query", op.query); req.put("dir", op.dir)
        val r = http.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${api.boundPort}/query"))
            .POST(HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(req)))
            .build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode, r.body)
      case ("read", true) => tracedRead(spark, op, tracer)
      case ("register", false) =>
        val req = mapper.createObjectNode()
        req.put("name", op.name); req.put("path", op.path); req.put("format", "parquet")
        Server.handleDatasets("POST", None, mapper.writeValueAsString(req), Some(spark))
      case ("unregister", false) =>
        Server.handleDatasets("DELETE", Some(op.name), "", Some(spark))
      case (_, true) => tracedWrite(spark, op, tracer)
      case (k, _) => throw new IllegalArgumentException(s"unknown op kind $k")
    }
    Done(op, t0, System.nanoTime(), status, body)
  }

  /** One read request, the steps of `Server.handle` and its response
    * rendering called one by one, each inside its own span.
    */
  private def tracedRead(spark: SparkSession, op: Op, tracer: Tracer): (Int, String) =
    tracer.span("server.request", op.id) {
      try {
        tracer.span("sources.sync")(DatasetRegistry.syncIfStale(Some(spark)))
        val sess = spark.newSession()
        val df: DataFrame = op.dialect match {
          case "sql" =>
            tracer.span("sources.register_all")(TableRegistry.registerAll(sess, op.dir))
            tracer.span("dialects.gate")(NlGate.validate(sess, op.query))
            tracer.span("catalyst.sql")(sess.sql(op.query))
          case "graphql" =>
            // Server.handle parses once to refuse mutations on this path
            tracer.span("dialects.gql_parse")(GraphQL.parseDocument(op.query))
            tracer.span("dialects.gql_build")(GraphQL.run(sess, op.dir, op.query))
          case "nl" =>
            tracer.span("sources.register_all")(TableRegistry.registerAll(sess, op.dir))
            val sql = tracer.span("dialects.nl_translate")(NlToSql.translate(op.query))
            tracer.span("dialects.gate")(NlGate.validate(sess, sql))
            tracer.span("catalyst.sql")(sess.sql(sql))
        }
        val rows = tracer.span("exec.collect")(
          df.limit(Server.DefaultMaxRows + 1).toJSON.collect())
        val res = mapper.createObjectNode()
        val cols = res.putArray("columns")
        df.columns.foreach(cols.add)
        val arr = res.putArray("rows")
        rows.take(Server.DefaultMaxRows).foreach(r => arr.add(mapper.readTree(r)))
        res.put("rowCount", math.min(rows.length, Server.DefaultMaxRows))
        res.put("truncated", rows.length > Server.DefaultMaxRows)
        (200, mapper.writeValueAsString(res))
      } catch {
        case e: Exception => (200, errorBody(e))
      }
    }

  /** One dataset write, the steps of `Server.handleDatasets` called one by
    * one inside spans.
    */
  private def tracedWrite(spark: SparkSession, op: Op, tracer: Tracer): (Int, String) =
    tracer.span("server.write", op.id) {
      try {
        tracer.span("sources.sync")(DatasetRegistry.syncIfStale(Some(spark)))
        val res = mapper.createObjectNode()
        op.kind match {
          case "register" =>
            val e = tracer.span("sources.register")(DatasetRegistry.register(
              graft.sources.CatalogStore.Entry(op.name, op.path, "parquet", Map.empty),
              Some(spark)))
            res.putObject("registered").put("name", e.name)
          case _ =>
            val ok = tracer.span("sources.unregister")(DatasetRegistry.unregister(op.name))
            if (!ok) throw new NoSuchElementException(s"no such dataset: '${op.name}'")
            res.put("unregistered", op.name.toLowerCase)
        }
        (200, mapper.writeValueAsString(res))
      } catch {
        case e: Exception => (400, errorBody(e))
      }
    }

  private def errorBody(e: Throwable): String = {
    val err = mapper.createObjectNode()
    err.put("error", Option(e.getMessage).getOrElse(e.getClass.getName))
    mapper.writeValueAsString(err)
  }

  // ---------------------------------------------------------------- batch

  private val derivedBuilders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "valid_emb" -> Derived.validEmb,
    "trade_edges" -> Derived.tradeEdges,
    "ppl_scores" -> Derived.pplScores)

  /** Each key of the set once: construct (`fn(spark, dir)`), then run to
    * its full result through the digest sink, whose digest is the check.
    * Set-up first warms the session on the smallest fixture, then builds
    * the derived artifacts the keys read.
    */
  private def batch(spark: SparkSession, cfg: JsonNode, tracer: Tracer,
                    probe: SparkProbe, out: ObjectNode): Unit = {
    def strings(k: String) = cfg.get(k).elements().asScala.map(_.asText).toVector
    val dir = cfg.get("dir").asText
    val fns = SparkEntry.queries
    graft.plans.GraftFunctions.register(spark)

    probe.setPhase("warm")
    val warm0 = System.nanoTime()
    val warmKeys = out.putObject("warm_key_s")
    strings("warm_keys").foreach { k =>
      val k0 = System.nanoTime()
      digestSink(fns(k)(spark, cfg.get("warm_dir").asText))
      warmKeys.put(k, (System.nanoTime() - k0) / 1e9)
    }
    clear(spark)
    out.put("warm_s", (System.nanoTime() - warm0) / 1e9)
    val derivedS = out.putObject("derived_s")
    strings("derived").foreach { a =>
      val a0 = System.nanoTime()
      tracer.span(s"derived.$a", s"derived-$a") { derivedBuilders(a)(spark, dir).count() }
      clear(spark)
      derivedS.put(a, (System.nanoTime() - a0) / 1e9)
    }

    val before = { probe.drain(); probe.snapshot() }
    out.put("first_op_s", sinceProcessStart())
    val w0 = System.nanoTime()
    val arr = out.putArray("keys")
    strings("keys").foreach { k =>
      val n = arr.addObject()
      n.put("key", k)
      probe.setKey(k)
      val t0 = System.nanoTime()
      val (ok, err) = try {
        tracer.span("batch.key", k) {
          probe.setPhase("construct")
          val df = tracer.span("operators.construct")(fns(k)(spark, dir))
          val t1 = System.nanoTime()
          probe.setPhase("exec")
          val (rows, digest) = tracer.span("exec.run")(digestSink(df))
          val t2 = System.nanoTime()
          n.put("construct_s", (t1 - t0) / 1e9)
          n.put("exec_s", (t2 - t1) / 1e9)
          n.put("rows", rows)
          n.put("digest", s"$rows:$digest")
        }
        (true, "")
      } catch {
        case e: Exception => (false, Option(e.getMessage).getOrElse(e.getClass.getName))
      }
      n.put("ok", ok)
      if (!ok) n.put("error", err)
      probe.setPhase("cleanup")
      clear(spark)
    }
    val w1 = System.nanoTime()
    probe.drain()
    val after = probe.snapshot()
    out.put("window_s", (w1 - w0) / 1e9)
    counters(out, "counters_before", before)
    counters(out, "counters_after", after)
  }

  /** Runs `df` to its full result, reading every column of every row into
    * an order-independent digest: the row count and the wrapping sum of a
    * 64-bit hash per row. Doubles enter the hash at nine significant
    * digits, since a sum of doubles may differ in its last bits with the
    * order partitions are merged in.
    */
  private def digestSink(df: DataFrame): (Long, String) = {
    val sc = df.sparkSession.sparkContext
    val sum = sc.longAccumulator("karnabench.digest")
    val count = sc.longAccumulator("karnabench.rows")
    df.foreachPartition { (it: Iterator[Row]) =>
      var s = 0L
      var n = 0L
      it.foreach { r =>
        val c = canon(r)
        s += (MurmurHash3.stringHash(c, 17).toLong << 32) |
          (MurmurHash3.stringHash(c, 31).toLong & 0xffffffffL)
        n += 1
      }
      sum.add(s)
      count.add(n)
    }
    (count.value.longValue, java.lang.Long.toHexString(sum.value))
  }

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
        .stripTrailingZeros.toString
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Drop what a key persisted, blocking, as the program's own `Bench`
    * does between keys, so keys do not pay for each other's blocks.
    */
  private def clear(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
  }
}
