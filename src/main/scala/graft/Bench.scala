package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Benchmark main (driver contract): times every `SparkEntry.queries` key at
  * the fixture dir given as its argument (else `SPARK_GRAFT_SF_DIR`) and
  * prints ONE JSON line.
  *
  * A single UNTIMED warm-up query runs before the timed loop: first use of
  * whole-stage codegen (Janino), ObjectHashAggregate, window exec, broadcast
  * machinery, the parquet reader, and the `vec_dot` expression costs ~6-8 s
  * of classloading/JIT that would otherwise land on whichever key happens to
  * run first (round 2 recorded it all against sim_ivf). Excluding one-time
  * session initialization is standard benchmark practice; with it excluded,
  * per-key numbers measure plan cost and are comparable across rounds.
  * Failures are NOT swallowed: a key that throws is reported in a
  * `failures` list (its elapsed time still counts toward the total).
  *
  * Shared derived artifacts (`operators.Derived`) build on first use,
  * inside the first key that reads them. Their self seconds are reported
  * under `derived_s` and taken out of that key's time, so per-key numbers
  * measure each consumer's own plan whichever consumer runs first.
  */
object Bench {

  /** Host-weather canary (BASELINE.md §3): a fixed serial-dependency LCG
    * loop on ONE thread — no I/O, no Spark, no allocation — whose wall
    * time depends only on host CPU pressure. The multiply→add chain is
    * strictly data-dependent, so the JIT can neither vectorize nor
    * strength-reduce it; iteration count is fixed so readings are
    * comparable across runs and rounds. Run before AND after the timed
    * loop and emitted in the bench JSON (`canary_pre_s`/`canary_post_s`)
    * so any reader of BENCH_r{N}.json can tell a quiet-window measurement
    * from a contended-host one without trusting out-of-band notes.
    * Quiet band on this host: ~1.3-1.9 s (see BASELINE.md §3).
    */
  private[graft] def canarySeconds(): Double = {
    val iters = 1500000000L
    val t0 = System.nanoTime()
    var s = 0x9e3779b97f4a7c15L
    var i = 0L
    while (i < iters) {
      s = s * 6364136223846793005L + 1442695040888963407L
      i += 1
    }
    val secs = (System.nanoTime() - t0) / 1e9
    if (s == 0L) System.err.println("canary sink") // defeat dead-code elim
    math.rint(secs * 1000) / 1000
  }

  /** Tiny synthetic + fixture-touching query exercising the hot machinery. */
  private def warmup(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(100).toDF("id")
      .withColumn("g", col("id") % 7)
      .withColumn("arr", expr("transform(sequence(0, 3), i -> CAST(id * i AS DOUBLE))"))
    val agg = df.groupBy("g")
      .agg(slice(sort_array(collect_list(struct(col("id"), col("arr")))), 1, 2).as("top"))
      .select(col("g"), explode(expr("transform(top, t -> t.id)")).as("x"))
    df.join(broadcast(agg), df("g") === agg("g"))
      .withColumn("rn", row_number().over(Window.partitionBy(df("g")).orderBy("x")))
      .filter(col("rn") <= 2)
      .count()
    val e = Tables.embeddings(spark, sfDir).limit(16)
      .select(col("vec_id"), col("embedding"))
    e.as("a").crossJoin(broadcast(e.as("b")))
      .select(expr("vec_dot(a.embedding, b.embedding)").as("d"))
      .orderBy(col("d").desc).limit(5).count()
    // minhash/shingle-family JIT warm (shingle explode + xxhash codegen,
    // band self-join, label-propagation loop): run the full pipeline once
    // on the SMALLEST available fixture (~1-2 s) so the ~8 s of one-time
    // codegen doesn't land on whichever dedup/graph key the map happens to
    // order first (observed: graph_components_hist 14.9 s cold vs 6.8 s
    // warm at sf0.1 on a quiet host, identical plans). The tiny fixture is
    // derived from the bench sf dir (sibling sf0.001) or overridden via
    // SPARK_GRAFT_WARMUP_DIR, so non-default deployments still warm; a
    // skipped warmup is logged so skewed per-key numbers stay attributable.
    val overrideDir = sys.env.get("SPARK_GRAFT_WARMUP_DIR")
    val validOverride = overrideDir.filter(p => new java.io.File(p).isDirectory)
    overrideDir.filterNot(_ => validOverride.nonEmpty).foreach { p =>
      System.err.println(
        s"BENCH WARNING: SPARK_GRAFT_WARMUP_DIR=$p is not a directory; " +
          "falling back to the sf0.001 sibling")
    }
    val tiny = validOverride
      .orElse {
        Option(new java.io.File(sfDir).getAbsoluteFile.getParentFile)
          .map(p => new java.io.File(p, "sf0.001").getPath)
          .filter(p => new java.io.File(p).isDirectory)
      }
    tiny match {
      case Some(p) => operators.TextOps.warmPipeline(spark, p)
      case None =>
        System.err.println(
          "BENCH WARNING: minhash warmup skipped (no usable " +
            s"SPARK_GRAFT_WARMUP_DIR and no sf0.001 sibling of $sfDir); " +
            "the first dedup/graph key will absorb ~8 s of one-time JIT")
    }
    isolate(spark)
  }

  // per-key isolation: the keys behind PERF.md §19's 19 kept
  // localCheckpoint sites (global running sums, the dedup/graph family)
  // leave blocks that would otherwise stay persisted for the REST of
  // the run — ~200 keys of accumulated blocks turn into storage/GC
  // pressure that lands on whichever heavy key runs late (observed:
  // graph_triangles 5.9 s vs 48.7 s across two quiet-canary runs).
  // Dropping them after timing makes keys independent of run order.
  // BLOCKING unpersist: the async form lets block removal drift into
  // the NEXT key's timing window (observed: dedup_cluster 29.6 s vs
  // 12.4 s across two quiet-canary 251-key runs).
  private def isolate(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
  }

  /** `graft.Bench [sf_dir]`: the fixture dir is the first argument, as for
    * `graft.Verify`, else `SPARK_GRAFT_SF_DIR`, else `/root/testdata/sf0.1`.
    */
  private[graft] def sfDirOf(args: Seq[String], env: Map[String, String]): String = {
    require(args.length <= 1,
      s"usage: graft.Bench [sf_dir] (got ${args.length} arguments: ${args.mkString(" ")}); " +
        "select keys with SPARK_GRAFT_KEYS")
    args.headOption.getOrElse(env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sfDirOf(args.toSeq, sys.env)
    val spark = GraftSession("graft-bench")
    // optional comma-separated key subset for targeted profiling
    val only = sys.env.get("SPARK_GRAFT_KEYS")
      .map(_.split(",").iterator.map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    try println(run(spark, sfDir, only))
    finally spark.stop()
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The per-key seconds of a prior bench record: its top-level `queries`
    * object. An empty or short map is warned about, since it quietly
    * switches mover adjudication off for the keys it lacks.
    */
  private[graft] def readPrior(path: String): Map[String, Double] = {
    val m = mapper.readTree(new java.io.File(path)).path("queries").fields().asScala
      .collect { case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble }.toMap
    if (m.isEmpty) System.err.println(
      s"[bench] WARNING: prior record $path has no queries section — " +
        "mover adjudication disabled this run")
    else if (m.size < SparkEntry.queries.size / 2) System.err.println(
      s"[bench] WARNING: prior record $path parsed to only ${m.size} " +
        s"queries (tree has ${SparkEntry.queries.size}) — truncated " +
        "prior; adjudication covers only those keys")
    m
  }

  /** Times `only` (every key when None) at `sfDir` and returns the bench
    * JSON line.
    */
  private[graft] def run(spark: SparkSession, sfDir: String,
                         only: Option[Set[String]]): String = {
    only.foreach { ks =>
      val unknown = ks -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(", ")}")
    }
    val selected = only.fold(SparkEntry.queries)(ks => SparkEntry.queries.filter(kv => ks(kv._1)))
    val canaryPre = canarySeconds()
    warmup(spark, sfDir)
    val failures = scala.collection.mutable.ListBuffer[String]()
    val results = selected.map { case (name, fn) =>
      val built = operators.Derived.buildSeconds(sfDir).keySet
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case e: Throwable =>
          failures += name
          System.err.println(s"BENCH FAILURE $name: ${e.getClass.getName}: ${e.getMessage}")
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // artifacts first built in this key's window count under derived_s
      val builds = (operators.Derived.buildSeconds(sfDir) -- built).values.sum
      isolate(spark)
      name -> (elapsed - builds)
    }
    val derived = operators.Derived.buildSeconds(sfDir)
    // ---- movers: automatic warmth-vs-regression adjudication (round 11,
    // verdict item 5). Two rounds running, a >1.5× per-key move on an
    // UNTOUCHED key cost a manual isolation run to adjudicate (r9 dedup
    // keys, r10 graph_triangles — both loop-order cache warmth, not plan
    // regressions). Bench now does that adjudication itself: any shared
    // key >1.5× its prior committed record (and above the 0.5 s noise
    // floor the round-10 verdict used) is re-timed at END of run — caches
    // cleared, its derived inputs already built, exactly the manual
    // keyed-isolation procedure — and both numbers land in a `movers`
    // JSON section. isolated_s ≈ prior_s ⇒ warmth; isolated_s still
    // elevated ⇒ investigate the plan. Prior record: SPARK_GRAFT_PRIOR,
    // defaulting to the committed BENCH_local_sf0.1.json when benching
    // the sf0.1 dir.
    val priorPath: Option[String] = sys.env.get("SPARK_GRAFT_PRIOR").orElse {
      val f = new java.io.File("BENCH_local_sf0.1.json")
      if (f.isFile && sfDir.replaceAll("/+$", "").endsWith("sf0.1")) Some(f.getPath)
      else None
    }
    val prior = priorPath.fold(Map.empty[String, Double])(readPrior)
    val moverKeys = results.collect {
      case (k, v) if !failures.contains(k) &&
        prior.get(k).exists(pv => v > 1.5 * pv && v >= 0.5) => k
    }.toSeq.sorted
    val movers = moverKeys.map { k =>
      val t0 = System.nanoTime()
      try { SparkEntry.queries(k)(spark, sfDir).count() } catch {
        case e: Throwable =>
          System.err.println(s"BENCH MOVER RETIME FAILURE $k: ${e.getMessage}")
      }
      val iso = (System.nanoTime() - t0) / 1e9
      isolate(spark)
      System.err.println(
        f"BENCH MOVER $k: run=${results(k)}%.2f s prior=${prior(k)}%.2f s isolated=$iso%.2f s")
      (k, iso)
    }
    val canaryPost = canarySeconds()
    // total = per-key sum + the shared derivations: the one-time prefix is
    // real work this run did, so the 2×-gate total keeps counting it
    val total = results.values.sum + derived.values.sum
    val out = mapper.createObjectNode()
    out.put("metric", "total").put("value", total).put("unit", "sec")
    val qs = out.putObject("queries")
    results.foreach { case (k, v) => qs.put(k, v) }
    val fs = out.putArray("failures")
    failures.foreach(f => fs.add(f))
    val ds = out.putObject("derived_s")
    derived.toSeq.sorted.foreach { case (k, v) => ds.put(k, v) }
    val ms = out.putObject("movers")
    movers.foreach { case (k, iso) =>
      ms.putObject(k).put("run_s", results(k)).put("prior_s", prior(k)).put("isolated_s", iso)
    }
    priorPath.fold(out.putNull("prior_record"))(out.put("prior_record", _))
    out.put("canary_pre_s", canaryPre).put("canary_post_s", canaryPost).put("sf", sfDir)
    // `total_s` is duplicated as the LAST field: the driver's BENCH_r{N}
    // artifact captures only the final 2,000 chars of stdout, and with
    // ~390 per-key entries the leading "value" field falls off the head.
    // A trailing copy keeps the headline number inside the captured tail
    // (round-16 verdict item 8).
    out.put("total_s", total)
    mapper.writeValueAsString(out)
  }
}
