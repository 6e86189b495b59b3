package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main (driver contract): times every `SparkEntry.queries` key at
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line.
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
    val iters = sys.env.get("SPARK_GRAFT_CANARY_ITERS").map(_.toLong)
      .getOrElse(1500000000L)
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

  /** Tiny synthetic + fixture-touching query exercising the hot machinery.
    * The vector and minhash stages are skipped when a SPARK_GRAFT_KEYS
    * subset exercises neither family (same gating as derivedSpecs) — a
    * targeted profile loop should not pay unrelated warm-up per iteration.
    */
  private val vectorKeyPrefixes =
    Seq("vec_", "sim_", "knn_", "cluster_", "dedup_embed", "dedup_semantic", "mm_")
  private val minhashKeys = Set(
    "dedup_near", "dedup_minhash", "dedup_cluster", "dedup_keep_best",
    "dedup_ngram", "sim_minhash_est", "sim_containment", "split_leakage",
    "graph_triangles", "graph_components_hist", "corpus_decontam", "eval_coverage")

  private def warmup(spark: SparkSession, sfDir: String,
                     selected: Set[String]): Unit = {
    def wants(p: String => Boolean) = selected.isEmpty || selected.exists(p)
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
    graft.plans.GraftFunctions.register(spark)
    if (wants(k => vectorKeyPrefixes.exists(k.startsWith))) {
      val e = Tables.embeddings(spark, sfDir).limit(16)
        .select(col("vec_id"), col("embedding"))
      e.as("a").crossJoin(broadcast(e.as("b")))
        .select(expr("vec_dot(a.embedding, b.embedding)").as("d"))
        .orderBy(col("d").desc).limit(5).count()
    }
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
      case _ if !wants(minhashKeys) => ()
      case Some(p) =>
        operators.TextOps.queries("dedup_cluster")(spark, p).count()
      case None =>
        System.err.println(
          "BENCH WARNING: minhash warmup skipped (no usable " +
            s"SPARK_GRAFT_WARMUP_DIR and no sf0.001 sibling of $sfDir); " +
            "the first dedup/graph key will absorb ~8 s of one-time JIT")
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("graft-bench")
    // optional comma-separated key subset for targeted profiling
    val only = sys.env.get("SPARK_GRAFT_KEYS")
      .map(_.split(",").iterator.map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach { ks =>
      val unknown = ks -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(", ")}")
    }
    val selected = only.fold(SparkEntry.queries)(ks => SparkEntry.queries.filter(kv => ks(kv._1)))
    val canaryPre = canarySeconds()
    warmup(spark, sfDir, only.getOrElse(Set.empty))
    // Materialize the shared derived artifacts ONCE each, timed
    // separately (the Derived seam): per-key numbers then measure each
    // consumer's own plan, and the derivation cost stays visible in the
    // JSON instead of landing on whichever consumer runs first. Order
    // matters (shingle_pair_stats derives FROM hashed_shingles); an
    // artifact is skipped when a SPARK_GRAFT_KEYS subset contains none of
    // its consumers.
    val derivedSpecs: Seq[(String, Set[String], () => Long)] = Seq(
      ("valid_emb", // round 17: the validated embedding base — every
        // vector-family key scans it instead of re-running the
        // validation gate per emb() occurrence
        Set("vec_centroid_label", "vec_quantize", "sim_cosine_topk",
          "vec_pq", "cluster_kmeans", "knn_label", "knn_ann", "dedup_embed",
          "sim_ivf", "sim_ivf_pq", "dedup_semantic", "sim_rerank",
          "sim_ann_lsh", "sim_ann_recall", "mine_hard_negatives",
          "sim_threshold_sweep", "vec_dim_stats", "vec_outlier",
          "vec_pca_power", "vec_norm_stats"),
        () => operators.Derived.validEmb(spark, sfDir).count()),
      ("shingles", // round 17: shared raw-shingle prefix of the
        // hashed_shingles + band_pairs + sim_minhash_est derivations
        Set("dedup_near", "sim_containment", "split_leakage",
          "corpus_decontam", "eval_coverage", "sim_minhash_est",
          "dedup_minhash", "dedup_cluster", "dedup_keep_best",
          "graph_triangles", "graph_components_hist"),
        () => operators.Derived.shingles(spark, sfDir).count()),
      ("hashed_shingles",
        Set("dedup_near", "sim_containment", "split_leakage",
          "corpus_decontam", "eval_coverage", "sim_minhash_est"),
        () => operators.Derived.hashedShingles(spark, sfDir).count()),
      ("shingle_pair_stats",
        Set("dedup_near", "sim_containment", "split_leakage"),
        () => operators.Derived.shinglePairStats(spark, sfDir).count()),
      ("minhash_sigs", // round 17: per-(doc, seed) minhash values shared
        // by the band derivation and sim_minhash_est's signature arrays
        Set("dedup_minhash", "dedup_cluster", "dedup_keep_best",
          "sim_minhash_est", "graph_triangles", "graph_components_hist"),
        () => operators.Derived.minhashSigs(spark, sfDir).count()),
      ("band_pairs",
        Set("dedup_minhash", "dedup_cluster", "dedup_keep_best",
          "sim_minhash_est", "graph_triangles", "graph_components_hist"),
        () => operators.Derived.bandPairs(spark, sfDir).count()),
      ("components", // round 17: shared duplicate-cluster labels
        Set("dedup_cluster", "dedup_keep_best", "graph_components_hist"),
        () => operators.Derived.components(spark, sfDir).count()),
      ("trade_edges", // round 17: shared distinct trade edge list
        Set("graph_pagerank", "graph_degrees", "graph_bfs"),
        () => operators.Derived.tradeEdges(spark, sfDir).count()),
      ("lsh_capped",
        Set("dedup_embed", "knn_ann"),
        () => operators.Derived.lshCapped(spark, sfDir).count()),
      ("ppl_scores", // round 17: shared CCNet bigram-LM scoring pipeline
        Set("text_perplexity", "quality_ccnet_bucket"),
        () => operators.Derived.pplScores(spark, sfDir).count()))
    val derived: Seq[(String, Double)] = derivedSpecs.flatMap {
      case (nm, consumers, run) =>
        if (selected.keysIterator.exists(consumers)) {
          val t0 = System.nanoTime()
          run()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
          Some(nm -> (System.nanoTime() - t0) / 1e9)
        } else None
    }
    val failures = scala.collection.mutable.ListBuffer[String]()
    val results = selected.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case e: Throwable =>
          failures += name
          System.err.println(s"BENCH FAILURE $name: ${e.getClass.getName}: ${e.getMessage}")
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // per-key isolation: the dedup/graph keys eagerly localCheckpoint
      // intermediates that would otherwise stay persisted for the REST of
      // the run — ~200 keys of accumulated blocks turn into storage/GC
      // pressure that lands on whichever heavy key runs late (observed:
      // graph_triangles 5.9 s vs 48.7 s across two quiet-canary runs).
      // Dropping them after timing makes keys independent of run order.
      // BLOCKING unpersist: the async form lets block removal drift into
      // the NEXT key's timing window (observed: dedup_cluster 29.6 s vs
      // 12.4 s across two quiet-canary 251-key runs).
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.catalog.clearCache()
      name -> elapsed
    }
    // ---- movers: automatic warmth-vs-regression adjudication (round 11,
    // verdict item 5). Two rounds running, a >1.5× per-key move on an
    // UNTOUCHED key cost a manual isolation run to adjudicate (r9 dedup
    // keys, r10 graph_triangles — both loop-order cache warmth, not plan
    // regressions). Bench now does that adjudication itself: any shared
    // key >1.5× its prior committed record (and above the 0.5 s noise
    // floor the round-10 verdict used) is re-timed at END of run — caches
    // cleared, its derived inputs re-materialized untimed first, exactly
    // the manual keyed-isolation procedure — and both numbers land in a
    // `movers` JSON section. isolated_s ≈ prior_s ⇒ warmth; isolated_s
    // still elevated ⇒ investigate the plan. Prior record:
    // SPARK_GRAFT_PRIOR, defaulting to the committed BENCH_local_sf0.1.json
    // when benching the sf0.1 dir.
    val priorPath: Option[String] = sys.env.get("SPARK_GRAFT_PRIOR").orElse {
      val f = new java.io.File("BENCH_local_sf0.1.json")
      if (f.isFile && sfDir.replaceAll("/+$", "").endsWith("sf0.1")) Some(f.getPath)
      else None
    }
    val prior: Map[String, Double] = priorPath.map { p =>
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), "UTF-8")
      // WHITESPACE-TOLERANT header match (round-17 measurement fix): the
      // committed BENCH_local_sf0.1.json is pretty-printed ("queries": {
      // with a space), and the old indexOf("\"queries\":{") matched only
      // the compact form — qStart < 0 took the silent Map.empty branch,
      // so mover adjudication had been OFF for every pretty-printed prior
      // without the empty-parse warning ever firing (it lived in the
      // other branch). Round-16's empty `movers` sections are this bug,
      // not evidence of a quiet window.
      // Depth-anchored header match (round-18, ADVICE item 3): consider
      // only matches whose "queries" key sits at top-level nesting depth
      // 1 and OUTSIDE any JSON string — a string field that happens to
      // contain the byte sequence (a captured log tail, an error message)
      // can no longer hijack the slice and silently degrade adjudication.
      // One linear pre-pass computes depth / in-string per index (state
      // BEFORE consuming the char), with \"-escape handling.
      val depthAt = new Array[Int](txt.length)
      val inStr = new Array[Boolean](txt.length)
      locally {
        var d = 0; var s = false; var esc = false; var i = 0
        while (i < txt.length) {
          depthAt(i) = d; inStr(i) = s
          val c = txt.charAt(i)
          if (s) {
            if (esc) esc = false
            else if (c == '\\') esc = true
            else if (c == '"') s = false
          } else c match {
            case '"' => s = true
            case '{' => d += 1
            case '}' => d -= 1
            case _ => ()
          }
          i += 1
        }
      }
      val hdr = "\"queries\"\\s*:\\s*\\{".r.findAllMatchIn(txt)
        .find(m => depthAt(m.start) == 1 && !inStr(m.start))
      if (hdr.isEmpty) {
        System.err.println(
          s"[bench] WARNING: prior record $p has no queries section — " +
            "mover adjudication disabled this run")
        Map.empty[String, Double]
      } else {
        // brace-matching slice (round-11 advice): indexOf("}") truncated
        // the section at the first nested '}' — fine for today's flat
        // numeric map, silently empty (disabling mover adjudication) if
        // the section ever nests. Strings in this JSON never contain
        // braces (keys are [A-Za-z0-9_], values numeric), so a depth
        // counter is exact here.
        val open = hdr.get.end - 1 // the '{' the header match ends on
        var i = open
        var depth = 0
        while (i < txt.length && { if (txt(i) == '{') depth += 1
          else if (txt(i) == '}') depth -= 1; depth > 0 }) i += 1
        val body = txt.substring(open + 1, math.min(i, txt.length))
        val m = "\"([A-Za-z0-9_]+)\"\\s*:\\s*([-+0-9.Ee]+)".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        if (m.isEmpty) System.err.println(
          s"[bench] WARNING: prior record $p parsed to an empty queries " +
            "map — mover adjudication disabled this run")
        else if (m.size < SparkEntry.queries.size / 2) System.err.println(
          s"[bench] WARNING: prior record $p parsed to only ${m.size} " +
            s"queries (tree has ${SparkEntry.queries.size}) — truncated " +
            "or mis-sliced prior; adjudication covers only those keys")
        m
      }
    }.getOrElse(Map.empty)
    val moverKeys = results.collect {
      case (k, v) if !failures.contains(k) &&
        prior.get(k).exists(pv => v > 1.5 * pv && v >= 0.5) => k
    }.toSeq.sorted
    val movers = moverKeys.map { k =>
      derivedSpecs.foreach { case (_, consumers, run) =>
        if (consumers(k)) { run(); () } // untimed input re-materialization
      }
      val t0 = System.nanoTime()
      try { SparkEntry.queries(k)(spark, sfDir).count() } catch {
        case e: Throwable =>
          System.err.println(s"BENCH MOVER RETIME FAILURE $k: ${e.getMessage}")
      }
      val iso = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.catalog.clearCache()
      System.err.println(
        f"BENCH MOVER $k: run=${results(k)}%.2f s prior=${prior(k)}%.2f s isolated=$iso%.2f s")
      (k, results(k), prior(k), iso)
    }
    val canaryPost = canarySeconds()
    val ms = movers.map { case (k, run, pv, iso) =>
      s"""\"$k\":{"run_s":$run,"prior_s":$pv,"isolated_s":$iso}"""
    }.mkString("{", ",", "}")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fs = failures.map(k => "\"" + k + "\"").mkString("[", ",", "]")
    val ds = derived.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // total = per-key sum + the shared derivations: the one-time prefix is
    // real work this run did, so the 2×-gate total keeps counting it
    val total = (if (results.nonEmpty) results.values.sum else 0.0) +
      derived.map(_._2).sum
    val priorJson = priorPath.map(p => "\"" + p + "\"").getOrElse("null")
    // `total_s` is duplicated as the LAST field: the driver's BENCH_r{N}
    // artifact captures only the final 2,000 chars of stdout, and with
    // ~390 per-key entries the leading "value" field falls off the head.
    // A trailing copy keeps the headline number inside the captured tail
    // (round-16 verdict item 8).
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failures":$fs,"derived_s":$ds,"movers":$ms,"prior_record":$priorJson,"canary_pre_s":$canaryPre,"canary_post_s":$canaryPost,"sf":"$sfDir","total_s":$total}""")
    spark.stop()
  }
}
