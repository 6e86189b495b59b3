package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic scale rehearsal for the bounded-fan-out claims (PERF.md §6).
  *
  * The dedup/sim/graph family's 100 TB posture rests on caps — band
  * buckets df∈[2,20] before the self-join, rare-gram blocking df≤20,
  * SemDeDup Σ|cluster|², phash band caps. At sf0.1 those are argued from
  * the plan; this main MEASURES them: the documents/embeddings fixtures
  * are self-replicated ×k with a per-replica vocabulary shift (word w →
  * "w·r", embedding e → e + ε_r), so each replica keeps the base corpus's
  * internal duplicate structure but replicas share no shingles/neighbors —
  * the "corpus grows, duplication density constant" model. If the caps
  * hold, candidate-pair counts and wall time scale ~linearly in k; any
  * super-linear key has a broken cap.
  *
  * Round 9 adds the FACT-TABLE side: orders/lineitem/events are
  * self-replicated ×k with re-keyed spines (o_orderkey / l_orderkey /
  * event_id shifted per replica — FK structure preserved: each replica's
  * lineitems join its own orders) while the dimensions (customer,
  * supplier, part, nation, region) stay fixed — the "facts grow, dims
  * don't" model of a real warehouse. Per-dim-entity group sizes then grow
  * ×k (orders per customer, events per user), which is exactly the
  * stress the window/sessionize/composite keys must absorb. Caveat:
  * graph_pagerank's edge set is (custkey, suppkey) DISTINCT pairs, so
  * replicas collapse to the same graph — its row measures the ×k
  * pre-distinct scan volume, not iteration growth.
  *
  * Usage: graft.ScaleRehearsal <srcSfDir> <outBase> <outJson> [k1,k2,...]
  *        [skew|skew50|docs|fact30]
  * (default scales 1,3,10). Writes <outBase>/x<k>/<table>.parquet —
  * documents/embeddings (vocabulary-shifted), the three re-keyed fact
  * tables, and the copied-unscaled dimension tables, so Tables.load
  * resolves every table the two families read. Runs both families per
  * scale and emits one JSON with per-key rows/seconds and the
  * band_pairs / shingle_pair_stats artifact sizes (the fan-out).
  *
  * Round 9 adds a SKEW mode (5th arg `skew`): on top of the ×k
  * replication, 25% of every fact table's rows (chosen by a
  * deterministic spine hash — no RNG, reproducible across runs) are
  * funneled onto ONE hot dimension key (o_custkey=0 / l_suppkey=0 /
  * user_id=0, all valid dim members). That is the 100 TB failure shape
  * replication alone cannot produce: a shuffle where one reducer key
  * owns a quarter of the table — the hot-celebrity user, the
  * house-brand supplier. Skew mode replicates ONLY the fact side and
  * measures ONLY the fact family (documents/embeddings keys don't read
  * facts), directories land under <outBase>-skew, and the JSON carries
  * "mode":"skew" so a skew record can never be mistaken for a uniform
  * one. The interesting read is skewed-vs-uniform wall at the same ×k:
  * AQE skew-join splitting + partial aggregation should absorb the hot
  * key everywhere except genuinely per-key-serial work (a single
  * window partition owning 25% of events), which this measures rather
  * than hides.
  */
object ScaleRehearsal {

  private val Off = 1000000000L // replica id offset, past every fixture id space

  private val alpha = "abcdefghijklmnopqrstuvwxyz"

  /** Deterministic per-replica letter permutation (MurmurHash3-keyed sort
    * of the alphabet — no RNG state, reproducible across runs/JVMs).
    * Covers lowercase a-z only, so scaleDocuments lower()s the text first:
    * otherwise uppercase/digit chars inside words would pass translate
    * unchanged and reintroduce cross-replica shared char-grams (the
    * quadratic-clique problem the permutation exists to prevent). The
    * gram pipeline builds over lower(text) anyway, so lower() here is
    * semantics-preserving for every consumer key.
    */
  private def charPerm(r: Int): String =
    alpha.toSeq.sortBy(c => scala.util.hashing.MurmurHash3.stringHash(s"$r:$c")).mkString

  private def scaleDocuments(s: SparkSession, d: String, k: Int): DataFrame = {
    val base = Tables.documents(s, d)
    val reps = (0 until k).map { r =>
      if (r == 0) base
      else base.select(
        (col("doc_id") + lit(r * Off)).as("doc_id"),
        // per-replica vocabulary: every word gets a replica suffix AND
        // every letter goes through a per-replica bijective permutation
        // (round 10). The suffix alone makes WORD-level shingles
        // replica-disjoint but leaves character n-grams interior to words
        // SHARED across replicas — so at ×k every base doc's replicas
        // formed a C(k,2) char-gram clique and dedup_ngram's true answer
        // grew quadratically in k (1.64 M pairs at ×30, PERF.md §6.3b):
        // the rehearsal was then measuring the synthetic corpus's
        // quadratic output, not the plan's overhead. A letter permutation
        // is bijective, so within-replica equality structure (words,
        // grams, shingles, df distributions) stays isomorphic to the base
        // corpus while cross-replica gram overlap drops to chance — the
        // "corpus grows, duplication density constant" model the
        // rehearsal declares, now true for char-grams too.
        // lower() BEFORE translate: charPerm permutes a-z only, so any
        // non-lowercase letter would otherwise escape the permutation
        // (see charPerm scaladoc)
        translate(array_join(transform(split(lower(col("text")), " "),
          w => concat(w, lit("·" + r))), " "), alpha, charPerm(r)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    reps.reduce(_ unionByName _)
  }

  private def scaleEmbeddings(s: SparkSession, d: String, k: Int): DataFrame = {
    val base = Tables.embeddings(s, d)
    val reps = (0 until k).map { r =>
      if (r == 0) base
      else base.select(
        (col("vec_id") + lit(r * Off)).as("vec_id"),
        // deterministic per-replica translation: geometry within a replica
        // is preserved, replicas drift apart (no cross-replica near-dups)
        transform(col("embedding"),
          (x, i) => x + lit(0.05 * r) * ((i % 7).cast("double") - lit(3.0)))
          .as("embedding"),
        col("label"))
    }
    reps.reduce(_ unionByName _)
  }

  /** Replicate a fact table ×k, shifting its spine keys per replica so
    * FKs stay consistent within a replica and replicas never collide.
    * With `skew`, 25% of ALL rows (base and replicas alike — selected by
    * xxhash64(spine, dimkey) % 4, deterministic and collision-free with
    * the shifted spines) have their dimension FK overwritten with the
    * hot key 0 (a valid member of every dim). Spines stay untouched, so
    * intra-fact FK structure (lineitem→orders) survives; only the
    * fact→dim edge becomes skewed, which is where the hot-key shuffle
    * lives.
    */
  private def scaleFact(s: SparkSession, d: String, k: Int, table: String,
                        shiftCols: Seq[String],
                        skew: Option[String], hotDen: Int): DataFrame = {
    val base = if (table == "events") Tables.events(s, d)
               else Tables.load(s, d, table)
    val reps = (0 until k).map { r =>
      if (r == 0) base
      else shiftCols.foldLeft(base)((df, c) =>
        df.withColumn(c, col(c) + lit(r * Off)))
    }
    val scaled = reps.reduce(_ unionByName _)
    skew.fold(scaled) { hotCol =>
      scaled.withColumn(hotCol,
        when(pmod(xxhash64(col(shiftCols.head), col(hotCol)), lit(hotDen)) === 0,
          lit(0L).cast(scaled.schema(hotCol).dataType))
          .otherwise(col(hotCol)))
    }
  }

  /** (table, spine columns shifted per replica, skew-mode hot FK). */
  private val factTables = Seq(
    ("orders",   Seq("o_orderkey"), "o_custkey"),
    ("lineitem", Seq("l_orderkey"), "l_suppkey"),
    ("events",   Seq("event_id"),   "user_id"))

  private val dimTables = Seq("region", "nation", "customer", "supplier", "part")

  /** The documents/embeddings family whose fan-out claims are under test. */
  private val family = Seq(
    "dedup_near", "dedup_minhash", "dedup_cluster", "dedup_ngram",
    "dedup_simhash", "graph_components_hist", "dedup_embed", "sim_ann_lsh",
    "dedup_semantic", "split_leakage", "mm_dedup_phash",
    "mm_dedup_ahash", // round 11: pair-free hash-groupBy — expected flat
    "sim_ivf_pq", "text_quality_clf") // round 12, second batch

  /** The fact-side family (round 9): the top-cost keys over
    * lineitem/orders/events whose boundedness previously rested on plan
    * assertions alone — composites, window family, sessionize/funnel,
    * graph keys, as-of join.
    */
  private val factFamily = Seq(
    "agg_group_multi", "join_asof", "market_basket", "graph_bfs",
    "graph_pagerank", "rfm_segments", "q_waiting_suppliers",
    "q_shipping_priority", "concurrency_peak", "sessionize",
    "funnel_conversion", "win_ntile",
    // round 11: the hot-entity escape hatches next to their plain twins —
    // the skew50 leg reads sessionize vs sessionize_bucketed side by side
    "sessionize_bucketed", "agg_skew_salted",
    // round 12: the rest of the per-entity-serial family and their
    // day-bucketed twins (read skew legs as plain-vs-hatch pairs)
    "win_streaks", "streaks_bucketed",
    "event_transitions", "event_transitions_bucketed")

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: graft.ScaleRehearsal <srcSfDir> <outBase> <outJson> " +
        "[k1,k2,...] [skew|skew50|docs|fact30]")
    val src = args(0)
    val mode = if (args.length > 4) args(4) else ""
    require(Seq("", "skew", "skew50", "docs", "fact30").contains(mode),
      s"unknown mode: $mode")
    // skew50 (round 11, verdict item 1): the 25% leg measured a constant
    // ~0.9-1.5× penalty; the HOTTER fraction is where per-entity-serial
    // plans (sessionize's one-task user sort) must diverge from their
    // pre-split twins (sessionize_bucketed) — the row that proves the
    // escape hatch earns its keep.
    val skewMode = mode.startsWith("skew")
    val hotDen = if (mode == "skew50") 2 else 4 // hot fraction = 1/hotDen
    // docs mode (round 10): documents/embeddings family ONLY — the ×30
    // point for the dedup/ANN keys; fact30 (round 11, verdict item 6):
    // the fact-family ×30 point (fixtures are MBs — the round-10 "×30
    // doesn't fit" was dedup_ngram's shuffle spill, since fixed, not
    // input volume). Mode dirs must not masquerade as full uniform dirs
    // (each carries only its family's tables), so every mode gets its
    // own tree + JSON.
    val docsMode = mode == "docs"
    val fact30Mode = mode == "fact30"
    val factsOnly = skewMode || fact30Mode
    // mode corpora land in their own directory tree: a mode run must
    // never silently poison a uniform run's cached x<k> tables
    val outBase = if (mode.isEmpty) args(1) else args(1) + "-" + mode
    // the JSON path gets the same suffix discipline: a mode run invoked
    // with the default path must never silently overwrite the uniform
    // SCALECHECK.json (the EDGECHECK overwrite-trap class, round-9 ADVICE)
    // the mode token is checked on the BASENAME only (round-10 advice): a
    // path like /docs/SCALECHECK.json must still get the suffix, or a mode
    // run silently overwrites the uniform record — the trap this guards.
    // Token match is EXACT on '_'/'.' segments (round-11 advice): substring
    // containment let mode=skew pass against SCALECHECK_skew50.json and
    // silently overwrite the skew50 record — the very trap class again
    val outJsonTokens = new java.io.File(args(2)).getName.toLowerCase
      .split("[_.]").toSet
    val outJson =
      if (mode.nonEmpty && !outJsonTokens.contains(mode)) {
        val dot = args(2).lastIndexOf('.')
        if (dot > 0) args(2).substring(0, dot) + "_" + mode + args(2).substring(dot)
        else args(2) + "_" + mode
      } else args(2)
    val scales = if (args.length > 3) args(3).split(",").map(_.toInt).toSeq
                 else Seq(1, 3, 10)
    val spark = GraftSession("graft-scale-rehearsal")

    // spill telemetry (round 14, verdict item 7): cumulative task-level
    // disk/memory spill, read as per-key deltas by timeKeys — the ×100
    // docs leg's "no hidden spill blow-up" evidence (the ×30 dedup_ngram
    // lesson was 65 GB of SILENT spill; this makes that class visible in
    // every future rehearsal row)
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    val spillMem = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          spillDisk.addAndGet(m.diskBytesSpilled)
          spillMem.addAndGet(m.memoryBytesSpilled); ()
        }
      }
    })

    val sb = new StringBuilder
    sb.append("{\"src\":\"").append(src).append("\"")
    if (skewMode) sb.append(s""",\"mode\":\"$mode\",\"hot_frac\":${1.0 / hotDen}""")
    if (docsMode) sb.append(",\"mode\":\"docs\"")
    if (fact30Mode) sb.append(",\"mode\":\"fact30\"")
    sb.append(",\"scales\":{")
    scales.zipWithIndex.foreach { case (k, si) =>
      val dir = s"$outBase/x$k"
      if (!factsOnly) {
        scaleDocuments(spark, src, k).write.mode("overwrite")
          .parquet(s"$dir/documents.parquet")
        scaleEmbeddings(spark, src, k).write.mode("overwrite")
          .parquet(s"$dir/embeddings.parquet")
      }
      if (!docsMode) {
        // fact side: re-keyed ×k replicas; dims copied unscaled
        factTables.foreach { case (t, cols, hotCol) =>
          scaleFact(spark, src, k, t, cols,
            if (skewMode) Some(hotCol) else None, hotDen).write.mode("overwrite")
            .parquet(s"$dir/$t.parquet")
        }
        dimTables.foreach { t =>
          Tables.load(spark, src, t).write.mode("overwrite")
            .parquet(s"$dir/$t.parquet")
        }
      }

      val nLi = if (docsMode) 0L
                else spark.read.parquet(s"$dir/lineitem.parquet").count()
      val nDocs = if (factsOnly) 0L
                  else spark.read.parquet(s"$dir/documents.parquet").count()
      System.err.println(s"[scale] x$k: $nDocs docs, $nLi lineitems" +
        (if (skewMode) s" (skewed, hot_frac=${1.0 / hotDen})" else "") +
        (if (docsMode) " (docs family only)" else "") +
        (if (fact30Mode) " (fact family only)" else ""))

      // fan-out artifacts first (timed separately, same as Bench's
      // derived_s discipline — their cost would otherwise land on the
      // first consumer key); facts-only modes touch no document artifacts
      val t0 = System.nanoTime()
      val nBandPairs = if (factsOnly) 0L
        else operators.Derived.bandPairs(spark, dir).count()
      val nShPairs = if (factsOnly) 0L
        else operators.Derived.shinglePairStats(spark, dir).count()
      val derivedS = (System.nanoTime() - t0) / 1e9

      def timeKeys(keys: Seq[String]): String = keys.map { key =>
        val fn = SparkEntry.queries(key)
        val spill0 = (spillDisk.get, spillMem.get)
        val t = System.nanoTime()
        val rows = fn(spark, dir).count()
        val sec = (System.nanoTime() - t) / 1e9
        // listener events drain asynchronously; waitUntilEmpty is the
        // deterministic drain (round-15 ADVICE: the old fixed 200 ms sleep
        // was racy AND added 200 ms × keys of dead wall time). A timeout
        // only degrades attribution — the telemetry is a cap-audit
        // signal, not an exact ledger.
        org.apache.spark.GraftListenerDrain.drain(spark.sparkContext, 5000L)
        val dMb = (spillDisk.get - spill0._1) / 1048576
        val mMb = (spillMem.get - spill0._2) / 1048576
        System.err.println(f"[scale]   x$k $key%-22s rows=$rows%-9d ${sec}%.2f s" +
          (if (dMb + mMb > 0) s" spill_disk=${dMb}MB spill_mem=${mMb}MB" else ""))
        f""""$key":{"rows":$rows,"sec":$sec%.3f,"spill_disk_mb":$dMb,"spill_mem_mb":$mMb}"""
      }.mkString(",")
      val keyJson = if (factsOnly) "" else timeKeys(family)
      val factJson = if (docsMode) "" else timeKeys(factFamily)
      sb.append(s""""x$k":{"n_docs":$nDocs,"n_lineitem":$nLi,"band_pairs":$nBandPairs,""")
        .append(f""""shingle_pair_stats":$nShPairs,"derived_s":$derivedS%.3f,""")
        .append(s""""keys":{$keyJson},"fact_keys":{$factJson}}""")
      if (si < scales.size - 1) sb.append(",")
    }
    sb.append("}}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), sb.toString)
    println(sb.toString)
    spark.stop()
  }
}
