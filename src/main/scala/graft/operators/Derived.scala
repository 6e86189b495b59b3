package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Materialize-once seam for shared derived datasets (the
  * materialized-intermediate pattern a 100 TB pipeline runs as a matter of
  * course: candidate generation is computed ONCE and persisted, and every
  * downstream stage — clustering, keeper selection, calibration, graph
  * health — scans the persisted artifact instead of re-deriving it).
  *
  * Under per-key bench/verify isolation the six minhash-family keys each
  * re-derived shingles→minhash→bands→bandPairs from the raw corpus (~8-10 s
  * apiece at sf0.1 — the round-6 verdict's "one pipeline re-derived five
  * times"). The prefix is deterministic (md5-derived hash family, no RNG),
  * so materializing it to parquet once per (sf dir) and scanning it is
  * plan-equivalent; the parquet round-trip of (a bigint, b bigint, band int)
  * is exact. Each build records its self time (`buildSeconds`):
  * `graft.Bench` lets an artifact build on first use inside its consumer
  * key, reports the build's self time under `derived_s` and takes it out
  * of that key's time, so per-key numbers stay comparable and the
  * derivation cost stays visible rather than landing on whichever
  * consumer happens to run first.
  *
  * The artifact lives under java.io.tmpdir, namespaced by PID (no
  * cross-process reuse — each driver run derives afresh, so a stale file
  * from an older build can never leak into a verify run) and keyed by the
  * canonical fixture path (sf0.001 and sf0.1 artifacts coexist).
  */
object Derived {

  // Future-valued memo, NOT computeIfAbsent(build): the build must run
  // OUTSIDE the map's structural lock because (a) chained artifacts
  // re-enter dataset() from inside a build (shinglePairStats derives from
  // hashedShingles) and a nested computeIfAbsent on a same-bin key is
  // forbidden by the CHM contract (observed as deadlock risk), and (b) a
  // multi-second parquet write inside a bin lock would stall unrelated
  // same-bin artifacts. putIfAbsent decides ONE winner per key; losers
  // block on the future (never on a half-written file — the path is
  // published only after write() returns); a failed build removes its
  // future so the next caller retries instead of caching the failure.
  // A completed cell holds (artifact path, build self seconds).
  private val paths = new java.util.concurrent.ConcurrentHashMap[
    (String, String), java.util.concurrent.CompletableFuture[(String, Double)]]()

  // wall nanos of the builds nested inside the current thread's build, so
  // each build's self time excludes the artifacts it triggers
  private val nestedNanos = new ThreadLocal[Long] { override def initialValue() = 0L }

  private lazy val root: java.io.File = {
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-derived-${ProcessHandle.current().pid()}")
    // tmp hygiene: drop the whole per-PID artifact tree on clean JVM exit
    // (artifacts are per-process by design — see scaladoc — so nothing
    // can still want them)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(dir)
    }))
    dir
  }

  def dataset(s: SparkSession, d: String, name: String)(build: => DataFrame): DataFrame = {
    val key = (new java.io.File(d).getCanonicalPath, name)
    val fut = new java.util.concurrent.CompletableFuture[(String, Double)]()
    val prior = paths.putIfAbsent(key, fut)
    val cell = if (prior == null) {
      val outerNested = nestedNanos.get
      nestedNanos.set(0L)
      val t0 = System.nanoTime()
      try {
        val dir = new java.io.File(root,
          s"$name-${java.lang.Integer.toHexString(key._1.hashCode)}")
        build.write.mode("overwrite").parquet(dir.getPath)
        fut.complete((dir.getPath, (System.nanoTime() - t0 - nestedNanos.get) / 1e9))
      } catch {
        case t: Throwable =>
          fut.completeExceptionally(t)
          paths.remove(key, fut) // next caller rebuilds; waiters see t
          throw t
      } finally nestedNanos.set(outerNested + System.nanoTime() - t0)
      fut
    } else prior
    val p = try cell.join()._1
    catch { // unwrap so callers see the build's own exception
      case e: java.util.concurrent.CompletionException if e.getCause != null =>
        throw e.getCause
    }
    // through the schema cache: a repeat read of the artifact starts no
    // schema-inference job while the key is being built
    graft.Tables.read(s, p)
  }

  /** Self seconds of every artifact built so far for dir `d`, by name: a
    * build's wall time less the builds nested inside it.
    */
  def buildSeconds(d: String): Map[String, Double] = {
    val dir = new java.io.File(d).getCanonicalPath
    paths.asScala.iterator.collect {
      case ((`dir`, name), f) if f.isDone && !f.isCompletedExceptionally => name -> f.join()._2
    }.toMap
  }

  /** THE near-dup candidate artifact: capped band-join pairs
    * (a, b, band) from TextOps.bandPairs(TextOps.minhashBands(…)) —
    * single definition, single derivation, six consumers
    * (dedup_minhash, dedup_cluster, dedup_keep_best, sim_minhash_est,
    * graph_triangles, graph_components_hist).
    */
  def bandPairs(s: SparkSession, d: String): DataFrame =
    dataset(s, d, "band_pairs")(TextOps.bandPairs(TextOps.minhashBands(s, d)))

  /** The hashed shingle index (doc_id, sh — 2 longs/row): the common
    * prefix of the exact near-dup family and the decontamination audits
    * (dedup_near, sim_containment, split_leakage, corpus_decontam,
    * eval_coverage, sim_minhash_est's exact sets).
    */
  def hashedShingles(s: SparkSession, d: String): DataFrame =
    dataset(s, d, "hashed_shingles")(TextOps.hashedShinglesBuild(s, d))

  /** Distinct raw 3-word shingles (doc_id, shingle string) — the common
    * prefix of hashedShingles, the minhash band signatures (bandPairs)
    * and sim_minhash_est's signature stage (round 17: previously derived
    * three times per run). Strings round-trip parquet exactly.
    */
  def shingles(s: SparkSession, d: String): DataFrame =
    dataset(s, d, "shingles")(TextOps.shinglesBuild(s, d))

  /** Per-(doc_id, seed) minhash values (3 ints/longs per row, 16 seeds) —
    * the md5 fold shared by the band-signature derivation (bandPairs via
    * minhashBands) and sim_minhash_est's per-doc signature arrays
    * (round 17: the estimator re-ran the 16-seed fold per run). Chained
    * derivation: builds FROM the shingles artifact.
    */
  def minhashSigs(s: SparkSession, d: String): DataFrame =
    dataset(s, d, "minhash_sigs")(TextOps.minhashSigsBuild(s, d))

  /** CCNet bigram-LM surprisal scores (doc_id, n_bigrams, sum_bits,
    * ppl_bits_x100 — exact BIGINTs): THE text_perplexity pipeline,
    * consumed by text_perplexity and quality_ccnet_bucket (round 17:
    * both previously re-trained the bigram LM and re-scored the corpus).
    */
  def pplScores(s: SparkSession, d: String): DataFrame =
    dataset(s, d, "ppl_scores")(TextOps.pplScoresBuild(s, d))

  /** Verified candidate pairs with exact intersection/sizes (a, b, i, na,
    * nb — 5 longs/row): dedup_near's machinery, consumed verbatim by
    * sim_containment and split_leakage. Derives FROM the hashed-shingle
    * artifact (chained materialization).
    */
  def shinglePairStats(s: SparkSession, d: String): DataFrame =
    dataset(s, d, "shingle_pair_stats")(TextOps.shinglePairStatsBuild(s, d))

  /** The capped SRP-LSH bucket-key table (vec_id, band, bucket — 3
    * longs/row): two-band sign-projection signatures bucketed on the
    * corpus-scaled low-bit width, hot buckets dropped (see
    * VectorOps.lshCappedBuild). Round 12: knn_ann previously re-derived
    * the signature fold + bucket census dedup_embed had just built —
    * single definition, single derivation, two consumers.
    */
  def lshCapped(s: SparkSession, d: String): DataFrame =
    dataset(s, d, "lsh_capped")(VectorOps.lshCappedBuild(s, d))

  /** The validated embedding base (vec_id, embedding array<double>, label):
    * non-NULL, full 64 dims, non-zero, pk-deduped — VectorOps.emb's
    * validation gate, materialized ONCE per sf dir (round 17). Every
    * vector-family key previously re-ran the gate per emb() OCCURRENCE —
    * sim_ivf_pq inlines emb eight times, so one key re-scanned the raw
    * parquet and re-paid the dropDuplicates exchange eight times (76
    * Exchange nodes in its round-16 plan). Doubles round-trip parquet
    * exactly, so consumers are value-identical. At 100 TB this is the
    * ingest-validation table a pipeline materializes anyway — queries run
    * on the validated store, not the raw drop zone.
    */
  def validEmb(s: SparkSession, d: String): DataFrame =
    dataset(s, d, "valid_emb")(VectorOps.validEmbBuild(s, d))

  /** Near-dup duplicate-cluster labels (doc_id, label = min id in
    * component): connectedComponents over the capped bandPairs candidate
    * graph, materialized ONCE (round 17). dedup_cluster, dedup_keep_best
    * and graph_components_hist each re-ran the full label-propagation
    * loop (~3 keyed-shuffle rounds + convergence checks EACH) over the
    * same artifact; the labels are exact longs, so the parquet round-trip
    * is value-identical. Same 100 TB posture as bandPairs: cluster
    * assignment is computed once and every decision stage scans it.
    */
  def components(s: SparkSession, d: String): DataFrame =
    dataset(s, d, "components")(
      TextOps.connectedComponents(bandPairs(s, d).select("a", "b").distinct()))

  /** The distinct customer↔supplier trade edge list (src, dst — ONE
    * direction; consumers fan both directions in-row), materialized ONCE
    * (round 17): graph_pagerank / graph_degrees / graph_bfs each re-ran
    * orders ⋈ lineitem + distinct per key — and then UNIONED the same
    * subtree twice to emit both directions, doubling the join work
    * inside one plan. Edge ids are exact longs.
    */
  def tradeEdges(s: SparkSession, d: String): DataFrame =
    dataset(s, d, "trade_edges")(GraphOps.tradeEdgesBuild(s, d))
}
