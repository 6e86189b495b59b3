package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._

/** §2.11 vector-similarity operators over `embeddings` (SURVEY.md;
  * driver-mandated ANN/near-dup extensions).
  *
  * Precision discipline: vectors are float→double cast once at scan
  * (§1.4.2); dot products fold left-to-right over the 64 dims so Spark and
  * DuckDB hit identical IEEE operation sequences; ranking keys are
  * round(cos, 6) with vec_id tie-break so top-k selection can't flip on a
  * last-ulp divergence; displayed similarity is the ≈-rule round(·, 4).
  *
  * Scale design: brute-force paths are query-set × corpus (never corpus²
  * unless the operator is explicitly all-pairs); the 100 TB path is
  * `sim_ann_lsh` — sign-random-projection buckets turn top-k into a
  * per-bucket local search, the IVF/LSH pattern.
  */
object VectorOps {

  /** dot(a, b): left-to-right accumulation (IEEE-stable across engines),
    * executed by the codegen'd `vec_dot` Expression (graft.plans.DotProduct)
    * — bit-identical to the interpreted HOF fold it replaces, ~an order of
    * magnitude faster on the pairwise hot paths.
    */
  private def dot(a: String, b: String): Column = expr(s"vec_dot($a, $b)")

  private def cos(a: String, b: String): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Exact 6-dp mean of a 1e-6-scaled integer sum: half-away rounding in
    * INTEGER arithmetic ((2s ± n) DIV 2n — both engines' integer division
    * truncates toward zero, verified), then ONE double division by 1e6.
    * round(double, 6) instead snaps engine-divergently the moment s/n
    * lands on an exact half-grid point (bitten on the NULL-dense edge
    * fixture, where filtered group sizes shifted onto a boundary).
    * Requires the posexplode scalar to be named `col`.
    */
  private val microMeanAgg: Column = {
    val sm = "sum(CAST(round(col * 1000000, 0) AS BIGINT))"
    expr(s"CAST((2 * $sm + IF($sm >= 0, count(*), -count(*))) DIV (2 * count(*)) AS DOUBLE) / 1000000.0")
  }


  /** Selection-stable ranking key (see class doc). */
  private def rankKey(c: Column): Column = round(c, 6)

  private def emb(s: SparkSession, d: String) = {
    // round 17: the validation gate below is materialized ONCE per sf dir
    // (Derived.validEmb) and every emb() occurrence scans the artifact —
    // keys like sim_ivf_pq inline emb eight times and previously re-paid
    // the raw scan + dropDuplicates exchange each time.
    Derived.validEmb(s, d)
  }

  /** The validation-gate build behind Derived.validEmb.
    * VALID vectors only — non-NULL, full 64 dims, non-zero: cosine is
    * undefined at norm 0 (an ANSI divide-by-zero in Spark, NaN/Inf in
    * DuckDB), and a short/NULL embedding is ingest corruption, not data.
    * This is the validation gate a production embedding table runs at
    * ingest; every oracle mirrors it by shadowing `embeddings` with the
    * same predicate (validEmbCte).
    * one-file scan → one partition: fan out so pair joins / signature
    * folds use every core (no-op on already-parallel inputs).
    * dropDuplicates (= DISTINCT *): vec_id is the entity pk — a
    * re-ingested duplicate row must not double-weight centroids or fan
    * probe joins (the dupkeys edge fixture caught sim_ivf picking
    * duplicate "top-2" centroids). One exchange over the (small)
    * embeddings table; mirrored by DISTINCT in validEmbCte.
    */
  private[operators] def validEmbBuild(s: SparkSession, d: String): DataFrame =
    fanout(embeddings(s, d).filter(
      col("embedding").isNotNull && size(col("embedding")) === 64 &&
        expr("array_max(transform(embedding, x -> abs(x))) > 0"))
      .dropDuplicates())

  /** Vectors with their norm precomputed ONCE — an all-pairs scan that
    * recomputes sqrt(dot(v,v)) per pair does 3× the flops for nothing.
    * norm = sqrt(fold dot), so norm products are bit-identical to the
    * inline sqrt(dot(a,a))*sqrt(dot(b,b)) the oracle uses.
    */
  private def withNorm(s: SparkSession, d: String, id: String, vec: String,
                       norm: String): DataFrame =
    emb(s, d).select(col("vec_id").as(id), col("embedding").as(vec),
      col("label"), sqrt(dot("embedding", "embedding")).as(norm))

  /** Coarse-quantizer size, scaled to the corpus: k = max(8, ceil(sqrt(n/32)))
    * — the classic IVF sizing (k proportional to sqrt n). Cluster size and
    * centroid count then both grow as sqrt n, so the two corpus-proportional
    * costs stay BALANCED at n^1.5: brute nearest-centroid assignment is
    * n*k and within-cluster pair work (SemDeDup's sum of |cluster|^2) is
    * n^2/k — a k linear in n would fix the pair cost but make assignment
    * itself quadratic (measured: the 10x rehearsal with k = n/250 spent
    * its win on the 80-way crossJoin). Exactly 8 at every gate fixture
    * size (<= 2000 valid vectors -> sqrt(62.5) rounds up to 8), so oracle
    * results are unchanged there; the oracle mirrors the same formula
    * over the mirrored valid set.
    */
  private def coarseK(base: DataFrame): Long =
    math.max(8L, math.ceil(math.sqrt(base.count() / 32.0)).toLong)

  /** The same k, as oracle SQL over the mirrored valid set (interpolated
    * as `$ck` inside the sim_ivf / dedup_semantic oracles).
    */
  private val ck =
    "(SELECT greatest(8, CAST(ceil(sqrt(count(*) / 32.0)) AS BIGINT)) FROM vemb)"


  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "vec_centroid_label" -> ((s, d) =>
      // per-label mean embedding — the class-prototype primitive (nearest-
      // centroid classification, per-class drift monitoring, prototype
      // seeding for kmeans). ONE (label, dim) keyed aggregate after a
      // posexplode; centroid state is O(labels · dims) regardless of
      // corpus size — the same update shape as cluster_kmeans' Lloyd
      // step, emitted as exploded (label, pos, m) rows so the output is
      // engine-portable without array re-assembly. Means use the EXACT
      // scaled-integer sum discipline (round(x·10⁶) → BIGINT, sum, one
      // final divide): a double sum accumulates in partition order and
      // cannot be hash-compared cross-engine.
      emb(s, d).select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos").cast(LongType).as("pos"))
        .agg(microMeanAgg.as("m"),
          count(lit(1)).as("n_vecs"))
        .orderBy("label", "pos")),

    "vec_quantize" -> ((s, d) =>
      // int8 scalar quantization — the embedding-compression step a 100 TB
      // vector pipeline runs before ANN indexing (4× smaller than float32,
      // 8× than float64). Per-vector max-abs scale, q_i = round(x_i·127/s),
      // reconstruction error bounded by s/254 per element. Everything is
      // per-row higher-order-function work (transform/zip_with/aggregate)
      // — zero shuffles, fully codegen-friendly, no UDF. Both engines run
      // the same IEEE double ops in the same order, so q and the error
      // stats agree bit-for-bit; round() is half-away-from-zero for
      // doubles in both.
      emb(s, d)
        .withColumn("scale",
          expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
        .filter(col("scale") > 0)
        .withColumn("q",
          expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / scale) AS BIGINT))"))
        .select(
          col("vec_id"),
          r4(col("scale")).as("scale_r"),
          expr("aggregate(q, 0L, (a, x) -> a + x)").as("q_sum"),
          expr("CAST(array_max(transform(q, x -> abs(x))) AS BIGINT)").as("q_absmax"),
          r4(expr(
            "array_max(zip_with(embedding, q, (x, qi) -> abs(CAST(x AS DOUBLE) - CAST(qi AS DOUBLE) * scale / 127.0)))"))
            .as("max_err"))
        .orderBy("vec_id")),
    "sim_cosine_topk" -> ((s, d) => {
      val q = withNorm(s, d, "q_id", "qv", "q_norm").filter(col("q_id") < 10)
        .select("q_id", "qv", "q_norm")
      val c = withNorm(s, d, "vec_id", "cv", "c_norm").select("vec_id", "cv", "c_norm")
      // broadcast the 10-row query side: corpus streams map-side, no shuffle
      val scored = c.join(broadcast(q), col("q_id") =!= col("vec_id"))
        .withColumn("cos", dot("qv", "cv") / (col("q_norm") * col("c_norm")))
      val w = Window.partitionBy("q_id")
        .orderBy(rankKey(col("cos")).desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("vec_id"), (r4(col("cos")) + lit(0.0)).as("cos_sim"))
        .orderBy("q_id", "rank")
    }),

    "vec_pq" -> ((s, d) => {
      // product quantization (Jégou et al.) — THE vector-compression
      // layout for ANN at 100 TB: split each 64-dim vector into 4
      // subvectors of 16 dims (FULL coverage — a round-7 review caught
      // the first cut quantizing only dims 1-16 and silently ignoring
      // the rest), learn a k=4 codebook per subspace (cluster_kmeans'
      // exact Lloyd machinery, seeds vec_id < 4), and store each vector
      // as 4 small codes (here 8 bits total vs 256 float bytes).
      // Distances against a query then come from 4 tiny
      // lookup tables instead of full-vector arithmetic. Scale shape:
      // codebooks are O(nsub·k·dsub) — broadcast everywhere; assignment
      // is map-side; the update step is one (sub, cid, dim) keyed
      // aggregate in the same exact scaled-integer arithmetic as
      // cluster_kmeans (iterated inputs may not ride on double summation
      // order). Reconstruction error is emitted per vector in exact
      // micro-units so the compression-quality audit is oracle-checkable.
      val e = pqSubvectors(s, d)
      val cb = pqUpdate(pqAssign(e, pqSeed(e)))
      pqAssign(e, cb)
        .groupBy("vec_id")
        .agg(
          max(when(col("sub") === 0, col("cid"))).as("code0"),
          max(when(col("sub") === 1, col("cid"))).as("code1"),
          max(when(col("sub") === 2, col("cid"))).as("code2"),
          max(when(col("sub") === 3, col("cid"))).as("code3"),
          // reconstruction error ENTIRELY in integer micro-units: quantize
          // each element and the matched codeword element to 6dp integers,
          // square the differences, sum as BIGINT — the raw double d2
          // differs across engines by ulps, and micro-rounding a 4-term
          // double sum flips the 4th decimal; the integer path cannot
          sum(expr("""aggregate(
                zip_with(sv, cvec, (a, b) ->
                  CAST(round(a * 1000000, 0) AS BIGINT)
                    - CAST(round(b * 1000000, 0) AS BIGINT)),
                CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"""))
            .as("sq_micro"))
        .withColumn("recon_err",
          r4(col("sq_micro").cast(DoubleType) / 1000000000000.0))
        .drop("sq_micro")
        .orderBy("vec_id")
    }),

    "cluster_kmeans" -> ((s, d) => {
      // k-means (k=4, TWO unrolled Lloyd iterations, deterministic seeds =
      // vec_id < 4) — the training-loop shape on top of the ANN family.
      // Per iteration: broadcast the k centroids, one map-side distance
      // pass (codegen'd vec_dot via d² = |v|² − 2·v·c + |c|², |v|²
      // precomputed once, clamped ≥0 against float cancellation), argmin
      // on the 6dp-rounded distance with centroid-id tie-break (sim_ivf's
      // selection-stable ranking), then the UPDATE step as ONE
      // (cluster, dim) keyed aggregate re-assembled into arrays. Centroid
      // state stays O(k·dim) everywhere; the corpus is touched in straight
      // map passes; nothing is driver-side. Per-dim means are rounded to
      // 6dp so the next iteration's inputs are engine-identical doubles.
      val e = emb(s, d).select(col("vec_id"), col("embedding"),
        dot("embedding", "embedding").as("vv"))
      def assign(cent: DataFrame): DataFrame = {
        val scored = e.crossJoin(broadcast(cent))
          .withColumn("d2", greatest(
            col("vv") - lit(2.0) * expr("vec_dot(embedding, cvec)") + col("cc"),
            lit(0.0)))
        // argmin WITHOUT a window (round 17, the pqAssign rewrite): one
        // partial-aggregated min(struct(...)) per vec_id — same 6dp rank
        // key and cid tie-break as the old row_number pass, one exchange
        // of one row per vector instead of Exchange+Sort+Window over the
        // k-fanned candidates. (dk, cid) is unique per group, so the
        // payload fields (raw d2, embedding) never drive a comparison.
        scored.groupBy("vec_id")
          .agg(min(struct(rankKey(col("d2")).as("dk"), col("cid"),
            col("d2"), col("embedding"))).as("w"))
          .select(col("vec_id"), col("w.embedding").as("embedding"),
            col("w.cid").as("cid"), col("w.d2").as("d2"))
      }
      def update(assigned: DataFrame): DataFrame =
        // per-dim means over EXACT scaled-integer sums, not avg(double):
        // a double sum accumulates in partition order, and a mean landing
        // within an ulp of a rounding boundary would flip a centroid
        // coordinate — which the next Lloyd iteration then AMPLIFIES into
        // different assignments (single-shot r4 outputs tolerate that ulp;
        // an iterated input cannot). round(x·10⁶) to BIGINT is exact and
        // order-free; the final divide runs on exact integers.
        assigned.select(col("cid"), posexplode(col("embedding")))
          .groupBy("cid", "pos")
          .agg(microMeanAgg.as("m"))
          .groupBy("cid")
          .agg(expr("transform(sort_array(collect_list(struct(pos, m))), t -> t.m)")
            .as("cvec"))
          .withColumn("cc", dot("cvec", "cvec"))
      val c0 = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"), col("vv").as("cc"))
      val a2 = assign(update(assign(c0)))
      a2.groupBy(col("cid").as("cluster_id"))
        .agg(count(lit(1)).as("n_vecs"),
          (r4(avg(sqrt(col("d2")))) + lit(0.0)).as("avg_dist"))
        .orderBy("cluster_id")
    }),

    "knn_label" -> ((s, d) => {
      // FIXED-SIZE query set (20 held-out vectors), not a corpus fraction:
      // the broadcast side must stay O(1) in the corpus so the plan holds at
      // 100 TB — a %-of-corpus query set would grow the broadcast linearly
      // with the data and OOM every executor (round-2 verdict). The corpus
      // side streams map-side against the 20-row broadcast: no shuffle.
      val q = withNorm(s, d, "q_id", "qv", "q_norm").filter(col("q_id") < 20)
        .select(col("q_id"), col("qv"), col("q_norm"), col("label").as("true_label"))
      val c = withNorm(s, d, "vec_id", "cv", "c_norm").filter(col("vec_id") >= 20)
      val w = Window.partitionBy("q_id")
        .orderBy(rankKey(col("cos")).desc, col("vec_id"))
      val top5 = c.crossJoin(broadcast(q))
        .withColumn("cos", dot("qv", "cv") / (col("q_norm") * col("c_norm")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
      val wv = Window.partitionBy("q_id")
        .orderBy(col("votes").desc, col("label"))
      top5.groupBy("q_id", "true_label", "label")
        .agg(count(lit(1)).as("votes"))
        .withColumn("vr", row_number().over(wv))
        .filter(col("vr") === 1)
        .select(col("q_id"), col("true_label"), col("label").as("pred_label"), col("votes"))
        .orderBy("q_id")
    }),

    "knn_ann" -> ((s, d) => {
      // ANN-backed kNN (round-10 verdict item 7): knn_label's 5-NN
      // majority vote with the brute-force corpus scan replaced by the
      // dedup_embed two-band SRP-LSH shortlist + exact cosine rerank.
      // knn_label is the exact exemplar and stays brute-force by design;
      // THIS is the plan a pipeline runs at 100 TB, where a per-query
      // corpus scan is the cost driver: each query probes only its two
      // band buckets (expected ≤125 members, hot buckets capped at 4×
      // expected — a bucket that hot is non-discriminative geometry, not
      // neighborhood), then reranks the shortlist exactly. Label
      // agreement with the brute-force exemplar is spec-gated ≥95% on
      // the planted-structure fixture (PlantedRecallSpec) — the index
      // calibration a production pipeline runs before pointing the
      // parameters at the full corpus. The signature fold + bucket
      // census is the SHARED Derived.lshCapped artifact (round 12:
      // knn_ann previously re-derived the table dedup_embed had just
      // built — three extra passes over the signature stage per run).
      val capped = Derived.lshCapped(s, d)
      // query side is FIXED-SIZE (20 held-out ids × 2 bands — the
      // knn_label broadcast discipline); the corpus streams map-side
      // against it, so the probe is one shuffle-free pass
      val qk = capped.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("band"), col("bucket"))
      val cand = capped.filter(col("vec_id") >= 20)
        .join(broadcast(qk), Seq("band", "bucket"))
        .select("q_id", "vec_id")
        .distinct() // OR-of-bands: one exact cosine per surviving pair
      val qv = withNorm(s, d, "q_id", "qv", "q_norm").filter(col("q_id") < 20)
        .select(col("q_id"), col("qv"), col("q_norm"), col("label").as("true_label"))
      val cv = withNorm(s, d, "vec_id", "cv", "c_norm")
        .select("vec_id", "cv", "c_norm", "label")
      val w = Window.partitionBy("q_id")
        .orderBy(rankKey(col("cos")).desc, col("vec_id"))
      val top5 = cand.join(cv.hint("merge"), "vec_id").join(broadcast(qv), "q_id")
        .withColumn("cos", dot("qv", "cv") / (col("q_norm") * col("c_norm")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
      val wv = Window.partitionBy("q_id")
        .orderBy(col("votes").desc, col("label"))
      top5.groupBy("q_id", "true_label", "label")
        .agg(count(lit(1)).as("votes"))
        .withColumn("vr", row_number().over(wv))
        .filter(col("vr") === 1)
        .select(col("q_id"), col("true_label"), col("label").as("pred_label"), col("votes"))
        .orderBy("q_id")
    }),

    "dedup_embed" -> ((s, d) => {
      // bucketed-exact embedding near-dup: top-20 most-similar candidate
      // pairs (a<b). Round 9 replaced the corpus² all-pairs scan (the last
      // user-callable quadratic plan, round-8 verdict) with the two-stage
      // shape sim_rerank demonstrates: (1) CANDIDATES from 2-band × 4-plane
      // sign-LSH buckets — the same md5-derived hyperplane family as
      // sim_ann_lsh, split into two bands so a near-dup pair only needs
      // to agree on ONE band (classic LSH banding: banding trades
      // precision for recall, exactly right for dedup) — then (2) EXACT
      // double-cosine rerank over the candidate set only. Candidate pair
      // work is Σ|bucket|² per band, never corpus²: the bucket bit-width
      // w scales with the valid-vector count (bandBitsCase — 2^w ≥ n/125,
      // the coarseK discipline) so expected bucket size stays ≤125 as the
      // corpus grows; n rides into the plan as a broadcast 1-row
      // aggregate, NOT a driver-side count() action. Pairs found by both
      // bands dedup through ONE distinct on bare (a, b) ids BEFORE the
      // vectors join back, so each surviving pair computes its cosine
      // once. Top-k selection goes through orderBy().limit() =>
      // TakeOrderedAndProject (per-partition heaps + tiny driver merge),
      // NOT a global single-partition window. The all-pairs formulation
      // survives only as the spec-side recall oracle (ExtensionSpec — the
      // role brute-force already plays in sim_ann_recall).
      // candidate keys come from the SHARED Derived.lshCapped artifact
      // (signature fold + bucket census + hot-bucket cap — see
      // lshCappedBuild); the self-join and the cand→vector join-backs
      // stay merge-locked here (round 10, the dedup_ngram 47586d3
      // discipline): every side is corpus-proportional, and the static
      // planner's post-aggregate size underestimates can pick a
      // broadcast AQE cannot demote.
      val capped = Derived.lshCapped(s, d)
      val cand = capped.as("x").join(capped.hint("merge").as("y"), Seq("band", "bucket"))
        .filter(col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
        .distinct()
      val va = withNorm(s, d, "a", "av", "a_norm").select("a", "av", "a_norm")
      val vb = withNorm(s, d, "b", "bv", "b_norm").select("b", "bv", "b_norm")
      val top = cand.join(va.hint("merge"), "a").join(vb.hint("merge"), "b")
        .withColumn("cos", dot("av", "bv") / (col("a_norm") * col("b_norm")))
        .select(col("a"), col("b"), col("cos"))
        .orderBy(rankKey(col("cos")).desc, col("a"), col("b"))
        .limit(20)
      val w = Window.orderBy(rankKey(col("cos")).desc, col("a"), col("b"))
      top.withColumn("rank", row_number().over(w)) // 20 rows — trivial window
        .select(col("rank"), col("a"), col("b"), (r4(col("cos")) + lit(0.0)).as("cos_sim"))
        .orderBy("rank")
    }),

    "sim_ivf" -> ((s, d) => simIvf(s, d)),

    "sim_ivf_pq" -> ((s, d) => {
      // IVF + PQ COMPOSED — the production ANN stack (the FAISS IVFPQ
      // shape): the coarse quantizer prunes the corpus to nprobe = 2
      // cells per query, PQ codes supply a COMPRESSED approximate
      // distance for everything in those cells (ADC: per candidate, 4
      // codebook lookups + precomputed query-subvector terms instead of
      // a 64-dim dot over raw floats — at 100 TB the raw vectors never
      // leave parquet for stage 1), and an exact cosine rerank touches
      // only the 10-deep shortlist. sim_ivf proves the cell pruning and
      // vec_pq the codebook learning; THIS key proves they COMPOSE —
      // same deterministic quantizers (first-coarseK centroids; one
      // Lloyd iteration from the vec_id < 4 seeds via the shared
      // pqAssign/pqUpdate machinery), so the whole three-stage pipeline
      // stays DuckDB-oracled end to end. The ADC score is summed in
      // exact micro-units (per-sub d2 is a deterministic L2R double fold
      // in both engines; micro-rounding each term before the BIGINT sum
      // removes double-summation-order hazard from the 4-term add), so
      // the shortlist is engine-exact, not just rank-key-stable. Scale
      // shape: codebook (4·4 rows) and query blocks broadcast; codes
      // and members are corpus-proportional and merge-locked; per-query
      // stage-1 work is |corpus|·nprobe/K candidates × 4 lookups.
      val base = withNorm(s, d, "vec_id", "v", "n").select("vec_id", "v", "n")
      val cents = withNorm(s, d, "c_id", "cv", "cn")
        .filter(col("c_id") < coarseK(base)).select("c_id", "cv", "cn")
      val casg = base.crossJoin(broadcast(cents))
        .withColumn("ccos", dot("v", "cv") / (col("n") * col("cn")))
        .select(col("vec_id"),
          struct((lit(0d) - rankKey(col("ccos"))).as("nk"), col("c_id")).as("sc"))
        .groupBy("vec_id")
        .agg(slice(sort_array(collect_list(col("sc"))), 1, 2).as("top2"))
      // casg and cb are NOT checkpointed (round 18): both subtrees are
      // deterministic, so inlining them into the one consumer job is
      // exact; AQE reuses the shuffle/broadcast stages at runtime where
      // the duplicated subtrees coincide, and dropping the two eager
      // materialization jobs A/B-measured −13% (6.77 → 5.88 s median,
      // interleaved ×3 isolated at sf0.1).
      val members = casg.select(col("vec_id"), expr("top2[0].c_id").as("cluster"))
      val probes = casg.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"),
          explode(expr("transform(top2, t -> t.c_id)")).as("cluster"))
      val e = pqSubvectors(s, d)
      val cb = pqUpdate(pqAssign(e, pqSeed(e)))
      val codes = pqAssign(e, cb).select(col("vec_id"), col("sub"), col("cid"))
      val qsub = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("sub"),
          col("sv").as("qsv"), col("vv").as("qvv"))
      val cand = members.join(broadcast(probes), Seq("cluster"))
        .filter(col("q_id") =!= col("vec_id"))
        .select("q_id", "vec_id").distinct()
      val adc = cand.join(codes.hint("merge"), "vec_id")
        .join(broadcast(cb), Seq("sub", "cid"))
        .join(broadcast(qsub), Seq("q_id", "sub"))
        .withColumn("d2s", greatest(
          col("qvv") - lit(2.0) * expr("vec_dot(qsv, cvec)") + col("cc"),
          lit(0.0)))
        .groupBy("q_id", "vec_id")
        .agg(sum(expr("CAST(round(d2s * 1000000, 0) AS BIGINT)")).as("ad2_micro"))
      val wShort = Window.partitionBy("q_id")
        .orderBy(col("ad2_micro"), col("vec_id"))
      val short = adc.withColumn("srn", row_number().over(wShort))
        .filter(col("srn") <= 10).select("q_id", "vec_id")
      val qv = withNorm(s, d, "q_id", "qv", "qn").filter(col("q_id") < 10)
        .select("q_id", "qv", "qn")
      val wTop = Window.partitionBy("q_id")
        .orderBy(rankKey(col("cos")).desc, col("vec_id"))
      short.join(base.hint("merge"), "vec_id").join(broadcast(qv), "q_id")
        .withColumn("cos", dot("qv", "v") / (col("qn") * col("n")))
        .withColumn("rank", row_number().over(wTop))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("rank"), col("vec_id"),
          (r4(col("cos")) + lit(0.0)).as("cos_sim"))
        .orderBy("q_id", "rank")
    }),

    "dedup_semantic" -> ((s, d) => {
      // SemDeDup (Abbas et al. 2023) — semantic dedup via cluster-bucketed
      // cosine: assign every vector to its nearest coarse centroid (the
      // sim_ivf deterministic quantizer: centroids = first 8 vectors), then
      // compare pairs ONLY within a cluster and drop the higher id of any
      // pair above the similarity threshold (min-id representative — the
      // same keep rule as the hash-dedup family). The clustering is the
      // entire scale story: k clusters cut candidate pairs from n²/2 to
      // Σ|cluster|²/2, and at 100 TB k grows with the corpus so cluster
      // size — and with it per-bucket pair fan-out — stays bounded (the
      // same bucket-cap discipline as bandPairs' LSH buckets). τ = 0.35 is
      // calibrated to the fixture's similarity tail (random embeddings —
      // max pair cos ≈ 0.48, so a production 0.9 would fire never and test
      // nothing); the THRESHOLD is fixture-specific, the plan is not.
      // Comparison runs on the 6dp rank key, so the verdict can't flip on
      // a last-ulp divergence.
      val base = withNorm(s, d, "vec_id", "v", "n").select("vec_id", "v", "n")
      val cents = withNorm(s, d, "c_id", "cv", "cn")
        .filter(col("c_id") < coarseK(base)).select("c_id", "cv", "cn")
      val assign = base.crossJoin(broadcast(cents))
        .withColumn("ccos", dot("v", "cv") / (col("n") * col("cn")))
        .select(col("vec_id"), col("v"), col("n"),
          struct((lit(0d) - rankKey(col("ccos"))).as("nk"), col("c_id")).as("sc"))
        .groupBy("vec_id")
        .agg(first(col("v")).as("v"), first(col("n")).as("n"),
          expr("sort_array(collect_list(sc))[0].c_id").as("cluster"))
        .localCheckpoint(true) // §19 C14: kept, the verdict branch re-derives it unless broadcast
      val a = assign.select(col("cluster"), col("vec_id").as("a"),
        col("v").as("av"), col("n").as("an"))
      val b = assign.select(col("cluster"), col("vec_id").as("b"),
        col("v").as("bv"), col("n").as("bn"))
      val dups = a.join(b, Seq("cluster")).filter(col("a") < col("b"))
        .withColumn("cos", dot("av", "bv") / (col("an") * col("bn")))
        .filter(rankKey(col("cos")) >= 0.35)
        .select(col("b").as("vec_id")).distinct()
        .withColumn("dup", lit(true))
      assign.select("vec_id", "cluster")
        .join(dups, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster"),
          coalesce(!col("dup"), lit(true)).as("keep"))
        .orderBy("vec_id")
    }),

    "sim_rerank" -> ((s, d) => {
      // two-stage ANN serving: an int8-quantized INTEGER-dot scan builds a
      // 10-candidate shortlist per query, then exact double cosine reranks
      // the shortlist to top-3 — the "compressed scan + exact rerank"
      // shape every production vector store runs (PQ/int8 stage-1 cuts
      // memory traffic 8×; stage-2 touches 10 rows per query, not the
      // corpus). Quantization is vec_quantize's exact formula (per-vector
      // max-abs scale, codes are BIGINTs → the stage-1 integer dot is
      // EXACT, no float-order hazard); the de-scaled approx score and the
      // stage-2 cosine rank on round(·,6) with vec_id tie-break. Queries
      // (10 held-out vectors) broadcast; the corpus streams map-side
      // through stage 1 — no shuffle bigger than 10 rows/query anywhere.
      val e0 = emb(s, d).select(col("vec_id"), col("embedding"))
        .withColumn("scale",
          expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
        .filter(col("scale") > 0)
        .withColumn("q",
          expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / scale) AS BIGINT))"))
      val qs = e0.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
          col("scale").as("q_s"), col("q").as("qq"))
      val cs = e0.filter(col("vec_id") >= 10)
        .select(col("vec_id"), col("embedding").as("cv"),
          col("scale").as("c_s"), col("q").as("cq"))
      val w1 = Window.partitionBy("q_id")
        .orderBy(rankKey(col("approx")).desc, col("vec_id"))
      val short = cs.crossJoin(broadcast(qs))
        .withColumn("idot",
          expr("aggregate(zip_with(qq, cq, (x, y) -> x * y), 0L, (a, x) -> a + x)"))
        .withColumn("approx",
          col("idot").cast(DoubleType) * col("q_s") * col("c_s") / lit(16129.0))
        .withColumn("srn", row_number().over(w1))
        .filter(col("srn") <= 10)
      val w2 = Window.partitionBy("q_id")
        .orderBy(rankKey(col("cos")).desc, col("vec_id"))
      short
        .withColumn("cos", dot("qv", "cv") / (sqrt(dot("qv", "qv")) * sqrt(dot("cv", "cv"))))
        .withColumn("rank", row_number().over(w2))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("rank"), col("vec_id"),
          (r4(col("cos")) + lit(0.0)).as("cos_sim"),
          (r4(col("approx")) + lit(0.0)).as("approx_sim"))
        .orderBy("q_id", "rank")
    }),

    "sim_ann_lsh" -> ((s, d) => {
      // sign-random-projection LSH: 8 md5-derived hyperplanes (parity of
      // the 60-bit md5 hash of plane*64+dim — engine-portable, so the whole
      // bucketed-ANN pipeline has a full DuckDB oracle; recall vs the
      // brute-force baseline is additionally property-tested). The 8-bit
      // signature is computed as an IN-ROW fold over the vector (no
      // explode/shuffle, deterministic left-to-right double accumulation) —
      // at 100 TB this is one narrow map pass, then candidates co-locate by
      // signature in a single shuffle.
      val sig = emb(s, d).select(col("vec_id"), col("embedding"),
        expr(lshSigSpark).as("sig"))
      val q = sig.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("sig").as("q_sig"), col("embedding").as("qv"))
      val c = sig.select(col("vec_id"), col("sig"), col("embedding").as("cv"))
      val w = Window.partitionBy("q_id")
        .orderBy(rankKey(col("cos")).desc, col("vec_id"))
      c.join(broadcast(q), col("q_sig") === col("sig") && col("q_id") =!= col("vec_id"))
        .withColumn("cos", cos("qv", "cv"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("rank"), col("vec_id"), (r4(col("cos")) + lit(0.0)).as("cos_sim"))
        .orderBy("q_id", "rank")
    }),

    "sim_ann_recall" -> ((s, d) => {
      // the ANN quality gate: recall@3 of the LSH-bucketed candidate
      // path against the exact brute-force ranking, per query — how a
      // pipeline validates its index parameters (planes/bands/nprobe)
      // BEFORE pointing them at the full corpus (the sketch-calibration
      // pattern of sim_minhash_est, applied to ANN). Signature, rank
      // key, and tie-break are shared verbatim with sim_ann_lsh /
      // sim_cosine_topk, so this audits THOSE paths, not a lookalike.
      // Plan: both rankings broadcast the same 10-row query side — the
      // exact side streams the corpus map-side (fixture-scale ground
      // truth; at 100 TB it runs over a held-out sample), the ANN side
      // joins on signature equality; the final recall join then touches
      // 3·|queries| rows.
      val sig = emb(s, d).select(col("vec_id"), col("embedding"),
        expr(lshSigSpark).as("sig"))
      val q = sig.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("sig").as("q_sig"),
          col("embedding").as("qv"))
      val c = sig.select(col("vec_id"), col("sig"), col("embedding").as("cv"))
      val w = Window.partitionBy("q_id")
        .orderBy(rankKey(col("cos")).desc, col("vec_id"))
      val exact = c.join(broadcast(q), col("q_id") =!= col("vec_id"))
        .withColumn("cos", cos("qv", "cv"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("q_id", "vec_id")
      val ann = c.join(broadcast(q),
          col("q_sig") === col("sig") && col("q_id") =!= col("vec_id"))
        .withColumn("cos", cos("qv", "cv"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
      exact.join(ann, Seq("q_id", "vec_id"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .withColumn("recall", ratio4("n_hit", "n_exact"))
        .orderBy("q_id")
    }),

    "mine_hard_negatives" -> ((s, d) => {
      // contrastive-training data prep: for each anchor, the top-3 most
      // similar vectors with a DIFFERENT label — the "hard negatives"
      // that make embedding models actually learn (random negatives are
      // too easy; same-label neighbors are false negatives). Same plan
      // posture as sim_cosine_topk: the fixed anchor set broadcasts with
      // its labels, the corpus streams map-side against the codegen'd
      // vec_dot, the label-mismatch predicate filters BEFORE ranking,
      // and per-anchor top-3 is a bounded window — no corpus shuffle.
      val q = withNorm(s, d, "q_id", "qv", "qn").filter(col("q_id") < 10)
        .select(col("q_id"), col("qv"), col("qn"), col("label").as("q_label"))
      val c = withNorm(s, d, "vec_id", "cv", "cn")
        .select(col("vec_id"), col("cv"), col("cn"), col("label"))
      val w = Window.partitionBy("q_id")
        .orderBy(rankKey(col("cos")).desc, col("vec_id"))
      c.join(broadcast(q),
          col("q_id") =!= col("vec_id") && col("label") =!= col("q_label"))
        .withColumn("cos", dot("qv", "cv") / (col("qn") * col("cn")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("rank"), col("vec_id"),
          col("label").as("neg_label"), (r4(col("cos")) + lit(0.0)).as("cos_sim"))
        .orderBy("q_id", "rank")
    }),

    "sim_threshold_sweep" -> ((s, d) => {
      // dedup-threshold calibration: over the LSH-bucketed candidate
      // pairs (the SAME candidate set sim_ann_lsh / dedup_semantic
      // consume), how many pairs clear each candidate τ — the curve a
      // pipeline reads to set its dedup threshold before committing to
      // a full run (cf. sim_minhash_est, which calibrates the sketch;
      // this calibrates the CUT). Pairs come from signature-equality
      // buckets, never corpus² — at 100 TB bucket sizes are bounded by
      // the bandPairs cap discipline. Comparisons use the 6dp rank key
      // so a boundary pair can't flip engines; the 4-row threshold grid
      // explodes in-row (no join).
      val sig = emb(s, d).select(col("vec_id"), col("embedding"),
        expr(lshSigSpark).as("sig"))
      val a = sig.select(col("sig"), col("vec_id").as("a"), col("embedding").as("av"))
      val b = sig.select(col("sig"), col("vec_id").as("b"), col("embedding").as("bv"))
      a.join(b, "sig").filter(col("a") < col("b"))
        .select(rankKey(cos("av", "bv")).as("c6"),
          explode(array(Seq(0.30, 0.35, 0.40, 0.45).map(lit): _*)).as("threshold"))
        .groupBy("threshold")
        .agg(sum(when(col("c6") >= col("threshold"), 1L).otherwise(0L)).as("n_pairs"))
        .orderBy("threshold")
    }),

    "vec_dim_stats" -> ((s, d) => {
      // per-dimension embedding health panel (mean / sd / min / max per
      // coordinate) — the dead-dimension and shard-drift audit: a
      // near-zero-variance dim means wasted index capacity, a mean far
      // off its siblings means one encoder shard normalized differently.
      // Determinism: coordinates snap to the 6dp scaled-integer grid
      // (the vec_centroid_label discipline), sums and sums-of-squares
      // accumulate as exact BIGINTs (|su|≤1e6 ⇒ su²≤1e12; fixture-scale
      // row counts keep Σsu² < 2^53 so the DOUBLE casts are exact — at
      // larger sf the same shape re-aggregates per-partition DECIMAL
      // partials), and mean/sd form from those exact values with only
      // correctly-rounded IEEE ops — bit-identical in both engines.
      // Plan: map-side explode + ONE (dim)-keyed partial agg; output
      // rows = dims, never vectors.
      emb(s, d).select(posexplode(col("embedding")))
        .select(col("pos"), expr("CAST(round(col * 1000000, 0) AS BIGINT)").as("su"))
        .groupBy("pos")
        .agg(count(lit(1)).as("n"), sum(col("su")).as("sv"),
          sum(col("su") * col("su")).as("svv"),
          min(col("su")).as("mn"), max(col("su")).as("mx"))
        .select(col("pos").cast(LongType).as("dim"),
          col("n").as("n_vecs"),
          expr("CAST((2 * sv + IF(sv >= 0, n, -n)) DIV (2 * n) AS DOUBLE) / 1000000.0").as("mean"),
          // try_divide: one vector has no sample variance — NULL sd
          // (DuckDB's x/0) instead of an ANSI divide-by-zero error
          round(sqrt(try_divide(col("svv").cast(DoubleType)
              - col("sv").cast(DoubleType) * col("sv").cast(DoubleType)
                / col("n").cast(DoubleType),
            col("n").cast(DoubleType) - lit(1.0))) / lit(1000000.0), 6).as("sd"),
          (col("mn").cast(DoubleType) / lit(1000000.0)).as("min_v"),
          (col("mx").cast(DoubleType) / lit(1000000.0)).as("max_v"))
        .orderBy("dim")
    }),

    "vec_outlier" -> ((s, d) => {
      // embedding-health screen: flag off-manifold vectors (bad encoder
      // shard, corrupted batch, wrong-model rows) by z-scored squared
      // distance to the corpus centroid — the audit a pipeline runs on
      // every embedding batch before letting it near an index. A norm
      // screen is vacuous for normalized encoders (every norm is 1 —
      // this fixture included), so the signal lives in DIRECTION:
      // distance-to-centroid catches both degenerate lengths and
      // directional outliers. Determinism: the centroid is the
      // vec_centroid_label exact scaled-integer mean (6dp), d² is the
      // codegen'd vec_dot identity |v|² − 2·v·c + |c|² rounded to 4dp,
      // and corpus stats are exact DECIMAL sums of those 4dp values
      // (≪ 2^53 → the DOUBLE casts, and with them mean/sd, are
      // bit-identical across engines — the anomaly_zscore discipline).
      // Plan: one (dim)-keyed aggregate for the centroid (state =
      // dims·8B, broadcast back), one map pass for d², a 1-row stats
      // aggregate, one map pass for z — the corpus never shuffles.
      val e = emb(s, d)
      val cent = e.select(posexplode(col("embedding")))
        .groupBy(col("pos"))
        .agg(microMeanAgg.as("m"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), t -> t.m)")
          .as("cvec"))
      val v = e.crossJoin(broadcast(cent))
        .select(col("vec_id"),
          round(expr("vec_dot(embedding, embedding)")
            - lit(2.0) * expr("vec_dot(embedding, cvec)")
            + expr("vec_dot(cvec, cvec)"), 4).as("d2"))
      val d2d = col("d2").cast(DecimalType(18, 4))
      val stats = v.agg(count(lit(1)).as("n"), sum(d2d).as("sv"),
        sum(round(d2d * d2d, 4).cast(DecimalType(30, 4))).as("svv"))
      val dn = col("n").cast(DoubleType)
      val st = stats.select(
        (col("sv").cast(DoubleType) / dn).as("mean"),
        // try_divide: one vector (or a zero-variance corpus) has no
        // sample sd — NULL z (DuckDB's x/0), not an ANSI error
        sqrt(try_divide(col("svv").cast(DoubleType)
          - col("sv").cast(DoubleType) * col("sv").cast(DoubleType) / dn,
          dn - lit(1.0))).as("sd"))
      v.crossJoin(broadcast(st))
        .withColumn("z", try_divide(col("d2") - col("mean"), col("sd")))
        .select(col("vec_id"), (col("d2") + lit(0.0)).as("dist2"),
          (round(col("z"), 4) + lit(0.0)).as("z"),
          (abs(col("z")) > 2.0).as("is_outlier"))
        .orderBy("vec_id")
    }),

    "vec_pca_power" -> ((s, d) => {
      // top principal component by power iteration — the dominant
      // direction of the centered embedding cloud (what an IVF/PQ build
      // inspects first: a single direction carrying most variance means
      // anisotropic embeddings and poorly balanced partitions). Three
      // fixed iterations of w ← Σ cx·(cx·v), v ← w/‖w‖ over rows
      // centered on the exact 6dp scaled-integer centroid
      // (vec_centroid_label's grid). Each iteration is ONE corpus scan:
      // per-row dot against the broadcast-literal v (in-row L2R fold),
      // per-dimension contributions rounded to the 1e-6 fixed-point grid
      // so the (pos)-keyed partial-agg sums are EXACT int64s —
      // partition-order-free; only dims·8B state per task. The
      // normalize step runs driver-side over the collected 64-row w
      // (the winNtile bounded-collect discipline) with the same L2R
      // association the oracle's list_sum uses, so every double matches
      // bit-for-bit; the oracle unrolls the identical three iterations
      // textually (the graph_pagerank precedent).
      val e = emb(s, d)
      val dims = 64
      val mu: Array[Double] = e.select(posexplode(col("embedding")))
        .groupBy("pos")
        .agg(microMeanAgg.as("m"))
        .orderBy("pos").collect().map(_.getDouble(1))
      var v = Array.fill(dims)(1.0 / math.sqrt(dims.toDouble))
      // degenerate corpora (zero centered mass, e.g. a single vector):
      // w = 0 ⇒ the normalize is 0/0. The oracle's list math propagates
      // NULL through the remaining iterations; mirror that with NULL
      // loadings instead of crashing on a NaN→BIGINT cast.
      var degenerate = false
      val loop = new scala.util.control.Breaks
      loop.breakable {
        for (_ <- 1 to 3) {
          val muCol = typedLit(mu.toSeq)
          val vCol = typedLit(v.toSeq)
          val w: Array[Double] = e
            .select(expr("embedding").as("x"), muCol.as("mu"), vCol.as("vv"))
            .select(expr("zip_with(x, mu, (a, b) -> a - b)").as("cx"), col("vv"))
            .withColumn("t", expr("vec_dot(cx, vv)"))
            .select(posexplode(expr(
              "transform(cx, c -> CAST(round(c * t * 1000000, 0) AS BIGINT))")))
            .groupBy("pos").agg(sum(col("col")).as("sw"))
            .orderBy("pos").collect().map(r => r.getLong(1).toDouble / 1000000.0)
          val norm = math.sqrt(w.map(x => x * x).sum)
          if (norm == 0.0) { degenerate = true; loop.break() }
          v = w.map(_ / norm)
        }
      }
      import s.implicits._
      val rows: Seq[(Long, Option[Double])] =
        if (mu.isEmpty) Seq.empty // empty corpus: PCA of nothing is no rows
        else if (degenerate) (0 until dims).map(i => (i.toLong, Option.empty[Double]))
        else v.zipWithIndex.map { case (x, i) => (i.toLong, Option(x)) }.toSeq
      rows.toDF("pos", "raw")
        .select(col("pos"), r4(col("raw")).as("loading"))
        .orderBy("pos")
    }),

    "vec_norm_stats" -> ((s, d) => {
      // L2-norm profile per label — the is-this-batch-normalized probe
      // run before cosine math is trusted (an un-normalized shard makes
      // every dot-product ranking silently wrong; vec_outlier catches
      // direction, this catches length). Norms come from the codegen'd
      // vec_dot self-product (sequential in-row fold — same accumulation
      // order as the oracle's list_sum), rounded to 6dp into exact
      // decimals so the per-label mean is partition-order-free. One map
      // pass + one |labels|-group partial agg; nothing shuffles but the
      // per-label sketch.
      val nr = round(sqrt(expr("vec_dot(embedding, embedding)")), 6)
        .cast(DecimalType(18, 6))
      emb(s, d)
        .select(col("label"), nr.as("nr"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          r4(sum(col("nr")).cast(DoubleType) / count(lit(1))).as("mean_norm"),
          r4(min(col("nr"))).as("min_norm"),
          r4(max(col("nr"))).as("max_norm"))
        .orderBy("label")
    })
  )

  /** IVF body. Measured note: its ~7-8 s at every sf is cold-session
    * fixed overhead (first-touch class loading + planning across many tiny
    * stages) — an interpreted-execution variant (wholeStage=false) was
    * tried and did NOT move the cold number, only the warm one (2.0 s →
    * 1.3 s), so the plan stays lazy and codegen'd like every other key.
    */
  /** The vec_pq machinery, extracted in round 12 so sim_ivf_pq composes
    * the SAME codebook pipeline (single definition, two consumers):
    * 4 subvectors of 16 dims per vector; one Lloyd iteration from the
    * vec_id < 4 seeds; nearest-codeword assignment ranks on the
    * 6dp-rounded d2 with cid tie-break; the update step re-estimates
    * per-dim means in exact micro-units (microMeanAgg — iterated inputs
    * may not ride on double summation order).
    */
  private def pqSubvectors(s: SparkSession, d: String): DataFrame =
    emb(s, d)
      .select(col("vec_id"), explode(expr("sequence(0, 3)")).as("sub"),
        col("embedding"))
      .select(col("vec_id"), col("sub"),
        expr("slice(embedding, sub * 16 + 1, 16)").as("sv"))
      .withColumn("vv", dot("sv", "sv"))

  private def pqSeed(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 4)
      .select(col("sub"), col("vec_id").as("cid"), col("sv").as("cvec"),
        col("vv").as("cc"))

  private def pqAssign(e: DataFrame, cent: DataFrame): DataFrame = {
    val scored = e.join(broadcast(cent), "sub")
      .withColumn("d2", greatest(
        col("vv") - lit(2.0) * expr("vec_dot(sv, cvec)") + col("cc"),
        lit(0.0)))
    // argmin WITHOUT a window (round 17): ONE partial-aggregated
    // min(struct(...)) per (vec_id, sub) replaces the old
    // Exchange+Sort+Window row_number pass — the same selection key
    // (6dp-rounded d2) and cid tie-break, decided by the struct's
    // lexicographic order; (dk, cid) is unique per group (one row per
    // candidate codeword), so the trailing payload fields never
    // participate in a comparison. Map-side combine means the shuffle
    // moves one row per (vec_id, sub), not one per candidate.
    scored.groupBy("vec_id", "sub")
      .agg(min(struct(rankKey(col("d2")).as("dk"), col("cid"),
        col("cvec"), col("sv"))).as("w"))
      .select(col("vec_id"), col("sub"), col("w.sv").as("sv"),
        col("w.cid").as("cid"), col("w.cvec").as("cvec"))
  }

  private def pqUpdate(assigned: DataFrame): DataFrame =
    assigned.select(col("sub"), col("cid"), posexplode(col("sv")))
      .groupBy("sub", "cid", "pos")
      .agg(microMeanAgg.as("m"))
      .groupBy("sub", "cid")
      .agg(expr("transform(sort_array(collect_list(struct(pos, m))), t -> t.m)")
        .as("cvec"))
      .withColumn("cc", dot("cvec", "cvec"))

  private def simIvf(s: SparkSession, d: String): DataFrame = {
      // IVF-style ANN with DETERMINISTIC coarse quantizer (centroids = the
      // first 8 vectors, nearest-centroid assignment, nprobe=2) — unlike
      // the hash-seeded LSH path this is exactly reproducible in SQL, so
      // it ships with a full DuckDB oracle. At 100 TB: centroids from a
      // sampled k-means sketch, assignment is one broadcast map-side pass,
      // and each query touches |corpus|·nprobe/K instead of |corpus|.
      val base = withNorm(s, d, "vec_id", "v", "n").select("vec_id", "v", "n")
      val cents = withNorm(s, d, "c_id", "cv", "cn")
        .filter(col("c_id") < coarseK(base)).select("c_id", "cv", "cn")
      // per-vector top-2 centroids WITHOUT a window: one groupBy collects
      // the 8 scored centroids as sortable (-roundedCos, c_id) structs and
      // slices the head — same ordering as the old
      // row_number().over(orderBy(rankKey desc, c_id)) but one exchange
      // fewer and no localCheckpoint materialization job (the old form
      // needed one so the windowed pass ran once per consumer)
      val assign = base.crossJoin(broadcast(cents))
        .withColumn("ccos", dot("v", "cv") / (col("n") * col("cn")))
        .select(col("vec_id"), col("v"), col("n"),
          struct((lit(0d) - rankKey(col("ccos"))).as("nk"), col("c_id")).as("sc"))
        .groupBy("vec_id")
        .agg(first(col("v")).as("v"), first(col("n")).as("n"),
          slice(sort_array(collect_list(col("sc"))), 1, 2).as("top2"))
        .cache() // consumed twice (members + probes): one small row per vector
      val members = assign
        .select(col("vec_id"), col("v"), col("n"),
          expr("top2[0].c_id").as("cluster"))
      val probes = assign.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n").as("qn"),
          explode(expr("transform(top2, t -> t.c_id)")).as("cluster"))
      val wTop = Window.partitionBy("q_id")
        .orderBy(rankKey(col("cos")).desc, col("vec_id"))
      members.join(probes, Seq("cluster"))
        .filter(col("q_id") =!= col("vec_id"))
        .withColumn("cos", dot("qv", "v") / (col("qn") * col("n")))
        .withColumn("rank", row_number().over(wTop))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("rank"), col("vec_id"), (r4(col("cos")) + lit(0.0)).as("cos_sim"))
        .orderBy("q_id", "rank")
  }

  /** Hyperplane sign for (plane p, dim i): parity of the md5-derived 60-bit
    * hash of p*64+i — identical formula on both engines (see lshSigDuck).
    * The sign depends only on the CONSTANTS (p, i), so the Spark side
    * folds the md5 at plan-build time (round 9: the runtime form computed
    * 64 md5s per plane PER VECTOR — 1280 per vector on the 20-plane band
    * family, the dominant cost of the ×10 rehearsal's signature stage);
    * the oracle keeps the in-SQL md5 formula, proving the fold faithful.
    */
  private def planeSign(p: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${p * 64 + i}".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    if ((h & 1L) == 1L) 1.0 else -1.0
  }

  private def lshProjSpark(p: Int): String = {
    val signs = (0 until 64)
      .map(i => if (planeSign(p, i) > 0) "1.0D" else "-1.0D").mkString(",")
    // round 17: the codegen'd vec_dot expression replaces the interpreted
    // aggregate(zip_with(...)) HOF fold — DotProduct is documented (and
    // spec-pinned) as the SAME strict left-to-right multiply-accumulate,
    // so every projection double is bit-identical, including NULL
    // semantics (null element ⇒ null fold ⇒ null dot). lshCappedBuild
    // folds 20 planes per vector and the sim_ann_* keys 8 — all were
    // paying interpreted-lambda cost on the signature hot path.
    s"vec_dot(embedding, array($signs))"
  }

  private val lshSigSpark: String = (0 until 8).map(p =>
    s"(CASE WHEN ${lshProjSpark(p)} > 0 THEN CAST(${1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
    .mkString(" + ")

  /** Widest supported bucket bit-width per band. 2^30 buckets holds
    * expected bucket population ≈ 62 up to ~6.7·10^10 valid vectors —
    * past any single-table corpus this engine targets. The band
    * signature carries maxBandBits bits, but every bit above the
    * corpus-scaled width `wb` is masked to 0 at signature time (the
    * CASE guard in lshBandSpark), so fixture-scale plans never pay for
    * (or observe) the extension planes.
    */
  private val maxBandBits = 30

  /** Hyperplane index for (band b, bit j). Bits 0-9 keep the original
    * two-band layout (planes 10b..10b+9) so every bucket value at
    * wb ≤ 10 is bit-identical to the pre-round-12 ladder; extension
    * bits 10-29 draw from the disjoint ranges 20..39 (band 0) and
    * 50..69 (band 1) — each band RESERVES a 30-wide range (20..49 /
    * 50..79) of which only the low 20 planes are used at
    * maxBandBits = 30, so widening past 30 must stay within the
    * reservation (or extend band 1's base past 79) to keep the bands'
    * plane sets disjoint.
    */
  private def planeFor(b: Int, j: Int): Int =
    if (j < 10) 10 * b + j else 20 + 30 * b + (j - 10)

  /** Band signature b ∈ {0,1} — the sim_ann_lsh md5-derived hyperplane
    * family extended to two independent bands (LSH banding: a candidate
    * pair needs ONE full-band agreement, not all planes — banding trades
    * precision for recall, exactly right for dedup). dedup_embed/knn_ann
    * bucket on the LOW `wb` BITS of each band (`sig % 2^wb`), with wb
    * corpus-scaled through exact integer thresholds (bandBitsCase) so
    * bucket count grows with the corpus and per-band pair work Σ|bucket|²
    * stays ~linear. Bits ≥ 10 are guarded on the in-plan `wb` column
    * (round 12: the old unguarded 10-bit signature capped bucket count
    * at 1024, so at 10⁹ vectors every bucket held ~10⁶ members): the
    * guard both skips the extension-plane folds at fixture scale
    * (codegen if-branch on a per-plan-constant) and masks the signature
    * so `% 2^wb` keeps its meaning. Mirrored bit-for-bit by lshBandDuck.
    */
  private def lshBandSpark(b: Int): String = (0 until maxBandBits).map { j =>
    val bit = s"(CASE WHEN ${lshProjSpark(planeFor(b, j))} > 0 " +
      s"THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    if (j < 10) bit else s"(CASE WHEN wb > $j THEN $bit ELSE CAST(0 AS BIGINT) END)"
  }.mkString(" + ")

  /** Bucket bit-width w ∈ [4,30] from the VALID-vector count n: the
    * closed form w = max(4|6, ⌈log2(n/62.5)⌉) — smallest w with
    * 62.5·2^w ≥ n, holding expected bucket size ≈ 32-64 as the corpus
    * grows (the ×10 rehearsal measured the (62.5, 125] sizing spending
    * most of its wall on 125-member bucket fan-out for a top-20 answer)
    * — generated as exact integer thresholds (125·2^(w-1), not float
    * log2) so both engines compute the identical w at every n, with the
    * gate-neutral first rung (w = 4 at n ≤ 2000, bucket ≈ 125) kept
    * verbatim. Identical to the pre-round-12 hand ladder through
    * n = 64000; beyond that the old `ELSE 10` froze bucket count at
    * 1024 while this form keeps climbing to 2^30. Same CASE text runs
    * on both engines.
    */
  private val bandBitsCase: String =
    "CASE WHEN nv <= 2000 THEN 4 " +
    (6 to maxBandBits).map(w => s"WHEN nv <= ${125L << (w - 1)} THEN $w")
      .mkString(" ") + s" ELSE $maxBandBits END"

  /** THE capped SRP-LSH bucket-key build (vec_id, band, bucket — 3
    * longs/row, parquet round-trip exact), lifted to the
    * Derived.lshCapped materialize-once seam in round 12: dedup_embed
    * and knn_ann each ran this whole prefix (validity gate → 2-band
    * signature fold → bucket census → hot-bucket cap → semi-join) per
    * key. Single definition, single derivation, two consumers.
    *
    * HOT-BUCKET CAP (round 9, the bandPairs df∈[2,20] discipline applied
    * to sign-LSH): real embeddings correlate, so bucket sizes are
    * SKEWED — the ×10 rehearsal measured a 3 949-member bucket against
    * a mean of 40, and Σ|bucket|² was 28.8 M pairs where the uniform
    * estimate said 0.8 M. A bucket that hot is non-discriminative (its
    * members agree on a whole band by geometry, not near-duplication);
    * buckets above 4× the expected size are dropped before any
    * self-join, bounding pair work at ~4·n·E[bucket]. Gate-neutral:
    * the largest fixture bucket is 200 (sf0.1) against a cap of 500,
    * so no gate/edge fixture ever trips it; the oracles mirror the
    * same cap formula. The ≥2 bound prunes singleton buckets (no
    * pairs) before the join. The 1-row wb/cap aggregates are the only
    * broadcast() sides; the census semi-join is merge-locked
    * (corpus-proportional both sides).
    */
  private[operators] def lshCappedBuild(s: SparkSession, d: String): DataFrame = {
    val wb = emb(s, d).agg(count(lit(1)).as("nv"))
      .select(expr(bandBitsCase).as("wb"))
    val sig = emb(s, d).crossJoin(broadcast(wb))
      .select(col("vec_id"), col("wb"),
        expr(lshBandSpark(0)).as("s0"), expr(lshBandSpark(1)).as("s1"))
    val keyed = sig
      .select(col("vec_id"), explode(array(
        struct(lit(0L).as("band"),
          expr("s0 % CAST(shiftleft(1, wb) AS BIGINT)").as("bucket")),
        struct(lit(1L).as("band"),
          expr("s1 % CAST(shiftleft(1, wb) AS BIGINT)").as("bucket")))).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .localCheckpoint(true) // §19 C16: kept, measured slower without it
    val cap = emb(s, d).agg(count(lit(1)).as("nv"))
      .select(expr(
        s"CAST(4 * ceil(nv / CAST(shiftleft(1, $bandBitsCase) AS DOUBLE)) AS BIGINT)")
        .as("bkt_cap"))
    val okBuckets = keyed.groupBy("band", "bucket")
      .agg(count(lit(1)).as("n_bkt"))
      .crossJoin(broadcast(cap))
      .filter(col("n_bkt") >= 2 && col("n_bkt") <= col("bkt_cap"))
      .select("band", "bucket")
    keyed.join(okBuckets.hint("merge"), Seq("band", "bucket"), "left_semi")
  }

  private def lshProjDuck(p: Int): String =
    s"list_sum(list_transform(range(1, len(embedding) + 1), i -> " +
    s"CAST(embedding[i] AS DOUBLE) * CASE WHEN " +
    s"(${h60Duck(s"CAST($p * 64 + (i - 1) AS VARCHAR)")} & 1) = 1 " +
    s"THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END))"

  private val lshSigDuck: String = (0 until 8).map(p =>
    s"(CASE WHEN ${lshProjDuck(p)} > 0 THEN CAST(${1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
    .mkString(" + ")

  private def lshBandDuck(b: Int): String = (0 until maxBandBits).map { j =>
    val bit = s"(CASE WHEN ${lshProjDuck(planeFor(b, j))} > 0 " +
      s"THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    if (j < 10) bit else s"(CASE WHEN w > $j THEN $bit ELSE CAST(0 AS BIGINT) END)"
  }.mkString(" + ")

  // DuckDB mirror of the fold-based dot product (index loop, same order)
  private val dotSql =
    "list_sum(list_transform(range(1, len(%A) + 1), i -> CAST(%A[i] AS DOUBLE) * CAST(%B[i] AS DOUBLE)))"

  private def dSql(a: String, b: String) = dotSql.replace("%A", a).replace("%B", b)

  private def cosSql(a: String, b: String) =
    s"(${dSql(a, b)} / (sqrt(${dSql(a, a)}) * sqrt(${dSql(b, b)})))"

  /** DuckDB mirror of emb()'s validity gate. DuckDB treats a same-named
    * CTE over the base view as a circular reference, so the gate is a
    * distinctly-named CTE and every table reference in the oracle body is
    * rewritten onto it (the word `embeddings` appears in these oracles
    * only as the table name; the column is singular `embedding`).
    */
  private val validEmbCte =
    """vemb AS (SELECT DISTINCT * FROM embeddings
       WHERE embedding IS NOT NULL AND len(embedding) = 64
         AND list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0)"""

  private def withValidEmb(sql: String): String = {
    val t = sql.trim
    if (!t.contains("embeddings")) sql
    else {
      val body = t.replaceAll("\\bembeddings\\b", "vemb")
      if (body.startsWith("WITH "))
        body.replaceFirst("WITH ", s"WITH $validEmbCte, ")
      else s"WITH $validEmbCte $body"
    }
  }

  val oracles: Map[String, String] = rawOracles.map { case (k, v) =>
    k -> withValidEmb(v)
  }

  private lazy val rawOracles: Map[String, String] = Map(
    "vec_centroid_label" ->
      // same exact scaled-integer mean as cluster_kmeans' update step
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         x AS (SELECT label, i - 1 AS pos,
                 CAST(round(v[i] * 1000000, 0) AS BIGINT) AS su
               FROM (SELECT label, v, unnest(range(1, len(v) + 1)) AS i FROM e))
         SELECT label, pos,
           CAST((2 * sum(su) + CASE WHEN sum(su) >= 0 THEN count(*) ELSE -count(*) END) // (2 * count(*)) AS DOUBLE) / 1000000.0 AS m,
           count(*) AS n_vecs
         FROM x GROUP BY 1, 2 ORDER BY label NULLS FIRST, pos NULLS FIRST""",
    "vec_quantize" ->
      """WITH sc AS (
           SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
           FROM embeddings WHERE
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0),
         qq AS (
           SELECT vec_id, embedding, scale,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / scale) AS BIGINT)) AS q
           FROM sc)
         SELECT vec_id,
           round(scale, 4) AS scale_r,
           CAST(list_sum(q) AS BIGINT) AS q_sum,
           CAST(list_max(list_transform(q, x -> abs(x))) AS BIGINT) AS q_absmax,
           round(list_max(list_transform(range(1, len(embedding) + 1),
             i -> abs(CAST(embedding[i] AS DOUBLE) - CAST(q[i] AS DOUBLE) * scale / 127.0))), 4) AS max_err
         FROM qq ORDER BY vec_id NULLS FIRST""",
    "vec_pq" ->
      // the cluster_kmeans unroll with a `sub` subspace key threaded
      // through every stage; codes pivot via the same MAX(CASE) both
      // engines, reconstruction error summed in exact micro-units
      s"""WITH emb0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         e AS (SELECT vec_id, sub, v[sub*16+1 : sub*16+16] AS sv
               FROM (SELECT vec_id, v, unnest(range(0, 4)) AS sub FROM emb0)),
         e2 AS (SELECT vec_id, sub, sv, ${dSql("sv", "sv")} AS vv FROM e),
         c0 AS (SELECT sub, vec_id AS cid, sv AS cvec, vv AS cc
                FROM e2 WHERE vec_id < 4),
         s1 AS (SELECT e2.vec_id, e2.sub, e2.sv, e2.vv, c.cid,
                  greatest(e2.vv - 2 * ${dSql("e2.sv", "c.cvec")} + c.cc, 0) AS d2
                FROM e2 JOIN c0 c ON c.sub = e2.sub),
         a1 AS (SELECT vec_id, sub, sv, cid FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                    ORDER BY round(d2, 6) NULLS FIRST, cid NULLS FIRST) AS rn FROM s1) WHERE rn = 1),
         m1 AS (SELECT sub, cid, i,
                  CAST((2 * sum(CAST(round(sv[i] * 1000000, 0) AS BIGINT))
                          + CASE WHEN sum(CAST(round(sv[i] * 1000000, 0) AS BIGINT)) >= 0
                                 THEN count(*) ELSE -count(*) END)
                         // (2 * count(*)) AS DOUBLE) / 1000000.0 AS m FROM (
                  SELECT sub, cid, sv, unnest(range(1, len(sv) + 1)) AS i FROM a1)
                GROUP BY 1, 2, 3),
         c1 AS (SELECT sub, cid, list(m ORDER BY i NULLS FIRST) AS cvec FROM m1 GROUP BY 1, 2),
         c1n AS (SELECT sub, cid, cvec, ${dSql("cvec", "cvec")} AS cc FROM c1),
         s2a AS (SELECT e2.vec_id, e2.sub, e2.sv, c.cid, c.cvec,
                  greatest(e2.vv - 2 * ${dSql("e2.sv", "c.cvec")} + c.cc, 0) AS d2
                FROM e2 JOIN c1n c ON c.sub = e2.sub),
         a2 AS (SELECT vec_id, sub, sv, cid, cvec FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                    ORDER BY round(d2, 6) NULLS FIRST, cid NULLS FIRST) AS rn FROM s2a) WHERE rn = 1),
         q AS (SELECT vec_id, sub, cid,
                 list_sum(list_transform(range(1, len(sv) + 1), i ->
                   (CAST(round(sv[i] * 1000000, 0) AS BIGINT)
                      - CAST(round(cvec[i] * 1000000, 0) AS BIGINT))
                   * (CAST(round(sv[i] * 1000000, 0) AS BIGINT)
                      - CAST(round(cvec[i] * 1000000, 0) AS BIGINT)))) AS sq
               FROM a2)
         SELECT vec_id,
           max(CASE WHEN sub = 0 THEN cid END) AS code0,
           max(CASE WHEN sub = 1 THEN cid END) AS code1,
           max(CASE WHEN sub = 2 THEN cid END) AS code2,
           max(CASE WHEN sub = 3 THEN cid END) AS code3,
           round(CAST(sum(sq) AS DOUBLE) / 1000000000000.0, 4) AS recon_err
         FROM q GROUP BY 1 ORDER BY vec_id NULLS FIRST""",
    "cluster_kmeans" ->
      // identical two-iteration unroll: same fold-based dots, same rounded
      // ranking, same 6dp-rounded per-dim means (list(m ORDER BY i)
      // re-assembles centroids in dimension order, as sort_array does)
      s"""WITH emb0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         e AS (SELECT vec_id, v, ${dSql("v", "v")} AS vv FROM emb0),
         c0 AS (SELECT vec_id AS cid, v AS cvec, vv AS cc FROM e WHERE vec_id < 4),
         s1 AS (SELECT e.vec_id, e.v, c.cid,
                  greatest(e.vv - 2 * ${dSql("e.v", "c.cvec")} + c.cc, 0) AS d2
                FROM e CROSS JOIN c0 c),
         a1 AS (SELECT vec_id, v, cid FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY round(d2, 6) NULLS FIRST, cid NULLS FIRST) AS rn FROM s1) WHERE rn = 1),
         m1 AS (SELECT cid, i,
                  CAST((2 * sum(CAST(round(v[i] * 1000000, 0) AS BIGINT))
                          + CASE WHEN sum(CAST(round(v[i] * 1000000, 0) AS BIGINT)) >= 0
                                 THEN count(*) ELSE -count(*) END)
                         // (2 * count(*)) AS DOUBLE) / 1000000.0 AS m FROM (
                  SELECT cid, v, unnest(range(1, len(v) + 1)) AS i FROM a1)
                GROUP BY 1, 2),
         c1 AS (SELECT cid, list(m ORDER BY i NULLS FIRST) AS cvec FROM m1 GROUP BY 1),
         c1n AS (SELECT cid, cvec, ${dSql("cvec", "cvec")} AS cc FROM c1),
         s2 AS (SELECT e.vec_id, c.cid,
                  greatest(e.vv - 2 * ${dSql("e.v", "c.cvec")} + c.cc, 0) AS d2
                FROM e CROSS JOIN c1n c),
         a2 AS (SELECT vec_id, cid, d2 FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY round(d2, 6) NULLS FIRST, cid NULLS FIRST) AS rn FROM s2) WHERE rn = 1)
         SELECT cid AS cluster_id, count(*) AS n_vecs,
           round(avg(sqrt(d2)), 4) + 0.0 AS avg_dist
         FROM a2 GROUP BY 1 ORDER BY cluster_id NULLS FIRST""",
    "sim_ivf_pq" ->
      // the vec_pq codebook CTEs (verbatim through the second assignment)
      // + sim_ivf's coarse CTEs + the ADC stage in the same micro-unit
      // integer sum as the Spark side, then the exact rerank
      s"""WITH emb0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         e AS (SELECT vec_id, sub, v[sub*16+1 : sub*16+16] AS sv
               FROM (SELECT vec_id, v, unnest(range(0, 4)) AS sub FROM emb0)),
         e2 AS (SELECT vec_id, sub, sv, ${dSql("sv", "sv")} AS vv FROM e),
         c0 AS (SELECT sub, vec_id AS cid, sv AS cvec, vv AS cc
                FROM e2 WHERE vec_id < 4),
         s1 AS (SELECT e2.vec_id, e2.sub, e2.sv, e2.vv, c.cid,
                  greatest(e2.vv - 2 * ${dSql("e2.sv", "c.cvec")} + c.cc, 0) AS d2
                FROM e2 JOIN c0 c ON c.sub = e2.sub),
         a1 AS (SELECT vec_id, sub, sv, cid FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                    ORDER BY round(d2, 6) NULLS FIRST, cid NULLS FIRST) AS rn FROM s1) WHERE rn = 1),
         m1 AS (SELECT sub, cid, i,
                  CAST((2 * sum(CAST(round(sv[i] * 1000000, 0) AS BIGINT))
                          + CASE WHEN sum(CAST(round(sv[i] * 1000000, 0) AS BIGINT)) >= 0
                                 THEN count(*) ELSE -count(*) END)
                         // (2 * count(*)) AS DOUBLE) / 1000000.0 AS m FROM (
                  SELECT sub, cid, sv, unnest(range(1, len(sv) + 1)) AS i FROM a1)
                GROUP BY 1, 2, 3),
         c1 AS (SELECT sub, cid, list(m ORDER BY i NULLS FIRST) AS cvec FROM m1 GROUP BY 1, 2),
         c1n AS (SELECT sub, cid, cvec, ${dSql("cvec", "cvec")} AS cc FROM c1),
         codes AS (SELECT vec_id, sub, cid FROM (
                  SELECT e2.vec_id, e2.sub, c.cid,
                    row_number() OVER (PARTITION BY e2.vec_id, e2.sub
                      ORDER BY round(greatest(e2.vv - 2 * ${dSql("e2.sv", "c.cvec")} + c.cc, 0), 6) NULLS FIRST,
                               c.cid NULLS FIRST) AS rn
                  FROM e2 JOIN c1n c ON c.sub = e2.sub) WHERE rn = 1),
         cassign AS (
           SELECT vec_id, c_id, ccos,
             row_number() OVER (PARTITION BY vec_id ORDER BY round(ccos, 6) DESC NULLS LAST, c_id NULLS FIRST) AS crn
           FROM (
             SELECT b.vec_id, c.vec_id AS c_id,
               ${cosSql("b.embedding", "c.embedding")} AS ccos
             FROM embeddings b CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < $ck) c)),
         members AS (SELECT vec_id, c_id AS cluster FROM cassign WHERE crn = 1),
         probes AS (SELECT vec_id AS q_id, c_id AS cluster FROM cassign
                    WHERE crn <= 2 AND vec_id < 10),
         qsub AS (SELECT vec_id AS q_id, sub, sv AS qsv, vv AS qvv
                  FROM e2 WHERE vec_id < 10),
         cand AS (SELECT DISTINCT p.q_id, m.vec_id
                  FROM probes p JOIN members m
                    ON m.cluster = p.cluster AND m.vec_id != p.q_id),
         adc AS (SELECT c.q_id, c.vec_id,
                   sum(CAST(round(greatest(qs.qvv - 2 * ${dSql("qs.qsv", "cb.cvec")} + cb.cc, 0)
                                  * 1000000, 0) AS BIGINT)) AS ad2_micro
                 FROM cand c
                 JOIN codes k ON k.vec_id = c.vec_id
                 JOIN c1n cb ON cb.sub = k.sub AND cb.cid = k.cid
                 JOIN qsub qs ON qs.q_id = c.q_id AND qs.sub = k.sub
                 GROUP BY 1, 2),
         short AS (SELECT q_id, vec_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY q_id
                    ORDER BY ad2_micro NULLS FIRST, vec_id NULLS FIRST) AS srn
                  FROM adc) WHERE srn <= 10),
         rr AS (SELECT s.q_id, s.vec_id,
                  ${cosSql("q.embedding", "v.embedding")} AS cos
                FROM short s
                JOIN embeddings q ON q.vec_id = s.q_id
                JOIN embeddings v ON v.vec_id = s.vec_id),
         ranked AS (
           SELECT q_id, vec_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY round(cos, 6) DESC NULLS LAST, vec_id NULLS FIRST) AS rank
           FROM rr)
         SELECT q_id, rank, vec_id, round(cos, 4) + 0.0 AS cos_sim
         FROM ranked WHERE rank <= 3
         ORDER BY q_id NULLS FIRST, rank NULLS FIRST""",
    "sim_ivf" ->
      s"""WITH assign AS (
           SELECT vec_id, c_id, ccos,
             row_number() OVER (PARTITION BY vec_id ORDER BY round(ccos, 6) DESC NULLS LAST, c_id NULLS FIRST) AS crn
           FROM (
             SELECT b.vec_id, c.vec_id AS c_id,
               ${cosSql("b.embedding", "c.embedding")} AS ccos
             FROM embeddings b CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < $ck) c)),
         members AS (SELECT vec_id, c_id AS cluster FROM assign WHERE crn = 1),
         probes AS (SELECT vec_id AS q_id, c_id AS cluster FROM assign
                    WHERE crn <= 2 AND vec_id < 10),
         scored AS (
           SELECT p.q_id, m.vec_id,
             ${cosSql("q.embedding", "v.embedding")} AS cos
           FROM probes p
           JOIN members m ON m.cluster = p.cluster AND m.vec_id != p.q_id
           JOIN embeddings q ON q.vec_id = p.q_id
           JOIN embeddings v ON v.vec_id = m.vec_id),
         ranked AS (
           SELECT q_id, vec_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY round(cos, 6) DESC NULLS LAST, vec_id NULLS FIRST) AS rank
           FROM scored)
         SELECT q_id, rank, vec_id, round(cos, 4) + 0.0 AS cos_sim
         FROM ranked WHERE rank <= 3
         ORDER BY q_id NULLS FIRST, rank NULLS FIRST""",
    "dedup_semantic" ->
      // same nearest-centroid assignment CTE as sim_ivf (crn = 1), then
      // within-cluster pairs above the 6dp-rounded threshold mark the
      // higher id as a duplicate
      s"""WITH assign AS (
           SELECT vec_id, c_id AS cluster FROM (
             SELECT b.vec_id, c.vec_id AS c_id,
               row_number() OVER (PARTITION BY b.vec_id
                 ORDER BY round(${cosSql("b.embedding", "c.embedding")}, 6) DESC NULLS LAST, c.vec_id NULLS FIRST) AS crn
             FROM embeddings b CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < $ck) c)
           WHERE crn = 1),
         dup AS (
           SELECT DISTINCT b.vec_id
           FROM assign a JOIN assign b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           JOIN embeddings ea ON ea.vec_id = a.vec_id
           JOIN embeddings eb ON eb.vec_id = b.vec_id
           WHERE round(${cosSql("ea.embedding", "eb.embedding")}, 6) >= 0.35)
         SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
           (d.vec_id IS NULL) AS keep
         FROM assign a LEFT JOIN dup d ON a.vec_id = d.vec_id
         ORDER BY a.vec_id NULLS FIRST""",
    "sim_rerank" ->
      // identical int8 quantization (vec_quantize's formula), exact integer
      // stage-1 dot, identically-ordered double de-scale, then the exact
      // cosine rerank — both rank keys on round(·,6) with vec_id tie-break
      s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         qz AS (SELECT vec_id, v, s,
                  list_transform(v, x -> CAST(round(x * 127.0 / s) AS BIGINT)) AS q
                FROM (SELECT vec_id, v,
                        list_max(list_transform(v, x -> abs(x))) AS s FROM e0)
                WHERE s > 0),
         qs AS (SELECT vec_id AS q_id, v AS qv, s AS q_s, q AS qq FROM qz WHERE vec_id < 10),
         cs AS (SELECT vec_id, v AS cv, s AS c_s, q AS cq FROM qz WHERE vec_id >= 10),
         st1 AS (SELECT q_id, vec_id, qv, cv,
                   CAST(list_sum(list_transform(range(1, len(qq) + 1), i -> qq[i] * cq[i])) AS DOUBLE)
                     * q_s * c_s / 16129.0 AS approx
                 FROM cs CROSS JOIN qs),
         sh AS (SELECT * FROM (
                  SELECT *, row_number() OVER (PARTITION BY q_id
                    ORDER BY round(approx, 6) DESC NULLS LAST, vec_id NULLS FIRST) AS srn FROM st1)
                WHERE srn <= 10),
         rk AS (SELECT q_id, vec_id, approx, cos,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY round(cos, 6) DESC NULLS LAST, vec_id NULLS FIRST) AS rank
                FROM (SELECT *, ${cosSql("qv", "cv")} AS cos FROM sh))
         SELECT q_id, rank, vec_id,
           round(cos, 4) + 0.0 AS cos_sim,
           round(approx, 4) + 0.0 AS approx_sim
         FROM rk WHERE rank <= 3
         ORDER BY q_id NULLS FIRST, rank NULLS FIRST""",
    "sim_cosine_topk" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT q.q_id, c.vec_id, ${cosSql("q.qv", "c.embedding")} AS cos
           FROM q JOIN embeddings c ON q.q_id != c.vec_id),
         ranked AS (
           SELECT q_id, vec_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY round(cos, 6) DESC NULLS LAST, vec_id NULLS FIRST) AS rank
           FROM scored)
         SELECT q_id, rank, vec_id, round(cos, 4) + 0.0 AS cos_sim
         FROM ranked WHERE rank <= 5
         ORDER BY q_id NULLS FIRST, rank NULLS FIRST""",
    "knn_label" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv, label AS true_label
                     FROM embeddings WHERE vec_id < 20),
         c AS (SELECT vec_id, embedding AS cv, label FROM embeddings WHERE vec_id >= 20),
         scored AS (
           SELECT q.q_id, q.true_label, c.vec_id, c.label,
             ${cosSql("q.qv", "c.cv")} AS cos
           FROM q CROSS JOIN c),
         top5 AS (
           SELECT * FROM (
             SELECT q_id, true_label, vec_id, label,
               row_number() OVER (PARTITION BY q_id ORDER BY round(cos, 6) DESC NULLS LAST, vec_id NULLS FIRST) AS rank
             FROM scored)
           WHERE rank <= 5),
         votes AS (
           SELECT q_id, true_label, label, count(*) AS votes FROM top5 GROUP BY 1, 2, 3)
         SELECT q_id, true_label, label AS pred_label, votes FROM (
           SELECT q_id, true_label, label, votes,
             row_number() OVER (PARTITION BY q_id ORDER BY votes DESC NULLS LAST, label NULLS FIRST) AS vr
           FROM votes)
         WHERE vr = 1
         ORDER BY q_id NULLS FIRST""",
    "knn_ann" ->
      s"""WITH wb AS (
           SELECT w, CAST(4 * ceil(nv / CAST(1 << w AS DOUBLE)) AS BIGINT) AS bkt_cap
           FROM (SELECT nv, $bandBitsCase AS w
                 FROM (SELECT count(*) AS nv FROM embeddings))),
         sig AS (
           SELECT vec_id, ${lshBandDuck(0)} AS s0, ${lshBandDuck(1)} AS s1
           FROM embeddings, wb),
         keyed AS (
           SELECT vec_id, 0 AS band, s0 % CAST(1 << w AS BIGINT) AS bucket
           FROM sig, wb
           UNION ALL
           SELECT vec_id, 1 AS band, s1 % CAST(1 << w AS BIGINT) AS bucket
           FROM sig, wb),
         ok AS (
           SELECT band, bucket
           FROM (SELECT band, bucket, count(*) AS n_bkt
                 FROM keyed GROUP BY 1, 2), wb
           WHERE n_bkt BETWEEN 2 AND bkt_cap),
         k2 AS (SELECT k.* FROM keyed k JOIN ok USING (band, bucket)),
         cand AS (
           SELECT DISTINCT q.vec_id AS q_id, c.vec_id
           FROM k2 q JOIN k2 c
             ON q.band = c.band AND q.bucket = c.bucket
           WHERE q.vec_id < 20 AND c.vec_id >= 20),
         scored AS (
           SELECT cand.q_id, qe.label AS true_label, cand.vec_id, ce.label,
             ${cosSql("qe.embedding", "ce.embedding")} AS cos
           FROM cand
           JOIN embeddings qe ON qe.vec_id = cand.q_id
           JOIN embeddings ce ON ce.vec_id = cand.vec_id),
         top5 AS (
           SELECT * FROM (
             SELECT q_id, true_label, vec_id, label,
               row_number() OVER (PARTITION BY q_id ORDER BY round(cos, 6) DESC NULLS LAST, vec_id NULLS FIRST) AS rank
             FROM scored)
           WHERE rank <= 5),
         votes AS (
           SELECT q_id, true_label, label, count(*) AS votes FROM top5 GROUP BY 1, 2, 3)
         SELECT q_id, true_label, label AS pred_label, votes FROM (
           SELECT q_id, true_label, label, votes,
             row_number() OVER (PARTITION BY q_id ORDER BY votes DESC NULLS LAST, label NULLS FIRST) AS vr
           FROM votes)
         WHERE vr = 1
         ORDER BY q_id NULLS FIRST""",
    "sim_ann_lsh" ->
      s"""WITH sig AS (
           SELECT vec_id, embedding, $lshSigDuck AS sig FROM embeddings),
         q AS (SELECT vec_id AS q_id, sig AS q_sig, embedding AS qv
               FROM sig WHERE vec_id < 10),
         scored AS (
           SELECT q.q_id, c.vec_id, ${cosSql("q.qv", "c.embedding")} AS cos
           FROM q JOIN sig c ON c.sig = q.q_sig AND q.q_id != c.vec_id),
         ranked AS (
           SELECT q_id, vec_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY round(cos, 6) DESC NULLS LAST, vec_id NULLS FIRST) AS rank
           FROM scored)
         SELECT q_id, rank, vec_id, round(cos, 4) + 0.0 AS cos_sim
         FROM ranked WHERE rank <= 3
         ORDER BY q_id NULLS FIRST, rank NULLS FIRST""",
    "sim_ann_recall" ->
      s"""WITH sig AS (
           SELECT vec_id, embedding, $lshSigDuck AS sig FROM embeddings),
         q AS (SELECT vec_id AS q_id, sig AS q_sig, embedding AS qv
               FROM sig WHERE vec_id < 10),
         exact AS (
           SELECT q_id, vec_id FROM (
             SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY round(cos, 6) DESC NULLS LAST, vec_id NULLS FIRST) AS rank
             FROM (SELECT q.q_id, c.vec_id,
                     ${cosSql("q.qv", "c.embedding")} AS cos
                   FROM q JOIN sig c ON q.q_id != c.vec_id))
           WHERE rank <= 3),
         ann AS (
           SELECT q_id, vec_id FROM (
             SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY round(cos, 6) DESC NULLS LAST, vec_id NULLS FIRST) AS rank
             FROM (SELECT q.q_id, c.vec_id,
                     ${cosSql("q.qv", "c.embedding")} AS cos
                   FROM q JOIN sig c
                     ON c.sig = q.q_sig AND q.q_id != c.vec_id))
           WHERE rank <= 3)
         SELECT e.q_id, count(*) AS n_exact,
           CAST(sum(CASE WHEN a.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_hit,
           ${ratio4Duck("sum(CASE WHEN a.vec_id IS NULL THEN 0 ELSE 1 END)",
                        "count(*)")} AS recall
         FROM exact e LEFT JOIN ann a
           ON e.q_id = a.q_id AND e.vec_id = a.vec_id
         GROUP BY 1 ORDER BY e.q_id NULLS FIRST""",
    "mine_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv, label AS q_label
                     FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT q.q_id, c.vec_id, c.label,
             ${cosSql("q.qv", "c.embedding")} AS cos
           FROM q JOIN embeddings c
             ON q.q_id != c.vec_id AND c.label != q.q_label),
         ranked AS (
           SELECT q_id, vec_id, label, cos,
             row_number() OVER (PARTITION BY q_id
               ORDER BY round(cos, 6) DESC NULLS LAST, vec_id NULLS FIRST) AS rank
           FROM scored)
         SELECT q_id, rank, vec_id, label AS neg_label,
           round(cos, 4) + 0.0 AS cos_sim
         FROM ranked WHERE rank <= 3
         ORDER BY q_id NULLS FIRST, rank NULLS FIRST""",
    "sim_threshold_sweep" ->
      s"""WITH sig AS (
           SELECT vec_id, embedding, $lshSigDuck AS sig FROM embeddings),
         p AS (
           SELECT round(${cosSql("x.embedding", "y.embedding")}, 6) AS c6
           FROM sig x JOIN sig y ON x.sig = y.sig AND x.vec_id < y.vec_id),
         t AS (SELECT CAST(unnest([0.30, 0.35, 0.40, 0.45]) AS DOUBLE) AS threshold)
         SELECT threshold,
           CAST(sum(CASE WHEN c6 >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
         FROM p CROSS JOIN t
         GROUP BY 1 ORDER BY threshold NULLS FIRST""",
    "vec_dim_stats" ->
      """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         x AS (SELECT i - 1 AS pos, CAST(round(v[i] * 1000000, 0) AS BIGINT) AS su
               FROM (SELECT v, unnest(range(1, len(v) + 1)) AS i FROM e)),
         a AS (SELECT pos, count(*) AS n, sum(su) AS sv, sum(su * su) AS svv,
                 min(su) AS mn, max(su) AS mx
               FROM x GROUP BY 1)
         SELECT CAST(pos AS BIGINT) AS dim, CAST(n AS BIGINT) AS n_vecs,
           CAST((2 * sv + CASE WHEN sv >= 0 THEN n ELSE -n END) // (2 * n) AS DOUBLE) / 1000000.0 AS mean,
           round(sqrt((CAST(svv AS DOUBLE)
                       - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
                      / (CAST(n AS DOUBLE) - 1.0)) / 1000000.0, 6) AS sd,
           CAST(mn AS DOUBLE) / 1000000.0 AS min_v,
           CAST(mx AS DOUBLE) / 1000000.0 AS max_v
         FROM a ORDER BY dim NULLS FIRST""",
    "vec_outlier" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         x AS (SELECT i - 1 AS pos, CAST(round(v[i] * 1000000, 0) AS BIGINT) AS su
               FROM (SELECT v, unnest(range(1, len(v) + 1)) AS i FROM e)),
         cm AS (SELECT pos, CAST((2 * sum(su) + CASE WHEN sum(su) >= 0 THEN count(*) ELSE -count(*) END) // (2 * count(*)) AS DOUBLE) / 1000000.0 AS m
                FROM x GROUP BY 1),
         cent AS (SELECT list(m ORDER BY pos NULLS FIRST) AS cvec FROM cm),
         vv AS (SELECT vec_id,
                  round(${dSql("v", "v")}
                        - 2.0 * ${dSql("v", "cvec")}
                        + ${dSql("cvec", "cvec")}, 4) AS d2
                FROM e CROSS JOIN cent),
         m2 AS (
           SELECT count(*) AS n,
             sum(CAST(d2 AS DECIMAL(18,4))) AS sv,
             sum(CAST(round(CAST(d2 AS DECIMAL(18,4))
                            * CAST(d2 AS DECIMAL(18,4)), 4)
                      AS DECIMAL(30,4))) AS svv
           FROM vv),
         st AS (
           SELECT CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             sqrt((CAST(svv AS DOUBLE)
                   - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
                  / (CAST(n AS DOUBLE) - 1.0)) AS sd
           FROM m2)
         SELECT vec_id, d2 + 0.0 AS dist2,
           round((d2 - mean) / sd, 4) + 0.0 AS z,
           abs((d2 - mean) / sd) > 2.0 AS is_outlier
         FROM vv CROSS JOIN st
         ORDER BY vec_id NULLS FIRST""",
    "dedup_embed" ->
      s"""WITH wb AS (
           SELECT w, CAST(4 * ceil(nv / CAST(1 << w AS DOUBLE)) AS BIGINT) AS bkt_cap
           FROM (SELECT nv, $bandBitsCase AS w
                 FROM (SELECT count(*) AS nv FROM embeddings))),
         sig AS (
           SELECT vec_id, ${lshBandDuck(0)} AS s0, ${lshBandDuck(1)} AS s1
           FROM embeddings, wb),
         keyed AS (
           SELECT vec_id, 0 AS band, s0 % CAST(1 << w AS BIGINT) AS bucket
           FROM sig, wb
           UNION ALL
           SELECT vec_id, 1 AS band, s1 % CAST(1 << w AS BIGINT) AS bucket
           FROM sig, wb),
         ok AS (
           SELECT band, bucket
           FROM (SELECT band, bucket, count(*) AS n_bkt
                 FROM keyed GROUP BY 1, 2), wb
           WHERE n_bkt BETWEEN 2 AND bkt_cap),
         k2 AS (SELECT k.* FROM keyed k JOIN ok USING (band, bucket)),
         cand AS (
           SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
           FROM k2 x JOIN k2 y
             ON x.band = y.band AND x.bucket = y.bucket
              AND x.vec_id < y.vec_id),
         pairs AS (
           SELECT cand.a, cand.b,
             ${cosSql("x.embedding", "y.embedding")} AS cos
           FROM cand
           JOIN embeddings x ON x.vec_id = cand.a
           JOIN embeddings y ON y.vec_id = cand.b),
         ranked AS (
           SELECT a, b, cos,
             row_number() OVER (ORDER BY round(cos, 6) DESC NULLS LAST, a NULLS FIRST, b NULLS FIRST) AS rank
           FROM pairs)
         SELECT rank, a, b, round(cos, 4) + 0.0 AS cos_sim
         FROM ranked WHERE rank <= 20
         ORDER BY rank NULLS FIRST""",
    "vec_pca_power" -> {
      // one textual block per iteration (the graph_pagerank unroll):
      // rows → per-row dot t → fixed-point contributions → exact sums →
      // renormalized list, each double op written exactly as the Spark
      // side computes it (L2R list folds, CAST-then-divide)
      def iter(k: Int, prev: String): String =
        s"""r$k AS (SELECT cx, list_sum(list_transform(range(1, 65),
                      i -> cx[i] * $prev.vv[i])) AS t
                    FROM cxr, $prev),
            c$k AS (SELECT i, sum(CAST(round(cx[i] * t * 1000000, 0) AS BIGINT)) AS sw
                    FROM r$k, range(1, 65) r(i) GROUP BY i),
            w$k AS (SELECT list(CAST(sw AS DOUBLE) / 1000000.0 ORDER BY i NULLS FIRST) AS w FROM c$k),
            n$k AS (SELECT w, sqrt(list_sum(list_transform(w, x -> x * x))) AS nrm FROM w$k),
            v$k AS (SELECT list_transform(w, x -> x / nrm) AS vv FROM n$k)"""
      s"""WITH e AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x
                     FROM embeddings),
          mu0 AS (SELECT i,
                    CAST((2 * sum(CAST(round(x[i] * 1000000, 0) AS BIGINT))
                            + CASE WHEN sum(CAST(round(x[i] * 1000000, 0) AS BIGINT)) >= 0
                                   THEN count(*) ELSE -count(*) END)
                           // (2 * count(*)) AS DOUBLE) / 1000000.0 AS m
                  FROM e, range(1, 65) r(i) GROUP BY i),
          mu AS (SELECT list(m ORDER BY i NULLS FIRST) AS mu FROM mu0),
          v0 AS (SELECT list_transform(range(1, 65), i -> 1.0 / sqrt(64.0)) AS vv),
          cxr AS (SELECT list_transform(range(1, 65), i -> e.x[i] - mu.mu[i]) AS cx
                  FROM e, mu),
          ${iter(1, "v0")},
          ${iter(2, "v1")},
          ${iter(3, "v2")}
          SELECT CAST(i - 1 AS BIGINT) AS pos, round(vv[i], 4) AS loading
          FROM v3, range(1, 65) r(i)
          WHERE (SELECT count(*) FROM e) > 0
          ORDER BY pos NULLS FIRST"""
    },
    "vec_norm_stats" ->
      s"""WITH n AS (
           SELECT label,
             CAST(round(sqrt(${dSql("embedding", "embedding")}), 6)
                  AS DECIMAL(18,6)) AS nr
           FROM embeddings)
         SELECT label, count(*) AS n_vecs,
           round(CAST(sum(nr) AS DOUBLE) / count(*), 4) AS mean_norm,
           round(CAST(min(nr) AS DOUBLE), 4) AS min_norm,
           round(CAST(max(nr) AS DOUBLE), 4) AS max_norm
         FROM n GROUP BY 1 ORDER BY label NULLS FIRST"""
  )
}
